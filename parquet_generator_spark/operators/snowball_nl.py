"""Dutch snowball stemmer (the canonical snowballstem.org `dutch`
algorithm, ES/Lucene's ``dutch`` stemmer filter) as a plan-time
Python twin plus a portable-SQL generator — language nine of the
analyzer registry (VERDICT r11 next-round #6).

Design (the snowball_fr.py posture — Dutch also needs a CARRIED
skeleton, because its steps test letter CLASS at back-offsets after
earlier cuts and the prelude marking changes the answer):

- Prelude: umlauts/acutes fold to plain vowels ON THE WORD
  (ä ë ï ö ü á é í ó ú -> a e i o u a e i o u; è is a real Dutch
  vowel and stays); then initial ``y``, ``y`` after a vowel and
  ``i`` between vowels are marked CONSONANTS (dutch.sbl's Y/I
  uppercasing, carried here as skeleton class only — the word text
  never changes case, so the postlude is a no-op). Marking uses
  replace passes over a 4-symbol alphabet (a / i / y / b) in three
  rounds, mirroring the left-to-right cursor (a marked letter stops
  being a vowel for later neighbor tests); >= 3-run clusters of
  i/y fall back to unmarked — the documented snowball_fr.py
  approximation posture.
- R1/R2 from the marked skeleton, computed ONCE and carried; R1 is
  adjusted so at least 3 letters precede it (dutch.sbl's
  ``$p1 < 3 -> $p1 = 3``); R2 continues from the UNADJUSTED scan.
- Step 1 among (longest textual, arm failure ends the step):
  ``heden -> heid`` (R1); ``en/ene`` delete (R1 + valid en-ending:
  preceding char a non-vowel and the remainder not ending ``gem``)
  then undouble (kk/dd/tt lose a letter); ``s/se`` delete (R1 +
  valid s-ending: a non-vowel other than j).
- Step 2: final ``e`` in R1 preceded by a non-vowel is deleted,
  then undouble; sets the ``e``-found flag step 3b's ``bar`` reads.
- Step 3a: ``heid`` in R2 not preceded by c is deleted, then a now-
  final ``en`` is treated as in step 1.
- Step 3b among: ``end/ing`` delete (R2) then a revealed ``ig`` in
  R2 not preceded by e is deleted, otherwise undouble; ``ig``
  delete (R2, not preceded by e); ``lijk`` delete (R2) then repeat
  step 2; ``baar`` delete (R2); ``bar`` delete (R2, only if step 2
  removed an e).
- Step 4 (undouble vowel): CVD with V in {aa, ee, oo, uu}, C a
  non-vowel, D a non-vowel other than marked I -> one V is dropped
  (brood -> brod).

The SQL subset (CASE/right/substr/length/instr/translate/replace/
IN, struct binding) evaluates identically in Spark SQL and DuckDB;
parity is pinned three ways in tests/test_snowball_nl.py
(hand-traced vectors + Hypothesis).
"""

from __future__ import annotations

from parquet_generator_spark.operators.stem_sql import (
    Frag,
    chain,
    let,
    struct,
)

# true vowels (i and y go through the marking pass)
_TRUE_VOWELS = "aeouè"
_DEACCENT_FROM = "äëïöüáéíóú"
_DEACCENT_TO = "aeiouaeiou"
_MARK_ROUNDS = 3

# marking patterns over the 4-symbol alphabet {a, i, y, b}: i
# between vowel-class letters and y after a vowel-class letter
# become consonants (left-to-right: a marked letter stops being a
# vowel for later tests)
_MARK_PATTERNS = (
    [(left + "i" + right, left + "b" + right)
     for left in "aiy" for right in "aiy"]
    + [(left + "y", left + "b") for left in "aiy"]
)


def _deaccent(w: str) -> str:
    return w.translate(str.maketrans(_DEACCENT_FROM, _DEACCENT_TO))


def _mark_skeleton(w: str) -> str:
    """Marked CV skeleton (a=vowel, b=consonant) of a lowercase
    DE-ACCENTED token."""
    s = "".join(
        "a" if ch in _TRUE_VOWELS
        else ("i" if ch == "i" else
              ("y" if ch == "y" else "b"))
        for ch in w)
    if s.startswith("y"):
        s = "b" + s[1:]
    for _ in range(_MARK_ROUNDS):
        for pat, rep in _MARK_PATTERNS:
            s = s.replace(pat, rep)
    return s.replace("i", "a").replace("y", "a")


def _regions(c: str) -> tuple[int, int]:
    """(r1, r2) as 1-based region starts; len+1 = empty. R1 gets
    the minimum-3-letter-prefix adjustment; R2 scans on from the
    UNADJUSTED R1 (dutch.sbl order)."""
    n = len(c)
    p1 = c.find("ab") + 1
    if p1 == 0:
        return n + 1, n + 1
    r1_raw = p1 + 2
    q = c[r1_raw - 1:].find("ab") + 1
    r2 = n + 1 if q == 0 else r1_raw + q + 1
    r1 = max(r1_raw, 4) if r1_raw <= n else r1_raw
    return r1, r2


# skeleton of the fixed step-1 replacement (the i in 'heid' sits
# between e and d — a plain vowel)
_HEID_CV = "baab"


def dutch_stem(word: str) -> str:
    """Plan-time Python twin of :func:`dutch_stem_sql` (identical
    step structure, marking chain and region arithmetic)."""
    w = _deaccent(word)
    c = _mark_skeleton(w)
    r1, r2 = _regions(c)

    def pos(k: int) -> int:
        return len(w) - k + 1

    def in_r1(k: int) -> bool:
        return pos(k) >= r1

    def in_r2(k: int) -> bool:
        return pos(k) >= r2

    def cut(k: int, rep: str = "", repc: str = "") -> None:
        nonlocal w, c
        w = w[:len(w) - k] + rep
        c = c[:len(c) - k] + repc

    def undouble() -> None:
        if w.endswith(("kk", "dd", "tt")):
            cut(1)

    def valid_s(k: int) -> bool:
        i = len(w) - k - 1
        return i >= 0 and c[i] == "b" and w[i] != "j"

    def valid_en(k: int) -> bool:
        i = len(w) - k - 1
        return (i >= 0 and c[i] == "b"
                and not w[:len(w) - k].endswith("gem"))

    # ---- step 1 (longest textual; arm failure ends the step) ----
    if w.endswith("heden"):
        if in_r1(5):
            cut(5, "heid", _HEID_CV)
    elif w.endswith("ene"):
        if in_r1(3) and valid_en(3):
            cut(3)
            undouble()
    elif w.endswith("en"):
        if in_r1(2) and valid_en(2):
            cut(2)
            undouble()
    elif w.endswith("se"):
        if in_r1(2) and valid_s(2):
            cut(2)
    elif w.endswith("s"):
        if in_r1(1) and valid_s(1):
            cut(1)

    # ---- step 2: final e after a non-vowel ----------------------
    e_found = False
    if (w.endswith("e") and in_r1(1) and len(w) >= 2
            and c[len(w) - 2] == "b"):
        cut(1)
        undouble()
        e_found = True

    # ---- step 3a: heid, then a revealed en ----------------------
    if (w.endswith("heid") and in_r2(4)
            and not (len(w) >= 5 and w[len(w) - 5] == "c")):
        cut(4)
        if w.endswith("en") and in_r1(2) and valid_en(2):
            cut(2)
            undouble()

    # ---- step 3b (d-suffixes, longest textual) ------------------
    if w.endswith("baar"):
        if in_r2(4):
            cut(4)
    elif w.endswith("lijk"):
        if in_r2(4):
            cut(4)
            # repeat step 2 (flag not re-read afterwards)
            if (w.endswith("e") and in_r1(1) and len(w) >= 2
                    and c[len(w) - 2] == "b"):
                cut(1)
                undouble()
    elif w.endswith("end") or w.endswith("ing"):
        if in_r2(3):
            cut(3)
            if (w.endswith("ig") and in_r2(2)
                    and not (len(w) >= 3 and w[len(w) - 3] == "e")):
                cut(2)
            else:
                undouble()
    elif w.endswith("bar"):
        if in_r2(3) and e_found:
            cut(3)
    elif w.endswith("ig"):
        if (in_r2(2)
                and not (len(w) >= 3 and w[len(w) - 3] == "e")):
            cut(2)

    # ---- step 4: undouble vowel (CVD, V in aa/ee/oo/uu) ---------
    if (len(w) >= 4 and c[-4] == "b"
            and w[-3] == w[-2] and w[-3] in "aeou"
            and c[-1] == "b" and w[-1] != "i"):
        w = w[:-2] + w[-1]
        c = c[:-2] + c[-1]
    return w


# ------------------------------------------------------------------
# portable-SQL generator
# ------------------------------------------------------------------

class _Frag(Frag):
    """Fragments over a bound (w, c, r1, r2, e) struct."""

    FIELDS = ("w", "c", "r1", "r2", "e")

    @staticmethod
    def cv(app: str) -> str:
        return {"heid": _HEID_CV}[app]

    def prev_cls_b(self, n: int) -> str:
        """Skeleton class of the char before the last n is 'b'."""
        return (f"({self.ln} - {n} >= 1 AND "
                f"substr({self.c}, {self.ln} - {n}, 1) = 'b')")

    def valid_s(self, n: int) -> str:
        return (f"({self.prev_cls_b(n)} AND "
                f"{self.prev_char(n)} <> 'j')")

    def valid_en(self, n: int) -> str:
        gem = (f"({self.ln} - {n} >= 3 AND "
               f"substr({self.w}, {self.ln} - {n} - 2, 3) = 'gem')")
        return f"({self.prev_cls_b(n)} AND NOT {gem})"

    def undoubled(self, e: str | None = None) -> str:
        """Struct with a kk/dd/tt tail undoubled."""
        hit = f"right({self.w}, 2) IN ('kk', 'dd', 'tt')"
        return (f"CASE WHEN {hit} THEN {self.cut(1, e=e)} "
                f"ELSE {self.st(e=e)} END")


def _cut_then_undouble(x: _Frag, n: int, var: str,
                       e: str | None = None) -> str:
    """cut(n) then undouble, via a let-bound intermediate."""
    y = _Frag(x.engine, var)
    return let(x.engine, x.cut(n, e=e), var, y.undoubled(e=e))


def _s1_sql(x: _Frag) -> str:
    arms = [
        ("heden", f"CASE WHEN {x.in_r1(5)} "
                  f"THEN {x.cut(5, 'heid')} "
                  f"ELSE {x.keep()} END"),
        ("ene", f"CASE WHEN {x.in_r1(3)} AND {x.valid_en(3)} "
                f"THEN {_cut_then_undouble(x, 3, 'u1')} "
                f"ELSE {x.keep()} END"),
        ("en", f"CASE WHEN {x.in_r1(2)} AND {x.valid_en(2)} "
               f"THEN {_cut_then_undouble(x, 2, 'u2')} "
               f"ELSE {x.keep()} END"),
        ("se", f"CASE WHEN {x.in_r1(2)} AND {x.valid_s(2)} "
               f"THEN {x.cut(2)} ELSE {x.keep()} END"),
        ("s", f"CASE WHEN {x.in_r1(1)} AND {x.valid_s(1)} "
              f"THEN {x.cut(1)} ELSE {x.keep()} END"),
    ]
    whens = " ".join(f"WHEN {x.ends(s)} THEN ({arm})"
                     for s, arm in arms)
    return f"CASE {whens} ELSE {x.keep()} END"


def _s2_sql(x: _Frag) -> str:
    return (f"CASE WHEN {x.ends('e')} AND {x.in_r1(1)} AND "
            f"{x.prev_cls_b(1)} "
            f"THEN {_cut_then_undouble(x, 1, 'u3', e='1')} "
            f"ELSE {x.st(e='0')} END")


def _s3a_sql(x: _Frag) -> str:
    y = _Frag(x.engine, "h1")
    after = (f"CASE WHEN {y.ends('en')} AND {y.in_r1(2)} AND "
             f"{y.valid_en(2)} "
             f"THEN {_cut_then_undouble(y, 2, 'u4')} "
             f"ELSE {y.keep()} END")
    not_c = (f"NOT ({x.ln} >= 5 AND "
             f"{x.prev_char(4)} = 'c')")
    return (f"CASE WHEN {x.ends('heid')} AND {x.in_r2(4)} AND "
            f"{not_c} THEN {let(x.engine, x.cut(4), 'h1', after)} "
            f"ELSE {x.keep()} END")


def _s3b_sql(x: _Frag) -> str:
    # lijk: delete then repeat step 2
    y = _Frag(x.engine, "l1")
    lijk_after = (f"CASE WHEN {y.ends('e')} AND {y.in_r1(1)} AND "
                  f"{y.prev_cls_b(1)} "
                  f"THEN {_cut_then_undouble(y, 1, 'u5')} "
                  f"ELSE {y.keep()} END")
    # end/ing: delete then a revealed ig (R2, not after e), else
    # undouble
    z = _Frag(x.engine, "n1")
    not_e_z = (f"NOT ({z.ln} >= 3 AND {z.prev_char(2)} = 'e')")
    ending_after = (f"CASE WHEN {z.ends('ig')} AND {z.in_r2(2)} "
                    f"AND {not_e_z} THEN {z.cut(2)} "
                    f"ELSE {z.undoubled()} END")
    not_e_x = f"NOT ({x.ln} >= 3 AND {x.prev_char(2)} = 'e')"
    arms = [
        ("baar", f"CASE WHEN {x.in_r2(4)} THEN {x.cut(4)} "
                 f"ELSE {x.keep()} END"),
        ("lijk", f"CASE WHEN {x.in_r2(4)} "
                 f"THEN {let(x.engine, x.cut(4), 'l1', lijk_after)} "
                 f"ELSE {x.keep()} END"),
        ("end", f"CASE WHEN {x.in_r2(3)} "
                f"THEN {let(x.engine, x.cut(3), 'n1', ending_after)} "
                f"ELSE {x.keep()} END"),
        ("ing", f"CASE WHEN {x.in_r2(3)} "
                f"THEN {let(x.engine, x.cut(3), 'n1', ending_after)} "
                f"ELSE {x.keep()} END"),
        ("bar", f"CASE WHEN {x.in_r2(3)} AND {x.e} = '1' "
                f"THEN {x.cut(3)} ELSE {x.keep()} END"),
        ("ig", f"CASE WHEN {x.in_r2(2)} AND {not_e_x} "
               f"THEN {x.cut(2)} ELSE {x.keep()} END"),
    ]
    whens = " ".join(f"WHEN {x.ends(s)} THEN ({arm})"
                     for s, arm in arms)
    return f"CASE {whens} ELSE {x.keep()} END"


def _s4_sql(x: _Frag) -> str:
    dd = (f"substr({x.w}, {x.ln} - 2, 1) = "
          f"substr({x.w}, {x.ln} - 1, 1)")
    cond = (f"{x.ln} >= 4 AND "
            f"substr({x.c}, {x.ln} - 3, 1) = 'b' AND {dd} AND "
            f"substr({x.w}, {x.ln} - 2, 1) IN ('a','e','o','u') AND "
            f"substr({x.c}, {x.ln}, 1) = 'b' AND "
            f"right({x.w}, 1) <> 'i'")
    w = (f"substr({x.w}, 1, {x.ln} - 2) || right({x.w}, 1)")
    c = (f"substr({x.c}, 1, {x.ln} - 2) || right({x.c}, 1)")
    return f"CASE WHEN {cond} THEN {x.st(w=w, c=c)} ELSE {x.keep()} END"


def dutch_stem_sql(ref: str, engine: str) -> str:
    """Render the stemmer over the (lowercase) token expression
    ``ref`` for ``engine`` in {'spark', 'duck'} — let-bound steps
    over a carried (w, c, r1, r2, e) struct."""
    deacc = (f"translate(g0, '{_DEACCENT_FROM}', "
             f"'{_DEACCENT_TO}')")
    # raw classes over the 4-symbol alphabet
    cons = "".join(ch for ch in "bcdfghjklmnpqrstvwxz0123456789"
                   if ch not in _TRUE_VOWELS)
    k = (f"translate(translate(w0, '{_TRUE_VOWELS}', "
         f"'{'a' * len(_TRUE_VOWELS)}'), '{cons}', "
         f"'{'b' * len(cons)}')")
    # initial y -> consonant
    k = (f"CASE WHEN substr({k}, 1, 1) = 'y' "
         f"THEN 'b' || substr({k}, 2) ELSE {k} END")
    marked = "k0"
    for _ in range(_MARK_ROUNDS):
        for pat, rep in _MARK_PATTERNS:
            marked = f"replace({marked}, '{pat}', '{rep}')"
    marked = (f"replace(replace({marked}, 'i', 'a'), 'y', 'a')")

    ln = "length(g1.w)"
    p1 = "instr(g1.c, 'ab')"
    r1_raw = f"CASE WHEN {p1} = 0 THEN {ln} + 1 ELSE {p1} + 2 END"
    r1 = (f"CASE WHEN {p1} = 0 THEN {ln} + 1 "
          f"WHEN {p1} + 2 > {ln} THEN {p1} + 2 "
          f"ELSE greatest({p1} + 2, 4) END")
    q = f"instr(substr(g1.c, ({r1_raw})), 'ab')"
    r2 = (f"CASE WHEN {p1} = 0 OR {q} = 0 THEN {ln} + 1 "
          f"ELSE ({r1_raw}) + {q} + 1 END")
    seed = struct(engine, w="g1.w", c="g1.c", r1=r1, r2=r2, e="'0'")
    body = chain(engine, _Frag, seed,
                 [_s1_sql, _s2_sql, _s3a_sql, _s3b_sql, _s4_sql],
                 "x5.w")
    body = let(engine, struct(engine, w="w0", c=marked), "g1", body)
    body = let(engine, k, "k0", body)
    body = let(engine, deacc, "w0", body)
    return let(engine, ref, "g0", body)
