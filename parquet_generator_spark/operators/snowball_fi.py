"""Finnish snowball stemmer (the canonical snowballstem.org
`finnish` algorithm, ES/Lucene's ``finnish`` stemmer filter) as a
plan-time Python twin plus a portable-SQL generator — language
TWELVE of the analyzer registry and the hardest of the snowballs
(seven sequential suffix systems over R1/R2 with a carried
ending-removed flag and a five-rule tidy postlude).

Structure (finnish.sbl; every step verified suffix-by-suffix
against the canonical snowball 2.2 implementation in round 13):

- R1/R2 standard; NO RV, NO letter marking, NO prelude (finnish
  needs none — i/u/y are plain vowels throughout).
- Step 1 (particle): R1-limited among — kin/kaan/kään/ko/kö/han/
  hän/pa/pä delete when preceded by n, t or a vowel; sti deletes
  in R2. Conditions gate the MATCH (no shorter entry overlaps, so
  commit vs fallback is unobservable here).
- Step 2 (possessive): R1-limited — si (not after k), ni (after
  deleting, a trailing kse rewrites to ksi), nsa/nsä/mme/nne, an/än
  after their case-stem lists, en after lle/ine.
- Step 3 (case): R1-limited — harmony-matched hXn (han after a,
  hen after e, ...), siin/den/tten after Vi, seen after a LONG
  vowel, a/ä after consonant+vowel, tta/ttä after e, the plain
  case list, and n (which also eats the last vowel of a preceding
  LONG pair or 'ie'). Sets the ending_removed flag.
- Step 4 (other endings): R2-limited — mpi/mpa/mpä/mmi/mma/mmä
  unless after po; impi/.../eja/ejä unconditionally.
- Step 5 (plurals): with ending_removed a final i/j in R1 goes;
  otherwise a final t in R1 after a vowel goes, and a t-removal
  exposes the R2 imma/mma (not po) endings.
- Step 6 (tidy, all five IN SEQUENCE on the evolving word):
  (a) a final LONG pair in R1 loses its last letter; (b) a final
  a/ä/e/i preceded by a consonant, BOTH inside R1, goes (ö does
  NOT, canonical-probed); (c) final oj/uj lose the j; (d) final jo
  loses the o; (e) a trailing double consonant followed by zero or
  more vowels loses its second consonant (aatonaatto -> aatonaato).

The SQL subset (CASE/right/substr/length/instr/translate, struct
binding) evaluates identically in Spark SQL and DuckDB; parity is
pinned three ways in tests/test_snowball_fi.py (canonical vectors +
Hypothesis).
"""

from __future__ import annotations

from parquet_generator_spark.operators.stem_sql import (
    R1,
    R2,
    Frag,
    chain,
    let,
    quote_list,
    struct,
)

_VOWELS = "aeiouyäö"
_LONG = ("aa", "ee", "ii", "oo", "uu", "ää", "öö")

_P1_A = ("kin", "kaan", "kään", "ko", "kö", "han", "hän", "pa",
         "pä")
# harmony-matched hXn: NO u/y variants in the canonical among
# (puuhun/syyhyn only lose their n — canonical-probed), and a
# harmony mismatch BLOCKS the whole case step (the bare entry
# shadows 'n': bolokhin stays whole)
_HXN = {"han": "a", "hen": "e", "hin": "i", "hon": "o",
        "hän": "ä", "hön": "ö"}
_AN_STEMS = ("ta", "ssa", "sta", "lla", "lta", "na")
_AEN_STEMS = ("tä", "ssä", "stä", "llä", "ltä", "nä")
_CASE_PLAIN = ("ta", "tä", "ssa", "ssä", "sta", "stä", "lla",
               "llä", "lta", "ltä", "lle", "na", "nä", "ksi",
               "ine")
_S4_COND = ("mpi", "mpa", "mpä", "mmi", "mma", "mmä")
_S4_UNCOND = ("impi", "impa", "impä", "immi", "imma", "immä",
              "eja", "ejä")


def _regions(w: str) -> tuple[int, int]:
    """(r1, r2) as 1-based region starts; len+1 = empty."""
    n = len(w)
    c = "".join("a" if ch in _VOWELS else "b" for ch in w)
    p1 = c.find("ab") + 1
    if p1 == 0:
        return n + 1, n + 1
    r1 = p1 + 2
    q = c[r1 - 1:].find("ab") + 1
    r2 = n + 1 if q == 0 else r1 + q + 1
    return r1, r2


def finnish_stem(word: str) -> str:
    """Plan-time Python twin of :func:`finnish_stem_sql` (identical
    step structure and region arithmetic)."""
    w = word
    r1, r2 = _regions(w)

    def in_r1(k: int) -> bool:
        return len(w) - k + 1 >= r1

    def in_r2(k: int) -> bool:
        return len(w) - k + 1 >= r2

    def cut(k: int) -> None:
        nonlocal w
        w = w[:len(w) - k]

    def prev(k: int, depth: int = 1) -> str:
        """The ``depth`` chars just before the last k (may be '')."""
        i = len(w) - k
        return w[max(0, i - depth):i]

    # ---- step 1: particle etc (R1-limited; conditions are part
    # of the MATCH — a failed condition falls back to shorter
    # entries, canonical-probed) --------------------------------
    for s in sorted(_P1_A + ("sti",), key=len, reverse=True):
        n = len(s)
        if w.endswith(s) and in_r1(n):
            if s == "sti":
                if not in_r2(n):
                    continue
            else:
                p = prev(n)
                if not (p and (p in "nt" or p in _VOWELS)):
                    continue
            cut(n)
            break

    # ---- step 2: possessive (R1-limited; fallback conditions) ----
    for s in sorted(("si", "ni", "nsa", "nsä", "mme", "nne", "an",
                     "än", "en"), key=len, reverse=True):
        n = len(s)
        if w.endswith(s) and in_r1(n):
            if s == "si":
                if prev(n) == "k":
                    continue
                cut(n)
            elif s == "ni":
                cut(n)
                if w.endswith("kse"):
                    w = w[:-1] + "i"
            elif s == "an":
                if not (prev(n, 3)[-3:] in _AN_STEMS
                        or prev(n, 2) in _AN_STEMS):
                    continue
                cut(n)
            elif s == "än":
                if not (prev(n, 3)[-3:] in _AEN_STEMS
                        or prev(n, 2) in _AEN_STEMS):
                    continue
                cut(n)
            elif s == "en":
                if prev(n, 3) not in ("lle", "ine"):
                    continue
                cut(n)
            else:
                cut(n)
            break

    # ---- step 3: case endings (R1-limited; sets the flag) --------
    removed = False
    case = (sorted(_HXN, key=len, reverse=True)
            + ["siin", "seen", "tten", "den", "tta", "ttä"]
            + sorted(_CASE_PLAIN, key=len, reverse=True)
            + ["a", "ä", "n"])
    for s in sorted(dict.fromkeys(case), key=len, reverse=True):
        n = len(s)
        if w.endswith(s) and in_r1(n):
            if s in _HXN:
                if prev(n) != _HXN[s]:
                    break   # bare-entry shadow: commits, no flag
                cut(n)
            elif s in ("siin", "den", "tten"):
                p = prev(n, 2)
                if not (len(p) == 2 and p[1] == "i"
                        and p[0] in "aeiouäö"):
                    continue
                cut(n)
            elif s == "seen":
                if prev(n, 2) not in _LONG:
                    continue
                cut(n)
            elif s in ("a", "ä"):
                p = prev(n, 2)
                if not (len(p) == 2 and p[0] not in _VOWELS
                        and p[1] in _VOWELS):
                    continue
                cut(n)
            elif s in ("tta", "ttä"):
                if prev(n) != "e":
                    break   # bare-entry shadow: commits, no flag
                cut(n)
            elif s == "n":
                cut(n)
                if w[-2:] in _LONG or w.endswith("ie"):
                    cut(1)
            else:
                cut(n)
            removed = True
            break

    # ---- step 4: other endings (R2-limited) -----------------------
    for s in sorted(_S4_COND + _S4_UNCOND, key=len, reverse=True):
        n = len(s)
        if w.endswith(s) and in_r2(n):
            if s in _S4_COND and prev(n, 2) == "po":
                continue
            cut(n)
            break

    # ---- step 5: plurals ------------------------------------------
    if removed:
        if w and w[-1] in "ij" and in_r1(1):
            cut(1)
    else:
        if (w and w[-1] == "t" and in_r1(1)
                and len(w) >= 2 and w[-2] in _VOWELS):
            cut(1)
            for s in ("imma", "mma"):
                n = len(s)
                if w.endswith(s) and in_r2(n):
                    if s == "mma" and prev(n, 2) == "po":
                        break
                    cut(n)
                    break

    # ---- step 6: tidy (five rules IN SEQUENCE) --------------------
    # (a) final LONG pair in R1 loses its last letter
    if in_r1(2) and w[-2:] in _LONG:
        cut(1)
    # (b) final a/ä/e/i after a consonant, both inside R1
    if (in_r1(2) and len(w) >= 2 and w[-1] in "aäei"
            and w[-2] not in _VOWELS):
        cut(1)
    # (c) final oj / uj lose the j (pattern fully inside R1)
    if in_r1(2) and w.endswith(("oj", "uj")):
        cut(1)
    # (d) final jo loses the o (pattern fully inside R1)
    if in_r1(2) and w.endswith("jo"):
        cut(1)
    # (e) trailing double consonant + zero or more vowels loses its
    # second consonant (aatonaatto -> aatonaato)
    i = len(w)
    while i > 0 and w[i - 1] in _VOWELS:
        i -= 1
    if (i >= 2 and w[i - 1] not in _VOWELS
            and w[i - 2] == w[i - 1]):
        w = w[:i - 1] + w[i:]
    return w


# ------------------------------------------------------------------
# portable-SQL generator
# ------------------------------------------------------------------

class _Frag(Frag):
    """Fragments over a bound (w, r1, r2, f) struct; f = '1' once
    step 3 removed a case ending."""

    FIELDS = ("w", "r1", "r2", "f")

    def prev(self, n: int, depth: int = 1) -> str:
        """SQL for the ``depth`` chars just before the last n
        (shorter when the word is short — substr clamps)."""
        return (f"substr({self.w}, "
                f"greatest(1, {self.ln} - {n} - {depth - 1}), "
                f"least({depth}, {self.ln} - {n}))")


def _s1_sql(x: _Frag) -> str:
    whens = []
    for s in sorted(_P1_A + ("sti",), key=len, reverse=True):
        n = len(s)
        if s == "sti":
            cond = x.in_r2(n)
        else:
            cond = (f"({x.prev(n)} IN ('n', 't') OR "
                    f"{x.prev(n)} IN ({quote_list(_VOWELS)}))")
        whens.append(f"WHEN {x.ends(s)} AND {x.in_r1(n)} AND "
                     f"{cond} THEN {x.cut(n)}")
    return "CASE " + " ".join(whens) + f" ELSE {x.keep()} END"


def _s2_sql(x: _Frag) -> str:
    whens = []
    for s in sorted(("si", "ni", "nsa", "nsä", "mme", "nne", "an",
                     "än", "en"), key=len, reverse=True):
        n = len(s)
        conds = [x.ends(s), x.in_r1(n)]
        arm = x.cut(n)
        if s == "si":
            conds.append(f"{x.prev(n)} <> 'k'")
        elif s == "ni":
            cw = f"substr({x.w}, 1, {x.ln} - 2)"
            arm = x.st(
                w=f"CASE WHEN right({cw}, 3) = 'kse' THEN "
                  f"substr({cw}, 1, {x.ln} - 3) || 'i' "
                  f"ELSE {cw} END")
        elif s == "an":
            conds.append(f"(right({x.prev(n, 3)}, 3) IN "
                         f"({quote_list(_AN_STEMS)}) OR {x.prev(n, 2)} IN "
                         f"({quote_list(_AN_STEMS)}))")
        elif s == "än":
            conds.append(f"(right({x.prev(n, 3)}, 3) IN "
                         f"({quote_list(_AEN_STEMS)}) OR {x.prev(n, 2)} "
                         f"IN ({quote_list(_AEN_STEMS)}))")
        elif s == "en":
            conds.append(f"{x.prev(n, 3)} IN ('lle', 'ine')")
        whens.append(f"WHEN {' AND '.join(conds)} THEN ({arm})")
    return "CASE " + " ".join(whens) + f" ELSE {x.keep()} END"


def _s3_sql(x: _Frag) -> str:
    whens = []
    case = (sorted(_HXN, key=len, reverse=True)
            + ["siin", "seen", "tten", "den", "tta", "ttä"]
            + sorted(_CASE_PLAIN, key=len, reverse=True)
            + ["a", "ä", "n"])
    for s in sorted(dict.fromkeys(case), key=len, reverse=True):
        n = len(s)
        match = [x.ends(s), x.in_r1(n)]
        if s in _HXN:
            # bare-entry shadow: a harmony mismatch commits with
            # no flag (ELSE keep, not fallthrough)
            arm = (f"CASE WHEN {x.prev(n)} = '{_HXN[s]}' "
                   f"THEN {x.cut(n, f=chr(39) + '1' + chr(39))} "
                   f"ELSE {x.keep()} END")
        elif s in ("siin", "den", "tten"):
            p = x.prev(n, 2)
            match.append(
                f"(length({p}) = 2 AND right({p}, 1) = 'i' AND "
                f"left({p}, 1) IN ({quote_list('aeiouäö')}))")
            arm = x.cut(n, f="'1'")
        elif s == "seen":
            match.append(f"{x.prev(n, 2)} IN ({quote_list(_LONG)})")
            arm = x.cut(n, f="'1'")
        elif s in ("a", "ä"):
            p = x.prev(n, 2)
            match.append(
                f"(length({p}) = 2 AND "
                f"left({p}, 1) NOT IN ({quote_list(_VOWELS)}) AND "
                f"right({p}, 1) IN ({quote_list(_VOWELS)}))")
            arm = x.cut(n, f="'1'")
        elif s in ("tta", "ttä"):
            # bare-entry shadow like hXn
            arm = (f"CASE WHEN {x.prev(n)} = 'e' "
                   f"THEN {x.cut(n, f=chr(39) + '1' + chr(39))} "
                   f"ELSE {x.keep()} END")
        elif s == "n":
            cw = f"substr({x.w}, 1, {x.ln} - 1)"
            arm = x.st(
                w=f"CASE WHEN right({cw}, 2) IN ({quote_list(_LONG)}) "
                  f"OR right({cw}, 2) = 'ie' THEN "
                  f"substr({cw}, 1, {x.ln} - 2) ELSE {cw} END",
                f="'1'")
        else:
            arm = x.cut(n, f="'1'")
        whens.append(f"WHEN {' AND '.join(match)} THEN ({arm})")
    return "CASE " + " ".join(whens) + f" ELSE {x.keep()} END"


def _s4_sql(x: _Frag) -> str:
    whens = []
    for s in sorted(_S4_COND + _S4_UNCOND, key=len, reverse=True):
        n = len(s)
        match = [x.ends(s), x.in_r2(n)]
        if s in _S4_COND:
            match.append(f"{x.prev(n, 2)} <> 'po'")
        whens.append(f"WHEN {' AND '.join(match)} THEN {x.cut(n)}")
    return "CASE " + " ".join(whens) + f" ELSE {x.keep()} END"


def _s5_sql(engine: str, x: _Frag) -> str:
    # flag branch: final i/j in R1
    ij = (f"CASE WHEN right({x.w}, 1) IN ('i', 'j') AND "
          f"{x.in_r1(1)} THEN {x.cut(1)} ELSE {x.keep()} END")
    # no-flag branch: final t after a vowel in R1, then the R2
    # imma / mma (not po) endings over the t-less word
    y = _Frag(engine, "t5")
    mma = (f"CASE WHEN {y.ends('imma')} AND {y.in_r2(4)} "
           f"THEN {y.cut(4)} "
           f"WHEN {y.ends('mma')} AND {y.in_r2(3)} AND "
           f"{y.prev(3, 2)} <> 'po' THEN {y.cut(3)} "
           f"ELSE {y.keep()} END")
    tb = (f"CASE WHEN right({x.w}, 1) = 't' AND {x.in_r1(1)} AND "
          f"{x.ln} >= 2 AND substr({x.w}, {x.ln} - 1, 1) IN "
          f"({quote_list(_VOWELS)}) THEN "
          f"({let(engine, x.cut(1), 't5', mma)}) "
          f"ELSE {x.keep()} END")
    return f"CASE WHEN {x.f} = '1' THEN ({ij}) ELSE ({tb}) END"


def _s6_sql(engine: str, x: _Frag) -> str:
    # five tidy rules IN SEQUENCE, one let-bound stage each
    a = _Frag(engine, "u0")
    t6a = (f"CASE WHEN {a.in_r1(2)} AND right({a.w}, 2) IN "
           f"({quote_list(_LONG)}) THEN {a.cut(1)} ELSE {a.keep()} END")
    b = _Frag(engine, "u1")
    t6b = (f"CASE WHEN {b.in_r1(2)} AND {b.ln} >= 2 AND "
           f"right({b.w}, 1) IN ('a', 'ä', 'e', 'i') AND "
           f"substr({b.w}, {b.ln} - 1, 1) NOT IN "
           f"({quote_list(_VOWELS)}) THEN {b.cut(1)} ELSE {b.keep()} END")
    c = _Frag(engine, "u2")
    t6c = (f"CASE WHEN {c.in_r1(2)} AND right({c.w}, 2) IN "
           f"('oj', 'uj') THEN {c.cut(1)} ELSE {c.keep()} END")
    d = _Frag(engine, "u3")
    t6d = (f"CASE WHEN {d.in_r1(2)} AND right({d.w}, 2) = 'jo' "
           f"THEN {d.cut(1)} ELSE {d.keep()} END")
    # (e): k = trailing vowel run; undouble the consonant pair just
    # before it (aatonaatto -> aatonaato)
    e = _Frag(engine, "u4")
    cons = "bcdfghjklmnpqrstvwxz0123456789"
    skel = (f"translate(translate({e.w}, '{_VOWELS}', "
            f"'{'a' * len(_VOWELS)}'), '{cons}', "
            f"'{'b' * len(cons)}')")
    k = f"(instr(reverse({skel}) || 'b', 'b') - 1)"
    i = f"({e.ln} - {k})"   # 1-based pos of last non-vowel (0 if none)
    t6e = (f"CASE WHEN {i} >= 2 AND "
           f"substr({e.w}, {i}, 1) NOT IN ({quote_list(_VOWELS)}) AND "
           f"substr({e.w}, {i} - 1, 1) = substr({e.w}, {i}, 1) "
           f"THEN substr({e.w}, 1, {i} - 1) || "
           f"substr({e.w}, {i} + 1) ELSE {e.w} END")
    body = t6e
    for var, stage in (("u4", t6d), ("u3", t6c), ("u2", t6b),
                       ("u1", t6a)):
        body = let(engine, stage, var, body)
    return body   # references u0 free — the caller binds it


def finnish_stem_sql(ref: str, engine: str) -> str:
    """Render the full stemmer over the (lowercase) token expression
    ``ref`` for ``engine`` in {'spark', 'duck'} — let-bound steps
    over a carried (w, r1, r2, f) struct."""
    cons = "bcdfghjklmnpqrstvwxz0123456789"
    skel = (f"translate(translate(g0, '{_VOWELS}', "
            f"'{'a' * len(_VOWELS)}'), '{cons}', "
            f"'{'b' * len(cons)}')")
    steps = [_s1_sql, _s2_sql, _s3_sql, _s4_sql,
             lambda x: _s5_sql(engine, x)]
    last = _Frag(engine, f"x{len(steps)}")
    # step 6 operates on the final struct's word via the u0 binding
    # (_s6_sql builds over u0..u4 word stages)
    seed = struct(engine, w="g1.w", r1=R1, r2=R2, f="'0'")
    body = chain(engine, _Frag, seed, steps,
                 let(engine, last.keep(), "u0", _s6_sql(engine, last)))
    body = let(engine, struct(engine, w="g0", c=skel), "g1", body)
    return let(engine, ref, "g0", body)
