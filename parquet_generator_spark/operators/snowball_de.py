"""German snowball stemmer (the canonical snowballstem.org `german`
algorithm, ES/Lucene's ``german`` stemmer filter) as a plan-time
Python twin plus a portable-SQL generator — the porter.py pattern
ported to a region-based (R1/R2) snowball language.

Design (one cheap pass per token, same posture as porter.py):

- R1/R2 are POSITIONS computed ONCE from a marked CV skeleton and
  carried as integers beside the word — every later region test is
  ``len(w) - n + 1 >= r``, no re-derivation after deletions (the
  snowball cursors p1/p2 are likewise fixed positions).
- The skeleton marks the algorithm's prelude rule "u/y between
  vowels are consonants" with replace passes over a 3-symbol
  alphabet (true-vowel ``a``, u/y ``u``, consonant ``b``):
  ``auua -> abba`` then ``aua -> aba`` (three alternating rounds),
  then remaining ``u -> a``. Exact for every cluster German
  vocabulary contains (single u/y between plain vowels and the
  symmetric double); a u/y whose marking context is ITSELF a u/y
  vowel in a >= 3-run stays unmarked — no German token has one
  (the porter.py y-run posture, documented not silent).
- Suffix selection follows snowball `among` semantics under a
  region limit: the longest textual suffix WHOSE SPAN LIES IN THE
  REGION wins (a longer suffix outside the region falls through to
  a shorter one inside it — unlike porter.c's no-fallback groups),
  then the arm's extra conditions (s/st endings) decide with no
  further fallback. Rendered as one CASE per step with
  ends+in-region in the WHEN.

Steps (german.sbl standard_suffix): 1) declensional em/ern/er,
e/en/es (+ the niss undouble), s after a valid s-ending — all R1;
2) en/er/est, st after a valid st-ending with >= 3 letters before
it — R1; 3) derivational end/ung (+ig), ig/ik/isch (not after e),
lich/heit (+er/en), keit (+lich/ig) — R2/R1 as per the spec.
Prelude replaces ß -> ss before region computation; postlude folds
ä/ö/ü -> a/o/u.

The SQL subset (CASE/right/substr/length/instr/translate/replace/
greatest/IN, struct binding) evaluates identically in Spark SQL and
DuckDB; parity is pinned three ways in tests/test_snowball_de.py
(reference vectors + Hypothesis).
"""

from __future__ import annotations

from parquet_generator_spark.operators.stem_sql import (
    Frag,
    chain,
    let,
    quote_list,
    struct,
)

_TRUE_VOWELS = "aeioäöü"   # u/y handled by the marking pass
_S_ENDING = "bdfghklmnrt"
_ST_ENDING = "bdfghklmnt"
_MARK_ROUNDS = 3


def _mark_skeleton(w: str) -> str:
    """CV skeleton with the prelude's u/y-between-vowels marking
    resolved (a=vowel, b=consonant)."""
    s = "".join("a" if ch in _TRUE_VOWELS
                else ("u" if ch in "uy" else "b") for ch in w)
    for _ in range(_MARK_ROUNDS):
        s = s.replace("auua", "abba").replace("aua", "aba")
    return s.replace("u", "a")


def _regions(w: str) -> tuple[int, int]:
    """(r1, r2) as 1-based region START positions over the
    ß-replaced word; len+1 = empty region. German adjusts R1 to
    start at least 3 letters in."""
    m = _mark_skeleton(w)
    n = len(w)
    p1 = m.find("ab") + 1            # 0 = not found
    if p1 == 0:
        return n + 1, n + 1
    r1raw = p1 + 2
    r1 = max(r1raw, 4)
    q = m[r1raw - 1:].find("ab") + 1
    r2 = n + 1 if q == 0 else r1raw + q + 1
    return r1, r2


def german_stem(word: str) -> str:
    """Plan-time Python twin of :func:`german_stem_sql` (identical
    step structure, skeleton chain, and region arithmetic)."""
    w = word.replace("ß", "ss")
    r1, r2 = _regions(w)

    def in_r1(n: int) -> bool:
        return len(w) - n + 1 >= r1

    def in_r2(n: int) -> bool:
        return len(w) - n + 1 >= r2

    # ---- step 1 (R1): em/ern/er | e/en/es (+niss) | s
    if w.endswith("ern") and in_r1(3):
        w = w[:-3]
    elif w.endswith("em") and in_r1(2):
        w = w[:-2]
    elif w.endswith("er") and in_r1(2):
        w = w[:-2]
    elif w.endswith("en") and in_r1(2):
        w = w[:-3] if w.endswith("nissen") else w[:-2]
    elif w.endswith("es") and in_r1(2):
        w = w[:-3] if w.endswith("nisses") else w[:-2]
    elif w.endswith("e") and in_r1(1):
        w = w[:-2] if w.endswith("nisse") else w[:-1]
    elif (w.endswith("s") and in_r1(1) and len(w) >= 2
          and w[-2] in _S_ENDING):
        w = w[:-1]

    # ---- step 2 (R1): est | en/er | st (valid ending, >= 3 before)
    if w.endswith("est") and in_r1(3):
        w = w[:-3]
    elif w.endswith("en") and in_r1(2):
        w = w[:-2]
    elif w.endswith("er") and in_r1(2):
        w = w[:-2]
    elif (w.endswith("st") and in_r1(2) and len(w) >= 6
          and w[-3] in _ST_ENDING):
        w = w[:-2]

    # ---- step 3 (R2/R1): derivational suffixes
    if w.endswith("isch") and in_r2(4) and w[-5:-4] != "e":
        w = w[:-4]
    elif w.endswith(("lich", "heit")) and in_r2(4):
        w = w[:-4]
        if w.endswith(("er", "en")) and in_r1(2):
            w = w[:-2]
    elif w.endswith("keit") and in_r2(4):
        w = w[:-4]
        if w.endswith("lich") and in_r2(4):
            w = w[:-4]
        elif w.endswith("ig") and in_r2(2):
            w = w[:-2]
    elif w.endswith(("end", "ung")) and in_r2(3):
        w = w[:-3]
        if (w.endswith("ig") and in_r2(2)
                and w[-3:-2] != "e"):
            w = w[:-2]
    elif (w.endswith(("ig", "ik")) and in_r2(2)
          and w[-3:-2] != "e"):
        w = w[:-2]

    # ---- postlude: fold umlauts
    return (w.replace("ä", "a").replace("ö", "o")
            .replace("ü", "u"))


# ------------------------------------------------------------------
# portable-SQL generator
# ------------------------------------------------------------------

def _skeleton_sql(ref: str) -> str:
    s = (f"translate({ref}, '{_TRUE_VOWELS}', "
         f"'{'a' * len(_TRUE_VOWELS)}')")
    s = f"translate({s}, 'uy', 'uu')"
    cons = "bcdfghjklmnpqrstvwxz0123456789"
    s = f"translate({s}, '{cons}', '{'b' * len(cons)}')"
    for _ in range(_MARK_ROUNDS):
        s = (f"replace(replace({s}, 'auua', 'abba'), "
             f"'aua', 'aba')")
    return f"translate({s}, 'u', 'a')"


class _Frag(Frag):
    """Fragments over a bound (w, r1, r2) struct variable."""

    FIELDS = ("w", "r1", "r2")


def german_stem_sql(ref: str, engine: str) -> str:
    """Render the full stemmer over the (lowercase) token expression
    ``ref`` for ``engine`` in {'spark', 'duck'} — three let-bound
    steps over a carried (w, r1, r2) struct (the porter.py depth
    posture: one binding per step keeps DuckDB's binder happy)."""

    def s1(x: _Frag) -> str:
        niss = []
        for suf in ("en", "es", "e"):
            niss.append(
                f"WHEN {x.ends(suf)} AND {x.in_r1(len(suf))} THEN "
                f"(CASE WHEN {x.ends('niss' + suf)} "
                f"THEN {x.cut(len(suf) + 1)} "
                f"ELSE {x.cut(len(suf))} END)")
        s_arm = (f"WHEN {x.ends('s')} AND {x.in_r1(1)} AND "
                 f"{x.prev_char(1)} IN ({quote_list(_S_ENDING)}) "
                 f"THEN {x.cut(1)}")
        return (f"CASE "
                f"WHEN {x.ends('ern')} AND {x.in_r1(3)} "
                f"THEN {x.cut(3)} "
                f"WHEN {x.ends('em')} AND {x.in_r1(2)} "
                f"THEN {x.cut(2)} "
                f"WHEN {x.ends('er')} AND {x.in_r1(2)} "
                f"THEN {x.cut(2)} "
                f"{niss[0]} {niss[1]} {niss[2]} {s_arm} "
                f"ELSE {x.keep()} END")

    def s2(x: _Frag) -> str:
        st_arm = (f"WHEN {x.ends('st')} AND {x.in_r1(2)} AND "
                  f"{x.ln} >= 6 AND {x.prev_char(2)} IN "
                  f"({quote_list(_ST_ENDING)}) THEN {x.cut(2)}")
        return (f"CASE "
                f"WHEN {x.ends('est')} AND {x.in_r1(3)} "
                f"THEN {x.cut(3)} "
                f"WHEN {x.ends('en')} AND {x.in_r1(2)} "
                f"THEN {x.cut(2)} "
                f"WHEN {x.ends('er')} AND {x.in_r1(2)} "
                f"THEN {x.cut(2)} "
                f"{st_arm} ELSE {x.keep()} END")

    def s3(x: _Frag) -> str:
        # post-deletion follow-ups render against the CUT image:
        # e.g. 'lich' arm: word ends 'erlich' <=> cut image ends 'er'
        lich_heit = []
        for suf in ("lich", "heit"):
            arms = []
            for pre in ("er", "en"):
                arms.append(
                    f"WHEN {x.ends(pre + suf)} AND "
                    f"{x.in_r1(len(pre + suf))} "
                    f"THEN {x.cut(len(pre + suf))}")
            lich_heit.append(
                f"WHEN {x.ends(suf)} AND {x.in_r2(4)} THEN "
                f"(CASE {' '.join(arms)} ELSE {x.cut(4)} END)")
        keit = (
            f"WHEN {x.ends('keit')} AND {x.in_r2(4)} THEN "
            f"(CASE WHEN {x.ends('lichkeit')} AND {x.in_r2(8)} "
            f"THEN {x.cut(8)} "
            f"WHEN {x.ends('igkeit')} AND {x.in_r2(6)} "
            f"THEN {x.cut(6)} "
            f"ELSE {x.cut(4)} END)")
        end_ung = []
        for suf in ("end", "ung"):
            end_ung.append(
                f"WHEN {x.ends(suf)} AND {x.in_r2(3)} THEN "
                f"(CASE WHEN {x.ends('ig' + suf)} AND "
                f"{x.in_r2(len(suf) + 2)} AND "
                f"{x.prev_char(len(suf) + 2)} <> 'e' "
                f"THEN {x.cut(len(suf) + 2)} "
                f"ELSE {x.cut(3)} END)")
        ig_ik = []
        for suf in ("ig", "ik"):
            ig_ik.append(
                f"WHEN {x.ends(suf)} AND {x.in_r2(2)} AND "
                f"{x.prev_char(2)} <> 'e' THEN {x.cut(2)}")
        isch = (f"WHEN {x.ends('isch')} AND {x.in_r2(4)} AND "
                f"{x.prev_char(4)} <> 'e' THEN {x.cut(4)}")
        return ("CASE " + isch + " " + " ".join(lich_heit) + " "
                + keit + " " + " ".join(end_ung) + " "
                + " ".join(ig_ik) + f" ELSE {x.keep()} END")

    # binding chain: g0 = ß-replaced word; g1 = (word, skeleton);
    # x0 = (word, r1, r2); then one binding per step
    p1 = "instr(g1.m, 'ab')"
    q = f"instr(substr(g1.m, {p1} + 2), 'ab')"
    seed = struct(
        engine, w="g1.w",
        r1=f"CASE WHEN {p1} = 0 THEN length(g1.w) + 1 "
           f"ELSE greatest({p1} + 2, 4) END",
        r2=f"CASE WHEN {p1} = 0 OR {q} = 0 THEN length(g1.w) + 1 "
           f"ELSE {p1} + 2 + {q} + 1 END")
    body = chain(engine, _Frag, seed, [s1, s2, s3],
                 "translate(x3.w, 'äöü', 'aou')")
    body = let(engine, struct(engine, w="g0", m=_skeleton_sql("g0")),
               "g1", body)
    return let(engine, f"replace({ref}, 'ß', 'ss')", "g0", body)
