"""Porter stemmer (Porter 1980, the canonical tartarus/Lucene rule
set) as a plan-time Python twin plus a portable-SQL generator — the
S-stemmer pattern (operators/analyzers.py) ported to the full
algorithm, so ``analyzer: "english_porter"`` matches ES's
``porter_stem`` filter on the plural/verb-form vocabulary the
S-stemmer misses (running->run, relational->relate, ...).

Design (what keeps it ONE cheap pass per token):

- The measure/vowel/cvc conditions all read the word's CV SKELETON
  (vowels marked ``a``, consonants ``b``), and the skeleton of a
  PREFIX is a prefix of the skeleton (y's status depends only on
  preceding chars). Every Porter step only truncates or appends a
  fixed y-free suffix, so the skeleton is computed ONCE per token
  (a short translate/replace chain — no regex) and then carried
  alongside the word
  as a (w, c) struct through let-style bindings — all later tests
  are substr/instr on the carried skeleton, no re-derivation.
- m > 0  <=>  'ab' occurs in the stem's skeleton;
  m > 1  <=>  'ab' occurs again after the first occurrence — both
  plain instr, no regex at test time.
- y-as-vowel (y after a consonant) resolves with three alternating
  ``ay->ab`` / ``by->ba`` passes: exact for runs of up to 6
  consecutive y's (no English token exceeds 2); the Python twin
  runs the IDENTICAL chain, so three-way parity holds on all
  inputs by construction.
- Suffix matching is first-match-wins in porter.c's within-group
  order (a matched suffix whose measure condition fails ends the
  step — no fallback to a shorter suffix), flattened into one CASE:
  sound because all same-step suffixes sharing a word share their
  penultimate letter group.

The SQL subset used (CASE/right/substr/length/||/IN/instr/
translate/replace, single-element list/array binding, struct field
access in lambdas) evaluates
identically in Spark SQL and DuckDB; parity is pinned three ways in
tests/test_porter.py (paper vectors + Hypothesis).
"""

from __future__ import annotations

from parquet_generator_spark.operators.stem_sql import (
    Frag,
    chain,
    let,
    quote_list,
    struct,
)

# vowels -> a; everything else except y -> b; then resolve y
# (consonant at word start, vowel after consonant, consonant after
# vowel) with three alternating replace passes. Implemented with
# translate/replace, NOT regex — an order of magnitude cheaper per
# token in both engines, and str.replace / SQL replace share the
# same global leftmost non-overlapping semantics.
_CV_VOWELS = "eiou"                       # a maps to itself
_CV_CONS = "bcdfghjklmnpqrstvwxz0123456789"
_Y_ROUNDS = 3                             # exact for y-runs <= 6

_TRANS_V = str.maketrans(_CV_VOWELS, "a" * len(_CV_VOWELS))
_TRANS_C = str.maketrans(_CV_CONS, "b" * len(_CV_CONS))


def cv_form(word: str) -> str:
    s = word.translate(_TRANS_V).translate(_TRANS_C)
    if s.startswith("y"):
        s = "b" + s[1:]
    for _ in range(_Y_ROUNDS):
        s = s.replace("ay", "ab").replace("by", "ba")
    return s


def _cvof(suffix: str) -> str:
    """Skeleton of a fixed y-free replacement suffix (checked once,
    below the suffix tables)."""
    return "".join("a" if ch in "aeiou" else "b" for ch in suffix)


# (suffix, replacement) in porter.c order (first textual match wins,
# then the measure condition decides; no fallback)
_STEP2 = [
    ("ational", "ate"), ("tional", "tion"), ("enci", "ence"),
    ("anci", "ance"), ("izer", "ize"), ("bli", "ble"), ("alli", "al"),
    ("entli", "ent"), ("eli", "e"), ("ousli", "ous"),
    ("ization", "ize"), ("ation", "ate"), ("ator", "ate"),
    ("alism", "al"), ("iveness", "ive"), ("fulness", "ful"),
    ("ousness", "ous"), ("aliti", "al"), ("iviti", "ive"),
    ("biliti", "ble"), ("logi", "log"),
]
_STEP3 = [
    ("icate", "ic"), ("ative", ""), ("alize", "al"), ("iciti", "ic"),
    ("ical", "ic"), ("ful", ""), ("ness", ""),
]
_STEP4 = ["al", "ance", "ence", "er", "ic", "able", "ible", "ant",
          "ement", "ment", "ent", "ion", "ou", "ism", "ate", "iti",
          "ous", "ive", "ize"]

# _cvof reads each replacement without its neighbours, which is exact
# only without 'y' (a vowel or a consonant depending on its context)
_REPLACEMENTS = sorted({rep for _, rep in _STEP2 + _STEP3} | {"e", "i"})
if any("y" in rep for rep in _REPLACEMENTS):
    raise ValueError(f"porter: a replacement suffix holds 'y': "
                     f"{_REPLACEMENTS}")


def _m_gt0(cv: str) -> bool:
    return "ab" in cv


def _m_gt1(cv: str) -> bool:
    i = cv.find("ab")
    return i >= 0 and "ab" in cv[i + 2:]


def _cvc(w: str, cv: str) -> bool:
    return (len(w) >= 3 and cv[-3:] == "bab"
            and w[-1] not in "wxy")


def _doublec(w: str, cv: str) -> bool:
    # porter.c doublec(j): w[j] == w[j-1] AND cons(j) — the trailing
    # char's consonant status is CONTEXT-DEPENDENT for 'y' (a 'y'
    # after a consonant is a vowel, after a vowel a consonant), and
    # the carried skeleton already resolved it: read cv[-1] instead
    # of a fixed vowel set so consonant+'yy' counts as a true double
    # consonant exactly as ES/Lucene's porter_stem does.
    return len(w) >= 2 and w[-1] == w[-2] and cv[-1] == "b"


def porter_stem(word: str) -> str:
    """Plan-time Python twin of :func:`porter_stem_sql` (identical
    step structure and CV chain)."""
    if len(word) <= 2:
        return word
    w, c = word, cv_form(word)

    def cut(n: int, app: str = "") -> None:
        nonlocal w, c
        w = w[:len(w) - n] + app
        c = c[:len(c) - n] + _cvof(app)

    # step 1a
    if w.endswith("sses"):
        cut(2)
    elif w.endswith("ies"):
        cut(2)
    elif w.endswith("ss"):
        pass
    elif w.endswith("s"):
        cut(1)

    # step 1b (+ its post-pass after ed/ing removal)
    if w.endswith("eed"):
        if _m_gt0(c[:len(w) - 3]):
            cut(1)
    else:
        post = False
        if w.endswith("ed") and "a" in c[:len(w) - 2]:
            cut(2)
            post = True
        elif w.endswith("ing") and "a" in c[:len(w) - 3]:
            cut(3)
            post = True
        if post:
            if w.endswith(("at", "bl", "iz")):
                cut(0, "e")
            elif _doublec(w, c) and w[-1] not in "lsz":
                cut(1)
            elif (not _m_gt1(c)) and _m_gt0(c) and _cvc(w, c):
                cut(0, "e")

    # step 1c
    if w.endswith("y") and "a" in c[:len(w) - 1]:
        cut(1, "i")

    # steps 2 and 3
    for table in (_STEP2, _STEP3):
        for suf, rep in table:
            if w.endswith(suf):
                if _m_gt0(c[:len(w) - len(suf)]):
                    cut(len(suf), rep)
                break

    # step 4
    for suf in _STEP4:
        if w.endswith(suf):
            if suf == "ion" and w[-4:-3] not in ("s", "t"):
                continue  # porter.c falls through to the next suffix
            if _m_gt1(c[:len(w) - len(suf)]):
                cut(len(suf))
            break

    # step 5a
    if w.endswith("e"):
        stem_cv = c[:len(w) - 1]
        if _m_gt1(stem_cv) or (
                _m_gt0(stem_cv)
                and not _cvc(w[:-1], stem_cv)):
            cut(1)

    # step 5b
    if w.endswith("l") and _doublec(w, c) and _m_gt1(c):
        cut(1)
    return w


# ------------------------------------------------------------------
# portable-SQL generator
# ------------------------------------------------------------------

def _cv_sql(engine: str, ref: str) -> str:
    s = (f"translate({ref}, '{_CV_VOWELS}', "
         f"'{'a' * len(_CV_VOWELS)}')")
    s = f"translate({s}, '{_CV_CONS}', '{'b' * len(_CV_CONS)}')"
    s = (f"CASE WHEN left({s}, 1) = 'y' "
         f"THEN 'b' || substr({s}, 2) ELSE {s} END")
    for _ in range(_Y_ROUNDS):
        s = f"replace(replace({s}, 'ay', 'ab'), 'by', 'ba')"
    return s


class _Frag(Frag):
    """Fragments over a bound (w, c) struct variable."""

    FIELDS = ("w", "c")
    cv = staticmethod(_cvof)

    def stem_cv(self, n: int) -> str:
        """Skeleton of the word minus its last n chars."""
        return f"substr({self.c}, 1, {self.ln} - {n})"

    def m_gt0(self, n: int) -> str:
        return f"instr({self.stem_cv(n)}, 'ab') > 0"

    def m_gt1(self, n: int) -> str:
        s = self.stem_cv(n)
        return (f"instr(substr({s}, instr({s}, 'ab') + 2), 'ab') > 0")

    def has_vowel(self, n: int) -> str:
        return f"instr({self.stem_cv(n)}, 'a') > 0"

    def doublec(self) -> str:
        # consonant status of the last char comes from the carried
        # skeleton (context-dependent 'y' rule, mirrors _doublec)
        return (f"({self.ln} >= 2 AND right({self.w}, 1) = "
                f"substr({self.w}, {self.ln} - 1, 1) AND "
                f"right({self.c}, 1) = 'b')")

    def cvc(self, n: int) -> str:
        """c-v-c test at the end of the word minus n chars (final
        consonant not w/x/y)."""
        return (f"({self.ln} - {n} >= 3 AND "
                f"substr({self.c}, {self.ln} - {n} - 2, 3) = 'bab' "
                f"AND substr({self.w}, {self.ln} - {n}, 1) NOT IN "
                f"({quote_list('wxy')}))")


def porter_stem_sql(ref: str, engine: str) -> str:
    """Render the full stemmer over the (lowercase) token expression
    ``ref`` for ``engine`` in {'spark', 'duck'}.

    Eight let-bound steps, each a CASE over the carried (w, c)
    struct. (A deeper chain binding per-step edit specs was tried to
    shrink the expression and sent DuckDB's binder into the weeds —
    nesting DEPTH, not text size, is the hazard; this shape keeps
    depth at one binding per step.)"""
    def s1a(x: _Frag) -> str:
        return (f"CASE WHEN {x.ends('sses')} THEN {x.cut(2)} "
                f"WHEN {x.ends('ies')} THEN {x.cut(2)} "
                f"WHEN {x.ends('ss')} THEN {x.keep()} "
                f"WHEN {x.ends('s')} THEN {x.cut(1)} "
                f"ELSE {x.keep()} END")

    def s1b(x: _Frag) -> str:
        removed = (
            f"CASE WHEN {x.ends('eed')} THEN "
            f"(CASE WHEN {x.m_gt0(3)} THEN {x.cut(1)} "
            f"ELSE {x.keep()} END) "
            f"WHEN {x.ends('ed')} AND {x.has_vowel(2)} "
            f"THEN {x.cut(2)} "
            f"WHEN {x.ends('ing')} AND {x.has_vowel(3)} "
            f"THEN {x.cut(3)} "
            f"ELSE {x.keep()} END")
        did_post = (f"(NOT {x.ends('eed')} AND "
                    f"(({x.ends('ed')} AND {x.has_vowel(2)}) OR "
                    f"({x.ends('ing')} AND {x.has_vowel(3)})))")

        def post(r: _Frag) -> str:
            at_bl_iz = (f"right({r.w}, 2) IN "
                        f"({quote_list(['at', 'bl', 'iz'])})")
            dbl = (f"({r.doublec()} AND right({r.w}, 1) NOT IN "
                   f"({quote_list('lsz')}))")
            m_eq1 = f"({r.m_gt0(0)} AND NOT {r.m_gt1(0)})"
            return (f"CASE WHEN NOT {did_post} THEN {r.keep()} "
                    f"WHEN {at_bl_iz} THEN {r.cut(0, 'e')} "
                    f"WHEN {dbl} THEN {r.cut(1)} "
                    f"WHEN {m_eq1} AND {r.cvc(0)} "
                    f"THEN {r.cut(0, 'e')} "
                    f"ELSE {r.keep()} END")

        rv = f"{x.x}r"
        return let(x.engine, removed, rv, post(_Frag(x.engine, rv)))

    def s1c(x: _Frag) -> str:
        return (f"CASE WHEN {x.ends('y')} AND {x.has_vowel(1)} "
                f"THEN {x.cut(1, 'i')} ELSE {x.keep()} END")

    def rule_table(x: _Frag, table) -> str:
        whens = []
        for suf, rep in table:
            n = len(suf)
            whens.append(
                f"WHEN {x.ends(suf)} THEN "
                f"(CASE WHEN {x.m_gt0(n)} THEN {x.cut(n, rep)} "
                f"ELSE {x.keep()} END)")
        return "CASE " + " ".join(whens) + f" ELSE {x.keep()} END"

    def s2(x: _Frag) -> str:
        return rule_table(x, _STEP2)

    def s3(x: _Frag) -> str:
        return rule_table(x, _STEP3)

    def s4(x: _Frag) -> str:
        whens = []
        for suf in _STEP4:
            n = len(suf)
            cond = x.ends(suf)
            if suf == "ion":
                cond += (f" AND substr({x.w}, {x.ln} - 3, 1) IN "
                         f"({quote_list('st')})")
            whens.append(
                f"WHEN {cond} THEN "
                f"(CASE WHEN {x.m_gt1(n)} THEN {x.cut(n)} "
                f"ELSE {x.keep()} END)")
        return "CASE " + " ".join(whens) + f" ELSE {x.keep()} END"

    def s5a(x: _Frag) -> str:
        return (f"CASE WHEN {x.ends('e')} AND ({x.m_gt1(1)} OR "
                f"({x.m_gt0(1)} AND NOT {x.m_gt1(1)} "
                f"AND NOT {x.cvc(1)})) "
                f"THEN {x.cut(1)} ELSE {x.keep()} END")

    def s5b(x: _Frag) -> str:
        return (f"CASE WHEN {x.ends('l')} AND {x.doublec()} "
                f"AND {x.m_gt1(0)} THEN {x.cut(1)} "
                f"ELSE {x.keep()} END")

    # innermost-out let chain: x0 = (ref, cv(ref)); xi+1 = step(xi)
    seed = struct(engine, w=ref, c=_cv_sql(engine, ref))
    pipeline = chain(engine, _Frag, seed,
                     [s1a, s1b, s1c, s2, s3, s4, s5a, s5b], "x8.w")
    return (f"CASE WHEN length({ref}) <= 2 THEN {ref} "
            f"ELSE {pipeline} END")
