"""Italian snowball stemmer (the canonical snowballstem.org
`italian` algorithm, ES/Lucene's ``italian`` stemmer filter) as a
plan-time Python twin plus a portable-SQL generator — extending the
german/french/spanish trio (VERDICT r10 #3) with the fourth-largest
Lucene language analyzer a multilingual corpus hits.

Design (the snowball_fr.py posture — one cheap pass per token):

- Prelude part 1 folds acute accents onto grave (á->à ... ú->ù) in
  BOTH the word and the carried skeleton source — Italian text
  routinely carries é (perché) that the algorithm treats as è.
- The prelude marking (u after q, and u/i between vowels, become
  consonants) is resolved with the snowball_fr replace-pass scheme
  over a 4-symbol alphabet (true-vowel a, markable i/u as ``i``,
  q, consonant b), mirroring the sbl cursor's left-to-right
  semantics: a marked letter stops being a vowel for LATER
  neighbor tests, and the consumed right-context vowel cannot seed
  the next match within a pass. Alternating >=2-deep i/u-vowel
  chains (viviv) may over-mark relative to the sbl cursor — no
  Italian vocabulary exhibits them (documented, same fallback as
  the french module's >=3-run clusters).
- RV is the Spanish/Italian three-case rule; R1/R2 standard. All
  three computed ONCE from the marked skeleton and carried as
  positions; the skeleton is carried in lockstep for the two
  letter-class back-tests (step 3a's final and preceding ``i``
  must be UNMARKED — a marked I is a consonant and never matches
  the spec's lowercase ``i`` literal).
- Step 0 (attached pronouns): the pronoun is matched longest-first,
  then the preceding base (ando/endo -> delete pronoun, ar/er/ir
  -> replace pronoun with e) must lie in RV. Rendered as one CASE
  over COMBINED base+pronoun suffixes, longest-combined-first —
  EXACT vs the two-among original because no base ends with the
  extension any pronoun-pair (p1 suffix of p2) would need
  (exhaustively asserted in tests/test_snowball_it.py).
- Step 1 (standard suffixes): longest textual match, then the
  R1/R2/RV arm decides — arm failure ends the step (no fallback).
- Step 2 (verb suffixes) runs only when step 1 removed nothing
  (the ``d`` flag); its among is RV-LIMITED, so a longer suffix
  outside RV falls back to a shorter one inside it. The sbl
  ``Yamo`` entry (iamo with a marked i) carries the same delete
  action as ``iamo`` at the same length, so the lowercase-carried
  word matches it with no skeleton condition.
- Step 3a (residual vowel) always runs: delete a final
  a/e/i/o/à/è/ì/ò in RV, then a now-final unmarked i in RV.
- Step 3b always runs: final ch/gh -> c/g in RV.

The SQL subset (CASE/right/substr/length/instr/translate/replace/
IN, struct binding) evaluates identically in Spark SQL and DuckDB;
parity is pinned three ways in tests/test_snowball_it.py
(hand-traced reference vectors + Hypothesis).
"""

from __future__ import annotations

from parquet_generator_spark.operators.stem_sql import (
    R1,
    R2,
    RV3,
    Frag,
    chain,
    let,
    struct,
)

# true vowels (i and u handled by the marking pass; the acute forms
# are folded to grave BEFORE the skeleton is computed)
_TRUE_VOWELS = "aeoàèìòù"
_MARK_ROUNDS = 3

# marking patterns over the 4-symbol alphabet, applied in order
# inside each round: u-after-q (unconditional), then i/u between
# (still-)vowel letters
_MARK_PATTERNS = (
    [("qi", "qb")]
    + [(a + "i" + b, a + "b" + b) for a in "ai" for b in "ai"]
)


def _normalize(w: str) -> str:
    """Prelude part 1: acute -> grave."""
    return w.translate(str.maketrans("áéíóú", "àèìòù"))


def _mark_skeleton(w: str) -> str:
    """Marked CV skeleton (a=vowel, b=consonant) of a lowercase,
    accent-normalized token."""
    s = "".join(
        "a" if ch in _TRUE_VOWELS
        else ("i" if ch in "iu" else ("q" if ch == "q" else "b"))
        for ch in w)
    for _ in range(_MARK_ROUNDS):
        for pat, rep in _MARK_PATTERNS:
            s = s.replace(pat, rep)
    return s.replace("i", "a").replace("q", "b")


def _cvof(suffix: str) -> str:
    """Skeleton of a fixed replacement suffix (appended text is
    post-prelude, so plain letter class applies: an appended u/i/e
    is a vowel)."""
    return "".join("a" if ch in _TRUE_VOWELS + "iu" else "b"
                   for ch in suffix)


def _regions(w: str, c: str) -> tuple[int, int, int]:
    """(rv, r1, r2), 1-based region starts; len+1 = empty. RV per
    the Italian three-case rule (same rule as spanish)."""
    n = len(w)
    if n < 3:
        rv = n + 1
    elif c[1] == "b":
        # second letter a consonant: after the next following vowel
        j = c.find("a", 2)
        rv = n + 1 if j < 0 else j + 2
    elif c[0] == "a" and c[1] == "a":
        # first two letters vowels: after the next consonant
        j = c.find("b", 2)
        rv = n + 1 if j < 0 else j + 2
    else:
        rv = 4  # consonant-vowel start: after the third letter
    p1 = c.find("ab") + 1
    if p1 == 0:
        return rv, n + 1, n + 1
    r1 = p1 + 2
    q = c[r1 - 1:].find("ab") + 1
    r2 = n + 1 if q == 0 else r1 + q + 1
    return rv, r1, r2


# step 0: pronouns and the bases they may follow
_PRONOUNS = ["ci", "gli", "la", "le", "li", "lo", "mi", "ne", "si",
             "ti", "vi", "sene", "gliela", "gliele", "glieli",
             "glielo", "gliene", "mela", "mele", "meli", "melo",
             "mene", "tela", "tele", "teli", "telo", "tene",
             "cela", "cele", "celi", "celo", "cene",
             "vela", "vele", "veli", "velo", "vene"]
_BASES_DEL = ["ando", "endo"]   # gerund: delete the pronoun
_BASES_E = ["ar", "er", "ir"]   # infinitive: pronoun -> 'e'


def _step0_combos() -> list[tuple[str, int, bool]]:
    """(combined suffix, pronoun length, replace-with-e) for every
    base x pronoun, longest combined first. Exact vs the original's
    longest-PRONOUN-first matching: a divergence would need some
    pronoun p2 = (suffix of a base) + p1 with p1 a shorter pronoun,
    and no base ends with the needed extension (asserted
    exhaustively in tests)."""
    out = []
    for p in _PRONOUNS:
        for b in _BASES_DEL:
            out.append((b + p, len(p), False))
        for b in _BASES_E:
            out.append((b + p, len(p), True))
    return sorted(out, key=lambda t: len(t[0]), reverse=True)


_STEP0 = _step0_combos()

# step 1 groups
_S1_A = ["anza", "anze", "ico", "ici", "ica", "ice", "iche", "ichi",
         "ismo", "ismi", "abile", "abili", "ibile", "ibili",
         "ista", "iste", "isti", "istà", "istè", "istì",
         "oso", "osi", "osa", "ose", "mente", "atrice", "atrici",
         "ante", "anti"]
_S1_B = ["azione", "azioni", "atore", "atori"]
_S1_AMENTO = ["amento", "amenti", "imento", "imenti"]
_S1_IVO = ["ivo", "ivi", "iva", "ive"]
_S1_REST = ["logia", "logie", "uzione", "uzioni", "usione",
            "usioni", "enza", "enze", "amente", "ità"]

# step 2 verb suffixes (sbl's 'Yamo' folds into 'iamo': same length,
# same delete action, and the carried word is never case-marked)
_S2 = ["ammo", "ando", "ano", "are", "arono", "asse", "assero",
       "assi", "assimo", "ata", "ate", "ati", "ato", "ava",
       "avamo", "avano", "avate", "avi", "avo", "emmo", "enda",
       "ende", "endi", "endo", "erà", "erai", "eranno", "ere",
       "erebbe", "erebbero", "erei", "eremmo", "eremo", "ereste",
       "eresti", "erete", "erò", "erono", "essero", "ete", "eva",
       "evamo", "evano", "evate", "evi", "evo", "iamo", "immo",
       "irà", "irai", "iranno", "ire", "irebbe", "irebbero",
       "irei", "iremmo", "iremo", "ireste", "iresti", "irete",
       "irò", "irono", "isca", "iscano", "isce", "isci", "isco",
       "iscono", "issero", "ita", "ite", "iti", "ito", "iva",
       "ivamo", "ivano", "ivate", "ivi", "ivo", "ono", "uta",
       "ute", "uti", "uto", "ar", "ir"]

_S3A_PLAIN = ["a", "e", "o", "à", "è", "ì", "ò"]  # 'i' needs the
#                                                   unmarked guard


def italian_stem(word: str) -> str:
    """Plan-time Python twin of :func:`italian_stem_sql` (identical
    step structure, marking chain, and region arithmetic)."""
    w = _normalize(word)
    c = _mark_skeleton(w)
    rv, r1, r2 = _regions(w, c)

    def pos(n: int) -> int:
        return len(w) - n + 1

    def in_rv(n: int) -> bool:
        return pos(n) >= rv

    def in_r1(n: int) -> bool:
        return pos(n) >= r1

    def in_r2(n: int) -> bool:
        return pos(n) >= r2

    def cut(n: int, rep: str = "") -> None:
        nonlocal w, c
        w = w[:len(w) - n] + rep
        c = c[:len(c) - n] + _cvof(rep)

    # ---------------- step 0: attached pronouns -------------------
    for combo, plen, to_e in _STEP0:
        if w.endswith(combo) and in_rv(len(combo)):
            cut(plen, "e" if to_e else "")
            break

    # ---------------- step 1: standard suffixes -------------------
    def step1() -> bool:
        suf = None
        for s in sorted(_S1_A + _S1_B + _S1_AMENTO + _S1_IVO
                        + _S1_REST, key=len, reverse=True):
            if w.endswith(s):
                suf = s
                break
        if suf is None:
            return False
        n = len(suf)
        if suf in _S1_A:
            if not in_r2(n):
                return False
            cut(n)
        elif suf in _S1_B:
            if not in_r2(n):
                return False
            cut(n)
            if w.endswith("ic") and in_r2(2):
                cut(2)
        elif suf in ("logia", "logie"):
            if not in_r2(n):
                return False
            cut(n, "log")
        elif suf in ("uzione", "uzioni", "usione", "usioni"):
            if not in_r2(n):
                return False
            cut(n, "u")
        elif suf in ("enza", "enze"):
            if not in_r2(n):
                return False
            cut(n, "ente")
        elif suf in _S1_AMENTO:
            if not in_rv(n):
                return False
            cut(n)
        elif suf == "amente":
            if not in_r1(n):
                return False
            cut(n)
            # try-among, longest textual first (abil > iv/os/ic);
            # an arm's R2 failure changes nothing but keeps success
            if w.endswith("abil"):
                if in_r2(4):
                    cut(4)
            elif w.endswith("iv"):
                if in_r2(2):
                    cut(2)
                    if w.endswith("at") and in_r2(2):
                        cut(2)
            elif w.endswith(("os", "ic")) and in_r2(2):
                cut(2)
        elif suf == "ità":
            if not in_r2(n):
                return False
            cut(n)
            if w.endswith("abil"):
                if in_r2(4):
                    cut(4)
            elif w.endswith(("ic", "iv")) and in_r2(2):
                cut(2)
        else:  # ivo/ivi/iva/ive
            if not in_r2(n):
                return False
            cut(n)
            if w.endswith("at") and in_r2(2):
                cut(2)
                if w.endswith("ic") and in_r2(2):
                    cut(2)
        return True

    # -------- step 2: verb suffixes (RV-limited, fallback) --------
    def step2() -> bool:
        for s in sorted(_S2, key=len, reverse=True):
            n = len(s)
            if w.endswith(s) and in_rv(n):
                cut(n)
                return True
        return False

    if not step1():
        step2()

    # ---------- step 3a: residual vowel (always attempted) --------
    done3 = False
    if w and in_rv(1):
        last = w[-1]
        if last in _S3A_PLAIN or (last == "i" and c[-1] == "a"):
            cut(1)
            done3 = True
    if (done3 and w and w[-1] == "i" and c[-1] == "a"
            and in_rv(1)):
        cut(1)

    # ------------------- step 3b: ch/gh -> c/g --------------------
    if (w.endswith("ch") or w.endswith("gh")) and in_rv(2):
        cut(1)

    return w


# ------------------------------------------------------------------
# portable-SQL generator
# ------------------------------------------------------------------

def _skeleton_sql(ref: str) -> str:
    s = (f"translate({ref}, '{_TRUE_VOWELS}', "
         f"'{'a' * len(_TRUE_VOWELS)}')")
    s = f"translate({s}, 'u', 'i')"
    cons = "bcdfghjklmnprstvwxyz0123456789çñüï"
    s = f"translate({s}, '{cons}', '{'b' * len(cons)}')"
    for _ in range(_MARK_ROUNDS):
        for pat, rep in _MARK_PATTERNS:
            s = f"replace({s}, '{pat}', '{rep}')"
    return f"translate({s}, 'iq', 'ab')"


class _Frag(Frag):
    """Fragments over a bound (w, c, rv, r1, r2, d) struct."""

    FIELDS = ("w", "c", "rv", "r1", "r2", "d")
    CUT = {"d": "1"}
    cv = staticmethod(_cvof)


def _s0_sql(x: _Frag) -> str:
    whens = []
    for combo, plen, to_e in _STEP0:
        arm = x.cut(plen, "e" if to_e else "", d="0")
        whens.append(f"WHEN {x.ends(combo)} AND "
                     f"{x.in_rv(len(combo))} THEN {arm}")
    return "CASE " + " ".join(whens) + f" ELSE {x.st(d='0')} END"


def _s1_sql(x: _Frag) -> str:
    whens = []
    for s in sorted(_S1_A + _S1_B + _S1_AMENTO + _S1_IVO + _S1_REST,
                    key=len, reverse=True):
        n = len(s)
        if s in _S1_A:
            arm = (f"CASE WHEN {x.in_r2(n)} THEN {x.cut(n)} "
                   f"ELSE {x.keep()} END")
        elif s in _S1_B:
            arm = (f"CASE WHEN NOT {x.in_r2(n)} THEN {x.keep()} "
                   f"WHEN {x.ends('ic' + s)} AND {x.in_r2(n + 2)} "
                   f"THEN {x.cut(n + 2)} ELSE {x.cut(n)} END")
        elif s in ("logia", "logie"):
            arm = (f"CASE WHEN {x.in_r2(n)} THEN {x.cut(n, 'log')} "
                   f"ELSE {x.keep()} END")
        elif s in ("uzione", "uzioni", "usione", "usioni"):
            arm = (f"CASE WHEN {x.in_r2(n)} THEN {x.cut(n, 'u')} "
                   f"ELSE {x.keep()} END")
        elif s in ("enza", "enze"):
            arm = (f"CASE WHEN {x.in_r2(n)} THEN {x.cut(n, 'ente')} "
                   f"ELSE {x.keep()} END")
        elif s in _S1_AMENTO:
            arm = (f"CASE WHEN {x.in_rv(n)} THEN {x.cut(n)} "
                   f"ELSE {x.keep()} END")
        elif s == "amente":
            arm = (
                f"CASE WHEN NOT {x.in_r1(n)} THEN {x.keep()} "
                f"WHEN {x.ends('abil' + s)} AND {x.in_r2(n + 4)} "
                f"THEN {x.cut(n + 4)} "
                f"WHEN {x.ends('abil' + s)} THEN {x.cut(n)} "
                f"WHEN {x.ends('ativ' + s)} AND {x.in_r2(n + 2)} "
                f"AND {x.in_r2(n + 4)} THEN {x.cut(n + 4)} "
                f"WHEN {x.ends('iv' + s)} AND {x.in_r2(n + 2)} "
                f"THEN {x.cut(n + 2)} "
                f"WHEN ({x.ends('os' + s)} OR {x.ends('ic' + s)}) "
                f"AND {x.in_r2(n + 2)} THEN {x.cut(n + 2)} "
                f"ELSE {x.cut(n)} END")
        elif s == "ità":
            arm = (
                f"CASE WHEN NOT {x.in_r2(n)} THEN {x.keep()} "
                f"WHEN {x.ends('abil' + s)} AND {x.in_r2(n + 4)} "
                f"THEN {x.cut(n + 4)} "
                f"WHEN {x.ends('abil' + s)} THEN {x.cut(n)} "
                f"WHEN ({x.ends('ic' + s)} OR {x.ends('iv' + s)}) "
                f"AND {x.in_r2(n + 2)} THEN {x.cut(n + 2)} "
                f"ELSE {x.cut(n)} END")
        else:  # ivo/ivi/iva/ive
            arm = (
                f"CASE WHEN NOT {x.in_r2(n)} THEN {x.keep()} "
                f"WHEN {x.ends('icat' + s)} AND {x.in_r2(n + 2)} "
                f"AND {x.in_r2(n + 4)} THEN {x.cut(n + 4)} "
                f"WHEN {x.ends('at' + s)} AND {x.in_r2(n + 2)} "
                f"THEN {x.cut(n + 2)} "
                f"ELSE {x.cut(n)} END")
        whens.append(f"WHEN {x.ends(s)} THEN ({arm})")
    return "CASE " + " ".join(whens) + f" ELSE {x.keep()} END"


def _s2_sql(x: _Frag) -> str:
    whens = []
    for s in sorted(_S2, key=len, reverse=True):
        whens.append(f"WHEN {x.ends(s)} AND {x.in_rv(len(s))} "
                     f"THEN {x.cut(len(s))}")
    return (f"CASE WHEN {x.d} = 1 THEN {x.keep()} "
            + " ".join(whens) + f" ELSE {x.keep()} END")


def _s3a_sql(x: _Frag) -> str:
    # second deletion: the char now final after cut(1) must be an
    # UNMARKED i itself in RV (position ln-1 >= rv)
    prev_i = (f"substr({x.w}, {x.ln} - 1, 1) = 'i' AND "
              f"substr({x.c}, {x.ln} - 1, 1) = 'a' AND "
              f"{x.prev_in_rv(1)}")
    inner = (f"CASE WHEN {prev_i} THEN {x.cut(2)} "
             f"ELSE {x.cut(1)} END")
    whens = []
    for v in _S3A_PLAIN:
        whens.append(f"WHEN {x.ends(v)} AND {x.in_rv(1)} "
                     f"THEN ({inner})")
    whens.append(f"WHEN {x.ends('i')} AND right({x.c}, 1) = 'a' "
                 f"AND {x.in_rv(1)} THEN ({inner})")
    return "CASE " + " ".join(whens) + f" ELSE {x.keep()} END"


def _s3b_sql(x: _Frag) -> str:
    return (f"CASE WHEN ({x.ends('ch')} OR {x.ends('gh')}) "
            f"AND {x.in_rv(2)} THEN {x.cut(1)} "
            f"ELSE {x.keep()} END")


def italian_stem_sql(ref: str, engine: str) -> str:
    """Render the full stemmer over the (lowercase) token expression
    ``ref`` for ``engine`` in {'spark', 'duck'} — let-bound steps
    over a carried (w, c, rv, r1, r2, d) struct."""
    seed = struct(engine, w="g1.w", c="g1.c", rv=RV3, r1=R1, r2=R2,
                  d="0")
    body = chain(engine, _Frag, seed,
                 [_s0_sql, _s1_sql, _s2_sql, _s3a_sql, _s3b_sql],
                 "x5.w")
    body = let(engine, struct(engine, w="g0", c=_skeleton_sql("g0")),
               "g1", body)
    norm = f"translate({ref}, 'áéíóú', 'àèìòù')"
    return let(engine, norm, "g0", body)
