"""French snowball stemmer (the canonical snowballstem.org `french`
algorithm, ES/Lucene's ``french`` stemmer filter) as a plan-time
Python twin plus a portable-SQL generator — the porter.py /
snowball_de.py pattern on the largest of the three region systems
(RV + R1 + R2, conditional step sequencing, replacement suffixes).

Design (same posture as the siblings — one cheap pass per token):

- RV/R1/R2 are POSITIONS computed ONCE from a marked CV skeleton
  and carried as integers; the skeleton string itself is ALSO
  carried (truncated/appended in lockstep with the word) because
  French tests letter CLASS at arbitrary back-offsets ("preceded by
  a non-vowel", the step-4 s-guard, un_accent's trailing-consonant
  scan) where the prelude marking changes the answer.
- The prelude marks i/u between vowels, y next to a vowel, and u
  after q as CONSONANTS. Resolved with replace passes over a
  5-symbol alphabet (true-vowel a, i/u as ``i``, y, q, consonant b)
  mirroring the spec's left-to-right marking: a marked letter stops
  being a vowel for LATER neighbor tests (``aii -> abi``, exactly
  the sbl cursor behavior). Exact for every cluster French
  vocabulary contains; >= 3-run vowel clusters of i/u/y fall back
  to unmarked (the porter.py y-run posture, documented not silent).
- Step sequencing follows french.sbl: standard_suffix OR
  i_verb_suffix OR verb_suffix, then the Y/ç fix-up on success or
  residual_suffix on failure, then un_double and un_accent always.
  "Success" is carried as a ``d`` flag in the struct (every
  successful snowball arm here changes the word).
- among() semantics are rendered faithfully: step 1 matches the
  longest TEXTUAL suffix first and a failed arm condition ends the
  step (no fallback); the RV-LIMITED amongs (steps 2a/2b, residual)
  fall back to shorter suffixes when a longer one exceeds the
  region, because the limit constrains matching itself — arm
  conditions still end the step on failure.

The SQL subset (CASE/right/substr/length/instr/reverse/translate/
replace/IN, struct binding) evaluates identically in Spark SQL and
DuckDB; parity is pinned three ways in tests/test_snowball_fr.py
(reference vectors + Hypothesis).
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

# true vowels (i, u, y handled by the marking pass)
_TRUE_VOWELS = "aeoâàëéêèïîôûù"
_MARK_ROUNDS = 3

# marking patterns over the 6-symbol alphabet, applied in order
# inside each round: u-after-q, i/u between vowel letters (left
# neighbor loses vowel-hood once marked -> sbl's left-to-right
# cursor), then y adjacent to a vowel letter. The diaeresis marker
# H (symbol h) counts as VOWEL context on the RIGHT only: in the
# original word the position held ë/ï, so a preceding i/u/y sees a
# vowel (gyë -> gYHe marks the y), but the inserted letters are
# never re-examined (aïa -> aHia leaves the i of Hi unmarked, the
# sbl cursor-moves-past behavior).
_MARK_PATTERNS = (
    [("qi", "qb")]
    + [(a + "i" + b, a + "b" + b) for a in "aiy" for b in "aiyh"]
    + [("ay", "ab"), ("iy", "ib"),
       ("ya", "ba"), ("yi", "bi"), ("yh", "bh")]
)


def _mark_skeleton(w: str) -> str:
    """Marked CV skeleton (a=vowel, b=consonant) of a lowercase
    token."""
    s = "".join(
        "a" if ch in _TRUE_VOWELS
        else ("i" if ch in "iu" else
              ("y" if ch == "y" else
               ("q" if ch == "q" else
                ("h" if ch == "H" else "b"))))
        for ch in w)
    for _ in range(_MARK_ROUNDS):
        for pat, rep in _MARK_PATTERNS:
            s = s.replace(pat, rep)
    return (s.replace("i", "a").replace("y", "a")
            .replace("q", "b").replace("h", "b"))


def _cvof(suffix: str) -> str:
    """Skeleton of a fixed UNMARKED replacement suffix (appended
    text is post-prelude, so plain letter class applies). The 'u'
    appended by iqU stays a consonant — callers pass its skeleton
    explicitly."""
    return "".join("a" if ch in _TRUE_VOWELS + "iuy" else "b"
                   for ch in suffix)


# replacement -> carried skeleton (iqU's U is a marked consonant)
_REP_CV = {"iqu": "abb"}


def _rep_cv(rep: str) -> str:
    return _REP_CV.get(rep, _cvof(rep))


def _regions(w: str, c: str) -> tuple[int, int, int]:
    """(rv, r1, r2) as 1-based region starts; len+1 = empty."""
    n = len(w)
    if n >= 3 and (c[:2] == "aa" or w[:3] in ("par", "col", "tap")):
        rv = 4
    else:
        j = c.find("a", 1)  # first vowel not at the beginning
        rv = n + 1 if j < 0 else j + 2
    p1 = c.find("ab") + 1
    if p1 == 0:
        return rv, n + 1, n + 1
    r1 = p1 + 2
    q = c[r1 - 1:].find("ab") + 1
    r2 = n + 1 if q == 0 else r1 + q + 1
    return rv, r1, r2


# ---- step tables (suffix, arm) — matched longest-textual-first ----

_S1_A = ["ance", "ique", "isme", "able", "iste", "eux",
         "ances", "iques", "ismes", "ables", "istes"]
_S1_B = ["atrice", "ateur", "ation", "atrices", "ateurs", "ations"]
_S2A = ["îmes", "ît", "îtes", "i", "ie", "ies", "ir", "ira", "irai",
        "iraient", "irais", "irait", "iras", "irent", "irez",
        "iriez", "irions", "irons", "iront", "is", "issaient",
        "issais", "issait", "issant", "issante", "issantes",
        "issants", "isse", "issent", "isses", "issez", "issiez",
        "issions", "issons", "it"]
_S2B_E = ["é", "ée", "ées", "és", "èrent", "er", "era", "erai",
          "eraient", "erais", "erait", "eras", "erez", "eriez",
          "erions", "erons", "eront", "ez", "iez"]
_S2B_A = ["âmes", "ât", "âtes", "a", "ai", "aient", "ais", "ait",
          "ant", "ante", "antes", "ants", "as", "asse", "assent",
          "asses", "assiez", "assions"]


def french_stem(word: str) -> str:
    """Plan-time Python twin of :func:`french_stem_sql` (identical
    step structure, marking chain, and region arithmetic)."""
    # prelude (french.sbl 2018+): diaeresis vowels expand to a
    # marker consonant + plain vowel (ë -> He, ï -> Hi) BEFORE
    # regions are computed — the H creates the vowel/consonant
    # boundary the canonical algorithm sees (égoïste -> égo needs
    # 'iste' inside R2 of égoHiste); the postlude restores survivors
    w = word.replace("ë", "He").replace("ï", "Hi")
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
        c = c[:len(c) - n] + _rep_cv(rep)

    def prev_class(n: int) -> str:
        """Skeleton class of the char just before the last n."""
        i = len(w) - n - 1
        return c[i] if i >= 0 else ""

    # ---------------- step 1: standard suffixes -------------------
    def step1() -> int:
        # longest textual match wins; arm failure ends the step.
        # Returns 0 (no change), 1 (changed) or 2 (changed by one
        # of the *ment endings — canonical french still runs steps
        # 2a/2b after those: constamment -> constant -> const,
        # sentiment -> senti -> sent)
        suf = None
        for s in sorted(
                _S1_A + _S1_B + ["logie", "logies", "usion", "ution",
                                 "usions", "utions", "ence", "ences",
                                 "ement", "ements", "ité", "ités",
                                 "if", "ive", "ifs", "ives", "eaux",
                                 "aux", "euse", "euses", "issement",
                                 "issements", "amment", "emment",
                                 "ment", "ments"],
                key=len, reverse=True):
            if w.endswith(s):
                suf = s
                break
        if suf is None:
            return 0
        n = len(suf)
        if suf in _S1_A:
            if not in_r2(n):
                return 0
            cut(n)
        elif suf in _S1_B:
            if not in_r2(n):
                return 0
            cut(n)
            if w.endswith("ic"):
                if in_r2(2):
                    cut(2)
                else:
                    cut(2, "iqu")
        elif suf in ("logie", "logies"):
            if not in_r2(n):
                return 0
            cut(n, "log")
        elif suf in ("usion", "ution", "usions", "utions"):
            if not in_r2(n):
                return 0
            cut(n, "u")
        elif suf in ("ence", "ences"):
            if not in_r2(n):
                return 0
            cut(n, "ent")
        elif suf in ("ement", "ements"):
            if not in_rv(n):
                return 0
            cut(n)
            if w.endswith("iv") and in_r2(2):
                cut(2)
                if w.endswith("at") and in_r2(2):
                    cut(2)
            elif w.endswith("eus"):
                if in_r2(3):
                    cut(3)
                elif in_r1(3):
                    cut(3, "eux")
            elif w.endswith(("abl", "iqu")) and in_r2(3):
                cut(3)
            elif w.endswith("ièr") and in_rv(3):
                cut(3, "i")
        elif suf in ("ité", "ités"):
            if not in_r2(n):
                return 0
            cut(n)
            if w.endswith("abil"):
                if in_r2(4):
                    cut(4)
                else:
                    cut(4, "abl")
            elif w.endswith("ic"):
                if in_r2(2):
                    cut(2)
                else:
                    cut(2, "iqu")
            elif w.endswith("iv") and in_r2(2):
                cut(2)
        elif suf in ("if", "ive", "ifs", "ives"):
            if not in_r2(n):
                return 0
            cut(n)
            if w.endswith("at") and in_r2(2):
                cut(2)
                if w.endswith("ic"):
                    if in_r2(2):
                        cut(2)
                    else:
                        cut(2, "iqu")
        elif suf == "eaux":
            cut(4, "eau")
        elif suf == "aux":
            if not in_r1(3):
                return 0
            cut(3, "al")
        elif suf in ("euse", "euses"):
            if in_r2(n):
                cut(n)
            elif in_r1(n):
                cut(n, "eux")
            else:
                return 0
        elif suf in ("issement", "issements"):
            if not (in_r1(n) and prev_class(n) == "b"):
                return 0
            cut(n)
        elif suf == "amment":
            if not in_rv(n):
                return 0
            cut(n, "ant")
        elif suf == "emment":
            if not in_rv(n):
                return 0
            cut(n, "ent")
        else:  # ment, ments
            if not (prev_class(n) == "a" and pos(n) - 1 >= rv):
                return 0
            cut(n)
        return (2 if suf in ("amment", "emment", "ment", "ments")
                else 1)

    # ------------- step 2a: verb suffixes beginning i -------------
    def step2a() -> bool:
        for s in sorted(_S2A, key=len, reverse=True):
            n = len(s)
            if w.endswith(s) and in_rv(n):
                # arm: preceded by a non-vowel OTHER THAN the
                # diaeresis marker H (maïs -> maHis must NOT read
                # 'is' as a verb suffix), itself in RV
                if (prev_class(n) == "b"
                        and w[len(w) - n - 1] != "H"
                        and pos(n) - 1 >= rv):
                    cut(n)
                    return True
                return False
        return False

    # ---------------- step 2b: other verb suffixes ----------------
    def step2b() -> bool:
        for s in sorted(_S2B_E + _S2B_A + ["ions"], key=len,
                        reverse=True):
            n = len(s)
            if w.endswith(s) and in_rv(n):
                if s == "ions":
                    # among-literal semantics: a MARKED i (étudiions
                    # -> étudiIons) is a different letter, so the
                    # 'ions' entry does not match at all and shorter
                    # entries keep competing
                    if c[len(w) - 4] != "a":
                        continue
                    if in_r2(n):
                        cut(n)
                        return True
                    return False
                cut(n)
                if s in _S2B_A and w.endswith("e") and in_rv(1):
                    cut(1)
                return True
        return False

    # ------------------------- sequencing -------------------------
    # canonical: steps 2a/2b run when step 1 failed OR when its
    # change was a *ment ending (d == 2); step 3 runs only when the
    # LAST OBEYED step altered the word, step 4 otherwise (so a
    # mentish change whose 2a/2b both fail still reaches step 4)
    d = step1()
    if d != 1:
        if step2a():
            d = 1
        elif step2b():
            d = 1

    if d == 1:
        # step 3: final marked Y -> i, else final ç -> c
        if w.endswith("y") and c.endswith("b"):
            cut(1, "i")
        elif w.endswith("ç"):
            cut(1, "c")
    else:
        # step 4: residual suffixes ('Hi' = expanded ï counts as a
        # non-vowel predecessor for the s-removal, per french.sbl)
        if (w.endswith("s") and len(w) >= 2
                and (w[-3:-1] == "Hi"
                     or not (w[-2] in "aoès"
                             or (w[-2] in "iu" and c[-2] == "a")))):
            cut(1)
        for s in ("ière", "ier", "ion", "e"):
            n = len(s)
            if w.endswith(s) and in_rv(n):
                if s == "ion":
                    if (in_r2(n) and len(w) >= 4 and w[-4] in "st"
                            and pos(n) - 1 >= rv):
                        cut(n)
                    break
                if s in ("ière", "ier"):
                    cut(n, "i")
                    break
                cut(n)  # 'e'
                break

    # ---------------- step 5: un_double (always) ------------------
    if w.endswith(("enn", "onn", "ett", "ell", "eill")):
        cut(1)

    # ---------------- step 6: un_accent (always) ------------------
    k = c[::-1].find("a")  # trailing consonant run length
    if k >= 1 and len(w) > k and w[len(w) - k - 1] in "éè":
        i = len(w) - k - 1
        w = w[:i] + "e" + w[i + 1:]

    # postlude: surviving diaeresis pairs fold back; a bare marker
    # (its vowel consumed by a suffix step) disappears
    return (w.replace("Hi", "ï").replace("He", "ë")
            .replace("H", ""))


# ------------------------------------------------------------------
# portable-SQL generator
# ------------------------------------------------------------------

def _skeleton_sql(ref: str) -> str:
    s = (f"translate({ref}, '{_TRUE_VOWELS}', "
         f"'{'a' * len(_TRUE_VOWELS)}')")
    s = f"translate({s}, 'iu', 'ii')"
    cons = "bcdfghjklmnprstvwxz0123456789çüÿ"
    s = f"translate({s}, '{cons}', '{'b' * len(cons)}')"
    # the marker H (uppercase, untouched above) becomes symbol h:
    # vowel context on the right for the marking passes, consonant
    # in the final fold
    s = f"translate({s}, 'H', 'h')"
    for _ in range(_MARK_ROUNDS):
        for pat, rep in _MARK_PATTERNS:
            s = f"replace({s}, '{pat}', '{rep}')"
    return (f"translate({s}, 'iyqh', 'aabb')")


class _Frag(Frag):
    """Fragments over a bound (w, c, rv, r1, r2, d) struct."""

    FIELDS = ("w", "c", "rv", "r1", "r2", "d")
    CUT = {"d": "1"}
    cv = staticmethod(_rep_cv)

    def prev_is(self, n: int, cls: str) -> str:
        """Skeleton class of the char just before the last n."""
        return f"substr({self.c}, {self.ln} - {n}, 1) = '{cls}'"


def _s1_sql(x: _Frag) -> str:
    whens = []
    suffixes = sorted(
        _S1_A + _S1_B + ["logie", "logies", "usion", "ution",
                         "usions", "utions", "ence", "ences",
                         "ement", "ements", "ité", "ités",
                         "if", "ive", "ifs", "ives", "eaux", "aux",
                         "euse", "euses", "issement", "issements",
                         "amment", "emment", "ment", "ments"],
        key=len, reverse=True)
    for s in suffixes:
        n = len(s)
        if s in _S1_A:
            arm = (f"CASE WHEN {x.in_r2(n)} THEN {x.cut(n)} "
                   f"ELSE {x.keep()} END")
        elif s in _S1_B:
            arm = (
                f"CASE WHEN NOT {x.in_r2(n)} THEN {x.keep()} "
                f"WHEN {x.ends('ic' + s)} AND {x.in_r2(n + 2)} "
                f"THEN {x.cut(n + 2)} "
                f"WHEN {x.ends('ic' + s)} THEN {x.cut(n + 2, 'iqu')} "
                f"ELSE {x.cut(n)} END")
        elif s in ("logie", "logies"):
            arm = (f"CASE WHEN {x.in_r2(n)} THEN {x.cut(n, 'log')} "
                   f"ELSE {x.keep()} END")
        elif s in ("usion", "ution", "usions", "utions"):
            arm = (f"CASE WHEN {x.in_r2(n)} THEN {x.cut(n, 'u')} "
                   f"ELSE {x.keep()} END")
        elif s in ("ence", "ences"):
            arm = (f"CASE WHEN {x.in_r2(n)} THEN {x.cut(n, 'ent')} "
                   f"ELSE {x.keep()} END")
        elif s in ("ement", "ements"):
            arm = (
                f"CASE WHEN NOT {x.in_rv(n)} THEN {x.keep()} "
                f"WHEN {x.ends('ativ' + s)} AND {x.in_r2(n + 2)} "
                f"AND {x.in_r2(n + 4)} THEN {x.cut(n + 4)} "
                f"WHEN {x.ends('iv' + s)} AND {x.in_r2(n + 2)} "
                f"THEN {x.cut(n + 2)} "
                f"WHEN {x.ends('eus' + s)} AND {x.in_r2(n + 3)} "
                f"THEN {x.cut(n + 3)} "
                f"WHEN {x.ends('eus' + s)} AND {x.in_r1(n + 3)} "
                f"THEN {x.cut(n + 3, 'eux')} "
                f"WHEN ({x.ends('abl' + s)} OR {x.ends('iqu' + s)}) "
                f"AND {x.in_r2(n + 3)} THEN {x.cut(n + 3)} "
                f"WHEN {x.ends('ièr' + s)} AND {x.in_rv(n + 3)} "
                f"THEN {x.cut(n + 3, 'i')} "
                f"ELSE {x.cut(n)} END")
        elif s in ("ité", "ités"):
            arm = (
                f"CASE WHEN NOT {x.in_r2(n)} THEN {x.keep()} "
                f"WHEN {x.ends('abil' + s)} AND {x.in_r2(n + 4)} "
                f"THEN {x.cut(n + 4)} "
                f"WHEN {x.ends('abil' + s)} "
                f"THEN {x.cut(n + 4, 'abl')} "
                f"WHEN {x.ends('ic' + s)} AND {x.in_r2(n + 2)} "
                f"THEN {x.cut(n + 2)} "
                f"WHEN {x.ends('ic' + s)} THEN {x.cut(n + 2, 'iqu')} "
                f"WHEN {x.ends('iv' + s)} AND {x.in_r2(n + 2)} "
                f"THEN {x.cut(n + 2)} "
                f"ELSE {x.cut(n)} END")
        elif s in ("if", "ive", "ifs", "ives"):
            arm = (
                f"CASE WHEN NOT {x.in_r2(n)} THEN {x.keep()} "
                f"WHEN {x.ends('icat' + s)} AND {x.in_r2(n + 2)} "
                f"AND {x.in_r2(n + 4)} THEN {x.cut(n + 4)} "
                f"WHEN {x.ends('icat' + s)} AND {x.in_r2(n + 2)} "
                f"THEN {x.cut(n + 4, 'iqu')} "
                f"WHEN {x.ends('at' + s)} AND {x.in_r2(n + 2)} "
                f"THEN {x.cut(n + 2)} "
                f"ELSE {x.cut(n)} END")
        elif s == "eaux":
            arm = x.cut(4, "eau")
        elif s == "aux":
            arm = (f"CASE WHEN {x.in_r1(3)} THEN {x.cut(3, 'al')} "
                   f"ELSE {x.keep()} END")
        elif s in ("euse", "euses"):
            arm = (f"CASE WHEN {x.in_r2(n)} THEN {x.cut(n)} "
                   f"WHEN {x.in_r1(n)} THEN {x.cut(n, 'eux')} "
                   f"ELSE {x.keep()} END")
        elif s in ("issement", "issements"):
            arm = (f"CASE WHEN {x.in_r1(n)} AND {x.prev_is(n, 'b')} "
                   f"THEN {x.cut(n)} ELSE {x.keep()} END")
        elif s == "amment":
            # d=2: the *ment endings still feed steps 2a/2b
            arm = (f"CASE WHEN {x.in_rv(n)} "
                   f"THEN {x.cut(n, 'ant', d='2')} "
                   f"ELSE {x.keep()} END")
        elif s == "emment":
            arm = (f"CASE WHEN {x.in_rv(n)} "
                   f"THEN {x.cut(n, 'ent', d='2')} "
                   f"ELSE {x.keep()} END")
        else:  # ment, ments
            arm = (f"CASE WHEN {x.prev_is(n, 'a')} AND "
                   f"{x.prev_in_rv(n)} THEN {x.cut(n, d='2')} "
                   f"ELSE {x.keep()} END")
        whens.append(f"WHEN {x.ends(s)} THEN ({arm})")
    return "CASE " + " ".join(whens) + f" ELSE {x.keep()} END"


def _s2a_sql(x: _Frag) -> str:
    whens = []
    for s in sorted(_S2A, key=len, reverse=True):
        n = len(s)
        whens.append(
            f"WHEN {x.ends(s)} AND {x.in_rv(n)} THEN "
            f"(CASE WHEN {x.prev_is(n, 'b')} AND "
            f"substr({x.w}, {x.ln} - {n}, 1) <> 'H' AND "
            f"{x.prev_in_rv(n)} "
            f"THEN {x.cut(n)} ELSE {x.keep()} END)")
    return (f"CASE WHEN {x.d} = 1 THEN {x.keep()} "
            + " ".join(whens) + f" ELSE {x.keep()} END")


def _s2b_sql(x: _Frag) -> str:
    whens = []
    for s in sorted(_S2B_E + _S2B_A + ["ions"], key=len,
                    reverse=True):
        n = len(s)
        if s == "ions":
            # marked i = different letter: gate the MATCH itself so
            # shorter entries keep competing (see the twin)
            whens.append(
                f"WHEN {x.ends(s)} AND {x.in_rv(n)} AND "
                f"substr({x.c}, {x.ln} - 3, 1) = 'a' THEN "
                f"(CASE WHEN {x.in_r2(n)} THEN {x.cut(n)} "
                f"ELSE {x.keep()} END)")
            continue
        elif s in _S2B_A:
            arm = (f"CASE WHEN {x.ends('e' + s)} AND "
                   f"{x.prev_in_rv(n)} THEN {x.cut(n + 1)} "
                   f"ELSE {x.cut(n)} END")
        else:
            arm = x.cut(n)
        whens.append(
            f"WHEN {x.ends(s)} AND {x.in_rv(n)} THEN ({arm})")
    return (f"CASE WHEN {x.d} = 1 THEN {x.keep()} "
            + " ".join(whens) + f" ELSE {x.keep()} END")


def _step34_sql(engine: str, x: _Frag) -> str:
    fixup = (
        f"CASE WHEN {x.ends('y')} AND right({x.c}, 1) = 'b' "
        f"THEN {x.cut(1, 'i')} "
        f"WHEN {x.ends('ç')} THEN {x.cut(1, 'c')} "
        f"ELSE {x.keep()} END")
    s_removed = (
        f"CASE WHEN {x.ends('s')} AND {x.ln} >= 2 AND ("
        f"substr({x.w}, {x.ln} - 2, 2) = 'Hi' OR NOT ("
        f"substr({x.w}, {x.ln} - 1, 1) IN "
        f"({quote_list('aoès')}) OR "
        f"(substr({x.w}, {x.ln} - 1, 1) IN ('i', 'u') AND "
        f"substr({x.c}, {x.ln} - 1, 1) = 'a'))) "
        f"THEN {x.cut(1)} ELSE {x.keep()} END")
    r = _Frag(engine, "rr")
    among = (
        f"CASE "
        f"WHEN {r.ends('ière')} AND {r.in_rv(4)} "
        f"THEN {r.cut(4, 'i')} "
        f"WHEN {r.ends('ier')} AND {r.in_rv(3)} "
        f"THEN {r.cut(3, 'i')} "
        f"WHEN {r.ends('ion')} AND {r.in_rv(3)} THEN "
        f"(CASE WHEN {r.in_r2(3)} AND {r.ln} >= 4 AND "
        f"substr({r.w}, {r.ln} - 3, 1) IN ('s', 't') AND "
        f"{r.prev_in_rv(3)} THEN {r.cut(3)} ELSE {r.keep()} END) "
        f"WHEN {r.ends('e')} AND {r.in_rv(1)} THEN {r.cut(1)} "
        f"ELSE {r.keep()} END")
    residual = let(engine, s_removed, "rr", among)
    return (f"CASE WHEN {x.d} = 1 THEN ({fixup}) "
            f"ELSE ({residual}) END")


def _undouble_sql(x: _Frag) -> str:
    conds = " OR ".join(x.ends(s) for s in
                        ("enn", "onn", "ett", "ell", "eill"))
    return (f"CASE WHEN {conds} THEN {x.cut(1)} "
            f"ELSE {x.keep()} END")


def _unaccent_sql(x: _Frag) -> str:
    k = f"(instr(reverse({x.c}), 'a') - 1)"
    return (
        f"CASE WHEN instr(reverse({x.c}), 'a') >= 2 AND "
        f"{x.ln} > {k} AND "
        f"substr({x.w}, {x.ln} - {k}, 1) IN ('é', 'è') "
        f"THEN substr({x.w}, 1, {x.ln} - {k} - 1) || 'e' || "
        f"substr({x.w}, {x.ln} - {k} + 1) "
        f"ELSE {x.w} END")


def french_stem_sql(ref: str, engine: str) -> str:
    """Render the full stemmer over the (lowercase) token expression
    ``ref`` for ``engine`` in {'spark', 'duck'} — let-bound steps
    over a carried (w, c, rv, r1, r2, d) struct (one binding per
    step keeps DuckDB's binder under its depth hazard)."""
    # regions from the bound (word, skeleton) pair g1
    first_v = "instr(substr(g1.c, 2), 'a')"  # vowel not at start
    rv = (f"CASE WHEN length(g1.w) >= 3 AND ("
          f"left(g1.c, 2) = 'aa' OR left(g1.w, 3) IN "
          f"('par', 'col', 'tap')) THEN 4 "
          f"WHEN {first_v} = 0 THEN length(g1.w) + 1 "
          f"ELSE {first_v} + 2 END")
    seed = struct(engine, w="g1.w", c="g1.c", rv=rv, r1=R1, r2=R2,
                  d="0")

    steps = [_s1_sql, _s2a_sql, _s2b_sql,
             lambda x: _step34_sql(engine, x), _undouble_sql]
    # postlude mirrors the twin: surviving He/Hi pairs fold back to
    # ë/ï, a bare marker disappears
    body = chain(engine, _Frag, seed, steps,
                 f"replace(replace(replace("
                 f"{_unaccent_sql(_Frag(engine, 'x5'))}, "
                 f"'Hi', 'ï'), 'He', 'ë'), 'H', '')")
    body = let(engine, struct(engine, w="gp", c=_skeleton_sql("gp")),
               "g1", body)
    # prelude mirrors the twin: ë -> He, ï -> Hi before skeleton and
    # regions (french.sbl 2018+ diaeresis handling)
    body = let(
        engine,
        "replace(replace(g0, 'ë', 'He'), 'ï', 'Hi')", "gp", body)
    return let(engine, ref, "g0", body)
