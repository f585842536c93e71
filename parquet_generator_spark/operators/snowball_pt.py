"""Portuguese snowball stemmer (the canonical snowballstem.org
`portuguese` algorithm, ES/Lucene's ``portuguese`` stemmer filter)
as a plan-time Python twin plus a portable-SQL generator — the
FIFTH language analyzer (after german/french/spanish/italian),
closing the largest remaining web-corpus language VERDICT r10's
"~30 snowball analyzers" note flags.

Design (the snowball_es.py posture — Portuguese is Spanish's
closest cousin in the snowball family):

- Prelude: nasal vowels unfold to two-character groups (ã -> a~,
  õ -> o~) BEFORE the regions are computed — ``~`` is a consonant
  for the letter classes and never appears in tokenized input (the
  analyzer charset excludes it), so the internal representation
  round-trips safely. The postlude folds them back at the end.
- RV (the same three-case rule as Spanish/Italian) + R1/R2
  computed ONCE from a CV skeleton over the PRELUDED word and
  carried as fixed positions. Portuguese has NO attached-pronoun
  step (clitics are hyphen-attached and split by the tokenizer).
- Step 1 (standard suffixes): longest textual match over the
  preluded spelling (aça~o, uço~es, ...), then the R1/R2/RV arm
  decides — arm failure ends the step (no fallback), exactly
  snowball among() without a region limit.
- Step 2 (verb suffixes) runs only when step 1 removed nothing;
  its among is RV-LIMITED, so a longer suffix outside RV falls
  back to a shorter one inside it (the es/it loop semantics).
- Step 3 (``i`` preceded by ``c``, both in RV per the setlimit
  cursor) runs only when step 1 or 2 altered the word; step 4
  (residual suffix os/a/i/o/á/í/ó in RV) only when neither did.
- Step 5 always runs: final e/é/ê in RV deleted, then a newly
  final ``gu``/``ci`` loses its u/i when that letter is in RV
  (the g/c may lie outside — the snowball bracket marks only the
  vowel); a final ``ç`` becomes ``c`` unconditionally.
- No accent folding: unlike Spanish, Portuguese KEEPS acute/
  circumflex accents in the stem (quilométricas -> quilométr);
  only the nasal groups fold back to ã/õ.

A word's suffix can never straddle a nasal group: no listed suffix
begins with ``~``, and a suffix beginning with a vowel matches the
plain letter, not the pair — so every cut boundary lands between
whole display characters (asserted in tests/test_snowball_pt.py).

The SQL subset (CASE/right/substr/length/instr/translate/replace/
IN, struct binding) evaluates identically in Spark SQL and DuckDB;
parity is pinned three ways in tests/test_snowball_pt.py
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

# the spec's vowel list: a e i o u á é í ó ú â ê ô (à/ã/õ/ü are NOT
# vowels; ã/õ become a~/o~ in the prelude where ~ is a consonant)
_VOWELS = "aeiouáéíóúâêô"

# ---------------- step 1 groups (preluded spelling) ----------------
_S1_DEL_R2 = ["eza", "ezas", "ico", "ica", "icos", "icas", "ismo",
              "ismos", "ável", "ível", "ista", "istas", "oso",
              "osa", "osos", "osas", "amento", "amentos", "imento",
              "imentos", "adora", "ador", "aça~o", "adoras",
              "adores", "aço~es", "ante", "antes", "ância"]
_S1_LOG = ["logia", "logias"]          # -> log   if in R2
_S1_UCAO = ["uça~o", "uço~es"]         # -> u     if in R2
_S1_ENTE = ["ência", "ências"]         # -> ente  if in R2
_S1_IDADE = ["idade", "idades"]        # R2; abil/ic/iv chain
_S1_IVA = ["iva", "ivo", "ivas", "ivos"]  # R2; at chain
_S1_IRA = ["ira", "iras"]              # -> ir if in RV, after e

# ---------------- step 2: verb suffixes (RV-limited) ---------------
_S2 = ["ada", "ida", "ia", "aria", "eria", "iria", "ará", "ara",
       "erá", "era", "irá", "ava", "asse", "esse", "isse", "aste",
       "este", "iste", "ei", "arei", "erei", "irei", "am", "iam",
       "ariam", "eriam", "iriam", "aram", "eram", "iram", "avam",
       "em", "arem", "erem", "irem", "assem", "essem", "issem",
       "ado", "ido", "ando", "endo", "indo", "ara~o", "era~o",
       "ira~o", "ar", "er", "ir", "as", "adas", "idas", "ias",
       "arias", "erias", "irias", "arás", "aras", "erás", "eras",
       "irás", "avas", "es", "ardes", "erdes", "irdes", "ares",
       "eres", "ires", "asses", "esses", "isses", "astes", "estes",
       "istes", "is", "ais", "eis", "íeis", "aríeis", "eríeis",
       "iríeis", "áreis", "areis", "éreis", "ereis", "íreis",
       "ireis", "ásseis", "ésseis", "ísseis", "áveis", "ados",
       "idos", "ámos", "amos", "íamos", "aríamos", "eríamos",
       "iríamos", "áramos", "éramos", "íramos", "ávamos", "emos",
       "aremos", "eremos", "iremos", "ássemos", "êssemos",
       "íssemos", "imos", "armos", "ermos", "irmos", "eu", "iu",
       "ou", "ira", "iras"]

# step 4 residual suffixes (longest first)
_S4_DEL = ["os", "a", "i", "o", "á", "í", "ó"]


def _prelude(w: str) -> str:
    return w.replace("ã", "a~").replace("õ", "o~")


def _postlude(w: str) -> str:
    return w.replace("a~", "ã").replace("o~", "õ")


def _skeleton(w: str) -> str:
    return "".join("a" if ch in _VOWELS else "b" for ch in w)


def _regions(w: str) -> tuple[int, int, int]:
    """(rv, r1, r2), 1-based region starts over the PRELUDED word;
    len+1 = empty. RV per the Spanish/Portuguese three-case rule."""
    n = len(w)
    c = _skeleton(w)
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


def portuguese_stem(word: str) -> str:
    """Plan-time Python twin of :func:`portuguese_stem_sql`
    (identical step structure and region arithmetic)."""
    w = _prelude(word)
    rv, r1, r2 = _regions(w)

    def pos(n: int) -> int:
        return len(w) - n + 1

    def in_rv(n: int) -> bool:
        return pos(n) >= rv

    def in_r1(n: int) -> bool:
        return pos(n) >= r1

    def in_r2(n: int) -> bool:
        return pos(n) >= r2

    def cut(n: int, rep: str = "") -> None:
        nonlocal w
        w = w[:len(w) - n] + rep

    # ---------------- step 1: standard suffixes -------------------
    def step1() -> bool:
        nonlocal w
        all_s1 = (_S1_DEL_R2 + _S1_LOG + _S1_UCAO + _S1_ENTE
                  + _S1_IDADE + _S1_IVA + _S1_IRA
                  + ["amente", "mente"])
        suf = None
        for s in sorted(all_s1, key=len, reverse=True):
            if w.endswith(s):
                suf = s
                break
        if suf is None:
            return False
        n = len(suf)
        if suf in _S1_DEL_R2:
            if not in_r2(n):
                return False
            cut(n)
        elif suf in _S1_LOG:
            if not in_r2(n):
                return False
            cut(n, "log")
        elif suf in _S1_UCAO:
            if not in_r2(n):
                return False
            cut(n, "u")
        elif suf in _S1_ENTE:
            if not in_r2(n):
                return False
            cut(n, "ente")
        elif suf == "amente":
            if not in_r1(n):
                return False
            cut(n)
            if w.endswith("iv") and in_r2(2):
                cut(2)
                if w.endswith("at") and in_r2(2):
                    cut(2)
            elif (w.endswith(("os", "ic", "ad"))
                  and in_r2(2)):
                cut(2)
        elif suf == "mente":
            if not in_r2(n):
                return False
            cut(n)
            if (w.endswith(("ante", "avel", "ível"))
                    and in_r2(4)):
                cut(4)
        elif suf in _S1_IDADE:
            if not in_r2(n):
                return False
            cut(n)
            if w.endswith("abil") and in_r2(4):
                cut(4)
            elif w.endswith(("ic", "iv")) and in_r2(2):
                cut(2)
        elif suf in _S1_IVA:
            if not in_r2(n):
                return False
            cut(n)
            if w.endswith("at") and in_r2(2):
                cut(2)
        else:  # ira/iras -> ir when in RV and preceded by e
            if not (in_rv(n) and len(w) > n and w[-n - 1] == "e"):
                return False
            cut(n, "ir")
        return True

    # ---------------- step 2: verb suffixes (RV-limited) ----------
    def step2() -> bool:
        nonlocal w
        for s in sorted(_S2, key=len, reverse=True):
            n = len(s)
            if w.endswith(s) and in_rv(n):
                cut(n)
                return True
        return False

    changed = step1()
    if not changed:
        changed = step2()

    if changed:
        # step 3: final i in RV preceded by c (c in RV per the
        # setlimit cursor — the es step-2a u-test precedent)
        if (w.endswith("i") and in_rv(1) and len(w) >= 2
                and w[-2] == "c" and pos(1) - 1 >= rv):
            cut(1)
    else:
        # step 4: residual suffix
        for s in _S4_DEL:
            if w.endswith(s) and in_rv(len(s)):
                cut(len(s))
                break

    # ---------------- step 5 (always) -----------------------------
    matched_e = False
    for e in ("e", "é", "ê"):
        if w.endswith(e):
            matched_e = True
            if in_rv(1):
                cut(1)
                # the marked vowel of a now-final gu/ci goes too
                # when it is itself in RV (the g/c need not be)
                if w.endswith("gu") and in_rv(1):
                    cut(1)
                elif w.endswith("ci") and in_rv(1):
                    cut(1)
            break
    if not matched_e and w.endswith("ç"):
        cut(1, "c")

    return _postlude(w)


# ------------------------------------------------------------------
# portable-SQL generator (the snowball_es.py scaffolding)
# ------------------------------------------------------------------

def _prelude_sql(ref: str) -> str:
    return (f"replace(replace({ref}, 'ã', 'a~'), 'õ', 'o~')")


def _skeleton_sql(ref: str) -> str:
    s = f"translate({ref}, '{_VOWELS}', '{'a' * len(_VOWELS)}')"
    cons = "bcdfghjklmnpqrstvwxyz0123456789çà~ü"
    return f"translate({s}, '{cons}', '{'b' * len(cons)}')"


class _Frag(Frag):
    """Fragments over a bound (w, rv, r1, r2, d) struct."""

    FIELDS = ("w", "rv", "r1", "r2", "d")
    CUT = {"d": "1"}


def _s1_sql(x: _Frag) -> str:
    whens = []
    all_s1 = (_S1_DEL_R2 + _S1_LOG + _S1_UCAO + _S1_ENTE
              + _S1_IDADE + _S1_IVA + _S1_IRA
              + ["amente", "mente"])
    for s in sorted(all_s1, key=len, reverse=True):
        n = len(s)
        if s in _S1_DEL_R2:
            arm = (f"CASE WHEN {x.in_r2(n)} THEN {x.cut(n)} "
                   f"ELSE {x.keep()} END")
        elif s in _S1_LOG:
            arm = (f"CASE WHEN {x.in_r2(n)} THEN {x.cut(n, 'log')} "
                   f"ELSE {x.keep()} END")
        elif s in _S1_UCAO:
            arm = (f"CASE WHEN {x.in_r2(n)} THEN {x.cut(n, 'u')} "
                   f"ELSE {x.keep()} END")
        elif s in _S1_ENTE:
            arm = (f"CASE WHEN {x.in_r2(n)} THEN {x.cut(n, 'ente')} "
                   f"ELSE {x.keep()} END")
        elif s == "amente":
            arm = (
                f"CASE WHEN NOT {x.in_r1(n)} THEN {x.keep()} "
                f"WHEN {x.ends('ativ' + s)} AND {x.in_r2(n + 2)} "
                f"AND {x.in_r2(n + 4)} THEN {x.cut(n + 4)} "
                f"WHEN {x.ends('iv' + s)} AND {x.in_r2(n + 2)} "
                f"THEN {x.cut(n + 2)} "
                f"WHEN ({x.ends('os' + s)} OR {x.ends('ic' + s)} "
                f"OR {x.ends('ad' + s)}) AND {x.in_r2(n + 2)} "
                f"THEN {x.cut(n + 2)} "
                f"ELSE {x.cut(n)} END")
        elif s == "mente":
            arm = (
                f"CASE WHEN NOT {x.in_r2(n)} THEN {x.keep()} "
                f"WHEN ({x.ends('ante' + s)} OR {x.ends('avel' + s)} "
                f"OR {x.ends('ível' + s)}) AND {x.in_r2(n + 4)} "
                f"THEN {x.cut(n + 4)} "
                f"ELSE {x.cut(n)} END")
        elif s in _S1_IDADE:
            arm = (
                f"CASE WHEN NOT {x.in_r2(n)} THEN {x.keep()} "
                f"WHEN {x.ends('abil' + s)} AND {x.in_r2(n + 4)} "
                f"THEN {x.cut(n + 4)} "
                f"WHEN ({x.ends('ic' + s)} OR {x.ends('iv' + s)}) "
                f"AND {x.in_r2(n + 2)} THEN {x.cut(n + 2)} "
                f"ELSE {x.cut(n)} END")
        elif s in _S1_IVA:
            arm = (
                f"CASE WHEN NOT {x.in_r2(n)} THEN {x.keep()} "
                f"WHEN {x.ends('at' + s)} AND {x.in_r2(n + 2)} "
                f"THEN {x.cut(n + 2)} ELSE {x.cut(n)} END")
        else:  # ira/iras
            arm = (
                f"CASE WHEN {x.in_rv(n)} AND "
                f"{x.prev_char(n)} = 'e' "
                f"THEN {x.cut(n, 'ir')} ELSE {x.keep()} END")
        whens.append(f"WHEN {x.ends(s)} THEN ({arm})")
    return "CASE " + " ".join(whens) + f" ELSE {x.keep()} END"


def _s2_sql(x: _Frag) -> str:
    whens = []
    for s in sorted(_S2, key=len, reverse=True):
        n = len(s)
        whens.append(
            f"WHEN {x.ends(s)} AND {x.in_rv(n)} THEN {x.cut(n)}")
    return (f"CASE WHEN {x.d} = 1 THEN {x.keep()} "
            + " ".join(whens) + f" ELSE {x.keep()} END")


def _s3_sql(x: _Frag) -> str:
    # only after a step-1/2 alteration; i and c both in RV
    return (f"CASE WHEN {x.d} = 1 AND {x.ends('i')} AND "
            f"{x.in_rv(1)} AND {x.prev_char(1)} = 'c' AND "
            f"{x.prev_in_rv(1)} THEN {x.cut(1)} "
            f"ELSE {x.keep()} END")


def _s4_sql(x: _Frag) -> str:
    whens = []
    for s in _S4_DEL:
        whens.append(f"WHEN {x.ends(s)} AND {x.in_rv(len(s))} "
                     f"THEN {x.cut(len(s))}")
    return (f"CASE WHEN {x.d} = 1 THEN {x.keep()} "
            + " ".join(whens) + f" ELSE {x.keep()} END")


def _s5_sql(x: _Frag) -> str:
    whens = []
    for e in ("e", "é", "ê"):
        whens.append(
            f"WHEN {x.ends(e)} THEN (CASE WHEN {x.in_rv(1)} THEN "
            f"(CASE WHEN {x.ends('gu' + e)} AND {x.prev_in_rv(1)} "
            f"THEN {x.cut(2)} "
            f"WHEN {x.ends('ci' + e)} AND {x.prev_in_rv(1)} "
            f"THEN {x.cut(2)} "
            f"ELSE {x.cut(1)} END) ELSE {x.keep()} END)")
    whens.append(f"WHEN {x.ends('ç')} THEN {x.cut(1, 'c')}")
    return "CASE " + " ".join(whens) + f" ELSE {x.keep()} END"


def portuguese_stem_sql(ref: str, engine: str) -> str:
    """Render the full stemmer over the (lowercase) token expression
    ``ref`` for ``engine`` in {'spark', 'duck'} — let-bound steps
    over a carried (w, rv, r1, r2, d) struct; the prelude unfolds
    nasals before the regions, the postlude folds them back."""
    seed = struct(engine, w="g1.w", rv=RV3, r1=R1, r2=R2, d="0")
    body = chain(engine, _Frag, seed,
                 [_s1_sql, _s2_sql, _s3_sql, _s4_sql, _s5_sql],
                 "replace(replace(x5.w, 'a~', 'ã'), 'o~', 'õ')")
    body = let(engine, struct(engine, w="g0", c=_skeleton_sql("g0")),
               "g1", body)
    return let(engine, _prelude_sql(ref), "g0", body)
