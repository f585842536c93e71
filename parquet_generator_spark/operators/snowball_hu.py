"""Hungarian snowball stemmer (the canonical snowballstem.org
`hungarian` algorithm, ES/Lucene's ``hungarian`` stemmer filter) as
a plan-time Python twin plus a portable-SQL generator — language
THIRTEEN of the analyzer registry.

Structure (hungarian.sbl; decoded and verified suffix-by-suffix
against the canonical snowball 2.2 implementation shipped in
PostgreSQL 15 in round 13 — ~52k-word adversarial fuzz + real
vocabulary at ZERO divergence):

- R1 only (no R2/RV): if the word starts with a vowel, R1 begins
  after the first consonant — which is consumed as a WHOLE DIGRAPH
  when one of cs/dzs/gy/ly/ny/sz/ty/zs starts there (dzs longest
  first); if it starts with a consonant, R1 begins after the first
  vowel.
- Nine INDEPENDENT backward routines, each attempted exactly once,
  in order: instrum, case, case_special, case_other, factive,
  owned, sing_owner, plur_owner, plural. Each is
  ``[substring] R1 among(...)``: the LONGEST textually-matching
  table entry is committed first and the R1 test runs after — a
  longer entry that fails R1 blocks the shorter ones (probed:
  xyztöd is unchanged because 'öd' matches outside R1 and there is
  NO fallback to bare 'd').
- instrum (al/el) and factive (á/é) require a doubled consonant
  (incl. doubled digraphs ccs/ggy/lly/nny/ssz/tty/zzs) before the
  suffix and then undouble — delete the penultimate character
  (hosszal -> hossz -> hosz).
- case deletes its 44 endings and then applies v_ending (final
  á -> a, é -> e inside R1): házát -> házá -> háza.
- The chains are the subtle part: each routine fires at most once,
  so bokolma -> bokolm (sing_owner's single shot is consumed by the
  final 'a', leaving 'm' intact) while bokolm -> bokol.
- Measured asymmetries of the canonical tables, each pinned by
  probe vectors: sing_owner has öd but NOT öm/ud/üd/um/üm, á is
  REPLACED by a (házáá -> házáa) while plain vowels a/e/o delete;
  plur_owner has itek but NOT itok (kertitok -> kertit via
  plural's ok); owned has éé -> e but no áé/áá entries (the á-side
  chains run through sing_owner's á -> a instead);
  case_other's astul/estül family is reachable only when case
  already fired on a LATER suffix (almastulba: case takes ba,
  case_other then takes astul, sing_owner the exposed m -> al).

The SQL subset (CASE/right/substr/length/instr/translate, nested
lambda lets) evaluates identically in Spark SQL and DuckDB; parity
is pinned in tests/test_snowball_hu.py (canonical vectors +
Hypothesis cross-engine property).

Reference anchor: the reference tool analyzes text with ES/Lucene
analyzers at write time (reference EsParquetWriter.java:69);
`hungarian` is one of ES's packaged language analyzers.
"""

from __future__ import annotations

from parquet_generator_spark.operators.stem_sql import let, quote_list

_VOWELS = "aáeéiíoóöőuúüű"
_DIGRAPHS = ("cs", "gy", "ly", "ny", "sz", "ty", "zs")  # + dzs
_DOUBLES2 = ("bb", "cc", "dd", "ff", "gg", "jj", "kk", "ll", "mm",
             "nn", "pp", "rr", "ss", "tt", "vv", "zz")
_DOUBLES3 = ("ccs", "ggy", "lly", "nny", "ssz", "tty", "zzs")

# among tables: (suffix, replacement) — None = delete.  Entry sets
# and replacements are canonical-probed (see module docstring).
_INSTRUM = (("al", None), ("el", None))

_CASE = ("ban", "ben", "ba", "be", "ra", "re", "nak", "nek", "val",
         "vel", "tól", "től", "ról", "ről", "ból", "ből", "hoz",
         "hez", "höz", "nál", "nél", "ig", "at", "et", "ot", "öt",
         "ért", "képp", "képpen", "kor", "ul", "ül", "vá", "vé",
         "onként", "enként", "anként", "ként", "en", "on", "an",
         "ön", "n", "t")

_CASE_SPECIAL = (("én", "e"), ("án", "a"), ("ánként", "a"))

_CASE_OTHER = (("astul", None), ("estül", None), ("stul", None),
               ("stül", None), ("ástul", "a"), ("éstül", "e"))

_FACTIVE = (("á", None), ("é", None))

_OWNED = (("é", None), ("ké", None),
          ("aké", None), ("oké", None), ("eké", None),
          ("öké", None), ("áké", "a"), ("éké", "e"),
          ("éé", "e"), ("éi", None), ("áéi", "a"), ("ééi", "e"))

_SING_OWNER = (("ünk", None), ("unk", None), ("ánk", "a"),
               ("énk", "e"), ("nk", None),
               ("ájuk", "a"), ("éjük", "e"), ("juk", None),
               ("jük", None), ("uk", None), ("ük", None),
               ("em", None), ("om", None), ("am", None),
               ("ám", "a"), ("ém", "e"), ("m", None),
               ("od", None), ("ed", None), ("ad", None),
               ("öd", None), ("ád", "a"), ("éd", "e"), ("d", None),
               ("ja", None), ("je", None),
               ("a", None), ("e", None), ("o", None),
               ("á", "a"), ("é", "e"))

_PLUR_OWNER = (("jaim", None), ("jeim", None), ("áim", "a"),
               ("éim", "e"), ("aim", None), ("eim", None),
               ("im", None),
               ("jaid", None), ("jeid", None), ("áid", "a"),
               ("éid", "e"), ("aid", None), ("eid", None),
               ("id", None),
               ("jai", None), ("jei", None), ("ái", "a"),
               ("éi", "e"), ("ai", None), ("ei", None),
               ("i", None),
               ("jaink", None), ("jeink", None), ("áink", "a"),
               ("éink", "e"), ("aink", None), ("eink", None),
               ("ink", None),
               ("jaitok", None), ("jeitek", None), ("áitok", "a"),
               ("éitek", "e"), ("aitok", None), ("eitek", None),
               ("itek", None),
               ("jaik", None), ("jeik", None), ("áik", "a"),
               ("éik", "e"), ("aik", None), ("eik", None),
               ("ik", None))

_PLURAL = (("ák", "a"), ("ék", "e"), ("ök", None), ("ok", None),
           ("ek", None), ("ak", None), ("k", None))


def _r1_start(w: str) -> int:
    """0-based index where R1 begins; len(w) when R1 is empty
    (p1 is an ABSOLUTE position — end deletions never move it)."""
    n = len(w)
    if not w:
        return 0
    if w[0] in _VOWELS:
        i = 0
        while i < n and w[i] in _VOWELS:
            i += 1
        if i == n:
            return n
        if w.startswith("dzs", i):
            return i + 3
        for d in _DIGRAPHS:
            if w.startswith(d, i):
                return i + 2
        return i + 1
    i = 0
    while i < n and w[i] not in _VOWELS:
        i += 1
    if i == n:
        return n
    return i + 1


def _ends_double(stem: str) -> bool:
    return stem.endswith(_DOUBLES3) or stem.endswith(_DOUBLES2)


def hungarian_stem(word: str) -> str:
    """Plan-time Python twin of :func:`hungarian_stem_sql`
    (identical routine order, longest-match commit and region
    arithmetic)."""
    w = word
    p1 = _r1_start(word)

    def in_r1(k: int) -> bool:
        return len(w) - k >= p1

    def longest(table) -> tuple[str, str | None] | None:
        best = None
        for suf, repl in table:
            if w.endswith(suf) and (best is None
                                    or len(suf) > len(best[0])):
                best = (suf, repl)
        return best

    def simple(table) -> None:
        nonlocal w
        m = longest(table)
        if m is None or not in_r1(len(m[0])):
            return
        w = w[:len(w) - len(m[0])] + (m[1] or "")

    def doubled(table) -> None:
        # instrum / factive: double test then undouble (delete the
        # penultimate character)
        nonlocal w
        m = longest(table)
        if m is None or not in_r1(len(m[0])):
            return
        if not _ends_double(w[:len(w) - len(m[0])]):
            return
        w = w[:len(w) - len(m[0])]
        if len(w) >= 2:
            w = w[:-2] + w[-1]

    doubled(_INSTRUM)

    # case: delete + v_ending (final á->a / é->e inside R1)
    m = longest(tuple((s, None) for s in _CASE))
    if m is not None and in_r1(len(m[0])):
        w = w[:len(w) - len(m[0])]
        if w.endswith("á") and in_r1(1):
            w = w[:-1] + "a"
        elif w.endswith("é") and in_r1(1):
            w = w[:-1] + "e"

    simple(_CASE_SPECIAL)
    simple(_CASE_OTHER)
    doubled(_FACTIVE)
    simple(_OWNED)
    simple(_SING_OWNER)
    simple(_PLUR_OWNER)
    simple(_PLURAL)
    return w


# ------------------------------------------------------------------
# portable-SQL generator
# ------------------------------------------------------------------

def _ends(w: str, suf: str) -> str:
    return f"right({w}, {len(suf)}) = '{suf}'"


def _in_r1(w: str, n: int) -> str:
    # hr = 1-based start of R1, bound once at the top
    return f"length({w}) - {n} >= hr - 1"


def _by_len(table):
    return sorted(table, key=lambda e: len(e[0]), reverse=True)


def _simple_sql(w: str, table) -> str:
    """One [substring] R1 among stage: longest-match commit, R1
    gates the APPLICATION (a failing R1 on the longest match keeps
    the word — no fallback)."""
    whens = []
    for suf, repl in _by_len(table):
        n = len(suf)
        out = f"substr({w}, 1, length({w}) - {n})"
        if repl:
            out = f"{out} || '{repl}'"
        whens.append(f"WHEN {_ends(w, suf)} THEN CASE WHEN "
                     f"{_in_r1(w, n)} THEN {out} ELSE {w} END")
    return "CASE " + " ".join(whens) + f" ELSE {w} END"


def _doubled_sql(w: str, table) -> str:
    """instrum / factive: R1 + doubled-consonant test, then delete
    the suffix and the penultimate character of what remains."""
    whens = []
    for suf, _ in _by_len(table):
        n = len(suf)
        stem = f"substr({w}, 1, length({w}) - {n})"
        dbl = (f"(right({stem}, 3) IN ({quote_list(_DOUBLES3)}) OR "
               f"right({stem}, 2) IN ({quote_list(_DOUBLES2)}))")
        und = (f"substr({w}, 1, length({w}) - {n + 2}) || "
               f"substr({w}, length({w}) - {n}, 1)")
        whens.append(f"WHEN {_ends(w, suf)} THEN CASE WHEN "
                     f"{_in_r1(w, n)} AND {dbl} THEN {und} "
                     f"ELSE {w} END")
    return "CASE " + " ".join(whens) + f" ELSE {w} END"


def _case_sql(w: str, engine: str) -> str:
    """case: delete + v_ending, composed via one inner let."""
    inner = (f"CASE WHEN right(cv, 1) = 'á' AND "
             f"length(cv) - 1 >= hr - 1 THEN "
             f"substr(cv, 1, length(cv) - 1) || 'a' "
             f"WHEN right(cv, 1) = 'é' AND "
             f"length(cv) - 1 >= hr - 1 THEN "
             f"substr(cv, 1, length(cv) - 1) || 'e' "
             f"ELSE cv END")
    whens = []
    for suf in sorted(_CASE, key=len, reverse=True):
        n = len(suf)
        cut = f"substr({w}, 1, length({w}) - {n})"
        arm = let(engine, cut, "cv", inner)
        whens.append(f"WHEN {_ends(w, suf)} THEN CASE WHEN "
                     f"{_in_r1(w, n)} THEN {arm} ELSE {w} END")
    return "CASE " + " ".join(whens) + f" ELSE {w} END"


def hungarian_stem_sql(ref: str, engine: str) -> str:
    """Render the full stemmer over the (lowercase) token
    expression ``ref`` for ``engine`` in {'spark', 'duck'}: R1 is
    bound once as ``hr``, then the nine routines thread the word
    through nested lambda lets (w0..w8 -> result)."""
    cons = "bcdfghjklmnpqrstvwxyz0123456789"
    # consonant skeleton: vowels -> 'a', everything else -> 'b'
    skel = (f"translate(translate(g0, '{_VOWELS}', "
            f"'{'a' * len(_VOWELS)}'), '{cons}', "
            f"'{'b' * len(cons)}')")
    fc = "instr(g1, 'b')"       # first consonant (vowel-start)
    fv = "instr(g1, 'a')"       # first vowel (consonant-start)
    dig3 = f"substr(g0, {fc}, 3) = 'dzs'"
    dig2 = f"substr(g0, {fc}, 2) IN ({quote_list(_DIGRAPHS)})"
    # hr = 1-based start of R1; length+1 when R1 is empty
    hr = (f"CASE WHEN g1 = '' THEN 1 "
          f"WHEN left(g1, 1) = 'a' THEN "
          f"CASE WHEN {fc} = 0 THEN length(g0) + 1 "
          f"WHEN {dig3} THEN {fc} + 3 "
          f"WHEN {dig2} THEN {fc} + 2 "
          f"ELSE {fc} + 1 END "
          f"ELSE CASE WHEN {fv} = 0 THEN length(g0) + 1 "
          f"ELSE {fv} + 1 END END")

    stages = [
        lambda w: _doubled_sql(w, _INSTRUM),
        lambda w: _case_sql(w, engine),
        lambda w: _simple_sql(w, _CASE_SPECIAL),
        lambda w: _simple_sql(w, _CASE_OTHER),
        lambda w: _doubled_sql(w, _FACTIVE),
        lambda w: _simple_sql(w, _OWNED),
        lambda w: _simple_sql(w, _SING_OWNER),
        lambda w: _simple_sql(w, _PLUR_OWNER),
        lambda w: _simple_sql(w, _PLURAL),
    ]
    body = f"w{len(stages)}"
    for i in range(len(stages) - 1, -1, -1):
        body = let(engine, stages[i](f"w{i}"), f"w{i + 1}", body)
    body = let(engine, "g0", "w0", body)
    body = let(engine, hr, "hr", body)
    body = let(engine, skel, "g1", body)
    return let(engine, ref, "g0", body)
