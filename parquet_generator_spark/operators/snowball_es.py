"""Spanish snowball stemmer (the canonical snowballstem.org
`spanish` algorithm, ES/Lucene's ``spanish`` stemmer filter) as a
plan-time Python twin plus a portable-SQL generator — completing the
german/french/spanish trio VERDICT r10 named for a multilingual
corpus.

Design (the snowball_fr.py posture):

- RV (the Spanish three-case rule) + R1/R2 computed ONCE from a CV
  skeleton and carried as fixed positions; the skeleton is carried
  in lockstep for the one letter-class back-test (none needed in
  the step conditions — Spanish has NO prelude marking, so the
  skeleton is a plain translate).
- Step 0 (attached pronouns): the pronoun must follow a gerund/
  infinitive base, the combination in RV; accented bases (iéndo/
  ándo/ár/ér/ír) also lose their accent. Rendered as one CASE over
  the COMBINED base+pronoun suffixes, longest-textual-first.
- Step 1 (standard suffixes): longest textual match, then the
  R1/R2 arm decides — arm failure ends the step (no fallback),
  exactly snowball among() without a region limit.
- Steps 2a/2b (verb suffixes) run only while earlier steps removed
  nothing (the `d` flag); their amongs are RV-limited, so a longer
  suffix outside RV falls back to a shorter one inside it. The
  gu->g undouble applies to en/es/éis/emos.
- Step 3 (residual vowel) always runs, then accents fold away.

The SQL subset (CASE/right/substr/length/instr/translate/IN, struct
binding) evaluates identically in Spark SQL and DuckDB; parity is
pinned three ways in tests/test_snowball_es.py (reference vectors +
Hypothesis).
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

_VOWELS = "aeiouáéíóúü"

# step 0: pronouns and the bases they may follow
_PRONOUNS = ["me", "se", "sela", "selo", "selas", "selos", "la",
             "le", "lo", "las", "les", "los", "nos"]
_BASES_ACCENT = {"iéndo": "iendo", "ándo": "ando", "ár": "ar",
                 "ér": "er", "ír": "ir"}
_BASES_PLAIN = ["ando", "iendo", "ar", "er", "ir"]

# step 1 groups
_S1_DEL_R2 = ["anza", "anzas", "ico", "ica", "icos", "icas", "ismo",
              "ismos", "able", "ables", "ible", "ibles", "ista",
              "istas", "oso", "osa", "osos", "osas", "amiento",
              "amientos", "imiento", "imientos"]
_S1_ADOR = ["adora", "ador", "ación", "adoras", "adores", "aciones",
            "ante", "antes", "ancia", "ancias"]
_S1_IDAD = ["idad", "idades"]
_S1_IVA = ["iva", "ivo", "ivas", "ivos"]

_S2A = ["ya", "ye", "yan", "yen", "yeron", "yendo", "yo", "yó",
        "yas", "yes", "yais", "yamos"]
_S2B_GU = ["en", "es", "éis", "emos"]
_S2B = ["arían", "arías", "arán", "arás", "aríais", "aría", "aréis",
        "aríamos", "aremos", "ará", "aré", "erían", "erías", "erán",
        "erás", "eríais", "ería", "eréis", "eríamos", "eremos",
        "erá", "eré", "irían", "irías", "irán", "irás", "iríais",
        "iría", "iréis", "iríamos", "iremos", "irá", "iré", "aba",
        "ada", "ida", "ía", "ara", "iera", "ad", "ed", "id", "ase",
        "iese", "aste", "iste", "an", "aban", "ían", "aran",
        "ieran", "asen", "iesen", "aron", "ieron", "ado", "ido",
        "ando", "iendo", "ió", "ar", "er", "ir", "as", "abas",
        "adas", "idas", "ías", "aras", "ieras", "ases", "ieses",
        "ís", "áis", "abais", "íais", "arais", "ierais", "aseis",
        "ieseis", "asteis", "isteis", "ados", "idos", "amos",
        "ábamos", "íamos", "imos", "áramos", "iéramos", "iésemos",
        "ásemos"]
_S3_DEL = ["os", "a", "o", "á", "í", "ó"]


def _skeleton(w: str) -> str:
    return "".join("a" if ch in _VOWELS else "b" for ch in w)


def _regions(w: str) -> tuple[int, int, int]:
    """(rv, r1, r2), 1-based region starts; len+1 = empty. RV per
    the Spanish three-case rule."""
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


def _step0_combos() -> list[tuple[str, int, str]]:
    """(combined suffix, pronoun length, base replacement) for every
    base x pronoun, longest combined first. Replacement '' means the
    base is kept as-is (plain groups); accented bases de-accent."""
    out = []
    for p in _PRONOUNS:
        for b, rep in _BASES_ACCENT.items():
            out.append((b + p, len(p), rep))
        for b in _BASES_PLAIN:
            out.append((b + p, len(p), ""))
        out.append(("uyendo" + p, len(p), ""))
    return sorted(out, key=lambda t: len(t[0]), reverse=True)


_STEP0 = _step0_combos()


def spanish_stem(word: str) -> str:
    """Plan-time Python twin of :func:`spanish_stem_sql` (identical
    step structure and region arithmetic)."""
    w = word
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

    # ---------------- step 0: attached pronouns -------------------
    for combo, plen, rep in _STEP0:
        if w.endswith(combo) and in_rv(len(combo)):
            cut(plen)
            if rep:
                cut(len(rep), rep)  # de-accent the base (same len)
            break

    changed = False

    # ---------------- step 1: standard suffixes -------------------
    def step1() -> bool:
        nonlocal w
        all_s1 = (_S1_DEL_R2 + _S1_ADOR + _S1_IDAD + _S1_IVA
                  + ["logía", "logías", "ución", "uciones",
                     "encia", "encias", "amente", "mente"])
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
        elif suf in _S1_ADOR:
            if not in_r2(n):
                return False
            cut(n)
            if w.endswith("ic") and in_r2(2):
                cut(2)
        elif suf in ("logía", "logías"):
            if not in_r2(n):
                return False
            cut(n, "log")
        elif suf in ("ución", "uciones"):
            if not in_r2(n):
                return False
            cut(n, "u")
        elif suf in ("encia", "encias"):
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
            if (w.endswith(("ante", "able", "ible"))
                    and in_r2(4)):
                cut(4)
        elif suf in _S1_IDAD:
            if not in_r2(n):
                return False
            cut(n)
            if w.endswith("abil") and in_r2(4):
                cut(4)
            elif w.endswith(("ic", "iv")) and in_r2(2):
                cut(2)
        else:  # iva/ivo/ivas/ivos
            if not in_r2(n):
                return False
            cut(n)
            if w.endswith("at") and in_r2(2):
                cut(2)
        return True

    def step2a() -> bool:
        nonlocal w
        for s in sorted(_S2A, key=len, reverse=True):
            n = len(s)
            if w.endswith(s) and in_rv(n):
                # must be preceded by u (the u itself need not be
                # in RV per the sbl cursor: test 'u' is outside the
                # setlimit? it is INSIDE — require u in RV)
                if (len(w) > n and w[-n - 1] == "u"
                        and pos(n) - 1 >= rv):
                    cut(n)
                    return True
                return False
        return False

    def step2b() -> bool:
        nonlocal w
        for s in sorted(_S2B_GU + _S2B, key=len, reverse=True):
            n = len(s)
            if w.endswith(s) and in_rv(n):
                cut(n)
                if s in _S2B_GU and w.endswith("gu"):
                    cut(1)  # the u of gu; gu need not be in RV
                return True
        return False

    changed = step1()
    if not changed:
        changed = step2a()
        if not changed:
            step2b()

    # ---------------- step 3: residual vowel (always) -------------
    done3 = False
    for s in _S3_DEL:
        if w.endswith(s) and in_rv(len(s)):
            cut(len(s))
            done3 = True
            break
    if not done3 and (w.endswith("e") or w.endswith("é")):
        if in_rv(1):
            cut(1)
            # the now-final u of a trailing 'gu' goes too when it
            # is itself in RV (the g need not be)
            if w.endswith("gu") and in_rv(1):
                cut(1)

    # ---------------- accents fold away ---------------------------
    return (w.replace("á", "a").replace("é", "e").replace("í", "i")
            .replace("ó", "o").replace("ú", "u"))


# ------------------------------------------------------------------
# portable-SQL generator
# ------------------------------------------------------------------

def _skeleton_sql(ref: str) -> str:
    s = (f"translate({ref}, '{_VOWELS}', '{'a' * len(_VOWELS)}')")
    cons = "bcdfghjklmnpqrstvwxyz0123456789ñç"
    return f"translate({s}, '{cons}', '{'b' * len(cons)}')"


class _Frag(Frag):
    """Fragments over a bound (w, rv, r1, r2, d) struct."""

    FIELDS = ("w", "rv", "r1", "r2", "d")
    CUT = {"d": "1"}


def _s0_sql(x: _Frag) -> str:
    whens = []
    for combo, plen, rep in _STEP0:
        if rep:
            # cut the pronoun AND de-accent the base (same length)
            n = plen + len(rep)
            arm = x.cut(n, rep, d="0")
        else:
            arm = x.cut(plen, d="0")
        whens.append(f"WHEN {x.ends(combo)} AND "
                     f"{x.in_rv(len(combo))} THEN {arm}")
    # step 0 never sets the step-1/2 'changed' flag (d stays 0)
    return "CASE " + " ".join(whens) + f" ELSE {x.st(d='0')} END"


def _s1_sql(x: _Frag) -> str:
    whens = []
    all_s1 = (_S1_DEL_R2 + _S1_ADOR + _S1_IDAD + _S1_IVA
              + ["logía", "logías", "ución", "uciones",
                 "encia", "encias", "amente", "mente"])
    for s in sorted(all_s1, key=len, reverse=True):
        n = len(s)
        if s in _S1_DEL_R2:
            arm = (f"CASE WHEN {x.in_r2(n)} THEN {x.cut(n)} "
                   f"ELSE {x.keep()} END")
        elif s in _S1_ADOR:
            arm = (f"CASE WHEN NOT {x.in_r2(n)} THEN {x.keep()} "
                   f"WHEN {x.ends('ic' + s)} AND {x.in_r2(n + 2)} "
                   f"THEN {x.cut(n + 2)} ELSE {x.cut(n)} END")
        elif s in ("logía", "logías"):
            arm = (f"CASE WHEN {x.in_r2(n)} THEN {x.cut(n, 'log')} "
                   f"ELSE {x.keep()} END")
        elif s in ("ución", "uciones"):
            arm = (f"CASE WHEN {x.in_r2(n)} THEN {x.cut(n, 'u')} "
                   f"ELSE {x.keep()} END")
        elif s in ("encia", "encias"):
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
                f"WHEN ({x.ends('ante' + s)} OR {x.ends('able' + s)} "
                f"OR {x.ends('ible' + s)}) AND {x.in_r2(n + 4)} "
                f"THEN {x.cut(n + 4)} "
                f"ELSE {x.cut(n)} END")
        elif s in _S1_IDAD:
            arm = (
                f"CASE WHEN NOT {x.in_r2(n)} THEN {x.keep()} "
                f"WHEN {x.ends('abil' + s)} AND {x.in_r2(n + 4)} "
                f"THEN {x.cut(n + 4)} "
                f"WHEN ({x.ends('ic' + s)} OR {x.ends('iv' + s)}) "
                f"AND {x.in_r2(n + 2)} THEN {x.cut(n + 2)} "
                f"ELSE {x.cut(n)} END")
        else:  # iva/ivo/ivas/ivos
            arm = (
                f"CASE WHEN NOT {x.in_r2(n)} THEN {x.keep()} "
                f"WHEN {x.ends('at' + s)} AND {x.in_r2(n + 2)} "
                f"THEN {x.cut(n + 2)} ELSE {x.cut(n)} END")
        whens.append(f"WHEN {x.ends(s)} THEN ({arm})")
    return "CASE " + " ".join(whens) + f" ELSE {x.keep()} END"


def _s2a_sql(x: _Frag) -> str:
    whens = []
    for s in sorted(_S2A, key=len, reverse=True):
        n = len(s)
        whens.append(
            f"WHEN {x.ends(s)} AND {x.in_rv(n)} THEN "
            f"(CASE WHEN {x.prev_char(n)} = 'u' AND "
            f"{x.prev_in_rv(n)} THEN {x.cut(n)} "
            f"ELSE {x.keep()} END)")
    return (f"CASE WHEN {x.d} = 1 THEN {x.keep()} "
            + " ".join(whens) + f" ELSE {x.keep()} END")


def _s2b_sql(x: _Frag) -> str:
    whens = []
    for s in sorted(_S2B_GU + _S2B, key=len, reverse=True):
        n = len(s)
        if s in _S2B_GU:
            arm = (f"CASE WHEN {x.ends('gu' + s)} "
                   f"THEN {x.cut(n + 1)} ELSE {x.cut(n)} END")
        else:
            arm = x.cut(n)
        whens.append(
            f"WHEN {x.ends(s)} AND {x.in_rv(n)} THEN ({arm})")
    return (f"CASE WHEN {x.d} = 1 THEN {x.keep()} "
            + " ".join(whens) + f" ELSE {x.keep()} END")


def _s3_sql(x: _Frag) -> str:
    whens = []
    for s in sorted(_S3_DEL, key=len, reverse=True):
        whens.append(f"WHEN {x.ends(s)} AND {x.in_rv(len(s))} "
                     f"THEN {x.cut(len(s))}")
    for e in ("e", "é"):
        whens.append(
            f"WHEN {x.ends(e)} AND {x.in_rv(1)} THEN "
            f"(CASE WHEN {x.ends('gu' + e)} AND "
            f"{x.prev_in_rv(1)} THEN {x.cut(2)} "
            f"ELSE {x.cut(1)} END)")
    return "CASE " + " ".join(whens) + f" ELSE {x.keep()} END"


def spanish_stem_sql(ref: str, engine: str) -> str:
    """Render the full stemmer over the (lowercase) token expression
    ``ref`` for ``engine`` in {'spark', 'duck'} — let-bound steps
    over a carried (w, rv, r1, r2, d) struct."""
    seed = struct(engine, w="g1.w", rv=RV3, r1=R1, r2=R2, d="0")
    body = chain(engine, _Frag, seed,
                 [_s0_sql, _s1_sql, _s2a_sql, _s2b_sql, _s3_sql],
                 "translate(x5.w, 'áéíóú', 'aeiou')")
    body = let(engine, struct(engine, w="g0", c=_skeleton_sql("g0")),
               "g1", body)
    return let(engine, ref, "g0", body)
