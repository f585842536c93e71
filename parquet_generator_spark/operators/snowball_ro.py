"""Romanian snowball stemmer (the snowballstem.org `romanian`
algorithm, ES/Lucene's ``romanian`` stemmer filter) as a plan-time
Python twin plus a portable-SQL generator — language ten of the
analyzer registry (VERDICT r11 next-round #6).

Orthography: the original algorithm's cedilla forms ş (U+015F) and
ţ (U+0163) are used throughout (the registry charset admits exactly
these — comma-below variants are a separate normalization concern
upstream of the stemmer).

Design (the snowball_nl.py posture — a CARRIED marked skeleton,
because step 3's guard tests letter CLASS after earlier cuts):

- Prelude: ``i`` and ``u`` between vowels are marked CONSONANTS
  (romanian.sbl's I/U uppercasing, carried as skeleton class only).
  Marking uses replace passes over a 3-symbol alphabet in three
  rounds (the snowball_fr.py approximation posture for >= 3-run
  clusters).
- RV is the Spanish three-case rule; R1/R2 standard; all computed
  ONCE from the marked skeleton and carried.
- Step 0 (plurals, R1 arm conditions, longest textual, arm failure
  ends the step): ul/ului delete; aua -> a; ea/ele/elor -> e;
  ii/iua/iei/iile/iilor/ilor -> i; ile -> i when not preceded by
  ab; atei -> at; aţie/aţia -> aţi.
- Step 1 (combining suffixes, R1, REPEATED): abilitate-family ->
  abil, ibilitate -> ibil, ivitate-family -> iv, icitate/icator/
  iciv/ical families -> ic, ativ/aţiune/atoare families -> at,
  itiv/iţiune/itoare families -> it. The repeat is bounded to
  ``_S1_ROUNDS`` identical rounds in BOTH twins (combining
  suffixes stack at most twice in real vocabulary — each round
  strips >= 2 chars and must re-expose another full >= 4-char
  entry; documented bounded unroll, the scripted-metric posture —
  and the Python twin is bounded IDENTICALLY, so engine parity is
  structural).
- Step 2 (standard suffixes, R2): the delete list (at/ut/it/ic/
  abil/ibil/oas/os/ant/ator/itate/iv families); iune/iuni delete
  when preceded by ţ with the ţ becoming t; the ism/ist family ->
  ist. Steps 1 and 2 set the removed flag.
- Step 3 (verb suffixes; only when the flag is unset) is an
  RV-LIMITED among (a longer suffix outside RV falls back to a
  shorter one inside — setlimit semantics): group (a) deletes when
  preceded in RV by a consonant or ``u`` (infinitives are/ere/ire/
  âre, gerunds ind/ând/indu/ându, presents ez/ezi/eze/ează/esc/
  eşti/eşte/ăsc/ăşti/ăşte, imperfects am/ai/au/eam/eai/eau/iam/
  iai/iau, perfects ui/uşi/aşi/arăm/arăţi/ară/erăm/erăţi/eră/irăm/
  irăţi/iră/ârăm/ârăţi/âră, pluperfects asem/aseşi/ase/aserăm/
  aserăţi/aseră and the i/â/u-stem series); group (b) deletes
  unconditionally (person endings ăm/aţi/em/eţi/im/iţi/âm/âţi and
  the se-series seşi/serăm/serăţi/seră/sei/se/sesem/seseşi/sese/
  seserăm/seserăţi/seseră).
- Step 4 (final vowel): a/e/i/ie/ă in RV (RV-limited) is deleted.

The SQL subset (CASE/right/substr/length/instr/translate/replace/
IN, struct binding) evaluates identically in Spark SQL and DuckDB;
parity is pinned three ways in tests/test_snowball_ro.py
(hand-traced vectors + Hypothesis).
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

# true vowels (i and u go through the marking pass)
_TRUE_VOWELS = "aăâeîo"
_S1_ROUNDS = 2

# marking: i/u between vowel-class letters become consonants; both
# collapse to symbol 'i' (no later step distinguishes their CLASS —
# step 3's guard tests the literal letter u on the word itself)
_MARK_PATTERNS = [(left + "i" + right, left + "b" + right)
                  for left in "ai" for right in "ai"]
_MARK_ROUNDS = 3

# ---- step tables (suffix -> replacement; None = delete) ----------

_STEP0 = [
    ("ul", None), ("ului", None),
    ("aua", "a"),
    ("ea", "e"), ("ele", "e"), ("elor", "e"),
    ("ii", "i"), ("iua", "i"), ("iei", "i"), ("iile", "i"),
    ("iilor", "i"), ("ilor", "i"),
    ("ile", "i"),              # guarded: not preceded by ab
    ("atei", "at"),
    # canonical-probed r13: aţie reduces, aţia DELETES (bâbugăaţia
    # -> bâbug via the ă vowel step; beziaţie -> beziaţ)
    ("aţie", "aţi"), ("aţia", None),
]

_STEP1 = (
    [(s, "abil") for s in
     ("abilitate", "abilitati", "abilităi", "abilităţi")]
    + [("ibilitate", "ibil")]
    + [(s, "iv") for s in
       ("ivitate", "ivitati", "ivităi", "ivităţi")]
    + [(s, "ic") for s in
       ("icitate", "icitati", "icităi", "icităţi", "icator",
        "icatori", "iciv", "iciva", "icive", "icivi", "icivă",
        "ical", "icala", "icale", "icali", "icală")]
    + [(s, "at") for s in
       ("ativ", "ativa", "ative", "ativi", "ativă", "aţiune",
        "atoare", "ator", "atori", "ătoare", "ător", "ători")]
    + [(s, "it") for s in
       ("itiv", "itiva", "itive", "itivi", "itivă", "iţiune",
        "itoare", "itor", "itori")]
)

_STEP2_DEL = (
    "at", "ata", "ată", "ati", "ate", "ut", "uta", "ută", "uti",
    "ute", "it", "ita", "ită", "iti", "ite", "ic", "ica", "ice",
    "ici", "ică", "abil", "abila", "abile", "abili", "abilă",
    "ibil", "ibila", "ibile", "ibili", "ibilă", "oasa", "oasă",
    "oase", "os", "osi", "oşi", "ant", "anta", "ante", "anti",
    "antă", "ator", "atori", "itate", "itati", "ităi", "ităţi",
    "iv", "iva", "ive", "ivi", "ivă")
_STEP2_IUNE = ("iune", "iuni")      # delete + preceding ţ -> t
_STEP2_IST = ("ism", "isme", "ist", "ista", "iste", "isti",
              "istă", "işti")       # -> ist

# canonical entry list (r13: probed suffix-by-suffix against the
# canonical implementation — the perfect series runs a/i/â/U, there
# is NO e-series 'eră/erăm/erăţi', and the subjunctive 'ească' is
# an entry alongside 'ează')
_STEP3_A = (
    "are", "ere", "ire", "âre", "ind", "ând", "indu", "ându",
    "eze", "ează", "ească", "ez", "ezi", "esc", "eşti", "eşte",
    "ăsc", "ăşti", "ăşte", "am", "ai", "au", "eam", "eai", "eau",
    "iam", "iai", "iau", "ui", "uşi", "aşi", "arăm", "arăţi",
    "ară", "urăm", "urăţi", "ură", "irăm", "irăţi", "iră", "ârăm",
    "ârăţi", "âră", "asem", "aseşi", "ase", "aserăm", "aserăţi",
    "aseră", "isem", "iseşi", "ise", "iserăm", "iserăţi", "iseră",
    "âsem", "âseşi", "âse", "âserăm", "âserăţi", "âseră", "usem",
    "useşi", "use", "userăm", "userăţi", "useră")
_STEP3_B = (
    "ăm", "aţi", "em", "eţi", "im", "iţi", "âm", "âţi", "seşi",
    "serăm", "serăţi", "seră", "sei", "se", "sesem", "seseşi",
    "sese", "seserăm", "seserăţi", "seseră")

# 'ia' and 'âi' are snowball 2.x additions (canonical-probed r13:
# familia/istoria lose the full 'ia'; becîgâi loses 'âi'); both
# match only when the char BEFORE them is itself inside RV (dâcia
# -> dâci keeps the boundary i — probed at the RV edge), so they
# carry a preceded-in-RV match guard the single vowels don't
_STEP4 = ("a", "e", "i", "ie", "ia", "âi", "ă")
_STEP4_PREV_RV = ("ia", "âi")


def _mark_skeleton(w: str) -> str:
    """Marked CV skeleton (a=vowel, b=consonant) of a lowercase
    token."""
    s = "".join(
        "a" if ch in _TRUE_VOWELS
        else ("i" if ch in "iu" else "b")
        for ch in w)
    for _ in range(_MARK_ROUNDS):
        for pat, rep in _MARK_PATTERNS:
            s = s.replace(pat, rep)
    return s.replace("i", "a")


def _regions(w: str, c: str) -> tuple[int, int, int]:
    """(rv, r1, r2) as 1-based region starts; len+1 = empty. RV per
    the Spanish three-case rule (the snowball_es.py arithmetic)."""
    n = len(w)
    if n < 3:
        rv = n + 1
    elif c[1] == "b":
        j = c.find("a", 2)
        rv = n + 1 if j < 0 else j + 2
    elif c[0] == "a" and c[1] == "a":
        j = c.find("b", 2)
        rv = n + 1 if j < 0 else j + 2
    else:
        rv = 4
    p1 = c.find("ab") + 1
    if p1 == 0:
        return rv, n + 1, n + 1
    r1 = p1 + 2
    q = c[r1 - 1:].find("ab") + 1
    r2 = n + 1 if q == 0 else r1 + q + 1
    return rv, r1, r2


def _cvof(rep: str) -> str:
    """Skeleton of a fixed replacement (appended text takes plain
    letter classes; no marking applies to spliced-in suffixes)."""
    return "".join("a" if ch in _TRUE_VOWELS + "iu" else "b"
                   for ch in rep)


def romanian_stem(word: str) -> str:
    """Plan-time Python twin of :func:`romanian_stem_sql`
    (identical step structure and region arithmetic, including the
    bounded step-1 repeat)."""
    w = word
    c = _mark_skeleton(w)
    rv, r1, r2 = _regions(w, c)

    def pos(k: int) -> int:
        return len(w) - k + 1

    def in_rv(k: int) -> bool:
        return pos(k) >= rv

    def in_r1(k: int) -> bool:
        return pos(k) >= r1

    def in_r2(k: int) -> bool:
        return pos(k) >= r2

    def cut(k: int, rep: str = "") -> None:
        nonlocal w, c
        w = w[:len(w) - k] + rep
        c = c[:len(c) - k] + _cvof(rep)

    def unmarked(s: str) -> bool:
        """among-literal match guard: every i/u inside the entry
        must sit on an UNMARKED skeleton position — a marked I/U is
        a different letter and the entry does not match at all."""
        n = len(s)
        return all(ch not in "iu" or c[len(w) - n + j] == "a"
                   for j, ch in enumerate(s))

    removed = False

    # ---- step 0: plurals (longest textual; R1 arm) ---------------
    # among-literal semantics (r13 canonical fuzz): a MARKED i/u is
    # a different letter, so an entry whose i/u sits on a marked
    # position does not match at all and shorter entries keep
    # competing (copiii = copiIi never matches 'ii'; the final
    # vowel step then yields copii, the canonical output). R1 and
    # the ile-after-ab guard are ARM conditions (commit-then-test:
    # goicatori commits to 'icatori' and fails R1 without falling
    # back). A step-0 removal GATES the verb step like steps 1-2
    # (beziaţie stops at beziaţ, canonical-probed).
    for s, rep in sorted(_STEP0, key=lambda t: len(t[0]),
                         reverse=True):
        n = len(s)
        if w.endswith(s) and unmarked(s):
            if in_r1(n):
                if s == "ile" and w[:len(w) - n].endswith("ab"):
                    break
                cut(n, rep or "")
                removed = True
            break

    # ---- step 1: combining suffixes (R1 arm, bounded repeat) -----
    for _ in range(_S1_ROUNDS):
        hit = False
        for s, rep in sorted(_STEP1, key=lambda t: len(t[0]),
                             reverse=True):
            n = len(s)
            if w.endswith(s):
                if in_r1(n):
                    cut(n, rep)
                    removed = True
                    hit = True
                break
        if not hit:
            break

    # ---- step 2: standard suffixes (R2-limited) ------------------
    s2 = ([(s, "") for s in _STEP2_DEL]
          + [(s, "IUNE") for s in _STEP2_IUNE]
          + [(s, "ist") for s in _STEP2_IST])
    for s, rep in sorted(s2, key=lambda t: len(t[0]), reverse=True):
        n = len(s)
        if w.endswith(s) and unmarked(s):
            # R2 is an ARM condition here (commit-then-test:
            # băbitate keeps its 'itate' when R2 is too short —
            # canonical-probed), unlike the RV/R1 setlimits
            if in_r2(n):
                if rep == "IUNE":
                    # commit-then-test: a iune/iuni without the
                    # preceding ţ fails the whole step
                    i = len(w) - n - 1
                    if i >= 0 and w[i] == "ţ":
                        cut(n + 1, "t")
                        removed = True
                elif rep:
                    cut(n, rep)
                    removed = True
                else:
                    cut(n)
                    removed = True
            break

    # ---- step 3: verb suffixes (RV-LIMITED among; flag-gated) ----
    # ONE among, commit-then-test (r13 canonical fuzz): the longest
    # matching entry either deletes or fails the whole step; the
    # group-1 condition reads the MARKED skeleton (a marked I/U
    # counts as a consonant), and a marked letter inside an entry
    # blocks the match itself (shorter entries keep competing).
    if not removed:
        s3 = ([(s, "A") for s in _STEP3_A]
              + [(s, "B") for s in _STEP3_B])
        for s, grp in sorted(s3, key=lambda t: len(t[0]),
                             reverse=True):
            n = len(s)
            if w.endswith(s) and in_rv(n) and unmarked(s):
                if grp == "B":
                    cut(n)
                else:
                    p = len(w) - n  # 1-based pos of preceding char
                    if (p >= rv
                            and (c[p - 1] == "b"
                                 or w[p - 1] == "u")):
                        cut(n)
                break

    # ---- step 4: final vowel (RV-limited; marked i immune) --------
    for s in sorted(_STEP4, key=len, reverse=True):
        n = len(s)
        if w.endswith(s) and in_rv(n) and unmarked(s):
            if s in _STEP4_PREV_RV and (
                    len(w) - n < rv
                    or c[len(w) - n - 1] != "b"):
                continue   # preceded-in-RV-consonant match guard
            cut(n)
            break
    return w


# ------------------------------------------------------------------
# portable-SQL generator
# ------------------------------------------------------------------

class _Frag(Frag):
    """Fragments over a bound (w, c, rv, r1, r2, f) struct."""

    FIELDS = ("w", "c", "rv", "r1", "r2", "f")
    cv = staticmethod(_cvof)


def _unmarked_sql(x: _Frag, s: str) -> list:
    """among-literal marked-letter guard (see the twin): every i/u
    inside the entry must sit on an UNMARKED skeleton position or
    the entry does not match (shorter entries keep competing)."""
    return [f"substr({x.c}, {x.ln} - {n1}, 1) = 'a'"
            for n1 in (len(s) - 1 - j for j, ch in enumerate(s)
                       if ch in "iu")]


def _s0_sql(x: _Frag) -> str:
    whens = []
    for s, rep in sorted(_STEP0, key=lambda t: len(t[0]),
                         reverse=True):
        n = len(s)
        # marked guard gates the MATCH; R1 (and the ile-after-ab
        # test) are ARM conditions — commit-then-test. A step-0 cut
        # raises the removed flag (gates the verb step).
        match = " AND ".join([x.ends(s)] + _unmarked_sql(x, s))
        if s == "ile":
            guard = (f"{x.in_r1(n)} AND "
                     f"NOT ({x.ln} - {n} >= 2 AND "
                     f"substr({x.w}, {x.ln} - {n} - 1, 2) = 'ab')")
        else:
            guard = x.in_r1(n)
        arm = (f"CASE WHEN {guard} "
               f"THEN {x.cut(n, rep or '', f=chr(39) + '1' + chr(39))} "
               f"ELSE {x.keep()} END")
        whens.append(f"WHEN {match} THEN ({arm})")
    return "CASE " + " ".join(whens) + f" ELSE {x.keep()} END"


def _s1_sql(x: _Frag) -> str:
    whens = []
    for s, rep in sorted(_STEP1, key=lambda t: len(t[0]),
                         reverse=True):
        n = len(s)
        cut1 = x.cut(n, rep, f="'1'")
        arm = (f"CASE WHEN {x.in_r1(n)} THEN {cut1} "
               f"ELSE {x.keep()} END")
        whens.append(f"WHEN {x.ends(s)} THEN ({arm})")
    return "CASE " + " ".join(whens) + f" ELSE {x.keep()} END"


def _s2_sql(x: _Frag) -> str:
    entries = ([(s, "") for s in _STEP2_DEL]
               + [(s, "IUNE") for s in _STEP2_IUNE]
               + [(s, "ist") for s in _STEP2_IST])
    whens = []
    for s, rep in sorted(entries, key=lambda t: len(t[0]),
                         reverse=True):
        n = len(s)
        match = " AND ".join([x.ends(s)] + _unmarked_sql(x, s))
        # R2 is an ARM condition (commit-then-test), unlike the
        # RV/R1 setlimits — see the twin
        if rep == "IUNE":
            tz = (f"{x.ln} - {n} >= 1 AND "
                  f"substr({x.w}, {x.ln} - {n}, 1) = 'ţ'")
            arm = (f"CASE WHEN {x.in_r2(n)} AND {tz} "
                   f"THEN {x.cut(n + 1, 't', f=chr(39) + '1' + chr(39))} "
                   f"ELSE {x.keep()} END")
        else:
            arm = (f"CASE WHEN {x.in_r2(n)} "
                   f"THEN {x.cut(n, rep, f=chr(39) + '1' + chr(39))} "
                   f"ELSE {x.keep()} END")
        whens.append(f"WHEN {match} THEN ({arm})")
    return "CASE " + " ".join(whens) + f" ELSE {x.keep()} END"


def _s3_sql(x: _Frag) -> str:
    entries = ([(s, "A") for s in _STEP3_A]
               + [(s, "B") for s in _STEP3_B])
    whens = []
    for s, grp in sorted(entries, key=lambda t: len(t[0]),
                         reverse=True):
        n = len(s)
        match = " AND ".join(
            [x.ends(s), x.in_rv(n)] + _unmarked_sql(x, s))
        if grp == "B":
            arm = x.cut(n)
        else:
            p = f"{x.ln} - {n}"   # 1-based pos of preceding char
            guard = (f"{p} >= {x.rv} AND "
                     f"(substr({x.c}, {p}, 1) = 'b' OR "
                     f"substr({x.w}, {p}, 1) = 'u')")
            arm = (f"CASE WHEN {guard} THEN {x.cut(n)} "
                   f"ELSE {x.keep()} END")
        whens.append(f"WHEN {match} THEN ({arm})")
    inner = "CASE " + " ".join(whens) + f" ELSE {x.keep()} END"
    return (f"CASE WHEN {x.f} = '0' THEN ({inner}) "
            f"ELSE {x.keep()} END")


def _s4_sql(x: _Frag) -> str:
    whens = []
    for s in sorted(_STEP4, key=len, reverse=True):
        n = len(s)
        conds = ([x.ends(s), x.in_rv(n)] + _unmarked_sql(x, s))
        if s in _STEP4_PREV_RV:
            # preceded-in-RV-consonant match guard (see the twin)
            conds.append(f"{x.ln} - {n} >= {x.rv}")
            conds.append(
                f"substr({x.c}, {x.ln} - {n}, 1) = 'b'")
        whens.append(f"WHEN {' AND '.join(conds)} THEN {x.cut(n)}")
    return "CASE " + " ".join(whens) + f" ELSE {x.keep()} END"


def romanian_stem_sql(ref: str, engine: str) -> str:
    """Render the stemmer over the (lowercase) token expression
    ``ref`` for ``engine`` in {'spark', 'duck'} — let-bound steps
    over a carried (w, c, rv, r1, r2, f) struct, with step 1
    unrolled ``_S1_ROUNDS`` times (each successful round strips
    >= 2 chars, so the unroll covers any real token)."""
    cons = "".join(ch for ch in
                   "bcdfghjklmnpqrstvwxyz0123456789şţ"
                   if ch not in _TRUE_VOWELS)
    k = (f"translate(translate(translate(g0, '{_TRUE_VOWELS}', "
         f"'{'a' * len(_TRUE_VOWELS)}'), 'iu', 'ii'), "
         f"'{cons}', '{'b' * len(cons)}')")
    marked = "k0"
    for _ in range(_MARK_ROUNDS):
        for pat, rep in _MARK_PATTERNS:
            marked = f"replace({marked}, '{pat}', '{rep}')"
    marked = f"replace({marked}, 'i', 'a')"

    seed = struct(engine, w="g1.w", c="g1.c", rv=RV3, r1=R1, r2=R2,
                  f="'0'")
    steps = ([_s0_sql] + [_s1_sql] * _S1_ROUNDS
             + [_s2_sql, _s3_sql, _s4_sql])
    body = chain(engine, _Frag, seed, steps, f"x{len(steps)}.w")
    body = let(engine, struct(engine, w="g0", c=marked), "g1", body)
    body = let(engine, k, "k0", body)
    return let(engine, ref, "g0", body)
