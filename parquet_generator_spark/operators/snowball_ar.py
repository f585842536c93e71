"""Arabic snowball stemmer (the canonical snowballstem.org `arabic`
algorithm, ES/Lucene's ``arabic`` stemmer filter) as a plan-time
Python twin plus a portable-SQL generator — language FOURTEEN of
the analyzer registry and the first with PREFIX stripping, boolean
flags, and script normalization.

Structure (arabic.sbl; decoded and verified suffix-by-suffix
against the canonical snowball 2.2 implementation shipped in
PostgreSQL 15 in round 13 — ~120k-word adversarial fuzz + real
vocabulary at ZERO divergence):

- Checks1 on the RAW word: a definite-article prefix (بال/كال with
  len>4, ال/لل with len>3) marks the word DEFINED (noun, not verb).
  The flag gates the verb suffix branch, the possessive/absolute
  noun suffixes, and the ب/س verb prefixes below.
- Normalize_pre: harakat + tatweel deleted; Presentation Forms-B
  (U+FE80-U+FEFC) fold to their base letters (lam-alef ligatures to
  two letters); arabic-indic digits fold to ASCII. Forms-A and the
  harakat presentation variants (U+FE70-7F) are NOT folded
  (probed per-codepoint).
- Suffix phase (one pass): the VERB branch (undefined words only)
  repeats Suffix_Verb_Step1 (object/subject pronouns) until fail —
  `atleast 1` in the canonical source — then tries Step2a else
  Step2c, or (when Step1 never fired) Step2b else Step2a. The NOUN
  branch then runs if the verb branch never fired: a try-chain
  (ة | possessives+case | ن | bare ا/ي/و | ات) followed by Step3
  (final ي), whose failure — with the chain's deletions KEPT
  (snowball `or` backtracking restores the cursor, never string
  edits) — falls through to the alef-maqsura fold (ى -> ي).
  All amongs are longest-match COMMIT: a too-short تمو blocks the
  bare و (قعتموه -> قعتمو), a too-short ان blocks the bare ن
  (دجران -> دجران).
- Prefix phase — CURSOR-SEQUENTIAL (the subtle part): the
  canonical do-block runs `try Prefix_Step1  try Prefix_Step2
  ( Step3a or Step3b or verb steps )` in snowball FORWARD mode
  without resetting the cursor, so Step1's rewrite (أأ/أا/أآ/أؤ/أإ
  -> أ) leaves the cursor after the kept alef and the later steps
  match THERE: أإبطحا -> step1 -> أ|بطحا -> step3b strips the ب
  inside the word -> اطحا. Step2 strips a leading و/ف conjunction
  (blocked before plain ا: والكتاب stays whole); Step3a strips
  بال/كال (len>5), ال/لل (len>4); Step3b (undefined) strips ب (not
  before ا — بادصهظكع keeps it), folds بب/كك; the verb steps
  (undefined) rewrite س+ي/ت/ن/أ imperfects and يست/نست/تست -> است.
- Normalize_post: a FINAL hamza carrier (أ إ آ ؤ ئ) becomes bare
  ء; remaining carriers fold to ا/و/ي. A word that reduces to
  nothing (pure diacritics) comes back unchanged.

Documented bound (the romanian _S1_ROUNDS posture): the canonical
`atleast 1 Suffix_Verb_Step1` is unbounded; this implementation
unrolls it ``_V1_ROUNDS`` (= 8) times in BOTH the Python twin and
the SQL so the three-way parity is exact. Real Arabic stacks at
most 2-3 pronoun suffixes; divergence from the canonical
implementation starts only at >= 9 stacked suffixes on one token
(regression-pinned in tests/test_snowball_ar.py).

The SQL subset (CASE/right/left/substr/length/translate/replace,
nested lambda lets) evaluates identically in Spark SQL and DuckDB.

Reference anchor: the reference tool analyzes text with ES/Lucene
analyzers at write time (reference EsParquetWriter.java:69);
`arabic` is one of ES's packaged language analyzers.
"""

from __future__ import annotations

from parquet_generator_spark.operators.stem_sql import let, quote_list

A = "ا"      # ا
HAMZA = "ء"  # ء
AHA = "أ"    # أ
AHB = "إ"    # إ
AMD = "آ"    # آ
WHZ = "ؤ"    # ؤ
YHZ = "ئ"    # ئ
YEH = "ي"    # ي
WAW = "و"    # و
AMQ = "ى"    # ى
TM = "ة"     # ة
B = "ب"      # ب
T = "ت"      # ت
K = "ك"      # ك
L = "ل"      # ل
M = "م"      # م
N = "ن"      # ن
H = "ه"      # ه
F = "ف"      # ف
S = "س"      # س

_DIACRITICS = "ًٌٍَُِّْ"
_TATWEEL = "ـ"

_V1_ROUNDS = 8

# Presentation Forms-B one-to-one folds (base letters + digits)
import unicodedata as _ud

_P_FROM, _P_TO, _LIGS = [], [], {}
for _cp in range(0xFE80, 0xFEFD):
    _ch = chr(_cp)
    _d = _ud.normalize("NFKC", _ch)
    if _d == _ch:
        continue
    if len(_d) == 1:
        _P_FROM.append(_ch)
        _P_TO.append(_d)
    else:
        _LIGS[_ch] = _d
for _i in range(10):
    _P_FROM.append(chr(0x0660 + _i))
    _P_TO.append(str(_i))
    _P_FROM.append(chr(0x06F0 + _i))
    _P_TO.append(str(_i))
_P_FROM = "".join(_P_FROM)
_P_TO = "".join(_P_TO)

# suffix tables: (suffix, min total length)
_V1 = ((H + M + A, 6), (K + M + A, 6), (K + M + WAW, 6),
       (N + A, 5), (H + A, 5), (H + M, 5), (H + N, 5),
       (K + M, 5), (K + N, 5), (N + YEH, 5),
       (K, 4), (H, 4))
_V2A = ((T + M + A, 6), (N + A, 5), (T + A, 5), (T + N, 5),
        (A + N, 6), (WAW + N, 6), (YEH + N, 6),
        (T, 4), (A, 4), (N, 4), (YEH, 4))
_V2B = ((WAW + A, 5), (T + M, 5))
_V2C = ((T + M + WAW, 6), (WAW, 4))
_N1A = ((K + M + A, 6), (H + M + A, 6),
        (N + A, 5), (K + M, 5), (H + M, 5), (H + N, 5), (K + N, 5),
        (YEH, 4), (K, 4), (H, 4))


def normalize_pre(w: str) -> str:
    out = []
    for ch in w:
        if ch in _DIACRITICS or ch == _TATWEEL:
            continue
        if ch in _LIGS:
            out.append(_LIGS[ch])
            continue
        i = _P_FROM.find(ch)
        out.append(_P_TO[i] if i >= 0 else ch)
    return "".join(out)


def normalize_post(w: str) -> str:
    if w and w[-1] in (AHA, AHB, AMD, WHZ, YHZ):
        w = w[:-1] + HAMZA
    return (w.replace(AHA, A).replace(AHB, A).replace(AMD, A)
            .replace(WHZ, WAW).replace(YHZ, YEH))


def _strip(w: str, table) -> str | None:
    """Longest-match COMMIT: the longest textually-matching entry
    decides; its length condition failing fails the whole among."""
    best = None
    for suf, need in table:
        if w.endswith(suf) and (best is None
                                or len(suf) > len(best[0])):
            best = (suf, need)
    if best and len(w) >= best[1]:
        return w[:len(w) - len(best[0])]
    return None


def arabic_stem(word: str) -> str:
    """Plan-time Python twin of :func:`arabic_stem_sql` (identical
    branch structure, commit semantics and the _V1_ROUNDS bound)."""
    w = word
    defined = ((w.startswith((B + A + L, K + A + L)) and len(w) > 4)
               or (w.startswith((A + L, L + L)) and len(w) > 3))
    w = normalize_pre(w)

    # ---- suffixes ----
    verb_ok = False
    if not defined:
        v = _strip(w, _V1)
        if v is not None:
            for _ in range(_V1_ROUNDS - 1):
                nxt = _strip(v, _V1)
                if nxt is None:
                    break
                v = nxt
            a = _strip(v, _V2A)
            w = a if a is not None else v
            if a is None:
                c = _strip(v, _V2C)
                if c is not None:
                    w = c
            verb_ok = True
        else:
            b2 = _strip(w, _V2B)
            if b2 is not None:
                w = b2
                verb_ok = True
            else:
                a2 = _strip(w, _V2A)
                if a2 is not None:
                    w = a2
                    verb_ok = True

    if not verb_ok:
        # noun try-chain (deletions kept even when step3 fails)
        if w.endswith(TM) and len(w) >= 4:
            w = w[:-1]
        else:
            done = False
            if not defined:
                s = _strip(w, _N1A)
                if s is not None:
                    w = s
                    done = True
            if not done and w.endswith(N) and len(w) > 5:
                w = w[:-1]
                done = True
            if done:
                if w and w[-1] in (A, YEH, WAW) and len(w) > 4:
                    w = w[:-1]
                elif w.endswith(A + T) and len(w) >= 5:
                    w = w[:-2]
                elif w.endswith(T) and len(w) >= 4:
                    w = w[:-1]
            elif (not defined and w and w[-1] in (A, YEH, WAW)
                    and len(w) > 4):
                w = w[:-1]
            elif w.endswith(A + T) and len(w) >= 5:
                w = w[:-2]
        if w.endswith(YEH) and len(w) >= 3:
            w = w[:-1]
        elif w.endswith(AMQ):
            w = w[:-1] + YEH

    # ---- prefixes (cursor-sequential) ----
    p = ""
    if len(w) > 3 and w[:2] in (AHA + AHA, AHA + A, AHA + AMD,
                                AHA + WHZ, AHA + AHB):
        p, w = AHA, w[2:]
    tot = len(p) + len(w)
    if (tot > 3 and w and w[0] in (WAW, F)
            and not (len(w) > 1 and w[1] == A)):
        w = w[1:]
        tot -= 1
    matched = False
    for pre, need in ((B + A + L, 5), (K + A + L, 5),
                      (A + L, 4), (L + L, 4)):
        if w.startswith(pre) and tot > need:
            w = w[len(pre):]
            matched = True
            break
    if not matched and not defined:
        if tot > 3 and w.startswith(B + B):
            w = B + w[2:]
            matched = True
        elif tot > 3 and w.startswith(K + K):
            w = K + w[2:]
            matched = True
        elif (tot > 3 and w.startswith(B)
                and not w.startswith(B + A)):
            w = w[1:]
            matched = True
        if not matched:
            # verb prefixes, cursor-sequential like the rest of the
            # pass: Step3's rewrite (س+ي/ت/ن/أ -> kept 2nd char)
            # advances the cursor past the kept char, and Step4
            # (يست/نست/تست -> است) matches THERE — so سيستدجر stops
            # at يستدجر (the rewritten ي shields ست) while سأتستظ
            # chains to أ+استظ (canonical-probed); Step4's length
            # gate uses the POST-Step3 total
            off = 0
            if tot > 4:
                for pre, rep in ((S + YEH, YEH), (S + T, T),
                                 (S + N, N), (S + AHA, AHA)):
                    if w.startswith(pre):
                        w = rep + w[2:]
                        tot -= 1
                        off = 1
                        break
            if (tot > 4
                    and w[off:].startswith((YEH + S + T, N + S + T,
                                            T + S + T))):
                w = w[:off] + A + S + T + w[off + 3:]

    w = p + w
    w = normalize_post(w)
    return w if w else word


# ------------------------------------------------------------------
# portable-SQL generator
# ------------------------------------------------------------------

def _strip_sql(w: str, table) -> str:
    """Longest-match-commit among as a CASE; keeps ``w`` on a
    failed length condition (the no-fallback semantics)."""
    by_len: dict[int, list] = {}
    for suf, need in table:
        by_len.setdefault(len(suf), []).append((suf, need))
    whens = []
    for ln in sorted(by_len, reverse=True):
        needs = sorted({nd for _, nd in by_len[ln]})
        for nd in needs:
            sufs = [s for s, n in by_len[ln] if n == nd]
            whens.append(
                f"WHEN right({w}, {ln}) IN ({quote_list(sufs)}) THEN "
                f"CASE WHEN length({w}) >= {nd} THEN "
                f"substr({w}, 1, length({w}) - {ln}) "
                f"ELSE {w} END")
    return "CASE " + " ".join(whens) + f" ELSE {w} END"


def _post23_sql(u: str) -> str:
    """Noun steps 2a-else-2b-else-2c1 applied after a successful
    1a/1b strip."""
    return (f"CASE WHEN right({u}, 1) IN ('{A}', '{YEH}', "
            f"'{WAW}') AND length({u}) > 4 THEN "
            f"substr({u}, 1, length({u}) - 1) "
            f"WHEN right({u}, 2) = '{A}{T}' AND length({u}) >= 5 "
            f"THEN substr({u}, 1, length({u}) - 2) "
            f"WHEN right({u}, 1) = '{T}' AND length({u}) >= 4 "
            f"THEN substr({u}, 1, length({u}) - 1) "
            f"ELSE {u} END")


def arabic_stem_sql(ref: str, engine: str) -> str:
    """Render the full stemmer over the token expression ``ref``
    for ``engine`` in {'spark', 'duck'}: the defined flag binds
    once from the RAW token, normalization and the suffix/prefix
    phases thread through nested lambda lets."""
    # normalize_pre: ligature replaces, then one translate for the
    # 1:1 folds + harakat/tatweel deletion
    pre = "g0"
    for lig, rep in _LIGS.items():
        pre = f"replace({pre}, '{lig}', '{rep}')"
    pre = (f"translate({pre}, '{_P_FROM}{_DIACRITICS}{_TATWEEL}', "
           f"'{_P_TO}')")

    # defined flag from the raw token
    dflag = (f"CASE WHEN left(g0, 3) IN ('{B}{A}{L}', "
             f"'{K}{A}{L}') AND length(g0) > 4 THEN 1 "
             f"WHEN left(g0, 2) IN ('{A}{L}', '{L}{L}') "
             f"AND length(g0) > 3 THEN 1 ELSE 0 END")

    # ---- verb suffix chain: unrolled Step1 rounds ----
    v1_stage = lambda x: _strip_sql(x, _V1)          # noqa: E731
    body_v = f"v{_V1_ROUNDS}"
    for i in range(_V1_ROUNDS - 1, -1, -1):
        body_v = let(engine, v1_stage(f"v{i}"), f"v{i + 1}",
                     body_v)
    # after-step1 combination (va): 2a else 2c on u0 (= post-step1)
    va = let(engine, _strip_sql("u0", _V2A), "a0",
             f"CASE WHEN a0 <> u0 THEN a0 ELSE "
             + _strip_sql("u0", _V2C) + " END")
    # no-step1 combination (vb): 2b else 2a on w0
    vb = let(engine, _strip_sql("w0", _V2B), "b0",
             f"CASE WHEN b0 <> w0 THEN b0 ELSE "
             + _strip_sql("w0", _V2A) + " END")
    # verb result = struct-free: bind u0 = unrolled step1 output
    verb = let(
        engine, let(engine, "w0", "v0", body_v), "u0",
        f"CASE WHEN d = 1 THEN w0 "
        f"WHEN u0 <> w0 THEN {va} ELSE {vb} END")

    # ---- noun chain on s0 (the post-verb word); runs only when
    # the verb branch never fired (s0 = w0 in that case) ----
    n1a = _strip_sql("s0", _N1A)
    noun = (
        # c2: teh marbuta
        f"CASE WHEN right(s0, 1) = '{TM}' AND length(s0) >= 4 "
        f"THEN substr(s0, 1, length(s0) - 1) "
        # 1a (undefined) then 2a/2b/2c1
        f"ELSE " + let(
            engine,
            f"CASE WHEN d = 0 THEN {n1a} ELSE s0 END", "q0",
            "CASE WHEN q0 <> s0 THEN " + _post23_sql("q0") + " "
            # 1b: noon
            f"WHEN right(s0, 1) = '{N}' AND length(s0) > 5 THEN "
            + let(engine, "substr(s0, 1, length(s0) - 1)", "q1",
                  _post23_sql("q1")) + " "
            # bare 2a (undefined)
            f"WHEN d = 0 AND right(s0, 1) IN ('{A}', '{YEH}', "
            f"'{WAW}') AND length(s0) > 4 THEN "
            f"substr(s0, 1, length(s0) - 1) "
            # 2b
            f"WHEN right(s0, 2) = '{A}{T}' AND length(s0) >= 5 "
            f"THEN substr(s0, 1, length(s0) - 2) "
            f"ELSE s0 END") + " END")
    # step3 else maqsura
    noun_final = let(
        engine, noun, "t0",
        f"CASE WHEN right(t0, 1) = '{YEH}' AND length(t0) >= 3 "
        f"THEN substr(t0, 1, length(t0) - 1) "
        f"WHEN right(t0, 1) = '{AMQ}' THEN "
        f"substr(t0, 1, length(t0) - 1) || '{YEH}' ELSE t0 END")
    suffixed = let(
        engine, verb, "s0",
        f"CASE WHEN s0 <> w0 THEN s0 ELSE {noun_final} END")

    # ---- prefixes (cursor-sequential: p in {'', aha}) ----
    pairs = (AHA + AHA, AHA + A, AHA + AMD, AHA + WHZ, AHA + AHB)
    pm = (f"CASE WHEN length(x0) > 3 AND left(x0, 2) IN "
          f"({quote_list(pairs)}) THEN 1 ELSE 0 END")
    t0 = "CASE WHEN pm = 1 THEN substr(x0, 3) ELSE x0 END"
    # step2 on y0 (tail), total length = length(y0) + pm
    step2 = (f"CASE WHEN length(y0) + pm > 3 AND left(y0, 1) IN "
             f"('{WAW}', '{F}') AND substr(y0, 2, 1) <> '{A}' "
             f"THEN substr(y0, 2) ELSE y0 END")
    # verb prefixes on z0, cursor-sequential: Step3's rewrite keeps
    # its 2nd char and Step4 matches AFTER it (سيستدجر stops at
    # يستدجر; سأتستظ chains to أ+استظ); Step4's length gate uses
    # the post-Step3 total
    ist = f"'{YEH}{S}{T}', '{N}{S}{T}', '{T}{S}{T}'"
    st4_after = (f"CASE WHEN length(r0) + pm > 4 AND "
                 f"substr(r0, 2, 3) IN ({ist}) THEN "
                 f"left(r0, 1) || '{A}{S}{T}' || substr(r0, 5) "
                 f"ELSE r0 END")
    verb_pre = (
        f"CASE WHEN length(z0) + pm > 4 AND left(z0, 2) IN "
        f"('{S}{YEH}', '{S}{T}', '{S}{N}', '{S}{AHA}') THEN "
        + let(engine, "substr(z0, 2)", "r0", st4_after) + " "
        f"WHEN length(z0) + pm > 4 AND left(z0, 3) IN ({ist}) "
        f"THEN '{A}{S}{T}' || substr(z0, 4) ELSE z0 END")
    step3 = (
        f"CASE WHEN left(z0, 3) IN ('{B}{A}{L}', '{K}{A}{L}') "
        f"AND length(z0) + pm > 5 THEN substr(z0, 4) "
        f"WHEN left(z0, 2) IN ('{A}{L}', '{L}{L}') "
        f"AND length(z0) + pm > 4 THEN substr(z0, 3) "
        f"WHEN d = 0 AND length(z0) + pm > 3 AND "
        f"left(z0, 2) = '{B}{B}' THEN '{B}' || substr(z0, 3) "
        f"WHEN d = 0 AND length(z0) + pm > 3 AND "
        f"left(z0, 2) = '{K}{K}' THEN '{K}' || substr(z0, 3) "
        f"WHEN d = 0 AND length(z0) + pm > 3 AND "
        f"left(z0, 1) = '{B}' AND substr(z0, 2, 1) <> '{A}' "
        f"THEN substr(z0, 2) "
        f"WHEN d = 0 THEN {verb_pre} ELSE z0 END")
    prefixed = let(
        engine, t0, "y0",
        let(engine, step2, "z0",
            let(engine, step3, "z1",
                f"CASE WHEN pm = 1 THEN '{AHA}' || z1 "
                f"ELSE z1 END")))

    # ---- normalize_post + empty guard ----
    post = (f"CASE WHEN right(f0, 1) IN ('{AHA}', '{AHB}', "
            f"'{AMD}', '{WHZ}', '{YHZ}') THEN "
            f"substr(f0, 1, length(f0) - 1) || '{HAMZA}' "
            f"ELSE f0 END")
    post = let(engine, post, "f1",
               f"translate(f1, '{AHA}{AHB}{AMD}{WHZ}{YHZ}', "
               f"'{A}{A}{A}{WAW}{YEH}')")
    final = let(engine, post,
                "f2", "CASE WHEN f2 = '' THEN g0 ELSE f2 END")

    # assemble inside-out:
    # g0 (raw) -> d -> w0 (normalized) -> x0 (suffixed) -> pm ->
    # y0 (step1 tail) -> z0 (step2) -> z1 (step3) -> f0 -> final
    body = let(engine, prefixed, "f0", final)
    body = let(engine, pm, "pm", body)
    body = let(engine, suffixed, "x0", body)
    body = let(engine, pre, "w0", body)
    body = let(engine, dflag, "d", body)
    return let(engine, ref, "g0", body)
