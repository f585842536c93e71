"""Swedish, Danish and Norwegian snowball stemmers (the canonical
snowballstem.org algorithms; ES/Lucene's ``swedish``/``danish``/
``norwegian`` stemmer filters) as ONE table-driven engine — a
plan-time Python twin plus a portable-SQL generator per language,
languages six through eight of the analyzer registry.

The Scandinavian algorithms share a shape that is much lighter than
the Romance family (no RV, no verb among, one region):

- R1 = after the first non-vowel following a vowel, adjusted so at
  least 3 letters precede it (r1 >= 4), computed ONCE and carried.
- Step 1 is an R1-LIMITED among (longest suffix that FITS in R1 —
  a longer match outside R1 falls back to a shorter one inside,
  the setlimit semantics): a delete-list, per-language replacement
  entries (norwegian erte/ert -> er), and the ``s`` entry whose
  action checks the PRECEDING letter against the language's valid
  s-endings (the preceding letter is tested OUTSIDE the limit —
  it need not be in R1; norwegian additionally accepts ``k`` only
  when not preceded by a vowel). Action failure on the matched
  entry ends the step (among commits to its longest match).
- Step 2: if the word ends with one of the language's consonant
  pairs, the pair inside R1, the LAST letter is deleted (sv: dd gd
  nn dt gt kt tt; da: gd dt gt kt; no: dt vt).
- Step 3, R1-limited among: delete-list + replacements (sv:
  löst->lös fullt->full; da: løst->løs). Danish first strips
  ``st`` from a word ending ``igst`` (NO R1 test — the rule sits
  outside the setlimit in danish.sbl), and a danish step-3 delete
  re-runs step 2 (the ``do consonant_pair`` in the arm).
- Step 4 (danish only), undouble: a final consonant in R1 equal to
  its predecessor (the predecessor unconstrained) is dropped.

The SQL subset (CASE/right/substr/length/instr/translate/IN,
struct binding) evaluates identically in Spark SQL and DuckDB;
parity is pinned three ways per language in
tests/test_snowball_scand.py (hand-traced vectors + Hypothesis).
"""

from __future__ import annotations

from dataclasses import dataclass

from parquet_generator_spark.operators.stem_sql import (
    Frag,
    chain,
    let,
    quote_list,
    struct,
)


@dataclass(frozen=True)
class ScandConfig:
    name: str
    vowels: str
    step1_del: tuple
    step1_repl: tuple       # ((suffix, replacement), ...)
    s_endings: str          # valid chars before a deletable 's'
    s_k_not_after_vowel: bool  # norwegian extra s-ending rule
    pairs: tuple            # step-2 pairs (delete last letter)
    step3_del: tuple
    step3_repl: tuple
    igst_pre: bool          # danish: '...igst' loses 'st' first
    step3_rerun_pairs: bool  # danish: step-3 delete re-runs step 2
    undouble: bool          # danish step 4


SWEDISH = ScandConfig(
    name="swedish",
    vowels="aeiouyäåö",
    step1_del=("a", "arna", "erna", "heterna", "orna", "ad", "e",
               "ade", "ande", "arne", "are", "aste", "en", "anden",
               "aren", "heten", "ern", "ar", "er", "heter", "or",
               "as", "arnas", "ernas", "ornas", "es", "ades",
               "andes", "ens", "arens", "hetens", "erns", "at",
               "andet", "het", "ast"),
    step1_repl=(),
    s_endings="bcdfghjklmnoprtvy",
    s_k_not_after_vowel=False,
    pairs=("dd", "gd", "nn", "dt", "gt", "kt", "tt"),
    step3_del=("lig", "ig", "els"),
    step3_repl=(("löst", "lös"), ("fullt", "full")),
    igst_pre=False,
    step3_rerun_pairs=False,
    undouble=False,
)

DANISH = ScandConfig(
    name="danish",
    vowels="aeiouyæåø",
    step1_del=("hed", "ethed", "ered", "e", "erede", "ende",
               "erende", "ene", "erne", "ere", "en", "heden",
               "eren", "er", "heder", "erer", "heds", "es",
               "endes", "erendes", "enes", "ernes", "eres", "ens",
               "hedens", "erens", "ers", "ets", "erets", "et",
               "eret"),
    step1_repl=(),
    s_endings="abcdfghjklmnoprtvyzå",
    s_k_not_after_vowel=False,
    pairs=("gd", "dt", "gt", "kt"),
    step3_del=("ig", "lig", "elig", "els"),
    step3_repl=(("løst", "løs"),),
    igst_pre=True,
    step3_rerun_pairs=True,
    undouble=True,
)

NORWEGIAN = ScandConfig(
    name="norwegian",
    vowels="aeiouyæåø",
    step1_del=("a", "e", "ede", "ande", "ende", "ane", "ene",
               "hetene", "en", "heten", "ar", "er", "heter", "as",
               "es", "edes", "endes", "enes", "hetenes", "ens",
               "hetens", "ers", "ets", "et", "het", "ast"),
    step1_repl=(("erte", "er"), ("ert", "er")),
    s_endings="bcdfghjlmnoprtvyz",
    s_k_not_after_vowel=True,
    pairs=("dt", "vt"),
    step3_del=("leg", "eleg", "ig", "eig", "lig", "elig", "els",
               "lov", "elov", "slov", "hetslov"),
    step3_repl=(),
    igst_pre=False,
    step3_rerun_pairs=False,
    undouble=False,
)


def _r1(cfg: ScandConfig, w: str) -> int:
    """1-based start of R1 (len+1 = empty), with the snowball
    minimum-3-letter prefix adjustment."""
    n = len(w)
    seen_vowel = False
    r1 = n + 1
    for i, ch in enumerate(w):
        v = ch in cfg.vowels
        if seen_vowel and not v:
            r1 = i + 2
            break
        if v:
            seen_vowel = True
    return max(r1, 4) if r1 <= n else r1


def _valid_s(cfg: ScandConfig, w: str) -> bool:
    """Is the char before a final 's' a valid s-ending?"""
    if len(w) < 2:
        return False
    prev = w[-2]
    if prev in cfg.s_endings:
        return True
    if (cfg.s_k_not_after_vowel and prev == "k"
            and (len(w) < 3 or w[-3] not in cfg.vowels)):
        return True
    return False


def _step1_entries(cfg: ScandConfig) -> list:
    entries = ([(s, None) for s in cfg.step1_del]
               + [(s, r) for s, r in cfg.step1_repl]
               + [("s", "S")])
    return sorted(entries, key=lambda t: len(t[0]), reverse=True)


def scand_stem(cfg: ScandConfig, word: str) -> str:
    """Plan-time Python twin of :func:`scand_stem_sql` (identical
    step structure and region arithmetic)."""
    w = word
    r1 = _r1(cfg, w)

    def in_r1(n: int) -> bool:
        return len(w) - n + 1 >= r1

    # step 1: longest entry that fits in R1
    for s, rep in _step1_entries(cfg):
        n = len(s)
        if w.endswith(s) and in_r1(n):
            if rep == "S":
                if _valid_s(cfg, w):
                    w = w[:-1]
            elif rep is None:
                w = w[:-n]
            else:
                w = w[:-n] + rep
            break

    def pair_step() -> None:
        nonlocal w
        for p in cfg.pairs:
            if w.endswith(p) and in_r1(2):
                w = w[:-1]
                return

    # step 2
    pair_step()

    # step 3
    if cfg.igst_pre and w.endswith("igst"):
        w = w[:-2]
    s3 = ([(s, None) for s in cfg.step3_del]
          + [(s, r) for s, r in cfg.step3_repl])
    for s, rep in sorted(s3, key=lambda t: len(t[0]), reverse=True):
        n = len(s)
        if w.endswith(s) and in_r1(n):
            if rep is None:
                w = w[:-n]
                if cfg.step3_rerun_pairs:
                    pair_step()
            else:
                w = w[:-n] + rep
            break

    # step 4 (danish undouble)
    if (cfg.undouble and len(w) >= 2 and w[-1] not in cfg.vowels
            and w[-1] == w[-2] and in_r1(1)):
        w = w[:-1]
    return w


# ------------------------------------------------------------------
# portable-SQL generator
# ------------------------------------------------------------------

class _Frag(Frag):
    FIELDS = ("w", "r1")


def _s_pred(cfg: ScandConfig, x: _Frag) -> str:
    prev = x.prev_char(1)
    pred = f"{prev} IN ({quote_list(cfg.s_endings)})"
    if cfg.s_k_not_after_vowel:
        before = x.prev_char(2)
        pred = (f"({pred} OR ({prev} = 'k' AND "
                f"({x.ln} < 3 OR {before} NOT IN "
                f"({quote_list(cfg.vowels)}))))")
    return pred


def _s1_sql(cfg: ScandConfig):
    def render(x: _Frag) -> str:
        whens = []
        for s, rep in _step1_entries(cfg):
            n = len(s)
            if rep == "S":
                arm = (f"CASE WHEN {_s_pred(cfg, x)} "
                       f"THEN {x.cut(1)} ELSE {x.keep()} END")
            elif rep is None:
                arm = x.cut(n)
            else:
                arm = x.cut(n, rep)
            whens.append(f"WHEN {x.ends(s)} AND {x.in_r1(n)} "
                         f"THEN ({arm})")
        return "CASE " + " ".join(whens) + f" ELSE {x.keep()} END"
    return render


def _pair_sql(cfg: ScandConfig, x: _Frag, w_ref: str | None = None):
    """One CASE producing the post-pair w TEXT (not a struct)."""
    w = w_ref or x.w
    ln = f"length({w})"
    whens = " ".join(
        f"WHEN right({w}, 2) = '{p}' AND {ln} - 1 >= {x.r1} "
        f"THEN substr({w}, 1, {ln} - 1)"
        for p in cfg.pairs)
    return f"CASE {whens} ELSE {w} END"


def _s2_sql(cfg: ScandConfig):
    def render(x: _Frag) -> str:
        return x.st(w=_pair_sql(cfg, x))
    return render


def _s3_sql(cfg: ScandConfig):
    def render(x: _Frag) -> str:
        # danish: '...igst' loses 'st' before the among (no R1)
        base = x.w
        if cfg.igst_pre:
            base = (f"CASE WHEN right({x.w}, 4) = 'igst' "
                    f"THEN substr({x.w}, 1, length({x.w}) - 2) "
                    f"ELSE {x.w} END")
        y = _Frag(x.engine, "y0")
        s3 = ([(s, None) for s in cfg.step3_del]
              + [(s, r) for s, r in cfg.step3_repl])
        whens = []
        for s, rep in sorted(s3, key=lambda t: len(t[0]),
                             reverse=True):
            n = len(s)
            if rep is None:
                cutw = f"substr({y.w}, 1, {y.ln} - {n})"
                if cfg.step3_rerun_pairs:
                    cutw = _pair_sql(cfg, y, cutw)
                arm = y.st(w=cutw)
            else:
                arm = y.cut(n, rep)
            whens.append(f"WHEN {y.ends(s)} AND {y.in_r1(n)} "
                         f"THEN ({arm})")
        inner = ("CASE " + " ".join(whens)
                 + f" ELSE {y.keep()} END")
        return let(x.engine, x.st(w=base), "y0", inner)
    return render


def _s4_sql(cfg: ScandConfig):
    def render(x: _Frag) -> str:
        if not cfg.undouble:
            return x.keep()
        return (f"CASE WHEN {x.ln} >= 2 AND "
                f"right({x.w}, 1) NOT IN ({quote_list(cfg.vowels)}) AND "
                f"right({x.w}, 1) = {x.prev_char(1)} AND "
                f"{x.in_r1(1)} THEN {x.cut(1)} "
                f"ELSE {x.keep()} END")
    return render


def scand_stem_sql(cfg: ScandConfig, ref: str, engine: str) -> str:
    """Render the stemmer over the (lowercase) token expression
    ``ref`` for ``engine`` in {'spark', 'duck'} — let-bound steps
    over a carried (w, r1) struct."""
    # R1 from the CV skeleton: position of the first 'ab' + 2,
    # min-3 adjusted; len+1 when absent
    vow = cfg.vowels
    cons = "".join(c for c in
                   "bcdfghjklmnpqrstvwxz0123456789äåöæøéüèêàç"
                   if c not in vow)
    skel = (f"translate(translate(g0, '{vow}', '{'a' * len(vow)}'), "
            f"'{cons}', '{'b' * len(cons)}')")

    ln = "length(g1.w)"
    p1 = "instr(g1.c, 'ab')"
    r1 = (f"CASE WHEN {p1} = 0 THEN {ln} + 1 "
          f"WHEN {p1} + 2 < 4 THEN CASE WHEN {ln} >= 3 THEN 4 "
          f"ELSE {ln} + 1 END "
          f"ELSE {p1} + 2 END")
    body = chain(engine, _Frag, struct(engine, w="g1.w", r1=r1),
                 [_s1_sql(cfg), _s2_sql(cfg), _s3_sql(cfg),
                  _s4_sql(cfg)], "x4.w")
    body = let(engine, struct(engine, w="g0", c=skel), "g1", body)
    return let(engine, ref, "g0", body)


# public per-language entry points (the analyzer registry contract)

def swedish_stem(w: str) -> str:
    return scand_stem(SWEDISH, w)


def danish_stem(w: str) -> str:
    return scand_stem(DANISH, w)


def norwegian_stem(w: str) -> str:
    return scand_stem(NORWEGIAN, w)


def swedish_stem_sql(ref: str, engine: str) -> str:
    return scand_stem_sql(SWEDISH, ref, engine)


def danish_stem_sql(ref: str, engine: str) -> str:
    return scand_stem_sql(DANISH, ref, engine)


def norwegian_stem_sql(ref: str, engine: str) -> str:
    return scand_stem_sql(NORWEGIAN, ref, engine)
