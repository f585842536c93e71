"""ES|QL (the Elasticsearch piped query language, ES 8.11+) over
DataFrames: a bounded, loudly-fenced subset of the public grammar —
the pipeline shapes Kibana ES|QL panels ship:

    FROM <index>
      | WHERE <boolean expr>
      | EVAL <name> = <expr> [, ...]
      | DISSECT <col> "<pattern with %{key}s>"
      | GROK <col> "<pattern with %{LIB:name[:type]}s>"
      | ENRICH <policy> ON <col> [WITH <field> [, ...]]
      | LOOKUP JOIN <index> ON <field>
      | MV_EXPAND <col>
      | INLINESTATS <name> = <AGG>(<expr>) [, ...] BY <col> [, ...]
      | CHANGE_POINT <value_col> ON <key_col>
      | STATS <name> = <AGG>(<expr>) [, ...]
              [BY <col> | <name> = <expr> [, ...]]
      | SORT <col> [ASC|DESC] [NULLS FIRST|LAST] [, ...]
      | KEEP <col | pat*> [, ...]
      | LIMIT <n>
      | SAMPLE <probability>
      | FORK (<sub-pipeline>) (<sub-pipeline>) [...]

Commands are recorded as an ORDERED list and both renderers apply
them SEQUENTIALLY — `SORT v | LIMIT 10 | WHERE v > 5` filters the
top 10 (not the whole table), a second LIMIT takes a prefix of the
first, a second SORT re-orders, and WHERE/EVAL after STATS operate
on the aggregated relation (ES|QL's actual semantics). One parse
produces one command list; two renderers consume it — a DataFrame
builder (filter/withColumn/groupBy/agg/orderBy/limit, all codegen)
and a DuckDB SQL string built by wrapping one subquery per command —
so the Spark plan and the oracle cannot drift structurally.

Expression subset (validated token-by-token, unsupported syntax
raises): column refs, numeric/string literals, + - * / %,
comparisons (== != > >= < <=), NOT/AND/OR, IN (...), parentheses,
temporal amounts (``7 day``/``1 hour`` → INTERVAL), LIKE (ES|QL
wildcard ``*``/``?`` patterns, translated to SQL ``%``/``_`` —
full-string match in both dialects), RLIKE (ES|QL FULL-string
regex: Spark gets an ``^(?:...)$``-anchored RLIKE, DuckDB gets
``SIMILAR TO``, which is full-match by definition), CASE(c1, v1,
..., [default]) and the functions ABS/ROUND/SQRT/LENGTH/LOWER/
UPPER/CONCAT/SPLIT/NOW/BUCKET/DATE_TRUNC/DATE_DIFF/POW/LOG10/EXP/
GREATEST/LEAST/LEFT/RIGHT/REPLACE/REVERSE/TO_UPPER/TO_LOWER/LOCATE/
TO_LONG/TO_INTEGER/TO_DOUBLE/TO_STRING plus the
multivalue family MV_COUNT/MV_MIN/MV_MAX/MV_SORT/MV_DEDUPE/
MV_CONCAT and the IP pair CIDR_MATCH(ip, "a.b.c.d/n", ...) /
IP_PREFIX(ip, v4len, 0) — IPv4 only; CIDR blocks resolve to
packed-int BETWEEN ranges at parse time over one TRY_CAST'd
split_part chain (identical text in both engines; malformed ips
stay NULL instead of erroring the scan), and IP_PREFIX's v6 length
is fenced to the literal 0 rather than silently ignored. ES|QL's
``==`` becomes SQL ``=``, ``!=`` becomes ``<>``.

SAMPLE (ES 8.19+) keeps each row with the given probability.
DOCUMENTED DIVERGENCE: ES samples pseudorandomly per run; this
subset is a DETERMINISTIC md5-hash Bernoulli over a caller-named
unique key column (``parse_esql(..., sample_key="event_id")``) —
reproducible across runs and engines (the hash_sample contract),
refused loudly when no key is supplied.

FORK (ES 8.18+) runs >= 2 branch sub-pipelines over the same input
relation, tags each row ``_fork=forkN``, and unions BY NAME with
null-fill (Spark ``unionByName(allowMissingColumns)`` == DuckDB
``UNION ALL BY NAME``). Branches parse through the same grammar
recursively; a branch-local SORT orders only that branch's LIMIT
(ES semantics). Nested FORK, more than 8 branches (the ES limit),
fewer than 2, and FORK under an active SORT are refused. SORT takes explicit NULLS FIRST/LAST per key; when
unspecified, the ES|QL/Spark default applies (ASC nulls first,
DESC nulls last) and the DuckDB renderer ALWAYS spells the
placement out (its own default is NULLS LAST either way).
TO_LONG/TO_INTEGER truncate toward zero in both engines (the
oracle routes through trunc(); DuckDB's bare double->int CAST
rounds). LOCATE renders per engine (Spark locate(sub, str) /
DuckDB instr(str, sub), INT-aligned). Aggregates: COUNT(*) /
COUNT / SUM / AVG / MIN / MAX /
COUNT_DISTINCT / MEDIAN / PERCENTILE(expr, p) / TOP(expr, k,
"asc"|"desc") / WEIGHTED_AVG(expr, weight) (pair-null, DOUBLE) /
VALUES(expr) (canonical SORTED distinct multivalue; ES documents
the order as unspecified) — MEDIAN/PERCENTILE render as exact
interpolated quantiles (Spark ``percentile``, DuckDB
``quantile_cont``; ES|QL's p is 0-100, converted to a fraction
for both engines); TOP is a
deterministic full-sort-then-k-prefix in both engines. Every STATS
aggregate accepts a per-aggregate ``WHERE <cond>`` filter (ES|QL
8.16), rendered as the ANSI FILTER clause in both engines.
BUCKET's second argument may be a bare numeric literal — the
fixed-interval histogram form, floor-to-multiple-of-span, cast to
DOUBLE in both engines. DATE_DIFF("<unit>", start, end) counts
COMPLETE elapsed units (ES ChronoUnit semantics): Spark
``timestampdiff``, DuckDB ``date_sub`` (NOT date_diff, which
counts boundary crossings).

Engine-specific renderings (everything else is engine-neutral text):

- CONCAT is NULL-PROPAGATING in ES|QL; Spark ``concat`` already is,
  DuckDB's is not — the DuckDB renderer emits a ``||`` chain.
- SPLIT: Spark ``split`` (regex; the separator is fenced to plain
  literal chars), DuckDB ``string_split``.
- TO_STRING: Spark ``CAST(x AS STRING)``, DuckDB ``AS VARCHAR``.
- NOW() resolves AT PARSE TIME to a timestamp literal from the
  injected plan clock (``with plan_clock(anchor):`` —
  operators/esdsl.py); with no clock injected it refuses, because a
  scan bound that silently depends on wall-clock is unreproducible.
  The literal reaches the parquet scan, so row-group pruning holds.
- BUCKET(col, 1 <unit>) / DATE_TRUNC(1 <unit>, col) render as
  ``date_trunc('<unit>', col)`` (identical in both engines;
  calendar units minute/hour/day/week/month/quarter/year, count
  fixed at 1 — multi-unit fixed buckets are fenced).

ENRICH takes its policies from a registry passed to ``parse_esql``
(``enrich={name: EnrichPolicy(table, match_field, fields)}``) —
the analog of ES's enrich-policy store. The DataFrame renderer
takes the loaded lookup frames (``esql_df(df, plan, lookups=...)``)
and BROADCASTS each one, mirroring ES's enrich execution model
(the enrich index is materialized on every node); the oracle
renders a LEFT JOIN against the policy table. A row whose match
key misses gets NULL enrich fields (ES behavior). ENRICH after an
active SORT is refused at parse time: a join does not preserve
DataFrame row order, so a later LIMIT would diverge from the
oracle's ORDER-BY-at-LIMIT rendering.

GROK supports a bounded pattern library (WORD NOTSPACE DATA
GREEDYDATA INT NUMBER BASE10NUM IP LOGLEVEL TIMESTAMP_ISO8601
USERNAME), ``%{PATTERN}`` (skip), ``%{PATTERN:name}`` (capture as
string) and ``%{PATTERN:name:int|long|float|double}`` (capture +
cast; a non-matching row's '' extraction casts to NULL via an
explicit CASE, safe under ANSI). Unlike full grok, literal text
between ``%{}`` segments is escaped — it is LITERAL, not regex
(the bounded-subset posture; full grok treats it as regex). Like
ES grok (and unlike DISSECT here), the compiled regex is
UNANCHORED — it matches anywhere in the string.

LOOKUP JOIN (ES 8.18+) is ENRICH's sibling with ES's same-name key
contract: the ON field must BE the lookup index's key field (use
EVAL to stage the key, the documented ES|QL pattern). Unlike
ENRICH, the join strategy is NOT forced to broadcast — lookup
indexes can be larger than enrich indexes, so Catalyst/AQE picks
(broadcast under the threshold, shuffled hash beyond). The index
registry is ``parse_esql(..., lookup_indexes={name:
EnrichPolicy})`` with ``match_field`` == the ON field.

INLINESTATS attaches group aggregates to every row WITHOUT
collapsing — rendered as window functions (``AGG(expr) OVER
(PARTITION BY ...)``, identical text in both engines). BY is
REQUIRED (a global INLINESTATS would be an unpartitioned window —
the single-reducer anti-pattern; use STATS), the window aggregates
are bounded to COUNT/SUM/AVG/MIN/MAX (no DISTINCT windows in
Spark), and INLINESTATS after an active SORT is refused (the
window exchange drops row order).

DATE_EXTRACT(part, date) supports ES|QL's aligned chrono names
(year, month_of_year, day_of_month, hour_of_day, minute_of_hour,
second_of_minute) via EXTRACT(... FROM x), BIGINT-aligned.

CHANGE_POINT follows the dsl_change_point contract
(plans/esdsl_aggs.py): a deterministic step-change detector —
the split maximizing |mean(before) - mean(after)| over the
key-ordered series, emitted as ONE row (key, step, score).
DOCUMENTED DIVERGENCE from ES: ES's ML version annotates rows with
a type + p-value; the deterministic argmax/step contract replaces
that (no RNG, no ML runtime). The input MUST be a STATS-bucketed
series (a prior STATS in the pipeline is enforced at parse) —
mirroring ES's bounded-input contract (ES warns beyond 1000
values) and keeping the ordered prefix-sum window on a
bucket-cardinality frame, never a per-row single-reducer sort.

RATE(counter) (ES 8.14+ TSDS) is supported inside STATS wrapped in
an outer cross-series aggregate — ``STATS r = AVG(RATE(ctr)) BY
bucket`` — with the time-series identity passed as
``parse_esql(..., tsds=(series_col, time_col, tiebreak_col))`` (the
analog of the TSDS index's _tsid/@timestamp mapping). Semantics are
the dsl_counter_rate reset rule (plans/esdsl_aggs.py): per
series per group, a negative delta means the counter reset and
climbed from 0; the reset-adjusted increase over the group's
observed span (epoch-microsecond exact) gives the per-series
per-second rate; the outer agg combines rates across series.
Fences: RATE without tsds, RATE unwrapped, RATE mixed with plain
aggs in one STATS (they aggregate over different universes), and
RATE with a per-agg WHERE.

KNN(col, [literal vector], k) (ES 8.19 preview) is supported as the
SOLE predicate of a WHERE, with the tiebreak identity passed as
``parse_esql(..., knn_key='<unique id col>')`` (ES breaks score
ties by internal doc order; an explicit key keeps both engines
deterministic). Scoring is the ES dense_vector cosine contract
``(1 + cosine) / 2`` against the literal query, rounded to 4; the
top k rows survive with a ``_score`` column (the METADATA _score
convention) and the (_score desc, key asc) order feeds later
LIMITs. ES's same-WHERE AND conjuncts are pre-filters — express
them as a PRECEDING WHERE here (fenced loudly). Plan shape: one
narrow scoring map + TakeOrderedAndProject; no join, no broadcast.

FUSE (ES 8.19) fuses the FORK branches; must IMMEDIATELY follow
FORK; every branch must end ``SORT ... | LIMIT n`` (n <= 10000, the
ES rerank-window cap) so per-branch rank is well-defined (give the
SORT a unique tiebreak column for determinism). A branch's duplicate
identities contribute their best rank/score once (ES fuses per
document). Three forms:
- ``FUSE <key>``: the fused RANKING relation (key, _score = sum of
  1/(60 + rank) over branches — the ES default rank_constant 60,
  _hits = branch count).
- ``FUSE DOCS <key>``: ES's actual output shape — the fused
  DOCUMENTS: the (bounded) ranking broadcast-joins back onto the
  already-checkpointed pre-fork frame, so the full rows flow on
  with _score/_hits attached and the corpus is still scanned once.
- ``FUSE LINEAR <key> WEIGHTS w1, w2, ... [NORMALIZER MINMAX]``:
  the ES linear score_mode — each branch contributes weight x its
  own score (read from the branch's final SORT's FIRST column,
  which must sort DESC), optionally minmax-normalized within the
  branch window (ties at max==min normalize to 1.0).
ES fuses on _id metadata; this bounded form takes the identity
column explicitly. Hybrid retrieval composes as
FORK(KNN branch)(lexical branch)|FUSE.

ROW name = expr, ... and SHOW INFO are source-less heads (since
round 13): a one-row literal relation / the engine identity,
flowing into the normal pipeline; the non-JOIN LOOKUP of the
pre-8.13 grammar stays fenced permanently (ES itself deprecated it
for LOOKUP JOIN).

Deliberate fences (documented, raise ValueError):
aggregates outside STATS, KEEP *-patterns under an
active SORT (and empty/overlapping pattern expansions at render),
per-aggregate WHERE in INLINESTATS, duplicate EVAL names inside
ONE command, EVAL names that
shadow a RAW TABLE column (cannot be detected without a schema —
the engines fail loudly instead; re-assigning a name the PIPELINE
itself introduced — a prior EVAL/GROK/DISSECT key, a post-STATS
column — REPLACES the column in both engines, the ES/withColumn
semantics, via EXCLUDE re-projection in the oracle), multi-unit
BUCKET widths, SPLIT
separators containing regex metacharacters, LIKE patterns
containing literal ``%``/``_`` (escape rules differ per dialect),
RLIKE patterns using lookaround/backreferences (Java regex only —
not RE2-portable), and ENRICH WITH fields that are not in the
policy or that collide with the ON column.

Known divergence from ES (documented, parity-safe): a DISSECT
pattern that does not match yields '' (empty string) keys in both
engines — ES yields null and drops the row from later null-checks
(GROK's typed captures DO yield NULL on non-match, matching ES).
MV_EXPAND drops rows whose array is empty or NULL in both engines
(Spark explode == DuckDB unnest); ES keeps a null row for null.
MV_DEDUPE returns the distinct elements SORTED in both engines
(ES documents its order as unspecified); MV_SORT/MV_DEDUPE drop
NULL elements (ES multivalued fields cannot hold null).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_FUNCS = {"ABS": "abs", "ROUND": "round", "SQRT": "sqrt",
          "LENGTH": "length", "LOWER": "lower", "UPPER": "upper",
          "COALESCE": "coalesce", "TRIM": "trim", "LTRIM": "ltrim",
          "RTRIM": "rtrim", "SUBSTRING": "substr", "FLOOR": "floor",
          "POW": "pow", "LOG10": "log10", "EXP": "exp",
          "GREATEST": "greatest", "LEAST": "least",
          "LEFT": "left", "RIGHT": "right", "REPLACE": "replace",
          "REVERSE": "reverse", "TO_UPPER": "upper",
          "TO_LOWER": "lower"}
_AGGS = {"COUNT": "count", "SUM": "sum", "AVG": "avg",
         "MIN": "min", "MAX": "max",
         # None: rendered specially
         "COUNT_DISTINCT": None, "MEDIAN": None, "PERCENTILE": None,
         "TOP": None, "WEIGHTED_AVG": None, "VALUES": None}

# DATE_DIFF units shared by Spark timestampdiff and DuckDB date_sub
# (both count COMPLETE elapsed units, the ES ChronoUnit contract —
# DuckDB's date_diff counts boundary crossings and is NOT used)
_DIFF_UNITS = ("year", "quarter", "month", "week", "day",
               "hour", "minute", "second")

_CASTS = {"TO_LONG": ("BIGINT", "BIGINT"),
          "TO_INTEGER": ("INT", "INT"),
          "TO_DOUBLE": ("DOUBLE", "DOUBLE"),
          "TO_STRING": ("STRING", "VARCHAR")}

_UNITS = {"second": "second", "seconds": "second",
          "minute": "minute", "minutes": "minute",
          "hour": "hour", "hours": "hour",
          "day": "day", "days": "day",
          "week": "week", "weeks": "week",
          "month": "month", "months": "month",
          "quarter": "quarter", "quarters": "quarter",
          "year": "year", "years": "year"}

_TOKEN_RE = re.compile(
    r"\s*(>=|<=|!=|==|[()+\-*/%,<>]|\"(?:[^\"\\]|\\.)*\"|"
    r"'(?:[^'\\]|\\.)*'|[A-Za-z_][A-Za-z0-9_]*|\d+\.\d+|\d+)")

_IDENT_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*\Z")
# KEEP accepts ES|QL *-wildcards (must contain at least one *)
_KEEP_PAT_RE = re.compile(r"[A-Za-z0-9_*]*\*[A-Za-z0-9_*]*\Z")
_INT_RE = re.compile(r"\d+\Z")

# SHOW INFO identity (deterministic literals — both engines render
# the same one-row relation)
_SHOW_INFO = (("version", "8.19.0-compat"),
              ("engine", "parquet-generator-spark"),
              ("grammar", "esql-bounded-r13"))

# window-safe aggregates for INLINESTATS (no DISTINCT/percentile
# windows — Spark refuses DISTINCT in windows; keep both engines on
# the shared safe set)
_WINDOW_AGGS = ("COUNT", "SUM", "AVG", "MIN", "MAX")

# ES|QL DATE_EXTRACT chrono names -> ANSI EXTRACT fields (identical
# in Spark and DuckDB; day-of-week et al. excluded — numbering
# conventions differ between the engines)
_CHRONO = {"year": "YEAR", "month_of_year": "MONTH",
           "day_of_month": "DAY", "hour_of_day": "HOUR",
           "minute_of_hour": "MINUTE",
           "second_of_minute": "SECOND"}

# grok pattern library (the high-frequency subset of the public
# logstash-patterns-core `grok-patterns` file, restricted to
# fragments valid in BOTH Java regex and DuckDB's RE2)
_GROK_LIB = {
    "WORD": r"\w+",
    "NOTSPACE": r"\S+",
    "DATA": r".*?",
    "GREEDYDATA": r".*",
    "INT": r"[+-]?\d+",
    "NUMBER": r"[+-]?\d+(?:\.\d+)?",
    "BASE10NUM": r"[+-]?\d+(?:\.\d+)?",
    "IP": r"(?:\d{1,3}\.){3}\d{1,3}",
    "LOGLEVEL": r"(?:TRACE|DEBUG|INFO|WARN(?:ING)?|ERROR|FATAL)",
    "TIMESTAMP_ISO8601":
        r"\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}:\d{2}(?:\.\d+)?",
    "USERNAME": r"[a-zA-Z0-9._-]+",
}

_GROK_TYPES = {"int": "BIGINT", "long": "BIGINT",
               "float": "DOUBLE", "double": "DOUBLE"}


@dataclass(frozen=True)
class EnrichPolicy:
    """One ES enrich policy: the lookup table, its match key, and
    the fields the policy may add. The analog of a stored enrich
    policy + its materialized enrich index; the match key is
    expected unique in the lookup (ES enforces this when the policy
    executes) — a duplicate key fans rows out identically in both
    engines (left-join semantics), so parity holds either way."""
    table: str
    match_field: str
    fields: tuple


class _E(NamedTuple):
    """One expression rendered for both engines."""
    spark: str
    duck: str


def _both(t: str) -> _E:
    return _E(t, t)


def _find_close(expr: str, open_pos: int) -> int:
    """Index of the ')' matching the '(' at open_pos."""
    depth, i, in_s = 0, open_pos, None
    while i < len(expr):
        ch = expr[i]
        if in_s:
            if ch == "\\":
                i += 1
            elif ch == in_s:
                in_s = None
        elif ch in "'\"":
            in_s = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                return i
        i += 1
    raise ValueError(f"esql: unbalanced parentheses in {expr!r}")


def _now_literal() -> str:
    from parquet_generator_spark.operators import esdsl
    anchor = esdsl._NOW_ANCHOR
    if anchor is None:
        raise ValueError(
            "esql: NOW() needs an injected plan-time clock — wrap "
            "the parse in `with plan_clock(anchor):` "
            "(operators/esdsl.py); resolving against wall-clock "
            "would make the scan bound unreproducible")
    return f"TIMESTAMP '{anchor.strftime('%Y-%m-%d %H:%M:%S')}'"


def _parse_amount(text: str, what: str) -> str:
    """'1 day' -> canonical date_trunc unit; count fenced to 1."""
    m = re.fullmatch(r"\s*(\d+)\s+([A-Za-z]+)\s*", text)
    if not m or m.group(2).lower() not in _UNITS:
        raise ValueError(f"esql: {what} needs '<n> <unit>', got "
                         f"{text!r}")
    if m.group(1) != "1":
        raise ValueError(
            f"esql: {what} supports calendar units with count 1 "
            f"(date_trunc semantics); multi-unit fixed buckets are "
            f"not supported, got {text!r}")
    unit = _UNITS[m.group(2).lower()]
    if unit == "second":
        raise ValueError(f"esql: {what} unit must be >= minute")
    return unit


def _string_literal(tok: str) -> str:
    """ES|QL double-quoted string token -> SQL single-quoted."""
    inner = tok[1:-1].replace('\\"', '"')
    return "'" + inner.replace("'", "''") + "'"


def _render_call(name: str, args: list[str]) -> _E:
    """Render one special function call; args are raw ES|QL texts."""
    rendered = [_render_expr(a) for a in args]
    if name == "CONCAT":
        if len(rendered) < 2:
            raise ValueError("esql: CONCAT needs >= 2 arguments")
        sp = "concat(" + ", ".join(r.spark for r in rendered) + ")"
        # DuckDB concat() skips NULLs; ES|QL (and Spark concat) are
        # NULL-propagating — render the oracle as a || chain
        du = "(" + " || ".join(r.duck for r in rendered) + ")"
        return _E(sp, du)
    if name in _CASTS:
        if len(rendered) != 1:
            raise ValueError(f"esql: {name} takes one argument")
        sp_t, du_t = _CASTS[name]
        if name in ("TO_LONG", "TO_INTEGER"):
            # ES|QL (and Spark CAST) TRUNCATE toward zero; DuckDB's
            # double->int CAST rounds half away — route the oracle
            # through trunc(). The DOUBLE round-trip is exact below
            # 2^53, far above any value this subset produces.
            # (Latent divergence found by the pipeline fuzzer.)
            return _E(f"CAST({rendered[0].spark} AS {sp_t})",
                      f"CAST(trunc(CAST({rendered[0].duck} "
                      f"AS DOUBLE)) AS {du_t})")
        return _E(f"CAST({rendered[0].spark} AS {sp_t})",
                  f"CAST({rendered[0].duck} AS {du_t})")
    if name == "SPLIT":
        if len(args) != 2:
            raise ValueError("esql: SPLIT takes (value, separator)")
        sep_raw = args[1].strip()
        if not (sep_raw.startswith('"') and sep_raw.endswith('"')):
            raise ValueError("esql: SPLIT separator must be a "
                             "string literal")
        sep = _string_literal(sep_raw)
        if re.search(r"[\\.^$*+?()\[\]{}|]", sep[1:-1]):
            # Spark split() is regex-based, DuckDB string_split is
            # literal — only plain separators mean the same thing
            raise ValueError("esql: SPLIT separator must not "
                             "contain regex metacharacters")
        return _E(f"split({rendered[0].spark}, {sep})",
                  f"string_split({rendered[0].duck}, {sep})")
    if name == "NOW":
        if args:
            raise ValueError("esql: NOW() takes no arguments")
        return _both(_now_literal())
    if name == "LOCATE":
        # ES|QL LOCATE(string, substring) -> 1-based position, 0 on
        # miss. Spark's locate takes (substr, str) — REVERSED.
        if len(rendered) != 2:
            raise ValueError("esql: LOCATE takes (string, substring)")
        s, sub = rendered
        return _E(f"CAST(locate({sub.spark}, {s.spark}) AS INT)",
                  f"CAST(instr({s.duck}, {sub.duck}) AS INT)")
    if name in ("STARTS_WITH", "ENDS_WITH"):
        if len(rendered) != 2:
            raise ValueError(f"esql: {name} takes (str, affix)")
        sp_fn = "startswith" if name == "STARTS_WITH" else "endswith"
        du_fn = "starts_with" if name == "STARTS_WITH" else "ends_with"
        a, b = rendered
        return _E(f"{sp_fn}({a.spark}, {b.spark})",
                  f"{du_fn}({a.duck}, {b.duck})")
    if name == "CIDR_MATCH":
        # CIDR_MATCH(ip, "block", ...): blocks resolve to packed-int
        # ranges at PARSE time, so the predicate is pure BETWEEN
        # arithmetic over one split_part chain — sargable codegen in
        # both engines, no regex, no UDF
        if len(args) < 2:
            raise ValueError("esql: CIDR_MATCH takes "
                             "(ip, \"a.b.c.d/n\", ...)")
        ranges = []
        for a in args[1:]:
            a = a.strip()
            if not (a.startswith('"') and a.endswith('"')):
                raise ValueError("esql: CIDR_MATCH blocks must be "
                                 "string literals")
            ranges.append(_parse_cidr(a[1:-1]))

        def _pred(ref: str) -> str:
            num = _ip_num(ref)
            return ("(" + " OR ".join(
                f"{num} BETWEEN {lo} AND {hi}"
                for lo, hi in ranges) + ")")

        return _E(_pred(rendered[0].spark), _pred(rendered[0].duck))
    if name == "IP_PREFIX":
        # IP_PREFIX(ip, v4len, v6len): the network address at the
        # given prefix length, re-rendered as a dotted quad. The
        # bounded subset is IPv4-only, so the v6 length must be the
        # literal 0 (fenced rather than silently ignored).
        if len(args) != 3:
            raise ValueError("esql: IP_PREFIX takes "
                             "(ip, v4_length, v6_length)")
        if args[2].strip() != "0":
            raise ValueError("esql: IP_PREFIX is IPv4-only here — "
                             "pass 0 for the v6 length")
        if not _INT_RE.fullmatch(args[1].strip()):
            raise ValueError("esql: IP_PREFIX length must be an "
                             "integer literal")
        n = int(args[1])
        if not 0 <= n <= 32:
            raise ValueError("esql: IP_PREFIX v4 length must be "
                             "0-32")
        block = 1 << (32 - n)

        def _quad(ref: str, duck: bool) -> str:
            num = _ip_num(ref)
            masked = (f"(CAST(floor({num} / {block}) AS BIGINT) "
                      f"* {block})") if n < 32 else num
            t = "VARCHAR" if duck else "STRING"
            parts = [
                f"CAST(CAST(floor({masked} / {s}) AS BIGINT) % 256 "
                f"AS {t})"
                for s in (16777216, 65536, 256, 1)]
            if duck:  # || propagates NULL (DuckDB concat skips it)
                return "(" + " || '.' || ".join(parts) + ")"
            return "concat(" + ", '.', ".join(parts) + ")"

        return _E(_quad(rendered[0].spark, False),
                  _quad(rendered[0].duck, True))
    if name == "CASE":
        # ES|QL CASE(cond1, val1, [cond2, val2, ...][, default])
        if len(rendered) < 2:
            raise ValueError("esql: CASE needs at least (cond, val)")
        els = rendered.pop() if len(rendered) % 2 == 1 else None

        def _case(get) -> str:
            whens = " ".join(
                f"WHEN {get(c)} THEN {get(v)}"
                for c, v in zip(rendered[::2], rendered[1::2]))
            tail = f" ELSE {get(els)}" if els is not None else ""
            return f"CASE {whens}{tail} END"

        return _E(_case(lambda r: r.spark), _case(lambda r: r.duck))
    if name == "MV_COUNT":
        if len(rendered) != 1:
            raise ValueError("esql: MV_COUNT takes one argument")
        # Spark size() is INT, DuckDB len() is BIGINT — align
        return _E(f"CAST(size({rendered[0].spark}) AS BIGINT)",
                  f"CAST(len({rendered[0].duck}) AS BIGINT)")
    if name in ("MV_MIN", "MV_MAX"):
        if len(rendered) != 1:
            raise ValueError(f"esql: {name} takes one argument")
        fn = "min" if name == "MV_MIN" else "max"
        return _E(f"array_{fn}({rendered[0].spark})",
                  f"list_{fn}({rendered[0].duck})")
    if name == "MV_SORT":
        if len(rendered) != 1:
            raise ValueError("esql: MV_SORT takes one argument")
        # NULL elements dropped (ES multivalued fields hold no null)
        return _E(
            f"sort_array(filter({rendered[0].spark}, "
            f"_t -> _t IS NOT NULL))",
            f"list_sort(list_filter({rendered[0].duck}, "
            f"_t -> _t IS NOT NULL))")
    if name == "MV_DEDUPE":
        if len(rendered) != 1:
            raise ValueError("esql: MV_DEDUPE takes one argument")
        # canonical SORTED output in both engines (ES documents the
        # order as unspecified; DuckDB list_distinct is unordered
        # and drops NULLs — Spark mirrors the NULL drop explicitly)
        return _E(
            f"sort_array(array_distinct(filter({rendered[0].spark},"
            f" _t -> _t IS NOT NULL)))",
            f"list_sort(list_distinct({rendered[0].duck}))")
    if name == "MV_CONCAT":
        if len(rendered) != 2:
            raise ValueError("esql: MV_CONCAT takes (array, sep)")
        a, s = rendered
        return _E(f"array_join({a.spark}, {s.spark})",
                  f"array_to_string({a.duck}, {s.duck})")
    if name == "DATE_EXTRACT":
        if len(args) != 2:
            raise ValueError("esql: DATE_EXTRACT takes "
                             '("<part>", date)')
        part_raw = args[0].strip()
        if not (part_raw.startswith('"') and part_raw.endswith('"')):
            raise ValueError("esql: DATE_EXTRACT part must be a "
                             "string literal")
        part = part_raw[1:-1].lower()
        if part not in _CHRONO:
            raise ValueError(
                f"esql: DATE_EXTRACT part must be one of "
                f"{sorted(_CHRONO)} (day-of-week variants excluded "
                f"— engine numbering differs), got {part!r}")
        val = _render_expr(args[1])
        # Spark EXTRACT(YEAR ...) is INT, DuckDB's is BIGINT; ES
        # returns long — align on BIGINT
        return _E(
            f"CAST(EXTRACT({_CHRONO[part]} FROM {val.spark}) "
            f"AS BIGINT)",
            f"CAST(EXTRACT({_CHRONO[part]} FROM {val.duck}) "
            f"AS BIGINT)")
    if name == "DATE_DIFF":
        if len(args) != 3:
            raise ValueError('esql: DATE_DIFF takes '
                             '("<unit>", start, end)')
        unit_raw = args[0].strip()
        if not (unit_raw.startswith('"') and unit_raw.endswith('"')):
            raise ValueError("esql: DATE_DIFF unit must be a "
                             "string literal")
        unit = _UNITS.get(unit_raw[1:-1].lower())
        if unit not in _DIFF_UNITS:
            raise ValueError(
                f"esql: DATE_DIFF unit must be one of "
                f"{list(_DIFF_UNITS)}, got {unit_raw}")
        a, b = rendered[1], rendered[2]
        # both engines count COMPLETE elapsed units (ES ChronoUnit
        # semantics); both return BIGINT
        return _E(f"timestampdiff({unit.upper()}, {a.spark}, "
                  f"{b.spark})",
                  f"date_sub('{unit}', {a.duck}, {b.duck})")
    if name in ("BUCKET", "DATE_TRUNC"):
        if len(args) != 2:
            raise ValueError(f"esql: {name} takes "
                             f"{'(expr, 1 <unit>)' if name == 'BUCKET' else '(1 <unit>, expr)'}")
        amt, val = (args[1], rendered[0]) if name == "BUCKET" \
            else (args[0], rendered[1])
        if name == "BUCKET" and re.fullmatch(r"\d+(?:\.\d+)?",
                                             amt.strip()):
            # numeric-span histogram bucket: floor-to-multiple of
            # the span (ES BUCKET's fixed-interval form); the
            # uniform DOUBLE cast keeps integer spans type-aligned
            # (Spark floor(double) is BIGINT, DuckDB's is DOUBLE)
            span = amt.strip()
            if float(span) <= 0:
                raise ValueError(
                    f"esql: BUCKET span must be > 0, got {span}")
            return _E(
                f"CAST(floor(({val.spark}) / {span}) * {span} "
                f"AS DOUBLE)",
                f"CAST(floor(({val.duck}) / {span}) * {span} "
                f"AS DOUBLE)")
        unit = _parse_amount(amt, name)
        # DuckDB date_trunc returns DATE at >= day granularity,
        # Spark always TIMESTAMP — the cast is a no-op for Spark
        # and aligns the oracle's type
        return _E(
            f"CAST(date_trunc('{unit}', {val.spark}) AS TIMESTAMP)",
            f"CAST(date_trunc('{unit}', {val.duck}) AS TIMESTAMP)")
    raise AssertionError(name)


_SPECIAL = ("CONCAT", "SPLIT", "NOW", "BUCKET", "DATE_TRUNC",
            "DATE_EXTRACT", "DATE_DIFF", "LOCATE",
            "STARTS_WITH", "ENDS_WITH", "CASE", "MV_COUNT",
            "MV_MIN", "MV_MAX", "MV_SORT", "MV_DEDUPE", "MV_CONCAT",
            "CIDR_MATCH", "IP_PREFIX",
            *_CASTS)


def _parse_cidr(block: str) -> tuple[int, int]:
    """'a.b.c.d/n' -> inclusive (lo, hi) packed-int range; IPv4
    only (the bounded subset — the corpus stores dotted quads)."""
    m = re.fullmatch(r"(\d{1,3})\.(\d{1,3})\.(\d{1,3})\.(\d{1,3})"
                     r"/(\d{1,2})", block)
    if not m:
        raise ValueError(f"esql: CIDR_MATCH needs IPv4 "
                         f"'a.b.c.d/n' literals, got {block!r}")
    o = [int(x) for x in m.groups()[:4]]
    n = int(m.group(5))
    if any(x > 255 for x in o) or n > 32:
        raise ValueError(f"esql: invalid CIDR block {block!r}")
    base = (o[0] << 24) | (o[1] << 16) | (o[2] << 8) | o[3]
    mask = ((1 << 32) - 1) ^ ((1 << (32 - n)) - 1) if n else 0
    lo = base & mask
    return lo, lo + ((1 << (32 - n)) - 1)


def _ip_num(ref: str) -> str:
    """Dotted-quad string -> packed BIGINT; TRY_CAST keeps a
    malformed ip NULL in BOTH engines (DuckDB's plain CAST('')
    errors), so predicates over it are null-safe. Identical text in
    Spark SQL and DuckDB (split_part is 1-based in both)."""
    def octet(i: int, scale: int) -> str:
        return (f"TRY_CAST(split_part({ref}, '.', {i}) "
                f"AS BIGINT) * {scale}")
    return ("(" + " + ".join(octet(i, s) for i, s in
                             ((1, 16777216), (2, 65536),
                              (3, 256), (4, 1))) + ")")


def _like_pattern(sql_lit: str) -> str:
    """ES|QL wildcard pattern literal -> SQL LIKE pattern: ``*`` ->
    ``%``, ``?`` -> ``_``. Literal %/_ are refused because default
    escape rules differ between Spark and DuckDB."""
    inner = sql_lit[1:-1]
    if "%" in inner or "_" in inner:
        raise ValueError(
            "esql: LIKE pattern must not contain literal %/_ "
            "(escape rules differ per engine); got " + sql_lit)
    return "'" + inner.replace("*", "%").replace("?", "_") + "'"


def _rlike_patterns(sql_lit: str) -> _E:
    """ES|QL RLIKE regex literal -> per-engine forms. ES RLIKE
    matches the ENTIRE string: Spark's RLIKE is partial, so it gets
    ^(?:...)$ anchors; DuckDB's SIMILAR TO is already full-match."""
    inner = sql_lit[1:-1]
    if re.search(r"\(\?[=!<]|\\\d", inner):
        raise ValueError(
            "esql: RLIKE pattern uses lookaround/backreferences — "
            "Java-regex-only, not portable to RE2; got " + sql_lit)
    return _E(f"'^(?:{inner})$'", sql_lit)


def _render_expr(expr: str) -> _E:
    """Validate + translate one ES|QL value/boolean expression into
    per-engine SQL text (identical for everything except the
    engine-specific functions; see module docstring)."""
    sp: list[str] = []
    du: list[str] = []

    def emit(s: str, d: str | None = None) -> None:
        sp.append(s)
        du.append(s if d is None else d)

    pos = 0
    pending: str | None = None  # 'like' | 'rlike' awaiting pattern
    while pos < len(expr):
        if expr[pos].isspace():
            pos += 1
            continue
        m = _TOKEN_RE.match(expr, pos)
        if not m:
            raise ValueError(f"esql: unsupported syntax at "
                             f"{expr[pos:pos + 20]!r}")
        tok = m.group(1)
        pos = m.end()
        if pending and not tok.startswith('"'):
            raise ValueError(f"esql: {pending.upper()} needs a "
                             f"string-literal pattern, got {tok!r}")
        if tok == "==":
            emit("=")
        elif tok == "!=":
            emit("<>")
        elif tok.startswith('"'):
            lit = _string_literal(tok)
            if pending == "like":
                emit(_like_pattern(lit))
            elif pending == "rlike":
                r = _rlike_patterns(lit)
                emit(r.spark, r.duck)
            else:
                emit(lit)
            pending = None
        elif _IDENT_RE.fullmatch(tok):
            up = tok.upper()
            if up == "LIKE":
                pending = "like"
                emit("LIKE")
            elif up == "RLIKE":
                pending = "rlike"
                emit("RLIKE", "SIMILAR TO")
            elif up in _SPECIAL:
                # capture the balanced argument list and recurse
                j = pos
                while j < len(expr) and expr[j].isspace():
                    j += 1
                if j >= len(expr) or expr[j] != "(":
                    raise ValueError(f"esql: {up} needs (...)")
                close = _find_close(expr, j)
                args = _split_top(expr[j + 1:close])
                r = _render_call(up, args)
                emit(r.spark, r.duck)
                pos = close + 1
            elif up in _FUNCS:
                emit(_FUNCS[up])
            elif up in ("AND", "OR", "NOT", "IS", "NULL", "IN",
                        "TRUE", "FALSE"):
                emit(up)
            elif up in _AGGS:
                raise ValueError(
                    f"esql: aggregate {tok} outside STATS")
            elif up == "RATE":
                raise ValueError(
                    "esql: RATE is only valid directly inside "
                    "STATS wrapped in an outer SUM/AVG/MIN/MAX "
                    "(the ES|QL TSDS contract)")
            elif up == "KNN":
                raise ValueError(
                    "esql: KNN is only valid as the sole predicate "
                    "of a WHERE — 'WHERE KNN(col, [..], k)'")
            elif (tok.lower() in _UNITS and sp
                  and _INT_RE.fullmatch(sp[-1])):
                # temporal amount: '7 day' -> INTERVAL 7 DAY
                n = sp.pop()
                du.pop()
                emit(f"INTERVAL {n} {_UNITS[tok.lower()].upper()}")
            else:
                emit(tok)  # column reference
        else:
            emit(tok)
    if pending:
        raise ValueError(f"esql: dangling {pending.upper()} with no "
                         f"pattern in {expr!r}")
    return _E(" ".join(sp), " ".join(du))


@dataclass
class _Stats:
    aggs: list = field(default_factory=list)  # (alias, _E)
    by: list = field(default_factory=list)    # (alias, _E)
    # TSDS counter-rate aggs: (alias, outer_fn, counter_col); when
    # non-empty, `tsds` carries (series_col, time_col, tiebreak_col)
    # and aggs is empty (rate STATS is all-rate — see parse fences)
    rates: list = field(default_factory=list)
    tsds: tuple | None = None


def _render_agg(call: str) -> _E:
    m = re.fullmatch(r"\s*([A-Za-z_]+)\s*\((.*)\)\s*", call, re.S)
    if not m:
        raise ValueError(f"esql: STATS needs AGG(expr), got {call!r}")
    name, arg = m.group(1).upper(), m.group(2).strip()
    if name not in _AGGS:
        raise ValueError(f"esql: unsupported aggregate {name}")
    if name == "COUNT" and (arg == "*" or arg == ""):
        return _both("count(*)")
    if name == "PERCENTILE":
        parts = _split_top(arg)
        if len(parts) != 2 or not re.fullmatch(
                r"\d+(?:\.\d+)?", parts[1]):
            raise ValueError("esql: PERCENTILE takes "
                             "(expr, <numeric 0-100 literal>)")
        p = float(parts[1])
        if not 0 <= p <= 100:
            raise ValueError(f"esql: PERCENTILE p must be in "
                             f"[0, 100], got {parts[1]}")
        inner = _render_expr(parts[0])
        frac = repr(p / 100.0)
        return _E(f"percentile({inner.spark}, {frac})",
                  f"quantile_cont({inner.duck}, {frac})")
    if name == "WEIGHTED_AVG":
        parts = _split_top(arg)
        if len(parts) != 2:
            raise ValueError("esql: WEIGHTED_AVG takes "
                             "(expr, weight)")
        v = _render_expr(parts[0])
        w_ = _render_expr(parts[1])

        def _wavg(val: str, wt: str) -> str:
            # pair-null semantics (ES skips docs missing either
            # side); DOUBLE casts keep integer inputs type-aligned
            # (DuckDB sum(int) is HUGEINT)
            both = f"({val}) IS NOT NULL AND ({wt}) IS NOT NULL"
            num = f"sum(CASE WHEN {both} THEN ({val}) * ({wt}) END)"
            den = f"sum(CASE WHEN {both} THEN ({wt}) END)"
            return (f"CAST({num} AS DOUBLE) "
                    f"/ CAST({den} AS DOUBLE)")

        return _E(_wavg(v.spark, w_.spark), _wavg(v.duck, w_.duck))
    if name == "VALUES":
        inner = _render_expr(arg)
        # canonical SORTED distinct multivalue in both engines (ES
        # documents VALUES' order as unspecified; NULLs dropped —
        # Spark collect_set / DuckDB list_distinct both drop them)
        return _E(
            f"sort_array(collect_set({inner.spark}))",
            f"list_sort(list_distinct(list({inner.duck})))")
    if name == "TOP":
        parts = _split_top(arg)
        if (len(parts) != 3 or not _INT_RE.fullmatch(parts[1])
                or parts[2].strip('"').lower() not in ("asc",
                                                       "desc")):
            raise ValueError('esql: TOP takes '
                             '(expr, <k>, "asc"|"desc")')
        k = int(parts[1])
        asc = parts[2].strip('"').lower() == "asc"
        inner = _render_expr(parts[0])
        # deterministic: full sort of the group's (non-null) values,
        # then a k-prefix — identical element order in both engines
        return _E(
            f"slice(sort_array(collect_list({inner.spark}), "
            f"{'true' if asc else 'false'}), 1, {k})",
            f"list_slice(list_sort(list({inner.duck}) "
            f"FILTER (WHERE ({inner.duck}) IS NOT NULL), "
            f"'{'ASC' if asc else 'DESC'}'), 1, {k})")
    inner = _render_expr(arg)
    if name == "MEDIAN":
        return _E(f"percentile({inner.spark}, 0.5)",
                  f"quantile_cont({inner.duck}, 0.5)")
    if name == "COUNT_DISTINCT":
        return _E(f"count(DISTINCT {inner.spark})",
                  f"count(DISTINCT {inner.duck})")
    fn = _AGGS[name]
    return _E(f"{fn}({inner.spark})", f"{fn}({inner.duck})")


def _rx_escape(lit: str) -> str:
    """Escape regex metachars portably (Java regex + RE2)."""
    return re.sub(r"([\\.^$*+?()\[\]{}|])", r"\\\1", lit)


def _dissect_pattern(pattern: str) -> tuple[str, list[str]]:
    """Dissect pattern -> (anchored regex, ordered key names).
    %{key} segments become lazy capture groups between escaped
    literals; %{} skips. Non-matching rows yield '' keys (see the
    module docstring's divergence note)."""
    keys, rx, pos = [], ["^"], 0
    for m in re.finditer(r"%\{([A-Za-z_][A-Za-z0-9_]*)?\}", pattern):
        rx.append(_rx_escape(pattern[pos:m.start()]))
        rx.append("(.*?)" if m.group(1) else ".*?")
        if m.group(1):
            keys.append(m.group(1))
        pos = m.end()
    rx.append(_rx_escape(pattern[pos:]))
    rx.append("$")
    if not keys:
        raise ValueError("esql: DISSECT pattern needs at least one "
                         "%{key}")
    return "".join(rx), keys


def _grok_pattern(pattern: str) -> tuple[str, list]:
    """Grok pattern -> (UNANCHORED regex, [(name, sql_type|None)]).
    ``%{LIB}`` compiles non-capturing, ``%{LIB:name}`` captures,
    ``%{LIB:name:type}`` captures + casts. Literal text between
    segments is escaped (bounded subset: literal, not regex)."""
    keys, rx, pos = [], [], 0

    def _literal(segment: str) -> str:
        if "%{" in segment:
            raise ValueError(
                f"esql: malformed GROK segment in {segment!r} — "
                f"expected %{{PATTERN[:name[:type]]}} (a name needs "
                f"a leading letter; the type slot needs a name)")
        return _rx_escape(segment)

    for m in re.finditer(
            r"%\{([A-Z][A-Z0-9_]*)"
            r"(?::([A-Za-z_][A-Za-z0-9_]*))?"
            r"(?::([a-z]+))?\}", pattern):
        lib, name, typ = m.group(1), m.group(2), m.group(3)
        if lib not in _GROK_LIB:
            raise ValueError(f"esql: GROK pattern %{{{lib}}} is not "
                             f"in the bounded library "
                             f"({', '.join(sorted(_GROK_LIB))})")
        if typ is not None:
            if name is None:
                raise ValueError("esql: GROK type needs a name: "
                                 "%{PAT:name:type}")
            if typ not in _GROK_TYPES:
                raise ValueError(
                    f"esql: GROK type must be one of "
                    f"{sorted(_GROK_TYPES)}, got {typ!r}")
        rx.append(_literal(pattern[pos:m.start()]))
        if name:
            rx.append(f"({_GROK_LIB[lib]})")
            keys.append((name, _GROK_TYPES.get(typ or "")))
        else:
            rx.append(f"(?:{_GROK_LIB[lib]})")
        pos = m.end()
    rx.append(_literal(pattern[pos:]))
    if not keys:
        raise ValueError("esql: GROK pattern needs at least one "
                         "%{PATTERN:name} capture")
    return "".join(rx), keys


@dataclass
class EsqlPlan:
    """Parsed pipeline: table + ORDERED command list. Each command
    is (kind, payload); renderers apply them sequentially."""
    table: str
    commands: list = field(default_factory=list)


def _split_pipes(q: str) -> list[str]:
    """Split the pipeline on '|' outside string literals (DISSECT
    patterns may contain '|') and outside parens (FORK branches
    are themselves pipe-joined sub-pipelines)."""
    out, start, in_s, depth, i = [], 0, None, 0, 0
    while i < len(q):
        ch = q[i]
        if in_s:
            if ch == "\\":
                i += 1
            elif ch == in_s:
                in_s = None
        elif ch in "'\"":
            in_s = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "|" and depth == 0:
            out.append(q[start:i])
            start = i + 1
        i += 1
    out.append(q[start:])
    return [p.strip() for p in out]


def _split_fork_branches(body: str) -> list[str]:
    """Split ``(branch) (branch) ...`` on top-level parens (branch
    pipelines may contain nested parens and string literals)."""
    out, depth, start, in_s, i = [], 0, None, None, 0
    while i < len(body):
        ch = body[i]
        if in_s:
            if ch == "\\":
                i += 1  # skip the escaped character (as _split_pipes does)
            elif ch == in_s:
                in_s = None
        elif ch in "'\"":
            in_s = ch
        elif ch == "(":
            if depth == 0:
                start = i + 1
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                out.append(body[start:i].strip())
                start = None
        elif depth == 0 and not ch.isspace():
            raise ValueError(
                f"esql: FORK needs (branch) (branch) ..., got "
                f"stray text at {body[i:i + 20]!r}")
        i += 1
    if depth != 0:
        raise ValueError("esql: FORK has unbalanced parentheses")
    return out


_KNN_RE = re.compile(
    r"KNN\(\s*([A-Za-z_][A-Za-z0-9_]*)\s*,\s*\[([^\]]*)\]\s*,"
    r"\s*(\d+)\s*\)\s*$", re.I)


def parse_esql(query: str,
               enrich: dict | None = None,
               lookup_indexes: dict | None = None,
               sample_key: str | None = None,
               tsds: tuple | None = None,
               knn_key: str | None = None,
               _in_fork: bool = False) -> EsqlPlan:
    parts = _split_pipes(query.strip())
    head = parts[0]
    hu = head.upper()
    if hu.startswith("ROW ") or hu == "SHOW INFO":
        # source-less heads (ES|QL 8.x): ROW builds a one-row
        # literal relation from name = expr assignments; SHOW INFO
        # reports the engine identity. Both flow into the normal
        # pipeline (table sentinel "" — the renderers synthesize
        # the one-row source).
        plan = EsqlPlan(table="")
        if hu == "SHOW INFO":
            assigns = [(n, _render_expr(f"\"{v}\""))
                       for n, v in _SHOW_INFO]
        else:
            assigns = []
            for assign in _split_top(head[4:]):
                name, eq, rhs = assign.partition("=")
                if not eq:
                    raise ValueError(
                        f"esql: ROW needs name = expr, "
                        f"got {assign!r}")
                assigns.append((name.strip(), _render_expr(rhs)))
            if not assigns:
                raise ValueError("esql: ROW needs at least one "
                                 "name = expr assignment")
        plan.commands.append(("row", assigns))
    else:
        m = re.fullmatch(r"(FROM|TS)\s+([A-Za-z_][A-Za-z0-9_]*)",
                         head, re.I)
        if not m:
            raise ValueError(
                "esql: pipeline must start with FROM <index>, "
                "TS <index>, ROW name = expr, ... or SHOW INFO")
        if m.group(1).upper() == "TS" and tsds is None:
            # the ES|QL 8.16 TS command binds the time-series
            # identity; without it RATE() and friends have no
            # series key
            raise ValueError(
                "esql: TS needs the time-series identity — pass "
                "parse_esql(..., tsds=(<series col>, <time col>, "
                "<tiebreak col>)) (the _tsid/@timestamp analog)")
        plan = EsqlPlan(table=m.group(2))
    for cmd in parts[1:]:
        kw = cmd.split(None, 1)[0].upper() if cmd else ""
        body = cmd[len(kw):].strip()
        if kw in ("ROW", "SHOW"):
            raise ValueError(f"esql: {kw} is a source-less HEAD — "
                             f"it starts a pipeline, it cannot "
                             f"appear mid-pipeline")
        if kw == "WHERE":
            m_knn = _KNN_RE.match(body.strip())
            if m_knn:
                col, vec_s, k_s = m_knn.groups()
                try:
                    qv = [float(x) for x in vec_s.split(",")]
                except ValueError:
                    raise ValueError(
                        "esql: KNN query vector must be a literal "
                        f"numeric array, got [{vec_s}]") from None
                if not qv:
                    raise ValueError("esql: KNN query vector is "
                                     "empty")
                if not knn_key or not _IDENT_RE.fullmatch(knn_key):
                    raise ValueError(
                        "esql: KNN needs a deterministic tiebreak "
                        "key — pass parse_esql(..., knn_key="
                        "'<unique id column>') (ES breaks score "
                        "ties by internal doc order)")
                plan.commands.append(
                    ("knn", (col, qv, int(k_s), knn_key)))
                continue
            if re.search(r"\bKNN\s*\(", body, re.I):
                raise ValueError(
                    "esql: KNN must be the SOLE predicate of its "
                    "WHERE — 'WHERE KNN(col, [..], k)'; put other "
                    "filters in a PRECEDING WHERE (the ES "
                    "pre-filter semantics: every hit satisfies "
                    "filters applied before the top-k)")
            plan.commands.append(("where", _render_expr(body)))
        elif kw == "EVAL":
            assigns = []
            for assign in _split_top(body):
                name, eq, rhs = assign.partition("=")
                if not eq:
                    raise ValueError(f"esql: EVAL needs name = expr, "
                                     f"got {assign!r}")
                assigns.append((name.strip(), _render_expr(rhs)))
            names = [n for n, _ in assigns]
            if len(set(names)) != len(names):
                raise ValueError(
                    f"esql: duplicate EVAL name in one command "
                    f"({names}) — split into separate EVALs (the "
                    f"later one replaces the column)")
            plan.commands.append(("eval", assigns))
        elif kw == "STATS":
            st = _Stats()
            agg_part, sep, by_part = body.partition(" BY ")
            if not sep:
                agg_part, sep, by_part = body.partition(" by ")
            for assign in _split_top(agg_part):
                name, eq, rhs = assign.partition("=")
                if not eq:
                    raise ValueError("esql: STATS needs name = "
                                     "AGG(expr)")
                call, cond = _split_agg_filter(rhs.strip())
                m_rate = re.fullmatch(
                    r"(SUM|AVG|MIN|MAX)\s*\(\s*RATE\s*\(\s*"
                    r"([A-Za-z_][A-Za-z0-9_]*)\s*\)\s*\)",
                    call.strip(), re.I)
                if m_rate:
                    if cond is not None:
                        raise ValueError(
                            "esql: RATE aggs do not take a WHERE "
                            "filter (bounded TSDS subset)")
                    if tsds is None:
                        raise ValueError(
                            "esql: RATE needs the time-series "
                            "identity — pass parse_esql(..., "
                            "tsds=(<series col>, <time col>, "
                            "<tiebreak col>)) (ES derives it from "
                            "the TSDS index's _tsid/@timestamp)")
                    st.rates.append((name.strip(),
                                     m_rate.group(1).lower(),
                                     m_rate.group(2)))
                    continue
                if re.match(r"RATE\s*\(", call.strip(), re.I):
                    raise ValueError(
                        "esql: RATE must be wrapped in an outer "
                        "cross-series aggregate — SUM(RATE(c)), "
                        "AVG(RATE(c)), MIN(RATE(c)) or "
                        "MAX(RATE(c)) (the ES|QL TSDS contract)")
                e = _render_agg(call)
                if cond is not None:
                    # per-aggregate filter (ES|QL 8.16 STATS ...
                    # WHERE): ANSI FILTER clause, identical text in
                    # Spark SQL and DuckDB
                    c = _render_expr(cond)
                    e = _E(f"{e.spark} FILTER (WHERE {c.spark})",
                           f"{e.duck} FILTER (WHERE {c.duck})")
                st.aggs.append((name.strip(), e))
            for item in _split_top(by_part) if by_part else []:
                name, eq, rhs = item.partition("=")
                if eq:
                    st.by.append((name.strip(), _render_expr(rhs)))
                else:
                    col = item.strip()
                    if not _IDENT_RE.fullmatch(col):
                        raise ValueError(
                            f"esql: STATS BY needs a column or "
                            f"name = expr, got {item!r}")
                    st.by.append((col, _both(col)))
            if st.rates:
                if st.aggs:
                    raise ValueError(
                        "esql: STATS mixing RATE with plain "
                        "aggregates is not supported — RATE "
                        "aggregates over SERIES, plain aggs over "
                        "rows; split into two STATS pipelines")
                st.tsds = tsds
            plan.commands.append(("stats", st))
        elif kw == "SORT":
            # (col, asc, nulls_first): ES|QL's default null placement
            # matches Spark's (ASC -> nulls first, DESC -> nulls
            # last); the DuckDB renderer spells it out because its
            # own default is NULLS LAST either way
            sorts = []
            for c in body.split(","):
                bits = [b.upper() for b in c.split()]
                raw = c.split()
                if not raw or not _IDENT_RE.fullmatch(raw[0]):
                    raise ValueError(f"esql: SORT needs column "
                                     f"names, got {c!r}")
                rest = bits[1:]
                asc = True
                if rest and rest[0] in ("ASC", "DESC"):
                    asc = rest[0] == "ASC"
                    rest = rest[1:]
                nf = asc  # engine-aligned default
                if rest:
                    if (len(rest) != 2 or rest[0] != "NULLS"
                            or rest[1] not in ("FIRST", "LAST")):
                        raise ValueError(
                            f"esql: SORT modifier must be "
                            f"[ASC|DESC] [NULLS FIRST|LAST], "
                            f"got {c!r}")
                    nf = rest[1] == "FIRST"
                sorts.append((raw[0], asc, nf))
            plan.commands.append(("sort", sorts))
        elif kw == "KEEP":
            keeps = [c.strip() for c in body.split(",")]
            if not all(_IDENT_RE.fullmatch(c)
                       or _KEEP_PAT_RE.fullmatch(c) for c in keeps):
                raise ValueError(f"esql: KEEP needs column names or "
                                 f"*-patterns, got {body!r}")
            plan.commands.append(("keep", keeps))
        elif kw == "LIMIT":
            plan.commands.append(("limit", int(body)))
        elif kw == "RENAME":
            pairs = []
            for item in _split_top(body):
                m2 = re.fullmatch(
                    r"([A-Za-z_][A-Za-z0-9_]*)\s+AS\s+"
                    r"([A-Za-z_][A-Za-z0-9_]*)", item, re.I)
                if not m2:
                    raise ValueError(f"esql: RENAME needs old AS "
                                     f"new, got {item!r}")
                pairs.append((m2.group(1), m2.group(2)))
            plan.commands.append(("rename", pairs))
        elif kw == "DROP":
            cols = [c.strip() for c in body.split(",")]
            if not all(_IDENT_RE.fullmatch(c) for c in cols):
                raise ValueError(f"esql: DROP needs column names, "
                                 f"got {body!r}")
            plan.commands.append(("drop", cols))
        elif kw == "INLINESTATS":
            agg_part, sep, by_part = body.partition(" BY ")
            if not sep:
                agg_part, sep, by_part = body.partition(" by ")
            if not sep:
                raise ValueError(
                    "esql: INLINESTATS needs BY — a global "
                    "INLINESTATS would be an unpartitioned window "
                    "(single-reducer); aggregate with STATS instead")
            aggs = []
            for assign in _split_top(agg_part):
                name, eq, rhs = assign.partition("=")
                if not eq:
                    raise ValueError("esql: INLINESTATS needs "
                                     "name = AGG(expr)")
                am = re.match(r"\s*([A-Za-z_]+)\s*\(", rhs)
                if not am or am.group(1).upper() not in _WINDOW_AGGS:
                    raise ValueError(
                        f"esql: INLINESTATS aggregates are bounded "
                        f"to {list(_WINDOW_AGGS)} (no DISTINCT/"
                        f"quantile windows), got {rhs.strip()!r}")
                aggs.append((name.strip(), _render_agg(rhs.strip())))
            bys = [c.strip() for c in by_part.split(",")]
            if not bys or not all(_IDENT_RE.fullmatch(c)
                                  for c in bys):
                raise ValueError(
                    f"esql: INLINESTATS BY needs plain column "
                    f"names (stage expressions with EVAL), got "
                    f"{by_part!r}")
            plan.commands.append(("inlinestats", (aggs, bys)))
        elif kw == "LOOKUP":
            lm = re.fullmatch(r"JOIN\s+([A-Za-z_]\w*)\s+ON\s+"
                              r"([A-Za-z_]\w*)", body, re.I)
            if not lm:
                raise ValueError(f"esql: LOOKUP needs JOIN <index> "
                                 f"ON <field>, got {body!r}")
            iname, on_col = lm.groups()
            if not lookup_indexes or iname not in lookup_indexes:
                raise ValueError(
                    f"esql: unknown lookup index {iname!r} — pass "
                    f"parse_esql(..., lookup_indexes={{name: "
                    f"EnrichPolicy(...)}})")
            idx = lookup_indexes[iname]
            if idx.match_field != on_col:
                raise ValueError(
                    f"esql: LOOKUP JOIN ON {on_col!r} must name the "
                    f"index's key field {idx.match_field!r} (ES "
                    f"same-name contract — stage the key with EVAL)")
            plan.commands.append(
                ("lookup", (iname, idx, list(idx.fields))))
        elif kw == "CHANGE_POINT":
            cm = re.fullmatch(r"([A-Za-z_]\w*)\s+ON\s+"
                              r"([A-Za-z_]\w*)", body, re.I)
            if not cm:
                raise ValueError(f"esql: CHANGE_POINT needs "
                                 f"<value_col> ON <key_col>, got "
                                 f"{body!r}")
            if not any(k == "stats" for k, _ in plan.commands):
                raise ValueError(
                    "esql: CHANGE_POINT input must be a "
                    "STATS-bucketed series (ES bounds the input to "
                    "~1000 values; an unbucketed per-row ordered "
                    "window would be a single-reducer sort)")
            plan.commands.append(
                ("change_point", (cm.group(1), cm.group(2))))
        elif kw == "ENRICH":
            em = re.fullmatch(
                r"([A-Za-z_]\w*)\s+ON\s+([A-Za-z_]\w*)"
                r"(?:\s+WITH\s+(.+))?", body, re.I | re.S)
            if not em:
                raise ValueError(f"esql: ENRICH needs <policy> ON "
                                 f"<col> [WITH <fields>], got "
                                 f"{body!r}")
            pname, on_col, with_part = em.groups()
            if not enrich or pname not in enrich:
                raise ValueError(
                    f"esql: unknown enrich policy {pname!r} — pass "
                    f"parse_esql(..., enrich={{name: "
                    f"EnrichPolicy(...)}})")
            pol = enrich[pname]
            if with_part:
                fields = [c.strip() for c in with_part.split(",")]
                if not all(_IDENT_RE.fullmatch(c) for c in fields):
                    raise ValueError(f"esql: ENRICH WITH needs "
                                     f"field names, got {with_part!r}")
                bad = [c for c in fields if c not in pol.fields]
                if bad:
                    raise ValueError(
                        f"esql: ENRICH WITH fields {bad} are not in "
                        f"policy {pname!r} ({list(pol.fields)})")
            else:
                fields = list(pol.fields)
            if pol.match_field in fields or on_col in fields:
                raise ValueError(
                    "esql: ENRICH WITH fields must not include the "
                    "match/ON column")
            plan.commands.append(
                ("enrich", (pname, pol, on_col, fields)))
        elif kw == "GROK":
            gm = re.fullmatch(
                r'([A-Za-z_][A-Za-z0-9_]*)\s+"((?:[^"\\]|\\.)*)"',
                body)
            if not gm:
                raise ValueError(f"esql: GROK needs <col> "
                                 f'"<pattern>", got {body!r}')
            col = gm.group(1)
            pattern = gm.group(2).replace('\\"', '"')
            rx, keys = _grok_pattern(pattern)
            plan.commands.append(("grok", (col, rx, keys)))
        elif kw == "MV_EXPAND":
            if not _IDENT_RE.fullmatch(body):
                raise ValueError(f"esql: MV_EXPAND needs one column "
                                 f"name, got {body!r}")
            plan.commands.append(("mv_expand", body))
        elif kw == "DISSECT":
            dm = re.fullmatch(
                r'([A-Za-z_][A-Za-z0-9_]*)\s+"((?:[^"\\]|\\.)*)"',
                body)
            if not dm:
                if "APPEND_SEPARATOR" in body.upper():
                    raise ValueError("esql: DISSECT "
                                     "APPEND_SEPARATOR unsupported")
                raise ValueError(f"esql: DISSECT needs <col> "
                                 f'"<pattern>", got {body!r}')
            col = dm.group(1)
            pattern = dm.group(2).replace('\\"', '"')
            rx, keys = _dissect_pattern(pattern)
            plan.commands.append(("dissect", (col, rx, keys)))
        elif kw == "SAMPLE":
            # ES 8.19+ SAMPLE <probability>. DOCUMENTED DIVERGENCE:
            # ES samples pseudorandomly per run; this subset is a
            # DETERMINISTIC md5-hash Bernoulli over a caller-named
            # unique key column (parse_esql(..., sample_key=...)) —
            # reproducible across runs AND engines, which is what a
            # training-data pipeline wants from its sampler anyway
            # (the hash_sample contract). Refused without a key: a
            # sample that changes under your feet is unverifiable.
            try:
                prob = float(body)
            except ValueError:
                raise ValueError(f"esql: SAMPLE needs a numeric "
                                 f"probability, got {body!r}")
            if not 0 < prob < 1:
                raise ValueError("esql: SAMPLE probability must be "
                                 "in (0, 1)")
            if not sample_key or not _IDENT_RE.fullmatch(sample_key):
                raise ValueError(
                    "esql: SAMPLE needs a deterministic row key — "
                    "pass parse_esql(..., sample_key='<unique id "
                    "column>')")
            plan.commands.append(("sample", (prob, sample_key)))
        elif kw == "FORK":
            # ES 8.18+ FORK: >= 2 branch sub-pipelines over the
            # same input, each tagged _fork=forkN, unioned by name.
            # Branches parse through the same grammar (recursive,
            # nested FORK refused — ES's own limit); a branch-local
            # SORT orders that branch's LIMIT only, exactly ES.
            if _in_fork:
                raise ValueError("esql: nested FORK is not "
                                 "supported (ES refuses it too)")
            raw = _split_fork_branches(body)
            if len(raw) < 2:
                raise ValueError("esql: FORK needs at least two "
                                 "(branch) pipelines")
            if len(raw) > 8:
                raise ValueError("esql: FORK is bounded to 8 "
                                 "branches (the ES limit)")
            branches = []
            for btext in raw:
                sub = parse_esql(
                    f"FROM {plan.table} | {btext}" if btext
                    else f"FROM {plan.table}",
                    enrich, lookup_indexes, sample_key,
                    tsds=tsds, knn_key=knn_key, _in_fork=True)
                branches.append(sub.commands)
            plan.commands.append(("fork", branches))
        elif kw == "FUSE":
            # ES 8.19 FUSE: RRF fusion of the FORK branches. Bounded
            # contract: FUSE takes the doc-identity column (ES fuses
            # on _id metadata), must IMMEDIATELY follow FORK, and
            # every branch must end `SORT ... | LIMIT n` (<= 10000,
            # the ES rerank-window cap) so per-branch rank is
            # well-defined; the branch SORT needs a unique tiebreak
            # column for determinism (documented, not verifiable
            # without a schema). Emits the fused ranking relation
            # (key, _score = sum over branches of 1/(60 + rank),
            # _hits) — the rank_constant 60 is the ES default.
            # grammar: FUSE <key>                      (rrf ranking)
            #          FUSE DOCS <key>                 (rrf + docs)
            #          FUSE LINEAR <key> WEIGHTS w,... (linear score)
            #              [NORMALIZER MINMAX]
            form, score_mode = "rank", "rrf"
            weights: list | None = None
            normalizer = "none"
            btxt = body.strip()
            up = btxt.upper()
            if up.startswith("DOCS "):
                form = "docs"
                btxt = btxt[5:].strip()
            elif up.startswith("LINEAR "):
                score_mode = "linear"
                form = "rank"
                btxt = btxt[7:].strip()
                m = re.match(
                    r"(\w+)\s+WEIGHTS\s+([\d.,\s]+?)"
                    r"(?:\s+NORMALIZER\s+(\w+))?$",
                    btxt, re.IGNORECASE)
                if not m:
                    raise ValueError(
                        "esql: FUSE LINEAR takes "
                        "'FUSE LINEAR <key> WEIGHTS w1, w2, ... "
                        "[NORMALIZER MINMAX]'")
                btxt = m.group(1)
                weights = [float(x) for x in
                           m.group(2).split(",") if x.strip()]
                if m.group(3):
                    normalizer = m.group(3).lower()
                    if normalizer != "minmax":
                        raise ValueError(
                            "esql: FUSE LINEAR NORMALIZER supports "
                            "MINMAX (or omit for none)")
            if not _IDENT_RE.fullmatch(btxt):
                raise ValueError(
                    "esql: FUSE takes the doc-identity column — "
                    "FUSE [DOCS|LINEAR] <key> (the _id analog)")
            if not plan.commands or plan.commands[-1][0] != "fork":
                raise ValueError(
                    "esql: FUSE must immediately follow FORK "
                    "(it fuses the fork branches)")
            branches = plan.commands.pop()[1]
            for bi, br in enumerate(branches, start=1):
                if (len(br) < 2 or br[-2][0] != "sort"
                        or br[-1][0] != "limit"):
                    raise ValueError(
                        f"esql: FUSE needs every FORK branch to end "
                        f"'SORT ... | LIMIT n' so per-branch rank "
                        f"is well-defined — branch {bi} does not")
                if br[-1][1] > 10000:
                    raise ValueError(
                        f"esql: FUSE branch {bi} LIMIT exceeds the "
                        f"10000 rerank-window cap")
                if score_mode == "linear" and br[-2][1][0][1]:
                    raise ValueError(
                        f"esql: FUSE LINEAR reads each branch's "
                        f"score from its final SORT's FIRST column, "
                        f"which must therefore sort DESC — branch "
                        f"{bi} sorts it ascending")
            if weights is not None and len(weights) != len(branches):
                raise ValueError(
                    f"esql: FUSE LINEAR WEIGHTS needs one weight "
                    f"per FORK branch ({len(branches)} branches, "
                    f"{len(weights)} weights)")
            if score_mode == "linear":
                plan.commands.append(("fork_fuse_linear",
                                      (branches, btxt, weights,
                                       normalizer)))
            elif form == "docs":
                plan.commands.append(
                    ("fork_fuse_docs", (branches, btxt)))
            else:
                plan.commands.append(
                    ("fork_fuse", (branches, btxt)))
        else:
            raise ValueError(f"esql: unknown command {kw!r}")
    _validate_order_flow(plan)
    return plan


def _validate_order_flow(plan: EsqlPlan) -> None:
    """Static pass mirroring the renderers' active-sort tracking:
    DROP of an active sort column is refused at PARSE time (KEEP
    projects sort columns through; DROP removes them before a later
    LIMIT could consume the order)."""
    active: set = set()
    for kind, p in plan.commands:
        if kind == "sort":
            active = {c for c, *_ in p}
        elif kind in ("stats", "change_point"):
            active = set()
        elif kind == "rename":
            ren = dict(p)
            active = {ren.get(c, c) for c in active}
        elif kind == "keep" and active and any("*" in c for c in p):
            raise ValueError(
                "esql: KEEP with *-patterns under an active SORT is "
                "not supported — the passthrough projection cannot "
                "know (without a schema) whether a pattern already "
                "covers the sort column; KEEP it explicitly or move "
                "the SORT after the KEEP")
        elif kind == "drop" and active & set(p):
            raise ValueError(
                f"esql: DROP of an active SORT column "
                f"{sorted(active & set(p))} is not supported — use "
                f"KEEP (it projects sort columns through)")
        elif kind in ("enrich", "lookup", "inlinestats",
                      "fork", "fork_fuse", "fork_fuse_docs",
                      "fork_fuse_linear", "knn") and active:
            what = {"enrich": "ENRICH", "lookup": "LOOKUP JOIN",
                    "inlinestats": "INLINESTATS",
                    "fork": "FORK", "fork_fuse": "FORK",
                    "fork_fuse_docs": "FORK",
                    "fork_fuse_linear": "FORK",
                    "knn": "KNN"}[kind]
            raise ValueError(
                f"esql: {what} after an active SORT is not "
                f"supported — the join/window exchange does not "
                f"preserve row order; move the SORT after it")
        elif kind in ("fork", "fork_fuse", "fork_fuse_docs",
                      "fork_fuse_linear"):
            active = set()  # the union/fusion does not preserve order
        elif kind == "knn":
            # the top-k establishes (_score desc, key asc)
            active = {"_score", p[3]}


def _split_agg_filter(rhs: str) -> tuple[str, str | None]:
    """Split ``AGG(expr) WHERE cond`` (ES|QL 8.16 per-aggregate
    filters) at the top-level WHERE; returns (call, cond|None)."""
    depth, in_s, i = 0, None, 0
    up = rhs.upper()
    while i < len(rhs):
        ch = rhs[i]
        if in_s:
            if ch == "\\":
                i += 1
            elif ch == in_s:
                in_s = None
        elif ch in "'\"":
            in_s = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif (depth == 0 and up.startswith("WHERE", i)
              and (i == 0 or not (rhs[i - 1].isalnum()
                                  or rhs[i - 1] == "_"))
              and (i + 5 >= len(rhs)
                   or not (rhs[i + 5].isalnum()
                           or rhs[i + 5] == "_"))):
            return rhs[:i].strip(), rhs[i + 5:].strip()
        i += 1
    return rhs.strip(), None


def _split_top(s: str) -> list[str]:
    """Split on commas outside parens/strings."""
    out, depth, start, in_s = [], 0, 0, None
    for i, ch in enumerate(s):
        if in_s:
            if ch == in_s:
                in_s = None
            continue
        if ch in "'\"":
            in_s = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            out.append(s[start:i])
            start = i + 1
    out.append(s[start:])
    return [p for p in (x.strip() for x in out) if p]


def esql_df(df: DataFrame, plan: EsqlPlan,
            lookups: dict | None = None) -> DataFrame:
    """Render the parsed pipeline over an already-loaded DataFrame
    (the FROM resolution stays with the caller's catalog), applying
    commands in pipeline order. ``lookups`` maps each ENRICH policy
    name to its loaded lookup DataFrame; every lookup is BROADCAST
    (ES materializes the enrich index on every node — the dimension
    is small by contract, so a shuffle-free broadcast hash join is
    the 100-TB shape).

    FORK/FUSE plans eagerly checkpoint the shared pre-fork frame at
    translation time; the blocks are registered with the cache
    registry and released by the bench/verify harnesses' per-query
    ``cache.release_all``. Interactive callers that don't run a
    release harness should collect through :func:`esql_rows` (or
    wrap their own collect in ``cache.scope()``) so abandoned
    fork checkpoints don't accumulate storage blocks (the registry
    warns at 64)."""
    if plan.table == "" and df is None:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is None:
            raise RuntimeError("esql: ROW/SHOW needs an active "
                               "SparkSession")
        df = spark.range(1)
    return _df_apply(df, plan.commands, lookups)


def esql_rows(df: DataFrame, plan: EsqlPlan,
              lookups: dict | None = None) -> list:
    """Collect the pipeline's rows with checkpoint hygiene: any fork
    checkpoint registered during translation is released when the
    collect finishes (success or error) — the interactive-caller
    twin of the harnesses' release contract (r12 ADVICE)."""
    from parquet_generator_spark.operators import cache as _cache

    with _cache.scope():
        return esql_df(df, plan, lookups).collect()


def _knn_score_col(col: str, qv: list) -> "F.Column":
    """ES dense_vector cosine ``_score`` = (1 + cosine) / 2 against
    a literal query vector, rounded to 4 (the repo's ann rounding
    convention; ties after rounding break on the caller's key).
    A zero-magnitude document vector scores NULL in BOTH engines
    (cosine is undefined; unguarded, Spark's 0.0/0.0 yields NaN,
    which sorts ABOVE every number under desc_nulls_last while
    DuckDB's NULL sorts last — the r12 ADVICE divergence). Length
    contract: the document vector must have len(qv) elements —
    shorter/longer vectors are NOT supported (Spark's zip_with
    would null-pad where DuckDB list_dot_product hard-errors)."""
    import math

    qlit = F.array(*[F.lit(float(x)) for x in qv])
    qn = math.sqrt(sum(float(x) * float(x) for x in qv))
    dot = F.aggregate(
        F.zip_with(F.col(col), qlit,
                   lambda a, b: a.cast("double") * b),
        F.lit(0.0), lambda acc, x: acc + x)
    dn = F.sqrt(F.aggregate(
        F.col(col), F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double")))
    return F.when(dn > 0, F.round(
        (F.lit(1.0) + dot / (dn * F.lit(qn))) / F.lit(2.0), 4))


def _knn_score_duck(col: str, qv: list) -> str:
    """DuckDB mirror of :func:`_knn_score_col` (same literal, same
    (1+cos)/2 scoring, same rounding, same NULL-for-zero-vector
    guard)."""
    import math

    qlit = "[" + ", ".join(repr(float(x)) for x in qv) + "]::DOUBLE[]"
    qn = math.sqrt(sum(float(x) * float(x) for x in qv))
    c = f"CAST({col} AS DOUBLE[])"
    return (f"(CASE WHEN list_dot_product({c}, {c}) > 0 THEN "
            f"round((1.0 + list_dot_product({c}, {qlit}) / "
            f"(sqrt(list_dot_product({c}, {c})) * {qn!r})) "
            f"/ 2.0, 4) END)")


def _df_rate_stats(df: DataFrame, p) -> DataFrame:
    """STATS over RATE(counter): the ES|QL TSDS two-level shape.
    Level 1 groups by (series, BY-keys): reset-adjusted increase
    (lag window per series — the dsl_counter_rate rule: a drop means
    the counter reset and climbed from 0) over the group's observed
    span gives the per-series per-second rate; level 2 combines the
    per-series rates across series with the outer agg. Scale: the
    window and first groupBy share one shuffle on the series key
    (exactly the _tsid routing a TSDS index already does); level 2
    reduces series-cardinality rows."""
    from pyspark.sql import Window

    series, tcol, tie = p.tsds
    inner = df
    ivars = [f"_by{i}" for i in range(len(p.by))]
    for iname, (_, e) in zip(ivars, p.by):
        inner = inner.withColumn(iname, F.expr(e.spark))
    w = (Window.partitionBy(series, *ivars)
         .orderBy(tcol, tie))
    incs = []
    for j, (_, _, ctr) in enumerate(p.rates):
        delta = F.col(ctr) - F.lag(ctr).over(w)
        inner = inner.withColumn(
            f"_inc{j}",
            F.when(delta.isNull(), F.lit(0))
            .when(delta >= 0, delta)
            .otherwise(F.col(ctr)))
        incs.append(F.sum(f"_inc{j}").alias(f"_sinc{j}"))
    per = inner.groupBy(series, *ivars).agg(
        *incs,
        F.unix_micros(F.max(tcol)).alias("_tmax"),
        F.unix_micros(F.min(tcol)).alias("_tmin"))
    span = F.col("_tmax") - F.col("_tmin")
    rate_cols = [
        F.when(span > 0,
               F.col(f"_sinc{j}").cast("double") * F.lit(1000000.0)
               / span.cast("double")).alias(f"_r{j}")
        for j in range(len(p.rates))]
    rates = per.select(*ivars, *rate_cols)
    outer = [getattr(F, fn)(f"_r{j}").alias(alias)
             for j, (alias, fn, _) in enumerate(p.rates)]
    if ivars:
        out = rates.groupBy(*ivars).agg(*outer)
        return out.select(
            *[F.col(i).alias(n)
              for i, (n, _) in zip(ivars, p.by)],
            *[alias for alias, _, _ in p.rates])
    return rates.agg(*outer)


def _df_apply(df: DataFrame, commands: list,
              lookups: dict | None = None) -> DataFrame:
    for kind, p in commands:
        if kind == "where":
            df = df.filter(F.expr(p.spark))
        elif kind == "eval":
            for name, e in p:
                df = df.withColumn(name, F.expr(e.spark))
        elif kind == "stats":
            if p.rates:
                df = _df_rate_stats(df, p)
                continue
            aggs = [F.expr(e.spark).alias(n) for n, e in p.aggs]
            if p.by:
                bys = [F.expr(e.spark).alias(n) for n, e in p.by]
                df = df.groupBy(*bys).agg(*aggs)
            else:
                df = df.agg(*aggs)
        elif kind == "sort":
            def _scol(c, asc, nf):
                if asc:
                    return (F.asc_nulls_first(c) if nf
                            else F.asc_nulls_last(c))
                return (F.desc_nulls_first(c) if nf
                        else F.desc_nulls_last(c))
            df = df.orderBy(*[_scol(c, asc, nf)
                              for c, asc, nf in p])
        elif kind == "keep":
            if any("*" in c for c in p):
                import fnmatch

                cols = []
                for item in p:
                    if "*" not in item:
                        cols.append(item)
                        continue
                    hits = [c for c in df.columns
                            if fnmatch.fnmatchcase(c, item)]
                    if not hits:
                        raise ValueError(
                            f"esql: KEEP pattern {item!r} matches "
                            f"no columns of {df.columns}")
                    cols.extend(hits)
                if len(set(cols)) != len(cols):
                    raise ValueError(
                        f"esql: KEEP patterns expand to duplicate "
                        f"columns {cols} — make the items disjoint")
                df = df.select(*cols)
            else:
                df = df.select(*p)
        elif kind == "limit":
            df = df.limit(p)
        elif kind == "rename":
            for old, new in p:
                df = df.withColumnRenamed(old, new)
        elif kind == "drop":
            df = df.drop(*p)
        elif kind == "mv_expand":
            df = df.withColumn(p, F.explode(F.col(p)))
        elif kind == "enrich":
            pname, pol, on_col, fields = p
            if not lookups or pname not in lookups:
                raise ValueError(
                    f"esql: ENRICH policy {pname!r} needs its "
                    f"lookup DataFrame — pass esql_df(..., "
                    f"lookups={{name: df}})")
            lkp = lookups[pname].select(pol.match_field, *fields)
            df = (df.join(F.broadcast(lkp),
                          df[on_col] == lkp[pol.match_field],
                          "left")
                  .drop(lkp[pol.match_field]))
        elif kind == "change_point":
            val, key = p
            from pyspark.sql import Window

            from parquet_generator_spark.operators.util import (
                broadcast_scalars,
            )

            totals = df.agg(F.sum(val).alias("_total"),
                            F.count(F.lit(1)).alias("_nb"))
            # ordered window over the STATS-bucketed frame only
            # (bounded by the parse-time contract); totals enter as a
            # scalar subquery (broadcast_scalars — no nested-loop join)
            w = (Window.orderBy(key)
                 .rowsBetween(Window.unboundedPreceding, 0))
            pre = (broadcast_scalars(df, totals)
                   .withColumn("_ps", F.sum(val).over(w))
                   .withColumn("_pc", F.count(F.lit(1)).over(w))
                   .filter(F.col("_pc") < F.col("_nb")))
            mean_b = F.col("_ps").cast("double") / F.col("_pc")
            mean_a = ((F.col("_total") - F.col("_ps"))
                      .cast("double")
                      / (F.col("_nb") - F.col("_pc")))
            step = F.round(mean_a - mean_b, 4)
            df = (pre.select(F.col(key), step.alias("step"),
                             F.abs(step).alias("score"))
                  .orderBy(F.desc("score"), F.asc(key))
                  .limit(1))
        elif kind == "lookup":
            iname, idx, fields = p
            if not lookups or iname not in lookups:
                raise ValueError(
                    f"esql: LOOKUP JOIN index {iname!r} needs its "
                    f"DataFrame — pass esql_df(..., lookups="
                    f"{{name: df}})")
            lkp = lookups[iname].select(idx.match_field, *fields)
            # NOT broadcast-forced: lookup indexes can outgrow the
            # enrich-index size contract — Catalyst/AQE picks the
            # strategy (broadcast under threshold, shuffled beyond)
            df = df.join(lkp, on=idx.match_field, how="left")
        elif kind == "inlinestats":
            aggs, bys = p
            over = f" OVER (PARTITION BY {', '.join(bys)})"
            for name, e in aggs:
                df = df.withColumn(name, F.expr(e.spark + over))
        elif kind == "grok":
            col, rx, keys = p
            for i, (k, typ) in enumerate(keys, start=1):
                c = F.regexp_extract(F.col(col), rx, i)
                if typ:
                    # '' (non-match) -> NULL explicitly: safe under
                    # ANSI, and matches ES grok's null-on-miss
                    c = F.when(c == "", None).otherwise(
                        c.cast(typ))
                df = df.withColumn(k, c)
        elif kind == "dissect":
            col, rx, keys = p
            for i, k in enumerate(keys, start=1):
                df = df.withColumn(
                    k, F.regexp_extract(F.col(col), rx, i))
        elif kind == "sample":
            prob, key = p
            thr = int(round(prob * 1_000_000))
            df = df.filter(F.expr(
                f"CAST(conv(substr(md5(CAST({key} AS STRING)), "
                f"1, 8), 16, 10) AS BIGINT) % 1000000 < {thr}"))
        elif kind == "row":
            # one-row literal relation (ROW / SHOW INFO)
            df = df.select(*[F.expr(e.spark).alias(n)
                             for n, e in p])
        elif kind == "knn":
            # ES|QL KNN (ES 8.19 preview): score every (pre-filtered)
            # row against the literal query, keep the top k — one
            # TakeOrderedAndProject, no join, no corpus broadcast.
            # _score survives for later SORT/KEEP (the METADATA
            # _score convention).
            col, qv, k, key = p
            df = (df.withColumn("_score", _knn_score_col(col, qv))
                  .orderBy(F.desc_nulls_last("_score"), F.asc(key))
                  .limit(k))
        elif kind == "fork":
            from functools import reduce

            from parquet_generator_spark.operators import (
                cache as _cache,
            )

            # materialize the shared input ONCE (the scan plus all
            # pre-fork commands) so N branches pay N reads of the
            # checkpointed blocks instead of N full input scans —
            # the SCALE.md "cache the post-WHERE frame" note made
            # structural (r11 verdict #7). Released at the query
            # boundary through the cache registry (the bench/verify
            # contract); pinned in
            # test_esql.py::test_fork_scans_input_once.
            shared = _cache.checkpoint(df)
            parts = [
                _df_apply(shared, br, lookups)
                .withColumn("_fork", F.lit(f"fork{i}"))
                for i, br in enumerate(p, start=1)]
            # ES null-fills columns a branch does not produce
            df = reduce(
                lambda a, b: a.unionByName(
                    b, allowMissingColumns=True), parts)
        elif kind == "fork_fuse":
            from functools import reduce

            from pyspark.sql import Window

            from parquet_generator_spark.operators import (
                cache as _cache,
            )

            branches, key = p
            shared = _cache.checkpoint(df)
            parts = []
            for br in branches:
                b = _df_apply(shared, br, lookups)
                # rank by the branch's FINAL sort (the parse
                # contract: every branch ends SORT ... | LIMIT n,
                # so this window spans at most the rerank-window
                # cap of already-materialized rows)
                w = Window.orderBy(*[
                    _sort_col(c, asc, nf)
                    for c, asc, nf in br[-2][1]])
                # ES RRF fuses per DOCUMENT (_id once per branch):
                # a branch with a non-unique identity contributes
                # its BEST rank only, not one term per duplicate
                # row (r12 ADVICE). The groupBy spans at most the
                # branch's already-LIMITed rows.
                parts.append(
                    b.select(F.col(key),
                             F.row_number().over(w).alias("_rank"))
                    .groupBy(key)
                    .agg(F.min("_rank").alias("_rank")))
            ranked = reduce(lambda a, b: a.unionByName(b), parts)
            df = (ranked.groupBy(key)
                  .agg(F.round(F.sum(
                      F.lit(1.0) / (F.lit(60.0) + F.col("_rank"))),
                      6).alias("_score"),
                      F.count(F.lit(1)).alias("_hits")))
        elif kind == "fork_fuse_docs":
            from functools import reduce

            from pyspark.sql import Window

            from parquet_generator_spark.operators import (
                cache as _cache,
            )

            # ES's actual FUSE output: the fused DOCUMENTS, scored.
            # The fused ranking is bounded by branches x the 10000
            # rerank-window cap, so it broadcast-joins back onto the
            # already-checkpointed pre-fork frame — no second corpus
            # scan, no shuffle of the big side.
            branches, key = p
            shared = _cache.checkpoint(df)
            parts = []
            for br in branches:
                b = _df_apply(shared, br, lookups)
                w = Window.orderBy(*[
                    _sort_col(c, asc, nf)
                    for c, asc, nf in br[-2][1]])
                parts.append(
                    b.select(F.col(key),
                             F.row_number().over(w).alias("_rank"))
                    .groupBy(key)
                    .agg(F.min("_rank").alias("_rank")))
            ranked = reduce(lambda a, b: a.unionByName(b), parts)
            fused = (ranked.groupBy(key)
                     .agg(F.round(F.sum(
                         F.lit(1.0)
                         / (F.lit(60.0) + F.col("_rank"))),
                         6).alias("_score"),
                         F.count(F.lit(1)).alias("_hits")))
            df = shared.join(F.broadcast(fused), key, "inner")
        elif kind == "fork_fuse_linear":
            from functools import reduce

            from parquet_generator_spark.operators import (
                cache as _cache,
            )

            # ES 8.19 linear score_mode: each branch contributes
            # weight * its own score (the branch's final SORT's
            # first column), optionally minmax-normalized within
            # the branch window; a duplicate identity contributes
            # its best score once.
            branches, key, weights, normalizer = p
            shared = _cache.checkpoint(df)
            parts = []
            for br, wgt in zip(branches, weights):
                b = _df_apply(shared, br, lookups)
                score_col = br[-2][1][0][0]
                base = (b.select(
                    F.col(key),
                    F.col(score_col).cast("double")
                    .alias("_bscore"))
                    .groupBy(key)
                    .agg(F.max("_bscore").alias("_bscore")))
                if normalizer == "minmax":
                    # minmax via a single-partition window over the
                    # branch frame (round 14): the former eager
                    # broadcast_scalars collect was one extra job
                    # per branch at plan-build time. The window
                    # input is the branch's already-LIMITed rows
                    # (<= the rerank-window cap), never the corpus,
                    # so the single partition is bounded.
                    from pyspark.sql import Window as _W

                    _w = _W.partitionBy()
                    _mn = F.min("_bscore").over(_w)
                    _mx = F.max("_bscore").over(_w)
                    base = (base
                            .withColumn(
                                "_bscore",
                                F.when(
                                    _mx > _mn,
                                    (F.col("_bscore") - _mn)
                                    / (_mx - _mn))
                                .otherwise(F.lit(1.0)))
                            .select(key, "_bscore"))
                parts.append(base.withColumn(
                    "_ws", F.col("_bscore") * F.lit(float(wgt)))
                    .select(key, "_ws"))
            ranked = reduce(lambda a, b: a.unionByName(b), parts)
            df = (ranked.groupBy(key)
                  .agg(F.round(F.sum("_ws"), 6).alias("_score"),
                       F.count(F.lit(1)).alias("_hits")))
    return df


def _sort_col(c: str, asc: bool, nf: bool):
    if asc:
        return F.asc_nulls_first(c) if nf else F.asc_nulls_last(c)
    return F.desc_nulls_first(c) if nf else F.desc_nulls_last(c)


def _order_by(order: list) -> str:
    return ", ".join(
        f"{c} {'ASC' if asc else 'DESC'} "
        f"NULLS {'FIRST' if nf else 'LAST'}"
        for c, asc, nf in order)


def esql_duck_sql(plan: EsqlPlan) -> str:
    """Render the same pipeline as one DuckDB SQL statement by
    wrapping one subquery per command in pipeline order. SORT is
    recorded as the ACTIVE order and consumed by every later LIMIT
    (so `SORT | KEEP | LIMIT` takes the same rows as the DataFrame
    renderer even when KEEP drops a sort column — the sort columns
    are projected THROUGH the KEEP subquery and dropped at the
    end)."""
    base = (f"SELECT * FROM {plan.table}" if plan.table
            else "SELECT 1 AS _one")
    return _duck_apply(base, plan.commands)


def _duck_rate_stats(sql: str, p) -> str:
    """DuckDB twin of :func:`_df_rate_stats` — identical reset rule,
    epoch_us spans and two-level aggregation, layered as subqueries
    with underscore-internal names (public aliases only in the
    outermost SELECT, so computed BY keys cannot collide with input
    columns)."""
    series, tcol, tie = p.tsds
    ivars = [f"_by{i}" for i in range(len(p.by))]
    by_calc = "".join(f", {e.duck} AS {i}"
                      for i, (_, e) in zip(ivars, p.by))
    l1 = f"SELECT *{by_calc} FROM ({sql}) _rt1"
    part = ", ".join([series, *ivars])
    deltas = "".join(
        f", {ctr} - lag({ctr}) OVER (PARTITION BY {part} "
        f"ORDER BY {tcol}, {tie}) AS _d{j}"
        for j, (_, _, ctr) in enumerate(p.rates))
    l2 = f"SELECT *{deltas} FROM ({l1}) _rt2"
    incs = "".join(
        f", CASE WHEN _d{j} IS NULL THEN 0 WHEN _d{j} >= 0 "
        f"THEN _d{j} ELSE {ctr} END AS _inc{j}"
        for j, (_, _, ctr) in enumerate(p.rates))
    l3 = f"SELECT *{incs} FROM ({l2}) _rt3"
    sincs = "".join(f", sum(_inc{j}) AS _sinc{j}"
                    for j in range(len(p.rates)))
    l4 = (f"SELECT {part}{sincs}, "
          f"epoch_us(max({tcol})) AS _tmax, "
          f"epoch_us(min({tcol})) AS _tmin "
          f"FROM ({l3}) _rt4 GROUP BY {part}")
    rcols = "".join(
        f", CASE WHEN _tmax > _tmin THEN CAST(_sinc{j} AS DOUBLE) "
        f"* 1000000.0 / CAST(_tmax - _tmin AS DOUBLE) END AS _r{j}"
        for j in range(len(p.rates)))
    sel5 = ", ".join(ivars) + rcols if ivars else rcols.lstrip(", ")
    l5 = f"SELECT {sel5} FROM ({l4}) _rt5"
    outer = ", ".join(f"{fn}(_r{j}) AS {alias}"
                      for j, (alias, fn, _) in enumerate(p.rates))
    if ivars:
        pub = ", ".join(f"{i} AS {n}"
                        for i, (n, _) in zip(ivars, p.by))
        return (f"SELECT {pub}, {outer} FROM ({l5}) _rt6 "
                f"GROUP BY {', '.join(ivars)}")
    return f"SELECT {outer} FROM ({l5}) _rt6"


def _duck_apply(sql: str, commands: list,
                known: set | None = None) -> str:
    sql, _ = _duck_apply_tracked(
        sql, commands, set() if known is None else known)
    return sql


def _duck_apply_tracked(sql: str, commands: list,
                        known: set) -> tuple[str, set]:
    order: list | None = None   # active SORT
    final_keep: list | None = None  # re-projection after passthrough
    # `known` holds names KNOWN to exist in the current relation
    # (introduced by the pipeline itself; raw table columns are
    # unknowable here). An EVAL re-assigning such a name must
    # REPLACE the column (the Spark withColumn / ES semantics) — a
    # bare `SELECT *, e AS n` would emit a DUPLICATE n
    # (fuzzer-found divergence, pinned in
    # test_esql.py::test_eval_reassignment_replaces). It is seeded
    # by the caller so FORK branches inherit pre-fork names and the
    # post-fork pipeline inherits branch-introduced names (pinned
    # in test_esql.py::test_fork_eval_reassignment).
    for kind, p in commands:
        if kind == "where":
            sql = f"SELECT * FROM ({sql}) _w WHERE {p.duck}"
        elif kind == "row":
            # one-row literal relation (ROW / SHOW INFO): replaces
            # the synthetic one-row base entirely
            cols = ", ".join(f"{e.duck} AS {n}" for n, e in p)
            sql = f"SELECT {cols} FROM ({sql}) _r"
            order, final_keep = None, None
            known = {n for n, _ in p}
        elif kind == "eval":
            shadowed = [n for n, _ in p if n in known]
            excl = (f" EXCLUDE ({', '.join(shadowed)})"
                    if shadowed else "")
            cols = ", ".join(f"{e.duck} AS {n}" for n, e in p)
            sql = f"SELECT *{excl}, {cols} FROM ({sql}) _e"
            known.update(n for n, _ in p)
        elif kind == "stats":
            if p.rates:
                sql = _duck_rate_stats(sql, p)
                order, final_keep = None, None
                known = ({n for n, _ in p.by}
                         | {alias for alias, _, _ in p.rates})
                continue
            sel = ([f"{e.duck} AS {n}" for n, e in p.by]
                   + [f"{e.duck} AS {n}" for n, e in p.aggs])
            grp = (" GROUP BY " + ", ".join(e.duck for _, e in p.by)
                   if p.by else "")
            sql = f"SELECT {', '.join(sel)} FROM ({sql}) _s{grp}"
            order, final_keep = None, None  # aggregation resets both
            # post-STATS the full column set is known
            known = ({n for n, _ in p.by} | {n for n, _ in p.aggs})
        elif kind == "sort":
            order = p
        elif kind == "keep":
            # *-patterns render as DuckDB COLUMNS('^regex$') — same
            # table-order expansion as the DataFrame side; patterns
            # under an active SORT are refused at parse, so the
            # passthrough logic below only ever sees plain names
            rendered_keep = [
                ("COLUMNS('^" + c.replace("*", ".*") + "$')"
                 if "*" in c else c)
                for c in p]
            passthru = [c for c, *_ in (order or []) if c not in p]
            sql = (f"SELECT {', '.join(rendered_keep + passthru)} "
                   f"FROM ({sql}) _k")
            final_keep = p if passthru else None
            # a KEEP'd plain name provably exists; patterns unknown
            known = ({c for c in p if "*" not in c}
                     | (known & set(passthru)))
        elif kind == "limit":
            ob = f" ORDER BY {_order_by(order)}" if order else ""
            sql = f"SELECT * FROM ({sql}) _l{ob} LIMIT {p}"
        elif kind == "rename":
            olds = ", ".join(old for old, _ in p)
            news = ", ".join(f"{old} AS {new}" for old, new in p)
            sql = (f"SELECT * EXCLUDE ({olds}), {news} "
                   f"FROM ({sql}) _r")
            if order:  # a later LIMIT orders by the NEW names
                ren = dict(p)
                order = [(ren.get(c, c), asc, nf)
                         for c, asc, nf in order]
            known -= {old for old, _ in p}
            known |= {new for _, new in p}
        elif kind == "drop":
            if order and any(c in p for c, *_ in order):
                raise ValueError(
                    "esql: DROP of an active SORT column is not "
                    "supported — KEEP projects sort columns "
                    "through; DROP removes them before the sort "
                    "can be consumed")
            sql = f"SELECT * EXCLUDE ({', '.join(p)}) FROM ({sql}) _x"
            known -= set(p)
        elif kind == "mv_expand":
            sql = (f"SELECT * EXCLUDE ({p}), unnest({p}) AS {p} "
                   f"FROM ({sql}) _m")
        elif kind == "enrich":
            pname, pol, on_col, fields = p
            picked = ", ".join([pol.match_field, *fields])
            added = ", ".join(f"_r.{f}" for f in fields)
            sql = (f"SELECT _l.*, {added} FROM ({sql}) _l "
                   f"LEFT JOIN (SELECT {picked} FROM {pol.table}) _r "
                   f"ON _l.{on_col} = _r.{pol.match_field}")
            known |= set(fields)
        elif kind == "change_point":
            val, key = p
            mean_b = f"CAST(_ps AS DOUBLE) / _pc"
            mean_a = f"CAST(_total - _ps AS DOUBLE) / (_nb - _pc)"
            step = f"round({mean_a} - {mean_b}, 4)"
            sql = (
                f"SELECT {key}, {step} AS step, abs({step}) AS score "
                f"FROM (SELECT {key}, "
                f"sum({val}) OVER (ORDER BY {key} ROWS BETWEEN "
                f"UNBOUNDED PRECEDING AND CURRENT ROW) AS _ps, "
                f"count(*) OVER (ORDER BY {key} ROWS BETWEEN "
                f"UNBOUNDED PRECEDING AND CURRENT ROW) AS _pc, "
                f"_t._total, _t._nb FROM ({sql}) _b CROSS JOIN "
                f"(SELECT sum({val}) AS _total, count(*) AS _nb "
                f"FROM ({sql}) _bb) _t) _p "
                f"WHERE _pc < _nb "
                f"ORDER BY score DESC, {key} ASC LIMIT 1")
            order, final_keep = None, None
            known = {key, "step", "score"}
        elif kind == "lookup":
            iname, idx, fields = p
            picked = ", ".join([idx.match_field, *fields])
            added = ", ".join(f"_r.{f}" for f in fields)
            sql = (f"SELECT _l.*, {added} FROM ({sql}) _l "
                   f"LEFT JOIN (SELECT {picked} FROM {idx.table}) _r "
                   f"ON _l.{idx.match_field} = _r.{idx.match_field}")
            known |= set(fields)
        elif kind == "inlinestats":
            aggs, bys = p
            over = f" OVER (PARTITION BY {', '.join(bys)})"
            cols = ", ".join(f"{e.duck}{over} AS {n}"
                             for n, e in aggs)
            sql = f"SELECT *, {cols} FROM ({sql}) _i"
            known |= {n for n, _ in aggs}
        elif kind == "grok":
            col, rx, keys = p
            rxq = rx.replace("'", "''")
            parts = []
            for i, (k, typ) in enumerate(keys, start=1):
                base = f"regexp_extract({col}, '{rxq}', {i})"
                if typ:
                    base = (f"CASE WHEN {base} = '' THEN NULL "
                            f"ELSE CAST({base} AS {typ}) END")
                parts.append(f"{base} AS {k}")
            sql = f"SELECT *, {', '.join(parts)} FROM ({sql}) _g"
            known |= {k for k, _ in keys}
        elif kind == "dissect":
            col, rx, keys = p
            rxq = rx.replace("'", "''")
            cols = ", ".join(
                f"regexp_extract({col}, '{rxq}', {i}) AS {k}"
                for i, k in enumerate(keys, start=1))
            sql = f"SELECT *, {cols} FROM ({sql}) _d"
            known |= set(keys)
        elif kind == "sample":
            prob, key = p
            thr = int(round(prob * 1_000_000))
            sql = (f"SELECT * FROM ({sql}) _sm WHERE "
                   f"CAST(concat('0x', substr(md5(CAST({key} "
                   f"AS VARCHAR)), 1, 8)) AS BIGINT) "
                   f"% 1000000 < {thr}")
        elif kind == "knn":
            col, qv, k, key = p
            score = _knn_score_duck(col, qv)
            sql = (f"SELECT * FROM (SELECT *, {score} AS _score "
                   f"FROM ({sql}) _kb) _ks "
                   f"ORDER BY _score DESC NULLS LAST, {key} ASC "
                   f"NULLS FIRST LIMIT {k}")
            # the top-k establishes the active order for later LIMITs
            order = [("_score", False, False), (key, True, True)]
            final_keep = None
            known |= {"_score"}
        elif kind == "fork":
            # each branch renders the shared input independently
            # (with its own order/limit bookkeeping), tags itself,
            # and the union null-fills by name — the Spark
            # unionByName(allowMissingColumns) twin
            branches = []
            branch_known: set = set()
            for i, br in enumerate(p, start=1):
                # each branch inherits the pre-fork known names; the
                # union output carries any name surviving in (or
                # introduced by) ANY branch, null-filled elsewhere
                bsql, bk = _duck_apply_tracked(
                    f"SELECT * FROM ({sql}) _fb{i}", br, set(known))
                branch_known |= bk
                branches.append(
                    f"(SELECT *, 'fork{i}' AS _fork "
                    f"FROM ({bsql}) _ft{i})")
            sql = ("SELECT * FROM ("
                   + " UNION ALL BY NAME ".join(branches)
                   + ") _u")
            order, final_keep = None, None
            known = {"_fork"} | branch_known
        elif kind == "fork_fuse":
            branches, key = p
            parts = []
            for i, br in enumerate(branches, start=1):
                bsql, _ = _duck_apply_tracked(
                    f"SELECT * FROM ({sql}) _fb{i}", br, set(known))
                ob = _order_by(br[-2][1])
                # per-branch dedup to best rank per key (the ES
                # fuse-per-document rule; mirrors the DataFrame side)
                parts.append(
                    f"(SELECT {key}, min(_rank) AS _rank FROM "
                    f"(SELECT {key}, row_number() OVER "
                    f"(ORDER BY {ob}) AS _rank "
                    f"FROM ({bsql}) _ft{i}) _fd{i} GROUP BY {key})")
            u = " UNION ALL ".join(parts)
            sql = (f"SELECT {key}, "
                   f"round(sum(1.0 / (60.0 + _rank)), 6) AS _score, "
                   f"count(*) AS _hits FROM ({u}) _fu "
                   f"GROUP BY {key}")
            order, final_keep = None, None
            known = {key, "_score", "_hits"}
        elif kind == "fork_fuse_docs":
            branches, key = p
            parts = []
            for i, br in enumerate(branches, start=1):
                bsql, _ = _duck_apply_tracked(
                    f"SELECT * FROM ({sql}) _fb{i}", br, set(known))
                ob = _order_by(br[-2][1])
                parts.append(
                    f"(SELECT {key}, min(_rank) AS _rank FROM "
                    f"(SELECT {key}, row_number() OVER "
                    f"(ORDER BY {ob}) AS _rank "
                    f"FROM ({bsql}) _ft{i}) _fd{i} GROUP BY {key})")
            u = " UNION ALL ".join(parts)
            fused = (f"SELECT {key}, "
                     f"round(sum(1.0 / (60.0 + _rank)), 6) "
                     f"AS _score, count(*) AS _hits "
                     f"FROM ({u}) _fu GROUP BY {key}")
            sql = (f"SELECT _d.*, _fz._score, _fz._hits "
                   f"FROM ({sql}) _d JOIN ({fused}) _fz "
                   f"USING ({key})")
            order, final_keep = None, None
            known = set(known) | {"_score", "_hits"}
        elif kind == "fork_fuse_linear":
            branches, key, weights, normalizer = p
            parts = []
            for i, (br, wgt) in enumerate(
                    zip(branches, weights), start=1):
                bsql, _ = _duck_apply_tracked(
                    f"SELECT * FROM ({sql}) _fb{i}", br, set(known))
                score_col = br[-2][1][0][0]
                base = (f"SELECT {key}, "
                        f"max(CAST({score_col} AS DOUBLE)) "
                        f"AS _bscore FROM ({bsql}) _ft{i} "
                        f"GROUP BY {key}")
                if normalizer == "minmax":
                    val = (f"CASE WHEN max(_bscore) OVER () > "
                           f"min(_bscore) OVER () THEN "
                           f"(_bscore - min(_bscore) OVER ()) / "
                           f"(max(_bscore) OVER () - "
                           f"min(_bscore) OVER ()) ELSE 1.0 END")
                else:
                    val = "_bscore"
                parts.append(
                    f"(SELECT {key}, {float(wgt)!r} * ({val}) "
                    f"AS _ws FROM ({base}) _fn{i})")
            u = " UNION ALL ".join(parts)
            sql = (f"SELECT {key}, round(sum(_ws), 6) AS _score, "
                   f"count(*) AS _hits FROM ({u}) _fu "
                   f"GROUP BY {key}")
            order, final_keep = None, None
            known = {key, "_score", "_hits"}
    if final_keep is not None:
        # drop the passthrough sort columns; ORDER BY may still
        # reference them through the subquery scope
        ob = f" ORDER BY {_order_by(order)}" if order else ""
        sql = f"SELECT {', '.join(final_keep)} FROM ({sql}) _f{ob}"
        known &= set(final_keep)
    elif order:
        sql = f"SELECT * FROM ({sql}) _o ORDER BY {_order_by(order)}"
    return sql, known
