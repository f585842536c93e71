"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH,
SimHash.

Scale design (the whole point at 100 TB):
- exact: one hash-shuffle on the content digest; map-side partial
  aggregation keeps the shuffle tiny.
- n-gram Jaccard is the *verifier*, never run all-pairs at scale —
  candidates come from MinHash-LSH banding (shuffle on 64-bit band
  keys, candidate count bounded per bucket) or SimHash bands.
- MinHash signatures: one Arrow-batched Pandas UDF (numpy matrix min
  per row), linear scan, no shuffle.
- SimHash: md5 -> 60-bit int per token stays a Catalyst expression
  (DuckDB-reproducible, oracle-checked exactly); the 60-bit majority
  vote over those integers is one numpy pass per Arrow batch
  (``simhash_vote``), which the pair search runs inside the same
  mapInPandas kernel that emits the band keys.
"""

from __future__ import annotations

import logging

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from parquet_generator_spark.operators.text import (
    shingles_duck,
    shingles_spark,
    shingles_spark_inline,
    toks_duck,
    toks_spark,
)
from parquet_generator_spark.operators.util import widen_if_narrow
from parquet_generator_spark.operators import cache as _cache

logger = logging.getLogger(__name__)

# LSH band buckets larger than this are near-dup-degenerate (e.g.
# thousands of near-empty docs sharing a signature): the pair
# expansion is O(cap^2) per bucket and the collect_list builds one
# giant array in a single task. Buckets above the cap are SKIPPED
# (never truncated), on both engines alike — set bucket_cap=None to
# disable.
DEFAULT_BUCKET_CAP = 4096


def _drop_hot_buckets(bands: DataFrame, keys: list[str],
                      bucket_cap: int | None) -> DataFrame:
    """Remove rows belonging to band buckets with > bucket_cap
    members BEFORE the bucket collect, so the oversized array is
    never built.

    The size is ``count(1) OVER (PARTITION BY keys)``: the window
    needs the same ``hashpartitioning(keys)`` as the bucket
    ``groupBy`` that follows, so both share one exchange, and a hot
    bucket sits in Spark's spillable window buffer instead of an
    array. No job runs at plan build, so a skipped bucket is not
    logged; the oracles mirror the cap, and ``bucket_cap=None``
    reports the uncapped pairs."""
    if bucket_cap is None:
        return bands
    n = F.count(F.lit(1)).over(Window.partitionBy(*keys))
    return (bands.withColumn("_bucket_n", n)
            .filter(F.col("_bucket_n") <= bucket_cap)
            .drop("_bucket_n"))

# ------------------------------------------------------------------
# exact dedup
# ------------------------------------------------------------------

def exact_dedup_groups(df: DataFrame, id_col: str, content_col: str) -> DataFrame:
    """One row per distinct content: the kept (minimum) id and copy
    count. Single shuffle on the md5 digest, not the full text."""
    return (df.groupBy(F.md5(F.col(content_col)).alias("content_hash"))
            .agg(F.min(id_col).alias("keep_id"),
                 F.count(F.lit(1)).alias("n_copies")))


def exact_dedup(df: DataFrame, id_col: str, content_col: str) -> DataFrame:
    """The deduplicated dataset itself (keeps the min-id row per
    distinct content)."""
    keep = exact_dedup_groups(df, id_col, content_col).select("keep_id")
    return df.join(keep, df[id_col] == keep["keep_id"], "left_semi")


# ------------------------------------------------------------------
# exact n-gram Jaccard (verifier / small-scale path)
# ------------------------------------------------------------------

JACCARD_PAIRS_MAX_ROWS = 20_000


def jaccard(sh_a, sh_b) -> Column:
    """Exact Jaccard of two shingle-set columns, rounded to 3 places
    as every oracle rounds it; two empty sets score 0.0."""
    inter = F.size(F.array_intersect(sh_a, sh_b))
    union = F.size(sh_a) + F.size(sh_b) - inter
    return F.round(F.when(union > 0, inter.cast("double") / union)
                   .otherwise(0.0), 3)


def jaccard_pairs(df: DataFrame, id_col: str, content_col: str,
                  threshold: float, k: int = 3,
                  max_rows: int | None = JACCARD_PAIRS_MAX_ROWS
                  ) -> DataFrame:
    """All-pairs exact k-shingle Jaccard >= threshold. O(n^2) — the
    correctness baseline and the verifier for LSH candidates; at
    scale call minhash_lsh_pairs instead.

    Guarded: refuses inputs above ``max_rows`` (default 20k — already
    2x10^8 pairs) so the deliberately-quadratic verifier can't be
    pointed at a real corpus by accident; pass ``max_rows=None`` to
    opt out knowingly. The probe counts ``limit(max_rows + 1)`` — it
    short-circuits after max_rows+1 rows instead of executing the
    full upstream lineage (which, over a computed/filtered input, is
    a complete Spark job just to read one number)."""
    if max_rows is not None:
        if df.limit(max_rows + 1).count() > max_rows:
            raise ValueError(
                f"jaccard_pairs is the O(n^2) verifier baseline: input "
                f"exceeds max_rows={max_rows}. Use minhash_lsh_pairs "
                f"(banded LSH) at corpus scale, or pass max_rows=None "
                f"to force.")
    sh = widen_if_narrow(df).select(
        F.col(id_col).alias("id"),
        F.expr(shingles_spark(content_col, k)).alias("sh"))
    a, b = sh.alias("a"), sh.alias("b")
    return (a.join(b, F.col("a.id") < F.col("b.id"))
            .select(F.col("a.id").alias("id_a"),
                    F.col("b.id").alias("id_b"),
                    jaccard(F.col("a.sh"), F.col("b.sh")).alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


def jaccard_pairs_duck_sql(table: str, id_col: str, content_col: str,
                           threshold: float, k: int = 3) -> str:
    sh = shingles_duck(content_col, k)
    return f"""
WITH s AS (SELECT {id_col} AS id, {sh} AS sh FROM {table}),
p AS (
  SELECT a.id AS id_a, b.id AS id_b,
         round(CASE WHEN len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) > 0
               THEN CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
               ELSE 0.0 END, 3) AS jaccard
  FROM s a, s b WHERE a.id < b.id)
SELECT id_a, id_b, jaccard FROM p
WHERE jaccard >= {threshold}
ORDER BY id_a, id_b
"""


# ------------------------------------------------------------------
# MinHash + LSH
# ------------------------------------------------------------------

_N_PERM = 128
_N_BANDS = 64          # r = 2 rows/band: P(candidate) = 1-(1-j^2)^64
# 31-bit Mersenne prime keeps (a*h + b) inside int64 — no silent
# numpy overflow, so signatures are bit-identical everywhere
_MERSENNE = (1 << 31) - 1
_rng = np.random.default_rng(42)
_PERM_A = _rng.integers(1, _MERSENNE, size=_N_PERM, dtype=np.int64)
_PERM_B = _rng.integers(0, _MERSENNE, size=_N_PERM, dtype=np.int64)


@pandas_udf(T.ArrayType(T.LongType()))
def minhash_signature(base_hashes: pd.Series) -> pd.Series:
    """128-permutation MinHash signature from pre-hashed shingles.
    Arrow-batched; per-row cost is one (n_shingle x 128) numpy
    min-reduce — no Python-side hashing (md5 runs in the JVM, in
    ``minhash_stage``)."""
    out = []
    for hs in base_hashes:
        if hs is None or len(hs) == 0:
            out.append([int(_MERSENNE)] * _N_PERM)
            continue
        hs = np.asarray(hs, dtype=np.int64)
        # (a*h + b) mod p for each permutation; min over shingles
        sig = ((hs[:, None] * _PERM_A[None, :] + _PERM_B[None, :])
               % _MERSENNE).min(axis=0)
        out.append(sig.tolist())
    return pd.Series(out)


def minhash_stage(sh: DataFrame, *cols: str) -> DataFrame:
    """The MinHash stage: an ``(id, sh, *cols)`` frame becomes
    ``(id, *cols, sig)``. Each shingle's 32-bit base hash is
    ``int(md5(s).hexdigest()[:8], 16) % p``, computed in the JVM (md5
    and conv stay inside codegen), so the Python side only sees int64
    arrays. ``sh`` must be the inline (unbound) shingle expression:
    the signature UDF composes over it, and the bound form breaks UDF
    extraction. Widening the input is the caller's choice."""
    return (sh.withColumn("bh", F.expr(
                f"transform(sh, s -> cast(conv(substring(md5(s), 1, 8), "
                f"16, 10) AS BIGINT) % {_MERSENNE})"))
            .withColumn("sig", minhash_signature("bh"))
            .select("id", *cols, "sig"))


def minhash_bands(sig: DataFrame, *cols: str) -> DataFrame:
    """``(id, *cols, sig)`` -> ``(id, *cols, band, band_key)``: one
    row per document and band, the key being the band's two
    signature rows."""
    return sig.select("id", *cols, F.posexplode(F.expr(
        f"transform(sequence(0, {_N_BANDS - 1}), "
        f"b -> concat_ws(',', sig[2*b], sig[2*b+1]))"))
        .alias("band", "band_key"))


def _verify(cand: DataFrame, sh: DataFrame, a: str, b: str,
            threshold: float) -> DataFrame:
    """The candidate-verify tail of the in-query LSH pipelines:
    ``cand`` holds id pairs in columns ``a`` and ``b``, ``sh`` the
    ``(id, sh)`` shingle sets; keeps the pairs at exact Jaccard >=
    threshold. The distinct candidates are materialized once, and
    only their ids (a tiny fraction of the corpus) are shingled and
    materialized for the verify joins. Without the checkpoints the
    signature pipeline would re-run for the semi-join AND the final
    join, and joining the full ``sh`` twice would re-tokenize the
    whole corpus per side."""
    cand = _cache.checkpoint(cand.distinct())
    ids = (cand.select(F.col(a).alias("id"))
           .union(cand.select(F.col(b).alias("id")))
           .distinct())
    shc = _cache.checkpoint(sh.select("id", "sh")
                            .join(ids, "id", "left_semi"))
    sa = shc.select(F.col("id").alias(a), F.col("sh").alias("sh_a"))
    sb = shc.select(F.col("id").alias(b), F.col("sh").alias("sh_b"))
    return (cand.join(sa, a).join(sb, b)
            .select(a, b, jaccard("sh_a", "sh_b").alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


def minhash_lsh_pairs(df: DataFrame, id_col: str, content_col: str,
                      threshold: float, k: int = 3,
                      bucket_cap: int | None = DEFAULT_BUCKET_CAP
                      ) -> DataFrame:
    """Near-dup pairs via MinHash banding + exact Jaccard verify.

    Plan shape: scan -> signature (Pandas UDF map, computed ONCE) ->
    explode 64 band keys -> ONE shuffle (groupBy band key) -> pair
    expansion inside each bucket -> distinct candidates -> verify
    with exact shingle Jaccard on a candidate-semi-joined re-scan.
    No cross join and no self-join: a band self-join would recompute
    the whole signature pipeline for the second side, and bucket
    sizes bound the pair expansion.
    """
    sh = widen_if_narrow(df).select(
        F.col(id_col).alias("id"),
        F.expr(shingles_spark_inline(content_col, k)).alias("sh"))
    bands = _drop_hot_buckets(minhash_bands(minhash_stage(sh)),
                              ["band", "band_key"], bucket_cap)
    buckets = (bands.groupBy("band", "band_key")
               .agg(F.array_sort(F.collect_list("id")).alias("ids"))
               .filter(F.size("ids") > 1))
    cand = (buckets.select(F.explode(F.expr(
        "flatten(transform(sequence(0, size(ids) - 2), "
        "i -> transform(sequence(i + 1, size(ids) - 1), "
        "j -> struct(ids[i] AS id_a, ids[j] AS id_b))))")).alias("p"))
        .select("p.id_a", "p.id_b"))
    return _verify(cand, sh, "id_a", "id_b", threshold)


# The DuckDB twin of the MinHash stage and the verify tail, shared by
# the oracle generators: the same 128 (a*h + b) mod p permutation
# literals, the same md5 base hashes and the same band keys.
_MINS_DUCK = ", ".join(
    f"coalesce(list_min(list_transform(bh, x -> "
    f"(x * {int(a)} + {int(b)}) % {_MERSENNE})), {_MERSENNE})"
    for a, b in zip(_PERM_A, _PERM_B))
_BAND_KEY_DUCK = "concat(sig[2 * b.band + 1], ',', sig[2 * b.band + 2])"


def sig_ctes_duck(*cols: str, keep_sh: bool = True) -> str:
    """The ``h`` (base hashes) and ``sig`` CTEs over
    ``d(id, *cols, sh)``; ``sig`` is ``(id, *cols, sig)``."""
    keep = "".join(f"{c}, " for c in cols)
    h_keep = keep + ("sh, " if keep_sh else "")
    return f"""h AS (SELECT id, {h_keep}list_transform(sh, s ->
        CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT) % {_MERSENNE}) AS bh
      FROM d),
sig AS (SELECT id, {keep}[{_MINS_DUCK}] AS sig FROM h)"""


def _verify_cte_duck(a: str, b: str) -> str:
    """The ``j`` CTE: exact Jaccard of every ``cand(a, b)`` pair over
    the shingle sets of ``d``."""
    return f"""j AS (
  SELECT c.{a}, c.{b},
         round(CASE WHEN len(da.sh) + len(db.sh)
                         - len(list_intersect(da.sh, db.sh)) > 0
               THEN CAST(len(list_intersect(da.sh, db.sh)) AS DOUBLE)
                    / (len(da.sh) + len(db.sh)
                       - len(list_intersect(da.sh, db.sh)))
               ELSE 0.0 END, 3) AS jaccard
  FROM cand c
  JOIN d da ON da.id = c.{a}
  JOIN d db ON db.id = c.{b})"""


def minhash_lsh_pairs_duck_sql(table: str, id_col: str,
                               content_col: str, threshold: float,
                               k: int = 3,
                               bucket_cap: int | None =
                               DEFAULT_BUCKET_CAP) -> str:
    """DuckDB mirror of minhash_lsh_pairs, INCLUDING the hot-bucket
    cap: same shingle base hashes (md5 first 8 hex chars mod the
    Mersenne prime), same 128 (a*h+b) mod p permutation literals,
    same 64 two-row band keys, buckets over bucket_cap excluded on
    both engines, exact-Jaccard verify on the candidates. Equality
    with the Spark side holds by construction on ANY dataset — even
    where the cap fires — instead of only where recall is 1."""
    sh = shingles_duck(content_col, k)
    cap_pred = "" if bucket_cap is None else f" AND count(*) <= {bucket_cap}"
    return f"""
WITH d AS (SELECT {id_col} AS id, {sh} AS sh FROM {table}),
{sig_ctes_duck()},
bands AS (
  SELECT id, b.band,
         {_BAND_KEY_DUCK} AS band_key
  FROM sig, (SELECT unnest(range({_N_BANDS})) AS band) b),
ok AS (
  SELECT band, band_key FROM bands
  GROUP BY band, band_key HAVING count(*) > 1{cap_pred}),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a
  JOIN ok USING (band, band_key)
  JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
              AND a.id < b.id),
{_verify_cte_duck("id_a", "id_b")}
SELECT id_a, id_b, jaccard FROM j
WHERE jaccard >= {threshold}
ORDER BY id_a, id_b
"""


# ------------------------------------------------------------------
# connected components (near-dup cluster assignment)
# ------------------------------------------------------------------

def connected_components(pairs: DataFrame, max_iter: int = 25) -> DataFrame:
    """Cluster ids for an undirected near-dup pair list: (id, cluster)
    with cluster = min id reachable through pair edges.

    Min-label propagation: each round is one shuffle join (edge ⨝
    label) + one shuffle agg (min per neighbor), iterated to the
    fixpoint — the standard distributed CC loop. Only pair-connected
    nodes enter the loop (near-dup graphs are a tiny fraction of the
    corpus); singletons are handled by the caller with a left join.
    A tracked checkpoint cuts the growing lineage each round so plans
    stay O(1); convergence is detected by the monotone-decreasing
    label sum reaching a fixpoint.

    Min-label needs O(component diameter) rounds — the right trade
    for near-dup graphs (tiny star-ish clusters). If the loop exits
    WITHOUT converging (a degenerate chain), it never returns the
    half-propagated labels: it logs and hands off to the O(log n)
    connected_components_star.
    """
    # checkpoint the pair list BEFORE the symmetrizing union: both
    # union branches read `pairs`, so an unmaterialized pairs pipeline
    # (LSH + verify joins) would execute twice
    pairs = _cache.checkpoint(pairs.select("id_a", "id_b"))
    edges = (pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
             .union(pairs.select(F.col("id_b").alias("src"),
                                 F.col("id_a").alias("dst"))))
    # lazy: materialized by the agg below
    labels = _cache.checkpoint(
        edges.select(F.col("src").alias("id")).distinct()
        .withColumn("label", F.col("id")), eager=False)
    # eager: the label sum is the loop's convergence test
    prev_sum = labels.agg(F.sum("label")).collect()[0][0]
    converged = False
    for _ in range(max_iter):
        neigh = (edges.join(labels, edges["src"] == labels["id"])
                 .groupBy("dst").agg(F.min("label").alias("nlabel")))
        labels = _cache.checkpoint(
            labels.join(neigh, labels["id"] == neigh["dst"], "left")
            .select(labels["id"],
                    F.least(F.col("label"),
                            F.coalesce("nlabel", "label")).alias("label")),
            eager=False)
        cur_sum = labels.agg(F.sum("label")).collect()[0][0]
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        logger.warning(
            "connected_components: min-label did not converge in %d "
            "rounds (component diameter too large); falling back to "
            "star contraction", max_iter)
        return connected_components_star(pairs)
    return labels.select("id", F.col("label").alias("cluster"))


def connected_components_star(pairs: DataFrame,
                              max_iter: int = 20) -> DataFrame:
    """Cluster ids via alternating large-star / small-star edge
    contraction (Kiveris et al., "Connected Components in MapReduce
    and Beyond") — same output contract as connected_components but
    O(log n) rounds instead of O(diameter), so a degenerate chain of
    near-dups converges where plain min-label propagation times out.

    Each half-round is one groupBy(min-neighbor) + join, all
    shuffle-keyed on node id; the driver sees one convergence scalar
    per round. Edges shrink monotonically toward (node, cluster-min)
    stars, so later rounds touch ever-less data.
    """
    edges = _cache.checkpoint(
        pairs.select(F.col("id_a").alias("u"),
                     F.col("id_b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct())
    nodes = _cache.checkpoint(
        edges.select(F.col("u").alias("id"))
        .union(edges.select(F.col("v").alias("id")))
        .distinct())

    def sym(e: DataFrame) -> DataFrame:
        return e.union(e.select(F.col("v").alias("u"),
                                F.col("u").alias("v")))

    def star(e: DataFrame, large: bool) -> DataFrame:
        # every undirected edge is seen from BOTH endpoints, so the
        # neighbor-to-min rewiring always leaves a connecting path
        adj = sym(e)
        m = (adj.groupBy("u")
             .agg(F.least(F.min("v"), F.col("u")).alias("m")))
        j = adj.join(m, "u")
        keep = (F.col("v") > F.col("u")) if large \
            else (F.col("v") <= F.col("u"))
        return (j.filter(keep & (F.col("v") != F.col("m")))
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
                .union(j.select("u", F.col("m").alias("v")))
                .filter(F.col("u") != F.col("v"))
                .distinct())

    prev = None
    converged = False
    for _ in range(max_iter):
        edges = _cache.checkpoint(
            star(star(edges, large=True), large=False))
        # eager: the edge-set signature is the loop's convergence test
        sig = edges.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h")).collect()[0]
        cur = (sig["n"], sig["h"])
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        # same contract as connected_components: never hand back
        # half-contracted labels silently. Star contraction halves
        # component height per round, so 2^max_iter covers any real
        # graph — reaching this means the edge set is still moving.
        raise RuntimeError(
            f"connected_components_star: edge set did not reach its "
            f"fixpoint within {max_iter} rounds; labels would be "
            f"unreliable — raise max_iter for this graph")
    # at the fixpoint edges form stars around component minima;
    # symmetrize once more so minima label themselves
    lab = (sym(edges).groupBy("u")
           .agg(F.least(F.min("v"), F.col("u")).alias("cluster")))
    return (nodes.join(lab, nodes["id"] == lab["u"], "left")
            .select("id", F.coalesce("cluster", "id").alias("cluster")))


# ------------------------------------------------------------------
# SimHash (60-bit, md5-derived => engine-independent, oracle-able)
# ------------------------------------------------------------------

_SIM_BITS = 60
_SIM_BANDS = 4          # 15 bits each; hamming<=3 pairs always collide
_BAND_BITS = _SIM_BITS // _SIM_BANDS
_SIM_SHIFTS = np.arange(_SIM_BITS, dtype=np.int64)
_BAND_SHIFTS = _BAND_BITS * np.arange(_SIM_BANDS, dtype=np.int64)


def _tok_hashes_spark(c: str) -> str:
    # md5 -> first 15 hex chars -> 60-bit int, per distinct token
    return (f"transform(array_distinct({toks_spark(c)}), "
            f"t -> cast(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT))")


def _tok_hashes_duck(c: str) -> str:
    return (f"list_transform(list_distinct({toks_duck(c)}), "
            f"t -> CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT))")


def simhash_vote(th: pd.Series) -> np.ndarray:
    """60-bit majority vote of each row's token hashes, for a whole
    Arrow batch at once: bit i of row r is set iff
    ``2 * (hashes of r with bit i set) >= len(r)``.

    The batch's hash lists are flattened into one (tokens x 60) bit
    matrix; its cumulative sum, differenced at the per-row offsets,
    gives every row's per-bit counts in whole-batch numpy ops (only
    the list lengths are read row by row). Matches
    ``simhash_vote_duck`` exactly, edges included: an empty list
    passes every vote (all-ones signature) and a NULL list passes
    none (0, as DuckDB's NULL comparisons fall to ELSE 0)."""
    null = np.fromiter((h is None for h in th), bool, len(th))
    lists = [np.asarray(h, dtype="<i8") for h in th if h is not None]
    lens = np.zeros(len(th), dtype=np.int64)
    lens[~null] = [len(h) for h in lists]
    offsets = np.zeros(len(th) + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    flat = np.concatenate(lists) if lists else np.empty(0, dtype="<i8")
    # little-endian bytes -> bit i of each hash in column i
    bits = np.unpackbits(flat.view(np.uint8).reshape(-1, 8), axis=1,
                         bitorder="little")[:, :_SIM_BITS]
    csum = np.zeros((len(flat) + 1, _SIM_BITS), dtype=np.int32)
    np.cumsum(bits, axis=0, out=csum[1:])
    ones = csum[offsets[1:]] - csum[offsets[:-1]]
    maj = 2 * ones >= lens[:, None]
    sig = (maj.astype(np.int64) << _SIM_SHIFTS).sum(axis=1)
    sig[null] = 0
    return sig


@pandas_udf(T.LongType())
def _simhash_from_hashes(th: pd.Series) -> pd.Series:
    """Row-wise SimHash column for the callers that need the
    signature itself (bit-balance QA, streaming signature dedup):
    the same batch vote as the ``simhash_pairs`` kernel."""
    return pd.Series(simhash_vote(th))


def simhash_spark(c: str) -> Column:
    """60-bit SimHash: bit i is the majority vote of token-hash bit
    i over distinct tokens.

    The md5-derived 60-bit token hashes stay a JVM expression (so
    the oracle-exact integer construction is shared with DuckDB);
    the vote over them is ``simhash_vote`` on each Arrow batch,
    inside an Arrow-vectorized UDF."""
    return _simhash_from_hashes(F.expr(_tok_hashes_spark(c)))


def simhash_vote_duck(th: str) -> str:
    """DuckDB twin of ``simhash_vote`` over a hash-list expression."""
    n = f"len({th})"
    return " + ".join(
        f"(CASE WHEN 2 * len(list_filter({th}, h -> (h >> {i}) & 1 = 1)) "
        f">= {n} THEN {1 << i}::BIGINT ELSE 0 END)"
        for i in range(_SIM_BITS))


def simhash_duck(c: str) -> str:
    return simhash_vote_duck(_tok_hashes_duck(c))


def _simhash_bands(batches):
    """mapInPandas kernel: (id, th) -> (id, sig, band, band_key),
    one row per document and band, from one batch vote."""
    for pdf in batches:
        sig = simhash_vote(pdf["th"])
        yield pd.DataFrame({
            "id": np.repeat(pdf["id"].to_numpy(), _SIM_BANDS),
            "sig": np.repeat(sig, _SIM_BANDS),
            "band": np.tile(np.arange(_SIM_BANDS, dtype=np.int32),
                            len(pdf)),
            "band_key": ((sig[:, None] >> _BAND_SHIFTS)
                         & ((1 << _BAND_BITS) - 1)).ravel(),
        })


def simhash_pairs(df: DataFrame, id_col: str, content_col: str,
                  max_hamming: int = 3,
                  bucket_cap: int | None = DEFAULT_BUCKET_CAP
                  ) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming, found by
    banding the 60-bit signature into 4 x 15-bit keys (pigeonhole:
    any pair within hamming 3 shares at least one band).

    One lazy plan: scan -> JVM token hashes -> ONE ``mapInPandas``
    kernel (``_simhash_bands``: batch vote plus the 4 band rows per
    document) -> ONE exchange on (band, band_key), shared by the
    hot-bucket window and the bucket collect -> pair expansion
    inside each bucket -> distinct. Building it runs no job. A band
    self-join would re-evaluate the signature for the second side;
    buckets collect (id, sig) structs instead.

    The input is NOT widened (``widen_if_narrow``): the per-row work
    is a few numpy ops, so a one-split input is cheaper in one
    Python worker than round-robined to every core."""
    th = df.select(F.col(id_col).alias("id"),
                   F.expr(_tok_hashes_spark(content_col)).alias("th"))
    bands = th.mapInPandas(_simhash_bands, T.StructType([
        T.StructField("id", th.schema["id"].dataType),
        T.StructField("sig", T.LongType()),
        T.StructField("band", T.IntegerType()),
        T.StructField("band_key", T.LongType())]))
    bands = _drop_hot_buckets(bands, ["band", "band_key"], bucket_cap)
    buckets = (bands.groupBy("band", "band_key")
               .agg(F.array_sort(F.collect_list(F.struct("id", "sig")))
                    .alias("xs"))
               .filter(F.size("xs") > 1))
    # the hamming test runs INSIDE the bucket expansion (array-side
    # filter before flatten), so failing candidates — ~90%+ of the
    # O(bucket^2) expansion on near-dup-heavy corpora — never become
    # explode output rows, and the distinct shuffle carries only
    # passing pairs
    pairs = (buckets.select(F.explode(F.expr(
        "flatten(transform(sequence(0, size(xs) - 2), "
        "i -> filter(transform(sequence(i + 1, size(xs) - 1), "
        "j -> struct(xs[i].id AS id_a, xs[j].id AS id_b, "
        "bit_count(xs[i].sig ^ xs[j].sig) AS hamming)), "
        f"p -> p.hamming <= {int(max_hamming)})))")).alias("p"))
        .select("p.id_a", "p.id_b", "p.hamming"))
    return pairs.distinct()


def simhash_pairs_duck_sql(table: str, id_col: str, content_col: str,
                           max_hamming: int = 3,
                           bucket_cap: int | None = DEFAULT_BUCKET_CAP
                           ) -> str:
    """Mirror of simhash_pairs INCLUDING the hot-bucket cap: buckets
    with more than bucket_cap members are excluded on both engines,
    so the oracle agrees by construction even on degenerate data
    where the cap actually fires."""
    sig = simhash_duck(content_col)
    mask = (1 << _BAND_BITS) - 1
    cap_filter = "" if bucket_cap is None else f"""
b AS (
  SELECT b0.* FROM b0
  JOIN (SELECT band, band_key, count(*) AS n
        FROM b0 GROUP BY band, band_key) sz
    USING (band, band_key)
  WHERE sz.n <= {bucket_cap}),"""
    b_name = "b0" if bucket_cap is None else "b"
    return f"""
WITH s AS (SELECT {id_col} AS id, {sig} AS sig FROM {table}),
b0 AS (
  SELECT id, sig, b.band,
         (sig >> ({_BAND_BITS} * b.band)) & {mask} AS band_key
  FROM s, (SELECT unnest(range({_SIM_BANDS})) AS band) b),{cap_filter}
cand AS (
  SELECT DISTINCT x.id AS id_a, y.id AS id_b,
         bit_count(xor(x.sig, y.sig)) AS hamming
  FROM {b_name} x JOIN {b_name} y
    ON x.band = y.band AND x.band_key = y.band_key AND x.id < y.id)
SELECT id_a, id_b, hamming FROM cand
WHERE hamming <= {max_hamming}
ORDER BY id_a, id_b
"""


# ------------------------------------------------------------------
# incremental (new-batch-vs-corpus) near-dup detection
# ------------------------------------------------------------------

def minhash_lsh_pairs_cross(df: DataFrame, id_col: str,
                            content_col: str, side_col: str,
                            threshold: float, k: int = 3,
                            bucket_cap: int | None = DEFAULT_BUCKET_CAP
                            ) -> DataFrame:
    """MinHash near-dup pairs BETWEEN two sides of one frame — the
    incremental-ingest shape: ``side_col`` = 0 marks the existing
    corpus, 1 the incoming batch, and only (incoming, corpus) pairs
    are emitted (within-side duplicates are the batch pipeline's
    job, handled by `minhash_lsh_pairs`).

    Same plan skeleton as `minhash_lsh_pairs` (signature once, 64
    band keys, ONE bucket shuffle, bounded pair expansion, exact
    Jaccard verify on a candidate-semi-joined re-scan); the bucket
    aggregation just splits each bucket's ids into per-side sorted
    lists so the expansion is the cross product of the two lists —
    never corpus x corpus.
    """
    sh = widen_if_narrow(df).select(
        F.col(id_col).alias("id"), F.col(side_col).alias("side"),
        F.expr(shingles_spark_inline(content_col, k)).alias("sh"))
    bands = _drop_hot_buckets(
        minhash_bands(minhash_stage(sh, "side"), "side"),
        ["band", "band_key"], bucket_cap)
    buckets = (bands.groupBy("band", "band_key")
               .agg(F.array_sort(F.collect_list(
                        F.when(F.col("side") == 0, F.col("id"))))
                    .alias("corp"),
                    F.array_sort(F.collect_list(
                        F.when(F.col("side") == 1, F.col("id"))))
                    .alias("inc"))
               .filter((F.size("corp") > 0) & (F.size("inc") > 0)))
    cand = (buckets.select(F.explode(F.expr(
        "flatten(transform(inc, a -> transform(corp, "
        "b -> struct(a AS id_in, b AS id_corp))))")).alias("p"))
        .select("p.id_in", "p.id_corp"))
    return _verify(cand, sh, "id_in", "id_corp", threshold)


def minhash_cross_duck_sql(table: str, id_col: str, content_col: str,
                           side_sql: str, threshold: float, k: int = 3,
                           bucket_cap: int | None = DEFAULT_BUCKET_CAP
                           ) -> str:
    """DuckDB mirror of `minhash_lsh_pairs_cross` (same hashes, same
    bands, same cap on TOTAL bucket size, cross-side candidates
    only). ``side_sql`` is a SQL expression over the table's columns
    yielding 0 (corpus) or 1 (incoming)."""
    sh = shingles_duck(content_col, k)
    cap_pred = ("" if bucket_cap is None
                else f" AND count(*) <= {bucket_cap}")
    return f"""
WITH d AS (SELECT {id_col} AS id, {side_sql} AS side, {sh} AS sh
           FROM {table}),
{sig_ctes_duck("side")},
bands AS (
  SELECT id, side, b.band,
         {_BAND_KEY_DUCK}
           AS band_key
  FROM sig, (SELECT unnest(range({_N_BANDS})) AS band) b),
ok AS (
  SELECT band, band_key FROM bands
  GROUP BY band, band_key
  HAVING count(*) FILTER (side = 1) > 0
     AND count(*) FILTER (side = 0) > 0{cap_pred}),
cand AS (
  SELECT DISTINCT a.id AS id_in, b.id AS id_corp
  FROM bands a
  JOIN ok USING (band, band_key)
  JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
              AND a.side = 1 AND b.side = 0),
{_verify_cte_duck("id_in", "id_corp")}
SELECT id_in, id_corp, jaccard FROM j
WHERE jaccard >= {threshold}
"""


def classify_dups(incoming: DataFrame, corpus_h: DataFrame,
                  near: DataFrame) -> DataFrame:
    """The exact/near/new verdict, ``(id, status)`` for every
    ``incoming`` ``(id, h)`` row: exact_dup when its content md5
    ``h`` is among ``corpus_h``'s, else near_dup when it is the
    ``id_in`` of a verified cross pair in ``near``, else new. Exact
    wins over near. The left semi-join keeps at most one match per
    incoming row by itself, so the corpus hashes need no distinct."""
    exact = (incoming.join(corpus_h.select("h"), "h", "left_semi")
             .select("id").withColumn("e", F.lit(1)))
    near_ids = (near.select(F.col("id_in").alias("id")).distinct()
                .withColumn("nr", F.lit(1)))
    return (incoming.select("id")
            .join(exact, "id", "left")
            .join(near_ids, "id", "left")
            .select("id",
                    F.when(F.col("e") == 1, "exact_dup")
                    .when(F.col("nr") == 1, "near_dup")
                    .otherwise("new").alias("status")))


def classify_cross(sided: DataFrame, id_col: str, content_col: str,
                   side_col: str, threshold: float, k: int = 3,
                   bucket_cap: int | None = DEFAULT_BUCKET_CAP
                   ) -> DataFrame:
    """``classify_dups`` in one query: every ``side_col`` = 1 row of
    ``sided`` against its ``side_col`` = 0 rows, with the near-dup
    pairs from `minhash_lsh_pairs_cross` (never corpus x corpus)."""
    side = F.col(side_col)
    incoming = sided.filter(side == 1).select(
        F.col(id_col).alias("id"), F.md5(content_col).alias("h"))
    corpus_h = sided.filter(side == 0).select(
        F.md5(content_col).alias("h"))
    return classify_dups(incoming, corpus_h, minhash_lsh_pairs_cross(
        sided, id_col, content_col, side_col, threshold, k, bucket_cap))


# ------------------------------------------------------------------
# asymmetric containment (sub-document duplication)
# ------------------------------------------------------------------

# Prefix entries whose shingle's global document frequency exceeds
# this are SKIPPED: a stopword-shingle in a tiny doc's prefix would
# otherwise fan its full postings list into the candidate join — the
# same hot-key skew the band buckets cap with DEFAULT_BUCKET_CAP, and
# the same rule: a lazy filter, so no job runs at plan build and a
# skipped entry is not logged. Mirrored in the DuckDB oracle; None
# disables.
DEFAULT_SHINGLE_DF_CAP = 1000


def _prefix_bound(threshold: float) -> str:
    """Integer prefix length p = nsh - ceil(t*nsh) + 1, as a SQL
    fragment both engines evaluate identically. Pigeonhole: a pair at
    containment >= t shares >= ceil(t*n) of the smaller side's n
    shingles, i.e. misses <= n - ceil(t*n); if NONE of the p rarest
    were shared the misses would be >= p > n - ceil(t*n). The naive
    float form floor((1-t)*n)+1 is one short whenever (1-t)*n rounds
    down across an integer (t=0.9, n=10: floor(0.0999...*10)+1 = 1,
    needs 2) — that voids the guarantee, so the bound is computed
    from ceil with a downward epsilon (never overestimates, exact at
    integer crossings)."""
    return f"nsh - ceil({threshold!r} * nsh - 1e-9) + 1"


def containment_pairs(df: DataFrame, id_col: str, content_col: str,
                      threshold: float, k: int = 3,
                      shingle_df_cap: int | None = DEFAULT_SHINGLE_DF_CAP
                      ) -> DataFrame:
    """Asymmetric containment |A∩B| / |smaller| — the measure that
    catches a short document EMBEDDED in a longer one, where Jaccard
    stays low and MinHash banding under-recalls (minhash estimates
    Jaccard, not containment).

    EXACT result via PPJoin-style PREFIX FILTERING (Xiao et al.,
    Chaudhuri et al. SSJoin): a pair with containment >= t must
    share at least one of the smaller side's n - ceil(t*n) + 1
    globally-RAREST shingles (see _prefix_bound). So candidates come
    from joining each doc's tiny rarest-shingle prefix against the
    full inverted index — a df_prefix x df fan-out instead of df^2,
    and common shingles almost never sit in a prefix (prefixes sort
    by ascending global document frequency, shingle tie-break).
    Verification computes the exact intersection on the candidate
    pairs only (the minhash verify recipe). Exact at the threshold
    EXCEPT pairs witnessed only by a prefix shingle over
    ``shingle_df_cap`` — those postings lists are skipped to bound
    the join fan-out on stopword shingles, and the DuckDB oracle
    applies the identical cap. The threshold is tested
    on the UNROUNDED ratio (the oracle does the same); rounding is
    output-only. Emitted as (id_small, id_big) with
    smaller-shingle-set ids first and id order breaking size ties.
    """
    # bound shingler (no Pandas UDF anywhere in this pipeline, so the
    # struct-bound form is safe): the inline form re-tokenizes per
    # shingle index — measured 3x slower on this, the one stage that
    # touches every document's full text
    # shingling reused by index + verify
    sh = _cache.checkpoint(
        widen_if_narrow(df).select(
            F.col(id_col).alias("id"),
            F.expr(shingles_spark(content_col, k)).alias("sh"))
        .select("id", F.col("sh"), F.size("sh").alias("nsh"))
        .filter(F.col("nsh") > 0))
    inv = sh.select("id", "nsh", F.explode("sh").alias("s"))
    dfreq = inv.groupBy("s").agg(F.count(F.lit(1)).alias("dfq"))
    ranked = inv.join(dfreq, "s").withColumn(
        "rk", F.row_number().over(
            Window.partitionBy("id").orderBy(F.asc("dfq"), F.asc("s"))))
    # tiny, and read once, by the candidate join; the lazy checkpoint
    # still pays: AQE runs its shuffles (document frequencies, rank
    # window) while the plan is built, and at sf0.1 on 4 vCPUs the key
    # took 6.8-8.6 s with it against 7.9-8.9 s without, where the
    # execute plan ran 9 stages instead of 6
    prefix = _cache.checkpoint(
        ranked.filter(F.expr(f"rk <= {_prefix_bound(threshold)}"))
        .select("id", "s", "dfq"), eager=False)
    if shingle_df_cap is not None:
        prefix = prefix.filter(F.col("dfq") <= shingle_df_cap)
    cand = (prefix.select(F.col("id").alias("id_a"), "s")
            .join(inv.select(F.col("id").alias("id_b"), "s"), "s")
            .filter(F.col("id_a") != F.col("id_b"))
            .select(F.least("id_a", "id_b").alias("id_a"),
                    F.greatest("id_a", "id_b").alias("id_b"))
            .distinct())
    a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"),
                  F.col("nsh").alias("na"))
    b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"),
                  F.col("nsh").alias("nb"))
    shared = (cand.join(a, "id_a").join(b, "id_b")
              .select("id_a", "id_b", "na", "nb",
                      F.size(F.array_intersect("sh_a", "sh_b"))
                      .alias("n_shared")))
    small_first = (F.col("na") < F.col("nb")) \
        | ((F.col("na") == F.col("nb")) & (F.col("id_a") < F.col("id_b")))
    cont = (F.col("n_shared")
            / F.least(F.col("na"), F.col("nb")).cast("double"))
    return (shared
            .select(F.when(small_first, F.col("id_a"))
                    .otherwise(F.col("id_b")).alias("id_small"),
                    F.when(small_first, F.col("id_b"))
                    .otherwise(F.col("id_a")).alias("id_big"),
                    cont.alias("cont_raw"))
            .filter(F.col("cont_raw") >= threshold)
            .select("id_small", "id_big",
                    F.round("cont_raw", 3).alias("containment")))


def containment_pairs_duck_sql(table: str, id_col: str,
                               content_col: str, threshold: float,
                               k: int = 3,
                               shingle_df_cap: int | None =
                               DEFAULT_SHINGLE_DF_CAP) -> str:
    """DuckDB check for `containment_pairs`, mirroring the prefix
    filter INCLUDING the integer bound and the shingle-df cap (the
    same construction as simhash_pairs_duck_sql): with the cap
    disabled the prefix filter is pigeonhole-complete, so this
    equals the brute-force inverted-index join; with it enabled both
    engines drop exactly the same capped prefix entries. The WHERE
    tests the unrounded ratio, as the Spark side does."""
    sh = shingles_duck(content_col, k)
    cap_pred = "" if shingle_df_cap is None \
        else f" AND dfq <= {shingle_df_cap}"
    return f"""
WITH d AS (SELECT {id_col} AS id, {sh} AS sh FROM {table}),
sz AS (SELECT id, len(sh) AS nsh, sh FROM d WHERE len(sh) > 0),
iv AS (SELECT id, nsh, unnest(sh) AS s FROM sz),
dfr AS (SELECT s, count(*) AS dfq FROM iv GROUP BY s),
rkd AS (
  SELECT iv.id, iv.nsh, iv.s, dfr.dfq,
         row_number() OVER (PARTITION BY iv.id
                            ORDER BY dfr.dfq, iv.s) AS rk
  FROM iv JOIN dfr USING (s)),
pfx AS (SELECT id, s FROM rkd
        WHERE rk <= {_prefix_bound(threshold)}{cap_pred}),
cand AS (
  SELECT DISTINCT least(p.id, i.id) AS id_a,
                  greatest(p.id, i.id) AS id_b
  FROM pfx p JOIN iv i ON p.s = i.s AND p.id <> i.id),
shared AS (
  SELECT c.id_a, c.id_b, a.nsh AS na, b.nsh AS nb,
         len(list_intersect(a.sh, b.sh)) AS n_shared
  FROM cand c JOIN sz a ON a.id = c.id_a JOIN sz b ON b.id = c.id_b)
SELECT CASE WHEN na < nb OR (na = nb AND id_a < id_b)
            THEN id_a ELSE id_b END AS id_small,
       CASE WHEN na < nb OR (na = nb AND id_a < id_b)
            THEN id_b ELSE id_a END AS id_big,
       round(n_shared / CAST(least(na, nb) AS DOUBLE), 3)
         AS containment
FROM shared
WHERE n_shared / CAST(least(na, nb) AS DOUBLE) >= {threshold}
ORDER BY id_small, id_big
"""
