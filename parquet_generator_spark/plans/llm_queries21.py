"""LLM-pipeline twenty-first wave: BPE vocabulary TRAINING and ENCODE.

``bpe_merge_candidates`` (llm_queries6.py) is step 1 of BPE, one
pair-count pass. This module trains the full merge table (Sennrich et
al. 2016, "Neural Machine Translation of Rare Words with Subword
Units") and encodes the corpus with it.

Shape:
- the corpus-sized work stays distributed: one scan tokenizes the
  documents and one groupBy counts the unique words; that frequency
  table is the classic BPE training input, and it is collected to the
  driver once (31 words at sf0.01 and at sf0.1);
- ``train_merges`` runs the K merge rounds in plain Python over that
  table, one in-memory pass per merge, as in the paper: adjacent-pair
  counts weighted by word frequency, the argmax pair with ties broken
  on the ascending pair string (tokens are ``[a-z0-9]+``, so Python's
  code-point order is Spark's byte order), and an early stop when no
  pair is left;
- a word is the space-delimited symbol string (``"low"`` ->
  ``" l o w "``) and a merge is a DOUBLE-pass plain string
  ``replace``. For left != right two passes make leftmost
  non-overlapping replacement equal to greedy left-to-right merging (a
  single pass misses every second adjacent occurrence, because the
  shared delimiter space is consumed; the missed ones are never
  adjacent, so pass 2 gets them all). KNOWN DEVIATION from
  Sennrich-greedy BPE: for SELF-OVERLAPPING pairs (left == right) on
  symbol runs >= 5 the double replace groups differently
  (['a']*5 -> ['aa','a','aa'] vs greedy ['aa','aa','a']; runs >= 6
  differ in token count), pinned in tests/test_bpe_property.py;
- ``bpe_encode_stats`` applies the merges as 2K replaces inside one
  projection over the corpus, then one per-source aggregate. The merge
  pairs enter the plan as literals through the column API, not as SQL
  text.

Python, Spark and DuckDB share the double-replace semantics, so the
DuckDB oracle replays the same K rounds as unrolled CTEs with scalar
subqueries, with no Spark result leaking into it.

Cost (SCALE.md): the driver holds the vocabulary, O(|V|), and training
takes O(K * sum |w|) Python steps over it; building either key runs
two jobs (the shuffle and the result of the one vocabulary collect)
and no checkpoint.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from parquet_generator_spark.operators.text import toks_duck, toks_spark
from parquet_generator_spark.sources.catalog import load_table

QUERIES: dict = {}
ORACLES: dict = {}

BPE_TRAIN_MERGES = 12

_MERGES_SCHEMA = T.StructType([
    T.StructField("rank", T.IntegerType()),
    T.StructField("merge_left", T.StringType()),
    T.StructField("merge_right", T.StringType()),
    T.StructField("merged", T.StringType()),
    T.StructField("n", T.LongType()),
])

# symbol string: sentinel-space-delimited chars, e.g. "low" -> " l o w "
_CHARS_DUCK = ("' ' || array_to_string(list_transform("
               "generate_series(1, length(w)), i -> substr(w, i, 1)), "
               "' ') || ' '")

# adjacent symbol pairs of the delimited string, as 'a b' strings
_PAIRS_DUCK = (
    "CASE WHEN len(l) >= 2 THEN list_transform("
    "generate_series(1, len(l) - 1), i -> l[i] || ' ' || l[i + 1]) "
    "ELSE [] END")

_SPLIT_DUCK = "list_filter(string_split(s, ' '), t -> t <> '')"


def train_merges(vocab: list[tuple[str, int]],
                 k: int = BPE_TRAIN_MERGES) -> list[tuple]:
    """Train up to ``k`` merges over a (word, freq) table: rows of
    (rank, merge_left, merge_right, merged, n), where n is the
    weighted frequency the pair had when selected. Stops early when
    no word has two symbols left."""
    words = [(" " + " ".join(w) + " ", freq) for w, freq in vocab]
    merges: list[tuple] = []
    for rank in range(1, k + 1):
        counts: Counter = Counter()
        for s, freq in words:
            syms = s.split()
            for left, right in zip(syms, syms[1:]):
                counts[f"{left} {right}"] += freq
        if not counts:
            break
        pair, n = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        left, right = pair.split(" ")
        pat, rep = f" {pair} ", f" {left}{right} "
        words = [(s.replace(pat, rep).replace(pat, rep), freq)
                 for s, freq in words]
        merges.append((rank, left, right, left + right, n))
    return merges


def _word_counts(spark: SparkSession, sf_dir: str) -> list[tuple[str, int]]:
    """The corpus's unique-word frequency table, collected once."""
    docs = load_table(spark, "documents", sf_dir)
    rows = (docs.select(F.explode(F.expr(toks_spark("text"))).alias("w"))
            .groupBy("w").count().collect())
    return [(r["w"], r["count"]) for r in rows]


def bpe_vocab_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a BPE merge table (K=12 rounds) over the documents
    corpus: rank, the merged pair (left/right/merged), and the
    weighted corpus frequency the pair had when selected. Ties break
    on ascending pair string in both engines."""
    merges = train_merges(_word_counts(spark, sf_dir))
    return spark.createDataFrame(merges, _MERGES_SCHEMA).orderBy("rank")


def _merge_duck(r: int) -> tuple[str, str]:
    """Round r's replace pattern and replacement as DuckDB scalar
    subqueries on b{r}. Once no pair is left b{r} has no row, and both
    coalesce to two spaces, which never occur in a delimited string,
    so the replace is a no-op."""
    pat = f"' ' || coalesce((SELECT pair FROM b{r}), '') || ' '"
    rep = (f"' ' || coalesce((SELECT replace(pair, ' ', '') "
           f"FROM b{r}), '') || ' '")
    return pat, rep


def _train_ctes_duck(k: int) -> str:
    """The unrolled K-round replay as CTEs: w{r} is the vocabulary
    after round r, b{r} round r's argmax pair (no row once no pair is
    left)."""
    parts = [
        "WITH w0 AS MATERIALIZED (\n"
        f"  SELECT {_CHARS_DUCK} AS s, freq FROM (\n"
        f"    SELECT w, count(*) AS freq FROM (\n"
        f"      SELECT unnest({toks_duck('text')}) AS w FROM documents)\n"
        f"    GROUP BY w))"]
    for r in range(1, k + 1):
        prev = f"w{r - 1}"
        pat, rep = _merge_duck(r)
        parts.append(
            f"p{r} AS MATERIALIZED (\n"
            f"  SELECT unnest({_PAIRS_DUCK}) AS pair, freq FROM (\n"
            f"    SELECT {_SPLIT_DUCK} AS l, freq FROM {prev})),\n"
            f"b{r} AS MATERIALIZED (\n"
            f"  SELECT pair, sum(freq) AS n FROM p{r} GROUP BY pair\n"
            f"  ORDER BY n DESC, pair ASC LIMIT 1),\n"
            f"w{r} AS MATERIALIZED (\n"
            f"  SELECT replace(replace(s,\n"
            f"           {pat},\n"
            f"           {rep}),\n"
            f"           {pat},\n"
            f"           {rep}) AS s, freq\n"
            f"  FROM {prev})")
    return ",\n".join(parts)


def bpe_vocab_train_duck_sql(k: int = BPE_TRAIN_MERGES) -> str:
    """Unrolled K-round replay: one rank row per round that found a
    pair; the merge is the same double-pass replace."""
    rows = "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS INTEGER) AS rank,\n"
        f"  split_part(pair, ' ', 1) AS merge_left,\n"
        f"  split_part(pair, ' ', 2) AS merge_right,\n"
        f"  replace(pair, ' ', '') AS merged,\n"
        f"  CAST(n AS BIGINT) AS n FROM b{r}"
        for r in range(1, k + 1))
    return _train_ctes_duck(k) + "\n" + rows + "\nORDER BY rank"


QUERIES.update({"bpe_vocab_train": bpe_vocab_train})
ORACLES.update({"bpe_vocab_train": bpe_vocab_train_duck_sql()})


# ------------------------------------------------------ bpe_encode_stats

def _symbols(w: Column) -> Column:
    """``"low"`` -> ``" l o w "``, the delimited symbol string."""
    chars = F.transform(F.sequence(F.lit(1), F.length(w)),
                        lambda i: F.substring(w, i, F.lit(1)))
    return F.concat(F.lit(" "), F.array_join(chars, " "), F.lit(" "))


def _apply_merges(s: Column, merges: list[tuple]) -> Column:
    """Apply the trained merge sequence to the delimited symbol string
    ``s``: the same double-pass replace per merge as training."""
    for _r, left, right, merged, _n in merges:
        pat, rep = F.lit(f" {left} {right} "), F.lit(f" {merged} ")
        s = F.replace(F.replace(s, pat, rep), pat, rep)
    return s


def bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENCODE with the trained merge table: trains the K=12 merges
    (``train_merges`` over one vocabulary collect), applies them to
    every word of every document, and reports the tokenizer's effect
    per source — docs, total chars (pre-BPE symbol count), post-BPE
    token count, and chars per token (the compression/fertility
    report a tokenizer change ships with; the trained-BPE twin of
    tokenizer_fertility).

    Scale shape: the merge table is O(K) literals; encoding is 2K
    string replaces inside ONE projection over the corpus — no
    shuffle beyond the final per-source aggregate."""
    merges = train_merges(_word_counts(spark, sf_dir))
    docs = load_table(spark, "documents", sf_dir)
    toks = F.expr(toks_spark("text"))

    def word_stats(w: Column) -> Column:
        pieces = F.split(_apply_merges(_symbols(w), merges), " ")
        n_toks = F.size(F.filter(pieces, lambda t: t != "")).cast("bigint")
        return F.struct(F.length(w).alias("chars"), n_toks.alias("toks"))

    zero = F.struct(F.lit(0).cast("bigint").alias("c"),
                    F.lit(0).cast("bigint").alias("t"))
    per_doc = F.aggregate(
        F.transform(toks, word_stats), zero,
        lambda a, x: F.struct((a["c"] + x["chars"]).alias("c"),
                              (a["t"] + x["toks"]).alias("t")))
    stats = docs.filter(F.size(toks) >= 1).select(
        "source", per_doc.alias("agg"))
    return (stats.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("agg.c").alias("chars"),
                 F.sum("agg.t").alias("bpe_tokens"),
                 F.round(F.sum("agg.c") / F.sum("agg.t"), 4)
                 .alias("chars_per_token"))
            .orderBy("source"))


def bpe_encode_stats_duck_sql(k: int = BPE_TRAIN_MERGES) -> str:
    """Replay: re-train the merges in SQL (the bpe_vocab_train CTE
    chain), then apply the SAME double-pass replaces to every word
    via the b{r} scalar subqueries."""
    enc = _CHARS_DUCK
    for r in range(1, k + 1):
        pat, rep = _merge_duck(r)
        enc = (f"replace(replace({enc}, {pat}, {rep}), {pat}, {rep})")
    return f"""{_train_ctes_duck(k)},
words AS (
  SELECT doc_id, source, unnest({toks_duck('text')}) AS w
  FROM documents),
encw AS (
  SELECT doc_id, source, length(w) AS chars,
         len(list_filter(string_split({enc}, ' '), t -> t <> ''))
           AS toks
  FROM words)
SELECT source, count(DISTINCT doc_id) AS n_docs,
       CAST(sum(chars) AS BIGINT) AS chars,
       CAST(sum(toks) AS BIGINT) AS bpe_tokens,
       round(CAST(sum(chars) AS DOUBLE) / sum(toks), 4)
         AS chars_per_token
FROM encw
GROUP BY source
ORDER BY source
"""


QUERIES.update({"bpe_encode_stats": bpe_encode_stats})
ORACLES.update({"bpe_encode_stats": bpe_encode_stats_duck_sql()})
