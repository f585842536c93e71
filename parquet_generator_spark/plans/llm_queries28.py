"""LLM-pipeline twenty-eighth tranche (round 12).

``dedup_index_appended`` — merge-on-append for the persisted MinHash
dedup index: the missing half of the index lifecycle the IVF-PQ
artifact already had (train once / ``append_ivfpq_batch`` /
serve). Train the index on the base corpus slice, APPEND a second
ingest slice with ``append_dedup_batch`` (one signature pass over
the new slice only; bucket stats MERGED, never recounted), then
classify the query batch against the grown artifact. Value-identical
to retraining on base+append in one shot (pinned in
tests/test_dedup_index.py::test_append_equals_rebuild), so the
oracle is the same from-scratch incremental_dedup SQL the served
index uses. Daily-ingest reality at 100 TB: each cycle pays
O(new batch) compute, the corpus side is never re-signed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_generator_spark.sources.catalog import load_table

QUERIES: dict = {}
ORACLES: dict = {}


def dedup_index_appended(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    """Train on doc_id%4==0, append doc_id%4==2, classify the odd
    batch — corpus == evens, exactly dedup_index_served's split, so
    the from-scratch oracle is shared."""
    from parquet_generator_spark.operators import dedup_index
    from parquet_generator_spark.plans.llm_queries8 import INC_TAU
    from parquet_generator_spark.sinks import stores

    docs = load_table(spark, "documents", sf_dir)

    def build(root: str) -> None:
        dedup_index.train_dedup_index(
            spark, docs.filter(F.col("doc_id") % 4 == 0), root,
            id_col="doc_id", content_col="text")
        dedup_index.append_dedup_batch(
            spark, root, docs.filter(F.col("doc_id") % 4 == 2),
            id_col="doc_id", content_col="text")

    root = stores.ensure("dedup_index_appended", sf_dir,
                         ["documents.parquet"], build, tag="appended")
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    out = dedup_index.classify_served(
        spark, root, batch, INC_TAU, id_col="doc_id",
        content_col="text")
    return (out.select(F.col("id").alias("doc_id"), "status")
            .orderBy("doc_id"))


def _dedup_index_appended_oracle() -> str:
    from parquet_generator_spark.plans.llm_queries8 import (
        INCREMENTAL_DEDUP_ORACLE,
    )

    return INCREMENTAL_DEDUP_ORACLE


QUERIES.update({"dedup_index_appended": dedup_index_appended})
ORACLES.update({"dedup_index_appended": _dedup_index_appended_oracle()})


# --------------------------------------------- chat_template_pack

def chat_template_pack(spark: SparkSession,
                       sf_dir: str) -> DataFrame:
    """SFT data prep: render per-user event sequences as multi-turn
    chat-template text (``<|role|>content<|end|>`` segments,
    user/assistant alternating by turn index) and account the
    LOSS-MASK split — assistant-segment characters are the trained
    tokens, everything else is masked. Reports, per conversation
    length, the mask economics a fine-tuning run budgets from:
    conversations, mean rendered length, mean trainable ratio.

    Spark-first: one row_number window keyed by the conversation id
    (the same shuffle any per-conversation op pays), segments
    rendered per-row in codegen, two grouped passes — no collect_list
    of whole conversations on the driver, no UDF. At 100 TB the
    render is a scan-stage map and the only wide exchange is the
    conversation-key shuffle."""
    from pyspark.sql import Window

    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = F.concat(
        F.lit("<|"),
        F.when((F.row_number().over(w) - 1) % 2 == 0, "user")
        .otherwise("assistant").alias("role"),
        F.lit("|>"), F.col("event_type"), F.lit("#"),
        F.col("event_id").cast("string"), F.lit("<|end|>"))
    role_is_asst = ((F.row_number().over(w) - 1) % 2 == 1)
    turns = ev.select(
        "user_id", F.length(seg).alias("seg_len"),
        F.when(role_is_asst, F.length(seg))
        .otherwise(F.lit(0)).alias("asst_len"))
    conv = (turns.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_turns"),
                 F.sum("seg_len").alias("chars"),
                 F.sum("asst_len").alias("asst_chars")))
    return (conv.groupBy("n_turns")
            .agg(F.count(F.lit(1)).alias("conversations"),
                 F.round(F.avg("chars"), 4).alias("avg_chars"),
                 F.round(F.avg(F.col("asst_chars").cast("double")
                               / F.col("chars")), 4)
                 .alias("avg_trainable_ratio"))
            .orderBy("n_turns"))


CHAT_TEMPLATE_PACK_ORACLE = """
WITH t AS (
  SELECT user_id,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) - 1 AS ti,
         '<|' || CASE WHEN (row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) - 1) % 2 = 0
                      THEN 'user' ELSE 'assistant' END
         || '|>' || event_type || '#' || CAST(event_id AS VARCHAR)
         || '<|end|>' AS seg
  FROM events),
conv AS (
  SELECT user_id, count(*) AS n_turns,
         sum(length(seg)) AS chars,
         sum(CASE WHEN ti % 2 = 1 THEN length(seg) ELSE 0 END)
           AS asst_chars
  FROM t GROUP BY user_id)
SELECT CAST(n_turns AS BIGINT) AS n_turns,
       count(*) AS conversations,
       round(avg(chars), 4) AS avg_chars,
       round(avg(CAST(asst_chars AS DOUBLE) / chars), 4)
         AS avg_trainable_ratio
FROM conv GROUP BY n_turns ORDER BY n_turns
"""

QUERIES.update({"chat_template_pack": chat_template_pack})
ORACLES.update({"chat_template_pack": CHAT_TEMPLATE_PACK_ORACLE})
