"""SparkSession factory with scale-oriented defaults.

Defaults are tuned for the local[32] test harness but every knob is
chosen for how it behaves on a 1000-executor cluster: AQE coalesces
post-shuffle partitions and splits skewed ones at runtime, broadcast
threshold keeps dimension joins shuffle-free, and Arrow makes the
few Pandas-UDF operators batch-transfer instead of pickling rows.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = "32"


def get_spark(app_name: str = "parquet-generator-spark",
              extra_conf: dict | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # AQE: runtime coalesce + skew-join splitting — the behaviors
        # that keep a 100 TB shuffle from dying on one hot key.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions",
                os.environ.get("SPARK_SHUFFLE_PARTITIONS",
                               DEFAULT_SHUFFLE_PARTITIONS))
        # dims up to 64 MB broadcast instead of shuffling the fact side
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.parquet.filterPushdown", "true")
        # runtime bloom filters: a selective filter on one join side
        # prunes the other side's scan before the shuffle — the
        # difference between shuffling 100 TB and shuffling the ~1%
        # that can actually match
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # MIN/MAX/COUNT over plain parquet answered from footer stats
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # lower()/upper() through the JVM's case mappings, not ICU's.
        # The ICU default makes the first UTF8_BINARY lower() in a JVM
        # run CollationAwareUTF8String's static initializer, which
        # calls ICU's toTitleCase on all 1,114,112 code points to fill
        # a table nothing here reads: 3.1-3.6 CPU-s (4 vCPUs) on every
        # cold pass. UTF8String.toLowerCase has an ASCII fast
        # path and otherwise calls String.toLowerCase, which gives the
        # same strings as ICU's root-locale mapping (final sigma and
        # dotted capital I included) in any non-tr/az/lt JVM locale.
        .config("spark.sql.icu.caseMappings.enabled", "false")
        # Status-store retention (guide §5: the driver should do
        # almost no data work — that includes holding history). Even
        # with the UI off, AppStatusListener/SQLAppStatusListener
        # retain per-execution plan graphs + per-task metrics up to
        # these caps (defaults: 1000 executions / 1000 jobs / 100k
        # tasks); a long-lived session running hundreds of queries
        # (the bench sweep, a curation service) accumulates hundreds
        # of MB of driver heap as pure history, inflating GC pauses
        # late in the session. Recent history is kept for debugging;
        # the caps bound it.
        .config("spark.sql.ui.retainedExecutions", "50")
        .config("spark.ui.retainedJobs", "300")
        .config("spark.ui.retainedStages", "500")
        .config("spark.ui.retainedTasks", "10000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
