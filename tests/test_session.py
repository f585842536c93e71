"""Session defaults that change results or cold cost: ``lower()``.

``get_spark`` turns ICU case mappings off, so ``lower()`` runs
``UTF8String.toLowerCase`` (an ASCII fast path, else the JVM's
``String.toLowerCase``) instead of ICU's, and no JVM builds ICU's
title-case table. These tests pin that the two mappings give the same
strings on non-ASCII text, and the gap both share with DuckDB's
``lower()``, the oracle side of every parity check.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

ICU = "spark.sql.icu.caseMappings.enabled"

SAMPLES = ["ÄÖÜ Straße", "ẞ", "ÑANDÚ Camión", "ÉCOLE Garçon", "ΟΔΥΣΣΕΥΣ",
           "ΣΑΣ σας", "İstanbul", "КИРИЛЛИЦА", "ǅemal", "ﬁ", "ΐ", "ŉ",
           "ÆØÅ", "Dž"]


def _spark_lower(spark) -> list[str]:
    df = spark.createDataFrame([(i, s) for i, s in enumerate(SAMPLES)],
                               "i int, s string")
    return [r[0] for r in
            df.orderBy("i").select(F.lower("s")).collect()]


@pytest.fixture
def icu_conf(spark):
    before = spark.conf.get(ICU)
    yield
    spark.conf.set(ICU, before)


def test_get_spark_defaults(spark):
    assert spark.conf.get(ICU) == "false"
    assert spark.conf.get("spark.ui.showConsoleProgress") == "false"


def test_jvm_and_icu_case_mappings_agree(spark, icu_conf):
    spark.conf.set(ICU, "true")
    icu = _spark_lower(spark)
    spark.conf.set(ICU, "false")
    jvm = _spark_lower(spark)
    assert jvm == icu


def test_lower_gap_with_duckdb(spark):
    """Spark applies the Greek final-sigma rule and keeps the combining
    dot of a lowered İ; DuckDB does neither. Every other sample
    agrees. Neither case-mapping setting changes this."""
    ours = _spark_lower(spark)
    con = duckdb.connect()
    theirs = [con.execute("SELECT lower(?)", [s]).fetchone()[0]
              for s in SAMPLES]
    gaps = {s: (a, b) for s, a, b in zip(SAMPLES, ours, theirs) if a != b}
    assert gaps == {
        "ΟΔΥΣΣΕΥΣ": ("οδυσσευς", "οδυσσευσ"),
        "ΣΑΣ σας": ("σας σας", "σασ σας"),
        "İstanbul": ("i\u0307stanbul", "istanbul"),
    }
