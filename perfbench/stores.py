"""Build (or validate) the program's fingerprinted ``.scratch/`` stores.

Runs each store-backed query key once in its own Spark session, so the
measured run finds every store warm. The program builds a store on the
first call that finds it missing or stale; this script is that first
call, made outside any measured process.

Usage: python3 perfbench/stores.py SF_DIR KEY [KEY ...]
"""

from __future__ import annotations

import os
import sys

import spark_env


def main(sf_dir: str, keys: list[str]) -> int:
    sys.path.insert(0, os.getcwd())
    import __spark_entry__ as entry
    from parquet_generator_spark.operators import cache

    spark = spark_env.start("perfbench-stores")
    try:
        fns = entry.queries()
        for k in keys:
            fns[k](spark, sf_dir).collect()
            cache.release_all(spark)
    finally:
        spark_env.stop(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2:]))
