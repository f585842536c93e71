"""Interleaved ABAB timing of a query key: HEAD's version of its
plan module vs the working tree's. The box swings well beyond 10%
between sessions, so only same-session interleaved medians are
trusted for per-key claims (optimization-round protocol).

Usage: python scripts/ab_compare.py <module> <key> [runs]
e.g.   python scripts/ab_compare.py llm_queries26 gopher_repetition 4
"""
from __future__ import annotations

import importlib
import importlib.util
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from parquet_generator_spark.session import get_spark  # noqa: E402
from scripts.keyrun import KeyRunner, median_run  # noqa: E402


def main() -> None:
    mod_name, key = sys.argv[1], sys.argv[2]
    runs = int(sys.argv[3]) if len(sys.argv) > 3 else 4
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    old_src = subprocess.check_output(
        ["git", "-C", os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))),
         "show", f"HEAD:parquet_generator_spark/plans/{mod_name}.py"],
        text=True)
    old_path = f"/tmp/_ab_old_{mod_name}.py"
    with open(old_path, "w") as fh:
        fh.write(old_src)
    spec = importlib.util.spec_from_file_location(
        f"_ab_old_{mod_name}", old_path)
    old = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(old)
    new = importlib.import_module(
        f"parquet_generator_spark.plans.{mod_name}")

    spark = get_spark("abtest")
    spark.sparkContext.setLogLevel("ERROR")
    runner = KeyRunner(spark)
    builds = {"old": old.QUERIES[key], "new": new.QUERIES[key]}
    for build in builds.values():
        runner.run_key(key, build, sf)
    res: dict[str, list] = {"old": [], "new": []}
    for _ in range(runs):
        for tag, build in builds.items():
            res[tag].append(runner.run_key(key, build, sf))
    for tag, xs in res.items():
        med = median_run(xs)
        print(f"RESULT {key} {tag} median {med.total_s:.3f} "
              f"(build {med.layers['plans.build_s']:.3f}, "
              f"{med.layers['plans.build_jobs']} build jobs) "
              f"{[round(x.total_s, 2) for x in xs]} rows={len(med.rows)}")
    spark.stop()


if __name__ == "__main__":
    main()
