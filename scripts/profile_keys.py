"""Per-key profiler: times each named key in isolation (the median of
N runs, as bench.py does) and prints the median run's build/execute
split and job, stage and shuffle counters. With no keys it runs every
registry key and ends with the build-job census. ``--explain-dir``
dumps `.explain("formatted")` to <dir>/<key>_<suffix>.txt.

Usage:
    python scripts/profile_keys.py [--explain-dir plans/r13]
        [--suffix before] [--runs 3] [key ...]
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 \\
        python scripts/profile_keys.py --runs 1     # the census

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32).
"""
from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from parquet_generator_spark.operators import cache  # noqa: E402
from parquet_generator_spark.session import get_spark  # noqa: E402
from scripts.keyrun import KeyRunner, median_run  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402

COLUMNS = (("build_s", "plans.build_s", "{:.3f}"),
           ("exec_s", "exec.collect_s", "{:.3f}"),
           ("build_jobs", "plans.build_jobs", "{:.0f}"),
           ("exec_jobs", "exec.jobs", "{:.0f}"),
           ("stages", "exec.stages", "{:.0f}"),
           ("shuffle_read", "exec.shuffle_read_bytes", "{:.0f}"),
           ("shuffle_write", "exec.shuffle_write_bytes", "{:.0f}"))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("keys", nargs="*", help="default: every registry key")
    ap.add_argument("--explain-dir", default="")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--runs", type=int, default=3)
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("profile")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    runner = KeyRunner(spark)
    runner.warm_up(qs)

    print("key " + " ".join(c for c, _, _ in COLUMNS) + " rows")
    census = {"keys": 0, "build_jobs": 0, "building_keys": 0}
    for name in args.keys or sorted(qs):
        if name not in qs:
            print(f"{name}: UNKNOWN KEY", file=sys.stderr)
            continue
        if args.explain_dir:
            os.makedirs(args.explain_dir, exist_ok=True)
            df = qs[name](spark, sf_dir)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            p = os.path.join(args.explain_dir,
                             f"{name}_{args.suffix}.txt")
            with open(p, "w") as fh:
                fh.write(txt)
            cache.release_all(spark)
        try:
            run = median_run([runner.run_key(name, qs[name], sf_dir)
                              for _ in range(args.runs)])
        except Exception as exc:  # one bad key must not end the census
            print(f"{name}: ERROR {type(exc).__name__}: {exc}"[:300])
            continue
        print(name, *(f.format(run.layers[k]) for _, k, f in COLUMNS),
              len(run.rows), flush=True)
        census["keys"] += 1
        census["build_jobs"] += run.layers["plans.build_jobs"]
        census["building_keys"] += run.layers["plans.build_jobs"] > 0
    print(f"census: {census['build_jobs']} build jobs on "
          f"{census['building_keys']} of {census['keys']} keys")
    spark.stop()


if __name__ == "__main__":
    main()
