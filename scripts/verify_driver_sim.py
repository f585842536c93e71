"""Driver simulation: run queries on a plain SparkSession and compare
each against its DuckDB oracle (typed parity included).

    python scripts/verify_driver_sim.py             # entry + every key
    python scripts/verify_driver_sim.py KEY [KEY..] # just these keys

The tables directory defaults to sf0.01; set VERIFY_SF to override.
The first line names the registry: its key count, the sha256 of the
sorted key list and the sha256 of the oracle texts (both as JSON).
The session is deliberately not the package's ``get_spark``: the driver
brings its own, so this catches a hidden dependence on our conf.
"""
import hashlib
import json
import os
import sys
import time

from pyspark.sql import SparkSession

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as em  # noqa: E402
from scripts.keyrun import (  # noqa: E402
    KeyRunner, canon, duck_views, oracle_type_problems,
    type_class_mismatches)

SF = os.environ.get("VERIFY_SF", "/root/testdata/sf0.01")


def registry_line(queries, oracles) -> str:
    def sha(obj) -> str:
        return hashlib.sha256(
            json.dumps(obj, sort_keys=True).encode()).hexdigest()
    return (f"registry: {len(queries)} keys, key set sha256 "
            f"{sha(sorted(queries))}, oracle text sha256 {sha(oracles)}")


def main() -> int:
    Q, O = em.queries(), em.oracle_sql()
    print(registry_line(Q, O), flush=True)
    spark = (SparkSession.builder.master("local[8]")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    keys = sys.argv[1:]
    if not keys:
        df = em.entry(spark)
        rows = df.collect()
        if not rows:
            raise SystemExit("entry returned 0 rows")
        print(f"entry: OK {len(rows)} rows, schema={df.columns}")

    con = duck_views(SF)
    runner = KeyRunner(spark)
    fails = []
    for name in keys or sorted(Q):
        t0 = time.time()
        if name not in Q:
            print(f"{name}: not a queries() entry — non-query components "
                  f"(streaming helpers, sinks) are verified by pytest, "
                  f"not the oracle sim; known keys are in "
                  f"__spark_entry__.queries()")
            continue
        try:
            run = runner.run_key(name, Q[name], SF)
            scols, srows = run.columns, run.rows
            cur = con.execute(O[name])
            dcols = [d[0] for d in cur.description]
            drows = cur.fetchall()
            ok_cols = sorted(scols) == sorted(dcols)
            ok_n = len(srows) == len(drows)
            ok_v = (ok_cols and ok_n
                    and canon(srows, scols) == canon(drows, dcols))
            # typed-parity layer: the driver's hash is typed, the
            # string canon above is not
            tbad = oracle_type_problems(con, O[name])
            cbad = (type_class_mismatches(srows, scols, drows, dcols)
                    if ok_cols else [])
            if tbad or cbad:
                fails.append(name)
                print(f"{name}: TYPE-FAIL duck_types={tbad} "
                      f"classes={cbad}")
            elif ok_v:
                print(f"{name}: MATCH ({len(srows)} rows, "
                      f"{time.time() - t0:.1f}s)")
            else:
                fails.append(name)
                print(f"{name}: MISMATCH cols_ok={ok_cols} "
                      f"n spark={len(srows)} duck={len(drows)}")
                if not ok_cols:
                    print(f"  spark cols={sorted(scols)}\n"
                          f"  duck cols={sorted(dcols)}")
                elif ok_n:
                    a, b = canon(srows, scols), canon(drows, dcols)
                    diffs = [(x, y) for x, y in zip(a, b) if x != y][:5]
                    for x, y in diffs:
                        print(f"  spark={x}\n  duck ={y}")
        except Exception as e:
            fails.append(name)
            print(f"{name}: ERROR {type(e).__name__}: {e}")
    print("FAILS:", fails if fails else "none")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
