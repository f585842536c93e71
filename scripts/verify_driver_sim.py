"""Driver simulation: run queries on a plain SparkSession and compare
each against its DuckDB oracle (typed parity included).

    python scripts/verify_driver_sim.py             # entry + every key
    python scripts/verify_driver_sim.py KEY [KEY..] # just these keys

The tables directory defaults to sf0.01; set VERIFY_SF to override.
"""
import math
import os
import sys
import time

import duckdb
from pyspark.sql import SparkSession

SF = "/root/testdata/sf0.01"
SF = os.environ.get("VERIFY_SF", SF)
TABLES = ("region nation customer supplier part orders lineitem "
          "events documents embeddings").split()

spark = (SparkSession.builder.master("local[8]")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

_SCRIPTS = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(_SCRIPTS))
sys.path.insert(0, _SCRIPTS)
import __spark_entry__ as em  # noqa: E402
from parquet_generator_spark.operators import cache  # noqa: E402
from _simtypes import (  # noqa: E402
    oracle_type_problems, type_class_mismatches)


def norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.6g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm(r[i]) for i in order) for r in rows)


keys = sys.argv[1:]
if not keys:
    df = em.entry(spark)
    rows = df.collect()
    assert len(rows) > 0, "entry returned 0 rows"
    print(f"entry: OK {len(rows)} rows, schema={df.columns}")

con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{SF}/{t}.parquet')")

Q, O = em.queries(), em.oracle_sql()
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
        sdf = Q[name](spark, SF)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
        if name not in O:
            print(f"{name}: rows-only OK ({len(srows)} rows, "
                  f"{time.time() - t0:.1f}s)")
            cache.release_all(spark)
            continue
        cur = con.execute(O[name])
        dcols = [d[0] for d in cur.description]
        drows = cur.fetchall()
        ok_cols = sorted(scols) == sorted(dcols)
        ok_n = len(srows) == len(drows)
        ok_v = (ok_cols and ok_n
                and canon(srows, scols) == canon(drows, dcols))
        # typed-parity layer: the driver's hash is typed, the string
        # canon above is not (round-9 HUGEINT blind spot)
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
        cache.release_all(spark)
    except Exception as e:
        cache.release_all(spark)
        fails.append(name)
        print(f"{name}: ERROR {type(e).__name__}: {e}")
print("FAILS:", fails if fails else "none")
sys.exit(1 if fails else 0)
