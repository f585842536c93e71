"""Testdata schema contract — drift tripwire.

Round 3 regressed 47 queries because events.ts silently changed
physical encoding between rounds (TIMESTAMP(NANOS) long ->
timestamp[us]) and nothing pointed at the cause. This suite pins the
*expected* physical schemas of the driver-generated tables with
pyarrow (no Spark startup, runs in milliseconds): if the generator
drifts again, exactly these tests fail, naming the table and column
— instead of half the query suite crashing three layers down.

Each column lists every physical encoding the repo's loaders and
queries are known to tolerate (e.g. int key widths, date vs
timestamp date columns, the three events.ts encodings). A failure
here means: update the loaders/queries AND this contract together.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01",
           "/root/testdata/sf0.1"]

STR = {"string", "large_string"}
IKEY = {"int32", "int64"}
DATE = {"date32[day]", "timestamp[us]", "timestamp[ns]"}

EXPECTED = {
    "region": {"r_regionkey": IKEY, "r_name": STR},
    "nation": {"n_nationkey": IKEY, "n_name": STR,
               "n_regionkey": IKEY},
    "customer": {"c_custkey": IKEY, "c_name": STR,
                 "c_nationkey": IKEY, "c_acctbal": {"double"},
                 "c_mktsegment": STR},
    "orders": {"o_orderkey": IKEY, "o_custkey": IKEY,
               "o_orderstatus": STR, "o_totalprice": {"double"},
               "o_orderdate": DATE, "o_orderpriority": STR},
    "lineitem": {"l_orderkey": IKEY, "l_partkey": IKEY,
                 "l_suppkey": IKEY, "l_linenumber": IKEY,
                 "l_quantity": {"double"},
                 "l_extendedprice": {"double"},
                 "l_discount": {"double"}, "l_tax": {"double"},
                 "l_returnflag": STR, "l_linestatus": STR,
                 "l_shipdate": DATE},
    "part": {"p_partkey": IKEY, "p_name": STR, "p_brand": STR,
             "p_type": STR, "p_size": IKEY,
             "p_retailprice": {"double"}},
    "supplier": {"s_suppkey": IKEY, "s_name": STR,
                 "s_nationkey": IKEY, "s_acctbal": {"double"}},
    "events": {"event_id": IKEY,
               # every encoding catalog.py tolerates: native us/ns
               # timestamps or the legacy nanos-as-long
               "ts": {"timestamp[us]", "timestamp[ns]", "int64"},
               "user_id": IKEY, "event_type": STR,
               "value": {"double"}, "props": STR},
    "documents": {"doc_id": IKEY, "text": STR, "lang": STR,
                  "source": STR, "n_chars": IKEY},
    "embeddings": {"vec_id": IKEY,
                   "embedding": {"list<item: float>",
                                 "list<element: float>"},
                   "label": IKEY},
}


@pytest.mark.parametrize("sf_dir", SF_DIRS)
@pytest.mark.parametrize("table", sorted(EXPECTED))
def test_table_schema_contract(sf_dir, table):
    schema = pq.read_schema(f"{sf_dir}/{table}.parquet")
    present = {f.name: str(f.type) for f in schema}
    for col, allowed in EXPECTED[table].items():
        assert col in present, (
            f"{table}.{col} MISSING at {sf_dir} — testdata generator "
            f"drifted; update loaders/queries AND this contract")
        assert present[col] in allowed, (
            f"{table}.{col} at {sf_dir} is {present[col]}, expected "
            f"one of {sorted(allowed)} — physical encoding drifted "
            f"(this is what broke round 3); check catalog.py loaders")


@pytest.mark.parametrize("sf_dir", SF_DIRS)
@pytest.mark.parametrize("table", sorted(EXPECTED))
def test_string_columns_are_ascii(sf_dir, table):
    """Every string value is pure ASCII. Spark's and DuckDB's lower()
    differ on some non-ASCII text (Greek final sigma, dotted capital I:
    tests/test_session.py pins the gap), so the oracle parity sweep
    can only vouch for lower() on ASCII; non-ASCII data arriving here
    means those keys need a look before their parity means anything."""
    path = f"{sf_dir}/{table}.parquet"
    cols = [f.name for f in pq.read_schema(path)
            if pa.types.is_string(f.type) or pa.types.is_large_string(f.type)]
    data = pq.read_table(path, columns=cols)
    non_ascii = {c: pc.sum(pc.invert(pc.string_is_ascii(data[c]))).as_py() or 0
                 for c in cols}
    assert not any(non_ascii.values()), (
        f"{table} at {sf_dir} has non-ASCII strings {non_ascii}: check "
        f"the lower()-using keys against the Spark/DuckDB lower() gap")
