"""Expected query results from the program's DuckDB oracles.

Results are compared the way the repository's verify scripts compare
them: columns sorted by name, rows order-insensitive, floats at
``%.6g``. Expected results are computed once per (table set, oracle
text) and cached as digests, so no oracle runs inside a timed region
or inside set-up.
"""

from __future__ import annotations

import hashlib
import json
import math
import os

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _norm(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.6g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def digest(columns: list[str], rows) -> str:
    """Order-insensitive digest of a result set."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(tuple(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256(json.dumps([sorted(columns), canon]).encode())
    return h.hexdigest()


def expected_digests(cache_dir: str, data_dir: str, data_stamp: str,
                     oracles: dict[str, str]) -> dict[str, str]:
    """``{key: digest}`` of every oracle over the tables in
    ``data_dir``, read from ``cache_dir`` when already computed."""
    h = hashlib.sha256(data_stamp.encode())
    for k in sorted(oracles):
        h.update(k.encode() + b"\0" + oracles[k].encode() + b"\0")
    path = os.path.join(cache_dir, f"expected-{h.hexdigest()[:16]}.json")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)

    import duckdb

    con = duckdb.connect(config={"threads": 4})
    for t in TABLES:
        src = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    out = {}
    for k in sorted(oracles):
        cur = con.execute(oracles[k])
        out[k] = digest([d[0] for d in cur.description], cur.fetchall())
    con.close()
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "w") as fh:
        json.dump(out, fh)
    os.replace(path + ".tmp", path)
    return out
