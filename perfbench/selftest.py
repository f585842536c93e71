"""Self-tests of the benchmark itself: deterministic inputs, metric
names that match BENCHMARK.json, and key lists the program serves.

Usage, from the root of a checkout: python3 perfbench/selftest.py
Needs no Spark session; exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import docs  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def check_docs_deterministic() -> None:
    a_lines, a_exp = docs.generate(7, 2000)
    b_lines, b_exp = docs.generate(7, 2000)
    assert "\n".join(a_lines).encode() == "\n".join(b_lines).encode(), \
        "same seed gave different JSON lines"
    assert a_exp == b_exp, "same seed gave different expected counts"
    c_lines, _ = docs.generate(8, 2000)
    assert c_lines != a_lines, "different seeds gave the same documents"
    for line in a_lines[:200]:
        doc = json.loads(line)
        assert "source_date" in doc and "rule_name" in doc
    assert sum(a_exp["bytes"].values()) == \
        sum(len(x) + 1 for x in a_lines)
    assert sum(c for _, c in a_exp["ranked"]) == 2000


def check_tables_present() -> None:
    """The reference tables every oracle reads are in the benchmark's
    directory."""
    from oracle import TABLES

    for name in TABLES:
        path = os.path.join(run.DATA_DIR, f"{name}.parquet")
        assert os.path.isfile(path), f"missing {path}"


def check_metric_names(root: str) -> None:
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    declared_e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    declared_layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert declared_e2e == run.END_TO_END, "end_to_end differs from run.py"
    assert declared_layer == run.PER_LAYER, "per_layer differs from run.py"
    gated = [w["name"] for w in bench["workloads"]]
    assert gated == list(run.WORKLOADS[:len(gated)]), gated
    for name in [*declared_e2e, *declared_layer]:
        assert NAME.fullmatch(name), f"bad metric name {name!r}"


def check_keys_exist(root: str) -> None:
    sys.path.insert(0, root)
    import __spark_entry__ as entry

    queries, oracles = entry.queries(), entry.oracle_sql()
    for keys in (workloads.QUERY_KEYS, workloads.CURATION_KEYS):
        assert len(set(keys)) == len(keys), "duplicate key"
        for k in keys:
            assert k in queries, f"{k} is not in queries()"
            assert k in oracles, f"{k} has no oracle_sql() entry"


def check_tail() -> None:
    assert run.tail([float(i) for i in range(19)]) == (18.0, 100.0)
    value, pct = run.tail([float(i) for i in range(100)])
    assert value == 89.0 and pct == 90.0, (value, pct)


def main() -> int:
    root = os.getcwd()
    checks = [check_docs_deterministic, check_tables_present,
              lambda: check_metric_names(root),
              lambda: check_keys_exist(root), check_tail]
    for check in checks:
        check()
    print(f"perfbench selftest: {len(checks)} checks passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
