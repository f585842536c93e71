"""Interleaved ABAB timing of a query key: HEAD's version of the plan
module that defines it vs the working tree's. The box swings well
beyond 10% between sessions, so only same-session interleaved medians
are trusted for per-key claims (optimization-round protocol).

Usage: python scripts/ab_compare.py <key> [runs]
e.g.   python scripts/ab_compare.py gopher_repetition 4
"""
from __future__ import annotations

import ast
import importlib.util
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from parquet_generator_spark.session import get_spark  # noqa: E402
from scripts.keyrun import KeyRunner, median_run  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402

PLANS = "parquet_generator_spark/plans"


def _defines(src: str, key: str) -> bool:
    """Whether a module's source registers ``key`` as a dict-literal
    key (``QUERIES = {...}``, ``QUERIES.update({...})``) or by a
    subscript assignment (``QUERIES[key] = ...``)."""
    for node in ast.walk(ast.parse(src)):
        keys = node.keys if isinstance(node, ast.Dict) else [
            t.slice for t in getattr(node, "targets", [])
            if isinstance(t, ast.Subscript)]
        if any(isinstance(k, ast.Constant) and k.value == key
               for k in keys):
            return True
    return False


def head_module(key: str, owner: str):
    """HEAD's ``plans/*.py`` file whose ``QUERIES`` defines ``key``,
    loaded as a standalone module. A key registered by a computed
    expression (a comprehension) is looked up in the file named like
    its working-tree ``owner``."""
    def git(*args: str) -> str:
        return subprocess.check_output(["git", "-C", ROOT, *args],
                                       text=True)

    paths = [p for p in git("ls-tree", "--name-only",
                            f"HEAD:{PLANS}/").split() if p.endswith(".py")]
    srcs = {p: git("show", f"HEAD:{PLANS}/{p}") for p in paths}
    found = [p for p, src in srcs.items() if _defines(src, key)]
    fallback = owner.rsplit(".", 1)[1] + ".py"
    for path in found or [p for p in paths if p == fallback]:
        old_path = f"/tmp/_ab_old_{path}"
        with open(old_path, "w") as fh:
            fh.write(srcs[path])
        spec = importlib.util.spec_from_file_location(
            f"_ab_old_{path[:-3]}", old_path)
        old = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(old)
        return old
    sys.exit(f"no plans module at HEAD defines {key!r}")


def main() -> None:
    key = sys.argv[1]
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    owner = entrymod._registry()[2][key]
    old = head_module(key, owner)
    new = importlib.import_module(owner)

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
