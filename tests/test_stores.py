"""The persisted-store contract (sinks/stores.py): build once, reuse
while the sources and the package's code are unchanged, rebuild
otherwise, and never leave a valid marker behind a failed build. No
Spark: ``build`` is a fake that writes one file."""

from __future__ import annotations

import json
import os

import pytest

from parquet_generator_spark.sinks import stores


@pytest.fixture()
def sf_dir(tmp_path, monkeypatch):
    monkeypatch.setattr(stores, "_BASE", str(tmp_path / "stores"))
    d = tmp_path / "data" / "sf0.01"
    d.mkdir(parents=True)
    (d / "t.parquet").write_bytes(b"rows")
    return str(d)


def _counting_build():
    def build(root):
        build.calls += 1
        with open(os.path.join(root, "data"), "w") as fh:
            fh.write(str(build.calls))
    build.calls = 0
    return build


def test_first_call_builds_once_and_unchanged_source_reuses(sf_dir):
    build = _counting_build()
    root = stores.ensure("s", sf_dir, ["t.parquet"], build)
    assert build.calls == 1
    assert os.path.exists(os.path.join(root, "meta.json"))
    assert stores.ensure("s", sf_dir, ["t.parquet"], build) == root
    assert build.calls == 1


def test_touched_source_rebuilds(sf_dir):
    build = _counting_build()
    root = stores.ensure("s", sf_dir, ["t.parquet"], build)
    src = os.path.join(sf_dir, "t.parquet")
    st = os.stat(src)
    os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    stores.ensure("s", sf_dir, ["t.parquet"], build)
    assert build.calls == 2
    with open(os.path.join(root, "data")) as fh:
        assert fh.read() == "2"


def test_changed_code_rebuilds(sf_dir, monkeypatch):
    build = _counting_build()
    root = stores.ensure("s", sf_dir, ["t.parquet"], build)
    with open(os.path.join(root, "meta.json")) as fh:
        assert json.load(fh)["fingerprint"].endswith(stores.code_hash())
    stores.ensure("s", sf_dir, ["t.parquet"], build)
    # the same sources under an edited package
    monkeypatch.setattr(stores, "code_hash", lambda: "edited")
    stores.ensure("s", sf_dir, ["t.parquet"], build)
    assert build.calls == 2


def test_failed_build_leaves_no_marker_and_next_call_rebuilds(sf_dir):
    def broken(root):
        with open(os.path.join(root, "partial"), "w") as fh:
            fh.write("half")
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        stores.ensure("s", sf_dir, ["t.parquet"], broken)
    build = _counting_build()
    root = stores.ensure("s", sf_dir, ["t.parquet"], build)
    assert build.calls == 1
    # the rebuild started from an empty root
    assert sorted(os.listdir(root)) == ["data", "meta.json"]


def test_dirs_sharing_a_basename_get_different_roots(sf_dir, tmp_path):
    other = tmp_path / "elsewhere" / "sf0.01"
    other.mkdir(parents=True)
    (other / "t.parquet").write_bytes(b"rows")
    build = _counting_build()
    a = stores.ensure("s", sf_dir, ["t.parquet"], build)
    b = stores.ensure("s", str(other), ["t.parquet"], build)
    assert a != b
    assert os.path.basename(a).startswith("sf0.01-")
    assert os.path.basename(b).startswith("sf0.01-")
    # each keeps its own warm store
    stores.ensure("s", sf_dir, ["t.parquet"], build)
    assert build.calls == 2
