"""Minimal snapshot/table-format layer: versioned manifests over
immutable parquet data files — the audit/rollback story a 100-TB
production pipeline gets from Delta/Iceberg, in its smallest honest
form (VERDICT r8 "What's missing" #3).

Layout (all under the table root):

    data/<uuid>-<n>.parquet      immutable data files, never rewritten
    _manifests/v000001.json      one manifest per committed version:
                                 {version, parent, files[{path, rows,
                                 bytes}], schema, operation}
    _manifests/CURRENT           pointer file, atomically replaced

Semantics:
- A table version IS its manifest's file list: readers never list
  the data directory (at 100 TB, object-store listing is both slow
  and eventually-consistent; manifest reads are one small file).
- Commits are OPTIMISTIC: a commit records the parent version it
  read; the manifest file is created with O_EXCL, so two writers
  racing from the same parent collide on the same manifest name and
  the loser gets ``ConcurrentWriteError`` — the Delta/Iceberg
  protocol's conflict rule, minus the retry machinery.
- Time travel: ``read_snapshot(spark, path, version=N)`` reads
  exactly version N's files, forever (files are immutable, and no
  commit deletes one).

The reference's loop deletes and rewrites its output file per pull
(EsParquetWriter.java:52-56) — restart-from-scratch semantics. This
layer is the other end of that spectrum: every pull would be one
atomic, auditable, time-travelable commit.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


class ConcurrentWriteError(RuntimeError):
    """Another writer committed the same parent version first."""


def _manifest_dir(path: str) -> str:
    return os.path.join(path, "_manifests")


def _manifest_path(path: str, version: int) -> str:
    return os.path.join(_manifest_dir(path), f"v{version:06d}.json")


def current_version(path: str) -> int:
    cur = os.path.join(_manifest_dir(path), "CURRENT")
    with open(cur) as fh:
        return int(fh.read().strip())


def read_manifest(path: str, version: int | None = None) -> dict:
    v = current_version(path) if version is None else version
    mp = _manifest_path(path, v)
    if not os.path.exists(mp):
        raise FileNotFoundError(
            f"no manifest for version {v} at {mp} (history: "
            f"{sorted(os.listdir(_manifest_dir(path)))})")
    with open(mp) as fh:
        return json.load(fh)


def _write_data_files(df: DataFrame, path: str,
                      stat_cols: list[str] | None) -> list[dict]:
    """Write df as new immutable files under data/ and return their
    manifest entries (path, rows, bytes, optional per-file min/max
    of ``stat_cols`` read from the parquet footer — no data scan)."""
    import pyarrow.parquet as pq

    staging = os.path.join(path, f"_staging_{uuid.uuid4().hex}")
    df.write.mode("overwrite").parquet(staging)
    data_dir = os.path.join(path, "data")
    os.makedirs(data_dir, exist_ok=True)
    entries = []
    for i, part in enumerate(sorted(glob.glob(f"{staging}/part-*.parquet"))):
        name = f"{uuid.uuid4().hex}-{i}.parquet"
        dst = os.path.join(data_dir, name)
        shutil.move(part, dst)
        md = pq.ParquetFile(dst).metadata
        entry = {"path": f"data/{name}", "rows": md.num_rows,
                 "bytes": os.path.getsize(dst)}
        if stat_cols:
            stats: dict = {}
            schema_names = md.schema.names
            for c in stat_cols:
                if c not in schema_names:
                    continue
                ci = schema_names.index(c)
                mins, maxs = [], []
                for rg in range(md.num_row_groups):
                    s = md.row_group(rg).column(ci).statistics
                    if s is None or not s.has_min_max:
                        mins, maxs = [], []
                        break
                    mins.append(s.min)
                    maxs.append(s.max)
                if mins:
                    stats[c] = [min(mins), max(maxs)]
            json_stats = {}
            for k, v in stats.items():
                try:
                    json_stats[k] = [_plain(v[0]), _plain(v[1])]
                except UnicodeDecodeError:
                    # non-UTF8 bytes don't JSON-roundtrip losslessly,
                    # and a lossy min/max would misstate the file's
                    # key range: record no bound rather than a wrong one
                    continue
            entry["stats"] = json_stats
        entries.append(entry)
    shutil.rmtree(staging)
    return entries


def _plain(v):
    if isinstance(v, bytes):
        # strict: raising on non-UTF8 makes the caller drop the
        # stats entry instead of recording a lossy U+FFFD bound
        return v.decode("utf-8")
    if hasattr(v, "item"):
        return v.item()
    return v


def _commit(path: str, parent: int | None, files: list[dict],
            schema_json: str, operation: str) -> int:
    """Atomically publish the next manifest. O_EXCL on the manifest
    file is the optimistic-concurrency gate: two writers from the
    same parent race to the same version number; the loser raises."""
    version = (parent or 0) + 1
    os.makedirs(_manifest_dir(path), exist_ok=True)
    manifest = {"version": version, "parent": parent,
                "operation": operation, "files": files,
                "schema": schema_json,
                "total_rows": sum(f["rows"] for f in files)}
    mp = _manifest_path(path, version)
    try:
        fd = os.open(mp, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        raise ConcurrentWriteError(
            f"version {version} already committed by another writer "
            f"(parent {parent} is stale — re-read and retry)") from None
    with os.fdopen(fd, "w") as fh:
        json.dump(manifest, fh, indent=1)
    cur = os.path.join(_manifest_dir(path), "CURRENT")
    tmp = cur + f".tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        fh.write(str(version))
    os.replace(tmp, cur)
    return version


def create_table(spark: SparkSession, path: str, df: DataFrame,
                 stat_cols: list[str] | None = None) -> int:
    """Initial commit (version 1)."""
    if os.path.exists(_manifest_dir(path)):
        raise FileExistsError(f"table already exists at {path}")
    files = _write_data_files(df, path, stat_cols)
    return _commit(path, None, files, df.schema.json(), "create")


def commit_append(spark: SparkSession, path: str, df: DataFrame,
                  expected_version: int | None = None,
                  stat_cols: list[str] | None = None) -> int:
    """Append-only commit: parent's files + the new ones."""
    parent = read_manifest(path, expected_version)
    files = _write_data_files(df, path, stat_cols)
    return _commit(path, parent["version"],
                   parent["files"] + files, df.schema.json(), "append")


def commit_overwrite(spark: SparkSession, path: str, df: DataFrame,
                     expected_version: int | None = None,
                     stat_cols: list[str] | None = None) -> int:
    """Full-replace commit; old versions stay readable (time travel)."""
    parent = read_manifest(path, expected_version)
    files = _write_data_files(df, path, stat_cols)
    return _commit(path, parent["version"], files, df.schema.json(),
                   "overwrite")


def read_snapshot(spark: SparkSession, path: str,
                  version: int | None = None) -> DataFrame:
    """Read exactly one version's file list (never a directory
    listing). An empty version reads as an empty frame with the
    manifest's schema."""
    m = read_manifest(path, version)
    paths = [os.path.join(path, f["path"]) for f in m["files"]]
    schema = T.StructType.fromJson(json.loads(m["schema"]))
    if not paths:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(*paths)


def history(path: str) -> list[dict]:
    """All committed versions, oldest first: version, operation,
    file count, total rows."""
    out = []
    for mp in sorted(glob.glob(os.path.join(_manifest_dir(path),
                                            "v*.json"))):
        with open(mp) as fh:
            m = json.load(fh)
        out.append({"version": m["version"],
                    "operation": m["operation"],
                    "n_files": len(m["files"]),
                    "total_rows": m["total_rows"]})
    return out
