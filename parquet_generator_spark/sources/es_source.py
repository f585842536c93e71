"""Elasticsearch source: slice-parallel scroll reads into a DataFrame.

Reference parity: EsParquetWriter.java:62-98 scroll-reads one index
per thread (5-10 driver-side threads, 10k docs per batch) and funnels
every document through a single-process writer. Spark-first redesign:
ES's *sliced scroll* API shards a scroll server-side into N disjoint
slices; we map each slice to one Spark partition via ``mapInPandas``,
so a 1000-executor cluster holds 1000 concurrent scroll cursors and
the driver never touches a document. Decoding is the lenient
``from_json`` path (missing field -> null), the Spark-native
equivalent of decode/ExtendedJsonDecoder.java.

Production hardening beyond the reference (which retries nothing and
never clears its cursors):
- transient failures (HTTP 5xx, connection errors, timeouts) retry
  with exponential backoff, bounded by ``max_retries``; 4xx client
  errors raise immediately;
- each slice DELETEs its scroll context when it finishes, releasing
  the server-side search context instead of waiting out the TTL;
- an opt-in point-in-time path (``use_pit``, ES >= 7.10) replaces
  the deprecated sliced scroll: one PIT is opened driver-side so all
  slices read the same snapshot, executors page it with
  ``search_after`` keyset pagination, and ``close_pit`` releases it.

Network I/O uses only stdlib urllib (no extra deps); the test
environment has no ES, so tests exercise ``read_json_fixture`` plus
a canned-wire-protocol HTTP server (tests/test_es_contract.py).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from parquet_generator_spark.schema.infer import lenient_decode, promote_nullable


@dataclass
class EsSourceConfig:
    host: str
    port: int = 9200
    index: str = "*"
    doc_type: str | None = None          # pre-7.x _type, like the reference
    query: dict = field(default_factory=lambda: {"match_all": {}})
    batch_size: int = 10_000             # reference uses size=10000
    n_slices: int = 32                   # parallel scroll cursors
    scroll_ttl: str = "3m"               # reference uses 3m
    scheme: str = "http"
    timeout_s: int = 180
    max_retries: int = 3                 # extra attempts on 5xx/network
    retry_backoff_s: float = 0.5         # doubles per attempt
    use_pit: bool = False                # ES >= 7.10 point-in-time read

    @property
    def base_url(self) -> str:
        return f"{self.scheme}://{self.host}:{self.port}"


def _request(cfg: EsSourceConfig, url: str, payload: dict,
             method: str = "POST") -> dict:
    """One JSON request with bounded retry: HTTP 5xx and network-level
    failures (refused, reset, timeout) back off and retry up to
    ``cfg.max_retries`` times; 4xx raises immediately (retrying a
    malformed request can't help)."""
    import time as _time
    import urllib.error
    import urllib.request

    attempt = 0
    while True:
        try:
            req = urllib.request.Request(
                url, data=json.dumps(payload).encode(),
                headers={"Content-Type": "application/json"},
                method=method)
            with urllib.request.urlopen(req, timeout=cfg.timeout_s) as resp:
                return json.loads(resp.read())
        except urllib.error.HTTPError as e:
            if e.code < 500 or attempt >= cfg.max_retries:
                raise
        except (urllib.error.URLError, TimeoutError, OSError):
            if attempt >= cfg.max_retries:
                raise
        _time.sleep(cfg.retry_backoff_s * (2 ** attempt))
        attempt += 1


def _scroll_slice(cfg: EsSourceConfig, slice_id: int):
    """Generator of _source JSON strings for one scroll slice.
    Runs inside an executor task; clears its scroll context when the
    slice is exhausted (best-effort — the TTL reaps it otherwise)."""
    path = f"/{cfg.index}"
    if cfg.doc_type:
        path += f"/{cfg.doc_type}"
    body = {
        "query": cfg.query,
        "size": cfg.batch_size,
        "slice": {"id": slice_id, "max": cfg.n_slices},
    }
    resp = _request(cfg, f"{cfg.base_url}{path}/_search"
                    f"?scroll={cfg.scroll_ttl}", body)
    scroll_id = resp.get("_scroll_id")
    try:
        while True:
            hits = resp.get("hits", {}).get("hits", [])
            if not hits:
                break
            for h in hits:
                yield json.dumps(h["_source"])
            resp = _request(cfg, f"{cfg.base_url}/_search/scroll",
                            {"scroll": cfg.scroll_ttl,
                             "scroll_id": scroll_id})
            scroll_id = resp.get("_scroll_id", scroll_id)
    finally:
        if scroll_id:
            try:
                _request(cfg, f"{cfg.base_url}/_search/scroll",
                         {"scroll_id": [scroll_id]}, method="DELETE")
            except Exception:
                pass  # TTL expiry is the fallback


def open_pit(cfg: EsSourceConfig) -> str:
    """Open one point-in-time on the driver (ES >= 7.10) so every
    slice reads the same snapshot. Caller owns the id: pass the same
    cfg to close_pit after the read materializes (the keep_alive TTL
    reaps it otherwise)."""
    resp = _request(cfg, f"{cfg.base_url}/{cfg.index}/_pit"
                    f"?keep_alive={cfg.scroll_ttl}", {})
    return resp["id"]


def close_pit(cfg: EsSourceConfig, pit_id: str) -> None:
    try:
        _request(cfg, f"{cfg.base_url}/_pit", {"id": pit_id},
                 method="DELETE")
    except Exception:
        pass  # best-effort, TTL is the fallback


def _pit_slice(cfg: EsSourceConfig, pit_id: str, slice_id: int):
    """Generator of _source JSON strings for one PIT slice:
    search_after keyset pagination over the _shard_doc tiebreaker —
    the ES-recommended replacement for the (deprecated) sliced
    scroll. Each page refreshes the PIT keep_alive; the PIT itself
    is shared (snapshot consistency) and closed by the caller."""
    search_after = None
    while True:
        body = {
            "size": cfg.batch_size,
            "query": cfg.query,
            "pit": {"id": pit_id, "keep_alive": cfg.scroll_ttl},
            "sort": [{"_shard_doc": "asc"}],
            "slice": {"id": slice_id, "max": cfg.n_slices},
        }
        if search_after is not None:
            body["search_after"] = search_after
        resp = _request(cfg, f"{cfg.base_url}/_search", body)
        hits = resp.get("hits", {}).get("hits", [])
        if not hits:
            break
        for h in hits:
            yield json.dumps(h["_source"])
        search_after = hits[-1]["sort"]
        pit_id = resp.get("pit_id", pit_id)


def read_elasticsearch(spark: SparkSession, cfg: EsSourceConfig,
                       schema: T.StructType) -> DataFrame:
    """Distributed sliced read -> DataFrame with ``schema``.

    One Spark partition per slice; each partition pulls its slice
    independently and decodes leniently against ``schema``. With
    ``cfg.use_pit`` a single PIT is opened here (driver-side) and
    shared by all slices; call ``close_pit`` with the returned
    DataFrame's ``_pit_id`` attribute once it has been materialized.
    """
    schema = promote_nullable(schema)
    slices = spark.range(cfg.n_slices).repartition(cfg.n_slices, "id")
    pit_id = open_pit(cfg) if cfg.use_pit else None

    def pull(batches):
        import pandas as pd
        for pdf in batches:
            for slice_id in pdf["id"]:
                if pit_id is not None:
                    docs = list(_pit_slice(cfg, pit_id, int(slice_id)))
                else:
                    docs = list(_scroll_slice(cfg, int(slice_id)))
                if docs:
                    yield pd.DataFrame({"doc": docs})

    raw = slices.mapInPandas(
        pull, schema=T.StructType([T.StructField("doc", T.StringType())]))
    out = decode_docs(raw, "doc", schema)
    out._pit_id = pit_id  # caller closes after materializing
    return out


def decode_docs(df: DataFrame, column: str,
                schema: T.StructType) -> DataFrame:
    """Lenient JSON decode of a document column to top-level fields.
    The frame's other columns pass through ahead of the fields; on a
    name clash the passthrough column wins (it is the caller's, e.g.
    a partition key) and the document's field is not decoded."""
    keep = [c for c in df.columns if c != column]
    # Spark resolves names case-insensitively, so a clash is too
    taken = {c.lower() for c in keep}
    schema = T.StructType([f for f in schema.fields
                           if f.name.lower() not in taken])
    return (df.withColumn("_rec", lenient_decode(F.col(column), schema))
              .select(*keep, "_rec.*"))


def read_json_fixture(spark: SparkSession, path: str,
                      schema: T.StructType) -> DataFrame:
    """File-backed stand-in for an ES index (one JSON doc per line):
    same decode path as read_elasticsearch, minus the network."""
    raw = spark.read.text(path).withColumnRenamed("value", "doc")
    return decode_docs(raw, "doc", promote_nullable(schema))
