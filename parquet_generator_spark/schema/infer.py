"""JSON schema inference, merging/widening, nullable promotion.

Reference parity: Bootstrap.java:288-306 samples one JSON doc per
index, infers an Avro schema per doc (kitesdk JsonUtil.inferSchema)
and keeps the *widest* (most fields). We do strictly better,
Spark-first: ``spark.read.json`` performs distributed inference over
ALL sampled docs and merges field-wise, so a field that appears in
doc A but not doc B still lands in the schema (widest-wins loses
disjoint fields). ``promote_nullable`` mirrors
Bootstrap.java:221-232 ``enableDefaultValue`` (every field becomes a
``["null", T]`` union with null default in the Avro view).

``sample_ratio`` bounds how many documents inference PARSES, not how
many it reads: ``DataFrame.sample`` is a Bernoulli filter over a full
scan of the input (no shuffle), so inference is a whole extra pass
over the documents. The schema is then applied with ``from_json``
(lenient decode: missing fields -> null, extra fields dropped), one
more pass with no per-row Python, so an export reads its input twice
(each export of the traced ``etl_export`` benchmark pass reads
48.0 MB of its 24.0 MB input).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _read_json(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """``spark.read.json`` over a one-string-column frame, handed to
    the JVM reader as a ``Dataset[String]``: the documents never pass
    through a Python worker (the ``_jdf`` route of operators/cache.py)."""
    jvm = spark.sparkContext._jvm
    strings = getattr(docs._jdf, "as")(jvm.org.apache.spark.sql.Encoders.STRING())
    reader = spark.read
    return reader._df(reader._jreader.json(strings))


def infer_json_schema(
    spark: SparkSession,
    json_docs: DataFrame | list[str],
    column: str = "value",
    sample_ratio: float = 1.0,
    mode: str = "merge",
) -> T.StructType:
    """Infer a StructType from a column of JSON documents.

    ``mode="merge"`` (default): distributed, merge-across-docs
    inference — a field present in ANY sampled doc lands in the
    schema. Strictly better than the reference for real data.

    ``mode="widest"``: exact parity with Bootstrap.java:296-303 —
    each doc is inferred ALONE and the single schema with the most
    top-level fields wins; on a tie the LATER doc wins (the
    reference keeps ``another`` when sizes are equal). Fields that
    only appear in a narrower doc are LOST, exactly as kitesdk
    widest-wins loses them. Only sensible for a bounded sample (the
    reference samples one doc per index), so the doc list is
    collected; use merge mode for anything data-scale.
    """
    if isinstance(json_docs, list):
        docs_df = spark.createDataFrame(
            [(d,) for d in json_docs], T.StructType(
                [T.StructField(column, T.StringType())]))
    else:
        docs_df = json_docs
    # keyword fraction: PySpark reads a positional fraction's seed from
    # the second argument and would silently drop seed=42
    sampled = (docs_df if sample_ratio >= 1.0
               else docs_df.sample(fraction=sample_ratio, seed=42))
    if mode == "widest":
        docs = [r[0] for r in
                sampled.select(F.col(column).cast("string")).collect()]
        widest: T.StructType | None = None
        for doc in docs:
            one = _read_json(
                spark, spark.createDataFrame([(doc,)], "value string"))
            schema = T.StructType(
                [f for f in one.schema.fields
                 if not f.name.startswith("_corrupt")])
            # reference tie-break: keep the OLD schema only when it
            # is strictly wider (Bootstrap.java:302 uses '>')
            if widest is None or not (
                    len(widest.fields) > len(schema.fields)):
                widest = schema
        return promote_nullable(widest or T.StructType([]))
    if mode != "merge":
        raise ValueError(f"unknown inference mode {mode!r}")
    inferred = _read_json(spark, sampled.select(F.col(column).cast("string")))
    schema = T.StructType(
        [f for f in inferred.schema.fields if not f.name.startswith("_corrupt")])
    return promote_nullable(schema)


_WIDEN_ORDER = {
    "byte": 0, "short": 1, "integer": 2, "long": 3,
    "float": 4, "double": 5, "decimal": 5,
}


def merge_schemas(a: T.DataType, b: T.DataType) -> T.DataType:
    """Recursively merge two types, widening numerics and falling
    back to string on conflict (the lenient-ETL resolution: never
    fail schema merge mid-pipeline)."""
    if a == b:
        return a
    if isinstance(a, T.NullType):
        return b
    if isinstance(b, T.NullType):
        return a
    if isinstance(a, T.StructType) and isinstance(b, T.StructType):
        names = list(dict.fromkeys([f.name for f in a.fields]
                                   + [f.name for f in b.fields]))
        af = {f.name: f for f in a.fields}
        bf = {f.name: f for f in b.fields}
        fields = []
        for n in names:
            if n in af and n in bf:
                fields.append(T.StructField(
                    n, merge_schemas(af[n].dataType, bf[n].dataType), True))
            else:
                fields.append(T.StructField(
                    n, (af.get(n) or bf.get(n)).dataType, True))
        return T.StructType(fields)
    if isinstance(a, T.ArrayType) and isinstance(b, T.ArrayType):
        return T.ArrayType(merge_schemas(a.elementType, b.elementType), True)
    an, bn = a.typeName(), b.typeName()
    if an in _WIDEN_ORDER and bn in _WIDEN_ORDER:
        return a if _WIDEN_ORDER[an] >= _WIDEN_ORDER[bn] else b
    return T.StringType()


def promote_nullable(dt: T.DataType) -> T.DataType:
    """Make every field/element nullable, recursively — the StructType
    face of the reference's ``enableDefaultValue``."""
    if isinstance(dt, T.StructType):
        return T.StructType([
            T.StructField(f.name, promote_nullable(f.dataType), True,
                          f.metadata)
            for f in dt.fields])
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(promote_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(dt.keyType, promote_nullable(dt.valueType), True)
    return dt


def lenient_decode(col: Column, schema: T.StructType) -> Column:
    """Decode a JSON string column against ``schema`` leniently:
    missing fields -> null, type mismatches -> null (PERMISSIVE,
    from_json's default), extra fields dropped. The Spark-native
    ExtendedJsonDecoder (decode/ExtendedJsonDecoder.java): one
    JVM-side expression, no Python in the loop. No options are
    passed: Catalyst prunes a from_json schema to the fields read
    downstream only when the expression has none."""
    return F.from_json(col, schema)
