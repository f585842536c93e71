"""Schema inference / merge / nullable-promotion / Avro I/O tests.

Parity fixtures: the reference repo's own output at
/root/reference/office365_signin (schema.asvc + per-day parquet),
read-only.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import types as T

from parquet_generator_spark.schema import (
    avro_to_struct,
    infer_json_schema,
    merge_schemas,
    promote_nullable,
    struct_to_avro,
)

REF_DIR = "/root/reference/office365_signin"


def test_union_shape_matches_reference_schema_test():
    # the reference's only unit test (SchemaTest.java): nullable union
    # serializes as ["null","string"]
    avsc = json.loads(struct_to_avro(
        T.StructType([T.StructField("f", T.StringType())]), "r"))
    assert avsc["fields"][0]["type"] == ["null", "string"]
    assert avsc["fields"][0]["default"] is None


def test_infer_merges_across_docs(spark):
    # doc A and doc B have disjoint fields; widest-doc-wins (the
    # reference heuristic) would drop one — merged inference keeps both
    docs = ['{"a": 1, "c": "x"}', '{"b": 2.5, "c": "y"}']
    schema = infer_json_schema(spark, docs)
    names = {f.name for f in schema.fields}
    assert names == {"a", "b", "c"}
    types = {f.name: f.dataType.typeName() for f in schema.fields}
    assert types["a"] == "long" and types["b"] == "double"


def test_infer_odd_docs_value_identity(spark):
    """Null, malformed, top-level-array and scalar-string docs infer
    the exact schema the JSON reader gives them (pinned values, in
    both modes): a top-level array contributes its elements' fields,
    the rest contribute nothing, and the corrupt-record column is
    dropped."""
    docs = [None, '{"a": 1, "b": {"c": "x"}}', '{bad json',
            '[{"d": 2.5}, {"e": true}]', '"just a string"',
            '{"a": "str", "f": [1, 2]}']
    merged = T.StructType([
        T.StructField("a", T.StringType()),
        T.StructField("b", T.StructType(
            [T.StructField("c", T.StringType())])),
        T.StructField("d", T.DoubleType()),
        T.StructField("e", T.BooleanType()),
        T.StructField("f", T.ArrayType(T.LongType())),
    ])
    assert infer_json_schema(spark, docs) == merged
    assert infer_json_schema(spark, docs, mode="widest") == T.StructType(
        [merged["a"], merged["f"]])
    for odd in (None, "{bad json", '{"g": 1, "h": ', '"just a string"'):
        for mode in ("merge", "widest"):
            assert infer_json_schema(spark, [odd], mode=mode) == \
                T.StructType([])


def test_inference_sample_honours_its_seed(spark):
    """A sampled inference sees the same documents on every run: 200
    documents with one distinct field each, inferred twice at
    ``sample_ratio=0.5``, give the fields of exactly the documents
    ``sample(fraction=0.5, seed=42)`` keeps."""
    docs = spark.createDataFrame(
        [(json.dumps({f"f{i:03d}": i}),) for i in range(200)],
        "value string")
    first, second = (
        [f.name for f in infer_json_schema(
            spark, docs, sample_ratio=0.5).fields] for _ in range(2))
    kept = sorted(next(iter(json.loads(r["value"])))
                  for r in docs.sample(fraction=0.5, seed=42).collect())
    assert first == second
    assert sorted(first) == kept


def test_merge_widen_and_conflict():
    a = T.StructType([T.StructField("x", T.IntegerType()),
                      T.StructField("y", T.StringType())])
    b = T.StructType([T.StructField("x", T.DoubleType()),
                      T.StructField("y", T.LongType()),
                      T.StructField("z", T.BooleanType())])
    m = merge_schemas(a, b)
    got = {f.name: f.dataType.typeName() for f in m.fields}
    assert got == {"x": "double", "y": "string", "z": "boolean"}


def test_promote_nullable_recursive():
    s = T.StructType([
        T.StructField("a", T.StructType(
            [T.StructField("b", T.LongType(), False)]), False),
        T.StructField("c", T.ArrayType(T.StringType(), False), False),
    ])
    p = promote_nullable(s)
    assert all(f.nullable for f in p.fields)
    assert p["a"].dataType["b"].nullable
    assert p["c"].dataType.containsNull


def test_avro_roundtrip():
    s = T.StructType([
        T.StructField("s", T.StringType()),
        T.StructField("i", T.IntegerType()),
        T.StructField("l", T.LongType()),
        T.StructField("d", T.DoubleType()),
        T.StructField("arr", T.ArrayType(T.LongType())),
        T.StructField("nested", T.StructType(
            [T.StructField("x", T.StringType())])),
    ])
    back = avro_to_struct(struct_to_avro(s, "roundtrip"))
    assert back == promote_nullable(s)


def test_reference_schema_asvc_parity():
    """Our avro reader parses the reference's real schema.asvc
    (the only non-empty fixture — the event_* parquet files are
    zero-byte stubs in this snapshot), and our writer reproduces its
    exact field/type/union/default inventory from the parsed
    StructType."""
    with open(f"{REF_DIR}/schema.asvc") as fh:
        avsc = fh.read()
    ref = json.loads(avsc)
    struct = avro_to_struct(avsc)
    assert len(struct.fields) == len(ref["fields"]) > 20

    regen = json.loads(struct_to_avro(struct, ref["name"]))
    ref_fields = {f["name"]: (f["type"], f.get("default"))
                  for f in ref["fields"]}
    regen_fields = {f["name"]: (f["type"], f.get("default"))
                    for f in regen["fields"]}
    assert regen_fields == ref_fields
    assert regen["name"] == ref["name"]


def test_lenient_decode_handles_every_malformation(spark):
    from pyspark.sql import functions as F

    from parquet_generator_spark.schema.infer import lenient_decode

    schema = T.StructType([
        T.StructField("name", T.StringType()),
        T.StructField("sev", T.LongType()),
    ])
    rows = [
        ('{"name": "ok", "sev": 3}',),        # well-formed
        ('{"name": "missing-sev"}',),         # missing field -> null
        ('{"name": "bad-type", "sev": "x"}',),  # type mismatch -> null
        ('{"name": "extra", "sev": 1, "junk": true}',),  # extra dropped
        ('{not json at all',),                # malformed -> null struct
        ('{"name": "cut", "sev": 4',),        # truncated -> null struct
        ('[{"name": "arr", "sev": 1}]',),     # top-level array -> nulls
        (None,),                              # null input -> null
    ]
    df = spark.createDataFrame(rows, "doc string")
    out = df.select(lenient_decode(F.col("doc"), schema).alias("r")).collect()
    got = [(r["r"]["name"], r["r"]["sev"]) if r["r"] is not None else None
           for r in out]
    # the decoder never throws (ExtendedJsonDecoder.java parity):
    # every malformation degrades to nulls
    assert got == [("ok", 3), ("missing-sev", None), ("bad-type", None),
                   ("extra", 1), (None, None), (None, None), (None, None),
                   None]


def test_lenient_decode_nested_depth_defaults(spark):
    """Parity with the reference decoder's deep default injection
    (ExtendedJsonDecoder.java:490,719-726 injects a null default for
    a missing field at ANY nesting depth): fields missing two levels
    down — inside a nested record and inside array-of-record
    elements — must decode to null in place, with the surrounding
    structure intact, never an error or a dropped row."""
    from pyspark.sql import functions as F

    from parquet_generator_spark.schema.infer import lenient_decode

    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("meta", T.StructType([
            T.StructField("host", T.StringType()),
            T.StructField("geo", T.StructType([
                T.StructField("lat", T.DoubleType()),
                T.StructField("lon", T.DoubleType()),
            ])),
        ])),
        T.StructField("tags", T.ArrayType(T.StructType([
            T.StructField("k", T.StringType()),
            T.StructField("v", T.StringType()),
        ]))),
    ])
    rows = [
        # fully populated
        ('{"id": 1, "meta": {"host": "a", "geo": {"lat": 1.5, "lon": 2.5}},'
         ' "tags": [{"k": "x", "v": "y"}]}',),
        # geo.lon missing (depth 3); tag element missing v (depth 2)
        ('{"id": 2, "meta": {"host": "b", "geo": {"lat": 3.0}},'
         ' "tags": [{"k": "x"}, {"v": "only-v"}]}',),
        # whole nested record missing (depth 1) and empty tag object
        ('{"id": 3, "tags": [{}]}',),
        # nested record present but empty; tags missing entirely
        ('{"id": 4, "meta": {}}',),
    ]
    df = spark.createDataFrame(rows, "doc string")
    out = [r["r"].asDict(recursive=True) for r in
           df.select(lenient_decode(F.col("doc"), schema).alias("r"))
           .collect()]
    assert out[0] == {"id": 1,
                      "meta": {"host": "a", "geo": {"lat": 1.5, "lon": 2.5}},
                      "tags": [{"k": "x", "v": "y"}]}
    assert out[1] == {"id": 2,
                      "meta": {"host": "b", "geo": {"lat": 3.0, "lon": None}},
                      "tags": [{"k": "x", "v": None},
                               {"k": None, "v": "only-v"}]}
    assert out[2] == {"id": 3, "meta": None, "tags": [{"k": None, "v": None}]}
    assert out[3] == {"id": 4,
                      "meta": {"host": None, "geo": None}, "tags": None}


def test_widest_mode_reference_parity(spark):
    """mode='widest' reproduces Bootstrap.java:296-303 exactly: each
    sampled doc is inferred alone, most-top-level-fields wins, ties
    go to the LATER doc, and fields seen only in narrower docs are
    LOST (the kitesdk behavior merge mode exists to improve on).
    Docs are built from the reference's own schema.asvc field names
    so the parity claim is anchored to the fixture."""
    fields = [f["name"] for f in
              json.loads(open(f"{REF_DIR}/schema.asvc").read())["fields"]]
    assert len(fields) >= 6
    narrow = json.dumps({fields[0]: "a", "only_in_narrow": "x"})
    wide = json.dumps({n: "v" for n in fields[:5]})
    tie = json.dumps({n: "v" for n in fields[1:6]})  # also 5 fields

    widest = infer_json_schema(spark, [narrow, wide, tie],
                               mode="widest")
    # the tie-breaker keeps the LATER five-field doc
    assert [f.name for f in widest.fields] == sorted(fields[1:6])
    # widest-wins loses the narrow doc's exclusive field...
    assert "only_in_narrow" not in widest.fieldNames()
    # ...which merge mode preserves alongside every other field
    merged = infer_json_schema(spark, [narrow, wide, tie])
    assert set(merged.fieldNames()) == (
        set(fields[:6]) | {"only_in_narrow"})
    # both modes promote every field to nullable (enableDefaultValue)
    assert all(f.nullable for f in widest.fields)
