"""StructType <-> Avro record schema (.asvc) conversion.

Reference parity: Bootstrap.java:182-194 writes the inferred schema
as ``<rule>/schema.asvc`` with every field a ``["null", T]`` union
defaulting to null (Bootstrap.java:221-232). This module reproduces
that exact file shape from a Spark StructType and can read the
reference's own ``office365_signin/schema.asvc`` back into a
StructType (parity-tested in tests/test_schema.py).

Only the public Avro 1.x specification is used.
"""

from __future__ import annotations

import json

from pyspark.sql import types as T

_PRIMITIVE_TO_AVRO = {
    "string": "string",
    "long": "long",
    "integer": "int",
    "short": "int",
    "byte": "int",
    "double": "double",
    "float": "float",
    "boolean": "boolean",
    "binary": "bytes",
    "date": {"type": "int", "logicalType": "date"},
    "timestamp": {"type": "long", "logicalType": "timestamp-micros"},
    "timestamp_ntz": {"type": "long", "logicalType": "local-timestamp-micros"},
}

_AVRO_TO_SPARK = {
    "string": T.StringType(),
    "long": T.LongType(),
    "int": T.IntegerType(),
    "double": T.DoubleType(),
    "float": T.FloatType(),
    "boolean": T.BooleanType(),
    "bytes": T.BinaryType(),
    "null": T.NullType(),
}


def _type_to_avro(dt: T.DataType, name: str, namespace: str = "") -> object:
    tn = dt.typeName()
    if tn in _PRIMITIVE_TO_AVRO:
        return _PRIMITIVE_TO_AVRO[tn]
    if isinstance(dt, T.DecimalType):
        return {"type": "bytes", "logicalType": "decimal",
                "precision": dt.precision, "scale": dt.scale}
    if isinstance(dt, T.ArrayType):
        return {"type": "array",
                "items": _nullable(_type_to_avro(dt.elementType, name + "_item"))}
    if isinstance(dt, T.MapType):
        return {"type": "map",
                "values": _nullable(_type_to_avro(dt.valueType, name + "_value"))}
    if isinstance(dt, T.StructType):
        return {
            "type": "record",
            "name": name,
            "fields": [
                {"name": f.name,
                 "type": _nullable(_type_to_avro(f.dataType, f.name)),
                 "default": None}
                for f in dt.fields
            ],
        }
    raise TypeError(f"cannot map Spark type {dt} to Avro")


def _nullable(avro_type: object) -> list:
    """The reference's enableDefaultValue union shape: ["null", T]."""
    if isinstance(avro_type, list):
        return avro_type
    return ["null", avro_type]


def struct_to_avro(schema: T.StructType, name: str,
                   doc: str | None = None) -> str:
    """Serialize a StructType as an Avro record schema JSON string,
    every field nullable with null default (schema.asvc shape)."""
    record = _type_to_avro(schema, name.replace("-", "_"))
    if doc:
        record["doc"] = doc
    return json.dumps(record, separators=(",", ":"))


def _avro_type_to_spark(t: object) -> T.DataType:
    if isinstance(t, str):
        if t in _AVRO_TO_SPARK:
            return _AVRO_TO_SPARK[t]
        raise TypeError(f"unsupported avro primitive {t!r}")
    if isinstance(t, list):  # union
        non_null = [x for x in t if x != "null"]
        if not non_null:
            return T.NullType()
        if len(non_null) == 1:
            return _avro_type_to_spark(non_null[0])
        # multi-branch union: Avro's JSON encoding wraps the value as
        # {"<branchName>": value}, so the faithful relational shape is
        # one struct field per branch (exactly one non-null per row)
        return T.StructType([
            T.StructField(_branch_name(b), _avro_type_to_spark(b), True)
            for b in non_null])
    if isinstance(t, dict):
        kind = t["type"]
        logical = t.get("logicalType")
        if logical in ("timestamp-micros", "timestamp-millis"):
            return T.TimestampType()
        if logical in ("local-timestamp-micros", "local-timestamp-millis"):
            return T.TimestampNTZType()
        if logical == "date":
            return T.DateType()
        if logical == "decimal":
            return T.DecimalType(t.get("precision", 38), t.get("scale", 18))
        if kind == "array":
            return T.ArrayType(_avro_type_to_spark(t["items"]), True)
        if kind == "map":
            return T.MapType(T.StringType(),
                             _avro_type_to_spark(t["values"]), True)
        if kind == "enum":
            # ExtendedJsonDecoder.java reads enums by symbol/index;
            # relationally an enum is a string whose domain is the
            # symbol list (validated by lenient_decode_avro)
            return T.StringType()
        if kind == "fixed":
            return T.BinaryType()
        if kind in ("record", "error"):  # "error" = record variant
                                         # (Avro protocol spec); the
                                         # reference's kitesdk-inferred
                                         # schema.asvc uses it
            return T.StructType([
                T.StructField(f["name"], _avro_type_to_spark(f["type"]), True)
                for f in t["fields"]])
        return _avro_type_to_spark(kind)
    raise TypeError(f"unsupported avro type {t!r}")


def _branch_name(b: object) -> str:
    """Union-branch key as the Avro JSON encoding writes it: the
    type name for primitives, the full name for named types
    (record/enum/fixed), the container keyword for array/map."""
    if isinstance(b, str):
        return b
    if isinstance(b, dict):
        if "name" in b:
            ns = b.get("namespace")
            return f"{ns}.{b['name']}" if ns else b["name"]
        return b["type"]
    raise TypeError(f"bad union branch {b!r}")


def avro_to_struct(avsc: str | dict) -> T.StructType:
    """Parse an Avro record schema (e.g. the reference's schema.asvc)
    into a Spark StructType."""
    record = json.loads(avsc) if isinstance(avsc, str) else avsc
    dt = _avro_type_to_spark(record)
    if not isinstance(dt, T.StructType):
        raise TypeError("top-level avro schema must be a record")
    return dt


# ------------------------------------------------------------------
# Full-surface lenient JSON decode against an Avro schema
# ------------------------------------------------------------------
#
# ExtendedJsonDecoder.java:1-773 re-encodes arbitrary JSON against the
# COMPLETE Avro model — enum, fixed, bytes, maps, multi-branch unions
# — with missing fields defaulting to null. The plain
# schema.infer.lenient_decode covers the record/primitive subset via
# from_json; the functions below close the rest: JSON parses against
# a CARRIER schema (bytes/fixed ride as strings, since Avro's JSON
# encoding writes bytes as ISO-8859-1 code-point strings), then a
# pure-Catalyst conversion pass rebuilds the target types (encode()
# for bytes, symbol-domain validation for enums, per-branch structs
# for unions). No Python in the loop — one from_json + one projection.

def _carrier_type(t: object) -> T.DataType:
    """Spark type the JSON is PARSED as (before conversion):
    bytes/fixed as strings; everything else as the target type."""
    if isinstance(t, str):
        return T.StringType() if t == "bytes" else _avro_type_to_spark(t)
    if isinstance(t, list):
        non_null = [x for x in t if x != "null"]
        if not non_null:
            return T.NullType()
        if len(non_null) == 1:
            return _carrier_type(non_null[0])
        return T.StructType([
            T.StructField(_branch_name(b), _carrier_type(b), True)
            for b in non_null])
    if isinstance(t, dict):
        kind = t["type"]
        if t.get("logicalType"):
            return _avro_type_to_spark(t)
        if kind in ("bytes", "fixed"):
            return T.StringType()
        if kind == "enum":
            return T.StringType()
        if kind == "array":
            return T.ArrayType(_carrier_type(t["items"]), True)
        if kind == "map":
            return T.MapType(T.StringType(), _carrier_type(t["values"]),
                             True)
        if kind in ("record", "error"):
            return T.StructType([
                T.StructField(f["name"], _carrier_type(f["type"]), True)
                for f in t["fields"]])
        return _carrier_type(kind)
    raise TypeError(f"unsupported avro type {t!r}")


def _convert_expr(c, t):
    """Carrier column -> target-typed column for one Avro type node.
    Null-safe throughout (encode/when propagate null)."""
    from pyspark.sql import functions as F

    if isinstance(t, str):
        return F.encode(c, "ISO-8859-1") if t == "bytes" else c
    if isinstance(t, list):
        non_null = [x for x in t if x != "null"]
        if len(non_null) <= 1:
            return _convert_expr(c, non_null[0]) if non_null else c
        return F.when(c.isNotNull(), F.struct(*[
            _convert_expr(c[_branch_name(b)], b).alias(_branch_name(b))
            for b in non_null]))
    if isinstance(t, dict):
        kind = t["type"]
        if t.get("logicalType"):
            return c
        if kind in ("bytes", "fixed"):
            return F.encode(c, "ISO-8859-1")
        if kind == "enum":
            # invalid symbol -> null: the lenient twin of the
            # decoder's AvroTypeException (documented adaptation)
            return F.when(c.isin(list(t["symbols"])), c)
        if kind == "array":
            return F.when(c.isNotNull(), F.transform(
                c, lambda x: _convert_expr(x, t["items"])))
        if kind == "map":
            return F.when(c.isNotNull(), F.transform_values(
                c, lambda _k, v: _convert_expr(v, t["values"])))
        if kind in ("record", "error"):
            return F.when(c.isNotNull(), F.struct(*[
                _convert_expr(c[f["name"]], f["type"]).alias(f["name"])
                for f in t["fields"]]))
        return _convert_expr(c, kind)
    raise TypeError(f"unsupported avro type {t!r}")


def lenient_decode_avro(col, avsc: str | dict):
    """Decode a JSON-string column against a FULL Avro schema with
    ExtendedJsonDecoder semantics: missing fields -> null at any
    depth, bytes/fixed from the Avro-JSON ISO-8859-1 string
    encoding, enums validated against their symbol domain,
    multi-branch unions as one-struct-field-per-branch, maps and
    arrays recursed. Single from_json + one codegen projection."""
    from pyspark.sql import functions as F

    record = json.loads(avsc) if isinstance(avsc, str) else avsc
    carrier = _carrier_type(record)
    # PERMISSIVE is the default; with no options Catalyst can prune
    # the parsed schema to the fields read downstream
    parsed = F.from_json(col, carrier)
    return F.when(parsed.isNotNull(), F.struct(*[
        _convert_expr(parsed[f["name"]], f["type"]).alias(f["name"])
        for f in record["fields"]]))
