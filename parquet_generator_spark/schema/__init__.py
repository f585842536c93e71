from parquet_generator_spark.schema.infer import (
    infer_json_schema,
    promote_nullable,
)
from parquet_generator_spark.schema.avro_io import (
    avro_to_struct,
    struct_to_avro,
)

__all__ = [
    "infer_json_schema",
    "promote_nullable",
    "avro_to_struct",
    "struct_to_avro",
]
