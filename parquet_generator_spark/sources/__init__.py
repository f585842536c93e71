from parquet_generator_spark.sources.catalog import TABLES, load_table

__all__ = ["TABLES", "load_table"]
