from smallquery_spark.sources.readers import TABLES, read_any, read_key

__all__ = ["TABLES", "read_any", "read_key"]
