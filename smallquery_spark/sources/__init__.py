from smallquery_spark.sources.readers import TABLES, read_any

__all__ = ["TABLES", "read_any"]
