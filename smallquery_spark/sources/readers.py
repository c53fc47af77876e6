"""Source readers (SURVEY.md §2 B1-B6).

All scans are declared through ``spark.read`` so Catalyst's predicate
pushdown / column pruning / partition pruning apply (§4.2). Parquet is
the primary format; CSV/JSON/text are supported for workspace datasets
(the reference's declared surface is CSV files in git workspaces,
reference README.md:7).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# The driver fixture tables (FIXTURES.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_any(
    spark: SparkSession,
    path: str,
    fmt: str | None = None,
    schema: T.StructType | str | None = None,
    **options,
) -> DataFrame:
    """Read a dataset by path, inferring format from the extension.

    CSV defaults: header=True plus schema inference when no explicit
    schema is given — mirroring the reference's schemaless CSV model with
    an explicit-schema override for reproducible versioned transforms
    (SURVEY.md §1.2).
    """
    if fmt is None:
        ext = os.path.splitext(path)[1].lower().lstrip(".")
        fmt = {"parquet": "parquet", "csv": "csv", "json": "json",
               "jsonl": "json", "txt": "text", "text": "text"}.get(ext, "parquet")
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if fmt == "csv":
        options.setdefault("header", True)
        if schema is None:
            options.setdefault("inferSchema", True)
    return reader.options(**options).format(fmt).load(path)

