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


# Session confs that schema inference reads (CSV/JSON timestamp and
# header handling, parquet type mapping); a change to any of them re-infers.
_INFERENCE_CONFS = (
    "spark.sql.session.timeZone",
    "spark.sql.timestampType",
    "spark.sql.legacy.timeParserPolicy",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)

# Keyed by real path, like registry._SCAN_SPLIT_CACHE; the value carries
# everything inference depends on (file stamp, format, reader options,
# _INFERENCE_CONFS), so a rewritten file or a changed option or conf
# replaces the entry. Only schemas are held, never rows. Two threads
# missing at once both infer and store the same schema, so no lock.
_SCHEMA_CACHE: dict[str, tuple[tuple, T.StructType]] = {}


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

    The inferred schema of a regular file is cached per file stamp
    (mtime_ns, size), format, reader options and the session confs
    inference reads, so re-reading an unchanged file (e.g. a table in an
    immutable workspace snapshot) launches no header, inference or
    footer-merge job. Results are never cached. Directories are always
    inferred afresh.
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
    reader = reader.options(**options).format(fmt)
    if schema is not None or not os.path.isfile(path):
        return reader.load(path)
    real = os.path.realpath(path)
    st = os.stat(real)
    key = (
        (st.st_mtime_ns, st.st_size),
        fmt,
        tuple(sorted((k, str(v)) for k, v in options.items())),
        tuple(spark.conf.get(c) for c in _INFERENCE_CONFS),
    )
    hit = _SCHEMA_CACHE.get(real)
    if hit is not None and hit[0] == key:
        return reader.schema(hit[1]).load(path)
    df = reader.load(path)
    _SCHEMA_CACHE[real] = (key, df.schema)
    return df
