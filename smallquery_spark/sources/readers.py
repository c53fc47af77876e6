"""Source readers (SURVEY.md §2 B1-B6).

All scans are declared through ``spark.read`` so Catalyst's predicate
pushdown / column pruning / partition pruning apply (§4.2). Parquet is
the primary format; CSV/JSON/text are supported for workspace datasets
(the reference's declared surface is CSV files in git workspaces,
reference README.md:7).
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from smallquery_spark.catalog.workspace import publish

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
# Read by parquet inference alone, so keyed for parquet alone: the query
# registry sets it on first use, and keying CSV/JSON on it would re-infer
# every text table (and rewrite its twin) read before that.
_PARQUET_INFERENCE_CONFS = ("spark.sql.legacy.parquet.nanosAsLong",)

# Keyed by real path, like registry._SCAN_SPLIT_CACHE; the value carries
# everything inference depends on (file stamp, format, reader options,
# _INFERENCE_CONFS), so a rewritten file or a changed option or conf
# replaces the entry. Only schemas are held, never rows. Two threads
# missing at once both infer and store the same schema, so no lock.
_SCHEMA_CACHE: dict[str, tuple[tuple, T.StructType]] = {}


def read_key(
    spark: SparkSession, path: str, fmt: str | None = None, **options
) -> tuple[str, tuple, str]:
    """``(real path, key, sha1 hex of both)`` for a schema-less
    ``read_any(spark, path, fmt, **options)``: everything but the bytes
    that the read depends on. The key is the path's stamp (mtime_ns,
    size), the format, the final reader options and the session confs
    inference reads, so for an immutable path (a table in a workspace
    snapshot) one key always reads the same rows with the same schema."""
    fmt, options = _format_options(path, fmt, None, options)
    real = os.path.realpath(path)
    st = os.stat(real)
    confs = _INFERENCE_CONFS
    if fmt == "parquet":
        confs += _PARQUET_INFERENCE_CONFS
    key = (
        (st.st_mtime_ns, st.st_size),
        fmt,
        tuple(sorted((k, str(v)) for k, v in options.items())),
        tuple(spark.conf.get(c) for c in confs),
    )
    return real, key, hashlib.sha1(repr((real, key)).encode()).hexdigest()


def _format_options(
    path: str, fmt: str | None, schema, options: dict
) -> tuple[str, dict]:
    """The format (by extension when ``fmt`` is None) and the reader
    options after the CSV defaults (header, and inferSchema when no
    schema is given)."""
    if fmt is None:
        ext = os.path.splitext(path)[1].lower().lstrip(".")
        fmt = {"parquet": "parquet", "csv": "csv", "json": "json",
               "jsonl": "json", "txt": "text", "text": "text"}.get(ext, "parquet")
    options = dict(options)
    if fmt == "csv":
        options.setdefault("header", True)
        if schema is None:
            options.setdefault("inferSchema", True)
    return fmt, options


def read_any(
    spark: SparkSession,
    path: str,
    fmt: str | None = None,
    schema: T.StructType | str | None = None,
    twin_dir: str | None = None,
    **options,
) -> DataFrame:
    """Read a dataset by path, inferring format from the extension.

    CSV defaults: header=True plus schema inference when no explicit
    schema is given — mirroring the reference's schemaless CSV model with
    an explicit-schema override for reproducible versioned transforms
    (SURVEY.md §1.2).

    The inferred schema of a regular file is cached per ``read_key``
    (file stamp, format, reader options and the session confs inference
    reads), so re-reading an unchanged file (e.g. a table in an
    immutable workspace snapshot) launches no header, inference or
    footer-merge job. Results are never cached. Directories are always
    inferred afresh.

    ``twin_dir`` is for immutable files only (a table in a workspace
    snapshot): a CSV, JSON-lines or JSON file is parsed once per
    ``read_key`` into a parquet copy, its *twin*, under ``twin_dir``, and
    every read is served from the twin with the source's cached schema,
    so a repeated read decodes no text and launches no footer job.
    """
    fmt, options = _format_options(path, fmt, schema, options)
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    reader = reader.options(**options).format(fmt)
    if schema is not None or not os.path.isfile(path):
        return reader.load(path)
    real, key, digest = read_key(spark, path, fmt, **options)
    hit = _SCHEMA_CACHE.get(real)
    cached = hit[1] if hit is not None and hit[0] == key else None
    twin = None
    if twin_dir is not None and fmt in ("csv", "json"):
        twin = os.path.join(twin_dir, f"{digest}.parquet")
        if cached is not None and os.path.isdir(twin):
            return spark.read.schema(cached).parquet(twin)
    if cached is not None:
        df = reader.schema(cached).load(path)
    else:
        df = reader.load(path)
        _SCHEMA_CACHE[real] = (key, df.schema)
    if twin is None or not df.schema.fields:  # parquet cannot hold no columns
        return df
    if not os.path.isdir(twin):
        publish(twin, df.write.parquet)
    return spark.read.schema(df.schema).parquet(twin)

