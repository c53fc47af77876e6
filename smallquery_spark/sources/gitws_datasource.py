"""`gitws` — a Spark 4 Python Data Source for versioned workspace tables.

Realizes SURVEY.md §4.3's deferred "DataSourceV2 TableProvider honoring
VERSION AS OF" as a first-class Spark source: after
``spark.dataSource.register(GitWorkspaceDataSource)``,

    spark.read.format("gitws")
        .option("mount", "workspaces/")
        .option("workspace", "sales")
        .option("table", "nation")
        .option("version", "v1")       # git ref / commit prefix / latest
        .load()

resolves the version through the same ``VersionedCatalog`` (reference
semantics: ref-name before commit-prefix, http_server.rs:154-165),
materializes the snapshot, and serves the table's rows.

Execution shape: version resolution happens DRIVER-side at planning,
once per data source instance (the first of schema() and reader()), so
the declared schema, the rows and their ``commit`` tag all come from
one commit; executors receive only (snapshot file path, row-group
slice) partitions and read with pyarrow — so reads scale out
per row-group like a native parquet scan. Every table form
``find_table`` returns is read: a parquet, CSV or JSON-lines file, or a
Spark-written directory of them. Each CSV or JSON file reads as one
partition (header files don't split safely without an index).
"""

from __future__ import annotations

import functools
import os
from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    DataSourceWriter,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)
from pyspark.sql.pandas.types import from_arrow_schema


def _tagcommit(options) -> bool:
    return str(options.get("tagcommit", "")).lower() == "true"


# pyarrow dataset format of each table extension (catalog TABLE_EXTENSIONS)
_ARROW_FORMATS = {
    ".parquet": "parquet", ".csv": "csv", ".jsonl": "json", ".json": "json",
}


def _dataset(path: str, schema=None):
    """pyarrow dataset over a table path: a single file, or the part files
    of a Spark-written directory (skipping ``_SUCCESS``, ``.crc`` and
    zero-byte parts, which hold no rows and no schema). Without
    ``schema``, the schema is unified over every file, so a part file
    with no rows (its columns typed null) never decides a column's type."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    fmt = _ARROW_FORMATS[os.path.splitext(path)[1]]
    files = [path]
    if os.path.isdir(path):
        files = []
        for d, dirs, names in os.walk(path):
            dirs[:] = sorted(x for x in dirs if not x.startswith((".", "_")))
            files += [
                os.path.join(d, f) for f in sorted(names)
                if not f.startswith((".", "_")) and os.path.getsize(os.path.join(d, f))
            ]
    dataset = ds.dataset(files, format=fmt, schema=schema)
    if schema is None and len(files) > 1:
        schema = pa.unify_schemas(
            [f.physical_schema for f in dataset.get_fragments()],
            promote_options="permissive",
        )
        dataset = ds.dataset(files, format=fmt, schema=schema)
    return dataset


class _Slice(InputPartition):
    """One file of a table, or one row group of a parquet file."""

    def __init__(self, path: str, row_group: int | None, commit: str | None = None):
        self.path = path
        self.row_group = row_group
        self.commit = commit


class GitWorkspaceReader(DataSourceReader):
    """Reads the table at ``path`` in snapshot dir ``snap``; with
    ``tagcommit``, each row is tagged with the snapshot's commit."""

    def __init__(self, snap: str, path: str, tagcommit: bool):
        from smallquery_spark.catalog.workspace import snapshot_commit

        self.path = path
        # every file reads with the table's schema (the part files of one
        # CSV directory could otherwise infer different types)
        self._arrow_schema = _dataset(path).schema
        self._commit = snapshot_commit(snap) if tagcommit else None

    def partitions(self):
        import pyarrow.dataset as ds

        slices = []
        for frag in _dataset(self.path, self._arrow_schema).get_fragments():
            if isinstance(frag, ds.ParquetFileFragment):
                groups = range(frag.metadata.num_row_groups)
                slices += [_Slice(frag.path, g, self._commit) for g in groups]
            else:
                slices.append(_Slice(frag.path, None, self._commit))
        return slices or [_Slice(self.path, None, self._commit)]

    def read(self, partition: _Slice) -> Iterator:
        """Executor-side: yield arrow batches for one slice."""
        if partition.row_group is not None:
            import pyarrow.parquet as pq

            tbl = pq.ParquetFile(partition.path).read_row_group(partition.row_group)
        else:
            tbl = _dataset(partition.path, self._arrow_schema).to_table()
        if partition.commit is not None:
            import pyarrow as pa

            tbl = tbl.append_column(
                "commit", pa.array([partition.commit] * len(tbl), pa.string())
            )
        yield from tbl.to_batches()


class GitWorkspaceDataSource(DataSource):
    @functools.cached_property
    def _table(self) -> tuple[str, str]:
        """(snapshot dir, table path) of the options' table, resolved once
        by the first of schema() and reader(): Spark pickles this instance
        after schema() and plans the read with it, so the schema, the rows
        and their commit tag all come from one commit."""
        from smallquery_spark.catalog import VersionedCatalog
        from smallquery_spark.catalog.workspace import snapshot_table

        mount = self.options.get("mount")
        workspace = self.options.get("workspace")
        table = self.options.get("table")
        version = self.options.get("version") or "latest"
        if not (mount and workspace and table):
            raise ValueError("gitws requires options: mount, workspace, table")
        snap = VersionedCatalog(mount).workspace(workspace).snapshot(version)
        return snap, snapshot_table(snap, table)

    @classmethod
    def name(cls) -> str:
        return "gitws"

    def schema(self):
        from pyspark.sql.types import StringType, StructField, StructType

        base = from_arrow_schema(_dataset(self._table[1]).schema)
        if _tagcommit(self.options):
            return StructType(
                list(base.fields) + [StructField("commit", StringType())]
            )
        return base

    def reader(self, schema):
        return GitWorkspaceReader(*self._table, _tagcommit(self.options))

    def simpleStreamReader(self, schema):
        return GitWorkspaceStreamReader(self.options, schema)

    def writer(self, schema, overwrite: bool):
        return GitWorkspaceWriter(self.options, schema, overwrite)


class GitWorkspaceStreamReader(SimpleDataSourceStreamReader):
    """Streaming half of ``gitws``: replay a table's COMMIT HISTORY.

    Each micro-batch emits the full table content at every new commit
    (oldest → newest along first-parent history) — a change-feed over
    versioned transformations; with ``option("tagcommit", "true")`` each
    row is tagged with its commit id (matching ``schema()``, which only
    declares the ``commit`` column then — ADVICE r1 arity fix). Offsets
    are the count of commits already emitted, so restarts resume
    exactly: replay after a failure re-reads commits[start:end], never
    beyond the recorded end offset (ADVICE r1 readBetweenOffsets fix).
    """

    def __init__(self, options, schema):
        # hold only plain strings: the reader is cloudpickled to workers
        # and Workspace carries a thread lock.
        self.mount = options.get("mount")
        self.workspace = options.get("workspace")
        self.table = options.get("table")
        self.tagcommit = _tagcommit(options)
        self._schema = schema

    def _ws(self):
        from smallquery_spark.catalog import VersionedCatalog

        return VersionedCatalog(self.mount).workspace(self.workspace)

    def _history(self) -> list[str]:
        from smallquery_spark.catalog.workspace import _git

        out = _git(
            self._ws().repo_dir, "log", "--first-parent", "--reverse",
            "--format=%H",
        )
        return [c for c in out.splitlines() if c]

    def initialOffset(self) -> dict:
        return {"n": 0}

    def _rows_for(self, commits: list[str]) -> list[tuple]:
        from smallquery_spark.catalog.workspace import find_table

        ws = self._ws()
        rows: list[tuple] = []
        for commit in commits:
            # full ids from git log: extract each without resolving it
            path = find_table(ws.extract(commit), self.table)
            if path is None:
                continue  # table absent at this commit
            for rec in _dataset(path).to_table().to_pylist():
                row = tuple(rec.values())
                rows.append(row + (commit,) if self.tagcommit else row)
        return rows

    def read(self, start: dict):
        commits = self._history()
        return iter(self._rows_for(commits[start["n"]:])), {"n": len(commits)}

    def readBetweenOffsets(self, start: dict, end: dict):
        commits = self._history()
        return iter(self._rows_for(commits[start["n"] : end["n"]]))

    def commit(self, end: dict) -> None:
        pass


class _PartRows(WriterCommitMessage):
    def __init__(self, rows):
        self.rows = rows


class GitWorkspaceWriter(DataSourceWriter):
    """Write half of ``gitws``: ``df.write.format("gitws")`` commits the
    DataFrame as a NEW VERSION of the table in the workspace repo.

    Executors serialize their partitions into commit messages; the
    driver-side commit() assembles them and commits the table CSV through
    the catalog's one git writer (``catalog.workspace.commit_table``,
    optionally tagged via option("tag", ...)): unchanged content makes no
    new commit. Result tables at this surface are small
    (post-aggregation); bulk data belongs in parquet outside git.
    """

    def __init__(self, options, schema, overwrite: bool):
        self.mount = options.get("mount")
        self.workspace = options.get("workspace")
        self.table = options.get("table")
        self.message = options.get("message") or f"write {self.table}"
        self.tag = options.get("tag")
        if not (self.mount and self.workspace and self.table):
            raise ValueError("gitws write requires options: mount, workspace, table")
        self.schema = schema

    def write(self, iterator) -> "_PartRows":
        return _PartRows([tuple(r) for r in iterator])

    def commit(self, messages) -> None:
        import pyarrow as pa

        from smallquery_spark.catalog import VersionedCatalog
        from smallquery_spark.catalog.workspace import commit_table

        ws = VersionedCatalog(self.mount).workspace(self.workspace)
        names = [f.name for f in self.schema.fields]
        rows = [r for m in messages for r in m.rows]
        cols = list(zip(*rows)) if rows else [[] for _ in names]
        tbl = pa.table({n: list(c) for n, c in zip(names, cols)})
        commit_table(ws, tbl, self.table, self.message, self.tag)

    def abort(self, messages) -> None:
        pass
