"""The engine facade.

Entry points mirroring the reference's lifecycle (SURVEY.md §3.4):

1. ``engine.sql(query, workspace=..., version=...)`` — resolve versioned
   tables, register temp views, hand the query to Catalyst.
2. ``engine.table(name)`` — DataFrame-builder entry; thin resolution then
   plain PySpark DataFrame.
3. ``engine.write_table(df, name, ...)`` — commit a small result as a new
   version of a workspace table.

Every spelling of a table name (plain ``name``, ``name@ver``,
``name VERSION AS OF 'ver'``, ``engine.table``) resolves through the one
lookup rule of ``catalog.workspace.find_table``.

Version resolution happens driver-side *before* planning (SURVEY.md
§4.3): Spark never sees the git layer, only an immutable snapshot
directory, so all built-in optimizations apply unchanged.
"""

from __future__ import annotations

import re
import threading

from pyspark.sql import DataFrame, SparkSession

from smallquery_spark.catalog import VersionedCatalog
from smallquery_spark.catalog.workspace import LATEST, find_table
from smallquery_spark.errors import EngineError
from smallquery_spark.sources import read_any

# `table@version` spelling inside engine.sql() queries.
_AT_VERSION = re.compile(r"\b([A-Za-z_][A-Za-z0-9_]*)@([A-Za-z0-9_./-]+)\b")
# Delta/Iceberg-style time travel: `FROM tbl VERSION AS OF 'ref'`.
_VERSION_AS_OF = re.compile(
    r"\b([A-Za-z_][A-Za-z0-9_]*)\s+VERSION\s+AS\s+OF\s+'([^']+)'",
    re.IGNORECASE,
)


def _mask_literals(sql: str) -> str:
    """Return ``sql`` with the CONTENTS of string literals ('' escaping),
    double-quoted identifiers, and -- / block comments blanked out (same
    length, so regex match positions line up with the original text).

    Version-reference rewriting must never fire inside a literal:
    ``WHERE email = 'bob@example.com'`` is not a versioned table ref
    (ADVICE r1, engine.py:101)."""
    out = list(sql)
    i, n = 0, len(sql)
    while i < n:
        ch = sql[i]
        if ch == "'":
            j = i + 1
            while j < n:
                if sql[j] == "'":
                    if j + 1 < n and sql[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            for k in range(i + 1, min(j, n)):
                out[k] = " "
            i = j + 1
        elif ch == '"':
            j = sql.find('"', i + 1)
            j = n if j == -1 else j
            for k in range(i + 1, j):
                out[k] = " "
            i = j + 1
        elif sql.startswith("--", i):
            j = sql.find("\n", i)
            j = n if j == -1 else j
            for k in range(i, j):
                out[k] = " "
            i = j
        elif sql.startswith("/*", i):
            j = sql.find("*/", i + 2)
            j = n if j == -1 else j + 2
            for k in range(i, j):
                out[k] = " "
            i = j
        else:
            i += 1
    return "".join(out)


class Engine:
    """A SparkSession bound to an optional workspace mount."""

    def __init__(self, spark: SparkSession, workspace_mount: str | None = None):
        self.spark = spark
        self.catalog = VersionedCatalog(workspace_mount) if workspace_mount else None
        # Temp views are session-global; concurrent sql() calls for
        # different workspaces/versions could clobber each other's views
        # between registration and analysis (ADVICE r1, server.py:115).
        # spark.sql() analyzes (and binds views) eagerly, so holding the
        # lock through registration + analysis is sufficient — execution
        # of the returned DataFrame runs outside the lock.
        self._sql_lock = threading.Lock()

    # -- resolution --------------------------------------------------------

    def _require_catalog(self) -> VersionedCatalog:
        if self.catalog is None:
            raise ValueError("engine created without a workspace mount")
        return self.catalog

    def table(
        self,
        name: str,
        workspace: str | None = None,
        version: str = LATEST,
    ) -> DataFrame:
        """Load a (possibly versioned) table as a DataFrame.

        With a workspace: resolve ``version`` (git ref → commit, reference
        http_server.rs:154-165), materialize the snapshot, read the
        table's file. Without: read ``name`` as a plain path.
        """
        if workspace is not None:
            ws = self._require_catalog().workspace(workspace)
            path = ws.table_path(name, version)
            return read_any(self.spark, path)
        return read_any(self.spark, name)

    # -- SQL entry ---------------------------------------------------------

    def sql(
        self,
        query: str,
        workspace: str | None = None,
        version: str = LATEST,
    ) -> DataFrame:
        """Run SQL against versioned workspace tables.

        ``table@version`` references in the query are resolved through the
        workspace catalog and rewritten to registered temp views before
        Catalyst sees the text. Plain table names are looked up in the
        snapshot at ``version`` (default ``latest`` = HEAD, reference
        http_server.rs:106-110) when a workspace is given, or must already
        be registered views otherwise.
        """
        with self._sql_lock:
            if workspace is not None:
                ws = self._require_catalog().workspace(workspace)
                query = self._rewrite_versioned_refs(query, ws)
                # Register the un-suffixed names that are tables in the
                # snapshot at `version` (identifier scan runs on
                # literal-masked text so string contents can't trigger
                # spurious registrations).
                snap = ws.snapshot(version)
                referenced = set(
                    re.findall(r"\b[A-Za-z_][A-Za-z0-9_]*\b", _mask_literals(query))
                )
                # `"tbl"` / `` `tbl` `` quoted references count as referenced
                referenced |= set(re.findall(r'["`]([A-Za-z_][A-Za-z0-9_]*)["`]', query))
                for name in referenced:
                    path = find_table(snap, name)
                    if path is not None:
                        read_any(self.spark, path).createOrReplaceTempView(name)
            return self.spark.sql(query)

    def _rewrite_versioned_refs(self, query: str, ws) -> str:
        """Rewrite ``tbl@version`` / ``tbl VERSION AS OF 'ref'`` tokens to
        registered snapshot views.

        Matches are accepted only when the table identifier sits OUTSIDE
        string literals/comments, and only when the catalog actually
        resolves (table, version) — otherwise the text is left untouched,
        so ``'bob@example.com'`` in a literal or a non-table foo@bar word
        never breaks a valid query (ADVICE r1)."""
        masked = _mask_literals(query)
        repls: list[tuple[int, int, str]] = []
        for rx in (_VERSION_AS_OF, _AT_VERSION):
            for m in rx.finditer(query):
                # identifier (and, for @version, the ref) must be unmasked
                if masked[m.start(1) : m.end(1)] != m.group(1):
                    continue
                if rx is _AT_VERSION and masked[m.start(2) : m.end(2)] != m.group(2):
                    continue
                tbl, ver = m.group(1), m.group(2)
                try:
                    path = ws.table_path(tbl, ver)
                except EngineError:
                    continue  # not a versioned table reference — leave as-is
                view = f"{tbl}__{re.sub(r'[^A-Za-z0-9_]', '_', ver)}"
                read_any(self.spark, path).createOrReplaceTempView(view)
                repls.append((m.start(), m.end(), view))
        out, last = [], 0
        for start, end, view in sorted(repls):
            if start < last:
                continue  # overlap (VERSION AS OF already consumed the span)
            out.append(query[last:start])
            out.append(view)
            last = end
        out.append(query[last:])
        return "".join(out)

    # -- write entry -------------------------------------------------------

    def write_table(
        self,
        df: DataFrame,
        table: str,
        workspace: str,
        message: str,
        tag: str | None = None,
    ) -> str:
        """Commit ``df`` as a new version of ``table`` in ``workspace``;
        returns the commit id (see catalog.workspace.write_table_version)."""
        from smallquery_spark.catalog.workspace import write_table_version

        ws = self._require_catalog().workspace(workspace)
        return write_table_version(ws, df, table, message, tag=tag)
