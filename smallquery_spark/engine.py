"""The engine facade.

Entry points mirroring the reference's lifecycle (SURVEY.md §3.4):

1. ``engine.sql(query, workspace=..., version=...)`` — bind the query's
   tables to one workspace snapshot, hand the query to Catalyst.
2. ``engine.table(name)`` — DataFrame-builder entry; thin resolution then
   plain PySpark DataFrame.
3. ``engine.write_table(df, name, ...)`` — commit a small result as a new
   version of a workspace table.

Every spelling of a table name (plain ``name``, ``name@ver``,
``name VERSION AS OF 'ver'``, ``engine.table``) resolves through the one
lookup rule of ``catalog.workspace.find_table`` and is read by the one
reader ``Engine._read``.

Binding workspace SQL: one ``sqlParser().parseQuery`` (Catalyst's
``query`` rule; anything else raises ``ParseException``) and one walk of
the plan through ``children`` and ``innerChildren`` (CTE bodies,
subqueries). A single-part name no CTE in scope shadows binds to a view
of the snapshot's table (else ``TableNotFound``); ``tbl VERSION AS OF
'ver'`` to a view ``tbl@<commit>`` spliced in over the parser's offsets.
Any other relation (``parquet.`/path```, ``db.t``, ``IDENTIFIER(...)``,
``TIMESTAMP AS OF``), or one view name for two tables, raises
``UnsupportedRelation``. A call that runs code on the server's host
(``reflect``, ``java_method``, ``try_reflect``, a function named by
``IDENTIFIER(...)``, ``TRANSFORM ... USING``) raises ``DeniedCall``;
expressions are walked only when the text contains one of those words.
``tbl@ver`` becomes ``tbl VERSION AS OF 'ver'`` before the parse where
Spark's lexer finds its ``@`` outside literals and comments.

Parquet twins: a snapshot table stored as a CSV, JSON-lines or JSON file
is parsed once per (commit, table file, reader options, inference confs)
and written as a parquet copy, its twin, under the catalog's
``twin_dir`` (``<snapshot cache>/.twins``, outside every per-commit
snapshot dir, so browse listings do not show it). Every read of that
table, including the first, scans the twin with the source's cached
schema. A twin is not a result cache: it is a decoded copy of an
immutable input, content-addressed like the snapshot itself, and no
rows are held in memory. Parquet files, Spark-written directories and
paths outside a snapshot are read as they are.

Version resolution happens driver-side *before* planning (SURVEY.md
§4.3): Spark never sees the git layer, only an immutable snapshot
directory, so all built-in optimizations apply unchanged.
"""

from __future__ import annotations

import os
import re
import threading

from pyspark.sql import DataFrame, SparkSession

from smallquery_spark.catalog import VersionedCatalog
from smallquery_spark.catalog.workspace import LATEST, find_table
from smallquery_spark.errors import DeniedCall, TableNotFound, UnsupportedRelation
from smallquery_spark.sources import read_any

# A `tbl@ver` ref; starting at a word boundary keeps one pass linear.
_AT_REF = re.compile(r"\b([A-Za-z_]\w*)@([\w./-]*\w)", re.A)

# Functions that call Java methods on the server's JVM, and the cheap
# text test that gates the walk of expressions for them.
_DENIED = ("reflect", "java_method", "try_reflect")
_MAY_DENY = re.compile(r"reflect|java_method|identifier", re.I)


def _parse_query(spark: SparkSession, text: str):
    """``(text, plan)``: ``text`` with each ``tbl@ver`` spliced in as
    `` `tbl` VERSION AS OF 'ver' ``, parsed by Catalyst's ``query`` rule.
    A ref's ``@`` is an ``UNRECOGNIZED`` token of Spark's own lexer, on
    the char stream Spark's parser lexes: outside literals and comments."""
    if _AT_REF.search(text):
        parser = spark._jvm.org.apache.spark.sql.catalyst.parser
        antlr = spark._jvm.org.antlr.v4.runtime
        chars = parser.UpperCaseCharStream(antlr.CharStreams.fromString(text))
        tokens = antlr.CommonTokenStream(parser.SqlBaseLexer(chars))
        tokens.fill()
        ats = tokens.getTokens(0, tokens.size() - 1, parser.SqlBaseLexer.UNRECOGNIZED)
        at = {ats.get(i).getStartIndex() for i in range(ats.size() if ats else 0)}
        text = _AT_REF.sub(
            lambda m: f"`{m[1]}` VERSION AS OF '{m[2]}'" if m.end(1) in at else m[0],
            text,
        )
    return text, spark._jsparkSession.sessionState().sqlParser().parseQuery(text)


def _quote(name: str) -> str:
    """``name`` as a backquoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _vet(expr) -> None:
    """Raise ``DeniedCall`` if ``expr`` calls a ``_DENIED`` function or
    one named by ``IDENTIFIER(...)``."""
    kind = expr.nodeName()
    if kind == "UnresolvedFunction":
        name = expr.nameParts().last().lower()
        if name in _DENIED:
            raise DeniedCall(f"{name}(...) is not allowed in workspace SQL")
    elif kind == "ExpressionWithUnresolvedIdentifier":
        raise DeniedCall("IDENTIFIER(...) is not allowed in workspace SQL")
    kids = expr.children()
    for i in range(kids.size()):
        _vet(kids.apply(i))


def _single_name(relation) -> str:
    """The one part of an ``UnresolvedRelation``'s name."""
    parts = relation.multipartIdentifier()
    if parts.size() != 1:
        raise UnsupportedRelation(f"{relation.tableName()} is not a workspace table")
    return parts.apply(0)


class Engine:
    """A SparkSession bound to an optional workspace mount. Workspace
    tables are read through parquet twins (module docstring)."""

    def __init__(self, spark: SparkSession, workspace_mount: str | None = None):
        self.spark = spark
        self.catalog = VersionedCatalog(workspace_mount) if workspace_mount else None
        # Temp views are session-global: one query's view registration
        # and analysis (spark.sql analyzes eagerly) run under this lock;
        # execution of the returned DataFrame runs outside it.
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
            return self._read(ws.table_path(name, version))
        return read_any(self.spark, name)

    def _read(self, path: str) -> DataFrame:
        """The one reader of a snapshot table, behind every spelling: a
        CSV/JSON file is served from its parquet twin (``read_any``)."""
        return read_any(self.spark, path, twin_dir=self.catalog.twin_dir)

    # -- SQL entry ---------------------------------------------------------

    def sql(
        self,
        query: str,
        workspace: str | None = None,
        version: str = LATEST,
    ) -> DataFrame:
        """Run SQL against versioned workspace tables.

        With a workspace, ``query`` must be one query; each table it reads
        is bound (module docstring) from the snapshot at ``version``
        (default ``latest`` = HEAD, reference http_server.rs:106-110), or
        at ``ver`` for ``tbl@ver`` / ``tbl VERSION AS OF 'ver'``. Raises
        ``ParseException``, ``TableNotFound`` (no such table or CTE),
        ``UnsupportedRelation`` or ``DeniedCall``. Without a workspace,
        names must already be registered views.
        """
        views = {}
        if workspace is not None:
            ws = self._require_catalog().workspace(workspace)
            query, views = self._bind(query, ws, version)
        with self._sql_lock:
            for name, df in views.items():
                df.createOrReplaceTempView(_quote(name))
            return self.spark.sql(query)

    def _bind(self, query: str, ws, version: str) -> tuple[str, dict[str, DataFrame]]:
        """``(text to run, {view name: table DataFrame})`` for a workspace
        query: one parse, one walk of the plan (module docstring)."""
        text, plan = _parse_query(self.spark, query)
        vet = _MAY_DENY.search(text) is not None
        snap = ws.snapshot(version)
        paths: dict[str, str] = {}  # view name -> data path it reads
        splices: list[tuple[int, int, str]] = []

        def bind(view: str, table: str, snap_at: str) -> None:
            path = find_table(snap_at, table)
            if path is None:
                raise TableNotFound(table)
            if paths.setdefault(view, path) != path:
                raise UnsupportedRelation(f"{view} names two different tables")

        def walk(node, ctes: set[str]) -> None:
            kind = node.nodeName()
            if vet:
                exprs = node.expressions()
                for i in range(exprs.size()):
                    _vet(exprs.apply(i))
            if kind == "ScriptTransformation":
                raise DeniedCall("TRANSFORM ... USING is not allowed in workspace SQL")
            if kind == "UnresolvedRelation":
                name = _single_name(node)
                if name.lower() not in ctes:
                    bind(name, name, snap)
            elif kind == "RelationTimeTravel":
                rel = node.relation()
                if node.version().isEmpty() or rel.nodeName() != "UnresolvedRelation":
                    raise UnsupportedRelation("only VERSION AS OF '<ref>' time travel")
                tbl, snap_at = _single_name(rel), ws.snapshot(node.version().get())
                # named after the resolved commit (its snapshot dir's name):
                # refs to one commit share it, `@` keeps it off plain names
                view = f"{tbl}@{os.path.basename(snap_at)}"
                bind(view, tbl, snap_at)
                start, stop = rel.origin().startIndex(), node.origin().stopIndex()
                splices.append((start.get(), stop.get() + 1, _quote(view)))
            elif kind == "PlanWithUnresolvedIdentifier":
                raise UnsupportedRelation("IDENTIFIER(...) is not a workspace table")
            elif kind == "UnresolvedWith":
                # each CTE name is in scope after its definition (and in
                # its own body under WITH RECURSIVE); it shadows a table
                scope, recursive = set(ctes), node.allowRecursion()
                defs = node.cteRelations()
                for i in range(defs.size()):
                    name = defs.apply(i)._1().lower()
                    walk(defs.apply(i)._2(), scope | {name} if recursive else scope)
                    scope.add(name)
                walk(node.child(), scope)
            else:
                for kids in (node.children(), node.innerChildren()):
                    for i in range(kids.size()):
                        walk(kids.apply(i), ctes)

        walk(plan, set())
        for start, stop, view in sorted(splices, reverse=True):
            text = text[:start] + view + text[stop:]
        return text, {view: self._read(path) for view, path in paths.items()}

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
