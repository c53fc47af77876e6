"""The engine facade.

Entry points mirroring the reference's lifecycle (SURVEY.md §3.4):

1. ``engine.sql(query, workspace=..., version=...)`` — bind the query's
   tables to one workspace snapshot, hand the query to Catalyst.
2. ``engine.table(name, workspace=...)`` — DataFrame-builder entry; thin
   resolution then plain PySpark DataFrame.
3. ``engine.write_table(df, name, ...)`` — commit a small result as a new
   version of a workspace table.

Every spelling of a table name (plain ``name``, ``name@ver``,
``name VERSION AS OF 'ver'``, ``engine.table``) resolves through the one
lookup rule of ``catalog.workspace.find_table`` and is read by the one
reader ``Engine._read``.

Binding workspace SQL: one ``sqlParser().parseQuery`` (Catalyst's
``query`` rule; anything else raises ``ParseException``) and one walk of
the plan through ``children`` and ``innerChildren`` (CTE bodies,
subqueries). A single-part name no CTE in scope reads the snapshot's
table (else ``TableNotFound``); ``tbl VERSION AS OF 'ver'`` the table in
the snapshot at ``ver``. ``tbl@ver`` becomes ``tbl VERSION AS OF 'ver'``
before the parse where Spark's lexer finds its ``@`` outside literals
and comments. Any other relation (``parquet.`/path```, ``db.t``,
``IDENTIFIER(...)``, ``TIMESTAMP AS OF``, ``STREAM t``, an options
clause ``t WITH (...)``), or two tables under one ref name (``tbl`` or
``tbl@<commit>``), raises ``UnsupportedRelation``. A call that runs code
on the server's host (``reflect``, ``java_method``, ``try_reflect``, a
function named by ``IDENTIFIER(...)``, ``TRANSFORM ... USING``) raises
``DeniedCall``; expressions are walked only when the text contains one of
those words.

Views: each table is one immutable temp view per ``Engine``, named
``tbl@<hash of read_key>`` (data path, stamp, format, reader options,
inference confs), registered by the first query that reads it and reused
by every later one, so a repeated query reads and registers nothing. The
view's name is spliced in over the parser's offsets, and a relation
without an alias of its own gets `` AS `tbl` `` at the end of its table
clause (after ``TABLESAMPLE``; not after ``TABLE t``), so ``tbl.col``
resolves under every spelling. A view name never means two tables, so
queries are analyzed and run outside the lock. A view's name in user
text is looked up as a table, so it raises ``TableNotFound``.

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

import re
import threading

from pyspark.sql import DataFrame, SparkSession

from smallquery_spark.catalog import VersionedCatalog
from smallquery_spark.catalog.workspace import LATEST, find_table, snapshot_commit
from smallquery_spark.errors import DeniedCall, TableNotFound, UnsupportedRelation
from smallquery_spark.sources import read_any, read_key

# A `tbl@ver` ref; starting at a word boundary keeps one pass linear.
_AT_REF = re.compile(r"\b([A-Za-z_]\w*)@([\w./-]*\w)", re.A)

# Functions that call Java methods on the server's JVM, and the cheap
# text test that gates the walk of expressions for them.
_DENIED = ("reflect", "java_method", "try_reflect")
_MAY_DENY = re.compile(r"reflect|java_method|identifier", re.I)
_TABLE_WORD = re.compile(r"\btable\b", re.I)

# Plan nodes that give the relation under them its own alias, and the
# ones a table clause's TABLESAMPLE becomes.
_ALIASES = ("SubqueryAlias", "UnresolvedSubqueryColumnAliases")
_SAMPLES = ("Sample", "LocalLimit")


def _tokens(spark: SparkSession, text: str):
    """``text`` lexed by Spark's own lexer, on the upper-casing char stream
    Spark's parser lexes: a filled ``CommonTokenStream``."""
    parser = spark._jvm.org.apache.spark.sql.catalyst.parser
    antlr = spark._jvm.org.antlr.v4.runtime
    chars = parser.UpperCaseCharStream(antlr.CharStreams.fromString(text))
    tokens = antlr.CommonTokenStream(parser.SqlBaseLexer(chars))
    tokens.fill()
    return tokens


def _of_type(spark: SparkSession, tokens, name: str) -> list:
    """The tokens of lexer type ``name`` in ``tokens``."""
    kind = getattr(spark._jvm.org.apache.spark.sql.catalyst.parser.SqlBaseLexer, name)
    found = tokens.getTokens(0, tokens.size() - 1, kind)
    return [found.get(i) for i in range(found.size() if found else 0)]


def _parse_query(spark: SparkSession, text: str):
    """``(text, plan)``: ``text`` with each ``tbl@ver`` spliced in as
    `` `tbl` VERSION AS OF 'ver' ``, parsed by Catalyst's ``query`` rule.
    A ref's ``@`` is an ``UNRECOGNIZED`` token of Spark's lexer: outside
    literals and comments."""
    if _AT_REF.search(text):
        ats = _of_type(spark, _tokens(spark, text), "UNRECOGNIZED")
        at = {tok.getStartIndex() for tok in ats}
        text = _AT_REF.sub(
            lambda m: f"`{m[1]}` VERSION AS OF '{m[2]}'" if m.end(1) in at else m[0],
            text,
        )
    return text, spark._jsparkSession.sessionState().sqlParser().parseQuery(text)


def _after_table(spark: SparkSession, text: str) -> set[int]:
    """Offsets of the names that follow a ``TABLE`` keyword token in
    ``text``: the ``t`` of a ``TABLE t`` query, which takes no alias."""
    if not _TABLE_WORD.search(text):
        return set()
    tokens, out = _tokens(spark, text), set()
    for tok in _of_type(spark, tokens, "TABLE"):
        i = tok.getTokenIndex() + 1
        while tokens.get(i).getChannel() != 0:  # whitespace, comments
            i += 1
        out.add(tokens.get(i).getStartIndex())
    return out


def _closes_paren(spark: SparkSession, gap: str) -> bool:
    """Whether ``gap``, the text between two tokens, holds a ``)`` token
    (not one in a comment)."""
    return ")" in gap and bool(_of_type(spark, _tokens(spark, gap), "RIGHT_PAREN"))


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
    """A SparkSession bound to a workspace mount. Workspace tables are read
    through parquet twins and bound to SQL as views registered once
    (module docstring)."""

    def __init__(self, spark: SparkSession, workspace_mount: str):
        self.spark = spark
        self.catalog = VersionedCatalog(workspace_mount)
        # Temp views are session-global, and each is named by what it
        # reads (_view), so a name never changes meaning. This lock guards
        # only a view's first registration; queries are analyzed and run
        # outside it.
        self._sql_lock = threading.Lock()
        self._views: set[str] = set()  # names this engine registered

    # -- resolution --------------------------------------------------------

    def table(self, name: str, workspace: str, version: str = LATEST) -> DataFrame:
        """Load a (possibly versioned) table as a DataFrame: resolve
        ``version`` (git ref → commit, reference http_server.rs:154-165),
        materialize the snapshot, read the table's file."""
        return self._read(self.catalog.workspace(workspace).table_path(name, version))

    def _read(self, path: str) -> DataFrame:
        """The one reader of a snapshot table, behind every spelling: a
        CSV/JSON file is served from its parquet twin (``read_any``)."""
        return read_any(self.spark, path, twin_dir=self.catalog.twin_dir)

    # -- SQL entry ---------------------------------------------------------

    def sql(self, query: str, workspace: str, version: str = LATEST) -> DataFrame:
        """Run SQL against versioned workspace tables.

        ``query`` must be one query; each table it reads is bound (module
        docstring) from the snapshot at ``version`` (default ``latest`` =
        HEAD, reference http_server.rs:106-110), or at ``ver`` for
        ``tbl@ver`` / ``tbl VERSION AS OF 'ver'``. Raises
        ``ParseException``, ``VersionNotFound`` (a version naming no
        commit), ``TableNotFound`` (no such table or CTE),
        ``UnsupportedRelation`` or ``DeniedCall``.
        """
        ws = self.catalog.workspace(workspace)
        return self.spark.sql(self._bind(query, ws, version))

    def _view(self, table: str, path: str) -> str:
        """Name of the temp view that reads ``table`` at ``path``,
        registered on first use: ``table@<hash of read_key(path)>``, so a
        changed file, option or inference conf gets a fresh view."""
        name = f"{table}@{read_key(self.spark, path)[2][:16]}"
        if name not in self._views:
            with self._sql_lock:
                if name not in self._views:
                    self._read(path).createOrReplaceTempView(_quote(name))
                    self._views.add(name)
        return name

    def _bind(self, query: str, ws, version: str) -> str:
        """The text to run for a workspace query: one parse, one walk of
        the plan, each table's view spliced in (module docstring)."""
        text, plan = _parse_query(self.spark, query)
        vet = _MAY_DENY.search(text) is not None
        no_alias = _after_table(self.spark, text)
        # version -> its snapshot: a query resolves each version it names
        # once, so two refs to one version read one commit
        snaps = {version: ws.snapshot(version)}
        paths: dict[str, str] = {}  # ref (tbl, or tbl@<commit>) -> data path
        binds: list[tuple[int, int, str, str]] = []  # start, stop, table, path
        aliases: list[tuple[int, str]] = []  # offset, table

        def bind(node, parent, rel, ref: str, snap_at: str) -> None:
            table = _single_name(rel)
            if rel.isStreaming():
                raise UnsupportedRelation(f"STREAM {table} is not a workspace table")
            if not rel.options().isEmpty():
                raise UnsupportedRelation(f"{table} WITH (...): tables take no options")
            path = find_table(snap_at, table)
            if path is None:
                raise TableNotFound(table)
            if paths.setdefault(ref, path) != path:
                raise UnsupportedRelation(f"{ref} names two different tables")
            start, stop = rel.origin().startIndex().get(), node.origin().stopIndex().get() + 1
            binds.append((start, stop, table, path))
            # without an alias of its own, the view takes the table's name
            # as its qualifier, at the end of the table clause
            kind = parent.nodeName() if parent is not None else None
            if start in no_alias or (
                kind in _ALIASES and parent.origin().startIndex().contains(start)
            ):
                return
            if kind in _SAMPLES:  # after it, unless it samples `(t)`
                sample = parent.origin()
                if not _closes_paren(self.spark, text[stop : sample.startIndex().get()]):
                    stop = sample.stopIndex().get() + 1
            aliases.append((stop, table))

        def walk(node, parent, ctes: set[str]) -> None:
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
                    bind(node, parent, node, name, snaps[version])
            elif kind == "RelationTimeTravel":
                rel = node.relation()
                if node.version().isEmpty() or rel.nodeName() != "UnresolvedRelation":
                    raise UnsupportedRelation("only VERSION AS OF '<ref>' time travel")
                at = node.version().get()
                if at not in snaps:
                    snaps[at] = ws.snapshot(at)
                # refs to one commit share a ref name (its snapshot dir's)
                ref = f"{_single_name(rel)}@{snapshot_commit(snaps[at])}"
                bind(node, parent, rel, ref, snaps[at])
            elif kind == "PlanWithUnresolvedIdentifier":
                raise UnsupportedRelation("IDENTIFIER(...) is not a workspace table")
            elif kind == "UnresolvedWith":
                # each CTE name is in scope after its definition (and in
                # its own body under WITH RECURSIVE); it shadows a table
                scope, recursive = set(ctes), node.allowRecursion()
                defs = node.cteRelations()
                for i in range(defs.size()):
                    name = defs.apply(i)._1().lower()
                    walk(defs.apply(i)._2(), node, scope | {name} if recursive else scope)
                    scope.add(name)
                walk(node.child(), node, scope)
            else:
                for kids in (node.children(), node.innerChildren()):
                    for i in range(kids.size()):
                        walk(kids.apply(i), node, ctes)

        walk(plan, None, set())
        splices = [(start, stop, _quote(self._view(table, path)))
                   for start, stop, table, path in binds]
        splices += [(at, at, f" AS {_quote(table)}") for at, table in aliases]
        for start, stop, piece in sorted(splices, reverse=True):
            text = text[:start] + piece + text[stop:]
        return text

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

        ws = self.catalog.workspace(workspace)
        return write_table_version(ws, df, table, message, tag=tag)
