"""Versioned-workspace catalog tests.

Covers reference semantics (SURVEY.md §5.2 items 3 & 5): path
sanitization (core.rs:30-46), version resolution order (ref name before
commit prefix, http_server.rs:154-165), default ``latest``
(http_server.rs:106-110), snapshot distinctness across versions
(http_server.rs:169-200), and the recursive listing shape
(http_server.rs:255-265).
"""

from __future__ import annotations

import os
import subprocess

import pytest
from hypothesis import given, settings, strategies as st

from smallquery_spark.catalog import VersionedCatalog, sanitize_path
from smallquery_spark.errors import PathNotFound, VersionNotFound, WorkspaceNotFound


# ---------------------------------------------------------------------------
# sanitize_path — property tests (reference core.rs:30-46)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    ("raw", "want"),
    [
        ("", ""),
        ("/", ""),
        (".", ""),
        ("..", ""),
        ("a/b.csv", "a/b.csv"),
        ("/a/b.csv", "a/b.csv"),
        ("./a/../b", "a/b"),  # components dropped, not resolved — ref semantics
        ("../../etc/passwd", "etc/passwd"),
        ("a//b", "a/b"),
    ],
)
def test_sanitize_examples(raw, want):
    assert sanitize_path(raw) == want


@given(st.text(max_size=60))
def test_sanitize_never_escapes_and_idempotent(raw):
    s = sanitize_path(raw)
    assert not s.startswith("/")
    assert ".." not in s.split("/")
    assert "." not in s.split("/") or s == ""
    assert sanitize_path(s) == s  # idempotent


# ---------------------------------------------------------------------------
# git workspace fixture: nation.csv with 2 commits + a tag
# ---------------------------------------------------------------------------


def _git(repo, *args):
    subprocess.run(
        ["git", "-C", repo, *args],
        check=True,
        capture_output=True,
        env={
            **os.environ,
            "GIT_AUTHOR_NAME": "t",
            "GIT_AUTHOR_EMAIL": "t@t",
            "GIT_COMMITTER_NAME": "t",
            "GIT_COMMITTER_EMAIL": "t@t",
        },
    )


@pytest.fixture(scope="module")
def mount(tmp_path_factory):
    mount = tmp_path_factory.mktemp("workspaces")
    repo = mount / "sales"
    repo.mkdir()
    _git(repo, "init", "-b", "main")
    (repo / "nation.csv").write_text(
        "n_nationkey,n_name\n0,ALGERIA\n1,ARGENTINA\n"
    )
    (repo / "docs").mkdir()
    (repo / "docs" / "readme.txt").write_text("v1 docs\n")
    _git(repo, "add", "-A")
    _git(repo, "commit", "-m", "v1")
    _git(repo, "tag", "v1")
    (repo / "nation.csv").write_text(
        "n_nationkey,n_name\n0,ALGERIA\n1,ARGENTINA\n2,BRAZIL\n"
    )
    _git(repo, "add", "-A")
    _git(repo, "commit", "-m", "v2")
    _git(repo, "tag", "v2")
    return str(mount)


def test_workspace_not_found(mount):
    with pytest.raises(WorkspaceNotFound):
        VersionedCatalog(mount).workspace("nope")


def test_version_resolution_and_latest(mount):
    ws = VersionedCatalog(mount).workspace("sales")
    head = ws.resolve_version()  # latest
    assert ws.resolve_version("v2") == head
    assert ws.resolve_version("main") == head
    v1 = ws.resolve_version("v1")
    assert v1 != head
    # commit-prefix resolution (reference: prefix checked after ref name)
    assert ws.resolve_version(v1[:8]) == v1
    with pytest.raises(VersionNotFound):
        ws.resolve_version("does-not-exist")


def _head(repo) -> str:
    return subprocess.run(
        ["git", "-C", repo, "rev-parse", "HEAD"],
        check=True, capture_output=True, text=True,
    ).stdout.strip()


def _commit(repo, text: str) -> str:
    """Write ``nation.csv`` holding ``text``, commit it; the commit id."""
    (repo / "nation.csv").write_text(text)
    _git(repo, "add", "-A")
    _git(repo, "commit", "-m", text.splitlines()[-1])
    return _head(repo)


@pytest.fixture
def fresh(tmp_path):
    """A fresh workspace ``ws``: commit ``a`` (lightweight tag ``dup``,
    annotated tag ``ann``), then commit ``b`` on ``main`` and on a branch
    ``dup``. Returns (mount, repo, a, b)."""
    repo = tmp_path / "ws"
    repo.mkdir()
    _git(repo, "init", "-b", "main")
    a = _commit(repo, "n_nationkey,n_name\n0,ALGERIA\n")
    _git(repo, "tag", "dup")
    _git(repo, "tag", "-a", "ann", "-m", "annotated")
    b = _commit(repo, "n_nationkey,n_name\n0,ALGERIA\n1,ARGENTINA\n")
    _git(repo, "branch", "dup")
    return str(tmp_path), repo, a, b


def test_version_forms_resolve_to_commits(fresh):
    """A branch wins over a tag of its name, an annotated tag peels to its
    commit, and a commit prefix and a full id each resolve."""
    mount, _repo, a, b = fresh
    ws = VersionedCatalog(mount).workspace("ws")
    assert ws.resolve_version("dup") == b
    assert ws.resolve_version("ann") == a
    assert ws.resolve_version(a[:7]) == a
    assert ws.resolve_version(a) == a
    assert ws.resolve_version() == ws.resolve_version("main") == b


@pytest.mark.parametrize(
    "version", ["main:nation.csv", "main^{tree}", "v1\nmain", "\x00", "main\x7f"]
)
def test_version_naming_no_commit_is_not_found(fresh, version):
    """A blob, a tree or a version holding a control character (a newline
    would add lines to the batch input) names no commit."""
    ws = VersionedCatalog(fresh[0]).workspace("ws")
    with pytest.raises(VersionNotFound):
        ws.resolve_version(version)
    with pytest.raises(VersionNotFound):
        ws.snapshot(version)


def test_latest_of_repo_without_commits_is_not_found(tmp_path):
    (tmp_path / "empty").mkdir()
    _git(tmp_path / "empty", "init", "-b", "main")
    with pytest.raises(VersionNotFound):
        VersionedCatalog(str(tmp_path)).workspace("empty").resolve_version()


class _CountingSubprocess:
    """``subprocess`` as the catalog module sees it, recording each run."""

    def __init__(self):
        self.runs: list[list[str]] = []

    def __getattr__(self, name):
        return getattr(subprocess, name)

    def run(self, args, *a, **k):
        self.runs.append(args)
        return subprocess.run(args, *a, **k)


def test_resolve_version_starts_one_process(fresh, monkeypatch):
    from smallquery_spark.catalog import workspace as ws_mod

    mount, _repo, a, b = fresh
    ws = VersionedCatalog(mount).workspace("ws")
    counting = _CountingSubprocess()
    monkeypatch.setattr(ws_mod, "subprocess", counting)
    for version, want in (
        ("latest", b), ("main", b), ("ann", a), (a[:7], a), (a, a)
    ):
        counting.runs.clear()
        assert ws.resolve_version(version) == want
        assert len(counting.runs) == 1, (version, counting.runs)


def test_gitws_read_resolves_once(mount, monkeypatch):
    """A tagcommit gitws read resolves its version once: its schema, its
    rows and their commit tag all come from that snapshot."""
    from smallquery_spark.catalog.workspace import Workspace
    from smallquery_spark.sources.gitws_datasource import GitWorkspaceDataSource

    calls = []
    resolve = Workspace.resolve_version

    def counting(self, version="latest"):
        calls.append(version)
        return resolve(self, version)

    monkeypatch.setattr(Workspace, "resolve_version", counting)
    source = GitWorkspaceDataSource(
        {"mount": mount, "workspace": "sales", "table": "nation",
         "version": "v1", "tagcommit": "true"}
    )
    reader = source.reader(source.schema())
    assert calls == ["v1"]
    assert reader._commit == resolve(VersionedCatalog(mount).workspace("sales"), "v1")


def test_gitws_read_is_of_one_commit(fresh, monkeypatch):
    """A commit landing right after a gitws read's snapshot changes
    neither the read's columns nor the commit its rows are tagged with."""
    from smallquery_spark.catalog.workspace import Workspace
    from smallquery_spark.sources.gitws_datasource import GitWorkspaceDataSource

    mount, repo, _a, b = fresh
    snapshot = Workspace.snapshot
    landed = []

    def snapshot_then_commit(self, version="latest"):
        snap = snapshot(self, version)
        if not landed:
            landed.append(_commit(repo, "n_nationkey,n_name,extra\n9,ZAMBIA,1\n"))
        return snap

    monkeypatch.setattr(Workspace, "snapshot", snapshot_then_commit)
    source = GitWorkspaceDataSource(
        {"mount": mount, "workspace": "ws", "table": "nation", "tagcommit": "true"}
    )
    schema = source.schema()
    reader = source.reader(schema)
    rows = [
        row
        for part in reader.partitions()
        for batch in reader.read(part)
        for row in batch.to_pylist()
    ]
    assert landed and landed[0] != b
    assert schema.fieldNames() == ["n_nationkey", "n_name", "commit"]
    assert all(list(r) == schema.fieldNames() for r in rows)
    assert sorted((r["n_name"], r["commit"]) for r in rows) == [
        ("ALGERIA", b), ("ARGENTINA", b)
    ]


def test_gitws_dataframe_reads_the_commit_it_was_loaded_at(fresh, spark):
    """Spark hands the data source that computed a gitws DataFrame's schema
    to its read: a commit landing between ``load()`` and ``collect()``
    changes neither its columns nor its rows."""
    from smallquery_spark.sources.gitws_datasource import GitWorkspaceDataSource

    mount, repo, _a, b = fresh
    spark.dataSource.register(GitWorkspaceDataSource)
    df = (
        spark.read.format("gitws").option("mount", mount).option("workspace", "ws")
        .option("table", "nation").option("tagcommit", "true").load()
    )
    _commit(repo, "n_nationkey,n_name,extra\n9,ZAMBIA,1\n")
    assert df.columns == ["n_nationkey", "n_name", "commit"]
    assert sorted((r.n_name, r.commit) for r in df.collect()) == [
        ("ALGERIA", b), ("ARGENTINA", b)
    ]


def test_snapshots_distinct_and_cached(mount):
    ws = VersionedCatalog(mount).workspace("sales")
    s1 = ws.snapshot("v1")
    s2 = ws.snapshot("v2")
    assert s1 != s2
    assert ws.snapshot("v1") == s1  # cached, content-addressed by commit
    assert ws.read_file("nation.csv", "v1").count("\n") == 3
    assert ws.read_file("nation.csv", "v2").count("\n") == 4
    assert ws.read_file("nation.csv") == ws.read_file("nation.csv", "v2")


def test_read_file_and_listing(mount):
    ws = VersionedCatalog(mount).workspace("sales")
    assert "v1 docs" in ws.read_file("docs/readme.txt", "v1")
    with pytest.raises(PathNotFound):
        ws.read_file("missing.csv")
    items = ws.list_dir("", "v1")
    rels = sorted(os.path.relpath(i, ws.snapshot("v1")) for i in items)
    assert rels == [".", "docs", "docs/readme.txt", "nation.csv"]
    with pytest.raises(PathNotFound):
        ws.list_dir("nope")


def test_versioned_query_e2e(mount, spark):
    """Same SQL at two versions returns the two snapshots (SURVEY §5.2.5)."""
    from smallquery_spark.engine import Engine

    eng = Engine(spark, workspace_mount=mount)
    n1 = eng.sql(
        "SELECT count(*) AS n FROM nation@v1", workspace="sales"
    ).collect()[0]["n"]
    n2 = eng.sql(
        "SELECT count(*) AS n FROM nation@v2", workspace="sales"
    ).collect()[0]["n"]
    nlatest = eng.sql(
        "SELECT count(*) AS n FROM nation", workspace="sales"
    ).collect()[0]["n"]
    assert (n1, n2) == (2, 3)
    assert nlatest == n2
    df = eng.table("nation", workspace="sales", version="v1")
    assert df.columns == ["n_nationkey", "n_name"]


V1_NAMES = ["ALGERIA", "ARGENTINA"]
HEAD_NAMES = [*V1_NAMES, "BRAZIL"]

# (query, n_name of its rows): every table-clause form; a relation
# without an alias is qualified by its table's name under every spelling
_CLAUSE_FORMS = (
    ("SELECT nation.n_name FROM nation", HEAD_NAMES),
    ("SELECT nation.n_name FROM nation@v1", V1_NAMES),
    ("SELECT nation.n_name FROM nation VERSION AS OF 'v1'", V1_NAMES),
    ("SELECT x.n_name FROM nation x", HEAD_NAMES),
    ("SELECT x.n_name FROM nation@v1 AS x", V1_NAMES),
    ("SELECT x.n_name FROM (nation) x", HEAD_NAMES),
    ("SELECT nation.n_name FROM nation TABLESAMPLE (100 PERCENT)", HEAD_NAMES),
    ("SELECT x.n_name FROM nation TABLESAMPLE (100 PERCENT) x", HEAD_NAMES),
    ("SELECT nation.n_name FROM nation@v1 TABLESAMPLE (100 PERCENT)", V1_NAMES),
    ("SELECT y.n_name FROM (nation@v1) TABLESAMPLE (100 PERCENT) y", V1_NAMES),
    ("SELECT n_name FROM (nation /* ) */) TABLESAMPLE (2 ROWS)", V1_NAMES),
    ("SELECT n_name FROM (TABLE nation)", HEAD_NAMES),
    ("TABLE /* no alias */ nation", HEAD_NAMES),
    ("FROM nation SELECT n_name", HEAD_NAMES),
    ("FROM nation@v1 SELECT nation.n_name", V1_NAMES),
)


def test_version_as_of_sql(mount, spark):
    """Delta/Iceberg-style `VERSION AS OF` sugar resolves through the
    same git catalog as table@version, in every table-clause form. An
    options clause is refused, and an unaliased plain and versioned ref
    to one table share its name as qualifier, as ``t JOIN t`` does."""
    from pyspark.errors import AnalysisException

    from smallquery_spark.engine import Engine
    from smallquery_spark.errors import UnsupportedRelation

    eng = Engine(spark, workspace_mount=mount)
    n1 = eng.sql(
        "SELECT count(*) AS n FROM nation VERSION AS OF 'v1'",
        workspace="sales",
    ).collect()[0]["n"]
    n2 = eng.sql(
        "SELECT count(*) AS n FROM nation version as of 'v2'",
        workspace="sales",
    ).collect()[0]["n"]
    assert (n1, n2) == (2, 3)
    for sql, want in _CLAUSE_FORMS:
        rows = eng.sql(sql, workspace="sales").collect()
        assert sorted(r["n_name"] for r in rows) == want, sql
    for sql in (
        "SELECT n_name FROM nation WITH ('a'='b')",
        "SELECT x.n_name FROM nation WITH ('a'='b') x",
    ):
        with pytest.raises(UnsupportedRelation, match="options"):
            eng.sql(sql, workspace="sales")
    with pytest.raises(AnalysisException, match="AMBIGUOUS_REFERENCE"):
        eng.sql(
            "SELECT nation.n_name FROM nation JOIN nation@v1 USING (n_nationkey)",
            workspace="sales",
        )
    rows = eng.sql(
        "SELECT a.n_name FROM nation a JOIN nation@v1 b USING (n_nationkey)",
        workspace="sales",
    ).collect()
    assert sorted(r["n_name"] for r in rows) == V1_NAMES


def test_query_resolves_each_version_once(mount, spark, monkeypatch):
    """A query resolves each version it names once, however many of its
    refs name it, so they all read one commit."""
    from smallquery_spark.catalog.workspace import Workspace
    from smallquery_spark.engine import Engine

    calls = []
    resolve = Workspace.resolve_version

    def counting(self, version="latest"):
        calls.append(version)
        return resolve(self, version)

    eng = Engine(spark, workspace_mount=mount)
    monkeypatch.setattr(Workspace, "resolve_version", counting)
    df = eng.sql(
        "SELECT a.n_name FROM nation@v1 a"
        " JOIN nation VERSION AS OF 'v1' b USING (n_nationkey)"
        " JOIN nation@latest c USING (n_nationkey)",
        workspace="sales",
    )
    assert sorted(calls) == ["latest", "v1"]
    assert sorted(r.n_name for r in df.collect()) == V1_NAMES


def test_at_version_in_string_literal_untouched(mount, spark):
    """ADVICE r1 (engine.py): @-tokens inside string literals / comments
    are NOT rewritten as versioned table refs, and a non-resolving
    foo@bar word outside a literal is left untouched instead of raising
    mid-rewrite."""
    from smallquery_spark.engine import Engine

    eng = Engine(spark, workspace_mount=mount)
    rows = eng.sql(
        "SELECT count(*) AS n FROM nation -- nation@v1 in a comment\n"
        "WHERE n_name <> 'bob@example.com'",
        workspace="sales",
    ).collect()
    assert rows[0]["n"] == 3  # latest, not v1


def test_identifier_scan_skips_literals(mount, spark):
    """A string literal naming a table must not trigger view
    registration; quoted identifiers DO count as table references."""
    from smallquery_spark.engine import Engine

    eng = Engine(spark, workspace_mount=mount)
    rows = eng.sql(
        "SELECT count(*) AS n, 'nation' AS tag FROM `nation`",
        workspace="sales",
    ).collect()
    assert rows[0]["n"] == 3 and rows[0]["tag"] == "nation"


def test_write_table_version_guard_and_noop(mount, spark, tmp_path):
    """VERDICT r1 item 6 + ADVICE r1: the git write path fails fast above
    the row cap, stages only the written table, and an unchanged write
    returns the existing commit id instead of erroring."""
    from smallquery_spark.catalog import VersionedCatalog
    from smallquery_spark.catalog.workspace import write_table_version

    ws = VersionedCatalog(mount).workspace("sales")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k int, s string")

    # stray file in the worktree must NOT be swept into the data version
    stray = os.path.join(ws.repo_dir, "stray.txt")
    with open(stray, "w") as f:
        f.write("scratch")
    c1 = write_table_version(ws, df, "tiny", "first write")
    out = subprocess.run(
        ["git", "-C", ws.repo_dir, "show", "--name-only", "--format=", c1],
        capture_output=True, text=True, check=True,
    ).stdout
    assert "tiny.csv" in out and "stray" not in out
    os.remove(stray)

    # identical content → same commit id back, no empty-commit error
    c2 = write_table_version(ws, df, "tiny", "no-op write")
    assert c2 == c1

    # row cap guard fires BEFORE collecting
    big = spark.range(0, 50)
    with pytest.raises(ValueError, match="small-result"):
        write_table_version(ws, big, "big", "too big", max_rows=10)


def test_write_table_version_is_one_collect(mount, spark):
    """A write launches exactly the jobs of one bounded Arrow collect, and
    the row cap still fails one row over the limit."""
    from smallquery_spark.catalog.workspace import write_table_version
    from tests.conftest import spark_jobs

    ws = VersionedCatalog(mount).workspace("sales")
    df = spark.range(0, 20).selectExpr("id", "id * 2 AS v")
    collect, _ = spark_jobs(spark, lambda: df.limit(21)._collect_as_arrow())
    write, commit = spark_jobs(
        spark, lambda: write_table_version(ws, df, "onecollect", "w", max_rows=20)
    )
    assert write == collect >= 1
    assert ws.read_file("onecollect.csv", commit).count("\n") == 21
    with pytest.raises(ValueError, match="small-result"):
        write_table_version(ws, df, "onecollect", "too big", max_rows=19)


def test_gitws_stream_arity_without_tagcommit(mount, spark):
    """ADVICE r1 (gitws): plain readStream (no tagcommit) must emit rows
    matching schema() — no extra commit field; with tagcommit=true the
    commit column is declared AND populated."""
    from smallquery_spark.sources.gitws_datasource import (
        GitWorkspaceDataSource,
        GitWorkspaceStreamReader,
    )

    opts = {"mount": mount, "workspace": "sales", "table": "nation"}
    plain = GitWorkspaceStreamReader(opts, None)
    rows, end = plain.read({"n": 0})
    rows = list(rows)
    assert end["n"] >= 2
    assert all(len(r) == 2 for r in rows)  # n_nationkey, n_name only

    tagged = GitWorkspaceStreamReader({**opts, "tagcommit": "true"}, None)
    trows = list(tagged.read({"n": 0})[0])
    assert all(len(r) == 3 for r in trows)

    # readBetweenOffsets honors BOTH offsets: replaying [0, 1) yields
    # only the first commit's snapshot (2 rows), not the whole history
    replay = list(tagged.readBetweenOffsets({"n": 0}, {"n": 1}))
    assert len(replay) == 2
    assert len(replay) < len(trows)


def test_gitws_stream_surfaces_snapshot_errors(mount, monkeypatch):
    """Only a table absent at a commit is skipped: a git or IO failure
    while reading a commit's snapshot raises, it does not drop its rows."""
    from smallquery_spark.catalog.workspace import Workspace
    from smallquery_spark.sources.gitws_datasource import GitWorkspaceStreamReader

    reader = GitWorkspaceStreamReader(
        {"mount": mount, "workspace": "sales", "table": "nation"}, None
    )
    commits = reader._history()

    def broken(self, commit):
        raise OSError("disk gone")

    monkeypatch.setattr(Workspace, "extract", broken)
    with pytest.raises(OSError, match="disk gone"):
        reader._rows_for(commits)


def test_gitws_history_replay_resolves_nothing(fresh, monkeypatch):
    """The stream's first batch extracts each commit from ``git log`` by
    its full id: no ``cat-file`` resolve per commit."""
    from smallquery_spark.catalog import workspace as ws_mod
    from smallquery_spark.sources.gitws_datasource import GitWorkspaceStreamReader

    mount, repo, _a, _b = fresh
    _commit(repo, "n_nationkey,n_name\n0,ALGERIA\n1,ARGENTINA\n2,BRAZIL\n")
    reader = GitWorkspaceStreamReader(
        {"mount": mount, "workspace": "ws", "table": "nation"}, None
    )
    counting = _CountingSubprocess()
    monkeypatch.setattr(ws_mod, "subprocess", counting)
    rows, end = reader.read({"n": 0})
    assert end == {"n": 3}
    assert len(list(rows)) == 1 + 2 + 3
    assert [r for r in counting.runs if "cat-file" in r] == []


@pytest.fixture(scope="module")
def lookup_mount(tmp_path_factory, spark):
    """One snapshot holding ``t.csv`` (3 rows) next to a Spark-written
    ``t.parquet/`` directory (5 rows), a ``facts.parquet/`` directory with
    no CSV, and a ``docs/`` directory that is not a table."""
    mount = tmp_path_factory.mktemp("lookup")
    repo = mount / "ws"
    repo.mkdir()
    _git(repo, "init", "-b", "main")
    (repo / "t.csv").write_text("id\n1\n2\n3\n")
    spark.range(5).write.parquet(str(repo / "t.parquet"))
    spark.range(7).write.parquet(str(repo / "facts.parquet"))
    (repo / "docs").mkdir()
    (repo / "docs" / "README.md").write_text("not a table\n")
    _git(repo, "add", "-A")
    _git(repo, "commit", "-m", "v1")
    _git(repo, "tag", "v1")
    return str(mount)


def test_one_lookup_rule_for_every_spelling(lookup_mount, spark):
    """Plain name, name@ver, VERSION AS OF and Engine.table all resolve
    ``t`` to the same snapshot file (parquet before csv); a Spark-written
    directory is a table by plain name; ``docs/`` is not a table."""
    from smallquery_spark.engine import Engine

    eng = Engine(spark, workspace_mount=lookup_mount)

    def n(sql):
        return eng.sql(sql, workspace="ws").collect()[0]["n"]

    assert n("SELECT count(*) AS n FROM t") == 5
    assert n("SELECT count(*) AS n FROM t@latest") == 5
    assert n("SELECT count(*) AS n FROM t VERSION AS OF 'v1'") == 5
    assert eng.table("t", workspace="ws").count() == 5
    assert n("SELECT count(*) AS n FROM facts") == 7
    # `docs` used only as an alias: nothing is registered under it
    assert n("SELECT count(docs.id) AS n FROM t docs") == 5
    ws = VersionedCatalog(lookup_mount).workspace("ws")
    assert ws.table_path("t").endswith("t.parquet")
    with pytest.raises(PathNotFound):
        ws.table_path("docs")


def test_gitws_write_unchanged_content_makes_no_commit(mount, spark):
    """The gitws sink shares write_table_version's git writer: writing
    the same rows again returns the existing commit and still tags it."""
    from smallquery_spark.sources.gitws_datasource import GitWorkspaceDataSource

    spark.dataSource.register(GitWorkspaceDataSource)
    ws = VersionedCatalog(mount).workspace("sales")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k int, s string").coalesce(1)

    def write(tag):
        (
            df.write.format("gitws").mode("append")
            .option("mount", mount).option("workspace", "sales")
            .option("table", "same").option("tag", tag).save()
        )
        return ws.resolve_version(tag)

    first = write("same1")
    assert write("same2") == first == ws.resolve_version()


_FORM_ROWS = {(1, "a"), (2, "b")}


@pytest.fixture(scope="module")
def forms_mount(tmp_path_factory, spark):
    """The same two rows in every table form ``find_table`` returns: a
    parquet, CSV, JSON-lines or JSON file, or a Spark-written directory."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    mount = tmp_path_factory.mktemp("forms")
    repo = mount / "ws"
    repo.mkdir()
    _git(repo, "init", "-b", "main")
    pq.write_table(
        pa.table({"k": [1, 2], "s": ["a", "b"]}), str(repo / "pfile.parquet")
    )
    (repo / "cfile.csv").write_text("k,s\n1,a\n2,b\n")
    lines = '{"k": 1, "s": "a"}\n{"k": 2, "s": "b"}\n'
    (repo / "lfile.jsonl").write_text(lines)
    (repo / "jfile.json").write_text(lines)
    df = spark.createDataFrame(sorted(_FORM_ROWS), "k long, s string").repartition(2)
    df.write.parquet(str(repo / "pdir.parquet"))
    df.write.option("header", True).csv(str(repo / "cdir.csv"))
    df.write.json(str(repo / "jdir.json"))
    # directories whose first part file is empty, as a partitioner leaves
    # them when the first task gets no rows
    for name, part in (("cempty.csv", "k,s\n1,a\n2,b\n"), ("jempty.json", lines)):
        ext = os.path.splitext(name)[1]
        (repo / name).mkdir()
        (repo / name / f"part-00000{ext}").write_text("")
        (repo / name / f"part-00001{ext}").write_text(part)
        (repo / name / "_SUCCESS").write_text("")
    _git(repo, "add", "-A")
    _git(repo, "commit", "-m", "v1")
    return str(mount)


@pytest.mark.parametrize(
    "table",
    ["pfile", "pdir", "cfile", "cdir", "lfile", "jfile", "jdir", "cempty", "jempty"],
)
def test_gitws_reads_every_table_form(forms_mount, spark, table):
    """gitws batch and stream reads return the rows Engine.table reads."""
    from smallquery_spark.engine import Engine
    from smallquery_spark.sources.gitws_datasource import (
        GitWorkspaceDataSource,
        GitWorkspaceStreamReader,
    )

    opts = {"mount": forms_mount, "workspace": "ws", "table": table}
    spark.dataSource.register(GitWorkspaceDataSource)
    batch = spark.read.format("gitws").options(**opts).load().collect()
    assert {(r["k"], r["s"]) for r in batch} == _FORM_ROWS
    assert len(batch) == 2
    stream = list(GitWorkspaceStreamReader(opts, None).read({"n": 0})[0])
    assert sorted(stream) == sorted(_FORM_ROWS)
    native = Engine(spark, workspace_mount=forms_mount).table(table, workspace="ws")
    assert {(r["k"], r["s"]) for r in native.collect()} == _FORM_ROWS


# ---------------------------------------------------------------------------
# Engine.sql binding: one Catalyst parse decides what a query reads
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def two_mount(tmp_path_factory):
    """Workspace ``a`` holds ``secret`` and ``t``; workspace ``b`` holds
    only ``t``."""
    mount = tmp_path_factory.mktemp("two")
    for name, tables in (("a", ("secret", "t")), ("b", ("t",))):
        repo = mount / name
        repo.mkdir()
        _git(repo, "init", "-b", "main")
        for tbl in tables:
            (repo / f"{tbl}.csv").write_text("k,v\n1,10\n2,20\n")
        _git(repo, "add", "-A")
        _git(repo, "commit", "-m", "v1")
    return str(mount)


def test_unknown_table_never_reads_another_workspace(two_mount, spark):
    """A name that is not a table in the queried workspace raises
    TableNotFound, even after another workspace's query registered a
    view under that name in the shared session, and even when a CTE of
    the same name reads it from its own body."""
    from smallquery_spark.engine import Engine
    from smallquery_spark.errors import TableNotFound

    eng = Engine(spark, workspace_mount=two_mount)
    sql = "SELECT sum(v) AS s FROM secret"
    assert eng.sql(sql, workspace="a").collect()[0]["s"] == 30
    with pytest.raises(TableNotFound, match="secret"):
        eng.sql(sql, workspace="b")
    with pytest.raises(TableNotFound, match="secret"):
        eng.sql(
            "WITH secret AS (SELECT * FROM secret) SELECT sum(v) AS s FROM secret",
            workspace="b",
        )
    assert eng.sql("SELECT sum(v) AS s FROM t", workspace="b").collect()[0]["s"] == 30


_PROP_TABLES = ("alpha", "beta", "gamma")


@pytest.fixture(scope="module")
def prop_mount(tmp_path_factory):
    """One workspace with three tables of the same shape, tagged ``v1``."""
    mount = tmp_path_factory.mktemp("props")
    repo = mount / "ws"
    repo.mkdir()
    _git(repo, "init", "-b", "main")
    for tbl in _PROP_TABLES:
        (repo / f"{tbl}.csv").write_text("k,v\n1,10\n2,20\n")
    _git(repo, "add", "-A")
    _git(repo, "commit", "-m", "v1")
    _git(repo, "tag", "v1")
    return str(mount)


@st.composite
def _query_and_reads(draw):
    """(SQL, the tables it reads). Table names also appear where nothing
    is read: in literals (after a raw string) and comments (next to
    ``@``), as aliases, and as CTE names that shadow the table. The main
    relation takes every table-clause form (own alias, parentheses,
    TABLESAMPLE, none) and its columns are qualified by its alias, or by
    the table's name when it has none."""
    table = st.sampled_from(_PROP_TABLES)
    reads = set()
    spellings = ("plain", "quoted", "at", "as_of")

    def ref(in_scope, allowed=spellings):
        name = draw(table)
        spelling = draw(st.sampled_from(allowed))
        if spelling in ("at", "as_of") or name not in in_scope:
            reads.add(name)
        return name, {
            "plain": name,
            "quoted": f"`{name}`",
            "at": f"{name}@v1",
            "as_of": f"{name} VERSION AS OF 'v1'",
        }[spelling]

    def noise():
        t1, t2 = draw(table), draw(table)
        return draw(st.sampled_from((
            f"-- {t1}@v1 FROM {t2}\n",
            f"/* FROM {t1}@v1 JOIN {t2} */ ",
            "",
        )))

    ctes = draw(st.lists(table, unique=True, max_size=2))
    defs = []
    for i, name in enumerate(ctes):
        body = "SELECT 1 AS k, 2 AS v"
        if draw(st.booleans()):
            body = f"SELECT k, v FROM {ref(ctes[:i])[1]}"
        defs.append(f"{name} AS ({body})")
    with_ = f"WITH {', '.join(defs)} " if defs else ""
    alias = draw(table)
    name, main = ref(ctes)
    main, qual = draw(st.sampled_from((
        (f"{main} AS {alias}", alias),
        (f"{main} {alias}", alias),
        (f"({main}) {alias}", alias),
        (f"{main} TABLESAMPLE (100 PERCENT) {alias}", alias),
        (f"({main}) TABLESAMPLE (100 PERCENT) {alias}", alias),
        (f"{main} TABLESAMPLE (100 PERCENT)", name),
        (main, name),
    )))
    # a raw string ending in a backslash: it ends at that quote in Spark's
    # lexer, so the next literal's `@` stays inside a literal
    raw = draw(st.sampled_from(("", "r'C:\\' AS p, ")))
    lit = f"{raw}'{draw(table)}@v1 -- {draw(table)} /* {draw(table)} */'"
    pred = draw(st.sampled_from((
        " WHERE {q}.k IN (SELECT k FROM {r})",
        " WHERE EXISTS (SELECT 1 FROM {r} WHERE k > 0)",
        " WHERE EXISTS (TABLE {t})",
        "",
    )))
    if pred:
        tbl = ref(ctes, ("plain", "quoted"))[1] if "{t}" in pred else ""
        rel = ref(ctes)[1] if "{r}" in pred else ""
        pred = pred.format(q=qual, r=rel, t=tbl)
    select = f"SELECT {lit} AS s, count(*) AS n, max({qual}.k) AS m {noise()}"
    sql = draw(st.sampled_from((
        f"{noise()}{with_}{select}FROM {main}{pred}",
        f"{noise()}{with_}FROM {main} {select}{pred}",
    )))
    return sql, reads


@settings(max_examples=40, deadline=None)
@given(case=_query_and_reads())
def test_sql_reads_exactly_the_referenced_tables(prop_mount, spark, case):
    """Engine.sql calls read_any for each table the query reads and for
    nothing else, and the query analyzes."""
    from unittest import mock

    from smallquery_spark import engine as engine_mod

    sql, reads = case
    eng = engine_mod.Engine(spark, workspace_mount=prop_mount)
    real, read = engine_mod.read_any, []

    def recording(spark_, path, **kw):
        read.append(os.path.splitext(os.path.basename(path))[0])
        return real(spark_, path, **kw)

    with mock.patch.object(engine_mod, "read_any", recording):
        df = eng.sql(sql, workspace="ws")
    assert set(read) == reads, sql
    assert df.columns[-3:] == ["s", "n", "m"], sql


def test_long_identifier_before_many_at_signs_binds_fast(prop_mount, spark):
    """Finding the table part of each ``tbl@ver`` costs time linear in the
    query: a long identifier followed by thousands of ``@`` refs fails to
    parse within seconds, it does not stall the engine."""
    import time

    from pyspark.errors import ParseException

    from smallquery_spark.engine import Engine

    eng = Engine(spark, workspace_mount=prop_mount)
    sql = "SELECT 1 AS " + "a" * 20000 + " x@v" * 2000
    t0 = time.perf_counter()
    with pytest.raises(ParseException):
        eng.sql(sql, workspace="ws")
    assert time.perf_counter() - t0 < 10


@pytest.fixture(scope="module")
def collide_mount(tmp_path_factory):
    """Table ``t`` at three commits: sum(v) 10 at tag ``v1.0``, 20 at tag
    ``v1_0``, 30 at HEAD, where tables ``t__v1_0`` (sum 40) and
    ``t@<commit of v1.0>`` (sum 50) sit next to it. Returns (mount, that
    commit)."""
    mount = tmp_path_factory.mktemp("collide")
    repo = mount / "ws"
    repo.mkdir()
    _git(repo, "init", "-b", "main")
    for v, tag in ((10, "v1.0"), (20, "v1_0"), (30, None)):
        (repo / "t.csv").write_text(f"k,v\n1,{v}\n")
        if tag is None:
            (repo / "t__v1_0.csv").write_text("k,v\n1,40\n")
            (repo / f"t@{first}.csv").write_text("k,v\n1,50\n")
        _git(repo, "add", "-A")
        _git(repo, "commit", "-m", str(v))
        if tag:
            _git(repo, "tag", tag)
        if tag == "v1.0":
            first = subprocess.run(
                ["git", "-C", repo, "rev-parse", "HEAD"], capture_output=True, text=True
            ).stdout.strip()
    return str(mount), first


def test_versioned_refs_never_share_a_view_with_other_tables(collide_mount, spark):
    """Each versioned ref reads its own commit's table: ``t@v1.0`` and
    ``t@v1_0`` differ, and neither reads the plain table ``t__v1_0``. A
    plain name equal to a versioned ref's view name is refused."""
    from smallquery_spark.engine import Engine
    from smallquery_spark.errors import UnsupportedRelation

    mount, first = collide_mount
    eng = Engine(spark, workspace_mount=mount)
    row = eng.sql(
        "SELECT (SELECT sum(v) FROM t__v1_0) AS plain,"
        " (SELECT sum(v) FROM t@v1.0) AS dot,"
        " (SELECT sum(v) FROM t VERSION AS OF 'v1_0') AS under,"
        " (SELECT sum(v) FROM t) AS head",
        workspace="ws",
    ).collect()[0]
    assert row.asDict() == {"plain": 40, "dot": 10, "under": 20, "head": 30}
    at_name = f"SELECT sum(v) AS s FROM `t@{first}`"
    assert eng.sql(at_name, workspace="ws").collect()[0]["s"] == 50
    with pytest.raises(UnsupportedRelation, match="two different tables"):
        eng.sql(f"SELECT * FROM `t@{first}` JOIN t@v1.0 USING (k)", workspace="ws")


def test_b05_write_version_leaves_the_environment_alone(spark, tmp_path, monkeypatch):
    """The registered write query commits under the engine's own git
    identity (``commit_table``'s ``-c user.*``) and adds or changes no
    environment variable of the process."""
    from smallquery_spark.queries import sources_sinks
    from tests.conftest import SF_SMOKE

    monkeypatch.setattr(sources_sinks, "_WORK", str(tmp_path))
    before = dict(os.environ)
    assert sources_sinks.b05_write_version(spark, SF_SMOKE).count() > 0
    assert {k: v for k, v in os.environ.items() if before.get(k) != v} == {}
    repo = tmp_path / os.path.basename(SF_SMOKE) / "workspaces" / "ws"
    author = subprocess.run(
        ["git", "-C", str(repo), "log", "-1", "--format=%an", "derived1"],
        capture_output=True, text=True, check=True,
    ).stdout.strip()
    assert author == "smallquery"
