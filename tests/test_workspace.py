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
from hypothesis import given, strategies as st

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


def test_version_as_of_sql(mount, spark):
    """Delta/Iceberg-style `VERSION AS OF` sugar resolves through the
    same git catalog as table@version."""
    from smallquery_spark.engine import Engine

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
    from smallquery_spark.engine import Engine, _mask_literals

    masked = _mask_literals("SELECT 'nation' AS s /* nation */ FROM `nation`")
    assert "'      '" in masked and "nation" in masked
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
    _git(repo, "add", "-A")
    _git(repo, "commit", "-m", "v1")
    return str(mount)


@pytest.mark.parametrize(
    "table", ["pfile", "pdir", "cfile", "cdir", "lfile", "jfile", "jdir"]
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
