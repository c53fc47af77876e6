"""HTTP server parity tests (reference routes, http_server.rs:22-37)."""

from __future__ import annotations

import json
import os
import subprocess
import urllib.request
from urllib.parse import quote

import pytest


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
def server(tmp_path_factory, spark):
    from smallquery_spark.engine import Engine
    from smallquery_spark.server import serve

    mount = tmp_path_factory.mktemp("ws_http")
    repo = mount / "demo"
    repo.mkdir()
    _git(repo, "init", "-b", "main")
    (repo / "nums.csv").write_text("k,v\n1,10\n2,20\n3,30\n")
    _git(repo, "add", "-A")
    _git(repo, "commit", "-m", "v1")
    _git(repo, "tag", "v1")
    (repo / "nums.csv").write_text("k,v\n1,10\n2,20\n3,30\n4,40\n")
    _git(repo, "add", "-A")
    _git(repo, "commit", "-m", "v2")

    eng = Engine(spark, workspace_mount=str(mount))
    srv = serve(eng, str(mount), port=0, background=True)
    port = srv.server_address[1]
    yield f"http://127.0.0.1:{port}"
    srv.shutdown()


def _get(url: str) -> tuple[int, str]:
    try:
        with urllib.request.urlopen(url) as r:
            return r.status, r.read().decode()
    except urllib.error.HTTPError as e:
        return e.code, e.read().decode()


def test_health(server):
    status, body = _get(f"{server}/health")
    assert (status, body) == (200, "OK")


def test_index_and_workspace_list(server):
    status, body = _get(f"{server}/")
    assert status == 200
    status, body = _get(f"{server}/workspaces")
    assert status == 200 and "demo" in body


def test_file_read_and_listing(server):
    status, body = _get(f"{server}/workspaces/demo?path=nums.csv")
    assert status == 200 and "4,40" in body
    status, body = _get(f"{server}/workspaces/demo?path=nums.csv&version=v1")
    assert status == 200 and "4,40" not in body and "3,30" in body
    status, body = _get(f"{server}/workspaces/demo")
    assert status == 200 and "nums.csv" in body


def test_errors(server):
    status, body = _get(f"{server}/workspaces/nope")
    assert status == 404 and "workspace not found" in body
    status, body = _get(f"{server}/workspaces/demo?path=ghost.csv")
    assert status == 404 and "not found" in body
    status, body = _get(f"{server}/workspaces/demo?version=zzz")
    assert status == 404 and "version not found" in body
    # a blob, a control character and a tree name no commit
    for version in ("main:nums.csv", "%00", "main%5E%7Btree%7D"):
        for route in ("", "/query?sql=SELECT+k+FROM+nums&"):
            url = f"{server}/workspaces/demo{route or '?'}version={version}"
            status, body = _get(url)
            assert status == 404 and "version not found" in body, url


def test_sql_query_endpoint(server):
    status, body = _get(
        f"{server}/workspaces/demo/query?sql=SELECT+sum(v)+AS+s+FROM+nums&format=json"
    )
    assert status == 200
    assert json.loads(body) == [{"s": 100}]
    status, body = _get(
        f"{server}/workspaces/demo/query?sql=SELECT+sum(v)+AS+s+FROM+nums&format=json&version=v1"
    )
    assert json.loads(body) == [{"s": 60}]


def test_chart_and_pdf_endpoints(server):
    status, body = _get(
        f"{server}/workspaces/demo/query?"
        "sql=SELECT+v,+v*2+AS+y+FROM+nums&format=svg"
    )
    assert status == 200
    assert body.startswith("<svg") and body.count("<rect") > 0

    import urllib.request

    with urllib.request.urlopen(
        f"{server}/workspaces/demo/query?sql=SELECT+*+FROM+nums&format=pdf"
    ) as resp:
        raw = resp.read()
    assert resp.headers["Content-Type"] == "application/pdf"
    assert raw.startswith(b"%PDF-1.4") and raw.rstrip().endswith(b"%%EOF")


def test_web_assets_route(server):
    """A8 parity: embedded assets served as text/css; 404 on missing
    (reference web.rs:7-20)."""
    import urllib.request

    with urllib.request.urlopen(f"{server}/web_assets/styles.css") as r:
        assert r.status == 200
        assert r.headers["Content-Type"].startswith("text/css")
        assert "bg-red" in r.read().decode()
    status, _ = _get(f"{server}/web_assets/nope.css")
    assert status == 404
    # traversal out of the asset dir is a 404, not a file read
    status, _ = _get(f"{server}/web_assets/../engine.py")
    assert status == 404


def test_template_sections(server):
    """A7 template-structure parity: found_file / found_directory render
    through the page layout with Workspace Logs / Workspace Query
    Results sections (reference templates/found_file.hbs:7-14)."""
    status, body = _get(f"{server}/workspaces/demo?path=nums.csv")
    assert status == 200
    assert "Found file" in body
    assert "Workspace Logs:" in body and "Workspace Query Results:" in body
    assert "/web_assets/styles.css" in body and "bg-red" in body
    status, body = _get(f"{server}/workspaces/demo")
    assert status == 200 and "Found directory" in body
    status, body = _get(f"{server}/workspaces/nope")
    assert status == 404 and "<h1>Error</h1>" in body


def test_sql_literal_with_at_sign(server):
    """ADVICE r1: an @-token inside a string literal must not be parsed
    as table@version (engine.py literal masking). Likewise a denied
    function's name as a literal or a column name is not a call."""
    for sql in (
        "SELECT count(*) AS n FROM nums WHERE 'bob@example.com' <> ''",
        "SELECT count(*) AS n FROM nums WHERE 'reflect' <> 'java_method'",
        "SELECT count(reflect) AS n FROM (SELECT k AS reflect FROM nums)",
    ):
        status, body = _get(
            f"{server}/workspaces/demo/query?format=json&sql={quote(sql)}"
        )
        assert status == 200, sql
        assert json.loads(body) == [{"n": 4}], sql


def test_concurrent_queries_different_versions(server):
    """ADVICE r1 TOCTOU: concurrent /query requests pinning different
    versions of the same table name must not cross-contaminate."""
    import concurrent.futures

    def hit(rel, version, expect):
        sql = quote(f"SELECT sum(v) AS s FROM {rel}")
        url = f"{server}/workspaces/demo/query?sql={sql}&format=json&version={version}"
        status, body = _get(url)
        return status == 200 and json.loads(body) == [{"s": expect}]

    jobs = [
        ("nums", "v1", 60),
        ("nums", "latest", 100),
        ("nums@v1", "latest", 60),
        ("nums VERSION AS OF 'v1'", "latest", 60),
    ] * 8
    with concurrent.futures.ThreadPoolExecutor(max_workers=8) as ex:
        results = list(ex.map(lambda a: hit(*a), jobs))
    assert all(results)


def test_client_mistakes_are_400(server):
    """A bad ``limit``, an unknown ``format``, SQL that does not parse
    or analyze, or SQL that would run code on the server's host is the
    client's mistake: 400 with the error page, not a 500."""
    base = f"{server}/workspaces/demo/query?format=json&sql="
    for limit in ("ten", "-1", "1.5", str(2**31)):
        status, body = _get(f"{base}SELECT+k+FROM+nums&limit={limit}")
        assert status == 400 and "limit" in body, limit
    status, body = _get(f"{base}SELECT+k+FROM+nums&limit=2")
    assert status == 200 and len(json.loads(body)) == 2
    status, body = _get(f"{base}SELEC+k+FRM+nums")  # parse error
    assert status == 400 and "<h1>Error</h1>" in body
    status, body = _get(f"{base}SELECT+no_such_col+FROM+nums")  # analysis
    assert status == 400 and "no_such_col" in body
    status, body = _get(
        f"{server}/workspaces/demo/query?sql=SELECT+k+FROM+nums&format=xml"
    )
    assert status == 400 and "xml" in body and "html, json, csv, svg, pdf" in body
    for sql, name in (
        ("SELECT reflect('java.lang.System', 'getProperty', 'java.version')", "reflect"),
        ("SELECT k FROM nums WHERE k IN (SELECT JAVA_METHOD('a', 'b'))", "java_method"),
        ("SELECT transform(array(k), x -> system.builtin.try_reflect('a', 'b')) FROM nums",
         "try_reflect"),
        ("SELECT * FROM explode(array(reflect('a', 'b')))", "reflect"),
        ("SELECT IDENTIFIER('refl' || 'ect')('a', 'b')", "IDENTIFIER"),
        ("SELECT TRANSFORM(k) USING 'cat' FROM nums", "TRANSFORM"),
    ):
        status, body = _get(base + quote(sql))
        assert status == 400 and name in body, sql


def test_internal_error_reply_hides_details(server, monkeypatch):
    """An unexpected failure is a 500 whose body does not echo it."""
    from smallquery_spark.engine import Engine

    def boom(self, *args, **kwargs):
        raise RuntimeError("/secret/path")

    monkeypatch.setattr(Engine, "sql", boom)
    status, body = _get(f"{server}/workspaces/demo/query?sql=SELECT+1")
    assert status == 500 and "/secret/path" not in body


def test_query_reads_only_workspace_tables(server, spark, tmp_path):
    """A relation other than a workspace table's plain name is a 400
    before Spark runs: a file outside the mount, another catalog's name,
    ``IDENTIFIER(...)``, ``TIMESTAMP AS OF``. An unknown table is a 404."""
    outside = str(tmp_path / "outside.parquet")
    spark.range(3).write.parquet(outside)
    base = f"{server}/workspaces/demo/query?format=json&sql="
    for sql in (
        f"SELECT count(*) AS n FROM parquet.`{outside}`",
        "SELECT * FROM default.nums",
        "SELECT * FROM global_temp.nums",
        "SELECT * FROM IDENTIFIER('nums')",
        "SELECT * FROM nums TIMESTAMP AS OF '2020-01-01'",
    ):
        status, body = _get(base + quote(sql))
        assert status == 400 and "<h1>Error</h1>" in body, sql
    status, body = _get(base + quote("SELECT * FROM ghost"))
    assert status == 404 and "table not found" in body


def test_only_queries_are_admitted(server, spark):
    """``SET`` and CTAS over /query are 400 and change nothing in the
    engine's session."""
    before = spark.conf.get("spark.sql.ansi.enabled")
    base = f"{server}/workspaces/demo/query?format=json&sql="
    try:
        for sql in (
            "SET spark.sql.ansi.enabled=true",
            "CREATE TABLE ctas_t AS SELECT * FROM nums",
        ):
            status, body = _get(base + quote(sql))
            assert status == 400 and "<h1>Error</h1>" in body, sql
        assert spark.conf.get("spark.sql.ansi.enabled") == before
        assert not spark.catalog.tableExists("ctas_t")
    finally:
        spark.conf.set("spark.sql.ansi.enabled", before)
        spark.sql("DROP TABLE IF EXISTS ctas_t")


def test_each_reply_runs_its_query_once(server, spark, monkeypatch):
    """Every /query format renders from one collect of ``df.limit(n)``."""
    df_cls = type(spark.range(1))
    calls = []
    collect = df_cls.collect

    def counting(self):
        calls.append(1)
        return collect(self)

    monkeypatch.setattr(df_cls, "collect", counting)
    for fmt in ("json", "csv", "html", "svg", "pdf"):
        calls.clear()
        with urllib.request.urlopen(
            f"{server}/workspaces/demo/query?sql=SELECT+k,+v+FROM+nums&format={fmt}"
        ) as r:
            assert r.status == 200
            body = r.read()
        assert len(calls) == 1, fmt
        assert b"40" in body, fmt


def test_query_csv_quotes_what_needs_it(server):
    """format=csv is CSV: a value or alias holding a comma, a quote or a
    newline is quoted, and plain values (NULL as ``None``) are written
    as they are, with no newline after the last row."""
    import csv
    import io

    status, body = _get(
        f"{server}/workspaces/demo/query?format=csv&sql="
        + quote("SELECT k, v FROM nums ORDER BY k")
    )
    assert (status, body) == (200, "k,v\n1,10\n2,20\n3,30\n4,40")

    sql = (
        "SELECT k, 'a,b' AS `x,y`, 'say \"hi\"' AS q,"
        " concat('l1', char(10), 'l2') AS nl, CAST(NULL AS STRING) AS n"
        " FROM nums WHERE k = 1"
    )
    status, body = _get(
        f"{server}/workspaces/demo/query?format=csv&sql=" + quote(sql)
    )
    assert status == 200, body
    assert list(csv.reader(io.StringIO(body))) == [
        ["k", "x,y", "q", "nl", "n"],
        ["1", "a,b", 'say "hi"', "l1\nl2", "None"],
    ]


def test_browse_resolves_version_once(server, monkeypatch):
    """A file read and a listing at a tag each resolve the version once."""
    from smallquery_spark.catalog.workspace import Workspace

    calls = []
    resolve = Workspace.resolve_version

    def counting(self, version="latest"):
        calls.append(version)
        return resolve(self, version)

    monkeypatch.setattr(Workspace, "resolve_version", counting)
    status, body = _get(f"{server}/workspaces/demo?path=nums.csv&version=v1")
    assert status == 200 and "3,30" in body and "4,40" not in body
    assert calls == ["v1"]
    calls.clear()
    status, body = _get(f"{server}/workspaces/demo?version=v1")
    assert status == 200 and "<li>nums.csv</li>" in body
    assert calls == ["v1"]
