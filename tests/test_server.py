"""HTTP server parity tests (reference routes, http_server.rs:22-37)."""

from __future__ import annotations

import json
import os
import subprocess
import urllib.request

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
    as table@version (engine.py literal masking)."""
    status, body = _get(
        f"{server}/workspaces/demo/query?"
        "sql=SELECT+count(*)+AS+n+FROM+nums+WHERE+'bob@example.com'+<>+''"
        "&format=json"
    )
    assert status == 200
    assert json.loads(body) == [{"n": 4}]


def test_concurrent_queries_different_versions(server):
    """ADVICE r1 TOCTOU: concurrent /query requests pinning different
    versions of the same table name must not cross-contaminate."""
    import concurrent.futures

    def hit(version, expect):
        url = (
            f"{server}/workspaces/demo/query?"
            f"sql=SELECT+sum(v)+AS+s+FROM+nums&format=json&version={version}"
        )
        status, body = _get(url)
        return status == 200 and json.loads(body) == [{"s": expect}]

    jobs = [("v1", 60), ("latest", 100)] * 8
    with concurrent.futures.ThreadPoolExecutor(max_workers=8) as ex:
        results = list(ex.map(lambda a: hit(*a), jobs))
    assert all(results)


def test_client_mistakes_are_400(server):
    """A bad ``limit``, an unknown ``format`` or SQL that does not parse
    or analyze is the client's mistake: 400 with the error page, not a
    500."""
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
