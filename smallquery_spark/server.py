"""Workspace query HTTP server — reference Tier A parity.

Routes mirror the reference server (reference src/http_server.rs:22-37):

- ``GET /``                  → index page
- ``GET /health``            → ``"OK"`` (http_server.rs:24)
- ``GET /web_assets/<tail>`` → embedded static assets served as
                               ``text/css`` (reference web.rs:7-20 — it
                               hardcodes the content type too), 404 when
                               the asset doesn't exist
- ``GET /workspaces``        → list of workspaces (the reference stubs
                               this with a literal — http_server.rs:30-33;
                               here it's implemented)
- ``GET /workspaces/<name>?version=<ref>&path=<p>``
      → file contents or recursive directory listing rendered to HTML
        (http_server.rs:100-290), defaults ``version=latest``,
        ``path=""`` (http_server.rs:106-115)
- ``GET /workspaces/<name>/query?sql=...&version=...&format=html|json|csv|svg|pdf``
      → NEW: run SQL over the workspace's tables at that version through
        the Spark engine (the Tier B surface the reference README
        promises, README.md:3-8).

Unlike the reference — which does blocking git checkouts inside async
handlers (http_server.rs:125-265, an anti-pattern its own TODO notes) —
requests here run on worker threads (ThreadingHTTPServer), and snapshot
materialization is content-addressed + cached, so repeated queries of a
version do zero git work.
"""

from __future__ import annotations

import csv
import io
import json
import os
import threading
import traceback
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from pyspark.errors import AnalysisException

from smallquery_spark.catalog import VersionedCatalog
from smallquery_spark.catalog.workspace import (
    list_snapshot_dir,
    read_snapshot_file,
    snapshot_path,
)
from smallquery_spark.errors import DeniedCall, EngineError, UnsupportedRelation
from smallquery_spark.sinks.render import (
    render_chart_svg,
    render_error,
    render_file,
    render_html,
    render_listing,
    render_pdf,
)

# /query reply formats
_QUERY_FORMATS = ("html", "json", "csv", "svg", "pdf")

_PAGE = """<!DOCTYPE html>
<html><head><title>{title}</title></head>
<body><h1>{title}</h1>{body}</body></html>"""


class _Handler(BaseHTTPRequestHandler):
    engine = None  # set by serve()
    catalog: VersionedCatalog | None = None

    # -- helpers ----------------------------------------------------------

    def _reply(self, body: str, status: int = 200, ctype: str = "text/html"):
        data = body.encode("utf-8")
        self.send_response(status)
        self.send_header("Content-Type", f"{ctype}; charset=utf-8")
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)

    def log_message(self, fmt, *args):  # quiet
        pass

    # -- routing (reference http_server.rs:22-37) -------------------------

    def do_GET(self):  # noqa: N802 (stdlib API)
        url = urlparse(self.path)
        parts = [p for p in url.path.split("/") if p]
        q = {k: v[0] for k, v in parse_qs(url.query).items()}
        try:
            if not parts:
                return self._reply(
                    _PAGE.format(title="smallquery", body="<p>workspace query engine</p>")
                )
            if parts == ["health"]:
                return self._reply("OK", ctype="text/plain")
            if parts[0] == "web_assets":
                return self._web_asset("/".join(parts[1:]))
            if parts == ["workspaces"]:
                names = self.catalog.list_workspaces()
                return self._reply(render_listing("workspaces", names))
            if parts[0] == "workspaces" and len(parts) >= 2:
                name = parts[1]
                version = q.get("version", "latest")
                if len(parts) == 3 and parts[2] == "query":
                    return self._query(name, version, q)
                path = q.get("path", "")
                return self._workspace(name, path, version)
            return self._reply(render_error(f"no route: {url.path}"), status=404)
        except EngineError as e:
            # typed errors → error template (reference http_server.rs:240-247)
            return self._reply(render_error(str(e)), status=404)
        except Exception:  # noqa: BLE001
            # the details stay on the server: a reply echoing them would
            # leak paths and internals to the client
            traceback.print_exc()
            return self._reply(render_error("internal error"), status=500)

    # -- static assets (reference A8, web.rs:7-20) ------------------------

    def _web_asset(self, tail: str):
        base = os.path.join(os.path.dirname(__file__), "web_assets")
        full = os.path.normpath(os.path.join(base, tail))
        # stay inside the embedded asset dir (the reference's embed macro
        # gives this property for free)
        if not full.startswith(base) or not os.path.isfile(full):
            return self._reply(render_error(f"no asset: {tail}"), status=404)
        with open(full, encoding="utf-8") as f:
            # reference hardcodes text/css (web.rs TODO notes other types)
            return self._reply(f.read(), ctype="text/css")

    # -- workspace file/dir query (reference A3/A4/A7) --------------------

    def _workspace(self, name: str, path: str, version: str):
        # one version resolution per request: every read below is inside
        # the snapshot it returned
        snap = self.catalog.workspace(name).snapshot(version)
        if os.path.isfile(snapshot_path(snap, path)):
            return self._reply(render_file(path or name, read_snapshot_file(snap, path)))
        rels = [os.path.relpath(i, snap) for i in list_snapshot_dir(snap, path)]
        return self._reply(render_listing(path or name, rels))

    # -- SQL query endpoint (Tier B surface) ------------------------------

    def _query(self, name: str, version: str, q: dict):
        sql = q.get("sql")
        if not sql:
            return self._reply(render_error("missing ?sql="), status=400)
        limit = q.get("limit", "1000")
        # Spark's limit is a 32-bit int
        if not limit.isdecimal() or int(limit) >= 2**31:
            return self._reply(
                render_error(f"limit must be an integer in [0, 2^31), got {limit!r}"),
                status=400,
            )
        fmt = q.get("format", "html")
        if fmt not in _QUERY_FORMATS:
            return self._reply(
                render_error(
                    f"unknown format {fmt!r}; accepted: {', '.join(_QUERY_FORMATS)}"
                ),
                status=400,
            )
        try:
            df = self.engine.sql(sql, workspace=name, version=version)
        except (AnalysisException, UnsupportedRelation, DeniedCall) as e:
            # not one query (ParseException), no analysis, not a table,
            # or a call that would run code on this host
            return self._reply(render_error(str(e)), status=400)
        cols = df.columns
        if fmt == "svg" and len(cols) < 2:
            return self._reply(render_error("svg format needs >= 2 columns"), status=400)
        # the query runs once; every format renders these rows
        rows = df.limit(int(limit)).collect()
        if fmt == "json":
            payload = json.dumps([{c: _j(r[c]) for c in cols} for r in rows])
            return self._reply(payload, ctype="application/json")
        if fmt == "csv":
            buf = io.StringIO()
            out = csv.writer(buf, lineterminator="\n")
            out.writerow(cols)
            out.writerows([str(r[c]) for c in cols] for r in rows)
            # no newline after the last row, as the reply always had
            return self._reply(buf.getvalue()[:-1], ctype="text/csv")
        if fmt == "svg":
            # bar chart of the first two columns (x, y) — the reference's
            # declared "quickly creating charts" purpose (README.md:7)
            return self._reply(render_chart_svg(cols, rows), ctype="image/svg+xml")
        if fmt == "pdf":
            pdf = render_pdf(cols, rows[:55], title="query result")
            self.send_response(200)
            self.send_header("Content-Type", "application/pdf")
            self.send_header("Content-Length", str(len(pdf)))
            self.end_headers()
            self.wfile.write(pdf)
            return None
        return self._reply(render_html(cols, rows, title="query result"))


def _j(v):
    try:
        json.dumps(v)
        return v
    except TypeError:
        return str(v)


def serve(
    engine,
    mount: str,
    host: str = "127.0.0.1",
    port: int = 3030,
    background: bool = False,
) -> ThreadingHTTPServer:
    """Start the workspace server (reference binds 127.0.0.1:3030,
    lib.rs:18-20). ``background=True`` runs it on a daemon thread and
    returns the server handle (graceful shutdown via .shutdown() — the
    reference uses a ctrl-c oneshot, http_server.rs:39-48)."""
    handler = type(
        "BoundHandler",
        (_Handler,),
        {"engine": engine, "catalog": VersionedCatalog(mount)},
    )
    srv = ThreadingHTTPServer((host, port), handler)
    if background:
        th = threading.Thread(target=srv.serve_forever, daemon=True)
        th.start()
        return srv
    try:
        srv.serve_forever()
    except KeyboardInterrupt:
        srv.shutdown()
    return srv
