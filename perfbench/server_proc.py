"""The serve_read server process: one Engine over the mount behind
``smallquery_spark.server.serve``.

Usage: python3 server_proc.py <mount> <versions.json> <trace 0|1>

Prints ``READY <port>`` once the session is up, every listed version is
materialized and the server is bound. Then reads commands from stdin, one
per line, answering each with one JSON line:

- ``trace on`` / ``trace off``: enable or disable span recording;
- ``stats``: session fields, peak JVM RSS and the recorded trace;
- ``stop``: shut the server down, stop the JVM and exit.
"""

from __future__ import annotations

import json
import sys
import time

import common
import spans


def main() -> None:
    mount, versions_path, trace_flag = sys.argv[1], sys.argv[2], sys.argv[3] == "1"
    common.add_root_to_path()
    from smallquery_spark import Engine, get_session
    from smallquery_spark import server as server_mod

    t0 = time.perf_counter()
    spark = get_session("perfbench-serve")
    spark.range(1).count()
    session_s = time.perf_counter() - t0

    tracer = None
    if trace_flag:
        tracer = spans.Tracer(prefix="s")
        spans.install(tracer, spark)
        _wrap_handler(server_mod, tracer, spark.sparkContext)

    engine = Engine(spark, mount)
    with open(versions_path) as f:
        for ws, version in json.load(f):
            engine.catalog.workspace(ws).snapshot(version)
    srv = server_mod.serve(engine, mount, port=0, background=True)
    print(f"READY {srv.server_address[1]}", flush=True)

    for line in sys.stdin:
        cmd = line.strip()
        reply = {}
        if cmd in ("trace on", "trace off"):
            tracer.enabled = cmd == "trace on"
        elif cmd == "stats":
            reply = {
                "get_session_s": session_s,
                "peak_rss_mb": common.peak_rss_mb(common.jvm_pid(spark)),
                **common.session_fields(spark),
                "trace": tracer.export() if tracer else None,
            }
        elif cmd == "stop":
            break
        else:
            reply = {"error": f"unknown command {cmd!r}"}
        print(json.dumps(reply), flush=True)
    srv.shutdown()
    srv.server_close()
    common.stop_engine(spark)


def _wrap_handler(server_mod, tracer: spans.Tracer, sc) -> None:
    """Open the client's operation (``X-Perfbench-Op`` header) around each
    request, under a Spark job group of the same id."""
    handler = server_mod._Handler
    orig = handler.do_GET

    def do_get(self):
        op = self.headers.get("X-Perfbench-Op")
        if not op or not tracer.enabled:
            return orig(self)
        sc.setJobGroup(op, op)
        try:
            with tracer.op(op, root="server"):
                return orig(self)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            spans.count_jobs(tracer, sc, op, [op])

    handler.do_GET = do_get


if __name__ == "__main__":
    main()
