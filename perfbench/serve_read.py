"""serve_read: a closed loop of HTTP clients against a server process that
hosts one Engine over a mount of git workspaces.

Each client sends its next request only after the previous reply arrived.
Requests cycle through the seeded request list (inputs.py). Every reply is
checked after the timed loop against the DuckDB answers computed from
``git show`` before timing.
"""

from __future__ import annotations

import http.client
import json
import os
import subprocess
import sys
import threading
import time
from urllib.parse import urlencode

import common
import inputs
import spans

CLIENTS = 4
# The measured loop sends the request list at least this many times: the
# CPU per request is then a mean over 32 requests.
MIN_ROUNDS = 2
HERE = os.path.dirname(os.path.abspath(__file__))


def url_of(spec: dict) -> str:
    if spec["kind"] in inputs.TEMPLATES:
        q = {"sql": spec["sql"], "version": spec["version"], "format": spec["fmt"]}
        return f"/workspaces/{spec['ws']}/query?{urlencode(q)}"
    q = {"version": spec["version"], "path": spec["path"]}
    return f"/workspaces/{spec['ws']}?{urlencode(q)}"


def check_response(spec: dict, status: int, ctype: str, body: str) -> str | None:
    """None when the reply is right, else the reason it is wrong."""
    if status != 200:
        return f"status {status}"
    kind, fmt = spec["kind"], spec.get("fmt", "html")
    want_ctype = {"json": "application/json", "csv": "text/csv", "svg": "image/svg+xml"}
    if not ctype.startswith(want_ctype.get(fmt, "text/html")):
        return f"content type {ctype}"
    if kind == "file":
        return None if spec["expect_text"] in body else "file contents differ"
    if kind == "listing":
        missing = [i for i in spec["expect_items"] if f"<li>{i}</li>" not in body]
        return f"listing misses {missing[:3]}" if missing else None
    cols, rows = spec["expect_cols"], spec["expect_rows"]
    if fmt == "json":
        got = json.loads(body)
        if got and list(got[0]) != cols:
            return f"columns {list(got[0])}"
        got_rows = [[r[c] for c in cols] for r in got]
    elif fmt == "csv":
        lines = body.split("\n")
        if lines[0] != ",".join(cols):
            return f"csv header {lines[0]!r}"
        got_rows = [line.split(",") for line in lines[1:]]
        rows = [[str(v) for v in r] for r in rows]
    elif fmt == "html":
        n = body.count("<tr>") - 1
        return None if n == len(rows) else f"html rows {n} != {len(rows)}"
    else:
        n = body.count("<rect ")
        return None if n == len(rows) else f"svg bars {n} != {len(rows)}"
    return None if got_rows == rows else "rows differ"


def check_all(specs: list[dict], records: list[tuple]) -> list[str]:
    """One error line per wrong reply among ``records`` (see closed_loop)."""
    errors = []
    for _op, i, _t0, _lat, status, ctype, body in records:
        try:
            why = check_response(specs[i], status, ctype, body)
        except (ValueError, KeyError, TypeError, IndexError) as e:
            why = f"unreadable reply: {type(e).__name__}: {e}"
        if why:
            errors.append(f"{specs[i]['kind']}/{specs[i].get('fmt', '')}: {why}")
    return errors


class _Server:
    """The server process and its stdin/stdout command channel."""

    def __init__(self, mount: str, versions_path: str, trace: bool, run_dir: str):
        self._log = open(os.path.join(run_dir, "server.log"), "wb")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "server_proc.py"), mount,
             versions_path, "1" if trace else "0"],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            stderr=self._log,
            text=True,
            cwd=run_dir,
            env=common.engine_env(run_dir),
        )
        self.port = int(self._read_line("READY ").split()[1])

    def _read_line(self, prefix: str) -> str:
        for line in self.proc.stdout:
            if line.startswith(prefix):
                return line
        raise RuntimeError(f"server exited (rc={self.proc.wait()}); see server.log")

    def command(self, cmd: str) -> dict:
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()
        return json.loads(self._read_line("{"))

    def close(self) -> None:
        try:
            if self.proc.poll() is None:
                self.proc.stdin.write("stop\n")
                self.proc.stdin.close()
                self.proc.wait(timeout=90)
        except (OSError, subprocess.TimeoutExpired):
            self.proc.kill()
            self.proc.wait()
        finally:
            self._log.close()


def _get(port: int, spec: dict, op: str) -> tuple[float, float, int, str, str]:
    """One request: (start, latency s, status, content type, body)."""
    t0 = time.perf_counter()
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=170)
    try:
        conn.request("GET", url_of(spec), headers={"X-Perfbench-Op": op})
        resp = conn.getresponse()
        body = resp.read().decode("utf-8", "replace")
        status, ctype = resp.status, resp.getheader("Content-Type", "")
    except OSError as e:
        status, ctype, body = 0, "", f"{type(e).__name__}: {e}"
    finally:
        conn.close()
    return t0, time.perf_counter() - t0, status, ctype, body


def closed_loop(port: int, specs: list[dict], seconds: float, tag: str,
                rounds: int = 1) -> tuple[list[tuple], float]:
    """CLIENTS closed-loop clients cycling through ``specs`` for ``seconds``,
    then on until the list has been sent a whole number of times (at least
    ``rounds``), so every run measures the same mix. Returns (records, wall
    seconds); a record is (op id, spec index, start, latency, status,
    content type, body)."""
    lock = threading.Lock()
    state = {"next": 0, "end": None}
    records: list[tuple] = []
    start = time.perf_counter()
    deadline = start + seconds

    def client() -> None:
        while True:
            with lock:
                i = state["next"]
                if state["end"] is None and time.perf_counter() >= deadline:
                    n = len(specs)
                    state["end"] = max(-(-i // n), rounds) * n
                if state["end"] is not None and i >= state["end"]:
                    return
                state["next"] = i + 1
            op = f"{tag}{i}"
            res = _get(port, specs[i % len(specs)], op)
            with lock:
                records.append((op, i % len(specs), *res))

    threads = [threading.Thread(target=client) for _ in range(CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return records, time.perf_counter() - start


def run(seed: int, seconds: float, trace: bool, run_dir: str) -> dict:
    cached, sizes = inputs.serve_inputs(seed)
    specs = inputs.load_json(cached, "requests.json")
    mount = inputs.copy_mount(cached, run_dir)
    versions = sorted(
        {(s["ws"], s["version"]) for s in specs}
        | {(s["ws"], s["at"]) for s in specs if "at" in s}
    )
    versions_path = os.path.join(run_dir, "versions.json")
    with open(versions_path, "w") as f:
        json.dump(versions, f)

    t0 = time.perf_counter()
    server = _Server(mount, versions_path, trace, run_dir)
    try:
        setup_wall_s = time.perf_counter() - t0
        setup_cpu_s = common.tree_cpu_s(server.proc.pid)
        # untimed warm-up: the request list sent once, the first time each
        # request kind runs in the server
        warmup, warmup_s = closed_loop(server.port, specs, 0, "w")
        ticks0, cpu0 = common.cpu_ticks(), common.tree_cpu_s(server.proc.pid)
        if trace:
            # whole rounds in the order untraced, traced, traced, untraced
            # (in whole blocks of four), so the server's warming during the
            # run cancels out of the tracing overhead
            loop, plain, k = [], [], 0
            start = time.perf_counter()
            while k % 4 or k == 0 or time.perf_counter() - start < seconds:
                server.command("trace on" if k % 4 in (1, 2) else "trace off")
                recs, _ = closed_loop(server.port, specs, 0, f"r{k}_")
                (loop if k % 4 in (1, 2) else plain).extend(recs)
                k += 1
            server.command("trace off")
            wall = time.perf_counter() - start
        else:
            loop, wall = closed_loop(server.port, specs, seconds, "r", rounds=MIN_ROUNDS)
        cpu_s = common.tree_cpu_s(server.proc.pid) - cpu0
        steal = common.steal_frac(ticks0, common.cpu_ticks())
        stats = server.command("stats")
    finally:
        server.close()

    checked = warmup + loop + (plain if trace else [])
    errors = check_all(specs, checked)
    snapshot_mb = common.dir_mb(os.path.join(mount, ".snapshots"))
    lat = [r[3] for r in loop]
    by_kind: dict[str, list[float]] = {}
    for r in loop:
        by_kind.setdefault(specs[r[1]]["kind"], []).append(r[3])
    p_tail, pct = common.tail(lat)
    out = {
        "attempted": len(checked),
        "failed": len(errors),
        "errors": errors[:5],
        "sizes": sizes,
        "session": {k: stats[k] for k in ("get_session_s", "default_parallelism", "shuffle_partitions")},
        "e2e": {
            "setup_s": setup_cpu_s,
            "cpu_ms_per_op": cpu_s * 1000 / len(loop + (plain if trace else [])),
        },
        "named": {
            "setup_wall_s": [setup_wall_s, "s"],
            "warm_s": [sum(common.median(v) for v in by_kind.values()), "s"],
            "window_cpu_s": [cpu_s, "s"],
            "steal_frac": [steal, "count"],
            "peak_rss_mb": [stats["peak_rss_mb"], "MB"],
            "req_p50_ms": [common.median(lat) * 1000, "ms"],
            "req_tail_ms": [p_tail * 1000, "ms"],
            "req_tail_pct": [pct, "count"],
            "req_samples": [len(lat), "count"],
            "req_per_s": [len(loop) / wall, "1/s"],
            "warmup_s": [warmup_s, "s"],
            "snapshot_mb": [snapshot_mb, "MB"],
        },
    }
    if trace:
        tr = stats["trace"]
        all_spans = [tuple(s) for s in tr["spans"]]
        # client-side root span per request; the server's root nests in it
        for op, _i, start, latency, *_ in loop:
            all_spans.append((op, "c" + op, None, "op", start, start + latency))
        all_spans = [
            (op, sid, "c" + op if (parent is None and name == "server") else parent, name, a, b)
            for op, sid, parent, name, a, b in all_spans
        ]
        ops = [r[0] for r in loop]
        layers = spans.summarize(all_spans, tr["counts"], ops)
        layers["trace.untraced_wall_ms"] = sum(r[3] for r in plain) / len(plain) * 1000
        layers["trace.overhead_ms"] = layers["trace.wall_ms"] - layers["trace.untraced_wall_ms"]
        layers["catalog.snapshot_mb"] = snapshot_mb
        out["layers"] = layers
    return out
