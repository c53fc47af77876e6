"""library_ops: one client calling the library directly, in passes over
four operations in a seeded order:

- two headline batch queries and one headline stream drain, each built
  with ``REGISTRY[name].fn(spark, sf_dir)`` and run to completion
  (``toPandas``);
- one versioned-write cycle: a transform with ``Engine.sql`` on the
  current version, ``Engine.write_table`` committing its result as the
  next version, a read of the new ``latest`` (a snapshot-cache miss) and a
  read of one pinned older tag (a hit).

The first pass is cold (the first time each operation runs in the
process); at least two whole passes follow, for at least the measured
time. Every run starts
from a fresh copy of the generated workspace, so history length is the
same in every run.

Every query result is checked against the registry's DuckDB
``oracle_sql`` (row count, columns and the order-insensitive value hash of
tools.check); every write cycle's reads against the rows the benchmark
expects: the just-committed ones, or the pinned version's.
"""

from __future__ import annotations

import json
import os
import time
import traceback

import numpy as np

import common
import inputs
import spans

BATCH = ("q1_pricing_summary", "b31_ranking")
STREAM = ("b58_stream_stateful",)
WRITE = "write_cycle"
KINDS = (*BATCH, *STREAM, WRITE)

WS = "ws_w"
TRANSFORM = (
    "SELECT order_id, day, region_id, product_id,"
    " CASE WHEN order_id % 7 = {bump} THEN qty + 1 ELSE qty END AS qty,"
    " price_cents FROM sales"
)
CHECK = (
    "SELECT count(*) AS n, sum(qty) AS units, sum(qty * (order_id % 13)) AS chk"
    " FROM sales"
)
STEPS = ("transform", "commit", "fresh_read", "pinned_read")
# The CPU one operation takes varies by about a tenth from pass to pass;
# the mean over two passes varies less.
MIN_PASSES = 2


def oracle_answers(sf_dir: str) -> dict[str, list]:
    """name -> [sorted columns, rows, value hash] from DuckDB, cached beside
    the fixture."""
    queries = BATCH + STREAM
    path = os.path.join(os.path.dirname(sf_dir), "oracle.json")
    if os.path.isfile(path):
        with open(path) as f:
            answers = json.load(f)
        if set(queries) <= set(answers):
            return answers
    import duckdb
    from smallquery_spark.queries import REGISTRY
    from smallquery_spark.sources import TABLES
    from tools.check import canon_pdf

    con = duckdb.connect()
    for tbl in TABLES:
        p = os.path.join(sf_dir, f"{tbl}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {tbl} AS SELECT * FROM read_parquet('{p}')")
    answers = {}
    for name in queries:
        pdf = con.execute(REGISTRY[name].oracle).df()
        answers[name] = [sorted(pdf.columns), *canon_pdf(pdf)]
    with open(path + ".tmp", "w") as f:
        json.dump(answers, f, sort_keys=True)
    os.replace(path + ".tmp", path)
    return answers


def check_result(pdf, want: list) -> str | None:
    """None when a result frame matches the oracle answer, else why not."""
    from tools.check import canon_pdf

    cols, n, digest = want
    if sorted(pdf.columns) != cols:
        return f"columns {sorted(pdf.columns)}"
    got_n, got_digest = canon_pdf(pdf)
    if got_n != n:
        return f"rows {got_n} != {n}"
    return None if got_digest == digest else "value hash differs"


def run(seed: int, seconds: float, trace: bool, run_dir: str) -> dict:
    cached, sizes = inputs.write_inputs(seed)
    plan = inputs.load_json(cached, "plan.json")
    rows = np.load(os.path.join(cached, "latest_rows.npy"))
    mount = inputs.copy_mount(cached, run_dir)
    sf_dir = inputs.fixture_dir()
    order = [str(k) for k in np.random.default_rng(seed).permutation(KINDS)]
    common.apply_engine_env(run_dir)

    t0 = time.perf_counter()
    cpu0 = common.tree_cpu_s(os.getpid())
    from smallquery_spark import Engine, get_session
    from smallquery_spark.queries import REGISTRY, load_all

    load_all()
    t1 = time.perf_counter()
    spark = get_session("perfbench-library")
    spark.range(1).count()
    session_s = time.perf_counter() - t1
    sc = spark.sparkContext
    tracer = spans.Tracer(prefix="l")
    # (pass, kind, seconds, error or None, traced, write-cycle step seconds,
    # check); the checks run after the measured window
    results: list[tuple] = []
    try:
        listener = None
        if trace:
            spans.install(tracer, spark)
            listener = spans.stream_listener(spark)
        engine = Engine(spark, mount)
        ws = engine.catalog.workspace(WS)
        ws.snapshot("latest")
        ws.snapshot(plan["pinned"])
        setup_wall_s = time.perf_counter() - t0
        setup_cpu_s = common.tree_cpu_s(os.getpid()) - cpu0
        jvm = common.jvm_pid(spark)
        answers = oracle_answers(sf_dir)
        cycles = 0

        def query(name: str):
            with tracer.span("queries.build"):
                df = REGISTRY[name].fn(spark, sf_dir)
            return df.toPandas()

        def write_cycle(steps: dict):
            """One cycle, its step times in ``steps``; returns a check of
            its reads, run after the cycle is timed."""
            nonlocal cycles
            bump = plan["bumps"][cycles % len(plan["bumps"])]
            cycles += 1
            t = time.perf_counter()
            df = engine.sql(TRANSFORM.format(bump=bump), workspace=WS)
            steps["transform"] = time.perf_counter() - t
            t = time.perf_counter()
            engine.write_table(df, "sales", WS, f"cycle {cycles}")
            steps["commit"] = time.perf_counter() - t
            rows[:, 4] += rows[:, 0] % 7 == bump
            t = time.perf_counter()
            fresh = engine.sql(CHECK, workspace=WS).collect()
            steps["fresh_read"] = time.perf_counter() - t
            t = time.perf_counter()
            pinned = engine.sql(CHECK, workspace=WS, version=plan["pinned"]).collect()
            steps["pinned_read"] = time.perf_counter() - t
            want_fresh = inputs.check_sums(rows)

            def check() -> str | None:
                errors = [
                    f"{what}: {got} != {want}"
                    for got, want, what in (
                        ([list(r) for r in fresh], [want_fresh], "fresh read"),
                        ([list(r) for r in pinned], [plan["pinned_check"]], "pinned read"),
                    )
                    if got != want
                ]
                return "; ".join(errors) or None

            return check

        def one(tag: str, kind: str) -> None:
            op = f"{tag}:{kind}"
            if tracer.enabled:
                sc.setJobGroup(op, op)
            steps: dict = {}
            t = time.perf_counter()
            try:
                with tracer.op(op):
                    if kind == WRITE:
                        check = write_cycle(steps)
                    else:
                        pdf = query(kind)
                        check = lambda: check_result(pdf, answers[kind])  # noqa: E731
                err = None
            except Exception as e:  # noqa: BLE001 - a failed operation is counted, not fatal
                traceback.print_exc()
                err = f"{type(e).__name__}: {str(e)[:200]}"
            wall = time.perf_counter() - t
            if listener is not None:
                # taken after every operation, so a drain's progress is never
                # counted against a later one
                runs, progress = listener.take()
            if tracer.enabled:
                sc.setLocalProperty("spark.jobGroup.id", None)
                spans.count_jobs(tracer, sc, op, [op, *runs])
                for p in progress:
                    for k, v in p.items():
                        tracer.count(k, v, op=op)
            results.append((tag, kind, wall, err, tracer.enabled, steps, None if err else check))

        # an untimed cold pass: the first time each operation runs in the
        # process
        for kind in order:
            one("cold", kind)
        # at least MIN_PASSES whole passes, so every run measures the same
        # operations. A traced run traces passes in the order untraced,
        # traced, traced, untraced (in whole blocks of four), so the JVM's
        # warming during the run cancels out of the tracing overhead
        start, ticks0 = time.perf_counter(), common.cpu_ticks()
        cpu = [common.tree_cpu_s(os.getpid())]
        n_pass = 0
        while (n_pass < MIN_PASSES or time.perf_counter() - start < seconds
               or (trace and n_pass % 4)):
            tracer.enabled = trace and n_pass % 4 in (1, 2)
            for kind in order:
                one(f"pass{n_pass}", kind)
            n_pass += 1
            cpu.append(common.tree_cpu_s(os.getpid()))
        wall = time.perf_counter() - start
        cpu_s = cpu[-1] - cpu[0]
        pass_cpu = [(b - a) * 1000 / len(order) for a, b in zip(cpu, cpu[1:])]
        steal = common.steal_frac(ticks0, common.cpu_ticks())
        tracer.enabled = False
        peak = common.peak_rss_mb(jvm)
        session = {"get_session_s": session_s, **common.session_fields(spark)}
    finally:
        common.stop_engine(spark)

    def verdict(err: str | None, check) -> str | None:
        if err:
            return err
        try:
            return check()
        except Exception as e:  # noqa: BLE001 - a result the check cannot read is wrong
            return f"check: {type(e).__name__}: {str(e)[:200]}"

    results = [r[:3] + (verdict(r[3], r[6]),) + r[4:6] for r in results]
    warm = [r for r in results if r[0] != "cold"]
    lat = [r[2] for r in warm]
    per_kind = {k: common.median([r[2] for r in warm if r[1] == k]) for k in order}
    step_med = {s: common.median([r[5][s] for r in warm if s in r[5]] or [0.0]) for s in STEPS}
    cold_s = sum(r[2] for r in results if r[0] == "cold")
    p_tail, pct = common.tail(lat)
    snapshot_mb = common.dir_mb(os.path.join(mount, ".snapshots"))
    failed = [r for r in results if r[3]]
    out = {
        "attempted": len(results),
        "failed": len(failed),
        "errors": [f"{r[0]}:{r[1]}: {r[3]}" for r in failed[:5]],
        "sizes": {**sizes, "fixture_sf": inputs.FIXTURE_SF, "operations": len(order),
                  "passes": n_pass, "write_cycles": cycles, "order": order},
        "session": session,
        "e2e": {
            "setup_s": setup_cpu_s,
            "cpu_ms_per_op": cpu_s * 1000 / len(warm),
        },
        "named": {
            "setup_wall_s": [setup_wall_s, "s"],
            "op_p50_ms": [common.median(lat) * 1000, "ms"],
            "ops_per_s": [len(warm) / wall, "1/s"],
            "warm_s": [sum(per_kind.values()), "s"],
            "window_cpu_s": [cpu_s, "s"],
            "pass_cpu_ms_per_op": [pass_cpu, "ms"],
            "steal_frac": [steal, "count"],
            "peak_rss_mb": [peak, "MB"],
            "cold_s": [cold_s, "s"],
            "batch_warm_s": [sum(per_kind[n] for n in BATCH), "s"],
            "stream_warm_s": [sum(per_kind[n] for n in STREAM), "s"],
            "per_kind_warm_s": [per_kind, "s"],
            "op_tail_ms": [p_tail * 1000, "ms"],
            "op_tail_pct": [pct, "count"],
            **{f"{s}_p50_ms": [step_med[s] * 1000, "ms"] for s in STEPS},
            "snapshot_mb": [snapshot_mb, "MB"],
            "snapshot_mb_per_cycle": [snapshot_mb / cycles, "MB"],
        },
    }
    if trace:
        ops = [f"{r[0]}:{r[1]}" for r in warm if r[4]]
        layers = spans.summarize(tracer.spans, tracer.counts, ops)
        plain = [r[2] for r in warm if not r[4]]
        layers["trace.untraced_wall_ms"] = sum(plain) / len(plain) * 1000
        layers["trace.overhead_ms"] = layers["trace.wall_ms"] - layers["trace.untraced_wall_ms"]
        layers["catalog.snapshot_mb"] = snapshot_mb
        out["layers"] = layers
    return out
