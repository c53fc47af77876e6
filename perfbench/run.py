"""Layered benchmark for smallquery_spark.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload serve_read --seed 1 --seconds 10 --trace 0

Prints one JSON run record (``{"record": ...}``: host noise, parallelism,
input sizes, the workload's own named metrics and any check failures),
then, as the last line, the result:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
BENCHMARK.json; with ``--trace 1`` the per-layer metrics of a traced run.
See perfbench/README.md for what each workload and metric means.
"""

from __future__ import annotations

import argparse
import importlib
import importlib.util
import json
import os
import shutil
import sys
import time

import common
import spans

WORKLOADS = ("serve_read", "library_ops")
E2E_UNITS = {
    "setup_s": "s",
    "cpu_ms_per_op": "ms",
}


def layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run prints, with its unit."""
    units = {m: "ms" for m in set(spans.SELF_METRICS.values()) | set(spans.FORMAT_METRICS.values())}
    for m in spans.COUNT_METRICS:
        units[m] = "ms" if m.endswith("_ms") else "count"
    units.update({
        "trace.wall_ms": "ms",
        "trace.self_sum_ms": "ms",
        "trace.untraced_wall_ms": "ms",
        "trace.overhead_ms": "ms",
        "trace.ops": "count",
        "catalog.snapshot_mb": "MB",
        "session.get_session_s": "s",
        "session.default_parallelism": "count",
        "session.shuffle_partitions": "count",
    })
    return dict(sorted(units.items()))


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def outputs(args: argparse.Namespace, res: dict) -> tuple[dict, dict]:
    """(run record, result line) for a workload's result ``res``."""
    if args.trace:
        layers = res["layers"]
        layers.update({f"session.{k}": v for k, v in res["session"].items()})
        metrics = {m: {"value": layers.get(m, 0.0), "unit": u} for m, u in layer_units().items()}
    else:
        metrics = {m: {"value": res["e2e"][m], "unit": u} for m, u in E2E_UNITS.items()}
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "loadavg1_end": round(os.getloadavg()[0], 2),
        "session": res["session"],
        "sizes": res["sizes"],
        "named": {k: {"value": v, "unit": u} for k, (v, u) in res["named"].items()},
        "fail_frac": res["failed"] / res["attempted"],
        "errors": res["errors"],
    }
    result = {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }
    return record, result


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    common.add_root_to_path()
    for pkg in ("smallquery_spark", "tools"):
        spec = importlib.util.find_spec(pkg)
        if spec is None or not spec.origin.startswith(common.ROOT + os.sep):
            print(f"perfbench: {pkg} is not in this checkout", file=sys.stderr)
            return 2
    t0 = time.perf_counter()
    host = common.host_fields()
    run_dir = common.new_run_dir(args.workload)
    try:
        workload = importlib.import_module(args.workload)
        res = workload.run(args.seed, args.seconds, args.trace == 1, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    record, result = outputs(args, res)
    record["host"] = host
    record["run_wall_s"] = time.perf_counter() - t0
    print(json.dumps({"record": record}, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
