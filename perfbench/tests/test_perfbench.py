"""Tests of the benchmark's own code; none of them starts Spark.

Run: python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import common  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402
import serve_read  # noqa: E402
import spans  # noqa: E402


# -- seeded inputs ------------------------------------------------------------


def _tree_bytes(root: str) -> dict[str, bytes]:
    """Every file outside .git, plus each repository's refs: equal commit
    ids mean equal bytes in every version (git's index holds file stat
    times, so .git itself is not compared byte for byte)."""
    out = {}
    for dirpath, dirs, files in os.walk(root):
        if ".git" in dirs:
            dirs.remove(".git")
            out[os.path.relpath(dirpath, root) + ":refs"] = inputs.git(
                dirpath, "show-ref", "--head").encode()
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def test_same_seed_gives_byte_identical_inputs(tmp_path, monkeypatch):
    built = []
    for sub in ("a", "b", "c"):
        monkeypatch.setattr(inputs, "CACHE", str(tmp_path / sub))
        seed = 5 if sub != "c" else 6
        built.append(inputs.serve_inputs(seed))
    (a, sizes_a), (b, sizes_b), (c, _) = built
    assert _tree_bytes(a) == _tree_bytes(b)
    assert sizes_a == sizes_b
    assert inputs.load_json(a, "commits.json") != inputs.load_json(c, "commits.json")
    assert inputs.load_json(a, "requests.json") != inputs.load_json(c, "requests.json")


def test_every_seed_gets_the_same_request_mix(tmp_path, monkeypatch):
    monkeypatch.setattr(inputs, "CACHE", str(tmp_path))
    mixes = []
    for seed in (9, 10):
        path, sizes = inputs.serve_inputs(seed)
        specs = inputs.load_json(path, "requests.json")
        kinds = sorted((s["kind"], s.get("fmt", s.get("path"))) for s in specs)
        latest = sum(s["version"] == "latest" for s in specs)
        tags = sum(s["version"].startswith("v") for s in specs)
        mixes.append((kinds, latest, tags, [s["kind"] for s in specs]))
        assert sizes["share_query"] == pytest.approx(13 / 16, abs=1e-3)
    assert mixes[0][:3] == mixes[1][:3]
    assert mixes[0][1:3] == (inputs.VERSION_MIX["latest"], inputs.VERSION_MIX["tag"])
    assert mixes[0][3] != mixes[1][3]  # the order is seeded


def test_write_inputs_are_seeded(tmp_path, monkeypatch):
    monkeypatch.setattr(inputs, "CACHE", str(tmp_path / "a"))
    a, _ = inputs.write_inputs(3)
    monkeypatch.setattr(inputs, "CACHE", str(tmp_path / "b"))
    b, _ = inputs.write_inputs(3)
    assert _tree_bytes(a) == _tree_bytes(b)


# -- self-time arithmetic -------------------------------------------------------


def test_self_times_on_a_synthetic_tree():
    tree = [
        ("o", "r", None, "op", 0.0, 10.0),
        ("o", "a", "r", "engine.sql", 1.0, 4.0),
        ("o", "b", "a", "sources.read", 2.0, 3.0),
        ("o", "c", "r", "spark.action", 5.0, 9.0),
        # overhangs its parent by 0.5: clipped to end at 9.0
        ("o", "d", "c", "catalog.resolve", 8.5, 9.5),
    ]
    st = spans.self_times(tree)
    assert st == pytest.approx({"r": 3.0, "a": 2.0, "b": 1.0, "c": 3.5, "d": 0.5})
    assert sum(st.values()) == pytest.approx(10.0)


def test_overlapping_children_are_counted_once():
    tree = [
        ("o", "r", None, "op", 0.0, 10.0),
        ("o", "a", "r", "spark.action", 1.0, 4.0),
        ("o", "b", "r", "spark.action", 3.0, 6.0),
    ]
    assert spans.self_times(tree)["r"] == pytest.approx(5.0)


def test_summarize_adds_up_to_the_wall_per_operation():
    tree = [
        ("o1", "r1", None, "op", 0.0, 2.0),
        ("o1", "s1", "r1", "engine.sql", 0.5, 1.5),
        ("o2", "r2", None, "op", 0.0, 4.0),
        ("o2", "s2", "r2", "spark.action", 1.0, 2.0),
        ("other", "x", None, "op", 0.0, 100.0),
    ]
    counts = {"o1": {"catalog.git_procs": 3}, "o2": {"catalog.git_procs": 1}}
    out = spans.summarize(tree, counts, ["o1", "o2"])
    assert out["trace.wall_ms"] == pytest.approx(3000.0)
    assert out["trace.self_sum_ms"] == pytest.approx(out["trace.wall_ms"])
    assert out["engine.sql_self_ms"] == pytest.approx(500.0)
    assert out["spark.action_ms"] == pytest.approx(500.0)
    assert out["bench.residual_ms"] == pytest.approx(2000.0)
    assert out["catalog.git_procs"] == 2


def test_tracer_records_nested_spans_only_inside_an_operation():
    tr = spans.Tracer()
    tr.enabled = True
    with tr.span("engine.sql"):
        pass  # no operation open: nothing recorded
    with tr.op("o"):
        with tr.span("engine.sql"):
            tr.count("sources.read_calls")
    assert [s[3] for s in tr.spans] == ["engine.sql", "op"]
    inner, root = tr.spans
    assert inner[2] == root[1] and root[2] is None
    assert tr.counts["o"]["sources.read_calls"] == 1


# -- correctness gate -----------------------------------------------------------


SPEC = {
    "kind": "groupby", "fmt": "json", "ws": "ws_a", "version": "latest",
    "expect_cols": ["region_id", "n"], "expect_rows": [[0, 5], [1, 7]],
}


def test_right_reply_passes_every_format():
    rows = [{"region_id": 0, "n": 5}, {"region_id": 1, "n": 7}]
    assert serve_read.check_response(SPEC, 200, "application/json", json.dumps(rows)) is None
    csv = "region_id,n\n0,5\n1,7"
    assert serve_read.check_response({**SPEC, "fmt": "csv"}, 200, "text/csv", csv) is None
    page = "<thead><tr></tr></thead><tbody><tr></tr><tr></tr></tbody>"
    assert serve_read.check_response({**SPEC, "fmt": "html"}, 200, "text/html", page) is None


def test_wrong_answer_is_counted_in_fail_frac():
    good = json.dumps([{"region_id": 0, "n": 5}, {"region_id": 1, "n": 7}])
    wrong = json.dumps([{"region_id": 0, "n": 5}, {"region_id": 1, "n": 8}])
    records = [
        ("r0", 0, 0.0, 0.1, 200, "application/json", good),
        ("r1", 0, 0.0, 0.1, 200, "application/json", wrong),
        ("r2", 0, 0.0, 0.1, 500, "text/html", "boom"),
        ("r3", 0, 0.0, 0.1, 200, "application/json", good),
        ("r4", 0, 0.0, 0.1, 200, "application/json", "{not json"),
    ]
    errors = serve_read.check_all([SPEC], records)
    assert len(errors) == 3
    res = {
        "attempted": len(records), "failed": len(errors), "errors": errors,
        "session": {}, "sizes": {}, "named": {},
        "e2e": {m: 1.0 for m in run.E2E_UNITS},
    }
    args = run.parse_args(["--workload", "serve_read", "--seed", "1", "--seconds", "1"])
    record, result = run.outputs(args, res)
    assert record["fail_frac"] == 0.6
    assert (result["correct"], result["attempted"], result["failed"]) == (False, 5, 3)


def test_registry_check_rejects_a_changed_value():
    pd = pytest.importorskip("pandas")
    pytest.importorskip("duckdb")  # tools.check imports it
    import library_ops

    common.add_root_to_path()
    from tools.check import canon_pdf

    frame = pd.DataFrame({"k": [1, 2], "v": [10, 20]})
    want = [["k", "v"], *canon_pdf(frame)]
    assert library_ops.check_result(frame, want) is None
    bad = frame.assign(v=[10, 21])
    assert library_ops.check_result(bad, want) == "value hash differs"


# -- CPU accounting ---------------------------------------------------------------


def test_tree_cpu_counts_reaped_children():
    import subprocess

    before = common.tree_cpu_s(os.getpid())
    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass"
    subprocess.run([sys.executable, "-c", burn], check=True)
    assert common.tree_cpu_s(os.getpid()) - before >= 0.25


def test_steal_frac_is_stolen_over_all_ticks():
    assert common.steal_frac((1000, 10), (1400, 110)) == pytest.approx(0.25)
    assert common.steal_frac((5, 1), (5, 1)) == 0.0


# -- statistics and the BENCHMARK.json contract -----------------------------------


def test_tail_keeps_ten_samples_beyond_it():
    assert common.tail(list(range(1, 101))) == (90, 90)
    assert common.tail(list(range(1, 41))) == (30, 75)
    assert common.tail([3.0, 1.0, 2.0]) == (3.0, 100)


def test_benchmark_json_lists_what_the_runs_print():
    with open(os.path.join(common.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.layer_units()
