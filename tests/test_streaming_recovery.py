"""Checkpoint-recovery contract for the streaming path (SURVEY §2
B50/B54/B59; reference has no streaming — this is the Spark-first
extension's own reliability bar).

A production streaming job's crash story is: the process dies, a new
process starts the SAME query against the SAME checkpoint location, and
the pipeline must be no-loss AND no-duplicate. Two tests pin the two
halves of that contract:

1. ``test_file_sink_exactly_once_across_restart`` — source offsets.
   A pass-through stream drains batch A into a parquet sink, stops,
   batch B arrives, and a NEW query object resumes from the same
   checkpoint. The sink (read through its ``_spark_metadata`` commit
   log) must hold exactly A ∪ B — batch A neither reprocessed (offsets
   recovered from the WAL) nor lost.

2. ``test_stateful_agg_state_survives_restart`` — operator state.
   An update-mode grouped count drains A, stops, resumes on B. The
   final per-key counts must equal the batch ``groupBy`` over A ∪ B —
   which can only happen if the state store's counts from A were
   recovered and then incremented by B without rereading A. (If offsets
   reset, counts double; if state reset, counts drop to B's share.)

Both run with ``availableNow`` triggers — the deterministic
stop-and-resume protocol; a real crash differs only in WHERE the stop
happens, and the checkpoint WAL is written before each micro-batch
commits, so mid-batch death replays at most one (idempotently
committed) batch.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from smallquery_spark.queries.tmpdirs import register_cleanup


def _write_batch(spark, src_dir: str, name: str, ids, etype: str) -> None:
    rows = [(int(i), etype, float(i) / 10.0) for i in ids]
    df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    df.coalesce(1).write.mode("overwrite").parquet(os.path.join(src_dir, name))


def _drain(sdf_writer):
    q = sdf_writer.trigger(availableNow=True).start()
    try:
        # awaitTermination returns False on timeout — fail HERE with a
        # clear message instead of letting the caller assert on a
        # partially-drained sink (a hang would otherwise surface as a
        # confusing count mismatch).
        assert q.awaitTermination(120), "stream did not drain within 120s"
    finally:
        if q.isActive:
            q.stop()


@pytest.fixture()
def stream_dirs(tmp_path):
    # tmp_path gives per-test isolation; register_cleanup bounds /tmp
    # growth if pytest's own GC is skipped.
    src = register_cleanup(str(tmp_path / "src"))
    os.makedirs(src, exist_ok=True)
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    return src, ckpt, sink


SCHEMA = "event_id long, event_type string, value double"


@pytest.mark.slow  # >=15 s measured; deselected by default (r15, VERDICT r14 #1)
def test_file_sink_exactly_once_across_restart(spark, stream_dirs):
    src, ckpt, sink = stream_dirs
    # Stage each batch as its own subdirectory-of-one-file so the file
    # source sees distinct files arriving over time.
    _write_batch(spark, src + "/a0", "x", range(0, 200), "click")
    _write_batch(spark, src + "/a1", "x", range(200, 350), "view")

    def reader():
        return (
            spark.readStream.schema(SCHEMA)
            .option("recursiveFileLookup", "true")
            .format("parquet")
            .load(src)
        )

    _drain(
        reader()
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
    )
    got_a = spark.read.parquet(sink)
    assert got_a.count() == 350

    # "Crash": the first query object is gone. New data arrives.
    _write_batch(spark, src + "/b0", "x", range(350, 500), "purchase")

    # A brand-new query resumes from the same checkpoint.
    _drain(
        reader()
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
    )

    got = spark.read.parquet(sink)
    # Exactly-once: every id 0..499 exactly once — no replay of A (the
    # WAL recovered the processed-file offsets), no loss of B.
    assert got.count() == 500
    assert got.select("event_id").distinct().count() == 500
    assert got.agg(F.sum("event_id")).collect()[0][0] == sum(range(500))


@pytest.mark.slow  # >=15 s measured; deselected by default (r15, VERDICT r14 #1)
def test_stateful_agg_state_survives_restart(spark, stream_dirs):
    src, ckpt, _ = stream_dirs
    _write_batch(spark, src + "/a0", "x", range(0, 120), "click")
    _write_batch(spark, src + "/a1", "x", range(120, 200), "view")

    captured: dict[str, int] = {}

    def sink_batch(batch_df, _batch_id):
        # update mode emits changed keys; keep the latest value per key.
        for r in batch_df.collect():
            captured[r["event_type"]] = r["n"]

    def agg_stream():
        s = (
            spark.readStream.schema(SCHEMA)
            .option("recursiveFileLookup", "true")
            .format("parquet")
            .load(src)
        )
        return s.groupBy("event_type").agg(F.count("*").alias("n"))

    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        _drain(
            agg_stream()
            .writeStream.foreachBatch(sink_batch)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
        )
        assert captured == {"click": 120, "view": 80}

        # Crash + new data: clicks in B must INCREMENT the recovered
        # state-store count, not restart from zero or double-count A.
        _write_batch(spark, src + "/b0", "x", range(200, 260), "click")
        _write_batch(spark, src + "/b1", "x", range(260, 300), "purchase")
        _drain(
            agg_stream()
            .writeStream.foreachBatch(sink_batch)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)

    assert captured == {"click": 180, "view": 80, "purchase": 40}


def test_streaming_sinks_agree(spark):
    """run_to_df's files sink (the production shape auto-selected at
    volume) must produce exactly the rows the memory sink produces —
    same stream, both sinks, full row-set equality. Pins the r5 sink
    switch that removed the driver-side collect from big stateful runs
    (b53 at gen-sf10: ~9.9M complete-mode rows through the memory sink
    were the dominant cost)."""
    from tests.conftest import SF_SMOKE
    from pyspark.sql import functions as F

    from smallquery_spark.streaming import events_stream, run_to_df

    def agg(name, sink):
        sdf = events_stream(spark, SF_SMOKE)
        a = (
            sdf.groupBy(F.session_window("ts", "5 minutes"), F.col("user_id"))
            .agg(F.count("*").alias("n_events"))
            .select("user_id", "n_events")
        )
        return run_to_df(a, name, output_mode="complete", sink=sink)

    mem = sorted(map(tuple, agg("sinks_mem", "memory").collect()))
    fil = sorted(map(tuple, agg("sinks_fil", "files").collect()))
    assert mem == fil
    assert len(mem) > 0


def test_epoch_keyed_sink_replay_idempotent(spark, tmp_path):
    """foreachBatch's contract is at-least-once per epoch: after a
    restart the last epoch whose sink ran but whose streaming commit
    didn't lands AGAIN with the same epoch_id. The epoch-keyed sink
    discipline (epoch_committed/_epoch_commit/_committed_epochs) must
    (a) report a committed epoch so the replay skips it, (b) rewrite a
    partial (no _SUCCESS) epoch wholesale, and (c) expose only
    committed epochs to readers."""
    import os

    from smallquery_spark.streaming.runner import (
        _committed_epochs,
        _epoch_commit,
        epoch_committed,
    )

    index_dir = str(tmp_path / "idx")
    assert not epoch_committed(index_dir, 0)
    df1 = spark.createDataFrame([(1,), (2,)], "doc_id long")
    _epoch_commit(df1, index_dir, 0)
    assert len(_committed_epochs(index_dir)) == 1

    # (b) partial epoch: files present, no _SUCCESS — invisible to
    # readers, not committed, replaced wholesale when the epoch replays
    epoch1 = os.path.join(index_dir, "epoch_0000000001")
    df_partial = spark.createDataFrame([(99,)], "doc_id long")
    df_partial.write.mode("overwrite").parquet(epoch1)
    os.remove(os.path.join(epoch1, "_SUCCESS"))
    assert len(_committed_epochs(index_dir)) == 1  # partial is invisible
    assert not epoch_committed(index_dir, 1)  # so the replay rewrites it
    df2 = spark.createDataFrame([(3,), (4,), (5,)], "doc_id long")
    _epoch_commit(df2, index_dir, 1)  # replay overwrites the partial
    committed = _committed_epochs(index_dir)
    assert len(committed) == 2
    rows = {
        r["doc_id"] for r in spark.read.parquet(*committed).collect()
    }
    assert rows == {1, 2, 3, 4, 5}  # 99 from the partial write is gone

    # (a) a replayed COMMITTED epoch: the sinks' guard sees it committed
    # and skips the write, so the reader view is unchanged
    assert epoch_committed(index_dir, 0) and epoch_committed(index_dir, 1)
    assert {
        r["doc_id"]
        for r in spark.read.parquet(*_committed_epochs(index_dir)).collect()
    } == {1, 2, 3, 4, 5}


def test_run_to_df_rotates_sink(spark):
    """A files sink within the size gate must leave NOTHING of the run
    on disk — the B53_RESIDUAL finding (retained sink bytes cost ~15%
    per warm corpus-sized rerun) encoded in the runner, not a docstring.
    The returned frame must survive the deletion (materialized before)."""
    import glob
    import os
    import tempfile

    from pyspark.sql import functions as F

    from tests.conftest import SF_SMOKE
    from smallquery_spark.streaming import events_stream, run_to_df

    sdf = events_stream(spark, SF_SMOKE)
    agg = (
        sdf.groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .select("event_type", "n")
    )
    pre = set(glob.glob(os.path.join(tempfile.gettempdir(), "smallquery_runsink_*")))
    out = run_to_df(agg, "rot_on", output_mode="complete", sink="files")
    post = set(glob.glob(os.path.join(tempfile.gettempdir(), "smallquery_runsink_*")))
    assert post - pre == set()  # the run's sink root is GONE
    rows = {(r["event_type"], r["n"]) for r in out.collect()}  # readable after delete
    assert rows and all(n > 0 for _t, n in rows)


def test_run_to_df_rotation_size_gate(spark, monkeypatch):
    """Results past ROTATE_MAX_BYTES must NOT be pulled through the
    block manager: the frame stays a lazy scan and the sink survives."""
    import glob
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from tests.conftest import SF_SMOKE
    from smallquery_spark.streaming import events_stream, run_to_df, runner

    monkeypatch.setattr(runner, "ROTATE_MAX_BYTES", 0)
    pre = set(glob.glob(os.path.join(tempfile.gettempdir(), "smallquery_runsink_*")))
    sdf = events_stream(spark, SF_SMOKE)
    agg = (
        sdf.groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .select("event_type", "n")
    )
    out = run_to_df(agg, "gated", output_mode="complete", sink="files")
    new = set(
        glob.glob(os.path.join(tempfile.gettempdir(), "smallquery_runsink_*"))
    ) - pre
    assert len(new) == 1  # kept: result exceeded the (zero) gate
    assert out.count() > 0
    for d in new:
        shutil.rmtree(d, ignore_errors=True)


def test_drain_timeout_is_loud(spark, tmp_path, monkeypatch):
    """A drain still running past the bound raises TimeoutError naming
    the query — never a silently partial result — and leaves no query
    active behind it."""
    import time

    from smallquery_spark.streaming import drain, runner

    src = str(tmp_path / "src")
    _write_batch(spark, src, "x", range(10), "click")
    monkeypatch.setattr(runner, "DRAIN_TIMEOUT_S", 1)

    def slow(_batch_df, _epoch_id):
        time.sleep(4)

    writer = (
        spark.readStream.schema(SCHEMA)
        .option("recursiveFileLookup", "true")
        .format("parquet")
        .load(src)
        .writeStream.foreachBatch(slow)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
    )
    with pytest.raises(TimeoutError, match="slow_drain"):
        drain(writer, "slow_drain")
    assert spark.streams.active == []


def test_scoped_confs_restores(spark):
    """scoped_confs puts back a conf that was set and unsets one that
    was not, on normal exit and on exit by exception."""
    from smallquery_spark.session import scoped_confs

    was_set = "spark.smallquery.test.was_set"
    was_unset = "spark.smallquery.test.was_unset"
    confs = {was_set: "inside", was_unset: "inside"}

    def restored():
        return (
            spark.conf.get(was_set) == "before"
            and spark.conf.get(was_unset, None) is None
        )

    spark.conf.set(was_set, "before")
    try:
        with scoped_confs(spark, confs):
            assert spark.conf.get(was_set) == "inside"
            assert spark.conf.get(was_unset) == "inside"
        assert restored()
        with pytest.raises(RuntimeError):
            with scoped_confs(spark, confs):
                raise RuntimeError("body failed")
        assert restored()
    finally:
        spark.conf.unset(was_set)


def test_only_runner_drains_available_now():
    """runner.drain is the package's one availableNow drain: no other
    module under smallquery_spark/ calls awaitTermination or
    trigger(availableNow=...), so every drain stays bounded and loud."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "smallquery_spark"
    runner = pkg / "streaming" / "runner.py"
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        if path == runner:
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
            ):
                continue
            attr = node.func.attr
            if attr == "awaitTermination" or (
                attr == "trigger"
                and any(k.arg == "availableNow" for k in node.keywords)
            ):
                offenders.append(f"{path.relative_to(pkg)}:{node.lineno}")
    assert offenders == []


def _calls_any(node, names) -> bool:
    import ast

    return any(
        isinstance(n, ast.Call)
        and (
            (isinstance(n.func, ast.Name) and n.func.id in names)
            or (isinstance(n.func, ast.Attribute) and n.func.attr in names)
        )
        for n in ast.walk(node)
    )


def test_only_runner_runs_epoch_ingest():
    """runner.ingest_epochs is the package's one epoch-ingest loop: no
    other module under smallquery_spark/ opens a one-file-per-trigger
    stream (maxFilesPerTrigger) or passes foreachBatch a function that
    calls epoch_committed or _epoch_commit."""
    import ast
    import collections
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "smallquery_spark"
    runner = pkg / "streaming" / "runner.py"
    guards = {"epoch_committed", "_epoch_commit"}
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        if path == runner:
            continue
        tree = ast.parse(path.read_text())
        defs = collections.defaultdict(list)
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                defs[node.name].append(node)
        for node in ast.walk(tree):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
            ):
                continue
            where = f"{path.relative_to(pkg)}:{node.lineno}"
            attr = node.func.attr
            if attr in ("option", "options") and (
                any(
                    isinstance(a, ast.Constant) and a.value == "maxFilesPerTrigger"
                    for a in node.args
                )
                or any(k.arg == "maxFilesPerTrigger" for k in node.keywords)
            ):
                offenders.append(where)
            if attr == "foreachBatch" and node.args:
                fn = node.args[0]
                bodies = defs[fn.id] if isinstance(fn, ast.Name) else [fn]
                if any(_calls_any(b, guards) for b in bodies):
                    offenders.append(where)
    assert offenders == []


# The only catch-all handlers allowed under smallquery_spark/, keyed by
# (module, enclosing function), each with why it cannot name its type.
_CATCH_ALL_ALLOWED = {
    ("server.py", "_Handler.do_GET"):
        "top level of a request: any failure becomes the 500 reply",
    ("session.py", "_ship_package"):
        "addPyFile of an already shipped path raises a version-specific"
        " error; anything else is printed, and executors fail loudly",
    ("fsio.py", "HadoopFS.create_text_exclusive"):
        "re-raises unless the path exists (the lost create race)",
    ("operators/pq.py", "_retrain_ivfpq_locked"):
        "re-raises unless the directory swap landed",
    ("operators/neardup_index.py", "NearDupIndex.ingest_epoch"):
        "re-raises unless it is a hash-build failure with a fallback"
        " strategy left",
}


def _catch_all_handlers(pkg) -> list[tuple[str, str, int]]:
    """(module, enclosing function, line) of every ``except:``,
    ``except Exception`` and ``except BaseException`` (bare or in a
    tuple) in the package."""
    import ast

    out = []

    def walk(node, scope, rel):
        for ch in ast.iter_child_nodes(node):
            if isinstance(
                ch, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                walk(ch, scope + [ch.name], rel)
                continue
            if isinstance(ch, ast.ExceptHandler):
                types = ch.type.elts if isinstance(ch.type, ast.Tuple) else [ch.type]
                if ch.type is None or any(
                    isinstance(t, ast.Name)
                    and t.id in ("Exception", "BaseException")
                    for t in types
                ):
                    out.append((rel, ".".join(scope), ch.lineno))
            walk(ch, scope, rel)

    for path in sorted(pkg.rglob("*.py")):
        walk(ast.parse(path.read_text()), [], path.relative_to(pkg).as_posix())
    return out


def test_catch_all_handlers_only_where_pinned():
    """A failure is never hidden behind a catch-all: outside the pinned
    list, every handler under smallquery_spark/ names the error type
    its documented case raises."""
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "smallquery_spark"
    found = _catch_all_handlers(pkg)
    offenders = [h for h in found if h[:2] not in _CATCH_ALL_ALLOWED]
    assert offenders == []
    assert {h[:2] for h in found} == set(_CATCH_ALL_ALLOWED)


def test_work_tree_names_spelled_only_in_fsio():
    """The maintenance work-tree names (``<root>.<op>_tmp``/``_old``) are
    spelled only in fsio.py: every other module gets them from
    ``fsio.work_trees``, so the swap protocols cannot drift apart."""
    import ast
    import pathlib

    names = tuple(
        f".{op}_{kind}"
        for op in ("compact", "delete", "retrain")
        for kind in ("tmp", "old")
    )
    pkg = pathlib.Path(__file__).resolve().parent.parent / "smallquery_spark"
    offenders = [
        (path.relative_to(pkg).as_posix(), node.lineno)
        for path in sorted(pkg.rglob("*.py"))
        if path.relative_to(pkg).as_posix() != "fsio.py"
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and any(n in node.value for n in names)
    ]
    assert offenders == []


def test_stage_slices_orders_frames_then_parts(spark):
    """Every part file of every frame is one slice, in frame order and
    then part order, with ascending mtimes."""
    from smallquery_spark.streaming import stage_slices

    frames = [
        spark.range(0, 4).repartitionByRange(2, "id").sortWithinPartitions("id"),
        spark.range(10, 11).coalesce(1),
    ]
    root, files = stage_slices(spark, frames, "smallquery_test_stage_")
    assert [os.path.dirname(f) for f in files] == [os.path.join(root, "slices")] * 3
    assert sorted(os.listdir(os.path.join(root, "slices"))) == [
        os.path.basename(f) for f in files
    ]
    ids = [sorted(r.id for r in spark.read.parquet(f).collect()) for f in files]
    assert all(ids) and sum(ids, []) == [0, 1, 2, 3, 10]
    mtimes = [os.stat(f).st_mtime for f in files]
    assert mtimes == sorted(set(mtimes))


def test_ingest_epochs_restart_commits_each_epoch_once(spark, monkeypatch):
    """A step that dies on epoch 1 kills the run after epoch 0 committed.
    A second run on the same root never calls the step for epoch 0 and
    commits epoch 1 once; a third run on a fresh checkpoint replays both
    epochs against the same store and calls the step for neither."""
    import shutil

    from pyspark.errors import StreamingQueryException

    from smallquery_spark.streaming import ingest_epochs, runner, stage_slices
    from smallquery_spark.streaming.runner import _committed_epochs

    frames = [spark.createDataFrame([(i,)], "id long") for i in (10, 11)]
    root, _ = stage_slices(
        spark, [f.coalesce(1) for f in frames], "smallquery_test_ingest_"
    )
    store = os.path.join(root, "store")
    commits, calls, released = [], [], []
    commit = runner._epoch_commit

    def counting_commit(df, store_root, epoch_id):
        commits.append(epoch_id)
        commit(df, store_root, epoch_id)

    monkeypatch.setattr(runner, "_epoch_commit", counting_commit)
    dies = [True]

    def step(batch_df, epoch_id):
        calls.append(epoch_id)
        if epoch_id == 1 and dies[0]:
            raise RuntimeError("epoch 1 dies")
        yield batch_df
        released.append((epoch_id, list(commits)))

    with pytest.raises(StreamingQueryException, match="epoch 1 dies"):
        ingest_epochs(spark, root, store, step, "ingest_run1")
    assert (calls, commits) == ([0, 1], [0])

    dies[0] = False
    calls.clear()
    ingest_epochs(spark, root, store, step, "ingest_run2")
    assert (calls, commits) == ([1], [0, 1])
    # the code after each yield ran once its epoch had committed
    assert released == [(0, [0]), (1, [0, 1])]
    epochs = _committed_epochs(store)
    assert [os.path.basename(e) for e in epochs] == [
        "epoch_0000000000", "epoch_0000000001"
    ]
    assert [[r.id for r in spark.read.parquet(e).collect()] for e in epochs] == [
        [10], [11]
    ]

    shutil.rmtree(os.path.join(root, "ckpt"))
    calls.clear()
    ingest_epochs(spark, root, store, step, "ingest_run3")
    assert (calls, commits) == ([], [0, 1])


class _JVM:
    """A py4j view whose every attribute is itself and whose call raises."""

    def __init__(self, exc):
        self._exc = exc

    def __getattr__(self, _name):
        return self

    def __call__(self):
        raise self._exc


class _Session:
    def __init__(self, exc):
        self._jvm = _JVM(exc)


def test_unload_state_stores_is_loud_past_py4j():
    """unload_state_stores tolerates only the private API being absent
    (py4j's error): any other failure propagates."""
    from py4j.protocol import Py4JError

    from smallquery_spark.streaming import unload_state_stores

    unload_state_stores(_Session(Py4JError("no such method")))
    with pytest.raises(RuntimeError, match="driver gone"):
        unload_state_stores(_Session(RuntimeError("driver gone")))
