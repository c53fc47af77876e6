"""Structured Streaming plumbing (SURVEY.md §2 B50, B59).

Batch-equivalence harness: every streaming query in the registry runs
with ``trigger(availableNow=True)`` into a memory sink, drains, and the
materialized table is returned as a normal DataFrame — deterministic,
oracle-comparable (SURVEY §5.2: "streaming ops use batch-equivalence
with availableNow triggers"). In production the same pipeline definition
would point at a live source and a real sink; nothing in the dataflow
definition changes.

Epoch-keyed ingest: :func:`stage_slices` writes frames as the ordered
slice files of one file-stream source, and :func:`ingest_epochs` streams
them one slice per micro-batch, skipping an epoch already committed to
its store and committing the frame each step yields otherwise.
"""

from __future__ import annotations

import os
import re

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession

from smallquery_spark.session import scoped_confs
from smallquery_spark.sources import read_any


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File stream source over the events fixture (B50).

    Timestamp handling is shared with the batch reader via
    ``registry.normalize_events_ts`` — dtype-adaptive, so either fixture
    generation (nanos-long or µs timestamp) loads identically on the
    batch and stream paths.
    """
    from smallquery_spark.queries.registry import (
        ensure_driver_confs,
        normalize_events_ts,
    )

    ensure_driver_confs(spark)
    # abspath: the symlink target below is resolved relative to the
    # LINK's directory, not the caller's cwd — a relative sf_dir would
    # stage a dangling link and the file source would silently list
    # zero files (batch runs still work because spark.read resolves
    # against cwd, so only the stream goes quietly empty).
    path = os.path.abspath(os.path.join(sf_dir, "events.parquet"))
    # File stream sources read directories; stage one with a symlink to
    # the fixture file (testdata itself is read-only). Re-link each call
    # so a stale link from a previous fixture generation can't survive.
    import tempfile

    from smallquery_spark.queries.tmpdirs import prune_stale, register_cleanup

    prune_stale("smallquery_stream_src_")
    stage_root = register_cleanup(
        os.path.join(
            tempfile.gettempdir(), f"smallquery_stream_src_{os.getpid()}"
        )
    )
    stage = os.path.join(stage_root, os.path.basename(sf_dir.rstrip("/")))
    os.makedirs(stage, exist_ok=True)
    link = os.path.join(stage, "events.parquet")
    if os.path.islink(link) or os.path.exists(link):
        os.unlink(link)
    os.symlink(path, link)
    if not os.path.exists(link):  # exists() follows the link
        raise FileNotFoundError(
            f"staged stream source is a dangling link: {link} -> {path}"
        )
    schema = read_any(spark, path).schema
    sdf = spark.readStream.schema(schema).format("parquet").load(stage)
    return normalize_events_ts(sdf)


def state_partitions_for(
    sf_dir: str, default: int = 8, cap: int = 32
) -> int:
    """Size stateful-shuffle partitions to source volume.

    Streaming state partitioning is fixed at checkpoint creation, so it
    must be chosen up front: too few starves cores on big inputs (the
    per-row Python state transitions of applyInPandasWithState are the
    wall time), too many wastes a task + a state-store INSTANCE per
    near-empty partition PER MICROBATCH (a stream-stream join runs
    several stores per partition). Production jobs set this from key
    cardinality/throughput at job definition; here the events fixture
    footer row count stands in for that knowledge.

    The curve's low end is measured, not guessed (r15, VERDICT r14
    #7): sweeping the b57 stream-stream join at sf0.1 (100k events)
    over {2,4,8,16,32} partitions gave min-of-3 drain walls
    {3.06, 3.18, 4.17, 6.92, 10.55} s (B57_SWEEP_r15.json) — wall is
    MONOTONE in partition count at small sources because per-partition
    state-store setup dominates; 4 keeps ≥25k rows/partition of
    parallelism headroom while shedding the overhead knee.
    """
    import pyarrow
    import pyarrow.parquet as pq

    try:
        rows = pq.ParquetFile(
            os.path.join(sf_dir, "events.parquet")
        ).metadata.num_rows
    except (OSError, pyarrow.ArrowInvalid):
        return default
    if rows >= 4_000_000:
        return cap
    if rows >= 1_000_000:
        return max(16, default)
    if rows < 250_000:
        return min(4, default)
    return default


def unload_state_stores(spark: SparkSession) -> None:
    """Release every loaded state-store provider NOW instead of waiting
    for the maintenance tick.

    A stopped streaming query only DEACTIVATES its providers; their
    loaded state maps stay in executor heaps until the maintenance task
    (``spark.sql.streaming.stateStore.maintenanceInterval``, default
    60 s) unloads them. Back-to-back runs of corpus-sized-state queries
    therefore carry TWO full state footprints through the second run —
    measured at gen100's 99M-session b53: back-to-back 51.4 → 100.4 s
    in one 48 g JVM (2×), executor heap OOM + retry churn at
    local-cluster 4×12 g (the r6 CLUSTER_gen100 "run2 anomaly",
    219.9 s, root-caused round 7 — a 90 s inter-run gap alone restores
    51-57 s across 3 runs, B53_LC_ANOM.json). ``StateStore.stop()``
    unloads all providers and stops the maintenance thread; both
    re-initialize lazily on the next stateful query (verified on Spark
    4.1.2). Private API, so best-effort: only its absence is tolerated.

    Scope: the py4j call reaches the DRIVER JVM only, so this releases
    state held there — i.e. it fixes local[] mode, where driver and
    executor share one JVM (the measured wins above). On local-cluster
    or a real cluster the providers live in executor JVMs and are NOT
    unloaded by this call; there the posture is inter-run scheduling
    gaps ≥ the maintenance interval (SCALE.md, B53_LC_ANOM.json) — an
    executor-side broadcast-task variant was considered and rejected:
    running arbitrary code on executors to poke a private object is
    fragile, and the maintenance tick already bounds the window."""
    try:
        spark._jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()  # noqa: E501
    except (Py4JError, TypeError):
        # private API gone on this Spark: a missing method raises
        # Py4JError, a missing class resolves to a package that raises
        # TypeError when called
        pass


# Wall-clock bound on one availableNow drain. Not a knob: a drain that
# runs past it is a hang to surface, not a budget to tune.
DRAIN_TIMEOUT_S = 600

# Sink results up to this many parquet bytes are materialized and their
# sink deleted; bigger ones stay a lazy scan (see run_to_df).
ROTATE_MAX_BYTES = 256 * 1024 * 1024


def drain(writer, name: str) -> None:
    """Run ``writer`` with ``trigger(availableNow=True)`` until it has
    processed everything in its source, then return.

    The package's one availableNow drain. A query still running after
    ``DRAIN_TIMEOUT_S`` raises ``TimeoutError`` naming ``name`` (never a
    silently partial result); a query that is still active is stopped
    either way, and a failed query's ``StreamingQueryException``
    propagates after the stop."""
    q = writer.trigger(availableNow=True).start()
    try:
        if not q.awaitTermination(DRAIN_TIMEOUT_S):
            raise TimeoutError(
                f"{name}: stream did not drain within {DRAIN_TIMEOUT_S}s"
            )
    finally:
        if q.isActive:
            q.stop()


def _epoch_dir(root: str, epoch_id: int) -> str:
    return os.path.join(root, f"epoch_{int(epoch_id):010d}")


def epoch_committed(root: str, epoch_id: int) -> bool:
    """Whether epoch ``epoch_id`` of the epoch-keyed store at ``root``
    committed (its ``_SUCCESS`` marker landed). The epoch-ingest loop
    (:func:`ingest_epochs`, through :func:`_skip_then_commit`) checks
    this first and skips a committed epoch that Spark replays after a
    restart."""
    return os.path.exists(os.path.join(_epoch_dir(root, epoch_id), "_SUCCESS"))


def _committed_epochs(root: str) -> list[str]:
    """Epoch subdirectories of an epoch-keyed store whose ``_SUCCESS``
    marker landed. foreachBatch is at-least-once per epoch: after a
    restart the last uncommitted epoch replays, so readers must see only
    COMMITTED epochs (a partial epoch's files would otherwise anti-join
    the replaying batch against its own half-written output)."""
    import glob

    return sorted(
        os.path.dirname(marker)
        for marker in glob.glob(os.path.join(root, "epoch_*", "_SUCCESS"))
    )


def _epoch_commit(df: DataFrame, root: str, epoch_id: int) -> None:
    """Write ``df`` as epoch ``epoch_id`` of the store at ``root``: each
    epoch owns its subdirectory, written with mode=overwrite, so a
    crashed partial write (no ``_SUCCESS``) is replaced wholesale when
    the epoch replays. It does not skip a committed epoch; that is the
    :func:`epoch_committed` guard; the epoch-ingest loop
    (:func:`ingest_epochs`, through :func:`_skip_then_commit`) pairs the
    two into the epoch_id-keyed discipline foreachBatch's exactly-once
    contract requires."""
    df.write.mode("overwrite").parquet(_epoch_dir(root, epoch_id))


def _skip_then_commit(store: str, step):
    """foreachBatch function over the epoch-keyed store at ``store``: an
    epoch already committed there (Spark replays the in-flight epoch
    after a restart) is skipped without calling ``step``; otherwise
    ``step(batch_df, epoch_id)`` yields the frame to commit, which is
    committed as that epoch, and then ``step`` runs to its end — the
    place to release what it cached for the epoch."""

    def _batch(batch_df: DataFrame, epoch_id: int) -> None:
        if epoch_committed(store, epoch_id):
            return
        frames = step(batch_df, epoch_id)
        _epoch_commit(next(frames), store, epoch_id)
        next(frames, None)

    return _batch


def stage_slices(spark: SparkSession, frames, prefix: str):
    """Write ``frames`` as the slice files of one file-stream source;
    return ``(root, slice_files)``.

    ``root`` is a fresh work dir (``prefix``-named, removed at exit);
    the slices live in ``<root>/slices``. Every part file of every frame
    becomes one slice, in frame order and then part order, with
    ascending mtimes, so a one-file-per-trigger stream
    (:func:`ingest_epochs`) delivers them as micro-batches in that
    order: a ``repartitionByRange(k, id)`` frame gives k id-ordered
    epochs, a list of ``coalesce(1)`` frames one epoch per frame."""
    import glob
    import shutil
    import tempfile
    import time

    from smallquery_spark.queries.tmpdirs import prune_stale, register_cleanup

    prune_stale(prefix)
    root = register_cleanup(tempfile.mkdtemp(prefix=prefix))
    slices = os.path.join(root, "slices")
    os.makedirs(slices)
    files: list[str] = []
    for i, df in enumerate(frames):
        tmp = os.path.join(root, f"stage_{i}")
        df.write.parquet(tmp)
        for part in sorted(glob.glob(os.path.join(tmp, "part-*.parquet"))):
            files.append(os.path.join(slices, f"slice-{len(files):04d}.parquet"))
            shutil.move(part, files[-1])
        shutil.rmtree(tmp)
    base = time.time() - 10 * len(files)
    for i, f in enumerate(files):
        os.utime(f, (base + 10 * i, base + 10 * i))
    return root, files


def ingest_epochs(
    spark: SparkSession, root: str, store: str, step, name: str
) -> None:
    """Stream the slices :func:`stage_slices` staged under ``root``, one
    slice file per micro-batch, through ``step`` into the epoch-keyed
    store at ``store`` (:func:`_skip_then_commit`); drain with
    :func:`drain` under 8 shuffle partitions, checkpointed at
    ``<root>/ckpt``. Running it again on the same ``root`` resumes from
    that checkpoint.

    ``step(batch_df, epoch_id)`` is a generator: it does the epoch's
    work, yields the one frame to commit as that epoch, and its code
    after the ``yield`` runs once the epoch is committed."""
    slices = os.path.join(root, "slices")
    sdf = (
        spark.readStream.schema(spark.read.parquet(slices).schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(slices)
    )
    with scoped_confs(spark, {"spark.sql.shuffle.partitions": "8"}):
        drain(
            sdf.writeStream.foreachBatch(_skip_then_commit(store, step))
            .outputMode("append")
            .option("checkpointLocation", os.path.join(root, "ckpt")),
            name,
        )


def run_to_df(
    sdf: DataFrame,
    name: str,
    output_mode: str = "append",
    state_partitions: int = 8,
    sink: str = "auto",
) -> DataFrame:
    """Drain a streaming DataFrame into a sink; return it as a DataFrame.

    ``sink``:
    - ``"memory"`` — the memory sink: every emitted row is collected to
      the DRIVER. Fine at fixture scale; at gen-sf10 b53's ~9.9M
      complete-mode rows made it the dominant cost (31 s vs 2.1 s for
      the same batch aggregation).
    - ``"files"`` — foreachBatch writes each epoch to parquet (overwrite
      in complete mode, epoch-keyed otherwise) and the sink is read back
      as a distributed scan.
    - ``"auto"`` (default) — files when ``state_partitions`` ≥ 16 (≥1M
      source rows per ``state_partitions_for``), memory otherwise. Both
      sinks give identical rows (test_streaming_sinks_agree).

    A files sink of at most ``ROTATE_MAX_BYTES`` is materialized
    (``localCheckpoint``) and deleted before returning: retained sink
    bytes cost ~15% per warm rerun at gen100 (B53_RESIDUAL_gen100.json).
    A bigger one stays a lazy scan over the sink, because pinning ~99M
    rows in the block manager climbed 2.22x and then killed the JVM
    (B53_ROTATE_gen100.json).

    ``state_partitions`` is ``spark.sql.shuffle.partitions`` for the
    drain only: streaming state partitioning is fixed at checkpoint
    creation, and the batch default wastes a task per near-empty state
    store at fixture scale (~40% of micro-batch wall time).
    """
    qname = re.sub(r"[^A-Za-z0-9_]", "_", name)
    spark = sdf.sparkSession
    use_files = sink == "files" or (sink == "auto" and state_partitions >= 16)
    if use_files:
        import tempfile

        from smallquery_spark.queries.tmpdirs import (
            prune_stale,
            register_cleanup,
        )

        prune_stale("smallquery_runsink_")
        out_root = register_cleanup(
            tempfile.mkdtemp(prefix="smallquery_runsink_")
        )
        data_dir = os.path.join(out_root, qname)
        if output_mode == "complete":
            # each epoch IS the full result, so overwrite is idempotent
            def _sink(batch_df: DataFrame, _epoch_id: int) -> None:
                batch_df.write.mode("overwrite").parquet(data_dir)
        else:
            _sink = _skip_then_commit(
                data_dir, lambda batch_df, _epoch_id: iter((batch_df,))
            )

        writer = (
            sdf.writeStream.foreachBatch(_sink)
            .outputMode(output_mode)
            .option(
                "checkpointLocation", os.path.join(out_root, qname + "_ckpt")
            )
        )
    else:
        writer = (
            sdf.writeStream.format("memory")
            .queryName(qname)
            .outputMode(output_mode)
        )
    try:
        with scoped_confs(
            spark, {"spark.sql.shuffle.partitions": str(state_partitions)}
        ):
            drain(writer, qname)
    finally:
        unload_state_stores(spark)
    if not use_files:
        return spark.table(qname)
    import shutil

    if not os.path.isdir(data_dir):
        # zero emissions (e.g. everything beyond the watermark): an
        # empty frame with the stream's schema
        shutil.rmtree(out_root, ignore_errors=True)
        return spark.createDataFrame([], sdf.schema)
    # recursiveFileLookup: append-mode epochs live in epoch_* subdirs
    # (no partition-column inference wanted); complete mode is flat
    out = spark.read.option("recursiveFileLookup", "true").parquet(data_dir)
    # the sink is a LOCAL tmpdir by construction, so a plain walk is fine
    sink_bytes = 0
    for dirpath, _d, files in os.walk(data_dir):
        for f in files:
            try:
                sink_bytes += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    if sink_bytes <= ROTATE_MAX_BYTES:
        # materialize BEFORE deleting the files the plan reads
        out = out.localCheckpoint(eager=True)
        shutil.rmtree(out_root, ignore_errors=True)
    return out
