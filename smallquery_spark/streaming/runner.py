"""Structured Streaming plumbing (SURVEY.md §2 B50, B59).

Batch-equivalence harness: every streaming query in the registry runs
with ``trigger(availableNow=True)`` into a memory sink, drains, and the
materialized table is returned as a normal DataFrame — deterministic,
oracle-comparable (SURVEY §5.2: "streaming ops use batch-equivalence
with availableNow triggers"). In production the same pipeline definition
would point at a live source and a real sink; nothing in the dataflow
definition changes.
"""

from __future__ import annotations

import os
import re
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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
    try:
        import pyarrow.parquet as pq

        rows = pq.ParquetFile(
            os.path.join(sf_dir, "events.parquet")
        ).metadata.num_rows
    except Exception:
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
    4.1.2). Private API, so best-effort.

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
    except Exception:
        pass


def run_to_df(
    sdf: DataFrame,
    name: str,
    output_mode: str = "append",
    state_partitions: int = 8,
    sink: str = "auto",
    rotate_sink: bool = True,
    rotate_max_bytes: int = 256 * 1024 * 1024,
) -> DataFrame:
    """Drain a streaming DataFrame into a sink; return it as a DataFrame.

    ``availableNow`` processes everything currently in the source then
    stops — the deterministic test trigger.

    ``sink``:
    - ``"memory"`` — the memory sink: every emitted row is collected to
      the DRIVER. Deterministic and convenient at fixture scale, but a
      driver collect is the one anti-pattern this engine bans at 100 TB
      — measured at gen-sf10, b53's ~9.9M complete-mode session rows
      made the memory sink the dominant cost (31s wall, r₂ ≈ 10, vs
      2.1s for the identical batch aggregation).
    - ``"files"`` — production shape: foreachBatch writes each epoch to
      parquet (overwrite for complete mode — the epoch's emission IS
      the full result — append otherwise) and the sink is read back as
      a distributed scan; no driver materialization anywhere.
    - ``"auto"`` (default) — files when the caller sized the state for
      a big source (``state_partitions`` ≥ 16, i.e. ≥1M source rows per
      ``state_partitions_for``), memory at fixture scale. Both sinks
      receive identical rows (pinned by test_streaming_sinks_agree).

    ``rotate_sink`` (default True) encodes the flat-rerun posture IN
    the runner instead of leaving it to caller discipline — but
    SIZE-GATED, because the two retention regimes were both measured
    at gen100 (B53_RESIDUAL_gen100.json, B53_ROTATE_gen100.json):

    - result ≤ ``rotate_max_bytes`` of sink parquet: materialize once
      (``localCheckpoint(eager=True)``) and delete the run's entire
      sink root — parquet epochs AND streaming checkpoint — before
      returning. Retained sink bytes displace page cache and cost
      ~15% per warm rerun at gen100; the checkpointed blocks are
      freed when the returned frame is garbage-collected.
    - result LARGER than the gate: checkpoint-rotation is the wrong
      trade — measured on b53's ~99M-row complete-mode result, the
      block-manager copy pinned gigabytes per run (run 2 of 2 climbed
      2.22×, 78→174 s, and a 4-run sequence died in the JVM). Big
      results stay a lazy scan over the sink files (the tmpdir is
      already registered for at-exit cleanup); callers doing repeated
      corpus-sized drains delete each run's sink AFTER consuming it —
      the measured-flat ``rm_sink`` pattern — via :func:`sink_scope`.

    Pass ``rotate_sink=False`` to always keep the sink on disk (e.g.
    to re-read the epochs out-of-band).

    ``state_partitions`` sizes the stateful operators: streaming state
    partitioning is FIXED at checkpoint creation from
    ``spark.sql.shuffle.partitions``, so production jobs size it to key
    cardinality and throughput up front (the default 200 — or this
    repo's batch 32 — wastes a task per near-empty state store at
    fixture scale, ~40% of micro-batch wall time). The conf is restored
    for batch queries after the stream drains.
    """
    qname = re.sub(r"[^A-Za-z0-9_]", "_", name)
    spark = sdf.sparkSession
    use_files = sink == "files" or (sink == "auto" and state_partitions >= 16)
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
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
            complete = output_mode == "complete"

            def _sink(batch_df: DataFrame, epoch_id: int) -> None:
                # foreachBatch's exactly-once contract requires the sink to
                # be idempotent ON epoch_id: after a restart, Spark replays
                # the last epoch whose sink ran but whose streaming
                # checkpoint never committed. Complete mode is naturally
                # idempotent (each epoch IS the full result — overwrite);
                # append mode writes each epoch to its own epoch-keyed
                # subdirectory and skips epochs whose _SUCCESS marker
                # already landed (a partial write without _SUCCESS is
                # overwritten, so a mid-write crash also replays cleanly).
                if complete:
                    batch_df.write.mode("overwrite").parquet(data_dir)
                    return
                epoch_dir = os.path.join(data_dir, f"epoch_{epoch_id:010d}")
                if os.path.exists(os.path.join(epoch_dir, "_SUCCESS")):
                    return
                batch_df.write.mode("overwrite").parquet(epoch_dir)

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
        q = writer.trigger(availableNow=True).start()
        try:
            finished = q.awaitTermination(600)
            if not finished:
                raise TimeoutError(
                    f"stream {qname} did not drain within 600s"
                )
        finally:
            if q.isActive:
                q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        unload_state_stores(spark)
    if use_files:
        if not os.path.isdir(data_dir):
            # zero emissions (e.g. everything beyond the watermark):
            # an empty frame with the stream's schema
            if rotate_sink:
                import shutil

                shutil.rmtree(out_root, ignore_errors=True)
            return spark.createDataFrame([], sdf.schema)
        # recursiveFileLookup: append-mode epochs live in epoch_* subdirs
        # (no partition-column inference wanted); complete mode is flat
        # and reads identically.
        out = spark.read.option("recursiveFileLookup", "true").parquet(data_dir)
        if rotate_sink:
            # size gate (see docstring): the sink is a LOCAL tmpdir by
            # construction, so a plain walk is fine here
            sink_bytes = 0
            for dirpath, _d, files in os.walk(data_dir):
                for f in files:
                    try:
                        sink_bytes += os.path.getsize(os.path.join(dirpath, f))
                    except OSError:
                        pass
            if sink_bytes <= rotate_max_bytes:
                import shutil

                # materialize BEFORE deleting the files the plan reads
                out = out.localCheckpoint(eager=True)
                shutil.rmtree(out_root, ignore_errors=True)
                return out
        # big-result (or rotate_sink=False) path: lazy scan over the
        # sink; remember the root so sink_scope can delete it after
        # the caller consumes the frame
        out._smallquery_sink_root = out_root
        return out
    return spark.table(qname)


@contextmanager
def sink_scope(
    sdf: DataFrame,
    name: str,
    output_mode: str = "append",
    state_partitions: int = 8,
    sink: str = "auto",
):
    """Drain a stream, yield the result frame, and DELETE the run's
    sink root when the block exits — the flat warm-rerun posture for
    results too large to rotate through the block manager.

    The measured background (gen100 b53, ~99M-row complete-mode
    results): retaining each run's sink costs ~15% per warm rerun
    (page-cache displacement, B53_RESIDUAL_gen100.json); rotating via
    localCheckpoint pins gigabytes of blocks per run and measured a
    2.22x climb then a JVM death at 4 runs (B53_ROTATE_gen100.json);
    deleting the sink AFTER consumption — what this context manager
    does — was the flat variant. run_to_df's size-gated rotation
    handles small results automatically; use this for repeated
    corpus-sized drains:

        with sink_scope(agg, "big") as df:
            checksum = df.agg(...).collect()
        # sink root deleted here
    """
    df = run_to_df(
        sdf,
        name,
        output_mode=output_mode,
        state_partitions=state_partitions,
        sink=sink,
        rotate_sink=False,
    )
    try:
        yield df
    finally:
        root = getattr(df, "_smallquery_sink_root", None)
        if root:
            import shutil

            shutil.rmtree(root, ignore_errors=True)
