"""Structured Streaming queries (SURVEY.md §2 B50-B59).

All run through the batch-equivalence harness
(smallquery_spark.streaming.runner): availableNow trigger → memory sink
→ returned as a plain DataFrame the DuckDB oracle can match. Sums over
the double ``value`` column go through decimal casts (exact, engine-
independent — see relational.py).

Scale notes: the same pipelines pointed at kafka/file streams shard by
the groupBy keys; watermarks bound state; stateful ops
(applyInPandasWithState) keep per-key state in the state store, not in
driver memory.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from smallquery_spark.queries.registry import query, t
from smallquery_spark.session import scoped_confs
from smallquery_spark.streaming import (
    drain,
    events_stream,
    ingest_epochs,
    run_to_df,
    stage_slices,
    state_partitions_for,
)
from smallquery_spark.streaming.runner import _committed_epochs

_DEC = "decimal(18,2)"


# ---------------------------------------------------------------------------
# B50 — stream source passthrough (file source)
# ---------------------------------------------------------------------------


@query(
    "b50_stream_source",
    oracle="""
    SELECT event_id, user_id, value FROM events WHERE event_type = 'click'
    """,
    tags=("B50",),
)
def b50_stream_source(spark, sf_dir):
    sdf = events_stream(spark, sf_dir)
    out = sdf.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "value"
    )
    return run_to_df(out, "b50_src")


# ---------------------------------------------------------------------------
# B51 — tumbling window aggregation
# ---------------------------------------------------------------------------


@query(
    "b51_stream_tumbling",
    # total emitted as exact centi-unit BIGINT (decimal result columns
    # are a driver-canonicalization trap — see tools/check.py).
    oracle="""
    SELECT time_bucket(INTERVAL 10 MINUTE, ts) AS ws,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS total_cents
    FROM events
    GROUP BY 1
    """,
    tags=("B51",),
)
def b51_stream_tumbling(spark, sf_dir):
    sdf = events_stream(spark, sf_dir)
    agg = (
        sdf.groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast(_DEC)).alias("total"),
        )
        .select(
            F.col("w.start").alias("ws"),
            "n",
            (F.col("total") * 100).cast("bigint").alias("total_cents"),
        )
    )
    return run_to_df(agg, "b51_tumble", output_mode="complete")


# ---------------------------------------------------------------------------
# B52 — sliding window aggregation
# ---------------------------------------------------------------------------


@query(
    "b52_stream_sliding",
    # every event belongs to 2 sliding windows (size 10m, slide 5m):
    # the 5m-bucket it falls in, and the one starting 5m earlier.
    oracle="""
    WITH e AS (SELECT time_bucket(INTERVAL 5 MINUTE, ts) AS b5 FROM events)
    SELECT ws, COUNT(*) AS n FROM (
      SELECT UNNEST([b5, b5 - INTERVAL 5 MINUTE]) AS ws FROM e
    ) GROUP BY ws
    """,
    tags=("B52",),
)
def b52_stream_sliding(spark, sf_dir):
    sdf = events_stream(spark, sf_dir)
    agg = (
        sdf.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    return run_to_df(agg, "b52_slide", output_mode="complete")


# ---------------------------------------------------------------------------
# B53 — session windows (5-minute gap)
# ---------------------------------------------------------------------------


@query(
    "b53_stream_session",
    # oracle: classic gaps-and-islands; new session when gap >= 5 minutes
    # (Spark merges strictly-closer-than-gap events).
    oracle="""
    WITH lagd AS (
      SELECT user_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
      FROM events
    ), marked AS (
      SELECT user_id, ts,
             CASE WHEN prev IS NULL OR ts - prev >= INTERVAL 5 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM lagd
    ), sess AS (
      SELECT user_id,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT user_id, COUNT(*) AS n_events
    FROM sess GROUP BY user_id, sid
    """,
    tags=("B53",),
)
def b53_stream_session(spark, sf_dir):
    sdf = events_stream(spark, sf_dir)
    agg = (
        sdf.groupBy(F.session_window("ts", "5 minutes"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"))
        .select("user_id", "n_events")
    )
    # Session state is keyed by (user, session) — near event-cardinality
    # for sparse activity (30-day span, 5-min gap → mostly singleton
    # sessions), so size the stateful shuffle like b58, not like the
    # 4320-window tumbling aggs (8 partitions serialized the gen-sf10
    # merge-sort onto a quarter of the cores: 35.7s, r₂ 11.6 —
    # super-linear purely from starvation).
    return run_to_df(
        agg,
        "b53_session",
        output_mode="complete",
        state_partitions=state_partitions_for(sf_dir),
    )


# ---------------------------------------------------------------------------
# B54 — watermark + append mode (late windows held back)
# ---------------------------------------------------------------------------


@query(
    "b54_stream_watermark",
    # append emits only windows finalized by the terminal watermark
    # (max event time - 10m): window_end <= watermark.
    oracle="""
    WITH wm AS (SELECT MAX(ts) - INTERVAL 10 MINUTE AS w FROM events)
    SELECT ws, n FROM (
      SELECT time_bucket(INTERVAL 10 MINUTE, ts) AS ws, COUNT(*) AS n
      FROM events GROUP BY 1
    ), wm
    WHERE ws + INTERVAL 10 MINUTE <= wm.w
    """,
    tags=("B54",),
)
def b54_stream_watermark(spark, sf_dir):
    sdf = events_stream(spark, sf_dir)
    agg = (
        sdf.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    return run_to_df(agg, "b54_wm", output_mode="append")


# ---------------------------------------------------------------------------
# B55 — streaming dedup
# ---------------------------------------------------------------------------


@query(
    "b55_stream_dedup",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    tags=("B55",),
)
def b55_stream_dedup(spark, sf_dir):
    sdf = events_stream(spark, sf_dir)
    # dropDuplicates keeps the first arrival per key — emit only the key
    # columns so the result is deterministic across arrival orders.
    dd = (
        sdf.withWatermark("ts", "1 hour")
        .dropDuplicates(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    # dedup state is keyed by (user, type) — scales with key cardinality
    return run_to_df(
        dd, "b55_dedup", state_partitions=state_partitions_for(sf_dir)
    )


# ---------------------------------------------------------------------------
# B56 — stream-static join
# ---------------------------------------------------------------------------


@query(
    "b56_stream_static_join",
    oracle="""
    SELECT e.event_id, e.user_id, c.c_mktsegment
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.event_type = 'purchase'
    """,
    tags=("B56",),
)
def b56_stream_static_join(spark, sf_dir):
    sdf = events_stream(spark, sf_dir).filter(F.col("event_type") == "purchase")
    dim = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = sdf.join(dim, sdf.user_id == dim.c_custkey).select(
        "event_id", "user_id", "c_mktsegment"
    )
    return run_to_df(joined, "b56_ss")


# ---------------------------------------------------------------------------
# B57 — stream-stream join (time-bounded)
# ---------------------------------------------------------------------------


@query(
    "b57_stream_stream_join",
    oracle="""
    SELECT e.event_id AS error_id, c.event_id AS click_id
    FROM events e JOIN events c
      ON e.user_id = c.user_id
     AND c.ts >= e.ts - INTERVAL 10 MINUTE
     AND c.ts <= e.ts
     AND e.event_type = 'error' AND c.event_type = 'click'
    """,
    tags=("B57",),
)
def b57_stream_stream_join(spark, sf_dir):
    errors = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_id"),
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("e_ts"),
        )
        .withWatermark("e_ts", "30 minutes")
    )
    clicks = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "30 minutes")
    )
    joined = errors.join(
        clicks,
        F.expr(
            """
            e_user = c_user AND
            c_ts >= e_ts - INTERVAL 10 MINUTES AND
            c_ts <= e_ts
            """
        ),
    ).select("error_id", "click_id")
    # both join sides buffer rows keyed by user within the watermark —
    # the largest state footprint after b58; size like it
    return run_to_df(
        joined, "b57_ssj", state_partitions=state_partitions_for(sf_dir)
    )


# ---------------------------------------------------------------------------
# B58 — arbitrary stateful op (applyInPandasWithState)
# ---------------------------------------------------------------------------


@query(
    "b58_stream_stateful",
    # total emitted as exact centi-unit BIGINT (decimal result columns
    # are a driver-canonicalization trap — see tools/check.py).
    oracle="""
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS total_value_cents
    FROM events GROUP BY user_id
    """,
    tags=("B58",),
)
def b58_stream_stateful(spark, sf_dir):
    """Arbitrary per-key stateful fold (count + exact money total).

    Scale shape (measured at gen-sf10, 10M events): the state fold used
    to parse every row's double into ``Decimal(f"{v:.2f}")`` in Python —
    ~2µs/row, 20s of the op's 26.8s wall. Now the exact money conversion
    happens JVM-side BEFORE the stateful op (decimal(18,2) cast → cents
    as long — the same engine-exact recipe as the oracle and b67), so
    the Python fold is two vectorized pandas reductions per (key, batch)
    instead of per-row work. Only the truly arbitrary residue (the
    per-key state machine itself) crosses the Arrow boundary; everything
    algebraic stays Catalyst.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def track(key, pdfs, state: GroupState):
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            # int64 column sum — exact (cents are integers, no float path)
            cents += int(pdf["cents"].sum())
        state.update((n, cents))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value_cents": [cents],
            }
        )

    sdf = events_stream(spark, sf_dir).select(
        "user_id",
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    out = sdf.groupBy("user_id").applyInPandasWithState(
        track,
        outputStructType="user_id long, n_events long, total_value_cents long",
        stateStructType="n long, total long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    df = run_to_df(
        out,
        "b58_state",
        output_mode="update",
        state_partitions=state_partitions_for(sf_dir),
    )
    # one emission per (user, micro-batch); keep the final state per user.
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", "total_value_cents")
    )


# ---------------------------------------------------------------------------
# B59 — foreachBatch sink
# ---------------------------------------------------------------------------


@query(
    "b59_foreach_batch",
    oracle="""
    SELECT event_id, user_id, value FROM events WHERE event_type = 'signup'
    """,
    tags=("B59",),
)
def b59_foreach_batch(spark, sf_dir):
    sdf = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "signup")
        .select("event_id", "user_id", "value")
    )
    return run_to_df(sdf, "b59_foreach_batch", sink="files")


@query(
    "b55_stream_dedup_within_wm",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    tags=("B55",),
)
def b55_stream_dedup_within_wm(spark, sf_dir):
    """dropDuplicatesWithinWatermark: like dropDuplicates but state for a
    key is evicted once the watermark passes it — bounded state for
    unbounded streams (the production-correct variant). Over the finite
    fixture with a generous delay it must equal plain DISTINCT."""
    sdf = events_stream(spark, sf_dir)
    dd = (
        sdf.withWatermark("ts", "100 days")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return run_to_df(
        dd, "b55_dedup_wm", state_partitions=state_partitions_for(sf_dir)
    )


@query(
    "b50_rate_source",
    oracle="SELECT TRUE AS schema_ok, TRUE AS rows_ok",
    tags=("B50",),
)
def b50_rate_source(spark, sf_dir):
    """The rate source (synthetic benchmark stream): schema is
    (timestamp, value); contract checks shape + monotone values since
    content is wall-clock dependent."""
    import time

    sdf = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 200)
        .load()
    )
    # rate rows accrue with wall time, so availableNow at t=0 yields
    # nothing — run real micro-batches briefly instead.
    q = (
        sdf.writeStream.format("memory")
        .queryName("b50_rate")
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.time() + 15
        while time.time() < deadline and not spark.table("b50_rate").count():
            time.sleep(0.5)
        time.sleep(1.0)
    finally:
        q.stop()
    got = spark.table("b50_rate")
    schema_ok = [f.name for f in got.schema.fields] == ["timestamp", "value"]
    vals = [r["value"] for r in got.orderBy("value").collect()]
    rows_ok = len(vals) > 0 and vals == sorted(set(vals))
    return spark.createDataFrame(
        [(schema_ok, rows_ok)], "schema_ok boolean, rows_ok boolean"
    )


@query(
    "b58_rocksdb_state",
    # Same grouped-count contract as the default-provider stateful ops,
    # held in RocksDB — results must be identical.
    oracle="""
    SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id
    """,
    tags=("B58", "B51"),
)
def b58_rocksdb_state(spark, sf_dir):
    """Stateful streaming on the PRODUCTION state backend: RocksDB
    state-store provider (spill-to-disk per-key state, changelog
    checkpointing) instead of the default in-memory HDFS-backed store.
    At 100 TB of keyed state this is the difference between an executor
    OOM and steady-state — and the results must be bit-identical, which
    is exactly what this query's oracle asserts. Runs through the
    engine's `rocksdb_state` posture helper (provider + join
    stateFormatVersion=3 as one unit, B57_ROOTCAUSE_gen100.json)."""
    from smallquery_spark.session import rocksdb_state

    with rocksdb_state(spark):
        sdf = events_stream(spark, sf_dir)
        agg = sdf.groupBy("user_id").agg(F.count("*").alias("n_events"))
        return run_to_df(agg, "b58_rocks", output_mode="complete")


# ---------------------------------------------------------------------------
# B67 — transformWithStateInPandas (Spark 4 arbitrary-stateful API)
# ---------------------------------------------------------------------------


@query(
    "b67_transform_with_state",
    # max emitted as exact centi-unit BIGINT via decimal cast (the same
    # engine-independent money recipe as b58).
    oracle="""
    SELECT user_id, COUNT(*) AS n_events,
           CAST(MAX(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
             AS max_value_cents
    FROM events GROUP BY user_id
    """,
    tags=("B67", "B58"),
)
def b67_transform_with_state(spark, sf_dir):
    """Arbitrary stateful streaming on Spark 4's transformWithStateInPandas
    API (SPARK-49494 successor to applyInPandasWithState): a
    StatefulProcessor with a typed ValueState tracks per-user event count
    and running max value. Requires the RocksDB state-store provider —
    per-key state lives in the store (spill-to-disk, changelog
    checkpoints), never in driver or Python-worker memory, so keyed
    state scales with executors, not with a single heap.

    Money values are converted to exact centi-unit BIGINT with the SAME
    Spark-side decimal cast the oracle uses (b58 recipe), BEFORE the
    stateful op — the processor only ever compares integers, so there
    is no float-rounding divergence between engines (Python's
    round-half-even f-string vs SQL's round-half-away would differ on
    exactly-representable half-cent doubles like 2.125).

    Dependency gate: the TWS Python worker speaks a protobuf protocol
    (pyspark.sql.streaming.proto), and ``protobuf`` is not installed in
    this image. When the import fails we run the SAME per-key state
    machine through applyInPandasWithState (no extra dependency) so the
    operator contract stays executable and oracle-checked either way;
    the TWS path is exercised verbatim wherever protobuf exists.
    """

    def _fold(n, mx, pdf):
        # vectorized: int64 column max, no per-row Python (b58 lesson —
        # per-row loops here were ~2µs/row at gen-sf10)
        if len(pdf):
            n += len(pdf)
            c = int(pdf["cents"].max())
            mx = c if mx is None or c > mx else mx
        return n, mx

    try:
        from google.protobuf import descriptor  # noqa: F401  (TWS worker dep)

        _HAVE_TWS = True
    except ImportError:
        _HAVE_TWS = False

    from smallquery_spark.session import rocksdb_state

    with rocksdb_state(spark):
        sdf = events_stream(spark, sf_dir).select(
            "user_id",
            (F.col("value").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("cents"),
        )
        if _HAVE_TWS:
            from pyspark.sql.streaming.stateful_processor import (
                StatefulProcessor,
                StatefulProcessorHandle,
            )

            class _CountMax(StatefulProcessor):
                def init(self, handle: StatefulProcessorHandle):
                    self._agg = handle.getValueState("agg", "n long, mx long")

                def handleInputRows(self, key, rows, timerValues):
                    prev = self._agg.get() if self._agg.exists() else None
                    n, mx = prev if prev is not None else (0, None)
                    for pdf in rows:
                        n, mx = _fold(n, mx, pdf)
                    self._agg.update((n, mx))
                    yield pd.DataFrame(
                        {
                            "user_id": [key[0]],
                            "n_events": [n],
                            "max_value_cents": [mx],
                        }
                    )

                def close(self):
                    pass

            out = sdf.groupBy("user_id").transformWithStateInPandas(
                statefulProcessor=_CountMax(),
                outputStructType=(
                    "user_id long, n_events long, max_value_cents long"
                ),
                outputMode="Update",
                timeMode="None",
            )
        else:
            from pyspark.sql.streaming.state import (
                GroupState,
                GroupStateTimeout,
            )

            def track(key, pdfs, state: GroupState):
                n, mx = state.get if state.exists else (0, None)
                for pdf in pdfs:
                    n, mx = _fold(n, mx, pdf)
                state.update((n, mx))
                yield pd.DataFrame(
                    {
                        "user_id": [key[0]],
                        "n_events": [n],
                        "max_value_cents": [mx],
                    }
                )

            out = sdf.groupBy("user_id").applyInPandasWithState(
                track,
                outputStructType=(
                    "user_id long, n_events long, max_value_cents long"
                ),
                stateStructType="n long, mx long",
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            )
        df = run_to_df(
            out,
            "b67_tws",
            output_mode="update",
            state_partitions=state_partitions_for(sf_dir),
        )
    # one emission per (user, micro-batch); keep the final state per user.
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", "max_value_cents")
    )


# ---------------------------------------------------------------------------
# B68 — state-store data source (read checkpointed streaming state)
# ---------------------------------------------------------------------------


@query(
    "b68_state_store_reader",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id
    """,
    tags=("B68", "B58"),
)
def b68_state_store_reader(spark, sf_dir):
    """Spark 4 state data source: run a checkpointed streaming
    aggregation, then read the operator's state store back as a
    DataFrame with ``spark.read.format("statestore")`` — the supported
    way to audit/debug keyed streaming state without replaying the
    stream. The state rows (key struct, aggregation buffer struct) must
    reproduce the batch answer exactly, which is what the oracle
    asserts.

    At scale this reads the checkpoint's per-partition state files
    directly (parallel by state partition, no shuffle) — inspecting
    terabytes of keyed state is a scan, not a recomputation.
    """
    import tempfile

    from smallquery_spark.queries.tmpdirs import prune_stale, register_cleanup

    # Per-run checkpoint dir: concurrent harness runs at the same scale
    # factor must never share (or half-overwrite) a state directory.
    # Removed at exit; stale dirs from crashed runs pruned by age.
    prune_stale("smallquery_state_reader_")
    ckpt = register_cleanup(tempfile.mkdtemp(prefix="smallquery_state_reader_"))
    sdf = events_stream(spark, sf_dir)
    agg = sdf.groupBy("user_id").agg(F.count("*").alias("n_events"))
    # size the state partitioning like every other stateful query
    # (r15): each partition is a state-store instance to write AND a
    # state file to read back — the measured small-source tier applies
    # to both sides of this query
    with scoped_confs(
        spark, {"spark.sql.shuffle.partitions": str(state_partitions_for(sf_dir))}
    ):
        drain(
            agg.writeStream.format("memory")
            .queryName("b68_sink")
            .outputMode("complete")
            .option("checkpointLocation", ckpt),
            "b68_sink",
        )
    st = spark.read.format("statestore").load(ckpt)
    return st.select(
        F.col("key.user_id").alias("user_id"),
        F.col("value.count").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# C11 × B50/B59 — streaming ingestion dedup: micro-batches arrive in id
# order and each is deduplicated against a PERSISTENT index built by the
# batches before it (the steady-state ingest loop of a training-data
# pipeline, run end-to-end through a real file stream + foreachBatch).
# ---------------------------------------------------------------------------


@query(
    "c11_streaming_dedup",
    oracle="""
    WITH slice AS (
      SELECT doc_id, substring(text, 1, 40) AS fp
      FROM documents WHERE doc_id < 400 AND text IS NOT NULL
    )
    SELECT s.doc_id FROM slice s
    WHERE NOT EXISTS (
      SELECT 1 FROM slice e
      WHERE e.doc_id < s.doc_id AND e.fp = s.fp)
    """,
    tags=("C11", "C1", "B50", "B59"),
)
def c11_streaming_dedup(spark, sf_dir):
    """Fingerprint-dedup ingestion as a REAL stream: 4 id-ordered
    micro-batches; each foreachBatch epoch fingerprints its documents
    (md5 over the first-40-char prefix — the standard crawl-dedup
    heuristic; the driver fixtures contain zero EXACT-duplicate texts
    at sf0.01, while prefix-40 collides at every sf, so this key makes
    the drop path real at the gate scale), anti-joins the accumulated
    fingerprint INDEX (hashes only — accepted text never moves, the
    c11 posture), dedups within the batch, and appends survivors to
    the index. The returned frame is the index contents: exactly the
    first occurrence of every distinct fingerprint, which the oracle
    states as a plain NOT EXISTS — the streaming plumbing (source
    ordering, per-epoch index reads, appends) is what is being
    value-checked against DuckDB.

    NULL contract pinned explicitly: NULL-text docs are excluded on
    BOTH sides (engine filter + oracle predicate) because groupBy
    treats NULL fingerprints as equal while the oracle's ``e.fp =
    s.fp`` never matches NULL — the two semantics would diverge if a
    fixture ever carried NULL text. Index appends are epoch-keyed and
    idempotent (``ingest_epochs``)."""
    docs = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 400)
        .filter(F.col("text").isNotNull())
    )
    root, _ = stage_slices(
        spark,
        [docs.repartitionByRange(4, "doc_id").sortWithinPartitions("doc_id")],
        "smallquery_sdedup_",
    )
    index_dir = os.path.join(root, "digest_index")

    def _step(batch_df, _epoch_id):
        fresh = (
            batch_df.withColumn("__h", F.md5(F.substring("text", 1, 40)))
            .groupBy("__h")
            .agg(F.min("doc_id").alias("doc_id"))
        )
        committed = _committed_epochs(index_dir)
        if committed:
            idx = batch_df.sparkSession.read.parquet(*committed).select("__h")
            fresh = fresh.join(idx, "__h", "left_anti")
        yield fresh.select("doc_id", "__h")

    ingest_epochs(spark, root, index_dir, _step, "c11_streaming_dedup")
    return spark.read.parquet(*_committed_epochs(index_dir)).select("doc_id")


@query(
    "c2_streaming_neardup",
    oracle=(
        "SELECT TRUE AS sets_equal, TRUE AS nonempty,"
        " TRUE AS dropped_some"
    ),
    tags=("C2", "C11", "B50", "B59"),
)
def c2_streaming_neardup(spark, sf_dir):
    """Near-dup ingestion as a real stream: 3 id-ordered micro-batches
    run the BUCKETED at-rest index path (`operators.neardup_index.
    NearDupIndex`) inside foreachBatch — the banded bucket join against
    the batch itself plus the bucketed signature index (band keys +
    60-bit hash sets; accepted text never moves) — and append survivors
    to the index. The index side of the band join never shuffles
    (bucketBy(__bk) scan, plan-pinned in tests/test_plans.py); each
    epoch shuffles only itself, which is what keeps per-epoch ingest
    cost flat as the corpus accumulates (C2_STREAM_CURVE_5M.json showed
    the old read-parquet index path growing +40 s/epoch at 5M docs).
    The contract compares the streamed accepted set against a
    sequential batch loop applying `neardup_ingest_step` — the SAME
    size-ratio + hash-Jaccard rule through the non-bucketed plan — to
    the same slices: equality checks both the streaming plumbing (epoch
    ordering, index read-your-writes across epochs) and the bucketed
    layout's value-parity with the reference step. Slice construction
    guarantees duplicate clusters at every sf (same recipe as
    c2_minhash_lsh), so dropped_some is a real assertion, not
    vacuous.

    Runs at the DEFAULT engine posture: (b, r) derived from the
    threshold via the S-curve rule (banded_config(0.5) = (8, 3), the
    measured flat-ingest config) and NearDupIndex's default
    join_strategy='auto' (shuffle_hash with automatic merge fallback
    on a hash-build failure) — both sides of the oracle use the same
    derived (b, r), so the contract pins the defaults end-to-end."""
    from smallquery_spark.operators.dedup import (
        _banded_sig_df,
        banded_config,
        neardup_ingest_step,
    )
    from smallquery_spark.operators.neardup_index import NearDupIndex

    all_docs = t(spark, sf_dir, "documents")
    dup_groups = (
        all_docs.groupBy("text")
        .agg(F.min("doc_id").alias("gid"), F.count("*").alias("nc"))
        .filter(F.col("nc") >= 2)
        .orderBy("gid")
        .limit(30)
        .select("text")
    )
    dup_members = all_docs.join(F.broadcast(dup_groups), "text", "left_semi")
    docs = dup_members.unionByName(
        all_docs.filter(F.col("doc_id") < 150)
    ).dropDuplicates(["doc_id"])
    total = docs.count()
    root, slices = stage_slices(
        spark,
        [docs.repartitionByRange(3, "doc_id").sortWithinPartitions("doc_id")],
        "smallquery_sndup_",
    )
    index_dir = os.path.join(root, "sig_index")

    ndx = NearDupIndex(
        spark, f"sndup_{os.path.basename(root).rsplit('_', 1)[-1]}", n_buckets=8
    )
    ndx.drop()
    bands, rows_per_band = banded_config(0.5)

    def _step(batch_df, _epoch_id):
        # checkpoint the signatures once (ingest_epoch fans them out to
        # ~5 consumers); unpersist both once the epoch commits so
        # per-epoch blocks never accumulate across micro-batches
        sig = _banded_sig_df(
            batch_df, bands=bands, rows_per_band=rows_per_band
        ).localCheckpoint(eager=True)
        surv = ndx.ingest_epoch(sig, threshold=0.5)
        # append BEFORE the epoch commit: a crash in the window replays
        # the epoch against an index already holding its survivors,
        # which ingest_epoch's self-exclusion makes a fixed point;
        # append-after-commit would instead let the NEXT epoch run
        # against an index missing this one (silent under-dropping)
        ndx.append(surv)
        yield surv
        sig.unpersist()
        surv.unpersist()

    try:
        ingest_epochs(spark, root, index_dir, _step, "c2_streaming_neardup")
        with scoped_confs(spark, {"spark.sql.shuffle.partitions": "8"}):
            # output-side exact dedup on id: the at-least-once half of the
            # ingest contract. append()'s guard keeps the INDEX clean under
            # upstream re-sends, but a re-sent already-accepted id passes
            # ingest_epoch again (self-exclusion) and would re-emit — one
            # dropDuplicates on the accepted output makes re-sends produce
            # byte-identical survivor sets vs exactly-once delivery
            # (pinned end-to-end in test_neardup_index_at_least_once).
            streamed = (
                spark.read.parquet(*_committed_epochs(index_dir))
                .select("doc_id")
                .dropDuplicates(["doc_id"])
            )

            # sequential reference: the same step applied slice-by-slice
            # through the BATCH engine (no stream source, no foreachBatch)
            ref_idx = None
            for part in slices:
                sig = _banded_sig_df(
                    spark.read.parquet(part),
                    bands=bands,
                    rows_per_band=rows_per_band,
                )
                surv = neardup_ingest_step(sig, ref_idx, threshold=0.5)
                surv = surv.localCheckpoint(eager=True)
                ref_idx = surv if ref_idx is None else ref_idx.unionByName(surv)
            reference = ref_idx.select("doc_id")
    finally:
        ndx.drop()

    n_streamed = streamed.count()
    missing = reference.exceptAll(streamed).count()
    extra = streamed.exceptAll(reference).count()
    return spark.createDataFrame(
        [
            (
                missing == 0 and extra == 0,
                n_streamed > 0,
                n_streamed < total,
            )
        ],
        "sets_equal boolean, nonempty boolean, dropped_some boolean",
    )


@query(
    "c3_streaming_ann",
    oracle=(
        "SELECT TRUE AS streamed_equals_rebuild, TRUE AS nonempty,"
        " TRUE AS signals_quiet, TRUE AS drift_fires, TRUE AS stale_raises"
    ),
    tags=("C3", "B50", "B59"),
)
def c3_streaming_ann(spark, sf_dir):
    """Continuous ANN ingest as a REAL stream (VERDICT r10 #1 — the
    streaming leg C2/C11 already had): the IVF-PQ index is built on the
    head of the embeddings corpus, then 3 id-ordered micro-batches run
    `append_ivfpq_epoch` inside foreachBatch — each epoch reloading the
    quantizer FROM THE INDEX (`load_index_meta`, which verifies the
    generation stamp; a retrain landing mid-stream is picked up by the
    next epoch, and an epoch holding pre-retrain state fails loudly at
    its append instead of corrupting — `stale_raises` pins that) and
    evaluating all three drift signals per epoch against recorded
    baselines: `assignment_fit` (diffuse drift), `pq_fit_gap` (codebook
    misfit), and `ivf_retrain_trigger` (concentrated skew, post-append).

    Contracts: (1) the streamed index answers probes EXACTLY like a
    `materialize_ivfpq` rebuild over the union — epoch appends are the
    same pure (vector, quantizer) function, so the parity is structural
    and survives the streaming plumbing (epoch ordering, per-epoch
    at-rest meta reloads, commit markers); (2) the signals stay QUIET on
    these in-distribution epochs — fit and gap relative to the FIRST
    epoch (the calibration epoch: at 500 fixture rows the build corpus
    is memorized by the codebooks, so build-time gap is not an honest
    reference for held-out batches; at real scale PQ_QERR_gen100.json
    shows build-time baselines work directly), imbalance relative to
    the build-time histogram; (3) the same signals FIRE on the negated
    indexed corpus (maximal drift, judged against the corpus's own
    build baselines — see the in-body note on why held-out controls
    are geometrically impossible on this near-isotropic fixture) —
    quiet is an assertion, not a vacuous default; (4) a post-stream
    append with a stale quantizer
    raises StaleQuantizerError. Per-epoch ingest cost stays flat as the
    index grows (the C2 curve's analogue, measured at 600k x 64-dim in
    C3_STREAM_CURVE_gen100.json).

    Exactly-once appends (r11, hardened r12): each epoch writes through
    `append_ivfpq_epoch` — staged inside the table directory, one
    deterministic `part-epoch-<id>.parquet` move per touched cell, then
    a durable `_epochs/epoch-<id>` commit marker carrying per-cell
    content fingerprints — so a replayed epoch (foreachBatch is
    at-least-once for the in-flight epoch) short-circuits on the marker
    (surviving even a compaction that merged the file names away),
    completes a partial attempt cell-by-cell, and raises
    DivergentReplayError if the source re-delivered different content;
    crash-at-every-point pinned in tests/test_pq.py. The signal
    record's `_SUCCESS` marker only gates re-computing signals — the
    append itself does not depend on it. The per-epoch imbalance
    trigger rides IngestHistogram (r12): exact-delta folds from the
    append's return, stamp-guarded, fold/scan routed on the measured
    crossover."""
    from smallquery_spark.errors import StaleQuantizerError
    from smallquery_spark.operators.pq import (
        append_ivfpq_epoch,
        drop_index,
        ivfpq_search,
        load_index_meta,
        materialize_ivfpq,
        pq_fit_gap,
        pq_qerr_trigger,
        pq_train,
    )
    from smallquery_spark.operators.similarity import (
        IngestHistogram,
        assignment_fit,
        ivf_assign,
        ivf_build_centroids,
        ivf_defaults,
        ivf_retrain_trigger,
    )

    emb = t(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    base = emb.filter(F.col("vec_id") < 200).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("vec")
    )
    arriving_raw = emb.filter(F.col("vec_id") >= 200)
    n_cells, n_probe = ivf_defaults(base.count())
    cents = ivf_build_centroids(base, n_cells=n_cells)
    books = pq_train(base, cents)
    pid = os.getpid()
    tname = materialize_ivfpq(
        spark, ivf_assign(base, cents), cents, books, f"c3sann_{pid}"
    )
    tname_rb = None
    root, _ = stage_slices(
        spark,
        [arriving_raw.repartitionByRange(3, "vec_id").sortWithinPartitions("vec_id")],
        "smallquery_sann_",
    )
    signals_dir = os.path.join(root, "signals")
    _, build_stats = ivf_retrain_trigger(spark, tname, n_cells=n_cells)
    build_imb = build_stats["imbalance"]
    build_fit = assignment_fit(base, cents)
    build_gap = pq_fit_gap(base, cents, books)

    # the per-epoch imbalance trigger rides the maintained histogram
    # (r12 default): exact-delta folds from the append's return, the
    # measured ~35x crossover routing fold-vs-scan (at this fixture's
    # ratio the scan path answers — and resyncs the counts for free),
    # and the quantizer-stamp guard re-seeding after any retrain
    hist = IngestHistogram(spark, tname, n_cells=n_cells)

    def _step(batch_df, epoch_id):
        sess = batch_df.sparkSession
        batch = batch_df.select(
            F.col("vec_id").alias("c_id"), F.col("embedding").alias("vec")
        ).localCheckpoint(eager=True)
        # the quantizer comes from the INDEX, not the builder process:
        # stamp-verified at-rest reload per epoch (retrain-aware ingest)
        cl, bl = load_index_meta(sess, tname)
        fit = assignment_fit(batch, cl)
        gap = pq_fit_gap(batch, cl, bl)
        hist.fold(
            append_ivfpq_epoch(
                sess, tname, batch, cl, bl, epoch_id=int(epoch_id)
            )
        )
        trig, stats = hist.trigger(baseline_imbalance=build_imb)
        rec = sess.createDataFrame(
            [(int(epoch_id), float(fit), float(gap),
              float(stats["imbalance"]), bool(trig))],
            "epoch long, fit double, gap double, imbalance double,"
            " imb_trigger boolean",
        )
        yield rec
        batch.unpersist()

    try:
        ingest_epochs(spark, root, signals_dir, _step, "c3_streaming_ann")
        with scoped_confs(spark, {"spark.sql.shuffle.partitions": "8"}):
            recs = sorted(
                spark.read.parquet(*_committed_epochs(signals_dir)).collect(),
                key=lambda r: r["epoch"],
            )
            cal, later = recs[0], recs[1:]
            signals_quiet = (
                len(recs) == 3
                and all(not r["imb_trigger"] for r in recs)
                and all(not pq_qerr_trigger(r["gap"], cal["gap"]) for r in later)
                and all(
                    cal["fit"] > 0 and r["fit"] / cal["fit"] >= 0.9
                    for r in later
                )
            )

            # fires control — scale-independent geometry, the
            # c3_ann_ivf_append pattern: the fixture embeddings are near-
            # isotropic, so for HELD-OUT data every unit-norm transform
            # (negation included) is distribution-preserving and no control
            # can move fit/gap vs the calibration epoch (measured: negated
            # held-out gap 0.1534 vs quiet 0.1531). The batch signals'
            # fire side is therefore pinned against the INDEXED corpus's
            # own baselines, where the geometry is decisive: the negated
            # base flips every centroid cosine (fit craters vs the
            # memorized build fit) and presents residuals the codebooks
            # never saw (gap ~0.15 vs the memorized ~2e-10 — ratio ~1e9).
            # The held-out-scale fire separation is the gen100 artifact's
            # claim (PQ_QERR_gen100.json: σ-growth 41x at 600k), not this
            # fixture's.
            arriving = arriving_raw.select(
                F.col("vec_id").alias("c_id"), F.col("embedding").alias("vec")
            )
            negated_base = base.withColumn(
                "vec", F.transform("vec", lambda x: -x)
            )
            cl, bl = load_index_meta(spark, tname)
            drift_fires = pq_qerr_trigger(
                pq_fit_gap(negated_base, cl, bl), build_gap
            ) and (
                build_fit > 0
                and assignment_fit(negated_base, cl) / build_fit < 0.9
            )

            # value gate: streamed index == batch rebuild over the union,
            # probe-for-probe (ADC path; candidate sets AND scores equal)
            tname_rb = materialize_ivfpq(
                spark,
                ivf_assign(base.unionByName(arriving), cents),
                cents,
                books,
                f"c3sann_rb_{pid}",
            )
            queries = emb.filter(F.col("vec_id") < 20).select(
                F.col("vec_id").alias("q_id"), F.col("embedding").alias("vec")
            )
            streamed = ivfpq_search(
                spark, queries, tname, cents, books, k=10, n_probe=n_probe
            ).localCheckpoint(eager=True)
            rebuilt = ivfpq_search(
                spark, queries, tname_rb, cents, books, k=10, n_probe=n_probe
            )
            same = (
                streamed.exceptAll(rebuilt).count() == 0
                and rebuilt.exceptAll(streamed).count() == 0
            )

            # a retrain landing mid-stream: the next epoch's state is stale
            # and its append must fail loudly, never corrupt
            stale_books = pq_train(base, cents, seed=99)
            try:
                append_ivfpq_epoch(
                    spark, tname, arriving.limit(3), cents, stale_books,
                    epoch_id=99,
                )
                stale_raises = False
            except StaleQuantizerError:
                stale_raises = True

            return spark.createDataFrame(
                [
                    (
                        same,
                        streamed.count() > 0,
                        signals_quiet,
                        drift_fires,
                        stale_raises,
                    )
                ],
                "streamed_equals_rebuild boolean, nonempty boolean,"
                " signals_quiet boolean, drift_fires boolean,"
                " stale_raises boolean",
            )
    finally:
        drop_index(spark, tname)
        if tname_rb is not None:
            drop_index(spark, tname_rb)


@query(
    "c3_stream_retrain_cycle",
    oracle=(
        "SELECT TRUE AS hot_fired, TRUE AS quiet_before, TRUE AS"
        " stale_raised, TRUE AS retrained, TRUE AS resumed,"
        " TRUE AS quiet_after, TRUE AS streamed_equals_rebuild"
    ),
    tags=("C3", "B50", "B59"),
)
def c3_stream_retrain_cycle(spark, sf_dir):
    """The streaming-ANN OPERATIONAL LOOP closed end-to-end (VERDICT
    r11 #1): drift fires MID-STREAM, `retrain_ivfpq` runs, and ingest
    rides through — the next epochs reload the new quantizer and
    resume exactly-once appends, with the final streamed index
    value-equal to a rebuild under the retrained quantizer. At 100 TB
    retrains land DURING ingest, always; r11 pinned only that a stale
    epoch RAISES — this leg pins that the engine recovers and
    continues.

    The cycle, five file-source epochs through one foreachBatch loop:

    1. **cal/quiet epochs** (held-out in-distribution slices): the
       maintained :class:`IngestHistogram` trigger stays quiet
       (imbalance ≤ ~1x the build baseline — measured 0.8-1.1x on both
       sf fixtures).
    2. **hot epoch**: 1.5x-index-size jittered copies of ONE indexed
       vector — concentrated drift, the exact shape the cell-histogram
       trigger exists for. Post-append imbalance hits ~5x the build
       baseline (measured both fixtures); the trigger FIRES and the
       loop records a retrain request. (The diffuse/codebook drift
       shapes are pinned by c3_streaming_ann's fire control — on this
       near-isotropic fixture only concentrated drift is separable for
       held-out batches, the r11 geometric-impossibility note.)
    3. **mid-epoch retrain**: the NEXT epoch has already reloaded the
       (old) quantizer when the maintenance plane serves the request —
       `retrain_ivfpq` over the ingested corpus commits a new
       generation between this epoch's load and its append. The append
       raises StaleQuantizerError (never corrupts), the stream run
       dies, and the RESTART replays the epoch: fresh
       `load_index_meta` picks up the new quantizer, the replayed
       append commits exactly-once (epoch markers — no double-insert,
       no lost rows), and the baseline is re-recorded post-retrain.
       The histogram's stamp guard re-seeds its counts instead of
       evaluating drift on the dead generation's histogram.
    4. **resume epoch**: ingests quietly under the new generation.

    Value gates: the final index generation equals
    `quantizer_token(retrained-state)` where the reference quantizer is
    re-trained INDEPENDENTLY on the same corpus the mid-stream retrain
    saw (training is deterministic given the corpus — the strongest
    possible equality); probes of the streamed index match a
    `materialize_ivfpq` rebuild over base ∪ all epochs under that
    quantizer, probe-for-probe; and the streamed table holds EXACTLY
    the rebuild's rows (no epoch lost, none doubled, through the
    fire/retrain/crash/replay sequence). Retrain pause vs epoch
    cadence at gen100 scale: RETRAIN_CYCLE_gen100.json."""
    import numpy as np

    from smallquery_spark.operators.pq import (
        append_ivfpq_epoch,
        drop_index,
        index_gen,
        ivfpq_search,
        load_index_meta,
        materialize_ivfpq,
        pq_train,
        quantizer_token,
        retrain_ivfpq,
    )
    from smallquery_spark.operators.similarity import (
        IngestHistogram,
        ivf_assign,
        ivf_build_centroids,
        ivf_defaults,
        ivf_retrain_trigger,
    )

    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    base = emb.filter(F.col("vec_id") < 200).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("vec")
    )
    arriving = emb.filter(F.col("vec_id") >= 200).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("vec")
    )
    n_base = base.count()
    n_cells, n_probe = ivf_defaults(n_base)
    cents = ivf_build_centroids(base, n_cells=n_cells)
    books = pq_train(base, cents)
    pid = os.getpid()
    tname = materialize_ivfpq(
        spark, ivf_assign(base, cents), cents, books, f"c3srt_{pid}"
    )
    tname_rb = None

    # quarter the held-out pool into 4 in-distribution epochs and
    # synthesize the HOT epoch (1.5x-index jittered copies of one
    # indexed vector, fresh ids — concentrated drift)
    ids = sorted(r[0] for r in arriving.select("c_id").collect())
    ntot = len(ids)
    cuts = [ids[i * ntot // 4] for i in range(1, 4)] + [10**12]
    quarters = []
    lo = -(10**12)
    for hi in cuts:
        quarters.append(
            arriving.filter((F.col("c_id") >= lo) & (F.col("c_id") < hi))
        )
        lo = hi
    v0 = np.array(base.orderBy("c_id").first()["vec"], dtype=np.float64)
    rng = np.random.default_rng(42)
    H = v0[None, :] + rng.normal(0, 0.01, (int(1.5 * n_base), len(v0)))
    H = H / np.linalg.norm(H, axis=1, keepdims=True)
    # same physical schema as the fixture slices (array<float>): the
    # file-stream source reads every slice under ONE schema
    hot = spark.createDataFrame(
        [(200000 + i, [float(x) for x in H[i]]) for i in range(len(H))],
        "c_id long, vec array<float>",
    )
    # epoch order: cal, quiet, HOT (fires), retrain-mid-epoch, resume
    root, slices = stage_slices(
        spark,
        [
            q.coalesce(1)
            for q in (quarters[0], quarters[1], hot, quarters[2], quarters[3])
        ],
        "smallquery_srtc_",
    )
    signals_dir = os.path.join(root, "signals")
    fire_req = os.path.join(root, "fire_requested")
    fire_done = os.path.join(root, "fire_handled")
    build_gen = index_gen(spark, tname)
    _, build_stats = ivf_retrain_trigger(spark, tname, n_cells=n_cells)
    baseline = {"imb": build_stats["imbalance"]}
    hist = IngestHistogram(spark, tname, n_cells=n_cells)

    def _step(batch_df, epoch_id):
        sess = batch_df.sparkSession
        batch = batch_df.localCheckpoint(eager=True)
        cl, bl = load_index_meta(sess, tname)
        # the maintenance plane serves a pending retrain request HERE —
        # after this epoch loaded its quantizer state, before its
        # append: the mid-epoch interleaving a real deployment hits.
        # retrain over everything ingested so far (base + committed
        # epochs = exactly what the index holds; the retrain contract).
        if os.path.exists(fire_req) and not os.path.exists(fire_done):
            corpus_now = base.unionByName(
                sess.read.parquet(*slices).select("c_id", "vec").join(
                    sess.table(tname).select("c_id"), "c_id", "left_semi"
                )
            )
            new_c, new_b = retrain_ivfpq(sess, tname, corpus_now)
            _, post = ivf_retrain_trigger(
                sess, tname, n_cells=len(new_c)
            )
            with open(fire_done, "w") as f:
                f.write(str(post["imbalance"]))
            baseline["imb"] = post["imbalance"]
            # fall through WITHOUT reloading: (cl, bl) are now stale and
            # the append below must raise StaleQuantizerError — the
            # restart's replay converges with the fresh reload above
        hist.fold(
            append_ivfpq_epoch(
                sess, tname, batch, cl, bl, epoch_id=int(epoch_id)
            )
        )
        trig, stats = hist.trigger(baseline_imbalance=baseline["imb"])
        if trig and not os.path.exists(fire_req):
            with open(fire_req, "w") as f:
                f.write(str(stats["imbalance"]))
        rec = sess.createDataFrame(
            [(int(epoch_id), float(stats["imbalance"]), bool(trig),
              str(index_gen(sess, tname)), str(stats["source"]))],
            "epoch long, imbalance double, fired boolean, gen string,"
            " source string",
        )
        yield rec
        batch.unpersist()

    try:
        stale_raised = False
        try:
            ingest_epochs(
                spark, root, signals_dir, _step, "c3_stream_retrain_cycle_run1"
            )
        except StreamingQueryException as e:  # the stale epoch kills run 1
            # its MESSAGE carries the foreachBatch's Python traceback
            # (repr does not)
            stale_raised = "StaleQuantizerError" in str(e)
            if not stale_raised:
                raise
        # restart on the same checkpoint: Spark replays the in-flight
        # epoch (fresh quantizer reload), then drains the resume epoch
        ingest_epochs(
            spark, root, signals_dir, _step, "c3_stream_retrain_cycle_run2"
        )
        with scoped_confs(spark, {"spark.sql.shuffle.partitions": "8"}):
            recs = {
                r["epoch"]: r
                for r in spark.read.parquet(
                    *_committed_epochs(signals_dir)
                ).collect()
            }
            hot_fired = bool(recs[2]["fired"])
            quiet_before = not recs[0]["fired"] and not recs[1]["fired"]
            quiet_after = not recs[3]["fired"] and not recs[4]["fired"]
            new_gen = index_gen(spark, tname)
            resumed = (
                len(recs) == 5
                and recs[3]["gen"] == new_gen
                and recs[4]["gen"] == new_gen
                and new_gen != build_gen
            )

            # the reference quantizer: retrained INDEPENDENTLY on the same
            # corpus the mid-stream retrain saw (base + epochs 0..2 —
            # epoch 3 had not appended when the request was served);
            # deterministic training makes token equality the gate
            seen = base.unionByName(quarters[0]).unionByName(
                quarters[1]
            ).unionByName(hot)
            cents2 = ivf_build_centroids(seen, n_cells=n_cells)
            books2 = pq_train(seen, cents2)
            retrained = (
                os.path.exists(fire_done)
                and quantizer_token(cents2, books2) == new_gen
            )

            # value gate: streamed index == batch rebuild over base + ALL
            # epochs under the retrained quantizer — rows exactly equal
            # (exactly-once through fire/retrain/crash/replay) and probes
            # identical
            full = base
            for q in [quarters[0], quarters[1], hot, quarters[2], quarters[3]]:
                full = full.unionByName(q)
            tname_rb = materialize_ivfpq(
                spark, ivf_assign(full, cents2), cents2, books2,
                f"c3srt_rb_{pid}",
            )
            # the stream's appends/retrain refreshed the per-query CLONED
            # session's relation cache, not this one's — refresh before
            # comparing through spark.table
            spark.catalog.refreshTable(tname)
            rows_a = spark.table(tname).select(
                "c_id", "cell", F.col("code").cast("string").alias("code")
            )
            rows_b = spark.table(tname_rb).select(
                "c_id", "cell", F.col("code").cast("string").alias("code")
            )
            rows_equal = (
                rows_a.exceptAll(rows_b).count() == 0
                and rows_b.exceptAll(rows_a).count() == 0
            )
            queries_df = emb.filter(F.col("vec_id") < 20).select(
                F.col("vec_id").alias("q_id"), F.col("embedding").alias("vec")
            )
            streamed = ivfpq_search(
                spark, queries_df, tname, cents2, books2, k=10, n_probe=n_probe
            ).localCheckpoint(eager=True)
            rebuilt = ivfpq_search(
                spark, queries_df, tname_rb, cents2, books2, k=10,
                n_probe=n_probe,
            )
            probes_equal = (
                streamed.exceptAll(rebuilt).count() == 0
                and rebuilt.exceptAll(streamed).count() == 0
            )
            return spark.createDataFrame(
                [
                    (
                        hot_fired,
                        quiet_before,
                        stale_raised,
                        retrained,
                        resumed,
                        quiet_after,
                        rows_equal and probes_equal,
                    )
                ],
                "hot_fired boolean, quiet_before boolean, stale_raised boolean,"
                " retrained boolean, resumed boolean, quiet_after boolean,"
                " streamed_equals_rebuild boolean",
            )
    finally:
        drop_index(spark, tname)
        if tname_rb is not None:
            drop_index(spark, tname_rb)
