"""Scale-posture queries — materialized rollups and skew-safe plans.

These exercise the explicit 100-TB patterns from SURVEY.md §4.3/§7:

- C7 rollup: a time-bucketed continuous-aggregate table (hourly partials
  over `events`, partitioned by day) answering a coarser day-grain
  question WITHOUT touching the raw table. The oracle computes the same
  answer straight from the raw events — proving the algebraic-partials
  recombination contract query(rollup) == query(raw).
- C8 salting: two-phase salted aggregation and a salted shuffled join.
  Results must be IDENTICAL to the unsalted plans, which is exactly what
  the plain-SQL oracles assert.

Reference grounding: the reference declares "versioning control for data
transformations" over table datasets (/root/reference/README.md:7-8) but
implements no aggregation engine (absence: Cargo.toml:13-23); these are
the scale-out realizations of that declared transformation surface.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from smallquery_spark.operators.rollup_table import (
    build_rollup,
    materialize_rollup,
    query_rollup,
)
from smallquery_spark.operators.skew import salted_aggregate, salted_join
from smallquery_spark.queries.registry import query, t
from smallquery_spark.queries.tmpdirs import prune_stale, register_cleanup

_DEC = "decimal(18,2)"
# Per-process workdir: concurrent harness/pytest runs must never race
# on rmtree+rewrite of the same materialized path (same rule as the b68
# per-run checkpoint). Within one process the cache still amortizes.
# Removed at exit; stale siblings from crashed runs pruned by age.
prune_stale("smallquery_rollups_")
_WORK = register_cleanup(
    os.path.join(tempfile.gettempdir(), f"smallquery_rollups_{os.getpid()}")
)


def _source_fingerprint(src: str) -> str:
    """Cheap identity of a fixture file/dir: total size + max mtime_ns.
    A regenerated fixture changes at least one of these, so a cached
    rollup spanning a fixture regeneration is detected and rebuilt
    instead of served stale (long-lived / pid-reused processes)."""
    total, mtime = 0, 0
    if os.path.isdir(src):
        for root, _dirs, files in os.walk(src):
            for f in files:
                st = os.stat(os.path.join(root, f))
                total += st.st_size
                mtime = max(mtime, st.st_mtime_ns)
    elif os.path.exists(src):
        st = os.stat(src)
        total, mtime = st.st_size, st.st_mtime_ns
    return f"{total}:{mtime}"


def _rollup_fresh(path: str, src: str) -> bool:
    """True iff the materialized rollup at ``path`` exists AND was built
    from the fixture currently at ``src`` (stamp match)."""
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        return False
    stamp = os.path.join(path, "_fixture_stamp")
    try:
        with open(stamp) as fh:
            return fh.read().strip() == _source_fingerprint(src)
    except OSError:
        return False


def _stamp_rollup(path: str, src: str) -> None:
    with open(os.path.join(path, "_fixture_stamp"), "w") as fh:
        fh.write(_source_fingerprint(src))


# ---------------------------------------------------------------------------
# C7 — hypertable-style rollup (materialize hourly, answer daily)
# ---------------------------------------------------------------------------


@query(
    "c7_rollup_day_from_hour",
    oracle="""
    SELECT time_bucket(INTERVAL 1 DAY, ts) AS bucket_start,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
           MIN(value) AS min_value,
           MAX(value) AS max_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("C7",),
)
def c7_rollup_day_from_hour(spark, sf_dir):
    """Materialize an HOURLY rollup of events (dims=event_type), then
    answer the DAILY question purely from the rollup. Day sums of hourly
    algebraic partials must equal direct day aggregation of the raw
    table — the continuous-aggregate correctness contract."""
    # Defensive: when the rollup is already materialized (cached across
    # sessions in /tmp) this query never calls t(), so apply the shared
    # defensive confs here — the grading driver runs on its own
    # SparkSession and bucket_start timestamps must render UTC.
    from smallquery_spark.queries.registry import ensure_driver_confs

    ensure_driver_confs(spark)
    path = os.path.join(
        _WORK, os.path.basename(sf_dir.rstrip("/")), "events_hourly"
    )
    src = os.path.join(sf_dir, "events.parquet")
    if not _rollup_fresh(path, src):
        import shutil

        shutil.rmtree(path, ignore_errors=True)
        materialize_rollup(
            t(spark, sf_dir, "events"),
            path,
            ts_col="ts",
            bucket="1 hour",
            dims=["event_type"],
            value_col="value",
        )
        _stamp_rollup(path, src)
    daily = query_rollup(
        spark, path, regroup_bucket="1 day", dims=["event_type"]
    )
    # recombined decimal partials are exact; EMIT as double (decimal
    # result columns are a driver-canonicalization trap — tools/check.py)
    return daily.withColumn("sum_value", F.col("sum_value").cast("double"))


@query(
    "c7_rollup_drop_dim",
    oracle="""
    SELECT time_bucket(INTERVAL 1 HOUR, ts) AS bucket_start,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1
    """,
    tags=("C7",),
)
def c7_rollup_drop_dim(spark, sf_dir):
    """Regroup the (hour, event_type) rollup across event_type — partials
    recombine exactly along ANY dimension subset."""
    hourly = build_rollup(
        t(spark, sf_dir, "events"),
        ts_col="ts",
        bucket="1 hour",
        dims=["event_type"],
        value_col="value",
    )
    return (
        hourly.groupBy("bucket_start")
        .agg(
            F.sum("n").alias("n"),
            F.sum("sum_value").cast("double").alias("sum_value"),
        )
    )


# ---------------------------------------------------------------------------
# C8 — explicit skew salting (results identical to unsalted plans)
# ---------------------------------------------------------------------------


@query(
    "c8_salted_aggregate",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           MIN(l_extendedprice) AS min_price,
           MAX(l_extendedprice) AS max_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("C8",),
)
def c8_salted_aggregate(spark, sf_dir):
    """Two-phase (key, salt) → key aggregation over the hot
    l_returnflag keys (3 distinct values ⇒ maximal skew). Phase-2
    partial recombination must reproduce the plain groupBy bit-for-bit;
    decimal sums keep the recombination exact."""
    li = t(spark, sf_dir, "lineitem").withColumn(
        "qty_dec", F.col("l_quantity").cast(_DEC)
    )
    out = salted_aggregate(
        li,
        keys=["l_returnflag"],
        aggs={
            "n_rows": ("qty_dec", "count"),
            "sum_qty": ("qty_dec", "sum"),
            "min_price": ("l_extendedprice", "min"),
            "max_price": ("l_extendedprice", "max"),
        },
        salt_buckets=16,
    )
    return out.withColumn("sum_qty", F.col("sum_qty").cast("double"))


@query(
    "c8_salted_join",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
    tags=("C8",),
)
def c8_salted_join(spark, sf_dir):
    """Salted shuffled equi-join (right side exploded over the salt
    domain) — the fallback when AQE skew-split isn't available. Must
    equal the plain join."""
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer").withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    joined = salted_join(orders, cust, on=["o_custkey"], salt_buckets=8)
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast(_DEC)).cast("double").alias("revenue"),
    )


# ---------------------------------------------------------------------------
# C9 — bucketed co-located fact⋈fact join (shuffle paid once at write)
# ---------------------------------------------------------------------------


def _bucketed_tables(spark, sf_dir) -> tuple[str, str]:
    """Idempotently materialize bucketed copies of orders/lineitem for
    this sf_dir; returns (orders_table, lineitem_table)."""
    from smallquery_spark.operators.bucketing import (
        prune_stale_warehouse,
        write_bucketed,
    )

    # pid-suffixed like every other scratch artifact: two concurrent
    # processes (e.g. pytest + tools.check) share the default
    # ./spark-warehouse, and racing rmtree+saveAsTable on one table
    # name corrupts whichever loses. Tables are dropped at exit.
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    pid = os.getpid()
    ot, lt = f"orders_bkt_{tag}_{pid}", f"lineitem_bkt_{tag}_{pid}"
    for name, table in (("orders", ot), ("lineitem", lt)):
        if not spark.catalog.tableExists(table):
            # a previous session may have left the managed location on
            # disk without a catalog entry — clear it or saveAsTable
            # fails with LOCATION_ALREADY_EXISTS. Warehouse ops go
            # through the Hadoop FileSystem API (fsio) like the
            # operators' maintenance plane — scheme-aware.
            from urllib.parse import urlparse

            from smallquery_spark.fsio import fs_for, join_uri

            wh_uri = spark.conf.get("spark.sql.warehouse.dir")
            fs = fs_for(spark, wh_uri)
            fs.delete(join_uri(wh_uri, table))
            key = "o_orderkey" if name == "orders" else "l_orderkey"
            write_bucketed(t(spark, sf_dir, name), table, key, n_buckets=8)
            # catalog entry dies with the in-memory metastore; the
            # on-disk location would outlive us without this (local
            # warehouse only — atexit rmtree is a path affordance)
            parsed = urlparse(wh_uri)
            if parsed.scheme in ("", "file"):
                register_cleanup(os.path.join(parsed.path, table))
            prune_stale_warehouse(
                fs, wh_uri, r"(orders|lineitem)_bkt_.*_\d+$"
            )
    return ot, lt


@query(
    "c9_bucketed_join",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS gross
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
    tags=("C9", "B14"),
)
def c9_bucketed_join(spark, sf_dir):
    """orders⋈lineitem on orderkey from same-bucketed tables: zero
    Exchange in the join (tests/test_plans.py asserts it). At 100 TB
    this converts the recurring double-shuffle into a one-time layout
    cost."""
    ot, lt = _bucketed_tables(spark, sf_dir)
    lt_df = spark.table(lt).withColumnRenamed("l_orderkey", "o_orderkey")
    joined = spark.table(ot).join(lt_df, "o_orderkey")
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_lines"),
        F.sum(F.col("l_extendedprice").cast(_DEC)).cast("double").alias("gross"),
    )


@query(
    "c9_bucketed_fact_join",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS gross
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey % 16 = 1
    GROUP BY o_orderpriority
    """,
    tags=("C9", "B5", "B14"),
)
def c9_bucketed_fact_join(spark, sf_dir):
    """The at-rest bucketed layout as a CATALOG feature (VERDICT r5 item
    5), not a per-query hand-roll: a git workspace versions the fact
    tables; ``Workspace.materialize_bucketed`` resolves the commit,
    reads the snapshot's parquet, and materializes a content-addressed
    bucketed copy (``bkt_<digest(ws@commit:table|key|n)>``), so the
    fact shuffle is paid once PER DATA VERSION and every later call on
    the same commit reuses the layout. Both facts use the same bucket
    count, so the join is a zero-Exchange sort-merge join (pinned in
    tests/test_plans.py). The oracle is the PLAIN join over the same
    logical slice — layout must never change the answer.

    The ``% 16`` slice keeps the once-per-fixture git staging bounded
    at generated scale; the bucketing economics at full volume are
    measured separately (ATREST_gen100.json: 4 Exchanges → 0,
    breakeven 3.6 queries)."""
    import subprocess

    from smallquery_spark.engine import Engine

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    mount = os.path.join(_WORK, tag, "bktws_mount")
    repo = os.path.join(mount, "facts")
    if not os.path.isdir(os.path.join(repo, ".git")):
        os.makedirs(repo, exist_ok=True)
        env = {
            **os.environ,
            "GIT_AUTHOR_NAME": "t",
            "GIT_AUTHOR_EMAIL": "t@t",
            "GIT_COMMITTER_NAME": "t",
            "GIT_COMMITTER_EMAIL": "t@t",
        }

        def g(*a):
            subprocess.run(
                ["git", "-C", repo, *a],
                check=True,
                capture_output=True,
                env=env,
            )

        g("init", "-b", "main")
        for name, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
            (
                t(spark, sf_dir, name)
                .filter((F.col(key) % 16) == 1)
                .write.mode("overwrite")
                .parquet(os.path.join(repo, f"{name}.parquet"))
            )
        g("add", "-A")
        g("commit", "-m", "fact slices v1")

    eng = Engine(spark, workspace_mount=mount)
    ws = eng.catalog.workspace("facts")
    ot = ws.materialize_bucketed(spark, "orders", "o_orderkey", 8)
    lt = ws.materialize_bucketed(spark, "lineitem", "l_orderkey", 8)
    lt_df = spark.table(lt).withColumnRenamed("l_orderkey", "o_orderkey")
    joined = spark.table(ot).join(lt_df, "o_orderkey")
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_lines"),
        F.sum(F.col("l_extendedprice").cast(_DEC)).cast("double").alias("gross"),
    )


# ---------------------------------------------------------------------------
# C7 (streaming) — continuous-aggregate maintenance via foreachBatch
# ---------------------------------------------------------------------------


@query(
    "c7_rollup_streaming_refresh",
    oracle="""
    SELECT time_bucket(INTERVAL 1 DAY, ts) AS bucket_start,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("C7", "B59"),
)
def c7_rollup_streaming_refresh(spark, sf_dir):
    """The C7 rollup maintained BY THE STREAM: hourly windowed partials
    accumulate in streaming state; foreachBatch (complete mode, so each
    batch carries the full corrected state) overwrites the day-partitioned
    rollup table; the daily answer is then served from the rollup. With a
    live source + watermark this becomes per-partition dynamic overwrite
    of only the touched days."""
    import shutil

    from smallquery_spark.streaming import drain, events_stream

    tag = os.path.basename(sf_dir.rstrip("/"))
    base = os.path.join(_WORK, tag, "events_hourly_stream")
    ckpt = base + "_ckpt"
    shutil.rmtree(base, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)

    hourly = (
        events_stream(spark, sf_dir)
        .groupBy(F.window("ts", "1 hour").alias("__w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast(_DEC)).alias("sum_value"),
        )
        .select(F.col("__w.start").alias("bucket_start"), "event_type", "n", "sum_value")
    )

    def refresh(batch_df, epoch_id):
        (
            batch_df.withColumn("bucket_date", F.to_date("bucket_start"))
            .write.mode("overwrite")
            .partitionBy("bucket_date")
            .parquet(base)
        )

    drain(
        hourly.writeStream.outputMode("complete")
        .foreachBatch(refresh)
        .option("checkpointLocation", ckpt),
        "c7_rollup_streaming_refresh",
    )

    roll = spark.read.parquet(base)
    return (
        roll.groupBy(F.window("bucket_start", "1 day").alias("__w"), "event_type")
        .agg(
            F.sum("n").alias("n"),
            F.sum("sum_value").cast("double").alias("sum_value"),
        )
        .select(
            F.col("__w.start").alias("bucket_start"), "event_type", "n", "sum_value"
        )
    )


# ---------------------------------------------------------------------------
# C11 — incremental dedup: new batch vs historical fingerprint index
# ---------------------------------------------------------------------------


@query(
    "c11_incremental_dedup",
    oracle="""
    WITH cut AS (
      SELECT CAST(MAX(doc_id) * 0.6 AS BIGINT) AS c FROM documents
    ), hist AS (
      SELECT DISTINCT md5(text) AS h FROM documents, cut WHERE doc_id < c
    ), batch AS (
      SELECT d.* FROM documents d, cut WHERE doc_id >= c
    ), fresh AS (
      SELECT b.* FROM batch b LEFT JOIN hist ON md5(b.text) = hist.h
      WHERE hist.h IS NULL
      QUALIFY ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
    )
    SELECT lang, COUNT(*) AS n_new_docs,
           CAST(SUM(length(text)) AS BIGINT) AS n_new_chars
    FROM fresh GROUP BY lang
    """,
    tags=("C11", "C1", "B16"),
)
def c11_incremental_dedup(spark, sf_dir):
    """The steady-state ingest shape of a training-data pipeline: a new
    batch is deduped (a) against the accumulated corpus via an anti-join
    on the content-hash INDEX (hashes only — the historical corpus text
    never moves), and (b) within itself. At 100 TB the index is a
    bucketed hash table; the anti-join shuffles only 16-byte digests."""
    from pyspark.sql import Window

    docs = t(spark, sf_dir, "documents")
    cut = int(
        docs.agg((F.max("doc_id") * 0.6).cast("bigint").alias("c")).first()["c"]
    )
    hist_index = (
        docs.filter(F.col("doc_id") < cut)
        .select(F.md5("text").alias("h"))
        .distinct()
    )
    batch = docs.filter(F.col("doc_id") >= cut).withColumn("h", F.md5("text"))
    fresh_vs_hist = batch.join(hist_index, "h", "left_anti")
    w = Window.partitionBy("h").orderBy("doc_id")
    fresh = (
        fresh_vs_hist.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
    )
    return fresh.groupBy("lang").agg(
        F.count("*").alias("n_new_docs"),
        F.sum(F.length("text")).alias("n_new_chars"),
    )


# ---------------------------------------------------------------------------
# C12 — small-files compaction (maintenance for incremental sinks)
# ---------------------------------------------------------------------------


@query(
    "c12_compaction",
    oracle="""
    SELECT TRUE AS data_intact, TRUE AS fewer_files,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    """,
    tags=("C12", "B7"),
)
def c12_compaction(spark, sf_dir):
    """Fragment orders into many small files (simulating micro-batch
    appends), compact to target-sized files, prove (a) row-for-row data
    integrity via count+decimal sum and (b) the file count actually
    dropped."""
    import shutil

    from smallquery_spark.operators.compaction import compact_parquet_dir, dir_stats

    base = os.path.join(
        _WORK, os.path.basename(sf_dir.rstrip("/")), "orders_fragmented"
    )
    shutil.rmtree(base, ignore_errors=True)
    shutil.rmtree(base + ".compact.tmp", ignore_errors=True)
    orders = t(spark, sf_dir, "orders")
    orders.repartition(64).write.mode("overwrite").parquet(base)

    # Scale-aware target: 1/16th of the actual data, floored at 4 MB.
    # A fixed 4 MB target stops COMPACTING once the table outgrows
    # 64 x 4 MB (at gen-sf10 orders is ~400 MB, so 4 MB targets would
    # EXPAND 64 fragments into ~100 files — caught by the gen10 oracle
    # run, CHECKRUN_r6_gen10). Real compaction picks its target from
    # table size (e.g. 128 MB-1 GB at warehouse scale); tying it to
    # measured bytes keeps the query meaningful at every fixture sf.
    _, frag_bytes = dir_stats(spark, base)
    before, after = compact_parquet_dir(
        spark,
        base,
        target_file_bytes=max(4 * 1024 * 1024, frag_bytes // 16),
        min_files=8,
    )
    res = spark.read.parquet(base).agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("o_totalprice").cast(_DEC)).cast("double").alias("total"),
    )
    return res.select(
        F.lit(True).alias("data_intact"),
        F.lit(after < before).alias("fewer_files"),
        "n_rows",
        "total",
    )


# ---------------------------------------------------------------------------
# C13 — heavy hitters (frequent items) — exact threshold + sketch check
# ---------------------------------------------------------------------------


@query(
    "c13_heavy_hitters",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events
    FROM events
    GROUP BY user_id
    HAVING COUNT(*) > 0.002 * (SELECT COUNT(*) FROM events)
    """,
    tags=("C13", "B22", "B29"),
)
def c13_heavy_hitters(spark, sf_dir):
    """Exact heavy hitters: keys above a support fraction of the stream.
    One partial-agg pass + a 1-row broadcast threshold. (Spark's
    freqItems sketch gives the same candidates approximately; the exact
    pass is the verifier — and at 100 TB it's the same single shuffle.)"""
    ev = t(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(F.count("*").alias("n_events"))
    total = ev.agg(F.count("*").alias("__total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .filter(F.col("n_events") > 0.002 * F.col("__total"))
        .select("user_id", "n_events")
    )


@query(
    "c13_freq_items_sketch",
    oracle="SELECT TRUE AS superset_ok",
    tags=("C13",),
)
def c13_freq_items_sketch(spark, sf_dir):
    """DataFrame.freqItems (single-pass misra-gries-style sketch): its
    guarantee is NO FALSE NEGATIVES above the support — validated by
    checking the sketch result is a superset of the exact heavy
    hitters."""
    ev = t(spark, sf_dir, "events")
    sketch = set(ev.freqItems(["user_id"], support=0.005).first()[0])
    total = ev.count()
    exact = {
        r["user_id"]
        for r in ev.groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 0.005 * total)
        .collect()
    }
    return spark.createDataFrame(
        [(exact.issubset(sketch),)], "superset_ok boolean"
    )


# ---------------------------------------------------------------------------
# C14 — MERGE upsert + SCD2 history (versioned-transformation writes)
# ---------------------------------------------------------------------------


@query(
    "c14_merge_upsert",
    oracle="""
    SELECT c_custkey,
           CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 1000.0
                ELSE c_acctbal END AS c_acctbal,
           CASE WHEN c_custkey % 10 = 0 THEN 'UPSERTED'
                ELSE c_mktsegment END AS c_mktsegment
    FROM customer
    UNION ALL
    SELECT CAST(10000000 + r_regionkey AS BIGINT),
           CAST(r_regionkey AS DOUBLE), 'NEW'
    FROM region
    """,
    tags=("C14", "B7"),
)
def c14_merge_upsert(spark, sf_dir):
    """Delta-style MERGE on plain parquet: matched keys replaced,
    unmatched inserted, one key shuffle, atomic dir swap. The oracle is
    the declarative statement of the post-merge table."""
    import shutil

    from smallquery_spark.operators.merge import merge_upsert

    base = os.path.join(_WORK, os.path.basename(sf_dir.rstrip("/")), "cust_merge")
    shutil.rmtree(base, ignore_errors=True)
    cust = t(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    )
    cust.write.mode("overwrite").parquet(base)

    updates = cust.filter(F.col("c_custkey") % 10 == 0).select(
        "c_custkey",
        (F.col("c_acctbal") + 1000.0).alias("c_acctbal"),
        F.lit("UPSERTED").alias("c_mktsegment"),
    ).unionByName(
        t(spark, sf_dir, "region").select(
            (F.lit(10000000) + F.col("r_regionkey")).cast("bigint").alias("c_custkey"),
            F.col("r_regionkey").cast("double").alias("c_acctbal"),
            F.lit("NEW").alias("c_mktsegment"),
        )
    )
    merge_upsert(spark, base, updates, key="c_custkey")
    return spark.read.parquet(base)


@query(
    "c14_scd2_history",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           TIMESTAMP '2024-01-01' AS valid_from,
           CASE WHEN c_custkey % 7 = 0 THEN TIMESTAMP '2024-02-01' END AS valid_to
    FROM customer
    UNION ALL
    SELECT c_custkey, 'MOVED', TIMESTAMP '2024-02-01', NULL
    FROM customer WHERE c_custkey % 7 = 0
    """,
    tags=("C14", "B15"),
)
def c14_scd2_history(spark, sf_dir):
    """Type-2 slowly-changing dimension: batch 2 changes the segment of
    every 7th customer — their batch-1 row is closed (valid_to set) and
    a new open row appended; all other rows untouched."""
    import shutil

    from smallquery_spark.operators.merge import scd2_apply

    base = os.path.join(_WORK, os.path.basename(sf_dir.rstrip("/")), "cust_scd2")
    shutil.rmtree(base, ignore_errors=True)
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    seed = cust.withColumn(
        "valid_from", F.lit("2024-01-01").cast("timestamp")
    ).withColumn("valid_to", F.lit(None).cast("timestamp"))
    seed.write.mode("overwrite").parquet(base)

    updates = cust.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey", F.lit("MOVED").alias("c_mktsegment")
    )
    scd2_apply(
        spark, base, updates, key="c_custkey", attrs=["c_mktsegment"],
        batch_ts="2024-02-01",
    )
    return spark.read.parquet(base)


# ---------------------------------------------------------------------------
# C15 — connected components (transitive dedup clusters)
# ---------------------------------------------------------------------------


@query(
    "c15_connected_components",
    # chain graph: consecutive custkeys sharing a market segment are
    # near-dup "pairs"; components = maximal same-segment runs. The
    # oracle closes the same graph transitively with a recursive CTE.
    oracle="""
    WITH RECURSIVE nodes AS (
      SELECT c_custkey AS v, c_mktsegment AS seg FROM customer WHERE c_custkey < 2000
    ), e AS (
      SELECT a.v AS src, b.v AS dst
      FROM nodes a JOIN nodes b ON b.v = a.v + 1 AND a.seg = b.seg
    ), undir AS (
      SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e
    ), walk AS (
      SELECT v, v AS lbl FROM nodes
      UNION
      SELECT u.dst AS v, walk.lbl
      FROM walk JOIN undir u ON u.src = walk.v
      WHERE walk.lbl < u.dst
    )
    SELECT v AS c_custkey, MIN(lbl) AS component FROM walk GROUP BY v
    """,
    tags=("C15", "C2"),
)
def c15_connected_components(spark, sf_dir):
    """Min-label propagation over the near-dup pair graph until
    fixpoint — each round is a join+agg shuffle on vertex id; only the
    changed-count reaches the driver. Dedup keeps component minima."""
    from smallquery_spark.operators.graph import connected_components

    cust = t(spark, sf_dir, "customer").filter(F.col("c_custkey") < 2000)
    nodes = cust.select(F.col("c_custkey").alias("id"), "c_mktsegment")
    a = nodes.alias("a")
    b = nodes.alias("b")
    edges = a.join(
        b,
        (F.col("b.id") == F.col("a.id") + 1)
        & (F.col("a.c_mktsegment") == F.col("b.c_mktsegment")),
    ).select(F.col("a.id").alias("src"), F.col("b.id").alias("dst"))
    # 2k vertices: size the per-round label shuffles to the graph, not
    # the session default (32 near-empty tasks/round dominate otherwise)
    out = connected_components(nodes.select("id"), edges, shuffle_partitions=4)
    return out.select(F.col("id").alias("c_custkey"), "component")


# ---------------------------------------------------------------------------
# C16 — time-series gap fill / resample (dense grid per key)
# ---------------------------------------------------------------------------


@query(
    "c16_gap_fill",
    oracle="""
    WITH hourly AS (
      SELECT user_id, time_bucket(INTERVAL 1 HOUR, ts) AS h,
             COUNT(*) AS n_obs,
             SUM(CAST(value AS DECIMAL(18,2))) AS sv
      FROM events WHERE user_id < 50 GROUP BY 1, 2
    ), bounds AS (
      SELECT user_id, MIN(h) AS lo, MAX(h) AS hi FROM hourly GROUP BY 1
    ), grid AS (
      SELECT user_id, UNNEST(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
      FROM bounds
    )
    SELECT g.user_id, g.h AS bucket_start,
           COALESCE(n_obs, 0) AS n_obs,
           CAST(COALESCE(sv, 0) AS DOUBLE) AS sum_value
    FROM grid g LEFT JOIN hourly USING (user_id, h)
    """,
    tags=("C16", "B43", "B15"),
)
def c16_gap_fill(spark, sf_dir):
    """Resample each user's event series onto a dense hourly grid
    (missing buckets -> 0): per-key bounds, sequence-explode the grid
    (narrow fan-out), left join the sparse aggregate. The dashboard /
    feature-engineering primitive for irregular event streams."""
    ev = t(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    hourly = (
        ev.groupBy("user_id", F.window("ts", "1 hour").alias("__w"))
        .agg(
            F.count("*").alias("n_obs"),
            F.sum(F.col("value").cast(_DEC)).alias("sv"),
        )
        .select("user_id", F.col("__w.start").alias("h"), "n_obs", "sv")
    )
    grid = (
        hourly.groupBy("user_id")
        .agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
        .select(
            "user_id",
            F.explode(
                F.sequence("lo", "hi", F.expr("interval 1 hour"))
            ).alias("h"),
        )
    )
    return (
        grid.join(hourly, ["user_id", "h"], "left")
        .select(
            "user_id",
            F.col("h").alias("bucket_start"),
            F.coalesce("n_obs", F.lit(0)).alias("n_obs"),
            F.coalesce("sv", F.lit(0).cast(_DEC)).cast("double").alias("sum_value"),
        )
    )


# ---------------------------------------------------------------------------
# C17 — deterministic importance sampling (training-mix control)
# ---------------------------------------------------------------------------


@query(
    "c17_importance_sampling",
    oracle="""
    WITH u AS (
      SELECT doc_id, lang,
             CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               / 4294967296.0 AS unif
      FROM documents
    )
    SELECT doc_id, lang FROM u
    WHERE unif < CASE WHEN lang = 'en' THEN 0.35
                      WHEN lang = 'zh' THEN 0.9
                      ELSE 0.6 END
    """,
    tags=("C17", "C4"),
)
def c17_importance_sampling(spark, sf_dir):
    """Language-rebalancing sampler: keep each doc with per-language
    probability, using an md5-derived uniform on the doc id — a pure
    column expression, so the sample is REPRODUCIBLE across engines,
    runs, and cluster sizes (unlike rand()/Bernoulli sampling). This is
    how a 100 TB training-mix spec stays re-runnable."""
    d = t(spark, sf_dir, "documents")
    unif = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        / F.lit(4294967296.0)
    )
    rate = (
        F.when(F.col("lang") == "en", 0.35)
        .when(F.col("lang") == "zh", 0.9)
        .otherwise(0.6)
    )
    return d.filter(unif < rate).select("doc_id", "lang")


# ---------------------------------------------------------------------------
# C18 — distributed linear fit (exact integer partials -> one division)
# ---------------------------------------------------------------------------


@query(
    "c18_linear_fit",
    oracle="""
    WITH q AS (
      SELECT event_type,
             CAST(EXTRACT(hour FROM ts) AS BIGINT) AS x,
             CAST(FLOOR(value * 100) AS BIGINT) AS y
      FROM events
    ), s AS (
      SELECT event_type, COUNT(*) AS n,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * x) AS sxx, SUM(x * y) AS sxy
      FROM q GROUP BY event_type
    )
    SELECT event_type, n,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE) AS slope_q
    FROM s
    """,
    tags=("C18", "B22", "B26"),
)
def c18_linear_fit(spark, sf_dir):
    """OLS slope of (quantized value) vs hour-of-day per event type,
    from five integer sufficient statistics — the map-combinable
    regression shape that scales to any data size (float `regr_slope`
    partials are order-dependent across engines; integer partials are
    exact, with ONE double division at the end)."""
    ev = t(spark, sf_dir, "events").select(
        "event_type",
        F.hour("ts").cast("bigint").alias("x"),
        F.floor(F.col("value") * 100).cast("bigint").alias("y"),
    )
    s = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    return s.select(
        "event_type",
        "n",
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        ).alias("slope_q"),
    )


# ---------------------------------------------------------------------------
# C19 — mergeable HLL sketches (re-aggregable distinct counts)
# ---------------------------------------------------------------------------


@query(
    "c19_hll_mergeable",
    oracle="SELECT TRUE AS per_seg_ok, TRUE AS merged_ok",
    tags=("C19", "B24"),
)
def c19_hll_mergeable(spark, sf_dir):
    """Datasketches HLL: per-segment distinct-customer sketches whose
    UNION re-aggregates to the global estimate — the property plain
    approx_count_distinct lacks (its partials aren't storable). At
    100 TB: sketch once per partition/day, answer any rollup by merging
    bytes. Contract: every estimate within 5% of exact."""
    o = t(spark, sf_dir, "orders")
    per_seg = (
        o.join(
            F.broadcast(t(spark, sf_dir, "customer")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("c_mktsegment")
        .agg(
            F.hll_sketch_agg("o_custkey").alias("sk"),
            F.countDistinct("o_custkey").alias("exact"),
        )
    )
    seg = per_seg.select(
        (
            F.abs(
                F.hll_sketch_estimate("sk").cast("double") - F.col("exact")
            )
            / F.col("exact")
            <= 0.05
        ).alias("ok")
    ).agg(F.min("ok").alias("per_seg_ok"))
    merged = per_seg.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    )
    exact_total = o.agg(F.countDistinct("o_custkey").alias("n"))
    merged_ok = (
        merged.crossJoin(exact_total)
        .select(
            (
                F.abs(F.col("est").cast("double") - F.col("n")) / F.col("n")
                <= 0.05
            ).alias("merged_ok")
        )
    )
    return seg.crossJoin(merged_ok)


# ---------------------------------------------------------------------------
# C20 — Z-order clustered layout (multi-dim scan pruning)
# ---------------------------------------------------------------------------


@query(
    "c20_zorder_layout",
    oracle="""
    SELECT TRUE AS both_dims_clustered,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    """,
    tags=("C20", "B7"),
)
def c20_zorder_layout(spark, sf_dir):
    """Rewrite orders Z-ordered by (custkey bucket, day-of-year): data
    integrity proven by count+decimal sum; the layout contract (every
    row group spans <85% of BOTH dims' ranges, vs full range on the
    second dim under any single-column sort) is measured from parquet
    row-group stats."""
    import shutil

    from smallquery_spark.operators.layout import rowgroup_spans, write_zordered

    base = os.path.join(_WORK, os.path.basename(sf_dir.rstrip("/")), "orders_z")
    shutil.rmtree(base, ignore_errors=True)
    o = t(spark, sf_dir, "orders").withColumn(
        "ck", F.col("o_custkey") % 1024
    ).withColumn("dy", F.dayofyear("o_orderdate"))
    write_zordered(o, base, "ck", "dy", n_files=16)
    spans = rowgroup_spans(base, "ck", "dy")
    back = spark.read.parquet(base)
    return back.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("o_totalprice").cast(_DEC)).cast("double").alias("total"),
    ).select(
        F.lit(max(spans) < 0.85).alias("both_dims_clustered"),
        "n_rows",
        "total",
    )


# ---------------------------------------------------------------------------
# C21 — exact mergeable distinct via bitmaps
# ---------------------------------------------------------------------------


@query(
    "c21_bitmap_distinct",
    oracle="""
    SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS n_exact,
           COUNT(DISTINCT o_custkey) AS n_bitmap
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("C21", "B23"),
)
def c21_bitmap_distinct(spark, sf_dir):
    """EXACT mergeable distinct counts via bitmap aggregation (the
    storable complement to the approximate HLL sketch): keys bucket into
    (bucket, bit) positions, per-bucket bitmaps OR-merge, popcounts sum.
    The oracle proves bitmap == plain COUNT(DISTINCT) exactly."""
    o = t(spark, sf_dir, "orders")
    per_bucket = (
        o.select(
            "o_orderpriority",
            F.bitmap_bucket_number(F.col("o_custkey")).alias("bkt"),
            F.bitmap_bit_position(F.col("o_custkey")).alias("pos"),
        )
        .groupBy("o_orderpriority", "bkt")
        .agg(F.bitmap_construct_agg(F.col("pos")).alias("bm"))
    )
    bitmap_counts = per_bucket.groupBy("o_orderpriority").agg(
        F.sum(F.bitmap_count(F.col("bm"))).alias("n_bitmap")
    )
    exact = o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_exact")
    )
    return exact.join(bitmap_counts, "o_orderpriority").select(
        "o_orderpriority", "n_exact", "n_bitmap"
    )


# ---------------------------------------------------------------------------
# C22 (beyond the reference) — sequence packing for training batches
# ---------------------------------------------------------------------------


@query(
    "c22_sequence_packing",
    # The greedy per-shard fold replayed exactly as a recursive CTE
    # (WITH RECURSIVE must lead the WITH list in DuckDB).
    oracle="""
    WITH RECURSIVE d AS (
      SELECT doc_id % 16 AS shard, doc_id, n_chars,
             ROW_NUMBER() OVER (PARTITION BY doc_id % 16 ORDER BY doc_id) AS rn
      FROM documents
    ),
    packed AS (
      SELECT shard, rn, n_chars, 0 AS pack_seq, n_chars AS fill
      FROM d WHERE rn = 1
      UNION ALL
      SELECT d.shard, d.rn, d.n_chars,
             CASE WHEN p.fill + d.n_chars <= 4000
                  THEN p.pack_seq ELSE p.pack_seq + 1 END,
             CASE WHEN p.fill + d.n_chars <= 4000
                  THEN p.fill + d.n_chars ELSE d.n_chars END
      FROM packed p JOIN d ON d.shard = p.shard AND d.rn = p.rn + 1
    )
    SELECT shard, pack_seq,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM packed
    GROUP BY shard, pack_seq
    """,
    tags=("C22", "B62"),
)
def c22_sequence_packing(spark, sf_dir):
    """Training-batch sequence packing: greedily fill documents into
    packs of <= 4000 chars without splitting documents (the pretraining
    batch-construction step). One shuffle into 16 deterministic shards,
    then a sequential Arrow-batched greedy pass per shard
    (operators/packing.py); emitted as per-pack summaries. At 100 TB
    only (id, length) metadata moves — the text stays columnar and is
    joined back by doc_id downstream."""
    from smallquery_spark.operators.packing import pack_sequences

    docs = t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    packed = pack_sequences(docs, "doc_id", "n_chars", budget=4000, n_shards=16)
    return packed.groupBy("shard", "pack_seq").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
    )


@query(
    "c38_incremental_sessionize",
    # The oracle computes GLOBAL sessions directly (lag/cumsum over each
    # user's full event series in integer microseconds); the Spark side
    # deliberately takes the incremental route — sessionize 4 adversarial
    # hash-split epochs independently, then span-merge. Equality IS the
    # proof that the merge reconstructs exact global sessions from
    # arbitrary (not even time-contiguous) epoch splits.
    oracle="""
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS us FROM events
    ), lagd AS (
      SELECT user_id, us,
             LAG(us) OVER (PARTITION BY user_id ORDER BY us) AS prev
      FROM e
    ), marked AS (
      SELECT user_id, us,
             CASE WHEN prev IS NULL OR us - prev >= 300000000
                  THEN 1 ELSE 0 END AS new_s
      FROM lagd
    ), sess AS (
      SELECT user_id,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    ), per_session AS (
      SELECT user_id, sid, COUNT(*) AS n FROM sess GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(n) AS BIGINT) AS n_events,
           CAST(MAX(n) AS BIGINT) AS max_session_events
    FROM per_session GROUP BY user_id
    """,
    tags=("C38", "B31", "B53"),
)
def c38_incremental_sessionize(spark, sf_dir):
    """Incremental batch sessionization (operators/sessionize.py): the
    at-rest counterpart of B53's streaming session_window, built for
    epoch-at-a-time ingestion. Events are split into 4 epochs by an
    ADVERSARIAL hash of event_id (epochs are not even time-contiguous —
    strictly harder than daily drops), each epoch is sessionized
    independently with one keyed window sort, and the per-epoch spans
    are reconstructed into exact global sessions by a span-sized
    interval gap-merge. Why it scales: per-epoch sorts are epoch-sized
    and amortize over ingestion; the merge input is #sub-sessions rows,
    not #events — no corpus-sized streaming state store (the b53 gen100
    churn case holds ~99M mostly-singleton sessions in state;
    B53_LEVERS_gen100.json measures that cost directly). Single lazy
    plan: the epoch column is an extra partition key, so the whole
    incremental path is 2 shuffles (events-sized, then span-sized)."""
    from smallquery_spark.operators.sessionize import (
        merge_session_spans,
        session_spans,
    )

    ev = t(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    epoched = ev.withColumn(
        "__epoch", F.crc32(F.col("event_id").cast("string")) % 4
    )
    spans = session_spans(epoched, extra_keys=("__epoch",))
    merged = merge_session_spans(spans)
    return merged.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_sessions"),
        F.sum("n_events").cast("bigint").alias("n_events"),
        F.max("n_events").cast("bigint").alias("max_session_events"),
    )
