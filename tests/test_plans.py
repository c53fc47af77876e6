"""Physical-plan shape assertions (SURVEY.md §5.2 item 1, §4.2).

Correctness says the answer is right; these say the PLAN is the one
that survives 100x scale: filters pushed into the parquet scan, column
pruning in ReadSchema, broadcast joins where a dim is small, top-k as
TakeOrderedAndProject (not global sort), no BroadcastNestedLoopJoin in
the banded range join, partial aggregation before the shuffle.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from smallquery_spark.queries import REGISTRY, load_all
from tests.conftest import SF_SMOKE

load_all()


def plan_of(name, spark, mode="formatted") -> str:
    df = REGISTRY[name].fn(spark, SF_SMOKE)
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


def test_filter_pushdown_q6(spark):
    plan = plan_of("q6_forecast_revenue", spark)
    assert "PushedFilters:" in plan
    # range + comparison predicates reach the parquet reader
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "LessThan(l_quantity" in plan


def test_column_pruning_q6(spark):
    plan = plan_of("q6_forecast_revenue", spark)
    # ReadSchema must NOT include untouched wide columns
    assert "l_comment" not in plan
    assert "l_orderkey" not in plan.split("ReadSchema")[1].split("\n")[0]


def test_broadcast_join_b17(spark):
    plan = plan_of("b17_broadcast_join", spark)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_topk_is_take_ordered(spark):
    plan = plan_of("b36_top10_orders", spark)
    assert "TakeOrderedAndProject" in plan


def test_partitioned_write_prunes_partitions(spark):
    """Reading one priority from the Hive-partitioned layout must prune
    at the directory level (PartitionFilters), not post-filter rows."""
    plan = plan_of("b07_partitioned_write", spark)
    scan = plan[plan.index("PartitionFilters") :]
    assert "o_orderpriority" in scan.split("\n")[0]
    assert "1-URGENT" in scan.split("\n")[0]


def test_decontamination_broadcasts_benchmark(spark):
    """c25: the benchmark n-gram set is the broadcast side; the corpus
    must stream through a BroadcastHashJoin, never shuffle on content."""
    plan = plan_of("c25_decontamination", spark)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_banded_join_is_hash_not_nested_loop(spark):
    plan = plan_of("b19_range_join", spark)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_partial_aggregation_q1(spark):
    plan = plan_of("q1_pricing_summary", spark)
    # hash aggregate appears in partial + final mode around the exchange
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_wholestage_codegen_active(spark):
    # AQE finalizes the plan at execution; codegen ids appear after.
    df = REGISTRY["q1_pricing_summary"].fn(spark, SF_SMOKE)
    df.collect()
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "codegen id" in plan


def test_asof_join_single_shuffle(spark):
    """The as-of join must be one hash shuffle + window, never a join."""
    plan = plan_of("b20_asof_join", spark)
    assert "Join" not in plan or "SortMergeJoin" not in plan
    assert "Window" in plan
    # exactly one exchange for the union'd window partition (plus AQE
    # cosmetics); no nested-loop anywhere
    assert "BroadcastNestedLoopJoin" not in plan


def test_tpch_q3_broadcasts_dim(spark):
    plan = plan_of("q3_shipping_priority", spark)
    assert "BroadcastHashJoin" in plan


def test_exact_dedup_partial_agg(spark):
    plan = plan_of("c1_exact_dedup", spark)
    assert plan.count("HashAggregate") >= 2  # map-side combine before shuffle


@pytest.mark.parametrize("name", ["q5_local_supplier_volume", "q10_returned_items"])
def test_tpch_no_cartesian(name, spark):
    plan = plan_of(name, spark)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_knn_broadcasts_queries(spark):
    plan = plan_of("c3_knn_bruteforce", spark)
    # the query set is broadcast; the corpus is never shuffled before
    # scoring (only the tiny scored projection moves for the window).
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_csv_scan_schema_honored(spark):
    df = REGISTRY["b01_csv_scan"].fn(spark, SF_SMOKE)
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "int",
        "string",
        "int",
    ]


def test_streaming_plan_is_incremental(spark):
    from smallquery_spark.streaming import events_stream

    sdf = events_stream(spark, SF_SMOKE)
    assert sdf.isStreaming
    agg = sdf.groupBy(F.window("ts", "10 minutes")).count()
    assert agg.isStreaming


# ---------------------------------------------------------------------------
# Extended TPC-H suite (tpch_extra) — the plans that survive 100x scale
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "name",
    [
        "q7_volume_shipping",
        "q8_market_share",
        "q9_product_profit",
        "q12_priority_lines",
        "q16_parts_supplier_counts",
        "q19_discounted_revenue",
    ],
)
def test_tpch_extra_dims_broadcast(name, spark):
    """Every dimension side is broadcast: the only shuffles left are the
    fact-fact equi-joins and the final aggregation."""
    plan = plan_of(name, spark)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q4_is_semi_join(spark):
    plan = plan_of("q4_order_priority", spark)
    assert "LeftSemi" in plan


def test_q22_is_anti_join(spark):
    plan = plan_of("q22_sales_opportunity", spark)
    assert "LeftAnti" in plan


def test_q11_threshold_is_broadcast_not_shuffle(spark):
    """The scalar total joins back as a 1-row broadcast, never a
    shuffled join."""
    plan = plan_of("q11_important_parts", spark)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_salted_aggregate_two_phases(spark):
    """Salting adds a pre-shuffle phase: ≥2 aggregation rounds, and the
    phase-2 input is the (keys × salt) partials, not raw rows."""
    plan = plan_of("c8_salted_aggregate", spark)
    # two groupBys, each with partial+final hash aggregate
    assert plan.count("HashAggregate") >= 3


def test_rollup_scan_prunes_partitions(spark, tmp_path):
    """The materialized rollup is partitioned by bucket_date; a
    date-filtered read must show PartitionFilters (pruned scan), the
    100-TB reason the rollup exists."""
    from smallquery_spark.operators.rollup_table import materialize_rollup
    from smallquery_spark.queries.registry import t as load

    path = str(tmp_path / "roll")
    materialize_rollup(
        load(spark, SF_SMOKE, "events"), path, dims=["event_type"]
    )
    df = spark.read.parquet(path).filter(
        F.col("bucket_date") == "1996-01-02"
    )
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters: [" in plan
    assert "bucket_date" in plan.split("PartitionFilters")[1].split("]")[0]


def test_bucketed_join_no_exchange(spark):
    """Same-bucketed fact tables join with ZERO exchange on either input
    (forcing SMJ — at real scale neither side broadcasts)."""
    from smallquery_spark.queries.scale import _bucketed_tables

    ot, lt = _bucketed_tables(spark, SF_SMOKE)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        lt_df = spark.table(lt).withColumnRenamed("l_orderkey", "o_orderkey")
        df = spark.table(ot).join(lt_df, "o_orderkey")
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in plan
    assert "Bucketed: true" in plan
    assert "SelectedBucketsCount: 8 out of 8" in plan
    # the join reads co-located buckets: no shuffle anywhere in the plan
    assert "Exchange" not in plan


def test_bucketed_rollup_workload_no_exchange(spark):
    """The q18-shaped workload (join -> per-order rollup -> HAVING) is
    Exchange-free END TO END on same-bucketed tables: hash(o_orderkey)
    bucketing satisfies the grouping's clustered distribution too, so
    the pay-once layout eliminates BOTH shuffles, not just the join's.
    (Measured at gen-sf10 by tools/atrest_join.py at 768dc6a: 4 -> 0
    Exchanges, ATREST_JOIN.json.)"""
    from pyspark.sql import functions as F

    from smallquery_spark.queries.scale import _bucketed_tables

    ot, lt = _bucketed_tables(spark, SF_SMOKE)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        o = spark.table(ot)
        l = spark.table(lt)
        df = (
            o.join(l, o.o_orderkey == l.l_orderkey)
            .groupBy("o_orderkey", "o_custkey")
            .agg(F.sum("l_quantity").alias("sum_qty"))
            .filter(F.col("sum_qty") > 300)
        )
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan


def test_catalog_bucketed_join_no_exchange(spark, monkeypatch):
    """The CATALOG bucketing API (Workspace.materialize_bucketed) yields
    the same zero-Exchange join as the hand-rolled tables, and the
    content-addressed name is stable across calls (layout paid once per
    data version)."""
    from smallquery_spark.engine import Engine
    from smallquery_spark.queries.registry import REGISTRY

    # run the registered query once to stage the workspace + tables
    REGISTRY["c9_bucketed_fact_join"].fn(spark, SF_SMOKE)
    import os
    import tempfile

    from smallquery_spark.queries.scale import _WORK

    tag = os.path.basename(SF_SMOKE.rstrip("/")).replace(".", "_")
    mount = os.path.join(_WORK, tag, "bktws_mount")
    eng = Engine(spark, workspace_mount=mount)
    ws = eng.catalog.workspace("facts")
    resolves = []
    resolve = ws.resolve_version

    def counting(version="latest"):
        resolves.append(version)
        return resolve(version)

    monkeypatch.setattr(ws, "resolve_version", counting)
    ot = ws.materialize_bucketed(spark, "orders", "o_orderkey", 8)
    # the table is read from, and named by, one resolution of the version
    assert resolves == ["latest"]
    # content-addressed: the second call must return the SAME table
    assert ot == ws.materialize_bucketed(spark, "orders", "o_orderkey", 8)
    lt = ws.materialize_bucketed(spark, "lineitem", "l_orderkey", 8)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        lt_df = spark.table(lt).withColumnRenamed("l_orderkey", "o_orderkey")
        df = spark.table(ot).join(lt_df, "o_orderkey")
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in plan
    assert "Bucketed: true" in plan
    assert "Exchange" not in plan


def test_ivf_index_scan_partition_pruned(spark):
    """The at-rest IVF index realizes the scan fraction as IO: probed
    cells reach the scan as an IN-list and Spark partition-prunes the
    cell directories (PartitionFilters with the cell IN-list). Without
    this the 'index' would still read the whole corpus and only skip
    arithmetic."""
    import os
    import re

    from smallquery_spark.operators.similarity import (
        ivf_assign,
        ivf_build_centroids,
        materialize_ivf,
    )

    emb = spark.read.parquet(
        os.path.join(SF_SMOKE, "embeddings.parquet")
    ).select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("vec"))
    cents = ivf_build_centroids(emb, n_cells=16)
    tname = materialize_ivf(
        spark, ivf_assign(emb, cents), f"plantest_{os.getpid()}"
    )
    try:
        df = spark.table(tname).filter(F.col("cell").isin([0, 3]))
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
        assert pf and "cell" in pf.group(1), plan
        # and the pruned scan actually reads fewer rows than the table
        total = spark.table(tname).count()
        assert 0 < df.count() < total
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tname}")


def test_neardup_index_band_join_no_index_exchange(spark):
    """The streaming near-dup ingest's band join must NEVER shuffle the
    at-rest index side (the r6 scale defect: the read-parquet index
    path re-shuffled the whole accumulated index every epoch — +40 s
    per ~580k index rows at 5M docs, C2_STREAM_CURVE_5M.json). Pin:
    the index scan reads bucketed ("Bucketed: true") and the plan's
    only Exchange hashes the EPOCH side's key column."""
    import os
    import re

    from pyspark.sql import functions as F

    from smallquery_spark.operators.dedup import _banded_sig_df
    from smallquery_spark.operators.neardup_index import (
        NearDupIndex,
        _bk60,
    )

    docs = spark.read.parquet(
        os.path.join(SF_SMOKE, "documents.parquet")
    ).select("doc_id", "text")
    ndx = NearDupIndex(spark, f"plantest_{os.getpid()}", n_buckets=4)
    ndx.drop()
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        sig = _banded_sig_df(docs).localCheckpoint(eager=True)
        ndx.append(sig)
        new_keys = (
            sig.select(
                F.col("doc_id").alias("n_id"),
                F.col("__sz").alias("n_sz"),
                F.explode("__keys").alias("__bkey"),
            )
            .withColumn("__bk", _bk60(F.col("__bkey")))
            .drop("__bkey")
        )
        # forbid broadcasting the epoch side: at real scale the epoch
        # does not broadcast, so the pin must hold for the shuffle shape
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = new_keys.hint("shuffle_hash").join(
            spark.table(ndx.bands_table), "__bk"
        )
        plan = j._sc._jvm.PythonSQLUtils.explainString(
            j._jdf.queryExecution(), "formatted"
        )
        assert "Bucketed: true" in plan
        # hash join, not sort-merge: SMJ would re-SORT the full index
        # scan inside the join every epoch (index-sized n log n)
        assert "ShuffledHashJoin" in plan, plan
        assert "SortMergeJoin" not in plan, plan
        assert re.search(r"\(\d+\) Sort\b", plan) is None, plan
        blocks = re.findall(
            r"\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]", plan
        )
        assert len(blocks) == 1, plan
        # the lone Exchange must carry the EPOCH side's columns (n_*),
        # never the index table's (o_*)
        assert "n_id" in blocks[0] and "o_id" not in blocks[0], plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        ndx.drop()


# ---------------------------------------------------------------------------
# Global plan hygiene: no accidental quadratic joins anywhere
# ---------------------------------------------------------------------------

# queries whose SEMANTICS are a cross/nested-loop join (tiny sides or
# 1-row scalar broadcasts) — everything else must plan hash/merge joins.
_CARTESIAN_OK = {
    "b18_cross_join",        # region x nation, deliberately cartesian
    "b19_range_join",        # banded: BNLJ never, but small theta remainder ok
    "c3_knn_bruteforce",     # scoring IS all-pairs vs broadcast queries
    "c3_ann_ivf",            # probe fan-out via broadcast
    "c2_ngram_jaccard",      # bounded all-pairs baseline (doc_id < 400)
    "c28_cluster_dedup",     # bounded all-pairs edge baseline (30 dup groups + 300 docs)
    "c30_tfidf",             # 1-row corpus-count broadcast onto the vocab-sized idf table
    "c32_bm25_retrieval",    # 1-row corpus-stats broadcasts (avgdl, n_docs)
    "c34_vocab_coverage",    # 1-row grand-total broadcast onto the top-50 vocab
    "c35_bigram_pmi",        # 1-row total-bigram-count broadcast
    "c2_embedding_neardup",  # bounded all-pairs baseline (vec_id < 400)
    "s01_scalar_subquery",   # 1-row scalar broadcast
    "s03_correlated_exists",
    "q11_important_parts",   # 1-row threshold broadcast
    "q15_top_supplier",      # 1-row max broadcast
    "q17_small_quantity",
    "q22_sales_opportunity", # 1-row avg broadcast
    "c6_cosine_to_centroid", # 1-row centroid broadcast
    "c12_compaction",        # 1-row contract result
    "c13_heavy_hitters",     # 1-row support-threshold broadcast
    "c19_hll_mergeable",     # 1-row contract crossJoins
    # canonical tagged unions of allowlisted originals (same bounded
    # 1-row scalar broadcasts / deliberate cross joins, new names so the
    # alias skip misses them)
    "a_c29_c30_index_tfidf",
    "a_c34_c35_vocab_pmi",
    "a_b14_b21_joins",  # b18 leg is the deliberate cross join
    "a_c19_c21_distinct_sketches",  # c19 leg's 1-row contract crossJoins
}

# streaming queries build their own plans per-trigger; excluded from the
# batch explain sweep (their shapes are asserted by the b5x tests).
_SWEEP_SKIP_PREFIXES = ("b5", "c7_rollup_streaming")


@pytest.mark.slow  # >=15 s measured; deselected by default (r15, VERDICT r14 #1)
def test_no_accidental_cartesian_anywhere(spark):
    load_all()
    from smallquery_spark.queries.canonical import _ALIASES

    offenders = []
    for name, qd in sorted(REGISTRY.items()):
        if name in _CARTESIAN_OK or name.startswith(_SWEEP_SKIP_PREFIXES):
            continue
        if name in _ALIASES:
            # canonical window aliases share the fn of an original that
            # is already swept (or allowlisted) under its own name
            continue
        df = qd.fn(spark, SF_SMOKE)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "simple"
        )
        if "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan:
            offenders.append(name)
    assert offenders == []


@pytest.mark.parametrize(
    "hint,expect",
    [("shuffle_hash", "ShuffledHashJoin"), ("merge", "SortMergeJoin")],
)
def test_join_strategy_hints(spark, hint, expect):
    """Planner honors per-join strategy hints — the manual override when
    AQE's choice is wrong for a known workload."""
    from smallquery_spark.queries.registry import t as load

    o = load(spark, SF_SMOKE, "orders")
    c = load(spark, SF_SMOKE, "customer").hint(hint)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = o.join(c, o.o_custkey == c.c_custkey)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert expect in plan


def test_runtime_bloom_filter_injection(spark):
    """Runtime Bloom-filter pruning: a selective dim filter builds a
    bloom over join keys that pre-filters the fact scan. Size thresholds
    are lowered to activate on fixture data; at production scan sizes
    the defaults (10GB application side) trigger on their own."""
    from smallquery_spark.queries.registry import t as load

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        o = load(spark, SF_SMOKE, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = load(spark, SF_SMOKE, "lineitem")
        df = (
            li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("l_returnflag")
            .count()
        )
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert "bloom_filter_agg" in plan


def test_scan_parallelism_follows_max_partition_bytes(spark):
    """spark.sql.files.maxPartitionBytes controls scan split width — the
    knob that sizes read tasks to executor memory at the target SF."""
    path = "/root/testdata/sf0.01/lineitem.parquet"
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "262144")  # 256 KB
        many = spark.read.parquet(path).rdd.getNumPartitions()
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1g")
        few = spark.read.parquet(path).rdd.getNumPartitions()
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    assert many > few
    assert few >= 1


def test_zorder_layout_narrows_both_dims(spark, tmp_path):
    """Z-order clustering: every row group covers a narrow range of BOTH
    key columns (min/max stats prune scans filtered on either), while a
    single-column sort leaves the other column at full range. Metric:
    mean normalized per-row-group span from parquet stats."""
    from smallquery_spark.operators.layout import rowgroup_spans, write_zordered
    from smallquery_spark.queries.registry import t as load

    o = load(spark, SF_SMOKE, "orders").select(
        (F.col("o_custkey") % 1024).alias("ck"),
        F.dayofyear("o_orderdate").alias("dy"),
        "o_totalprice",
    )
    zpath, spath = str(tmp_path / "z"), str(tmp_path / "s")
    write_zordered(o, zpath, "ck", "dy", n_files=16)
    (
        o.repartitionByRange(16, "ck")
        .sortWithinPartitions("ck")
        .write.mode("overwrite")
        .parquet(spath)
    )
    z_ck, z_dy = rowgroup_spans(zpath, "ck", "dy")
    s_ck, s_dy = rowgroup_spans(spath, "ck", "dy")
    # single sort: ck razor-thin, dy useless (full range)
    assert s_dy > 0.9
    # z-order: BOTH dims materially narrower than full range (exact
    # balance depends on the dims' bit widths)
    assert z_ck < 0.85 and z_dy < 0.85
    # the worst dimension improves — that's the pruning guarantee
    assert max(z_ck, z_dy) < max(s_ck, s_dy)


def test_cached_frame_reused_in_memory(spark):
    """persist() materializes once and later plans read the in-memory
    columnar copy (InMemoryTableScan) — the reuse primitive for
    iterative/multi-output pipelines."""
    from smallquery_spark.queries.registry import t as load

    li = load(spark, SF_SMOKE, "lineitem").filter(F.col("l_quantity") > 10)
    li.persist()
    try:
        li.count()  # materialize
        agg = li.groupBy("l_returnflag").count()
        plan = agg._sc._jvm.PythonSQLUtils.explainString(
            agg._jdf.queryExecution(), "formatted"
        )
        assert "InMemoryTableScan" in plan
    finally:
        li.unpersist()


def test_observe_metrics_collected(spark):
    """df.observe: metrics computed DURING the action (no second scan) —
    the pipeline-health hook for production jobs."""
    from pyspark.sql import Observation

    from smallquery_spark.queries.registry import t as load

    obs = Observation("orders_health")
    o = load(spark, SF_SMOKE, "orders").observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("total"),
        F.max("o_orderdate").alias("latest"),
    )
    n_rows = o.count()
    got = obs.get
    assert got["n"] == n_rows and got["total"] is not None


def test_packing_single_shuffle(spark):
    """c22 sequence packing: exactly one Exchange (the shard shuffle);
    the greedy pass is FlatMapGroupsInPandas, and the per-pack summary
    reuses the shard partitioning for its first grouping key — no text
    column ever enters the plan."""
    plan = plan_of("c22_sequence_packing", spark, mode="simple")
    assert "FlatMapGroupsInPandas" in plan
    assert plan.count("Exchange") <= 2  # shard shuffle + final tiny agg
    assert "text" not in plan


def test_repetition_ratio_no_shuffle(spark):
    """c23 repetition ratio is a pure narrow projection: higher-order
    array expressions, zero Exchange, no Python."""
    plan = plan_of("c23_repetition_ratio", spark, mode="simple")
    assert "Exchange" not in plan
    assert "FlatMapGroupsInPandas" not in plan and "BatchEvalPython" not in plan
    assert "PushedFilters" in plan_of("c23_repetition_ratio", spark)


def test_incremental_sessionize_two_shuffles(spark):
    """c38's whole incremental path must be two hash exchanges — the
    (user, epoch) window sort and the user-keyed span merge; the final
    per-user agg reuses the merge window's partitioning. No joins, no
    event-sized third shuffle."""
    plan = plan_of("c38_incremental_sessionize", spark)
    assert "Join" not in plan
    assert plan.count("Window") >= 2
    import re

    exchanges = re.findall(r"Arguments: hashpartitioning\(([^)]*)\)", plan)
    assert len(exchanges) == 2, exchanges
    # first shuffle carries the epoch key, second is user-only
    assert any("__epoch" in e for e in exchanges)
    assert any("__epoch" not in e for e in exchanges)


@pytest.mark.slow  # >=10 s measured; deselected by default (r15, VERDICT r14 #1)
def test_ivfpq_scan_pruned_and_rerank_filter_pushed(spark):
    """The PQ code table inherits the IVF index's partition-pruned
    probe (PartitionFilters with the cell IN-list on the pruned route),
    and the rerank's point fetch pushes the bounded candidate-id set
    into the full-vector scan (PushedFilters In(c_id, ...)) — the two
    plan properties that make IVF-PQ's byte claim real IO, not skipped
    arithmetic."""
    import os
    import re

    from smallquery_spark.operators.pq import materialize_ivfpq, pq_train
    from smallquery_spark.operators.similarity import (
        ivf_assign,
        ivf_build_centroids,
    )

    emb = spark.read.parquet(
        os.path.join(SF_SMOKE, "embeddings.parquet")
    ).select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("vec"))
    cents = ivf_build_centroids(emb, n_cells=16)
    books = pq_train(emb, cents, m=8)
    tname = materialize_ivfpq(
        spark, ivf_assign(emb, cents), cents, books, f"pqplan_{os.getpid()}"
    )
    try:
        pruned = spark.table(tname).filter(F.col("cell").isin([0, 3]))
        plan = pruned._sc._jvm.PythonSQLUtils.explainString(
            pruned._jdf.queryExecution(), "formatted"
        )
        pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
        assert pf and "cell" in pf.group(1), plan

        # the scan ivfpq_search actually uses (a PATH read, immune to
        # catalog partition lag after a retrain swap) prunes the same
        from smallquery_spark.operators.pq import _index_scan

        pruned_path = _index_scan(spark, tname).filter(
            F.col("cell").isin([0, 3])
        )
        plan_path = pruned_path._sc._jvm.PythonSQLUtils.explainString(
            pruned_path._jdf.queryExecution(), "formatted"
        )
        pfp = re.search(r"PartitionFilters: \[([^\]]*)\]", plan_path)
        assert pfp and "cell" in pfp.group(1), plan_path

        fetch = emb.filter(F.col("c_id").isin([1, 5, 9]))
        plan2 = fetch._sc._jvm.PythonSQLUtils.explainString(
            fetch._jdf.queryExecution(), "formatted"
        )
        pushed = re.search(r"PushedFilters: \[([^\]]*)\]", plan2)
        # the IN-list resolves through the alias to the SOURCE column
        # (vec_id) — i.e. it genuinely reaches the parquet scan
        assert pushed and re.search(r"In\((vec_id|c_id)", pushed.group(1)), plan2
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tname}")
