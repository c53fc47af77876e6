"""IVF-PQ operator contracts (operators/pq.py).

The PQ design promise, pinned as value contracts on a small clustered
corpus: deterministic training, dense in-range codes, ADC ranking close
enough that a bounded exact rerank restores the EXACT top-k, and a
materialized code table that is genuinely smaller than the full-vector
index it replaces (the whole point).

Marked ``slow`` as a FILE (r15, VERDICT r14 #1): these are end-to-end
protocol tests (~16 min measured) and the default pytest selection
must finish inside the driver's verify budget. Run them with the full
suite: ``pytest -m "not driver"``."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.slow


def _clustered(n=300, dim=16, n_modes=5, seed=7):
    rng = np.random.default_rng(seed)
    modes = rng.normal(0, 1, (n_modes, dim))
    labels = rng.integers(0, n_modes, n)
    X = modes[labels] + rng.normal(0, 0.3, (n, dim))
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    return X


@pytest.fixture(scope="module")
def corpus(spark):
    X = _clustered()
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(len(X))],
        "c_id long, vec array<double>",
    ).cache()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def trained(spark, corpus):
    from smallquery_spark.operators.similarity import ivf_build_centroids
    from smallquery_spark.operators.pq import pq_train

    cents = ivf_build_centroids(corpus, n_cells=8)
    books = pq_train(corpus, cents, m=4, nbits=8)
    return cents, books


def test_pq_train_contract(spark, corpus):
    from smallquery_spark.operators.similarity import ivf_build_centroids
    from smallquery_spark.operators.pq import pq_train

    cents = ivf_build_centroids(corpus, n_cells=8)
    with pytest.raises(ValueError):  # 5 does not divide dim 16
        pq_train(corpus, cents, m=5)
    b1 = pq_train(corpus, cents, m=4, nbits=8)
    b2 = pq_train(corpus, cents, m=4, nbits=8)
    # deterministic: bit-identical codebooks across runs
    assert (b1.books == b2.books).all()
    assert b1.m == 4 and b1.dsub == 4 and b1.ksub == 256
    # a sample smaller than 2**nbits clamps ksub (codes stay dense)
    assert pq_train(corpus, cents, m=4, nbits=10).ksub == 300
    # m=None derives the largest divisor of dim that is <= 16
    assert pq_train(corpus, cents).m == 16  # dim 16 -> m 16, dsub 1
    # empty corpus raises
    with pytest.raises(ValueError):
        pq_train(corpus.filter("c_id < 0"), cents, m=4)


def test_pq_encode_dense_in_range_codes(spark, corpus, trained):
    from smallquery_spark.operators.pq import pq_encode
    from smallquery_spark.operators.similarity import ivf_assign

    cents, books = trained
    assigned = ivf_assign(corpus, cents)
    rows = pq_encode(assigned, cents, books).select("c_id", "code").collect()
    assert len(rows) == 300
    for r in rows:
        assert len(r["code"]) == books.m
        assert all(0 <= c < books.ksub for c in r["code"])

    # the layout is array (measured smaller at rest than raw binary
    # packing — IVFPQ_CODEFMT_gen100.json)
    drow = pq_encode(assigned, cents, books).select("code").first()
    assert isinstance(drow["code"], list)


def test_ivfpq_rerank_recovers_exact_topk(spark, corpus, trained):
    """With every cell probed and a rerank pool covering the corpus,
    the reranked IVF-PQ result must EQUAL exact brute force — the
    approximation is confined to candidate selection, and this setting
    removes it, so any difference is a real scoring/plumbing bug."""
    from smallquery_spark.operators.pq import ivfpq_search, materialize_ivfpq
    from smallquery_spark.operators.similarity import ivf_assign, knn_bruteforce

    cents, books = trained
    queries = corpus.filter("c_id < 8").select(
        F.col("c_id").alias("q_id"), "vec"
    )
    tname = materialize_ivfpq(
        spark, ivf_assign(corpus, cents), cents, books, f"pqtest_{os.getpid()}"
    )
    try:
        got = ivfpq_search(
            spark,
            queries,
            tname,
            cents,
            books,
            k=10,
            n_probe=len(cents),
            rerank=30,  # 30*10 = the whole corpus: candidates == all
            rerank_corpus=corpus,
        ).select("q_id", "c_id", "rnk")
        exact = knn_bruteforce(
            queries.select("q_id", F.col("vec").alias("q_vec")),
            corpus.select("c_id", F.col("vec").alias("c_vec")),
            k=10,
        ).select("q_id", "c_id", "rnk")
        assert got.exceptAll(exact).count() == 0
        assert exact.exceptAll(got).count() == 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tname}")


def test_ivfpq_adc_only_recall_and_route_identity(spark, corpus, trained):
    """Pure-ADC search (no rerank): recall@10 vs exact must clear 0.8
    on a corpus whose codebooks near-memorize the residuals, and the
    pruned/full routes must return identical values (route only picks
    where bytes are read)."""
    from smallquery_spark.operators.pq import ivfpq_search, materialize_ivfpq
    from smallquery_spark.operators.similarity import ivf_assign, knn_bruteforce

    cents, books = trained
    queries = corpus.filter("c_id < 8").select(
        F.col("c_id").alias("q_id"), "vec"
    )
    tname = materialize_ivfpq(
        spark, ivf_assign(corpus, cents), cents, books, f"pqroute_{os.getpid()}"
    )
    try:
        pruned = ivfpq_search(
            spark, queries, tname, cents, books, k=10, n_probe=4, route="pruned"
        )
        full = ivfpq_search(
            spark, queries, tname, cents, books, k=10, n_probe=4, route="full"
        )
        assert pruned.exceptAll(full).count() == 0
        assert full.exceptAll(pruned).count() == 0

        adc_all = ivfpq_search(
            spark, queries, tname, cents, books, k=10, n_probe=len(cents)
        ).select("q_id", "c_id")
        exact = knn_bruteforce(
            queries.select("q_id", F.col("vec").alias("q_vec")),
            corpus.select("c_id", F.col("vec").alias("c_vec")),
            k=10,
        ).select("q_id", "c_id")
        hits = exact.join(adc_all, ["q_id", "c_id"], "left_semi").count()
        assert hits / exact.count() >= 0.8
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tname}")


def test_append_ivfpq_equals_rebuild(spark, corpus, trained):
    """Appending against frozen centroids+codebooks must yield a table
    holding exactly the rows a full rebuild over the unioned corpus
    holds (codes are a pure function of vector and quantizers) — and a
    probe must answer identically against both."""
    from smallquery_spark.operators.pq import (
        append_ivfpq,
        ivfpq_search,
        materialize_ivfpq,
    )
    from smallquery_spark.operators.similarity import ivf_assign

    cents, books = trained
    base = corpus.filter("c_id % 2 = 0")
    arriving = corpus.filter("c_id % 2 = 1")
    pid = os.getpid()
    t_app = materialize_ivfpq(
        spark, ivf_assign(base, cents), cents, books, f"pqapp_{pid}"
    )
    t_rb = materialize_ivfpq(
        spark, ivf_assign(corpus, cents), cents, books, f"pqrb_{pid}"
    )
    try:
        append_ivfpq(spark, t_app, arriving, cents, books)
        a = spark.table(t_app).select(
            "c_id", "cell", F.col("code").cast("string").alias("code")
        )
        b = spark.table(t_rb).select(
            "c_id", "cell", F.col("code").cast("string").alias("code")
        )
        assert a.exceptAll(b).count() == 0
        assert b.exceptAll(a).count() == 0

        queries = corpus.filter("c_id < 5").select(
            F.col("c_id").alias("q_id"), "vec"
        )
        ra = ivfpq_search(
            spark, queries, t_app, cents, books, k=5, n_probe=4
        )
        rb = ivfpq_search(
            spark, queries, t_rb, cents, books, k=5, n_probe=4
        )
        assert ra.exceptAll(rb).count() == 0
        assert rb.exceptAll(ra).count() == 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t_app}")
        spark.sql(f"DROP TABLE IF EXISTS {t_rb}")


def test_index_meta_roundtrip_serves_identical_probes(spark, corpus, trained):
    """save_index_meta / load_index_meta: quantizer metadata persisted
    beside the index round-trips bit-identically (float64 storage is
    lossless for the float32 codebooks), and a probe served from the
    LOADED metadata returns exactly the rows the builder's in-memory
    copies return — the at-rest index outlives its builder process."""
    from smallquery_spark.operators.pq import (
        ivfpq_search,
        load_index_meta,
        materialize_ivfpq,
        save_index_meta,
    )
    from smallquery_spark.operators.similarity import ivf_assign

    cents, books = trained
    pid = os.getpid()
    tname = materialize_ivfpq(
        spark, ivf_assign(corpus, cents), cents, books, f"pqmeta_{pid}"
    )
    try:
        save_index_meta(spark, tname, cents, books)
        cents2, books2 = load_index_meta(spark, tname)
        assert cents2 == cents
        assert books2 is not None and (books2.books == books.books).all()

        queries = corpus.filter("c_id < 5").select(
            F.col("c_id").alias("q_id"), "vec"
        )
        r1 = ivfpq_search(spark, queries, tname, cents, books, k=5, n_probe=4)
        r2 = ivfpq_search(
            spark, queries, tname, cents2, books2, k=5, n_probe=4
        )
        assert r1.exceptAll(r2).count() == 0
        assert r2.exceptAll(r1).count() == 0

        # saving meta that does NOT describe this index (centroid-only
        # token != the PQ stamp) must refuse — that mismatch is the
        # exact corruption the lifecycle prevents
        from smallquery_spark.errors import StaleQuantizerError

        with pytest.raises(StaleQuantizerError):
            save_index_meta(spark, tname, cents)

        # centroid-only meta on a full-vector index (materialize_ivf
        # never sees the quantizer, so save is the stamping assertion)
        from smallquery_spark.operators.similarity import materialize_ivf

        t_full = materialize_ivf(
            spark, ivf_assign(corpus, cents), f"pqmeta_full_{pid}"
        )
        try:
            save_index_meta(spark, t_full, cents)
            cents3, books3 = load_index_meta(spark, t_full)
            assert cents3 == cents and books3 is None
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {t_full}")
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tname}")


def test_ivfpq_table_smaller_than_full_vector_index(spark, corpus, trained):
    """The materialized code table must be materially smaller than the
    full-vector IVF index over the SAME corpus — the compression that
    justifies the operator (measured 30x at gen100; asserted loosely
    here because parquet framing dominates at 300 rows)."""
    from smallquery_spark.fsio import fs_for, table_location
    from smallquery_spark.operators.pq import materialize_ivfpq
    from smallquery_spark.operators.similarity import ivf_assign, materialize_ivf

    cents, books = trained
    assigned = ivf_assign(corpus, cents)
    pid = os.getpid()
    t_full = materialize_ivf(spark, assigned, f"pqcmp_{pid}")
    t_pq = materialize_ivfpq(spark, assigned, cents, books, f"pqcmp_{pid}")
    try:
        loc_full = table_location(spark, t_full)
        loc_pq = table_location(spark, t_pq)
        _, bytes_full = fs_for(spark, loc_full).parquet_stats(loc_full)
        _, bytes_pq = fs_for(spark, loc_pq).parquet_stats(loc_pq)
        assert bytes_pq < bytes_full
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t_full}")
        spark.sql(f"DROP TABLE IF EXISTS {t_pq}")


def test_ivfpq_empty_results_inherit_id_types(spark):
    """The empty-result early returns must carry the CALLER's id types
    (string here), matching the populated path's schema: a hardcoded
    `long` made an empty query batch union-incompatible with non-empty
    results over the same string-keyed index (ADVICE r9). Exercises
    both early returns — empty query batch, and empty candidate set
    via an empty index on the rerank path."""
    from smallquery_spark.operators.pq import (
        ivfpq_search,
        materialize_ivfpq,
        pq_train,
    )
    from smallquery_spark.operators.similarity import (
        ivf_assign,
        ivf_build_centroids,
    )

    X = _clustered(n=40, dim=8, n_modes=2)
    corpus = spark.createDataFrame(
        [(f"doc-{i}", [float(v) for v in X[i]]) for i in range(len(X))],
        "c_id string, vec array<double>",
    )
    cents = ivf_build_centroids(corpus, n_cells=2)
    books = pq_train(corpus, cents, m=2)
    pid = os.getpid()
    t = materialize_ivfpq(
        spark, ivf_assign(corpus, cents), cents, books, f"pqschema_{pid}"
    )
    t_empty = materialize_ivfpq(
        spark,
        ivf_assign(corpus.limit(0), cents),
        cents,
        books,
        f"pqschema_e_{pid}",
    )
    try:
        qs = corpus.limit(3).select(F.col("c_id").alias("q_id"), "vec")
        none = corpus.limit(0).select(F.col("c_id").alias("q_id"), "vec")

        def shape(df):
            return [(f.name, f.dataType) for f in df.schema.fields]

        full = ivfpq_search(spark, qs, t, cents, books, k=3)
        empty = ivfpq_search(spark, none, t, cents, books, k=3)
        assert shape(empty) == shape(full)
        assert full.unionByName(empty).count() == full.count() > 0

        full_rr = ivfpq_search(
            spark, qs, t, cents, books, k=3, rerank_corpus=corpus
        )
        empty_rr = ivfpq_search(
            spark, none, t, cents, books, k=3, rerank_corpus=corpus
        )
        # empty-candidate early return: rerank against an EMPTY index
        no_cand = ivfpq_search(
            spark, qs, t_empty, cents, books, k=3, rerank_corpus=corpus
        )
        assert shape(empty_rr) == shape(full_rr) == shape(no_cand)
        assert (
            full_rr.unionByName(empty_rr).unionByName(no_cand).count()
            == full_rr.count()
            > 0
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        spark.sql(f"DROP TABLE IF EXISTS {t_empty}")


def test_retrain_ivfpq_protocol_and_stale_refusal(spark, corpus, trained):
    """retrain_ivfpq as ONE protocol (train -> re-encode into a staged
    table carrying stamp+meta -> rename swap): afterwards (a) the old
    quantizer is REFUSED at probe and append time (StaleQuantizerError
    — the silently-wrong-neighbors hole of VERDICT r9), (b) loaded
    meta equals the returned quantizer and serves bit-identical
    probes, (c) the retrained table equals a from-scratch materialize
    under the same quantizer (training is deterministic)."""
    from smallquery_spark.errors import StaleQuantizerError
    from smallquery_spark.operators.pq import (
        append_ivfpq,
        ivfpq_search,
        load_index_meta,
        materialize_ivfpq,
        retrain_ivfpq,
    )
    from smallquery_spark.operators.similarity import ivf_assign

    cents, books = trained
    pid = os.getpid()
    t = materialize_ivfpq(
        spark, ivf_assign(corpus, cents), cents, books, f"pqrt_{pid}"
    )
    try:
        cents2, books2 = retrain_ivfpq(spark, t, corpus, n_cells=4, m=4)
        assert len(cents2) == 4 and books2.m == 4

        qs = corpus.filter("c_id < 5").select(
            F.col("c_id").alias("q_id"), "vec"
        )
        with pytest.raises(StaleQuantizerError):
            ivfpq_search(spark, qs, t, cents, books, k=5, n_probe=2)
        with pytest.raises(StaleQuantizerError):
            append_ivfpq(spark, t, corpus.limit(3), cents, books)

        cl, bl = load_index_meta(spark, t)
        assert cl == cents2 and bl is not None
        assert (bl.books == books2.books).all()
        r1 = ivfpq_search(spark, qs, t, cents2, books2, k=5, n_probe=2)
        r2 = ivfpq_search(spark, qs, t, cl, bl, k=5, n_probe=2)
        assert r1.exceptAll(r2).count() == 0
        assert r2.exceptAll(r1).count() == 0

        t2 = materialize_ivfpq(
            spark, ivf_assign(corpus, cents2), cents2, books2, f"pqrt2_{pid}"
        )
        try:
            a = spark.table(t).select("c_id", "cell", "code")
            b = spark.table(t2).select("c_id", "cell", "code")
            assert a.exceptAll(b).count() == 0
            assert b.exceptAll(a).count() == 0
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {t2}")
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        spark.sql(f"DROP TABLE IF EXISTS {t}_new")
        spark.sql(f"DROP TABLE IF EXISTS {t}_old")


def test_save_meta_crash_windows_recover(spark, corpus, trained, monkeypatch):
    """save_index_meta's aside-write+rename protocol, crashed at both
    interesting points: (1) before any rename — the live meta is
    untouched and keeps serving; (2) between rename-out and rename-in
    — the live meta is MISSING and load_index_meta completes the swap
    from the complete ``_meta_new`` (VERDICT r10 ask #1's crash
    test)."""
    from smallquery_spark.fsio import HadoopFS, join_uri, table_location
    from smallquery_spark.operators.pq import (
        META_DIR,
        ivfpq_search,
        load_index_meta,
        materialize_ivfpq,
        save_index_meta,
    )
    from smallquery_spark.operators.similarity import ivf_assign

    cents, books = trained
    pid = os.getpid()
    t = materialize_ivfpq(
        spark, ivf_assign(corpus, cents), cents, books, f"pqcw_{pid}"
    )
    loc = table_location(spark, t)
    meta = join_uri(loc, META_DIR)
    orig_rename = HadoopFS.rename
    try:
        # (1) die before ANY rename: _meta_new written, live untouched
        def die_before_rename(self, src, dst):
            if src.rstrip("/").endswith("_meta_new"):
                raise RuntimeError("injected crash before rename")
            return orig_rename(self, src, dst)

        monkeypatch.setattr(HadoopFS, "rename", die_before_rename)
        with pytest.raises(RuntimeError, match="injected"):
            save_index_meta(spark, t, cents, books)
        monkeypatch.setattr(HadoopFS, "rename", orig_rename)
        cl, bl = load_index_meta(spark, t)
        assert cl == cents and (bl.books == books.books).all()

        # (2) die between rename-out and rename-in: live meta missing
        def die_after_rename_out(self, src, dst):
            orig_rename(self, src, dst)
            if dst.rstrip("/").endswith("_meta_old"):
                raise RuntimeError("injected crash after rename-out")

        monkeypatch.setattr(HadoopFS, "rename", die_after_rename_out)
        with pytest.raises(RuntimeError, match="injected"):
            save_index_meta(spark, t, cents, books)
        monkeypatch.setattr(HadoopFS, "rename", orig_rename)
        from smallquery_spark.fsio import fs_for

        assert not fs_for(spark, loc).exists(meta)  # the crash window
        cl, bl = load_index_meta(spark, t)  # recovery completes swap
        assert cl == cents and (bl.books == books.books).all()
        assert fs_for(spark, loc).exists(meta)
        qs = corpus.filter("c_id < 3").select(
            F.col("c_id").alias("q_id"), "vec"
        )
        assert ivfpq_search(spark, qs, t, cl, bl, k=3, n_probe=2).count() > 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_retrain_crash_between_swap_renames_recovers(
    spark, corpus, trained, monkeypatch
):
    """A retrain that dies between 'rename live aside' and 'rename
    staged in' leaves the live DIRECTORY missing with a complete
    staged tree — the next probe/load recovers via
    _recover_index_swap, serving the NEW generation (stamp+meta
    traveled inside the staged directory, so no stale-meta state
    exists at any point)."""
    from smallquery_spark.fsio import HadoopFS, fs_for, table_location
    from smallquery_spark.operators.pq import (
        ivfpq_search,
        load_index_meta,
        materialize_ivfpq,
        retrain_ivfpq,
    )
    from smallquery_spark.operators.similarity import ivf_assign

    cents, books = trained
    pid = os.getpid()
    t = materialize_ivfpq(
        spark, ivf_assign(corpus, cents), cents, books, f"pqswp_{pid}"
    )
    loc = table_location(spark, t)
    orig_rename = HadoopFS.rename
    try:
        # die between the two swap renames: the live tree has just
        # moved aside; the staged tree (complete — stamp written last)
        # has not yet moved in
        def die_before_rename_in(self, src, dst):
            if src.rstrip("/").endswith(".retrain_tmp"):
                raise RuntimeError("injected crash between swap renames")
            return orig_rename(self, src, dst)

        monkeypatch.setattr(HadoopFS, "rename", die_before_rename_in)
        with pytest.raises(RuntimeError, match="injected"):
            retrain_ivfpq(spark, t, corpus, n_cells=4, m=4)
        monkeypatch.setattr(HadoopFS, "rename", orig_rename)

        fs = fs_for(spark, loc)
        assert not fs.exists(loc)  # the rename window
        assert fs.exists(loc.rstrip("/") + ".retrain_tmp")
        cl, bl = load_index_meta(spark, t)  # recovers the swap
        assert fs.exists(loc)
        assert len(cl) == 4 and bl.m == 4  # the NEW generation
        qs = corpus.filter("c_id < 3").select(
            F.col("c_id").alias("q_id"), "vec"
        )
        assert ivfpq_search(spark, qs, t, cl, bl, k=3, n_probe=2).count() > 0
        # catalog coherence restored too (recovery MSCK-syncs)
        assert spark.table(t).count() == 300
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_tampered_gen_stamp_fails_loudly(spark, corpus, trained):
    """A gen stamp that no longer matches the meta (manual tamper, or
    any divergence the protocols didn't produce) must refuse probes
    AND meta loads — never answer from inconsistent state."""
    from smallquery_spark.errors import StaleQuantizerError
    from smallquery_spark.fsio import fs_for, join_uri, table_location
    from smallquery_spark.operators.pq import (
        GEN_FILE,
        ivfpq_search,
        load_index_meta,
        materialize_ivfpq,
    )
    from smallquery_spark.operators.similarity import ivf_assign

    cents, books = trained
    pid = os.getpid()
    t = materialize_ivfpq(
        spark, ivf_assign(corpus, cents), cents, books, f"pqtamper_{pid}"
    )
    try:
        loc = table_location(spark, t)
        fs_for(spark, loc).write_text(
            join_uri(loc, GEN_FILE), "0" * 32
        )
        qs = corpus.filter("c_id < 3").select(
            F.col("c_id").alias("q_id"), "vec"
        )
        with pytest.raises(StaleQuantizerError):
            ivfpq_search(spark, qs, t, cents, books, k=3, n_probe=2)
        with pytest.raises(StaleQuantizerError):
            load_index_meta(spark, t)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_pq_fit_gap_and_qerr_trigger(spark, corpus, trained):
    """pq_fit_gap (the codebook-fit drift signal): near-zero on
    in-distribution data, materially larger on a variance-widened
    batch (same modes, 3x the jitter — the drift shape both the cell
    histogram and assignment_fit are blind to); pq_qerr_trigger fires
    on the widened batch against the quiet baseline and stays quiet
    on an in-distribution one."""
    from smallquery_spark.operators.pq import pq_fit_gap, pq_qerr_trigger

    cents, books = trained
    base = pq_fit_gap(corpus, cents, books)
    assert base >= 0.0

    rng = np.random.default_rng(7)
    modes = rng.normal(0, 1, (5, 16))  # the _clustered seed-7 modes

    def batch(sigma, seed):
        r = np.random.default_rng(seed)
        labels = r.integers(0, 5, 200)
        X = modes[labels] + r.normal(0, sigma, (200, 16))
        X = X / np.linalg.norm(X, axis=1, keepdims=True)
        return spark.createDataFrame(
            [(i, [float(v) for v in X[i]]) for i in range(len(X))],
            "c_id long, vec array<double>",
        )

    quiet_gap = pq_fit_gap(batch(0.3, 21), cents, books)
    wide_gap = pq_fit_gap(batch(0.9, 22), cents, books)
    assert wide_gap > 2.0 * quiet_gap
    assert pq_qerr_trigger(wide_gap, quiet_gap)
    assert not pq_qerr_trigger(quiet_gap * 1.1, quiet_gap)


def test_ivfpq_search_chunked_equals_monolithic(spark, corpus, trained):
    """query_chunk is an execution-shape knob only: a batch processed
    in many chunks returns exactly the rows the monolithic pass
    returns, on both the ADC and rerank paths (the chunking exists
    because LUT closures are n_q-proportional — see the r10 chunk
    study)."""
    from smallquery_spark.operators.pq import ivfpq_search, materialize_ivfpq
    from smallquery_spark.operators.similarity import ivf_assign

    cents, books = trained
    pid = os.getpid()
    t = materialize_ivfpq(
        spark, ivf_assign(corpus, cents), cents, books, f"pqchunk_{pid}"
    )
    try:
        qs = corpus.filter("c_id < 20").select(
            F.col("c_id").alias("q_id"), "vec"
        )
        mono = ivfpq_search(
            spark, qs, t, cents, books, k=5, n_probe=4, query_chunk=0
        )
        chunked = ivfpq_search(
            spark, qs, t, cents, books, k=5, n_probe=4, query_chunk=3
        )
        assert mono.exceptAll(chunked).count() == 0
        assert chunked.exceptAll(mono).count() == 0

        mono_rr = ivfpq_search(
            spark, qs, t, cents, books, k=5, n_probe=4,
            rerank=3, rerank_corpus=corpus, query_chunk=0,
        )
        chunked_rr = ivfpq_search(
            spark, qs, t, cents, books, k=5, n_probe=4,
            rerank=3, rerank_corpus=corpus, query_chunk=3,
        )
        assert mono_rr.exceptAll(chunked_rr).count() == 0
        assert chunked_rr.exceptAll(mono_rr).count() == 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_full_vector_ivf_stamp_lifecycle(spark, corpus, trained):
    """The quantizer lifecycle extended to the FULL-VECTOR index
    (r10): materialize_ivf(centroids=...) stamps the table (stamp +
    centroid meta inside the directory); ivf_search_indexed/append_ivf
    then verify their centroid argument and raise StaleQuantizerError
    on mismatch — the same silently-wrong-neighbors hazard as PQ.
    Unstamped indexes (no centroids argument) keep the pre-r10
    unverified behavior, pinned here."""
    from smallquery_spark.errors import StaleQuantizerError
    from smallquery_spark.operators.pq import load_index_meta
    from smallquery_spark.operators.similarity import (
        append_ivf,
        ivf_assign,
        ivf_build_centroids,
        ivf_search_indexed,
        materialize_ivf,
    )

    cents, _ = trained
    other = ivf_build_centroids(corpus, n_cells=4)
    pid = os.getpid()
    qs = corpus.filter("c_id < 5").select(F.col("c_id").alias("q_id"), "vec")

    t = materialize_ivf(
        spark, ivf_assign(corpus, cents), f"fvstamp_{pid}", centroids=cents
    )
    try:
        # right centroids: serves; meta loadable by any session
        assert ivf_search_indexed(
            spark, qs, t, cents, k=3, n_probe=4
        ).count() > 0
        cl, bl = load_index_meta(spark, t)
        assert cl == cents and bl is None
        # wrong centroids: refuses instead of answering wrong
        with pytest.raises(StaleQuantizerError):
            ivf_search_indexed(spark, qs, t, other, k=3, n_probe=2)
        with pytest.raises(StaleQuantizerError):
            append_ivf(spark, t, corpus.limit(3), other)
        # right centroids still append fine
        extra = corpus.limit(3).select(
            (F.col("c_id") + 1000).alias("c_id"), "vec"
        )
        append_ivf(spark, t, extra, cents)
        assert spark.table(t).count() == 303
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t}")

    # unstamped legacy index: unverified (wrong centroids answer —
    # the documented pre-r10 contract for centroid-less materialize)
    t2 = materialize_ivf(spark, ivf_assign(corpus, cents), f"fvleg_{pid}")
    try:
        assert ivf_search_indexed(
            spark, qs, t2, other, k=3, n_probe=2
        ).count() > 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t2}")


def test_meta_gen_of_tolerates_corrupt_meta_new(spark, corpus, trained):
    """A save that crashed MID-WRITE of ``_meta_new`` leaves a directory
    with no complete parquet footer. Recovery must treat it exactly like
    'no aside copy' — restore ``_meta_old`` — rather than surface an
    unrelated schema-inference AnalysisException without attempting the
    documented rollback (ADVICE r10)."""
    from smallquery_spark.fsio import fs_for, join_uri, table_location
    from smallquery_spark.operators.pq import (
        META_DIR,
        load_index_meta,
        materialize_ivfpq,
    )
    from smallquery_spark.operators.similarity import ivf_assign

    cents, books = trained
    pid = os.getpid()
    t = materialize_ivfpq(
        spark, ivf_assign(corpus, cents), cents, books, f"pqcorrupt_{pid}"
    )
    try:
        loc = table_location(spark, t)
        fs = fs_for(spark, loc)
        meta = join_uri(loc, META_DIR)
        # construct the crash state: live meta renamed aside, and a
        # HALF-WRITTEN _meta_new (one truncated non-parquet file)
        fs.rename(meta, meta + "_old")
        fs.mkdirs(meta + "_new")
        fs.write_text(
            join_uri(meta + "_new", "part-00000.parquet"), "not parquet"
        )
        cl, bl = load_index_meta(spark, t)  # rollback, not AnalysisException
        assert cl == cents and (bl.books == books.books).all()
        assert fs.exists(meta)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_retrain_tolerates_probe_completed_swap(
    spark, corpus, trained, monkeypatch
):
    """A probe's _recover_index_swap landing INSIDE retrain's sub-second
    swap window (after rename(loc, old), before rename(staged, loc))
    itself completes the swap. Retrain must treat 'staged missing but
    the live dir carries my token' as COMMITTED — finish cleanup + the
    partition sync and return — instead of raising mid-protocol and
    leaking the old tree + stale catalog partitions (ADVICE r10)."""
    from smallquery_spark.fsio import HadoopFS, fs_for, table_location
    from smallquery_spark.operators.pq import (
        _recover_index_swap,
        ivfpq_search,
        load_index_meta,
        materialize_ivfpq,
        retrain_ivfpq,
    )
    from smallquery_spark.operators.similarity import ivf_assign

    cents, books = trained
    pid = os.getpid()
    t = materialize_ivfpq(
        spark, ivf_assign(corpus, cents), cents, books, f"pqrace_{pid}"
    )
    loc = table_location(spark, t)
    orig_rename = HadoopFS.rename
    state = {"fired": False}

    def probe_wins_race(self, src, dst):
        orig_rename(self, src, dst)
        if dst.rstrip("/").endswith(".retrain_old") and not state["fired"]:
            # the concurrent probe recovers the swap inside the window
            state["fired"] = True
            monkeypatch.setattr(HadoopFS, "rename", orig_rename)
            assert _recover_index_swap(spark, t) is True

    monkeypatch.setattr(HadoopFS, "rename", probe_wins_race)
    try:
        cents2, books2 = retrain_ivfpq(spark, t, corpus, n_cells=4, m=4)
        assert state["fired"]  # the race actually happened
        fs = fs_for(spark, loc)
        # retrain finished its protocol: no leaked trees, catalog synced
        assert not fs.exists(loc.rstrip("/") + ".retrain_old")
        assert not fs.exists(loc.rstrip("/") + ".retrain_tmp")
        assert spark.table(t).count() == 300
        cl, bl = load_index_meta(spark, t)
        assert cl == cents2 and (bl.books == books2.books).all()
        qs = corpus.filter("c_id < 3").select(
            F.col("c_id").alias("q_id"), "vec"
        )
        assert ivfpq_search(spark, qs, t, cents2, books2, k=3, n_probe=2).count() > 0
    finally:
        monkeypatch.setattr(HadoopFS, "rename", orig_rename)
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_drop_index_sweeps_retrain_scratch(spark, corpus, trained):
    """drop_index removes the ``.retrain_tmp``/``.retrain_old`` sibling
    trees a crashed staging parked beside the table location — a plain
    DROP TABLE orphans them forever because recovery is keyed to the
    live table (ADVICE r10). Dropping an absent table is a no-op."""
    from smallquery_spark.fsio import fs_for, table_location
    from smallquery_spark.operators.pq import drop_index, materialize_ivfpq
    from smallquery_spark.operators.similarity import ivf_assign

    cents, books = trained
    pid = os.getpid()
    t = materialize_ivfpq(
        spark, ivf_assign(corpus, cents), cents, books, f"pqdrop_{pid}"
    )
    loc = table_location(spark, t)
    fs = fs_for(spark, loc)
    # park fake crashed-staging scratch beside the table
    fs.mkdirs(loc.rstrip("/") + ".retrain_tmp")
    fs.mkdirs(loc.rstrip("/") + ".retrain_old")
    drop_index(spark, t)
    assert not fs.exists(loc)
    assert not fs.exists(loc.rstrip("/") + ".retrain_tmp")
    assert not fs.exists(loc.rstrip("/") + ".retrain_old")
    assert not spark.catalog.tableExists(t)
    drop_index(spark, t)  # absent table: converges, no raise


def test_search_post_scan_verify_raises_on_mid_batch_retrain(
    spark, corpus, trained, monkeypatch
):
    """The stamp check brackets every materializing scan: when the
    stamp CHANGES between the pre-verify and the post-scan re-read (a
    retrain committing mid-batch), the rerank path raises
    StaleQuantizerError instead of returning neighbors scored with the
    old LUTs (the check-then-scan TOCTOU of ADVICE r10, closed for
    materializing paths)."""
    from smallquery_spark.errors import StaleQuantizerError
    from smallquery_spark.fsio import HadoopFS, join_uri, table_location
    from smallquery_spark.operators.pq import (
        GEN_FILE,
        ivfpq_search,
        materialize_ivfpq,
    )
    from smallquery_spark.operators.similarity import ivf_assign

    cents, books = trained
    pid = os.getpid()
    t = materialize_ivfpq(
        spark, ivf_assign(corpus, cents), cents, books, f"pqtoctou_{pid}"
    )
    loc = table_location(spark, t)
    gen_uri = join_uri(loc, GEN_FILE)
    orig_read = HadoopFS.read_text
    orig_write = HadoopFS.write_text
    state = {"reads": 0}

    def tamper_after_first_read(self, uri):
        out = orig_read(self, uri)
        if uri == gen_uri:
            state["reads"] += 1
            if state["reads"] == 1:
                # a retrain commits right after the pre-verify passes
                orig_write(self, gen_uri, "f" * 32)
        return out

    monkeypatch.setattr(HadoopFS, "read_text", tamper_after_first_read)
    try:
        qs = corpus.filter("c_id < 3").select(
            F.col("c_id").alias("q_id"), "vec"
        )
        with pytest.raises(StaleQuantizerError):
            ivfpq_search(
                spark, qs, t, cents, books,
                k=3, n_probe=2, rerank=2, rerank_corpus=corpus,
            )
        assert state["reads"] >= 2  # pre-verify AND post-scan re-read ran
    finally:
        monkeypatch.setattr(HadoopFS, "read_text", orig_read)
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_compact_ivf_cells_on_pq_table(spark, corpus, trained):
    """compact_ivf_cells on the PQ CODE table (every prior compaction
    test ran the full-vector ``ivfx_`` layout only — VERDICT r10 #5):
    appends fragment the cell directories, compaction (a) drops the
    data-file count, (b) never touches the table-root ``_quantizer_gen``
    stamp or ``_meta`` sidecar — the per-cell swaps operate strictly
    below them, which is the structural fact that makes compaction and
    the quantizer lifecycle composable — and (c) a post-compact probe
    still stamp-verifies and answers exactly like the pre-compact
    one."""
    from smallquery_spark.fsio import fs_for, join_uri, table_location
    from smallquery_spark.operators.pq import (
        GEN_FILE,
        META_DIR,
        append_ivfpq,
        drop_index,
        ivfpq_search,
        materialize_ivfpq,
    )
    from smallquery_spark.operators.similarity import (
        compact_ivf_cells,
        ivf_assign,
    )

    cents, books = trained
    pid = os.getpid()
    base = corpus.filter("c_id % 3 = 0")
    t = materialize_ivfpq(
        spark, ivf_assign(base, cents), cents, books, f"pqcomp_{pid}"
    )
    try:
        # fragment: two appends -> up to 3 files per touched cell
        append_ivfpq(spark, t, corpus.filter("c_id % 3 = 1"), cents, books)
        append_ivfpq(spark, t, corpus.filter("c_id % 3 = 2"), cents, books)
        loc = table_location(spark, t)
        fs = fs_for(spark, loc)
        stamp_before = fs.read_text(join_uri(loc, GEN_FILE))
        meta_files_before = sorted(
            p for p, _s in fs.list_files_recursive(join_uri(loc, META_DIR))
        )
        files_before, _ = fs.parquet_stats(loc)

        qs = corpus.filter("c_id < 6").select(
            F.col("c_id").alias("q_id"), "vec"
        )
        before = ivfpq_search(
            spark, qs, t, cents, books, k=5, n_probe=4
        ).localCheckpoint(eager=True)

        n_compacted = compact_ivf_cells(spark, t)
        assert n_compacted > 0

        files_after, _ = fs.parquet_stats(loc)
        assert files_after < files_before
        # stamp + meta live at the table root, above the cell= swaps
        assert fs.read_text(join_uri(loc, GEN_FILE)) == stamp_before
        assert (
            sorted(
                p
                for p, _s in fs.list_files_recursive(join_uri(loc, META_DIR))
            )
            == meta_files_before
        )

        after = ivfpq_search(spark, qs, t, cents, books, k=5, n_probe=4)
        assert before.exceptAll(after).count() == 0
        assert after.exceptAll(before).count() == 0
    finally:
        drop_index(spark, t)


def test_append_epoch_replay_safe(spark, corpus, trained, monkeypatch):
    """append_ivfpq_epoch: the exactly-once epoch append (r11). A
    replayed epoch — clean, or after an injected crash at every
    interesting point (mid-staging, between per-cell moves) — must
    leave the index holding EXACTLY the rows a rebuild over the union
    holds: deterministic per-cell file names are the idempotency
    mechanism, so re-renames skip committed cells and complete the
    rest. A full replay of a committed epoch is a no-op (returns
    False)."""
    from smallquery_spark.fsio import HadoopFS, fs_for, table_location
    from smallquery_spark.operators.pq import (
        append_ivfpq_epoch,
        drop_index,
        ivfpq_search,
        materialize_ivfpq,
    )
    from smallquery_spark.operators.similarity import ivf_assign

    cents, books = trained
    pid = os.getpid()
    base = corpus.filter("c_id % 3 = 0")
    e1 = corpus.filter("c_id % 3 = 1")
    e2 = corpus.filter("c_id % 3 = 2")
    t = materialize_ivfpq(
        spark, ivf_assign(base, cents), cents, books, f"pqepoch_{pid}"
    )
    t_rb = materialize_ivfpq(
        spark, ivf_assign(corpus, cents), cents, books, f"pqepoch_rb_{pid}"
    )
    orig_rename = HadoopFS.rename

    def table_rows(name):
        return spark.table(name).select(
            "c_id", "cell", F.col("code").cast("string").alias("code")
        )

    try:
        # epoch 1: crash after the FIRST per-cell move, then replay
        state = {"moves": 0}

        def die_after_first_move(self, src, dst):
            orig_rename(self, src, dst)
            if "/part-epoch-" in dst:
                state["moves"] += 1
                if state["moves"] == 1:
                    raise RuntimeError("injected crash between cell moves")

        monkeypatch.setattr(HadoopFS, "rename", die_after_first_move)
        with pytest.raises(RuntimeError, match="injected"):
            append_ivfpq_epoch(spark, t, e1, cents, books, epoch_id=1)
        monkeypatch.setattr(HadoopFS, "rename", orig_rename)
        assert append_ivfpq_epoch(spark, t, e1, cents, books, epoch_id=1)
        # committed-epoch replay: pure no-op
        assert not append_ivfpq_epoch(spark, t, e1, cents, books, epoch_id=1)

        # epoch 2: crash BEFORE the first move (staging complete, zero
        # cells committed — the Spark committer's own staging renames
        # run inside the JVM, so the fsio hook can only see the moves),
        # then replay
        state2 = {"fired": False}

        def die_before_first_move(self, src, dst):
            if "/part-epoch-0000000002" in dst and not state2["fired"]:
                state2["fired"] = True
                raise RuntimeError("injected crash before first move")
            orig_rename(self, src, dst)

        monkeypatch.setattr(HadoopFS, "rename", die_before_first_move)
        with pytest.raises(RuntimeError, match="injected"):
            append_ivfpq_epoch(spark, t, e2, cents, books, epoch_id=2)
        monkeypatch.setattr(HadoopFS, "rename", orig_rename)
        assert state2["fired"]
        assert append_ivfpq_epoch(spark, t, e2, cents, books, epoch_id=2)

        # value gate: exactly the rebuild's rows — no duplicates, no
        # gaps, through crashes and replays
        a, b = table_rows(t), table_rows(t_rb)
        assert a.exceptAll(b).count() == 0
        assert b.exceptAll(a).count() == 0
        # no staging remnants inside the table directory
        loc = table_location(spark, t)
        assert not [
            n
            for n in fs_for(spark, loc).list_names(loc)
            if n.startswith("_append_epoch_")
        ]
        # probes serve the appended index
        qs = corpus.filter("c_id < 5").select(
            F.col("c_id").alias("q_id"), "vec"
        )
        r1 = ivfpq_search(spark, qs, t, cents, books, k=5, n_probe=4)
        r2 = ivfpq_search(spark, qs, t_rb, cents, books, k=5, n_probe=4)
        assert r1.exceptAll(r2).count() == 0
        assert r2.exceptAll(r1).count() == 0

        # NEW-cell epoch: an index built WITHOUT one cell's rows; an
        # epoch landing in that cell must create the partition
        # directory and register it with the catalog (the only case
        # that pays the MSCK — appends into existing cells are
        # directory-visible with a refresh)
        assigned = ivf_assign(corpus, cents)
        cell0 = assigned.select("cell").distinct().orderBy("cell").first()[0]
        t2 = materialize_ivfpq(
            spark,
            assigned.filter(F.col("cell") != cell0),
            cents, books, f"pqepochnc_{pid}",
        )
        try:
            newrows = corpus.join(
                assigned.filter(F.col("cell") == cell0).select("c_id"),
                "c_id", "left_semi",
            )
            assert append_ivfpq_epoch(
                spark, t2, newrows, cents, books, epoch_id=1
            )
            assert spark.table(t2).count() == 300
            assert (
                spark.table(t2).filter(F.col("cell") == cell0).count()
                == newrows.count()
            )
        finally:
            drop_index(spark, t2)
    finally:
        monkeypatch.setattr(HadoopFS, "rename", orig_rename)
        drop_index(spark, t)
        drop_index(spark, t_rb)


def test_epoch_marker_protocol(spark, corpus, trained, monkeypatch):
    """r12: durable epoch-commit markers (_epochs/epoch-<id>).

    (a) a COMMITTED epoch replayed after compaction merged its
        part-epoch files away is still a no-op — the ADVICE r11 medium
        scenario (crash -> compact while stream down -> replay) would
        have double-inserted under the r11 name-keyed protocol;
    (b) compaction SKIPS cells holding an UNMARKED (in-flight) epoch's
        files, and GCs markers no remaining file references (keeping
        the newest);
    (c) a replay carrying DIFFERENT content than the committed attempt
        raises DivergentReplayError — the r11 docstring assumption
        turned invariant (full-commit and crash-before-marker forms);
    (d) a crash between the last rename and the MSCK is healed by the
        replay: the sync decision comes from the catalog, so the new
        cell gets registered on the no-op replay (VERDICT r11 #1)."""
    from smallquery_spark.errors import DivergentReplayError
    from smallquery_spark.fsio import HadoopFS, fs_for, join_uri, table_location
    from smallquery_spark.operators import pq as pqmod
    from smallquery_spark.operators.pq import (
        append_ivfpq_epoch,
        drop_index,
        materialize_ivfpq,
    )
    from smallquery_spark.operators.similarity import (
        compact_ivf_cells,
        ivf_assign,
    )

    cents, books = trained
    pid = os.getpid()
    base = corpus.filter("c_id % 4 = 0")
    e1 = corpus.filter("c_id % 4 = 1")
    e2 = corpus.filter("c_id % 4 = 2")
    t = materialize_ivfpq(
        spark, ivf_assign(base, cents), cents, books, f"pqmark_{pid}"
    )
    t_rb = materialize_ivfpq(
        spark,
        ivf_assign(base.unionByName(e1).unionByName(e2), cents),
        cents, books, f"pqmark_rb_{pid}",
    )
    loc = table_location(spark, t)
    fs = fs_for(spark, loc)
    orig_rename = HadoopFS.rename
    orig_write = HadoopFS.write_text

    def table_rows(name):
        return spark.table(name).select(
            "c_id", "cell", F.col("code").cast("string").alias("code")
        )

    try:
        # --- (a) commit epoch 1, compact its files away, replay ---
        assert append_ivfpq_epoch(spark, t, e1, cents, books, epoch_id=1)
        assert fs.exists(join_uri(loc, "_epochs", "epoch-0000000001"))
        assert compact_ivf_cells(spark, t) > 0  # merges part-epoch-1 files
        # the deterministic names are GONE — only the marker prevents a
        # double-insert now
        assert not [
            p for p, _s in fs.list_files_recursive(loc)
            if "part-epoch-0000000001" in p
        ]
        n_before = spark.table(t).count()
        assert append_ivfpq_epoch(spark, t, e1, cents, books, epoch_id=1) == {}
        assert spark.table(t).count() == n_before

        # --- (b)+(c) epoch 2: crash BEFORE the marker write (all cell
        # moves committed), compaction must skip its cells, a divergent
        # replay must raise, the faithful replay completes ---
        def die_on_marker(self, uri, text):
            if "/_epochs/epoch-0000000002" in uri:
                raise RuntimeError("injected crash before marker write")
            orig_write(self, uri, text)

        monkeypatch.setattr(HadoopFS, "write_text", die_on_marker)
        with pytest.raises(RuntimeError, match="injected"):
            append_ivfpq_epoch(spark, t, e2, cents, books, epoch_id=2)
        monkeypatch.setattr(HadoopFS, "write_text", orig_write)
        # unmarked epoch-2 files exist: compaction must not touch those
        # cells (their fragmented state persists)
        files_with_e2 = {
            p for p, _s in fs.list_files_recursive(loc)
            if "part-epoch-0000000002" in p
        }
        assert files_with_e2
        compact_ivf_cells(spark, t)
        assert files_with_e2 == {
            p for p, _s in fs.list_files_recursive(loc)
            if "part-epoch-0000000002" in p
        }
        # divergent replay: same epoch_id, different batch -> raises
        with pytest.raises(DivergentReplayError):
            append_ivfpq_epoch(
                spark, t, e2.filter("c_id != 2"), cents, books, epoch_id=2
            )
        # faithful replay: completes (here: all moves already landed ->
        # no-op delta), writes the marker, rows == rebuild
        assert append_ivfpq_epoch(spark, t, e2, cents, books, epoch_id=2) == {}
        assert fs.exists(join_uri(loc, "_epochs", "epoch-0000000002"))
        a, b = table_rows(t), table_rows(t_rb)
        assert a.exceptAll(b).count() == 0
        assert b.exceptAll(a).count() == 0
        # divergent replay of the now-COMMITTED epoch also raises
        with pytest.raises(DivergentReplayError):
            append_ivfpq_epoch(
                spark, t, e2.filter("c_id != 2"), cents, books, epoch_id=2
            )

        # TORN marker (crash mid-marker-write): parseability is the
        # commit criterion — compaction must treat the epoch as
        # in-flight (skip its cells), and the replay re-verifies and
        # REWRITES the marker instead of bricking on the parse
        marker2 = join_uri(loc, "_epochs", "epoch-0000000002")
        fs.write_text(marker2, '{"epoch": 2, "cells": {"0": [1')
        files_e2 = {
            p for p, _s in fs.list_files_recursive(loc)
            if "part-epoch-0000000002" in p
        }
        compact_ivf_cells(spark, t)
        assert files_e2 == {
            p for p, _s in fs.list_files_recursive(loc)
            if "part-epoch-0000000002" in p
        }
        assert append_ivfpq_epoch(spark, t, e2, cents, books, epoch_id=2) == {}
        import json as _json

        assert _json.loads(fs.read_text(marker2))["epoch"] == 2
        assert spark.table(t).count() == n_before + e2.count()

        # marker GC: compact epoch-2's files away; newest marker stays,
        # unreferenced older ones go
        assert compact_ivf_cells(spark, t) > 0
        names = set(fs.list_names(join_uri(loc, "_epochs")))
        assert "epoch-0000000002" in names
        assert "epoch-0000000001" not in names

        # --- (d) new-cell epoch with a crash between the last rename
        # and the MSCK: the replay's catalog-decided sync heals it ---
        assigned = ivf_assign(corpus, cents)
        cell0 = assigned.select("cell").distinct().orderBy("cell").first()[0]
        t2 = materialize_ivfpq(
            spark,
            assigned.filter(F.col("cell") != cell0),
            cents, books, f"pqmarknc_{pid}",
        )
        try:
            newrows = corpus.join(
                assigned.filter(F.col("cell") == cell0).select("c_id"),
                "c_id", "left_semi",
            )
            orig_sync = pqmod._sync_partitions

            def die_on_sync(sp, tbl):
                raise RuntimeError("injected crash before MSCK")

            monkeypatch.setattr(pqmod, "_sync_partitions", die_on_sync)
            with pytest.raises(RuntimeError, match="injected"):
                append_ivfpq_epoch(
                    spark, t2, newrows, cents, books, epoch_id=7
                )
            monkeypatch.setattr(pqmod, "_sync_partitions", orig_sync)
            # every rename landed, but the catalog does not know cell0:
            # spark.table consumers miss the new partition
            spark.catalog.refreshTable(t2)
            assert spark.table(t2).count() < 300
            # the replay moves nothing — and still runs the sync
            assert (
                append_ivfpq_epoch(spark, t2, newrows, cents, books, epoch_id=7)
                == {}
            )
            assert spark.table(t2).count() == 300
        finally:
            monkeypatch.setattr(pqmod, "_sync_partitions", orig_sync)
            drop_index(spark, t2)
    finally:
        monkeypatch.setattr(HadoopFS, "rename", orig_rename)
        monkeypatch.setattr(HadoopFS, "write_text", orig_write)
        drop_index(spark, t)
        drop_index(spark, t_rb)


def test_maintenance_lease(spark, corpus, trained, monkeypatch):
    """r12: the single-writer maintenance assumption is ENFORCED
    (fsio.dir_lease). A held lease makes retrain / compaction / epoch
    appends raise IndexBusyError; releasing it (or a stale owner — a
    dead same-host pid) unblocks; release with a foreign token is a
    no-op (a TTL takeover must not have its live lease deleted by the
    evicted owner's exit path); losing the create race to a LIVE
    writer raises."""
    import json
    import subprocess

    from smallquery_spark.errors import IndexBusyError
    from smallquery_spark.fsio import (
        HadoopFS,
        acquire_dir_lease,
        fs_for,
        lease_path,
        release_dir_lease,
        table_location,
    )
    from smallquery_spark.operators.pq import (
        append_ivfpq_epoch,
        drop_index,
        materialize_ivfpq,
        retrain_ivfpq,
    )
    from smallquery_spark.operators.similarity import (
        compact_ivf_cells,
        ivf_assign,
    )

    cents, books = trained
    pid = os.getpid()
    base = corpus.filter("c_id % 2 = 0")
    t = materialize_ivfpq(
        spark, ivf_assign(base, cents), cents, books, f"pqlease_{pid}"
    )
    loc = table_location(spark, t)
    fs = fs_for(spark, loc)
    e1 = corpus.filter("c_id % 2 = 1")
    try:
        # held by a LIVE writer (our own pid): every maintenance op
        # refuses instead of interleaving
        token = acquire_dir_lease(fs, loc, "other_writer")
        with pytest.raises(IndexBusyError):
            append_ivfpq_epoch(spark, t, e1, cents, books, epoch_id=1)
        with pytest.raises(IndexBusyError):
            compact_ivf_cells(spark, t)
        with pytest.raises(IndexBusyError):
            retrain_ivfpq(spark, t, base)
        # release with the WRONG token: the lease must survive
        release_dir_lease(fs, loc, "not-the-token")
        assert fs.exists(lease_path(loc))
        release_dir_lease(fs, loc, token)
        assert not fs.exists(lease_path(loc))

        # released: ops proceed (and release their own lease on exit,
        # including the exception path — the epoch append below runs
        # after a prior failed acquisition)
        assert append_ivfpq_epoch(spark, t, e1, cents, books, epoch_id=1)
        assert not fs.exists(lease_path(loc))

        # stale lease: a dead same-host pid is taken over
        child = subprocess.Popen(["/bin/true"])
        child.wait()
        fs.write_text(
            lease_path(loc),
            json.dumps(
                {"pid": child.pid, "host": __import__("socket").gethostname(),
                 "op": "crashed_writer", "token": "dead", "acquired_at": 0}
            ),
        )
        assert (
            append_ivfpq_epoch(spark, t, e1, cents, books, epoch_id=1) == {}
        )  # acquired via takeover; committed-epoch replay is a no-op

        # losing the create race to a live writer: first create fails
        # and the lease found on re-read is LIVE -> IndexBusyError
        orig_create = HadoopFS.create_text_exclusive
        live_body = json.dumps(
            {"pid": os.getpid(), "host": __import__("socket").gethostname(),
             "op": "racer", "token": "zz", "acquired_at": 0}
        )
        state = {"n": 0}

        def lose_race_once(self, uri, text):
            if uri == lease_path(loc) and state["n"] == 0:
                state["n"] = 1
                orig_create(self, uri, live_body)  # the racer wins
                return False
            return orig_create(self, uri, text)

        monkeypatch.setattr(HadoopFS, "create_text_exclusive", lose_race_once)
        with pytest.raises(IndexBusyError):
            acquire_dir_lease(fs, loc, "loser")
        monkeypatch.setattr(HadoopFS, "create_text_exclusive", orig_create)
        fs.delete(lease_path(loc))
    finally:
        drop_index(spark, t)


def test_lease_ttl_renewal_and_fencing(spark, corpus, trained, monkeypatch):
    """r13 (VERDICT r12 #3 + ADVICE r12 low): TTL takeover is now safe
    to enable because holders RENEW (fence re-touches mtime) and FENCE
    (commit renames re-verify the token, LeaseLostError on loss).

    Pins: (a) a cross-host lease older than the TTL is taken over —
    deterministic via mtime backdating, no sleeps; (b) a renewal
    (touch) un-stales it; (c) acquire takes the TTL from the
    SMALLQUERY_LEASE_STALE_AFTER_S env knob; (d) the eviction drill:
    a TTL takeover lands mid-retrain (after staging, before the swap)
    and the victim's commit is REFUSED — the index keeps its old
    stamp, rows and probes; the next retrain (the 'new owner')
    converges over the victim's leftovers."""
    import json
    import socket
    import time

    import smallquery_spark.operators.pq as pqmod
    from smallquery_spark.errors import LeaseLostError
    from smallquery_spark.fsio import (
        _lease_stale,
        acquire_dir_lease,
        fs_for,
        lease_path,
        release_dir_lease,
        table_location,
    )
    from smallquery_spark.operators.pq import (
        drop_index,
        index_gen,
        materialize_ivfpq,
        retrain_ivfpq,
    )
    from smallquery_spark.operators.similarity import ivf_assign

    cents, books = trained
    pid = os.getpid()
    base = corpus.filter("c_id % 2 = 0")
    t = materialize_ivfpq(
        spark, ivf_assign(base, cents), cents, books, f"pqfence_{pid}"
    )
    loc = table_location(spark, t)
    fs = fs_for(spark, loc)
    lp = lease_path(loc)
    foreign = json.dumps(
        {"pid": 1, "host": "some-other-host", "op": "remote_writer",
         "token": "remote", "acquired_at": 0}
    )
    try:
        # (a)+(b): cross-host lease — never stale without a TTL; stale
        # once older than the TTL; renewal (touch) un-stales it
        fs.write_text(lp, foreign)
        fs.touch(lp, time.time() - 100)
        assert not _lease_stale(fs, lp, None)  # no TTL: wedged forever
        assert _lease_stale(fs, lp, 50.0)      # TTL: stale
        assert fs.touch(lp)                    # the holder renews
        assert not _lease_stale(fs, lp, 50.0)  # renewed: live again

        # (c): the env knob is the TTL
        fs.write_text(lp, foreign)
        fs.touch(lp, time.time() - 100)
        monkeypatch.setenv("SMALLQUERY_LEASE_STALE_AFTER_S", "50")
        tok = acquire_dir_lease(fs, loc, "env_taker")
        release_dir_lease(fs, loc, tok)
        monkeypatch.delenv("SMALLQUERY_LEASE_STALE_AFTER_S")

        # (d): eviction mid-retrain — a takeover lands after the victim
        # staged (the long phase) and before its swap; the fence refuses
        # the commit and the index is untouched
        gen0 = index_gen(spark, t)
        n0 = spark.table(t).count()
        orig_meta = pqmod._write_meta_fresh
        usurper = json.dumps(
            {"pid": 1, "host": socket.gethostname(), "op": "usurper",
             "token": "stolen", "acquired_at": time.time()}
        )

        def steal_after_staging(spark_, loc_, rows_):
            orig_meta(spark_, loc_, rows_)
            fs.delete(lp)
            fs.write_text(lp, usurper)

        monkeypatch.setattr(pqmod, "_write_meta_fresh", steal_after_staging)
        with pytest.raises(LeaseLostError, match="directory swap"):
            retrain_ivfpq(spark, t, base)
        monkeypatch.setattr(pqmod, "_write_meta_fresh", orig_meta)
        # victim's exit path must NOT delete the usurper's live lease
        assert json.loads(fs.read_text(lp))["token"] == "stolen"
        assert index_gen(spark, t) == gen0
        assert spark.table(t).count() == n0
        # the 'new owner' (usurper done, lease gone) converges over the
        # victim's leftover staged tree
        fs.delete(lp)
        cents2, books2 = retrain_ivfpq(spark, t, base)
        assert index_gen(spark, t) != gen0
        assert spark.table(t).count() == n0
    finally:
        fs.delete(lp)
        drop_index(spark, t)


def test_retrain_epoch_ledger_interplay(spark, corpus, trained, monkeypatch):
    """r12: retrain x epoch-ingest. An UNMARKED (in-flight) epoch's
    files make retrain REFUSE (whether the pending replay should
    re-apply depends on the caller's corpus — unknowable); after the
    replay commits, retrain proceeds and CARRIES the epoch ledger, so
    a replayed committed epoch stays a no-op across the quantizer
    swap instead of double-inserting."""
    from smallquery_spark.errors import IndexBusyError
    from smallquery_spark.fsio import HadoopFS, fs_for, join_uri, table_location
    from smallquery_spark.operators.pq import (
        append_ivfpq_epoch,
        drop_index,
        index_gen,
        load_index_meta,
        materialize_ivfpq,
        retrain_ivfpq,
    )
    from smallquery_spark.operators.similarity import ivf_assign

    cents, books = trained
    pid = os.getpid()
    base = corpus.filter("c_id % 3 = 0")
    e1 = corpus.filter("c_id % 3 = 1")
    t = materialize_ivfpq(
        spark, ivf_assign(base, cents), cents, books, f"pqrtl_{pid}"
    )
    orig_rename = HadoopFS.rename
    try:
        # crash epoch 1 after its first cell move -> unmarked files
        state = {"moves": 0}

        def die_after_first_move(self, src, dst):
            orig_rename(self, src, dst)
            if "/part-epoch-" in dst:
                state["moves"] += 1
                if state["moves"] == 1:
                    raise RuntimeError("injected crash between cell moves")

        monkeypatch.setattr(HadoopFS, "rename", die_after_first_move)
        with pytest.raises(RuntimeError, match="injected"):
            append_ivfpq_epoch(spark, t, e1, cents, books, epoch_id=1)
        monkeypatch.setattr(HadoopFS, "rename", orig_rename)

        with pytest.raises(IndexBusyError, match="uncommitted ingest epoch"):
            retrain_ivfpq(spark, t, base.unionByName(e1))

        # replay commits the epoch; retrain now proceeds and keeps the
        # ledger: the epoch replayed across the swap is still a no-op
        assert append_ivfpq_epoch(spark, t, e1, cents, books, epoch_id=1)
        corpus_now = base.unionByName(e1)
        new_c, new_b = retrain_ivfpq(spark, t, corpus_now)
        assert index_gen(spark, t) is not None
        loc = table_location(spark, t)
        fs = fs_for(spark, loc)
        assert fs.exists(join_uri(loc, "_epochs", "epoch-0000000001"))
        n = spark.table(t).count()
        cl, bl = load_index_meta(spark, t)
        assert append_ivfpq_epoch(spark, t, e1, cl, bl, epoch_id=1) == {}
        assert spark.table(t).count() == n
    finally:
        monkeypatch.setattr(HadoopFS, "rename", orig_rename)
        drop_index(spark, t)


def test_ingest_histogram_routing_and_staleness(spark, corpus, trained):
    """r12: IngestHistogram — the drift trigger's fold-vs-scan routing
    as a measured default, stamped against the quantizer generation.

    - decision AND stats identical on both sides of the crossover
      (fold path forced with crossover=0, scan path with crossover=inf,
      both equal the direct index scan);
    - a retrain landing mid-process re-seeds instead of evaluating the
      dead generation's counts (ADVICE r11);
    - delta folds stay exact through a crash/replay: a fresh histogram
      (the restart case) seeded between the crash and the replay folds
      only the replay's remaining cells — counts equal the scan."""
    from smallquery_spark.operators.pq import (
        append_ivfpq_epoch,
        drop_index,
        load_index_meta,
        materialize_ivfpq,
        retrain_ivfpq,
    )
    from smallquery_spark.operators.similarity import (
        IngestHistogram,
        ivf_assign,
        ivf_retrain_trigger,
    )

    cents, books = trained
    pid = os.getpid()
    base = corpus.filter("c_id % 3 = 0")
    e1 = corpus.filter("c_id % 3 = 1")
    e2 = corpus.filter("c_id % 3 = 2")
    t = materialize_ivfpq(
        spark, ivf_assign(base, cents), cents, books, f"pqhist_{pid}"
    )
    try:
        fold_h = IngestHistogram(spark, t, n_cells=8, crossover=0.0)
        scan_h = IngestHistogram(spark, t, n_cells=8, crossover=1e18)
        delta = append_ivfpq_epoch(spark, t, e1, cents, books, epoch_id=1)
        assert delta and sum(delta.values()) == e1.count()
        fold_h.fold(delta)
        scan_h.fold(delta)
        f_fired, f_stats = fold_h.trigger(baseline_imbalance=2.0)
        s_fired, s_stats = scan_h.trigger(baseline_imbalance=2.0)
        d_fired, d_stats = ivf_retrain_trigger(
            spark, t, baseline_imbalance=2.0, n_cells=8
        )
        assert f_stats.pop("source") == "fold"
        assert s_stats.pop("source") == "scan"
        assert f_fired == s_fired == d_fired
        assert f_stats == s_stats == d_stats

        # retrain lands: the stamped histogram re-seeds (counts match a
        # fresh scan of the NEW index) instead of using dead counts
        retrain_ivfpq(spark, t, base.unionByName(e1))
        _, r_stats = fold_h.trigger(baseline_imbalance=2.0)
        _, fresh = ivf_retrain_trigger(
            spark, t, baseline_imbalance=2.0, n_cells=8
        )
        r_stats.pop("source")
        assert r_stats == fresh

        # crash/replay exactness, restart shape: epoch 2 crashes after
        # its first cell move; a NEW histogram (fresh process) seeds —
        # its scan already covers the moved cell — and the replay's
        # delta covers exactly the remaining ones
        import pytest as _pytest

        from smallquery_spark.fsio import HadoopFS

        cl, bl = load_index_meta(spark, t)
        orig_rename = HadoopFS.rename
        state = {"moves": 0}

        def die_after_first_move(self, src, dst):
            orig_rename(self, src, dst)
            if "/part-epoch-" in dst:
                state["moves"] += 1
                if state["moves"] == 1:
                    raise RuntimeError("injected crash between cell moves")

        HadoopFS.rename = die_after_first_move
        try:
            with _pytest.raises(RuntimeError, match="injected"):
                append_ivfpq_epoch(spark, t, e2, cl, bl, epoch_id=2)
        finally:
            HadoopFS.rename = orig_rename
        restart_h = IngestHistogram(spark, t, n_cells=8, crossover=0.0)
        replay_delta = append_ivfpq_epoch(spark, t, e2, cl, bl, epoch_id=2)
        assert replay_delta  # completed the remaining cells only
        assert sum(replay_delta.values()) < e2.count()
        restart_h.fold(replay_delta)
        _, h_stats = restart_h.trigger(baseline_imbalance=2.0)
        _, s2 = ivf_retrain_trigger(
            spark, t, baseline_imbalance=2.0, n_cells=8
        )
        assert h_stats.pop("source") == "fold"
        assert h_stats == s2
    finally:
        drop_index(spark, t)


def test_rerank_corpus_bucket_pruned(spark, corpus, trained):
    """materialize_rerank_corpus: the measured rerank layout rule as a
    default — an id IN-filter point fetch against the bucketed corpus
    is BUCKET-PRUNED in the plan (SelectedBucketsCount < n_buckets),
    and ivfpq_search over it returns exactly what the unbucketed
    rerank returns."""
    from smallquery_spark.operators.pq import (
        drop_index,
        ivfpq_search,
        materialize_ivfpq,
        materialize_rerank_corpus,
    )
    from smallquery_spark.operators.similarity import ivf_assign

    cents, books = trained
    pid = os.getpid()
    t = materialize_ivfpq(
        spark, ivf_assign(corpus, cents), cents, books, f"pqrrk_{pid}"
    )
    bt = None
    auto_key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    auto_before = spark.conf.get(auto_key)
    try:
        bt = materialize_rerank_corpus(
            spark, corpus, f"pqrrk_corpus_{pid}", point_fetch=5
        )
        # the helper flips autoBucketedScan off: without it the planner
        # silently reads the table unbucketed and prunes nothing
        assert spark.conf.get(auto_key) == "false"
        plan = (
            spark.table(bt)
            .filter(F.col("c_id").isin([3, 17, 42]))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "SelectedBucketsCount" in plan
        import re as _re

        m = _re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
        assert m and int(m.group(1)) < int(m.group(2))

        qs = corpus.filter("c_id < 4").select(
            F.col("c_id").alias("q_id"), "vec"
        )
        a = ivfpq_search(
            spark, qs, t, cents, books, k=5, n_probe=4,
            rerank_corpus=spark.table(bt),
        )
        b = ivfpq_search(
            spark, qs, t, cents, books, k=5, n_probe=4,
            rerank_corpus=corpus,
        )
        assert a.exceptAll(b).count() == 0
        assert b.exceptAll(a).count() == 0
    finally:
        spark.conf.set(auto_key, auto_before)
        drop_index(spark, t)
        if bt is not None:
            spark.sql(f"DROP TABLE IF EXISTS {bt}")


def test_compaction_orphan_audit_and_dir_lease(spark, corpus, trained, tmp_path):
    """r12 follow-through on two residuals:

    (a) the DISJOINT-cell divergent replay — the one shape the epoch
        append's per-cell fingerprint check cannot see (no overlapping
        committed cell to compare) — is caught by compact_ivf_cells'
        orphan audit: a part-epoch file of a MARKED epoch sitting in a
        cell its marker does not list raises DivergentReplayError
        BEFORE any merge destroys the file-name evidence;
    (b) compact_parquet_dir (the C12 small-file compactor) now carries
        the same maintenance lease as the index protocols — a held
        lease raises IndexBusyError; released, it compacts."""
    from smallquery_spark.errors import DivergentReplayError, IndexBusyError
    from smallquery_spark.fsio import (
        acquire_dir_lease,
        fs_for,
        join_uri,
        release_dir_lease,
        table_location,
    )
    from smallquery_spark.operators.compaction import compact_parquet_dir
    from smallquery_spark.operators.pq import (
        append_ivfpq_epoch,
        drop_index,
        materialize_ivfpq,
    )
    from smallquery_spark.operators.similarity import (
        compact_ivf_cells,
        ivf_assign,
    )

    cents, books = trained
    pid = os.getpid()
    base = corpus.filter("c_id % 2 = 0")
    t = materialize_ivfpq(
        spark, ivf_assign(base, cents), cents, books, f"pqorph_{pid}"
    )
    try:
        # an epoch that touches FEW cells (3 rows), committed
        e_small = corpus.filter("c_id IN (1, 3, 5)")
        assert append_ivfpq_epoch(spark, t, e_small, cents, books, epoch_id=1)
        loc = table_location(spark, t)
        fs = fs_for(spark, loc)
        import json as _json

        marker = _json.loads(
            fs.read_text(join_uri(loc, "_epochs", "epoch-0000000001"))
        )
        touched = {int(c) for c in marker["cells"]}
        all_cells = {
            int(n.split("=", 1)[1])
            for n in fs.list_names(loc)
            if n.startswith("cell=")
        }
        orphan_cell = sorted(all_cells - touched)[0]
        # plant the orphan: a part-epoch-1 file in a cell the marker
        # does not list (what a disjoint-cell divergent replay leaves)
        orphan = join_uri(
            loc, f"cell={orphan_cell}", "part-epoch-0000000001.parquet"
        )
        fs.write_text(orphan, "orphan")  # the audit keys on the NAME
        with pytest.raises(DivergentReplayError, match="orphan"):
            compact_ivf_cells(spark, t)
        fs.delete(orphan)
        compact_ivf_cells(spark, t)  # clean again

        # (b) the C12 small-file compactor under the lease
        d = "file://" + str(tmp_path / "c12dir")
        spark.range(200).repartition(10).write.parquet(d)
        dfs = fs_for(spark, d)
        tok = acquire_dir_lease(dfs, d, "other_writer")
        with pytest.raises(IndexBusyError):
            compact_parquet_dir(spark, d, min_files=2)
        release_dir_lease(dfs, d, tok)
        before, after = compact_parquet_dir(spark, d, min_files=2)
        assert before == 10 and after < before
    finally:
        drop_index(spark, t)


def test_delete_ivfpq(spark, corpus, trained, monkeypatch):
    """delete_ivfpq (r12): hard deletion from the at-rest index.

    Value: post-delete table and probes EQUAL a rebuild over the corpus
    minus the ids; idempotent retry returns {}. Protocol: a fully
    deleted cell's partition disappears; a crash between the per-cell
    renames is healed by the NEXT maintenance entry (compact_ivf_cells
    shares the aside rules — cross-entry recovery); a touched cell
    holding an UNMARKED (in-flight) epoch's file refuses
    (IndexBusyError); a COMMITTED epoch replayed after some of its rows
    were deleted stays a no-op (marker fingerprints describe the
    delivered batch, not table state) and the deletion sticks; an
    IngestHistogram folded with the NEGATED returned counts matches the
    scan exactly."""
    from smallquery_spark.errors import IndexBusyError
    from smallquery_spark.fsio import HadoopFS, fs_for, join_uri, table_location
    from smallquery_spark.operators.pq import (
        append_ivfpq_epoch,
        delete_ivfpq,
        drop_index,
        ivfpq_search,
        materialize_ivfpq,
    )
    from smallquery_spark.operators.similarity import (
        IngestHistogram,
        compact_ivf_cells,
        ivf_assign,
        ivf_retrain_trigger,
    )

    cents, books = trained
    pid = os.getpid()
    t = materialize_ivfpq(
        spark, ivf_assign(corpus, cents), cents, books, f"pqdel_{pid}"
    )
    t_rb = None
    orig_rename = HadoopFS.rename
    try:
        loc = table_location(spark, t)
        fs = fs_for(spark, loc)
        victims = [2, 7, 11, 40, 41, 99]
        hist = IngestHistogram(spark, t, n_cells=8, crossover=0.0)
        deleted = delete_ivfpq(spark, t, victims)
        assert sum(deleted.values()) == len(victims)
        # idempotent: those ids are gone, retry is a no-op
        assert delete_ivfpq(spark, t, victims) == {}
        # histogram: negated fold == fresh scan
        hist.fold({c: -n for c, n in deleted.items()})
        _, h_stats = hist.trigger(baseline_imbalance=2.0)
        _, s_stats = ivf_retrain_trigger(
            spark, t, baseline_imbalance=2.0, n_cells=8
        )
        h_stats.pop("source")
        assert h_stats == s_stats

        # value: table and probes equal a rebuild over corpus minus ids
        kept = corpus.filter(~F.col("c_id").isin(victims))
        t_rb = materialize_ivfpq(
            spark, ivf_assign(kept, cents), cents, books, f"pqdel_rb_{pid}"
        )
        a = spark.table(t).select(
            "c_id", "cell", F.col("code").cast("string").alias("code")
        )
        b = spark.table(t_rb).select(
            "c_id", "cell", F.col("code").cast("string").alias("code")
        )
        assert a.exceptAll(b).count() == 0
        assert b.exceptAll(a).count() == 0
        qs = corpus.filter("c_id < 5").select(
            F.col("c_id").alias("q_id"), "vec"
        )
        r1 = ivfpq_search(spark, qs, t, cents, books, k=5, n_probe=8)
        r2 = ivfpq_search(spark, qs, t_rb, cents, books, k=5, n_probe=8)
        assert r1.exceptAll(r2).count() == 0
        assert r2.exceptAll(r1).count() == 0

        # full-cell deletion: wipe one whole cell; its partition is gone
        assigned = ivf_assign(corpus, cents)
        cell0 = int(
            spark.table(t).select("cell").distinct().orderBy("cell").first()[0]
        )
        cell0_ids = [
            r["c_id"]
            for r in spark.table(t).filter(F.col("cell") == cell0).collect()
        ]
        d = delete_ivfpq(spark, t, cell0_ids)
        assert d == {cell0: len(cell0_ids)}
        assert not fs.exists(join_uri(loc, f"cell={cell0}"))
        assert spark.table(t).filter(F.col("cell") == cell0).count() == 0

        # crash mid-swap: die after the rename-aside, before the staged
        # rename-in — compact_ivf_cells (the OTHER maintenance entry)
        # restores the cell, then the retried delete converges
        state = {"aside": 0}

        def die_after_aside(self, src, dst):
            orig_rename(self, src, dst)
            if "/ivfpqx_pqdel" in dst and ".delete_old/cell=" in dst:
                state["aside"] += 1
                raise RuntimeError("injected crash mid delete swap")

        monkeypatch.setattr(HadoopFS, "rename", die_after_aside)
        with pytest.raises(RuntimeError, match="injected"):
            delete_ivfpq(spark, t, [4, 10])
        monkeypatch.setattr(HadoopFS, "rename", orig_rename)
        assert state["aside"] == 1
        compact_ivf_cells(spark, t)  # cross-entry recovery restores the cell
        n_before = spark.table(t).count()
        d2 = delete_ivfpq(spark, t, [4, 10])
        assert sum(d2.values()) == 2
        assert spark.table(t).count() == n_before - 2

        # epoch interplay: (a) an UNMARKED in-flight epoch's file in a
        # touched cell refuses; (b) a COMMITTED epoch replayed after a
        # deletion of its rows stays a no-op and the deletion sticks
        e1 = corpus.filter("c_id IN (20, 23, 26, 29)").withColumn(
            "c_id", F.col("c_id") + 10000
        )
        state2 = {"moves": 0}

        def die_after_first_move(self, src, dst):
            orig_rename(self, src, dst)
            if "/part-epoch-" in dst:
                state2["moves"] += 1
                if state2["moves"] == 1:
                    raise RuntimeError("injected crash between cell moves")

        monkeypatch.setattr(HadoopFS, "rename", die_after_first_move)
        with pytest.raises(RuntimeError, match="injected"):
            append_ivfpq_epoch(spark, t, e1, cents, books, epoch_id=5)
        monkeypatch.setattr(HadoopFS, "rename", orig_rename)
        # the crashed epoch's committed cell is in-flight: deleting any
        # id in that cell refuses
        import re as _re

        flight_cell = next(
            int(_re.search(r"/cell=(\d+)/", p).group(1))
            for p, _sz in fs.list_files_recursive(loc)
            if "part-epoch-0000000005" in p
        )
        flight_id = spark.table(t).filter(
            F.col("cell") == flight_cell
        ).first()["c_id"]
        with pytest.raises(IndexBusyError, match="uncommitted ingest epoch"):
            delete_ivfpq(spark, t, [flight_id])
        # replay commits the epoch; now delete two of ITS rows, then
        # replay again: marker short-circuit, deletion sticks
        assert append_ivfpq_epoch(spark, t, e1, cents, books, epoch_id=5)
        assert sum(delete_ivfpq(spark, t, [10020, 10026]).values()) == 2
        assert append_ivfpq_epoch(spark, t, e1, cents, books, epoch_id=5) == {}
        present = {
            r["c_id"]
            for r in spark.table(t)
            .filter(F.col("c_id").isin([10020, 10023, 10026, 10029]))
            .collect()
        }
        assert present == {10023, 10029}
    finally:
        monkeypatch.setattr(HadoopFS, "rename", orig_rename)
        drop_index(spark, t)
        if t_rb is not None:
            drop_index(spark, t_rb)


def test_compact_audit_sees_unregistered_cells(spark, corpus, trained):
    """ADVICE r12 low: compaction's orphan audit (and fragmentation
    scan) keyed off spark.table(...).inputFiles(), which only covers
    catalog-REGISTERED partitions — an orphan part-epoch file planted
    in a cell directory the catalog never saw (crash before MSCK in an
    older-protocol append, an external writer) was invisible. The scan
    now derives from fs.list_files_recursive (the filesystem truth the
    rest of the protocol uses): the same orphan in an unregistered cell
    directory must raise DivergentReplayError."""
    from smallquery_spark.errors import DivergentReplayError
    from smallquery_spark.fsio import fs_for, join_uri, table_location
    from smallquery_spark.operators.pq import (
        append_ivfpq_epoch,
        drop_index,
        materialize_ivfpq,
    )
    from smallquery_spark.operators.similarity import (
        compact_ivf_cells,
        ivf_assign,
    )

    cents, books = trained
    pid = os.getpid()
    t = materialize_ivfpq(
        spark,
        ivf_assign(corpus.filter("c_id % 2 = 0"), cents),
        cents,
        books,
        f"pqorph2_{pid}",
    )
    try:
        assert append_ivfpq_epoch(
            spark, t, corpus.filter("c_id IN (1, 3)"), cents, books, epoch_id=1
        )
        loc = table_location(spark, t)
        fs = fs_for(spark, loc)
        registered = {
            int(r[0].split("=", 1)[1])
            for r in spark.sql(f"SHOW PARTITIONS {t}").collect()
        }
        ghost = max(registered) + 100  # a cell the catalog cannot know
        orphan = join_uri(
            loc, f"cell={ghost}", "part-epoch-0000000001.parquet"
        )
        fs.write_text(orphan, "orphan in unregistered cell")
        with pytest.raises(DivergentReplayError, match="orphan"):
            compact_ivf_cells(spark, t)
        fs.delete(join_uri(loc, f"cell={ghost}"))
        compact_ivf_cells(spark, t)  # clean again
    finally:
        drop_index(spark, t)


def test_delete_recovers_before_scan(spark, corpus, trained, monkeypatch):
    """ADVICE r12 high: a delete that crashed between rename(live->aside)
    and rename(staging->live) hides cell X in the aside tree. The r12
    form ran its recovery AFTER the victim scan (and after the early
    'not victims' return), so a RETRY whose remaining victims all lived
    in X returned {} ('ids not present') without recovering — and a
    later compaction resurrected X with the victims inside: silent loss
    of a PII/takedown deletion. Recovery now runs at the head, before
    the scan; the retry must see X's rows and delete them. Also pins
    the cross-protocol half: delete's head-recovery heals a crashed
    COMPACTION's aside (.compact_old), not just its own."""
    from smallquery_spark.fsio import HadoopFS, fs_for, join_uri, table_location
    from smallquery_spark.operators.pq import (
        delete_ivfpq,
        drop_index,
        materialize_ivfpq,
    )
    from smallquery_spark.operators.similarity import ivf_assign

    cents, books = trained
    pid = os.getpid()
    t = materialize_ivfpq(
        spark, ivf_assign(corpus, cents), cents, books, f"pqdelrec_{pid}"
    )
    orig_rename = HadoopFS.rename
    try:
        loc = table_location(spark, t)
        fs = fs_for(spark, loc)
        n0 = spark.table(t).count()
        # victims all in ONE cell (but not the whole cell)
        cell0 = int(
            spark.table(t).select("cell").distinct().orderBy("cell").first()[0]
        )
        cell0_ids = sorted(
            r["c_id"]
            for r in spark.table(t).filter(F.col("cell") == cell0).collect()
        )
        assert len(cell0_ids) >= 2
        victims = cell0_ids[:-1]

        def die_after_aside(self, src, dst):
            orig_rename(self, src, dst)
            if ".delete_old/cell=" in dst:
                raise RuntimeError("injected crash mid delete swap")

        monkeypatch.setattr(HadoopFS, "rename", die_after_aside)
        with pytest.raises(RuntimeError, match="injected"):
            delete_ivfpq(spark, t, victims)
        monkeypatch.setattr(HadoopFS, "rename", orig_rename)
        # cell0 is now hidden: live dir missing, aside holds it
        assert not fs.exists(join_uri(loc, f"cell={cell0}"))
        # the RETRY must recover first, then actually delete (the r12
        # form returned {} here and the victims later resurrected)
        d = delete_ivfpq(spark, t, victims)
        assert sum(d.values()) == len(victims)
        assert spark.table(t).count() == n0 - len(victims)
        assert (
            spark.table(t).filter(F.col("c_id").isin(victims)).count() == 0
        )
        # cross-protocol: a crashed COMPACTION's aside is healed by
        # delete's head recovery too (compaction cannot be relied on to
        # run first — it only heals when someone schedules it)
        survivor = cell0_ids[-1]
        fs.mkdirs(loc.rstrip("/") + ".compact_old")
        fs.rename(
            join_uri(loc, f"cell={cell0}"),
            join_uri(loc.rstrip("/") + ".compact_old", f"cell={cell0}"),
        )
        d2 = delete_ivfpq(spark, t, [survivor])
        assert sum(d2.values()) == 1
        assert spark.table(t).filter(F.col("c_id") == survivor).count() == 0
    finally:
        monkeypatch.setattr(HadoopFS, "rename", orig_rename)
        drop_index(spark, t)


def test_delete_swap_guard_raises_on_concurrent_append(
    spark, corpus, trained, monkeypatch
):
    """ADVICE r12 medium: a lease-free append landing in a touched cell
    between the survivors snapshot and that cell's rename-aside would be
    swept into the aside tree and deleted — lost committed rows. The
    swap guard re-lists each cell immediately before its rename
    (compaction's _cell_swap_safe) and delete RAISES IndexBusyError
    (compaction may skip; deletion must not silently leave victims).
    Injected for real: a file is planted in the victim cell after the
    snapshot (hooked at the pre-swap mkdirs), the delete aborts with no
    rename, and the retry after the 'appender' settles converges."""
    from smallquery_spark.errors import IndexBusyError
    from smallquery_spark.fsio import HadoopFS, fs_for, join_uri, table_location
    from smallquery_spark.operators.pq import (
        delete_ivfpq,
        drop_index,
        materialize_ivfpq,
    )
    from smallquery_spark.operators.similarity import ivf_assign

    cents, books = trained
    pid = os.getpid()
    t = materialize_ivfpq(
        spark, ivf_assign(corpus, cents), cents, books, f"pqdelgrd_{pid}"
    )
    orig_mkdirs = HadoopFS.mkdirs
    try:
        loc = table_location(spark, t)
        fs = fs_for(spark, loc)
        victim = int(spark.table(t).orderBy("c_id").first()["c_id"])
        vcell = int(
            spark.table(t).filter(F.col("c_id") == victim).first()["cell"]
        )
        planted = join_uri(loc, f"cell={vcell}", "part-concurrent.parquet")

        def plant_on_aside_mkdirs(self, uri):
            orig_mkdirs(self, uri)
            if uri.endswith(".delete_old"):
                # simulate the lease-free appender: lands after the
                # snapshot, before the swap loop's first rename
                self.write_text(planted, "concurrent append")

        monkeypatch.setattr(HadoopFS, "mkdirs", plant_on_aside_mkdirs)
        with pytest.raises(IndexBusyError, match="changed between"):
            delete_ivfpq(spark, t, [victim])
        monkeypatch.setattr(HadoopFS, "mkdirs", orig_mkdirs)
        # nothing was renamed: the victim row AND the planted file are
        # both still live
        assert fs.exists(planted)
        assert spark.table(t).filter(F.col("c_id") == victim).count() == 1
        fs.delete(planted)  # the 'appender' settles (test cleanup)
        assert sum(delete_ivfpq(spark, t, [victim]).values()) == 1
    finally:
        monkeypatch.setattr(HadoopFS, "mkdirs", orig_mkdirs)
        drop_index(spark, t)


def test_delete_broadcast_size_gate(spark, corpus, trained, monkeypatch):
    """VERDICT r12 #2: delete_ivfpq's id-set joins carry the broadcast
    hint only under the size gate. Above it (bulk takedown — the
    broadcast-OOM shape) NO hint is attached and, with the auto
    threshold off, the semi-join plans without a BroadcastHashJoin
    build side; below it the hint forces broadcast even with the auto
    threshold off. Values are identical on both paths."""
    import smallquery_spark.operators.pq as pqmod
    import smallquery_spark.operators.takedown as takedown
    from smallquery_spark.operators.pq import (
        _index_scan,
        delete_ivfpq,
        drop_index,
        materialize_ivfpq,
    )
    from smallquery_spark.operators.similarity import ivf_assign

    cents, books = trained
    pid = os.getpid()
    t = materialize_ivfpq(
        spark, ivf_assign(corpus, cents), cents, books, f"pqdelbc_{pid}"
    )
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        ids_df = spark.range(3).select((F.col("id") * 7 + 2).alias("c_id"))
        # plan shape: unhinted semi-join (the above-gate form) has no
        # broadcast build side once the auto threshold is off; the
        # hinted form broadcasts regardless of the threshold
        scan = _index_scan(spark, t)
        plain = scan.join(
            ids_df, "c_id", "left_semi"
        )._jdf.queryExecution().executedPlan().toString()
        hinted = scan.join(
            F.broadcast(ids_df), "c_id", "left_semi"
        )._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plain
        assert "BroadcastHashJoin" in hinted

        # operator wiring: above the gate the hint is never attached
        calls = []
        orig_broadcast = pqmod.F.broadcast

        def spy(df):
            calls.append(1)
            return orig_broadcast(df)

        monkeypatch.setattr(pqmod.F, "broadcast", spy)
        gate = takedown.BROADCAST_IDS_MAX
        monkeypatch.setattr(takedown, "BROADCAST_IDS_MAX", 0)
        d_large = delete_ivfpq(spark, t, ids_df)
        assert not calls, "large id-set delete must not broadcast-hint"
        assert sum(d_large.values()) == 3
        monkeypatch.setattr(takedown, "BROADCAST_IDS_MAX", gate)
        # below the gate (and for driver lists) the hint is attached
        ids2 = spark.range(2).select((F.col("id") * 11 + 30).alias("c_id"))
        d_small = delete_ivfpq(spark, t, ids2)
        assert calls and sum(d_small.values()) == 2
    finally:
        monkeypatch.setattr(pqmod.F, "broadcast", orig_broadcast)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        drop_index(spark, t)


def test_fsck_index(spark, corpus, trained):
    """fsck_index (r13, VERDICT r12 #6): the read-only after-incident
    audit. Clean on a healthy index (including with a LIVE lease and a
    compacted-away ledger-only marker); every injected corruption class is
    detected and named — orphan epoch file, tampered cell content vs
    its marker fingerprint, in-flight epoch, leftover aside tree, stale
    lease, missing stamp, unregistered cell — and the audit itself
    never moves a byte (recursive listing identical before/after a
    dirty-state run)."""
    import json as _json

    from smallquery_spark.fsio import (
        acquire_dir_lease,
        fs_for,
        join_uri,
        lease_path,
        release_dir_lease,
        table_location,
    )
    from smallquery_spark.operators.pq import (
        GEN_FILE,
        append_ivfpq_epoch,
        drop_index,
        fsck_index,
        materialize_ivfpq,
    )
    from smallquery_spark.operators.similarity import ivf_assign

    cents, books = trained
    pid = os.getpid()
    t = materialize_ivfpq(
        spark,
        ivf_assign(corpus.filter("c_id % 2 = 0"), cents),
        cents,
        books,
        f"pqfsck_{pid}",
    )
    try:
        loc = table_location(spark, t)
        fs = fs_for(spark, loc)
        assert append_ivfpq_epoch(
            spark, t, corpus.filter("c_id IN (1, 3, 5)"), cents, books, 1
        )
        base = fsck_index(spark, t)
        assert base["clean"], base
        assert not base["unverifiable_epochs"]

        # a LIVE lease is normal concurrency, not a finding
        tok = acquire_dir_lease(fs, loc, "concurrent_writer")
        r = fsck_index(spark, t)
        assert r["clean"] and r["stale_lease"] is None
        release_dir_lease(fs, loc, tok)

        # stale lease (dead pid) IS a finding
        import subprocess

        child = subprocess.Popen(["/bin/true"])
        child.wait()
        fs.write_text(
            lease_path(loc),
            _json.dumps(
                {"pid": child.pid, "host": __import__("socket").gethostname(),
                 "op": "crashed", "token": "x", "acquired_at": 0}
            ),
        )
        r = fsck_index(spark, t)
        assert not r["clean"] and r["stale_lease"] is not None
        fs.delete(lease_path(loc))

        # orphan: marked epoch's file in a cell its marker doesn't list
        marker = _json.loads(
            fs.read_text(join_uri(loc, "_epochs", "epoch-0000000001"))
        )
        all_cells = {
            int(n.split("=", 1)[1])
            for n in fs.list_names(loc)
            if n.startswith("cell=")
        }
        ghost = sorted(all_cells - {int(c) for c in marker["cells"]})[0]
        orphan = join_uri(loc, f"cell={ghost}", "part-epoch-0000000001.parquet")
        fs.write_text(orphan, "orphan")
        # read-only under a dirty state: listing unchanged by the audit
        snap = sorted(fs.list_files_recursive(loc))
        r = fsck_index(spark, t)
        assert sorted(fs.list_files_recursive(loc)) == snap
        assert not r["clean"] and r["orphan_epoch_files"] == [orphan]
        fs.delete(orphan)

        # in-flight: an epoch file with no marker
        flight = join_uri(
            loc, f"cell={ghost}", "part-epoch-0000000099.parquet"
        )
        fs.write_text(flight, "inflight")
        r = fsck_index(spark, t)
        assert not r["clean"] and r["inflight_epochs"] == [99]
        fs.delete(flight)

        # tamper: replace a marked cell's epoch file with different rows
        victim_cell = sorted(int(c) for c in marker["cells"])[0]
        epath = join_uri(
            loc, f"cell={victim_cell}", "part-epoch-0000000001.parquet"
        )
        aside = epath + ".orig"
        fs.rename(epath, aside)
        (
            spark.read.parquet(aside)
            .limit(0)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(epath + ".tmpdir")
        )
        tampered = next(
            n
            for n in fs.list_names(epath + ".tmpdir")
            if n.endswith(".parquet")
        )
        fs.rename(join_uri(epath + ".tmpdir", tampered), epath)
        fs.delete(epath + ".tmpdir")
        r = fsck_index(spark, t)
        assert not r["clean"] and r["fingerprint_mismatches"]
        assert r["fingerprint_mismatches"][0]["epoch"] == 1
        fs.delete(epath)
        fs.rename(aside, epath)
        spark.catalog.refreshTable(t)

        # leftover aside tree
        fs.mkdirs(loc.rstrip("/") + ".delete_old")
        r = fsck_index(spark, t)
        assert not r["clean"] and r["leftover_trees"]
        fs.delete(loc.rstrip("/") + ".delete_old")

        # unregistered cell dir
        stray = join_uri(loc, "cell=999", "part-stray.parquet")
        fs.write_text(stray, "stray")
        r = fsck_index(spark, t)
        assert not r["clean"] and r["unregistered_cells"] == [999]
        fs.delete(join_uri(loc, "cell=999"))

        # missing stamp
        fs.rename(join_uri(loc, GEN_FILE), join_uri(loc, GEN_FILE + ".x"))
        r = fsck_index(spark, t)
        assert not r["clean"] and not r["stamp_present"]
        fs.rename(join_uri(loc, GEN_FILE + ".x"), join_uri(loc, GEN_FILE))

        assert fsck_index(spark, t)["clean"]
    finally:
        drop_index(spark, t)


def test_qerr_trigger_zero_baseline_fires():
    """pq_qerr_trigger over a numerically-zero baseline (r12): a
    memorized build corpus measures gap ~±1e-10 with an accumulation-
    order-dependent SIGN; the r11 form returned False for baseline<=0 —
    the better the build fit, the blinder the trigger (found when a new
    query's reordering flipped the sign at gate scale and the drift
    control silently stopped firing). A materially positive batch gap
    must fire over a ~zero baseline of EITHER sign; float noise over
    float noise stays quiet; real positive baselines behave as before."""
    from smallquery_spark.operators.pq import pq_qerr_trigger

    assert pq_qerr_trigger(0.14, -1.2e-10)
    assert pq_qerr_trigger(0.14, 0.0)
    assert pq_qerr_trigger(0.14, 1.2e-10)
    assert not pq_qerr_trigger(1e-10, -1e-10)  # noise over noise
    assert not pq_qerr_trigger(0.14, 0.08)     # real baseline, <2x
    assert pq_qerr_trigger(0.17, 0.08)         # real baseline, >2x
