"""Bucketed at-rest signature index for streaming near-dup ingest.

`operators.dedup.neardup_ingest_step` reads the accumulated signature
index as plain parquet and band-joins it against each micro-batch. That
is correct, but the plan shuffles BOTH join sides — and the index side
grows with corpus lifetime, so per-epoch cost creeps from epoch-bounded
to index-bounded (measured: +40 s per ~580k index rows at 5M docs,
C2_STREAM_CURVE_5M.json; flat at 1M where the index shuffle is noise).
At 100 TB continuous ingest that is a scale-killer: the engine would
re-shuffle the whole corpus's signatures every micro-batch, forever.

This module stores the index the way the join wants to read it, so the
at-rest side NEVER shuffles again after it is written:

- ``<name>_bands``: the EXPLODED band keys, one narrow row per
  (band, key) per accepted doc — ``(__bk, o_id, o_sz)`` with the
  32-hex md5 band key cut to a 60-bit bigint — written
  ``bucketBy(n, __bk)`` + ``sortBy(__bk)``. The index join is on
  ``__bk`` ALONE (bucket column == join keys, which is what lets the
  planner keep the bucketed scan; joining on (band, key) made it fall
  back to "Bucketed: false (disabled by query planner)" + a full
  Exchange). Dropping the band id from the key admits cross-band and
  60-bit-truncation collisions — both only ADD candidate pairs, which
  the hash-Jaccard re-check removes; results are value-identical.
  Each epoch's band join then plans with ZERO Exchange on this side:
  only the epoch's own keys shuffle, sized by the epoch.
- ``<name>_hashes``: one row per accepted doc, ``(o_id, o_h)`` —
  the 60-bit shingle hash set needed by the exactness re-check —
  bucketed by ``o_id``. Candidate pairs (near-dup-density-sized, tiny)
  shuffle TO it; the store itself never moves. Keeping the hash arrays
  out of the band table also keeps the per-epoch scan narrow: the old
  layout dragged every doc's hash array through the explode (x bands)
  and the exchange.

Epoch appends go through ``bucketBy(...).mode("append").saveAsTable``
(one file per bucket per epoch — ``write_bucketed``'s pre-repartition).
Exactly-once sits with the CALLER's epoch-commit protocol (the
``_SUCCESS``-marked epoch dirs of streaming/runner.py); a
crash between a table append and the marker can replay an append, which
is harmless here: duplicate index rows only duplicate candidate pairs,
and the pair pipeline dedups on (n_id, o_id) before checking.

Scale posture: per-epoch work = scan(index, 4 narrow columns, zero
shuffle) + shuffle(epoch keys) + candidate-sized hash fetch. The scan
is linear in corpus size but IO-bounded and column-pruned — orders of
magnitude cheaper than the exchange it replaces; on a cluster it reads
bucket-local.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from smallquery_spark.operators.bucketing import write_bucketed


def _bk60(col) -> "F.Column":
    """32-hex md5 band key -> 60-bit bigint (15 hex chars), exact in
    int64. Truncation collisions across ~10^8 index rows are ~1e-3
    birthday mass and only ever ADD candidate pairs."""
    return F.conv(F.substring(col, 1, 15), 16, 10).cast("bigint")


def _is_hash_build_failure(exc: BaseException) -> bool:
    """True when an epoch failed because Spark could not BUILD the
    non-spillable shuffle-hash relation — the one failure mode the
    shuffle_hash strategy has and sort-merge does not (observed
    verbatim: "There is not enough memory to build the hash map" /
    "Can't acquire ... bytes to build hash relation" at 38M
    false-positive candidate pairs in an 8g heap, SCALE.md round 7).
    Matched on the message because the JVM raises it as a generic
    SparkOutOfMemoryError wrapped in Py4JJavaError — the hash-relation
    wording is what distinguishes it from a genuine heap exhaustion
    that retrying with a different join would not fix."""
    msg = str(exc)
    return (
        "build hash relation" in msg
        or "build the hash map" in msg
        or "build hash map" in msg
        or ("HashedRelation" in msg and "memory" in msg.lower())
    )


class NearDupIndex:
    """At-rest near-dup signature index backed by two bucketed tables.

    One instance per ingest run; ``name`` must be unique per run (the
    caller's scratch-dir token works — table names land in the per-pid
    warehouse and are cleaned with it).

    Why this (and not the ANN index) is the TEXT near-dup default —
    measured head-to-head in the same incoming-batch-vs-index shape
    (PQ_DEDUP_gen100.json, r10): recall ties IVF-PQ ADC candidates
    (0.9987 vs 0.9976, zero false drops on either), and the banded
    bucket join's batch cost is bounded by COLLIDING buckets — 11.4 s
    vs 438 s for the ANN probe, which must ADC-score n_probe/n_cells
    (~6%) of the corpus per query. The PQ index's win is at-rest
    bytes (24.8x smaller than these signature tables) — take it when
    the similarity signal IS the embedding (no shingle set exists) or
    when cold-store index footprint dominates; see operators/pq.py.
    """

    def __init__(
        self,
        spark: SparkSession,
        name: str,
        n_buckets: int = 16,
        id_col: str = "doc_id",
        join_strategy: str = "auto",
    ) -> None:
        """``join_strategy`` picks how epoch keys meet the index:

        - ``"auto"`` (default): plan with shuffle_hash; if the epoch
          fails on the ONE failure mode that strategy has — the
          non-spillable hash-relation build running out of memory
          under a candidate explosion (see ``_is_hash_build_failure``)
          — retry the same epoch with merge, which spills. This
          encodes the round-7 measurement pair as a decision rule
          instead of a CLI flag: shuffle_hash's flat curve when the
          heap fits (drift 0.95, C2_STREAM_CURVE_5M_bucketed_r3.json),
          merge's completion of the FP-heavy run shuffle_hash died on
          (SCALE.md round 7). The retry is safe because ingest_epoch
          is a pure read (the caller appends AFTER it returns) —
          nothing was half-written when the first attempt failed.
        - ``"shuffle_hash"``: builds a hash map of the EPOCH keys per
          partition and STREAMS the index scan — no sort, no exchange
          on the index side; per-epoch cost is epoch+candidate
          bounded. This is the 100 TB shape (the build side is
          epoch/partitions, controllable); its cost is that Spark's
          hash build cannot spill — under a candidate explosion in an
          undersized heap it fails with "Can't acquire ... bytes to
          build hash relation" (observed: 38M FP candidate pairs at
          8g, SCALE.md round 7).
        - ``"merge"``: sort-merge — fully spill-robust, but re-SORTS
          the full index scan inside the join every epoch (Spark does
          not trust bucket sortBy order, and appends make buckets
          multi-file): an index-sized n·log n per epoch — kept flat in
          practice by the doubling-rule compaction (drift 1.07,
          C2_STREAM_CURVE_5M_merge_compact.json). Right when the
          corpus' similarity distribution makes candidates explode
          and the heap is fixed, or to skip auto's failed first
          attempt when that is known up front.
        """
        if join_strategy not in ("auto", "shuffle_hash", "merge"):
            raise ValueError(f"unknown join_strategy {join_strategy!r}")
        self.spark = spark
        self.id_col = id_col
        self.n_buckets = n_buckets
        self.join_strategy = join_strategy
        self.bands_table = f"ndx_{name}_bands"
        self.hashes_table = f"ndx_{name}_hashes"
        # bytes at the last compaction (0 = never): maybe_compact's
        # doubling rule. Per-run state is enough — a restarted run
        # compacts at its first doubling, which is safe (idempotent).
        self._compacted_bytes = 0

    # -- state ---------------------------------------------------------

    def _recover(self) -> None:
        """Repair the half-renamed state a crash inside compact() can
        leave: the live name absent but the renamed-aside original
        (``_old``) present. Restores the original and drops any
        leftover compaction temp so no committed rows are ever lost."""
        cat = self.spark.catalog
        for tname in (self.bands_table, self.hashes_table):
            if not cat.tableExists(tname) and cat.tableExists(f"{tname}_old"):
                self.spark.sql(f"ALTER TABLE {tname}_old RENAME TO {tname}")
            self.spark.sql(f"DROP TABLE IF EXISTS {tname}_c")

    @property
    def exists(self) -> bool:
        """Both index tables present (after crash recovery); raises on
        a half-present index — treating that as "absent" would make the
        next append mode='overwrite' for BOTH tables and silently
        discard the accumulated half (the failure the old
        bands-table-only check admitted)."""
        self._recover()
        has_bands = self.spark.catalog.tableExists(self.bands_table)
        has_hashes = self.spark.catalog.tableExists(self.hashes_table)
        if has_bands != has_hashes:
            raise RuntimeError(
                f"near-dup index {self.bands_table!r}/{self.hashes_table!r}"
                " is half-present (one table without the other) — refusing"
                " to guess: drop() and re-ingest, or restore the missing"
                " table"
            )
        return has_bands

    def doc_count(self) -> int:
        if not self.exists:
            return 0
        return self.spark.table(self.hashes_table).count()

    def drop(self) -> None:
        for tname in (self.bands_table, self.hashes_table):
            for suffix in ("", "_old", "_c"):
                self.spark.sql(f"DROP TABLE IF EXISTS {tname}{suffix}")

    def delete(self, ids) -> dict[str, int]:
        """HARD-delete documents from the signature index by id — the
        C2 leg of the family-wide takedown (VERDICT r12 #1). Removes
        the doc's 60-bit shingle-hash set from the hashes table AND
        every exploded band-key row from the bands table; both are
        content-derived (MinHash over the document's shingles), i.e.
        pseudonymized PII under the retention policy stated in
        operators/takedown.py — they go; re-ingest blocking is the
        caller's explicit C33-blocklist decision. Returns
        ``{"hashes": n, "bands": n}`` row counts deleted (idempotent:
        all-zero on retry).

        Both rewrites go through
        :func:`~smallquery_spark.operators.bucketing.delete_bucketed`
        (lease-guarded, fenced, per-bucket crash-safe, append-guarded).
        Cost asymmetry, stated: the hashes table is bucketed by
        ``o_id``, so a k-doc takedown rewrites ≤k of its buckets; the
        bands table is bucketed by BAND KEY (the layout the ingest
        join needs), so every populated bucket may hold victim rows
        and the rewrite is table-sized. A band-key-pruned variant was
        considered and REJECTED: finding a victim's band keys post-hoc
        requires scanning the table anyway (the keys derive from the
        deleted document's shingles, which are gone), and with the
        default b=8 bands over n=16 buckets the expected untouched
        fraction is (1-1/16)^(8k) — ~60% of buckets touched by ONE
        document, ~94% by three — so the write savings vanish for any
        real takedown batch while the protocol doubles. Batch your
        takedowns; the doubling-rule compaction keeps the rewrite
        input compact.

        POST-DELETE SEMANTICS: a re-sent copy of a deleted document is
        accepted again (its signatures are gone — that is the point),
        and near-duplicates of it that were dropped BEFORE the deletion
        stay dropped (accept/drop decisions already made are history,
        not index state). Pinned in tests/test_takedown.py."""
        self._recover()
        if not self.exists:
            return {"hashes": 0, "bands": 0}
        from smallquery_spark.operators.bucketing import delete_bucketed

        out = {
            "hashes": delete_bucketed(
                self.spark, self.hashes_table, ids, "o_id"
            ),
            "bands": delete_bucketed(
                self.spark, self.bands_table, ids, "o_id"
            ),
        }
        for tname in (self.bands_table, self.hashes_table):
            self.spark.catalog.refreshTable(tname)
        return out

    # -- write path ----------------------------------------------------

    def append(self, sig_df: DataFrame, guard_existing: bool = True) -> None:
        """Append accepted signature rows (`_banded_sig_df` schema:
        id, __keys, __hashes, __sz) to both bucketed tables.

        ``guard_existing`` (default) anti-joins the batch against the
        ids already in the hashes table first, so a doc id the index
        already holds is never appended twice. This is what makes
        AT-LEAST-ONCE upstream delivery safe: a re-sent id passes
        ingest_epoch's self-exclusion (it would otherwise match itself
        out — see that docstring) and would land duplicate index rows,
        inflating candidate volume forever. The guard is one
        epoch-sized shuffle TO the id-bucketed hashes table (store side
        zero-Exchange). Disable only when ids are guaranteed unique
        across a run AND the caller has its own replay protection (the
        epoch `_SUCCESS` markers of streaming/runner.py)."""
        idc = self.id_col
        if guard_existing and self.exists:
            # resolve through the BATCH's session (same staleness trap
            # as ingest_epoch: inside foreachBatch the outer session's
            # relation cache can miss a previous micro-batch's append,
            # and a stale listing here means missed existing ids →
            # exactly the duplicates the guard exists to stop)
            sig_df = sig_df.join(
                sig_df.sparkSession.table(self.hashes_table).select(
                    F.col("o_id").alias(idc)
                ),
                idc,
                "left_anti",
            )
        bands = (
            sig_df.select(
                F.col(idc).alias("o_id"),
                F.col("__sz").alias("o_sz"),
                F.explode("__keys").alias("__bkey"),
            )
            .select(_bk60(F.col("__bkey")).alias("__bk"), "o_id", "o_sz")
            .repartition(self.n_buckets, F.col("__bk"))
        )
        hashes = sig_df.select(
            F.col(idc).alias("o_id"), F.col("__hashes").alias("o_h")
        ).repartition(self.n_buckets, F.col("o_id"))
        mode = "append" if self.exists else "overwrite"
        (
            bands.write.mode(mode)
            .bucketBy(self.n_buckets, "__bk")
            .sortBy("__bk")
            .saveAsTable(self.bands_table)
        )
        (
            hashes.write.mode(mode)
            .bucketBy(self.n_buckets, "o_id")
            .sortBy("o_id")
            .saveAsTable(self.hashes_table)
        )
        # writes may come from a foreachBatch clone session; refresh the
        # owning session's relation cache so non-batch readers
        # (doc_count, post-run audits) see the appended files too
        for tname in (self.bands_table, self.hashes_table):
            self.spark.catalog.refreshTable(tname)

    # -- maintenance ---------------------------------------------------

    def _table_bytes(self, tname: str) -> int:
        # scheme-aware (fsio): the doubling-rule sizing must work when
        # the warehouse is HDFS/S3, not just a local directory
        from smallquery_spark.fsio import fs_for, table_location

        if not self.spark.catalog.tableExists(tname):
            return 0
        loc = table_location(self.spark, tname)
        return sum(
            size for _p, size in fs_for(self.spark, loc).list_files_recursive(loc)
        )

    def compact(self) -> None:
        """Rewrite both tables to ONE file per bucket (tmp table +
        catalog rename). Each epoch append adds a file per bucket; the
        sort-merge read path must then SORT the multi-file buckets
        inside every join, and even the hash path pays per-file open
        overhead. One file per bucket restores the fully-ordered
        layout (with spark.sql.legacy.bucketedTableScan.outputOrdering
        the merge path plans zero index-side sort again).

        Crash-safe swap: the committed rows are ALWAYS reachable —
        rename the live table ASIDE (``_old``), rename the compacted
        temp in, then drop the aside copy. The old DROP-then-RENAME
        order had a window where the table was simply gone; a crash
        there made the next append compute mode='overwrite' and
        silently discard the other table's accumulated rows. A crash
        between the two renames now leaves ``_old``, which
        ``_recover()`` (run by every ``exists`` check) renames back.

        Concurrent appends: the staging read is a snapshot, so an
        ``append`` landing mid-rewrite would be dropped by the table
        swap. The normal operating mode precludes this (one ingest
        loop calls ingest_epoch -> append -> maybe_compact
        sequentially), but the swap still re-lists the live table and
        ABORTS this table's compaction when the data-file set changed
        since the snapshot (the files stay fragmented; the next
        maybe_compact retries) — the same changed-since-scan guard as
        compact_ivf_cells, leaving only the instant re-list-to-rename
        race that any rename-based protocol has."""
        from smallquery_spark.fsio import fs_for, table_location

        from smallquery_spark.fsio import dir_lease

        for tname, key in (
            (self.bands_table, "__bk"),
            (self.hashes_table, "o_id"),
        ):
            if not self.spark.catalog.tableExists(tname):
                continue
            tmp = f"{tname}_c"
            self.spark.sql(f"DROP TABLE IF EXISTS {tmp}")
            # read the FILES, not the table: reading through the bucket
            # spec lets Spark's planned-write path elide the aligning
            # repartition and emit one file per (input split x bucket)
            # — a "compaction" that doesn't compact (observed: 3-append
            # table rewrote to 3 files/bucket). The raw scan has no
            # partitioning to inherit, so write_bucketed's repartition
            # lands exactly one file per bucket. The location comes from
            # the catalog (scheme-qualified URI), so the raw read works
            # against any warehouse FS, not just file:// (fsio).
            loc = table_location(self.spark, tname)
            fs = fs_for(self.spark, loc)

            def _data_files():
                return {
                    p.rsplit("/", 1)[1]
                    for p, _ in fs.list_files_recursive(loc)
                    if p.endswith(".parquet")
                }

            # lease (r13): compaction and delete() (delete_bucketed
            # leases the same location) are MUTUALLY excluded instead
            # of relying on the one-ingest-loop convention — a takedown
            # may run from another process. The lease file is a sibling
            # of the table LOCATION path, which the catalog renames
            # move and restore within this block, so acquire/release
            # see the same path. Plain appends stay lease-free (the
            # snapshot-abort guard below is what protects them).
            with dir_lease(fs, loc, "neardup_compact") as lease:
                snapshot = _data_files()
                raw = self.spark.read.parquet(loc)
                write_bucketed(raw, tmp, key, self.n_buckets)
                if _data_files() != snapshot:
                    self.spark.sql(f"DROP TABLE IF EXISTS {tmp}")
                    continue
                # fenced commit (r13): an evicted compactor must not
                # rename tables the new lease owner now maintains
                lease.fence("the catalog rename swap")
                self.spark.sql(f"DROP TABLE IF EXISTS {tname}_old")
                self.spark.sql(f"ALTER TABLE {tname} RENAME TO {tname}_old")
                self.spark.sql(f"ALTER TABLE {tmp} RENAME TO {tname}")
                self.spark.sql(f"DROP TABLE {tname}_old")

    def maybe_compact(self) -> bool:
        """Compact when the index has DOUBLED since the last compaction
        — the classic amortization: each row is rewritten O(log n)
        times over the index's lifetime, so steady-state ingest pays
        O(1) extra writes per row while file counts stay bounded.
        Returns True when a compaction ran."""
        if not self.exists:
            return False
        current = self._table_bytes(self.bands_table) + self._table_bytes(
            self.hashes_table
        )
        if current < 2 * self._compacted_bytes or current == 0:
            return False
        self.compact()
        self._compacted_bytes = self._table_bytes(
            self.bands_table
        ) + self._table_bytes(self.hashes_table)
        return True

    # -- read path -----------------------------------------------------

    def ingest_epoch(
        self, sig_df: DataFrame, threshold: float = 0.5
    ) -> DataFrame:
        """One micro-batch: survivors of ``sig_df`` vs the batch itself
        and the at-rest index — semantics identical to
        ``neardup_ingest_step`` (same size-ratio prefilter, same
        hash-set Jaccard rule), but the index side of the band join is
        a bucketed scan with no Exchange. Does NOT append; callers
        append survivors themselves — BEFORE their epoch commit marker,
        so a replay never runs against an index missing an already-
        committed epoch (the self-exclusion below makes the
        append-then-crash replay a fixed point).

        PRECONDITION for the "identical semantics" claim: a doc id in
        ``sig_df`` that is already IN the index must be a replay of the
        same document. The o_id != n_id self-exclusion exists for that
        replay case; if an upstream legitimately RE-SENDS an id in a
        later batch (at-least-once delivery), the exact duplicate no
        longer matches itself and is accepted where
        ``neardup_ingest_step`` would drop it. ``append``'s default
        ``guard_existing`` keeps the INDEX duplicate-free under
        re-sends (no double-append, no candidate inflation), but the
        re-sent id still appears in this method's survivor output —
        callers with at-least-once upstreams dedup their accepted
        OUTPUT on id (a plain exact-dedup pass), or feed this operator
        exactly-once ids. The registered c2_streaming_neardup pipeline
        carries that output-side dedup (queries/streaming_queries.py),
        and test_neardup_index_at_least_once pins the end-to-end
        contract: re-sent batches produce byte-identical accepted sets
        AND index state vs exactly-once delivery."""
        order = {
            "auto": ("shuffle_hash", "merge"),
            "shuffle_hash": ("shuffle_hash",),
            "merge": ("merge",),
        }[self.join_strategy]
        for i, strategy in enumerate(order):
            try:
                # epoch-sized; materialize once — consumed by the
                # caller's commit write AND the index append. This is
                # also where the plan actually RUNS, so the hash-build
                # failure (if any) surfaces here, inside the try.
                return self._epoch_plan(
                    sig_df, threshold, strategy
                ).localCheckpoint(eager=True)
            except Exception as exc:
                if i + 1 < len(order) and _is_hash_build_failure(exc):
                    import sys

                    print(
                        f"NearDupIndex.ingest_epoch: {strategy} failed"
                        f" on the non-spillable hash build"
                        f" ({type(exc).__name__}); retrying epoch with"
                        f" {order[i + 1]}",
                        file=sys.stderr,
                        flush=True,
                    )
                    continue
                raise
        raise AssertionError("unreachable: strategy order is non-empty")

    def _epoch_plan(
        self, sig_df: DataFrame, threshold: float, strategy: str
    ) -> DataFrame:
        """The lazy survivor plan for one epoch under a concrete join
        strategy (see ingest_epoch, which owns retry + materialize)."""
        from smallquery_spark.operators.dedup import _hash_jaccard_udf

        # resolve catalog reads through the BATCH's own session: inside
        # foreachBatch the outer session's relation cache can serve a
        # STALE file listing for a table appended by a previous
        # micro-batch's cloned session (observed: epoch 2 seeing only
        # epoch 0's rows via the outer session while the batch session
        # saw both) — silent under-dropping, caught by the
        # c2_streaming_neardup sets_equal oracle
        sess = sig_df.sparkSession
        idc = self.id_col
        ratio_ok = (
            F.least("n_sz", "o_sz") / F.greatest("n_sz", "o_sz")
            >= F.lit(threshold)
        )
        exploded = sig_df.select(
            F.col(idc),
            F.col("__sz"),
            F.col("__hashes"),
            F.posexplode("__keys").alias("__band", "__bkey"),
        ).withColumn("__bk", _bk60(F.col("__bkey")))
        # in-batch pairs: epoch-sized self-join, carries hashes directly
        new_full = exploded.select(
            F.col(idc).alias("n_id"),
            F.col("__sz").alias("n_sz"),
            F.col("__hashes").alias("n_h"),
            "__band",
            "__bk",
        )
        old_in_batch = exploded.select(
            F.col(idc).alias("o_id"),
            F.col("__sz").alias("o_sz"),
            F.col("__hashes").alias("o_h"),
            "__band",
            "__bk",
        )
        batch_checked = (
            new_full.join(old_in_batch, ["__band", "__bk"])
            .filter(F.col("o_id") < F.col("n_id"))
            .filter(ratio_ok)
            .dropDuplicates(["n_id", "o_id"])
            .withColumn("__hj", _hash_jaccard_udf()("n_h", "o_h"))
            .filter(F.col("__hj") >= threshold)
            .select("n_id")
        )
        dropped = batch_checked
        if sess.catalog.tableExists(self.bands_table):
            # vs index: NARROW epoch keys (no hash arrays through the
            # explode/exchange) against the bucketed band table — index
            # side scans in place, epoch side shuffles epoch-sized.
            new_keys = exploded.select(
                F.col(idc).alias("n_id"),
                F.col("__sz").alias("n_sz"),
                "__bk",
            )
            # see __init__: shuffle_hash streams the index with no sort
            # and no exchange; merge is the spill-robust fallback
            hinted = new_keys.hint(strategy)
            cand = (
                hinted.join(sess.table(self.bands_table), "__bk")
                # self-exclusion makes a replayed epoch (whose survivors
                # were already appended before the crash) recompute the
                # SAME survivor set instead of matching itself out
                .filter(F.col("o_id") != F.col("n_id"))
                .filter(ratio_ok)
                .select("n_id", "o_id")
                .dropDuplicates(["n_id", "o_id"])
            )
            # hash fetch: candidate pairs shuffle TO the id-bucketed
            # store (store side zero-Exchange), then the epoch-local
            # n_h attaches from the batch signatures
            cand_hinted = cand.hint(strategy)
            idx_checked = (
                cand_hinted.join(sess.table(self.hashes_table), "o_id")
                .join(
                    sig_df.select(
                        F.col(idc).alias("n_id"),
                        F.col("__hashes").alias("n_h"),
                    ),
                    "n_id",
                )
                .withColumn("__hj", _hash_jaccard_udf()("n_h", "o_h"))
                .filter(F.col("__hj") >= threshold)
                .select("n_id")
            )
            dropped = dropped.unionByName(idx_checked)
        return sig_df.join(
            dropped.distinct().withColumnRenamed("n_id", idc),
            idc,
            "left_anti",
        )
