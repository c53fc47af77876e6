"""SparkSession factory.

One shared session per process (the reference amortizes setup the same
way: one template registry behind an Arc, http_server.rs:19). Tuned for
the driver's local[N] test environment but with settings that carry to a
real cluster: AQE on (runtime join-strategy switching, partition
coalescing, skew-join handling), Arrow on (fast pandas interchange for
the UDF slow-path), UTC session timezone (oracle comparability).
"""

from __future__ import annotations

import os
import sys
from contextlib import contextmanager

from pyspark.sql import SparkSession

_DEFAULTS = {
    # AQE: coalesce shuffle partitions, switch join strategies at runtime,
    # split skewed partitions. These are the single biggest levers for
    # "would this plan survive 100x scale" — leave ON everywhere.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for pandas_udf / applyInPandas / toPandas interchange.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic timestamp semantics across engines (DuckDB oracle is
    # UTC-naive).
    "spark.sql.session.timeZone": "UTC",
    # ANSI off matches classic Spark/TPC-H semantics (silent overflow/null
    # on bad casts) and DuckDB's permissive TRY-less reads of clean data.
    "spark.sql.ansi.enabled": "false",
    # Parquet writes use zstd (guide §6: smaller than snappy at similar
    # read speed — real money on a 100 TB cold store). This is the
    # codec for everything the ENGINE writes at rest: the C2/C9
    # bucketed stores, C11 epoch stores, IVF/PQ cell files, compaction
    # and merge rewrites, streaming file sinks. Measured on this
    # engine's own stores at gen scale (ZSTD_STORES_r15.json): bytes
    # vs snappy -47% on the C11 digest store, -28% on the C9 vector
    # corpus, -3% on the C2 signature tables (xxhash64 signatures are
    # high-entropy — near-incompressible either way, and zstd still
    # does not lose bytes). Reading is codec-agnostic (parquet pages
    # declare their codec), so existing snappy fixtures and
    # mixed-codec tables read fine.
    "spark.sql.parquet.compression.codec": "zstd",
    # Scan-split sizing: Spark caps splits at max(openCostInBytes,
    # totalBytes/defaultParallelism). The 4 MB openCost default was tuned
    # for remote blob stores; on local NVMe/page-cache it forces a 57 MB
    # file into 14 splits regardless of core count, starving the cores
    # (measured: a pandas-UDF scan pass at gen-sf10 ran 8 s at 14 splits
    # vs 2.4 s at 32). 1 MB lets the bytesPerCore term take over, so
    # partitions self-tune to ~defaultParallelism. On a many-file cluster
    # layout the same setting is a mild, safe open-cost estimate.
    "spark.sql.files.openCostInBytes": str(1024 * 1024),
    # When a query opts into the RocksDB state-store provider (the
    # production backend for large keyed state), checkpoint per-batch
    # change logs instead of full .snapshot uploads: measured at
    # gen-sf10 this is the difference between 1.29-1.76x and
    # 0.98-1.15x the in-memory provider on the three largest stateful
    # shapes (STATESTORE_r5.json). At gen-sf100 the win holds for
    # update-heavy keyed folds (0.87x) but inverts for
    # insert-dominated state (session windows 1.49x vs snapshot's
    # 1.29x, STATESTORE_gen100.json) -- insert-dominated jobs should
    # override this to false. No effect under the default provider.
    # For STREAM-STREAM JOINS under RocksDB the checkpoint knob is NOT
    # the lever: the gen100 2x overhead is format v1/v2 running four
    # stores per partition whose memtable flushes dominate. The fix —
    # stateFormatVersion=3 — is applied by the `rocksdb_state` helper
    # below WITH the provider (v3 needs column families; the default
    # HDFS provider throws on it, so it cannot be a global here), plus
    # partitions sized so per-store state stays ~O(100 MB) (p64 reached
    # 0.92x of the in-memory provider; B57_ROOTCAUSE_gen100.json).
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": (
        "true"
    ),
    # Quieter, faster local runs.
    "spark.ui.enabled": "false",
    # Driver JIT on C1 only. This engine's traffic is short (a young
    # server's requests, fresh-JVM bench passes, tests, CLI checks over
    # small inputs), and there HotSpot's C2 compiling Spark's own
    # planner code is the biggest CPU cost. Measured on a 4-core box
    # (JIT_C1_AB.json), tiered -> C1-only: session start plus one
    # action compiles for ~10 s -> ~1.2-1.8 s; a warm serve_read
    # request compiles for ~140-150 ms -> ~22 ms; perfbench medians
    # fall ~31% (serve_read cpu_ms_per_op), ~35% (library_ops
    # cpu_ms_per_op) and ~43-45% (setup_s of both). The cost: C1 code
    # is slower in hot row loops. The bench.py sf0.1 headline rose
    # ~7% in wall (q18 x1.8, b19 x1.4) while each pass's JVM CPU fell
    # ~46%. C1-only would shrink the code cache to 48 MB; one JVM
    # running the full sf0.01 registry (tools.check) fills 87 MB of
    # it, so the cache keeps its tiered size of 240 MB.
    # defaultJavaOptions lands BEFORE spark.driver.extraJavaOptions on
    # the JVM command line, so a user's own options compose with these
    # and a later flag wins: SPARK_GRAFT_CONF=
    # "spark.driver.extraJavaOptions=-XX:TieredStopAtLevel=4" restores
    # C2 for a row-heavy run. Executor JVMs (local-cluster, a real
    # cluster) keep tiered C2: that is where a cluster's row loops run.
    "spark.driver.defaultJavaOptions": (
        "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"
    ),
}


def _cpu_count() -> int:
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "") or os.cpu_count() or 4)
    except ValueError:
        return os.cpu_count() or 4


def get_session(
    app_name: str = "smallquery_spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Create (or return the existing) SparkSession.

    ``shuffle_partitions`` defaults to the local core count — on a real
    cluster this would be ~2-3x total executor cores, set via submit conf;
    AQE coalescing makes over-provisioning cheap.
    """
    cpus = _cpu_count()
    builder = (
        SparkSession.builder.appName(app_name)
        # SPARK_GRAFT_MASTER lets the same session factory (and thus
        # bench.py / tools.* unchanged) run under a real executor
        # boundary: e.g. local-cluster[4,8,8192] spawns 4 worker JVMs
        # with serialized netty shuffle — the closest this sandbox gets
        # to a cluster (tools/cluster_bench.py at 768dc6a).
        .master(os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in _DEFAULTS.items():
        builder = builder.config(k, v)
    # SPARK_GRAFT_CONF="k=v;k2=v2" — ad-hoc conf passthrough for harness
    # runs that need a non-default (e.g. spark.driver.maxResultSize for
    # the full-oracle check at gen-sf10, where value-comparing a 60M-row
    # result legitimately collects multi-GB to the driver). Applied after
    # _DEFAULTS, so it wins over them.
    env_conf = os.environ.get("SPARK_GRAFT_CONF", "")
    for pair in env_conf.split(";"):
        if "=" in pair:
            k, _, v = pair.partition("=")
            # visible in run logs: a leftover env var from a prior
            # harness run must never change behavior invisibly
            print(
                f"smallquery_spark: SPARK_GRAFT_CONF applied "
                f"{k.strip()}={v.strip()}",
                file=sys.stderr,
            )
            builder = builder.config(k.strip(), v.strip())
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Ship the smallquery_spark package to executor Python workers.

    Under plain ``local[N]`` the workers fork from the driver and
    inherit its sys.path, so imports just work — but under
    ``local-cluster[...]`` (and any real cluster) executors spawn
    their own Python workers from the Spark dist, and a UDF closure
    that references a module-level helper (e.g. the banded-MinHash
    signature UDF calling ``py_word_shingles``) deserializes with
    ``ModuleNotFoundError: smallquery_spark`` — executors relaunch in
    a loop and the job dies (observed on the round-8 local-cluster
    matrix). ``addPyFile`` of a package zip is the standard production
    fix: the zip lands on every executor's sys.path, current AND
    late-joining. Zip is content-addressed by package mtime so repeat
    sessions in one process reuse it; plain local masters skip the
    (cheap) work entirely."""
    master = spark.sparkContext.master
    if master.startswith("local[") or master == "local":
        return
    # build OUTSIDE any except: a zip build failure (disk full,
    # unwritable tempdir) must surface NOW, at session creation, not
    # later as an opaque executor ModuleNotFoundError relaunch loop —
    # the exact symptom this shipping exists to remove
    zpath = _build_ship_zip()
    try:
        spark.sparkContext.addPyFile(zpath)
    except Exception as exc:
        # the ONE benign case: addPyFile of the SAME path twice in one
        # context raises on some versions — already shipped then. Any
        # other failure is loud: the job would die on executors anyway.
        if zpath not in str(exc):
            print(
                f"smallquery_spark: addPyFile({zpath}) failed: {exc} — "
                f"executors may not be able to import the package",
                file=sys.stderr,
            )


def _build_ship_zip() -> str:
    """Build (or reuse) the executor-shippable package zip; returns its
    path. Content-stamped by the newest .py mtime so edits produce a
    fresh zip while repeat sessions reuse one; written to a temp name
    and os.replace()d so concurrent sessions race safely."""
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    stamp = 0
    for dirpath, _d, files in os.walk(pkg_dir):
        for f in files:
            if f.endswith(".py"):
                try:
                    stamp = max(
                        stamp, int(os.path.getmtime(os.path.join(dirpath, f)))
                    )
                except OSError:
                    pass
    zpath = os.path.join(
        tempfile.gettempdir(), f"smallquery_spark_ship_{stamp}.zip"
    )
    if not os.path.exists(zpath):
        tmp = zpath + f".{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w") as z:
            for dirpath, _d, files in os.walk(pkg_dir):
                for f in sorted(files):
                    if f.endswith(".py"):
                        full = os.path.join(dirpath, f)
                        z.write(full, os.path.relpath(full, root))
        os.replace(tmp, zpath)
    return zpath


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def rocksdb_state(spark: SparkSession):
    """Opt a block of streaming queries into the production state
    backend with the MEASURED posture applied as one unit:

    - RocksDB state-store provider (spill-to-disk keyed state — at
      100 TB state the difference between executor OOM and steady
      state), and
    - ``spark.sql.streaming.join.stateFormatVersion=3`` for NEW
      stream-stream-join checkpoints: one store per partition via
      virtual column families instead of four, which is where the
      provider's 2.0x join overhead lived (2.0x -> 1.20x at gen100,
      B57_ROOTCAUSE_gen100.json; p64 sizing reached 0.92x).

    The two settings travel TOGETHER here rather than v3 being a
    session-factory global because v3 requires column families, which
    only RocksDB implements — under the default HDFSBackedStateStore a
    v3 join throws UNSUPPORTED_FEATURE.STATE_STORE_MULTIPLE_COLUMN_
    FAMILIES (probed on this image, Spark 4.1.2). Existing checkpoints
    keep their recorded version either way; the conf applies to new
    ones only.
    """
    return scoped_confs(
        spark,
        {
            "spark.sql.streaming.stateStore.providerClass": ROCKSDB_PROVIDER,
            "spark.sql.streaming.join.stateFormatVersion": "3",
        },
    )


@contextmanager
def scoped_confs(spark: SparkSession, confs: dict[str, str]):
    """Set the runtime confs ``confs`` for the block. On exit, by
    exception too, each key gets back the value it had on entry, or is
    unset if it had none. The package's one save/set/restore of
    session confs."""
    old = {key: spark.conf.get(key, None) for key in confs}
    try:
        for key, value in confs.items():
            spark.conf.set(key, value)
        yield spark
    finally:
        for key, value in old.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)


def stop_session() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
