"""read_any's schema cache: one inference per file stamp, never stale."""

from __future__ import annotations

import os
import sys
import threading
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from smallquery_spark.sources import read_any


def _jobs(spark, fn) -> tuple[int, object]:
    """(Spark jobs launched by ``fn()`` on this thread, its result)."""
    sc = spark.sparkContext
    group = f"test-readers-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def _csv(tmp_path, text: str) -> str:
    path = str(tmp_path / "t.csv")
    with open(path, "w") as f:
        f.write(text)
    return path


@pytest.mark.parametrize("fmt", ["csv", "parquet"])
def test_second_read_launches_no_job(spark, tmp_path, fmt):
    """The first read infers (header/inference or footer-merge jobs); the
    second reuses the schema and launches none, with identical output."""
    if fmt == "csv":
        path = _csv(tmp_path, "k,name,price\n1,a,1.5\n2,b,2.5\n3,c,\n")
        uncached = spark.read.options(header=True, inferSchema=True).csv(path)
    else:
        path = str(tmp_path / "t.parquet")
        pq.write_table(
            pa.table({"k": [1, 2, 3], "name": ["a", "b", None]}), path
        )
        uncached = spark.read.parquet(path)
    first, _ = _jobs(spark, lambda: read_any(spark, path))
    second, df = _jobs(spark, lambda: read_any(spark, path))
    assert first >= 1
    assert second == 0
    assert df.schema == uncached.schema
    assert sorted(df.collect()) == sorted(uncached.collect())


def test_rewritten_file_invalidates(spark, tmp_path):
    """A new mtime (same size) or a new size replaces the entry."""
    path = _csv(tmp_path, "a\n1\n")
    assert read_any(spark, path).schema["a"].dataType == T.IntegerType()
    st = os.stat(path)
    with open(path, "w") as f:
        f.write("a\nx\n")  # same size
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    df = read_any(spark, path)
    assert df.schema["a"].dataType == T.StringType()
    assert [r.a for r in df.collect()] == ["x"]
    with open(path, "w") as f:
        f.write("a\n1.5\n")
    assert read_any(spark, path).schema["a"].dataType == T.DoubleType()


def test_conf_or_option_change_invalidates(spark, tmp_path):
    path = _csv(tmp_path, "a,ts\n1,2024-01-01 00:00:00\n")
    read_any(spark, path)
    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        jobs, _ = _jobs(spark, lambda: read_any(spark, path))
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)
    assert jobs >= 1
    jobs, df = _jobs(spark, lambda: read_any(spark, path, inferSchema=False))
    assert jobs >= 1
    assert {f.dataType for f in df.schema} == {T.StringType()}


def test_concurrent_reads_get_their_own_schema(spark, tmp_path):
    """Threads reading different files through the shared cache each get
    their file's schema, on misses and on hits."""
    paths = []
    for i in range(4):
        path = str(tmp_path / f"f{i}.csv")
        with open(path, "w") as f:
            f.write(f"c{i}\n{i}\n")
        paths.append(path)
    errors: list[str] = []

    def worker(offset: int) -> None:
        for r in range(3 * len(paths)):
            i = (offset + r) % len(paths)
            names = read_any(spark, paths[i]).schema.names
            if names != [f"c{i}"]:
                errors.append(f"{paths[i]}: {names}")

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker, args=(k,)) for k in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads)
    assert errors == []
