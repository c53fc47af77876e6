"""Parquet twins: a snapshot CSV/JSON table is parsed once per commit and
served from its parquet copy, with the answers of a direct read."""

from __future__ import annotations

import contextlib
import os
import sys
import threading
from unittest import mock

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from smallquery_spark.engine import Engine
from smallquery_spark.sources import read_any
from tests.conftest import spark_jobs
from tests.test_workspace import _git

# nulls, quoted commas and quotes, timestamp, date, bool and double
# columns, and header characters parquet writers once refused
EDGE_CSV = (
    'id,name,unit price,a;b,x=y,(p),ts,d,flag\n'
    '1,"Smith, J",1.5,x,y,p,2024-03-10 01:30:00,2024-03-10,true\n'
    '2,,,"q ""quoted""",,,2024-11-03 01:30:00,,false\n'
    '3,"multi, comma, field",2.25,,z,,,1999-12-31,\n'
)
EVENTS_JSONL = (
    '{"k": 1, "name": "a", "v": 1.5, "ok": true, "tags": ["x", "y"]}\n'
    '{"k": 2, "name": null, "v": null, "ok": false, "tags": [], "sub": {"p": 1}}\n'
    '{"k": 3}\n'
)


def _engine(spark, tmp_path) -> Engine:
    """An Engine over a fresh workspace ``ws`` (tag v1): ``edge.csv``,
    ``events.jsonl``, ``facts.parquet`` and ``docs/``. Fresh per test, so
    no earlier read of the same file is cached."""
    repo = tmp_path / "mount" / "ws"
    repo.mkdir(parents=True)
    _git(repo, "init", "-b", "main")
    (repo / "edge.csv").write_text(EDGE_CSV)
    (repo / "events.jsonl").write_text(EVENTS_JSONL)
    pq.write_table(pa.table({"id": [1, 2, 3]}), str(repo / "facts.parquet"))
    (repo / "docs").mkdir()
    (repo / "docs" / "README.md").write_text("not a table\n")
    _git(repo, "add", "-A")
    _git(repo, "commit", "-m", "v1")
    _git(repo, "tag", "v1")
    return Engine(spark, workspace_mount=str(tmp_path / "mount"))


def _rows(df) -> list:
    return sorted(map(tuple, df.collect()), key=repr)


@contextlib.contextmanager
def _binding_work(spark):
    """Counts, while open, of ``read_any`` calls from the engine and of
    temp views registered: ``{"reads": n, "views": n}``."""
    from smallquery_spark import engine as engine_mod

    counts = {"reads": 0, "views": 0}
    df_cls = type(spark.range(1))
    read, view = engine_mod.read_any, df_cls.createOrReplaceTempView

    def counting_read(*a, **k):
        counts["reads"] += 1
        return read(*a, **k)

    def counting_view(self, name):
        counts["views"] += 1
        return view(self, name)

    with mock.patch.object(engine_mod, "read_any", counting_read), \
            mock.patch.object(df_cls, "createOrReplaceTempView", counting_view):
        yield counts


@pytest.mark.parametrize("table", ["edge", "events"])
def test_every_spelling_reads_the_twin_with_direct_answers(spark, tmp_path, table):
    eng = _engine(spark, tmp_path)
    direct = read_any(spark, eng.catalog.workspace("ws").table_path(table))
    spellings = {
        "plain": eng.sql(f"SELECT * FROM {table}", workspace="ws"),
        "at": eng.sql(f"SELECT * FROM {table}@v1", workspace="ws"),
        "as_of": eng.sql(f"SELECT * FROM {table} VERSION AS OF 'v1'", workspace="ws"),
        "table": eng.table(table, workspace="ws"),
    }
    twin_dir = os.path.realpath(eng.catalog.twin_dir)
    for name, df in spellings.items():
        assert df.schema == direct.schema, name
        assert _rows(df) == _rows(direct), name
        files = df.inputFiles()
        assert files and all(twin_dir in f for f in files), (name, files)
    assert len(os.listdir(twin_dir)) == 1


def test_second_query_launches_no_job(spark, tmp_path):
    eng = _engine(spark, tmp_path)
    q = "SELECT count(*) AS n, sum(`unit price`) AS s FROM edge"
    first, df = spark_jobs(spark, lambda: eng.sql(q, workspace="ws"))
    assert first >= 1  # header, inference and twin write
    twins = sorted(os.listdir(eng.catalog.twin_dir))
    second, again = spark_jobs(spark, lambda: eng.sql(q, workspace="ws"))
    assert second == 0
    assert sorted(os.listdir(eng.catalog.twin_dir)) == twins
    assert again.collect() == df.collect()


@pytest.mark.parametrize("spelling", ["edge", "edge@v1", "edge VERSION AS OF 'v1'"])
def test_second_query_reads_and_registers_nothing(spark, tmp_path, spelling):
    """The first query registers one view per table; an identical second
    query reads no table, registers no view and launches only the jobs
    of the query itself."""
    eng = _engine(spark, tmp_path)
    q = f"SELECT count(*) AS n, sum(facts.id) AS s FROM {spelling} JOIN facts USING (id)"
    with _binding_work(spark) as first:
        df = eng.sql(q, workspace="ws")
    assert first == {"reads": 2, "views": 2}
    own, want = spark_jobs(spark, df.collect)
    with _binding_work(spark) as second:
        jobs, got = spark_jobs(spark, lambda: eng.sql(q, workspace="ws").collect())
    assert second == {"reads": 0, "views": 0}
    assert jobs == own
    assert got == want


def test_registered_view_name_is_not_a_table(spark, tmp_path):
    """User text naming a view the engine registered raises
    TableNotFound, in its own workspace and in another one."""
    from smallquery_spark.errors import TableNotFound

    eng = _engine(spark, tmp_path / "a")
    other = _engine(spark, tmp_path / "b")
    before = {t.name for t in spark.catalog.listTables()}
    eng.sql("SELECT count(*) AS n FROM edge", workspace="ws").collect()
    names = {t.name for t in spark.catalog.listTables()} - before
    assert len(names) == 1
    name = names.pop()
    assert name.startswith("edge@")
    for engine in (eng, other):
        with pytest.raises(TableNotFound):
            engine.sql(f"SELECT * FROM `{name}`", workspace="ws")


def test_time_zone_change_matches_direct_read(spark, tmp_path):
    """The twin and the view are keyed on the session time zone: after a
    change, the next query reads a fresh view whose answer is a direct
    CSV read's under the new zone, not the old twin's."""
    eng = _engine(spark, tmp_path)
    cols = ("id", "unix_timestamp(ts) AS u", "CAST(ts AS STRING) AS s")
    q = f"SELECT {', '.join(cols)} FROM edge ORDER BY id"
    path = eng.catalog.workspace("ws").table_path("edge")
    tz = spark.conf.get("spark.sql.session.timeZone")
    before = eng.sql(q, workspace="ws").collect()
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        with _binding_work(spark) as fresh:
            after = eng.sql(q, workspace="ws").collect()
        direct = read_any(spark, path).selectExpr(*cols).orderBy("id").collect()
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)
    assert fresh == {"reads": 1, "views": 1}
    assert after == direct
    assert [r.u for r in after] != [r.u for r in before]
    assert len(os.listdir(eng.catalog.twin_dir)) == 2


def test_concurrent_first_reads_publish_one_twin(spark, tmp_path):
    eng = _engine(spark, tmp_path)
    barrier = threading.Barrier(8)
    results: list = []
    errors: list[str] = []

    def worker() -> None:
        try:
            barrier.wait(timeout=60)
            results.append(_rows(eng.table("edge", workspace="ws")))
        except Exception as e:  # noqa: BLE001 - reported by the assert below
            errors.append(f"{type(e).__name__}: {e}")

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker) for _ in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads)
    assert errors == []
    want = _rows(read_any(spark, eng.catalog.workspace("ws").table_path("edge")))
    assert results == [want] * 8
    twins = os.listdir(eng.catalog.twin_dir)
    assert len(twins) == 1 and twins[0].endswith(".parquet")
    leftovers = [
        d for d, _dirs, _files in os.walk(eng.catalog.cache_dir) if ".tmp" in d
    ]
    assert leftovers == []


def test_concurrent_first_queries_register_one_view(spark, tmp_path):
    """Eight threads sending the first query of a table at once read it
    and register its view once, and all get a direct read's answer."""
    eng = _engine(spark, tmp_path)
    barrier = threading.Barrier(8)
    results: list = []
    errors: list[str] = []

    def worker() -> None:
        try:
            barrier.wait(timeout=60)
            results.append(_rows(eng.sql("SELECT * FROM edge", workspace="ws")))
        except Exception as e:  # noqa: BLE001 - reported by the assert below
            errors.append(f"{type(e).__name__}: {e}")

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with _binding_work(spark) as work:
            threads = [threading.Thread(target=worker) for _ in range(8)]
            for th in threads:
                th.start()
            for th in threads:
                th.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads)
    assert errors == []
    assert work == {"reads": 1, "views": 1}
    want = _rows(read_any(spark, eng.catalog.workspace("ws").table_path("edge")))
    assert results == [want] * 8


def test_snapshot_layout_and_listing_unchanged(spark, tmp_path):
    """Twins live outside the snapshot dir: a browse listing and the
    one-entry-per-commit cache layout are the same after queries; only
    the CSV and JSON tables get a twin, not the parquet one."""
    eng = _engine(spark, tmp_path)
    ws = eng.catalog.workspace("ws")
    listing = ws.list_dir("")
    cache = os.path.join(eng.catalog.cache_dir, "ws")
    assert os.listdir(cache) == [ws.resolve_version()]
    eng.sql(
        "SELECT count(*) AS n FROM edge JOIN facts USING (id)", workspace="ws"
    ).collect()
    eng.table("events", workspace="ws").collect()
    assert ws.list_dir("") == listing
    assert os.listdir(cache) == [ws.resolve_version()]
    assert len(os.listdir(eng.catalog.twin_dir)) == 2
