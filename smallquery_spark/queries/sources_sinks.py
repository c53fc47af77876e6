"""Source/sink queries (SURVEY.md §2 B1-B8).

Each query materializes an export (driver-side, deterministic, derived
from the fixture parquet), reads it back through the corresponding Spark
source, and returns data the oracle can reproduce straight from the
parquet views. Round-trips prove both the reader and the writer.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from smallquery_spark.queries.registry import query, t
from smallquery_spark.queries.tmpdirs import prune_stale, register_cleanup

# Per-process workdir — concurrent runs must not race on shared sinks.
# Removed at exit; stale siblings from crashed runs pruned by age.
prune_stale("smallquery_sources_")
_WORK = register_cleanup(
    os.path.join(tempfile.gettempdir(), f"smallquery_sources_{os.getpid()}")
)


def _workdir(sf_dir: str, name: str) -> str:
    d = os.path.join(_WORK, os.path.basename(sf_dir.rstrip("/")), name)
    os.makedirs(d, exist_ok=True)
    return d


# ---------------------------------------------------------------------------
# B1 — CSV scan (header + explicit schema, and inference)
# ---------------------------------------------------------------------------


@query(
    "b01_csv_scan",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
    tags=("B1",),
)
def b01_csv_scan(spark, sf_dir):
    import pyarrow.csv as pacsv
    import pyarrow.parquet as pq

    d = _workdir(sf_dir, "csv")
    path = os.path.join(d, "nation.csv")
    if not os.path.exists(path):
        pacsv.write_csv(pq.read_table(os.path.join(sf_dir, "nation.parquet")), path)
    return spark.read.csv(
        path, header=True, schema="n_nationkey int, n_name string, n_regionkey int"
    )


@query(
    "b01_csv_infer",
    oracle="SELECT r_regionkey, r_name FROM region",
    tags=("B1",),
)
def b01_csv_infer(spark, sf_dir):
    import pyarrow.csv as pacsv
    import pyarrow.parquet as pq

    d = _workdir(sf_dir, "csv")
    path = os.path.join(d, "region.csv")
    if not os.path.exists(path):
        pacsv.write_csv(pq.read_table(os.path.join(sf_dir, "region.parquet")), path)
    df = spark.read.csv(path, header=True, inferSchema=True)
    return df.select(
        F.col("r_regionkey").cast("int"), F.col("r_name").cast("string")
    )


# ---------------------------------------------------------------------------
# B3 — JSON lines scan
# ---------------------------------------------------------------------------


@query(
    "b03_json_scan",
    oracle="""
    SELECT event_id, user_id, event_type, props FROM events
    """,
    tags=("B3",),
)
def b03_json_scan(spark, sf_dir):
    import pyarrow.parquet as pq

    d = _workdir(sf_dir, "json")
    path = os.path.join(d, "events.jsonl")
    if not os.path.exists(path):
        tbl = pq.read_table(
            os.path.join(sf_dir, "events.parquet"),
            columns=["event_id", "user_id", "event_type", "props"],
        )
        df = tbl.to_pandas()
        df.to_json(path, orient="records", lines=True)
    return spark.read.json(
        path,
        schema="event_id long, user_id long, event_type string, props string",
    ).select("event_id", "user_id", "event_type", "props")


# ---------------------------------------------------------------------------
# B4 — text scan
# ---------------------------------------------------------------------------


@query(
    "b04_text_scan",
    oracle="SELECT text AS value FROM documents",
    tags=("B4",),
)
def b04_text_scan(spark, sf_dir):
    import pyarrow.parquet as pq

    d = _workdir(sf_dir, "text")
    path = os.path.join(d, "documents.txt")
    if not os.path.exists(path):
        texts = pq.read_table(
            os.path.join(sf_dir, "documents.parquet"), columns=["text"]
        )["text"].to_pylist()
        with open(path, "w", encoding="utf-8") as f:
            for line in texts:
                f.write(line + "\n")
    return spark.read.text(path)


# ---------------------------------------------------------------------------
# B5 — versioned scan (git workspace; reference's core semantic)
# ---------------------------------------------------------------------------


@query(
    "b05_versioned_scan",
    # v1 commit = the true nation export; v2 mutates it. Reading @v1 must
    # reproduce the original table exactly — that IS the versioning check.
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
    tags=("B5",),
)
def b05_versioned_scan(spark, sf_dir):
    import subprocess

    import pyarrow.csv as pacsv
    import pyarrow.parquet as pq

    from smallquery_spark.engine import Engine

    mount = _workdir(sf_dir, "workspaces")
    repo = os.path.join(mount, "ws")
    env = {
        **os.environ,
        "GIT_AUTHOR_NAME": "t",
        "GIT_AUTHOR_EMAIL": "t@t",
        "GIT_COMMITTER_NAME": "t",
        "GIT_COMMITTER_EMAIL": "t@t",
        "GIT_AUTHOR_DATE": "2024-01-01T00:00:00Z",
        "GIT_COMMITTER_DATE": "2024-01-01T00:00:00Z",
    }

    def g(*a):
        subprocess.run(["git", "-C", repo, *a], check=True, capture_output=True, env=env)

    if not os.path.isdir(os.path.join(repo, ".git")):
        os.makedirs(repo, exist_ok=True)
        g("init", "-b", "main")
        pacsv.write_csv(
            pq.read_table(os.path.join(sf_dir, "nation.parquet")),
            os.path.join(repo, "nation.csv"),
        )
        g("add", "-A")
        g("commit", "-m", "v1")
        g("tag", "v1")
        with open(os.path.join(repo, "nation.csv"), "a") as f:
            f.write("99,MUTATED,0\n")
        g("add", "-A")
        g("commit", "-m", "v2")
        g("tag", "v2")

    eng = Engine(spark, workspace_mount=mount)
    df = eng.table("nation", workspace="ws", version="v1")
    return df.select(
        F.col("n_nationkey").cast("int"),
        "n_name",
        F.col("n_regionkey").cast("int"),
    )


# ---------------------------------------------------------------------------
# B6 — in-memory source
# ---------------------------------------------------------------------------


@query(
    "b06_inmemory",
    oracle="""
    SELECT * FROM (VALUES (1, 'alpha', 1.5), (2, 'beta', 2.5), (3, 'gamma', NULL))
      AS t(id, name, score)
    """,
    tags=("B6",),
)
def b06_inmemory(spark, sf_dir):
    return spark.createDataFrame(
        [(1, "alpha", 1.5), (2, "beta", 2.5), (3, "gamma", None)],
        schema="id int, name string, score double",
    )


# ---------------------------------------------------------------------------
# B7 — write sinks (parquet / csv / json round-trips)
# ---------------------------------------------------------------------------


@query(
    "b07_parquet_roundtrip",
    oracle="SELECT * FROM orders",
    tags=("B7",),
)
def b07_parquet_roundtrip(spark, sf_dir):
    out = os.path.join(_workdir(sf_dir, "sink"), "orders_pq")
    t(spark, sf_dir, "orders").write.mode("overwrite").parquet(out)
    return spark.read.parquet(out)


@query(
    "b07_csv_roundtrip",
    oracle="SELECT c_custkey, c_name, c_nationkey, c_mktsegment FROM customer",
    tags=("B7",),
)
def b07_csv_roundtrip(spark, sf_dir):
    out = os.path.join(_workdir(sf_dir, "sink"), "customer_csv")
    cols = ["c_custkey", "c_name", "c_nationkey", "c_mktsegment"]
    t(spark, sf_dir, "customer").select(*cols).write.mode("overwrite").option(
        "header", True
    ).csv(out)
    return spark.read.csv(
        out,
        header=True,
        schema="c_custkey long, c_name string, c_nationkey int, c_mktsegment string",
    )


@query(
    "b07_json_roundtrip",
    oracle="SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier",
    tags=("B7",),
)
def b07_json_roundtrip(spark, sf_dir):
    out = os.path.join(_workdir(sf_dir, "sink"), "supplier_json")
    t(spark, sf_dir, "supplier").write.mode("overwrite").json(out)
    return spark.read.json(
        out, schema="s_suppkey long, s_name string, s_nationkey int, s_acctbal double"
    ).select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")


@query(
    "b04_xml_roundtrip",
    # Spark 4 ships a native XML source (no spark-xml package needed);
    # DuckDB has no XML reader, so the oracle states the round-trip
    # invariant against the parquet source of truth.
    oracle="SELECT r_regionkey, r_name FROM region",
    tags=("B4", "B7"),
)
def b04_xml_roundtrip(spark, sf_dir):
    """Semi-structured interop via the Spark-4-native XML source: write
    region as row-tagged XML, read it back with an explicit schema (XML
    inference widens ints to long — pin types instead)."""
    out = os.path.join(_workdir(sf_dir, "sink"), "region_xml")
    t(spark, sf_dir, "region").select("r_regionkey", "r_name").write.mode(
        "overwrite"
    ).format("xml").option("rootTag", "regions").option("rowTag", "region").save(out)
    return (
        spark.read.format("xml")
        .option("rowTag", "region")
        .schema("r_regionkey long, r_name string")
        .load(out)
        .select("r_regionkey", "r_name")
    )


@query(
    "b07_orc_roundtrip",
    # ORC is Spark-native (no extra package); DuckDB cannot read ORC, so
    # the oracle states the round-trip invariant directly against the
    # parquet source of truth.
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
    tags=("B7", "B2"),
)
def b07_orc_roundtrip(spark, sf_dir):
    """Columnar-format interop: write ORC, read it back. Same pushdown/
    pruning machinery as parquet (both go through the vectorized
    columnar readers), so a 100 TB corpus in ORC scans equivalently."""
    out = os.path.join(_workdir(sf_dir, "sink"), "nation_orc")
    t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    ).write.mode("overwrite").orc(out)
    return spark.read.orc(out)


@query(
    "b07_partitioned_write",
    # Hive-style partitioned layout: write orders partitioned by
    # priority, then read ONE partition back. The reader must prune to
    # that directory (asserted in tests/test_plans.py) — at 100 TB,
    # partition pruning is the difference between scanning 1/5th and 5/5.
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
    tags=("B7", "B2"),
)
def b07_partitioned_write(spark, sf_dir):
    out = os.path.join(_workdir(sf_dir, "sink"), "orders_by_priority")
    t(spark, sf_dir, "orders").write.mode("overwrite").partitionBy(
        "o_orderpriority"
    ).parquet(out)
    return (
        spark.read.parquet(out)
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@query(
    "b07_append_mode",
    # overwrite-then-append writes each region row exactly twice —
    # fully deterministic, so the oracle states it directly.
    oracle="SELECT r_regionkey, r_name, CAST(2 AS BIGINT) AS count FROM region",
    tags=("B7",),
)
def b07_append_mode(spark, sf_dir):
    out = os.path.join(_workdir(sf_dir, "sink"), "region_append")
    r = t(spark, sf_dir, "region")
    r.write.mode("overwrite").parquet(out)
    r.write.mode("append").parquet(out)
    return spark.read.parquet(out).groupBy("r_regionkey", "r_name").count()


# ---------------------------------------------------------------------------
# B8 — HTML render sink (reference A7/B8; validated-boolean contract)
# ---------------------------------------------------------------------------


@query(
    "b08_html_render",
    oracle="SELECT TRUE AS has_table, TRUE AS rows_ok",
    tags=("B8",),
)
def b08_html_render(spark, sf_dir):
    from smallquery_spark.sinks.render import render_html

    df = t(spark, sf_dir, "region")
    html = render_html(df.columns, df.limit(10).collect())
    has_table = "<table" in html and "r_name" in html
    rows_ok = html.count("<tr>") == 1 + df.count()  # header + one per region
    return spark.createDataFrame(
        [(has_table, rows_ok)], "has_table boolean, rows_ok boolean"
    )


@query(
    "b08_chart_svg",
    oracle="SELECT TRUE AS svg_ok, TRUE AS bars_ok",
    tags=("B8",),
)
def b08_chart_svg(spark, sf_dir):
    """Dependency-free SVG bar-chart sink (reference purpose
    README.md:7 'quickly creating charts'); validated-boolean contract:
    well-formed SVG with one bar per aggregated category."""
    from smallquery_spark.sinks.render import render_chart_svg

    agg = (
        t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"))
        .orderBy("o_orderpriority")
    )
    svg = render_chart_svg(agg.columns, agg.collect())
    svg_ok = svg.startswith("<svg") and svg.endswith("</svg>")
    bars_ok = svg.count("<rect") == agg.count()
    return spark.createDataFrame(
        [(svg_ok, bars_ok)], "svg_ok boolean, bars_ok boolean"
    )


@query(
    "b08_pdf_render",
    oracle="SELECT TRUE AS pdf_ok, TRUE AS rows_ok",
    tags=("B8",),
)
def b08_pdf_render(spark, sf_dir):
    """Dependency-free single-page PDF result export (reference purpose
    README.md:7 'charts and PDFs'); contract: valid PDF header/trailer
    and one text line per exported row + header."""
    from smallquery_spark.sinks.render import render_pdf

    df = t(spark, sf_dir, "nation").orderBy("n_nationkey")
    pdf = render_pdf(df.columns, df.limit(25).collect(), title="nation")
    pdf_ok = pdf.startswith(b"%PDF-1.4") and pdf.rstrip().endswith(b"%%EOF")
    rows_ok = pdf.count(b" Tj ET") == 1 + 1 + 25  # title + header + rows
    return spark.createDataFrame(
        [(pdf_ok, rows_ok)], "pdf_ok boolean, rows_ok boolean"
    )


# ---------------------------------------------------------------------------
# B2 — parquet scan (explicit; every other query scans parquet via t())
# ---------------------------------------------------------------------------


@query(
    "b02_parquet_scan",
    oracle="SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem",
    tags=("B2",),
)
def b02_parquet_scan(spark, sf_dir):
    return t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


@query(
    "b05_version_diff",
    # the v2 commit appends exactly one known row — the cross-version
    # EXCEPT must surface precisely it. This is the reference's whole
    # value proposition (versioned datasets, http_server.rs:154-200)
    # expressed as a relational diff.
    oracle="""
    SELECT CAST(99 AS INT) AS n_nationkey, 'MUTATED' AS n_name,
           CAST(0 AS INT) AS n_regionkey
    """,
    tags=("B5", "B41"),
)
def b05_version_diff(spark, sf_dir):
    from smallquery_spark.engine import Engine

    b05_versioned_scan(spark, sf_dir)  # ensure the git fixture exists
    mount = _workdir(sf_dir, "workspaces")
    eng = Engine(spark, workspace_mount=mount)
    cast = lambda df: df.select(
        F.col("n_nationkey").cast("int"),
        "n_name",
        F.col("n_regionkey").cast("int"),
    )
    v2 = cast(eng.table("nation", workspace="ws", version="v2"))
    v1 = cast(eng.table("nation", workspace="ws", version="v1"))
    return v2.exceptAll(v1)


@query(
    "b05_version_as_of_sql",
    # Same two-commit diff as b05_version_diff, but expressed through
    # SQL time-travel syntax (`FROM nation VERSION AS OF '<ref>'`,
    # SURVEY §4.3's named follow-up): Engine.sql binds each
    # RelationTimeTravel of the parsed plan through the git catalog to a
    # snapshot temp view before Spark analyzes the query — no Catalyst
    # rule needed.
    oracle="""
    SELECT CAST(99 AS INT) AS n_nationkey, 'MUTATED' AS n_name,
           CAST(0 AS INT) AS n_regionkey
    """,
    tags=("B5", "B41"),
)
def b05_version_as_of_sql(spark, sf_dir):
    from smallquery_spark.engine import Engine

    b05_versioned_scan(spark, sf_dir)  # ensure the git fixture exists
    mount = _workdir(sf_dir, "workspaces")
    eng = Engine(spark, workspace_mount=mount)
    return eng.sql(
        """
        SELECT CAST(n_nationkey AS INT) AS n_nationkey,
               n_name,
               CAST(n_regionkey AS INT) AS n_regionkey
        FROM nation VERSION AS OF 'v2'
        EXCEPT ALL
        SELECT CAST(n_nationkey AS INT) AS n_nationkey,
               n_name,
               CAST(n_regionkey AS INT) AS n_regionkey
        FROM nation VERSION AS OF 'v1'
        """,
        workspace="ws",
    )


@query(
    "b05_gitws_datasource",
    # reading @v1 through the custom source must reproduce the original
    # table exactly (same contract as b05_versioned_scan, different
    # engine surface: a registered Spark 4 Python Data Source).
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
    tags=("B5",),
)
def b05_gitws_datasource(spark, sf_dir):
    from smallquery_spark.sources.gitws_datasource import GitWorkspaceDataSource

    b05_versioned_scan(spark, sf_dir)  # ensure the git fixture exists
    spark.dataSource.register(GitWorkspaceDataSource)
    df = (
        spark.read.format("gitws")
        .option("mount", _workdir(sf_dir, "workspaces"))
        .option("workspace", "ws")
        .option("table", "nation")
        .option("version", "v1")
        .load()
    )
    return df.select(
        F.col("n_nationkey").cast("int"),
        "n_name",
        F.col("n_regionkey").cast("int"),
    )


@query(
    "b05_write_version",
    # derive nations-per-region FROM nation@v1, commit it as a new
    # versioned table, read it back through the catalog: the round
    # trip must equal computing the aggregate directly.
    oracle="""
    SELECT n_regionkey, COUNT(*) AS n_nations
    FROM nation GROUP BY n_regionkey
    """,
    tags=("B5", "B7"),
)
def b05_write_version(spark, sf_dir):
    from smallquery_spark.catalog.workspace import _git
    from smallquery_spark.engine import Engine

    b05_versioned_scan(spark, sf_dir)  # ensure the git fixture exists
    mount = _workdir(sf_dir, "workspaces")
    eng = Engine(spark, workspace_mount=mount)
    if not _git(os.path.join(mount, "ws"), "tag", "-l", "derived1"):
        derived = (
            eng.table("nation", workspace="ws", version="v1")
            .groupBy(F.col("n_regionkey").cast("int").alias("n_regionkey"))
            .agg(F.count("*").alias("n_nations"))
        )
        eng.write_table(
            derived, "region_counts", workspace="ws",
            message="derived: nations per region @v1", tag="derived1",
        )
    back = eng.table("region_counts", workspace="ws", version="derived1")
    return back.select(
        F.col("n_regionkey").cast("int"),
        F.col("n_nations").cast("bigint"),
    )


@query(
    "b50_gitws_history_stream",
    oracle="SELECT TRUE AS commits_ok, TRUE AS rows_ok",
    tags=("B50", "B5"),
)
def b50_gitws_history_stream(spark, sf_dir):
    """Stream the COMMIT HISTORY of a versioned table (change-feed over
    versioned transformations): each micro-batch emits the table content
    at every new commit, tagged with the commit id. Contract: one
    distinct commit per history entry and per-commit row counts equal
    the batch reads at those versions."""
    from smallquery_spark.catalog.workspace import _git
    from smallquery_spark.engine import Engine
    from smallquery_spark.sources.gitws_datasource import GitWorkspaceDataSource
    from smallquery_spark.streaming import drain

    b05_versioned_scan(spark, sf_dir)  # ensure the git fixture exists
    mount = _workdir(sf_dir, "workspaces")
    spark.dataSource.register(GitWorkspaceDataSource)
    sdf = (
        spark.readStream.format("gitws")
        .option("mount", mount)
        .option("workspace", "ws")
        .option("table", "nation")
        .option("tagcommit", "true")
        .load()
    )
    qname = "gitws_hist_" + os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    drain(
        sdf.writeStream.format("memory").queryName(qname).outputMode("append"),
        qname,
    )
    got = spark.table(qname)
    per_commit = {
        r["commit"]: r["n"]
        for r in got.groupBy("commit").agg(F.count("*").alias("n")).collect()
    }
    repo = os.path.join(mount, "ws")
    history = [c for c in _git(repo, "log", "--first-parent", "--reverse", "--format=%H").splitlines() if c]
    eng = Engine(spark, workspace_mount=mount)
    expected = {
        c: eng.table("nation", workspace="ws", version=c).count() for c in history
    }
    commits_ok = set(per_commit) == set(expected)
    rows_ok = all(per_commit.get(c) == n for c, n in expected.items())
    return spark.createDataFrame(
        [(commits_ok, rows_ok)], "commits_ok boolean, rows_ok boolean"
    )


@query(
    "b07_gitws_write",
    # writing through the data source and reading back at the tag must
    # equal the aggregate computed directly.
    oracle="""
    SELECT CAST(n_regionkey AS INT) AS rk, COUNT(*) AS count
    FROM nation GROUP BY n_regionkey
    """,
    tags=("B7", "B5"),
)
def b07_gitws_write(spark, sf_dir):
    """df.write.format('gitws'): executors ship partition rows in commit
    messages; the driver-side commit assembles the table CSV and makes
    the git commit — a versioned-table SINK with the same catalog
    semantics as the reads."""
    import subprocess

    from smallquery_spark.engine import Engine
    from smallquery_spark.sources.gitws_datasource import GitWorkspaceDataSource

    b05_versioned_scan(spark, sf_dir)
    mount = _workdir(sf_dir, "workspaces")
    spark.dataSource.register(GitWorkspaceDataSource)
    eng = Engine(spark, workspace_mount=mount)
    repo = os.path.join(mount, "ws")
    has_tag = subprocess.run(
        ["git", "-C", repo, "tag", "-l", "dsw"],
        capture_output=True, text=True,
    ).stdout.strip()
    if not has_tag:
        agg = (
            eng.table("nation", workspace="ws", version="v1")
            .groupBy(F.col("n_regionkey").cast("int").alias("rk"))
            .count()
        )
        (
            agg.write.format("gitws")
            .mode("append")
            .option("mount", mount)
            .option("workspace", "ws")
            .option("table", "region_counts_dsw")
            .option("message", "region counts via gitws writer")
            .option("tag", "dsw")
            .save()
        )
    back = eng.table("region_counts_dsw", workspace="ws", version="dsw")
    return back.select(
        F.col("rk").cast("int"), F.col("count").cast("bigint")
    )
