"""Connected components — the transitive-closure endgame of dedup.

Near-dup detection yields PAIRS (a~b, b~c); the unit of deduplication is
the connected COMPONENT {a,b,c}. This is inherently iterative — Spark
has no native transitive closure — so we run min-label propagation:

    label(v) := min(label(v), min label over neighbors)

repeated until no label changes. Each iteration is one join + one
aggregation (all DataFrame ops, shuffle on vertex id); convergence needs
O(diameter) rounds (pointer-jumping variants cut that to O(log d) at the
cost of heavier rounds — for dedup graphs, whose components are small
and dense, plain propagation converges in a handful of rounds).

The driver-side loop holds only a changed-row COUNT per round — no
vertex data ever reaches the driver. Caching the label frame per round
and unpersisting the previous one keeps lineage short.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from smallquery_spark.session import scoped_confs


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """(id, component) with component = min node id in the component.

    ``edges`` are undirected (each pair listed once is enough).

    ``shuffle_partitions`` sizes the per-round join/agg shuffles to the
    LABEL FRAME (one row per vertex), not to the session default — the
    iterative loop pays the per-partition scheduling cost every round,
    so 32 near-empty tasks per round dominate wall-clock on small
    graphs. Callers at cluster scale pass a value proportional to
    vertex count (or None to keep the session conf).

    AQE is suspended for the loop's duration (restored after): every
    round is two tiny, explicitly-sized shuffles whose plans never
    change, and AQE's per-stage re-planning costs more than the whole
    round here (measured at gen-sf10: 4.2 s with AQE on, 1.8 s off —
    the rounds do no work AQE could improve, since partition count is
    already sized to the label frame and the agg key is the vertex id
    itself). The returned frame is an eager ``localCheckpoint`` of the
    converged labels — a vertex-sized materialization taken BEFORE the
    loop's caches are released — so downstream consumers neither
    recompute the (possibly expensive) edge builder nor inherit the
    loop's suspended AQE / resized shuffle confs.
    """
    confs = {"spark.sql.adaptive.enabled": "false"}
    if shuffle_partitions is not None:
        confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    with scoped_confs(nodes.sparkSession, confs):
        return _cc_loop(nodes, edges, id_col, src, dst, max_iter)


def _cc_loop(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str,
    src: str,
    dst: str,
    max_iter: int,
) -> DataFrame:
    spark = nodes.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    both = edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
    # the edge frame is re-joined EVERY round — materialize it once,
    # HASH-PARTITIONED ON THE JOIN KEY so only the (much smaller) label
    # frame exchanges per round. Without the repartition, an expensive
    # upstream edge builder (all-pairs Jaccard, LSH banding) would
    # re-execute per iteration AND re-shuffle per round.
    both = both.repartition(n_parts, "a")
    both.cache()

    labels = nodes.select(F.col(id_col).alias("v"), F.col(id_col).alias("lbl"))
    labels.cache()
    # ``labels`` is rebound to DERIVED frames (merged.select / checkpoint)
    # below; unpersist() on a derivative is a no-op (CacheManager matches
    # on sameResult), so track the actually-cached frame separately.
    prev_cached = labels
    for it in range(max_iter):
        # every few rounds, cut the accumulated plan lineage: without
        # this, round N's plan nests N joins and Catalyst analysis cost
        # grows superlinearly on long-diameter graphs.
        if it > 0 and it % 5 == 0:
            labels = labels.localCheckpoint(eager=True)
            # the eager checkpoint has materialized the data — the cached
            # frame it was built from can be released now.
            if prev_cached is not None:
                prev_cached.unpersist()
                prev_cached = None
        # One fused round: neighbor messages (b receives a's label) and
        # each vertex's own label go through a SINGLE groupBy — min(lbl)
        # is the new label, min(old) recovers the previous label (only
        # the self message carries old, so min() just selects it). The
        # changed-count then reads the SAME cached frame instead of a
        # third join against the previous labels: 2 exchanges per round
        # where the unfused loop paid 5 (measured 5.2 s → ~2 s at
        # gen-sf10 on the c15 chain graph).
        lbl_type = labels.schema["lbl"].dataType
        nmsgs = (
            both.join(labels, both.a == labels.v)
            .select(
                F.col("b").alias("v"),
                F.col("lbl"),
                F.lit(None).cast(lbl_type).alias("old"),
            )
        )
        smsgs = labels.select("v", "lbl", F.col("lbl").alias("old"))
        merged = (
            nmsgs.unionByName(smsgs)
            .groupBy("v")
            .agg(F.min("lbl").alias("lbl"), F.min("old").alias("old"))
            # only the self message carries old: dropping old-IS-NULL
            # rows restricts the frame to ``nodes`` (edge endpoints
            # outside the node set got only neighbor messages), the
            # same contract the unfused left-join loop had.
            .filter(F.col("old").isNotNull())
        )
        merged.cache()
        changed = merged.filter(F.col("lbl") < F.col("old")).count()
        # the count() above materialized merged's cache; the previous
        # round's cache (if any) is no longer needed.
        if prev_cached is not None:
            prev_cached.unpersist()
        prev_cached = merged
        labels = merged.select("v", "lbl")
        if changed == 0:
            break
    # Materialize the final labels (vertex-sized, cheap) BEFORE dropping
    # the loop caches: otherwise the caller's first action would recompute
    # the last round's union/groupBy AND the upstream edge frame under the
    # session's restored confs.
    if prev_cached is not None:
        labels = labels.localCheckpoint(eager=True)
        prev_cached.unpersist()
    both.unpersist()
    return labels.select(F.col("v").alias(id_col), F.col("lbl").alias("component"))
