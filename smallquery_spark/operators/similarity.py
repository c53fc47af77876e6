"""Similarity search over embedding columns (SURVEY.md §2 C3).

Two tiers:

- ``knn_bruteforce`` — exact top-k: broadcast the (small) query set,
  score every candidate JVM-side with the deterministic vector folds,
  keep top-k per query with the same TakeOrdered-style window pattern
  as B34. O(|queries| · |corpus|) scoring but embarrassingly parallel,
  no shuffle of the corpus: at 100 TB the corpus stays partition-local
  and only (query_id, candidate_id, score) survive the window.
- ``ann_lsh`` — approximate: BucketedRandomProjectionLSH buckets the
  corpus once; probes hit only colliding buckets. The recall contract
  is validated against brute force in the tierc queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from smallquery_spark.functions.vectors import cosine


def knn_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    query_id: str = "q_id",
    corpus_id: str = "c_id",
    query_vec: str = "q_vec",
    corpus_vec: str = "c_vec",
    include_self: bool = False,
) -> DataFrame:
    """Exact cosine top-k per query. Ties break on candidate id (total
    order → deterministic, oracle-matchable).

    Per-pair work (guide §1.2 step 2, r14): norms are precomputed ONCE
    per side before the cross join — ``cosine(a, b)`` inline costs three
    O(dim) array folds per PAIR (dot + both norms), but each query's and
    each candidate's norm is pair-invariant, so hoisting them cuts the
    dominant per-pair expression to the one unavoidable dot fold (3x
    less expression work on |Q|x|C| rows). Bit-identical scores: the
    same fold produces the same double for the norm, and the final
    ``d / (qn * cn)`` / zero-norm guard are the exact expressions
    ``functions.vectors.cosine`` uses. The top-k itself needs no manual
    two-level pass: Spark 4 plans the rank filter as WindowGroupLimit
    (partial) BELOW the exchange, so each map task ships only its local
    top-k per query (plans/r14/c3_knn_bruteforce_before.txt)."""
    from smallquery_spark.functions.vectors import dot, norm2

    q2 = queries.withColumn("__qn", norm2(query_vec))
    c2 = corpus.withColumn("__cn", norm2(corpus_vec))
    pairs = c2.crossJoin(F.broadcast(q2))
    if not include_self:
        pairs = pairs.filter(F.col(query_id) != F.col(corpus_id))
    scored = pairs.withColumn(
        "cos",
        F.when(
            (F.col("__qn") == 0) | (F.col("__cn") == 0), F.lit(0.0)
        ).otherwise(
            dot(query_vec, corpus_vec) / (F.col("__qn") * F.col("__cn"))
        ),
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("cos").desc(), F.col(corpus_id)
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(query_id, corpus_id, "cos", "rnk")
    )


def ann_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    query_id: str = "q_id",
    corpus_id: str = "c_id",
    vec_col: str = "vec",
    bucket_length: float = 2.0,
    num_hash_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate NN via random-projection LSH on L2 distance.

    Embeddings are L2-normalized first so euclidean NN order == cosine
    NN order (|a-b|² = 2 - 2·cos for unit vectors).
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH, Normalizer
    from pyspark.ml.functions import array_to_vector

    def prep(df: DataFrame, id_col: str) -> DataFrame:
        v = df.select(
            F.col(id_col), array_to_vector(F.col(vec_col)).alias("raw_vec")
        )
        return Normalizer(inputCol="raw_vec", outputCol="nvec", p=2.0).transform(v)

    qv = prep(queries, query_id)
    cv = prep(corpus, corpus_id)
    lsh = BucketedRandomProjectionLSH(
        inputCol="nvec",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=seed,
    )
    model = lsh.fit(cv)
    # approxSimilarityJoin keeps only bucket-colliding pairs.
    joined = model.approxSimilarityJoin(qv, cv, 2.0, distCol="dist")
    pairs = joined.select(
        F.col(f"datasetA.{query_id}").alias(query_id),
        F.col(f"datasetB.{corpus_id}").alias(corpus_id),
        F.col("dist"),
    ).filter(F.col(query_id) != F.col(corpus_id))
    w = Window.partitionBy(query_id).orderBy(F.col("dist"), F.col(corpus_id))
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(query_id, corpus_id, "dist", "rnk")
    )


def ivf_defaults(n_corpus: int) -> tuple[int, int]:
    """Corpus-size-derived ``(n_cells, n_probe)`` — the measured posture
    from the 2M-embedding sweep (IVF_RECALL_gen100.json): cells ≈ √n
    rounded to a power of two (clamped [16, 4096]) and probe = cells/16
    floored at 4. At the sweep's scale that ratio is the sweet spot —
    c256/p16 k-means hit 0.994 recall@10 scanning 9.2% of the corpus
    (probe growing proportionally with cells is what keeps recall flat
    while the scan fraction SHRINKS; under-probing at the same cell
    count collapses recall: c256/p8 = 0.87). Replaces the pre-sweep
    fixed n_probe=4 default, which under-probes any index past ~64
    cells."""
    import math

    root = math.sqrt(max(n_corpus, 1))
    n_cells = 1 << max(0, round(math.log2(root))) if root >= 1 else 16
    n_cells = max(16, min(4096, n_cells))
    return n_cells, _default_probe(n_cells, n_corpus)


def _default_probe(n_cells: int, n_corpus: int | None = None) -> int:
    """The probe half of ivf_defaults, for callers who already HAVE
    centroids: probe = cells/16 (the at-scale ratio) floored at 4, and
    — when the corpus size is known — floored again so probing reaches
    ~256 candidates (tiny corpora under-probe catastrophically at the
    bare ratio: n=500 probes 4 of 16 ~31-row cells ≈ 125 candidates
    and recall@10 collapses under 0.6 — see ivf_defaults). Capped at
    cells/2 so the index always prunes. Without ``n_corpus`` the
    candidate floor CANNOT apply — that variant is the at-scale ratio
    only."""
    import math

    n_probe = max(4, n_cells // 16)
    if n_corpus:
        n_probe = max(n_probe, math.ceil(n_cells * 256 / max(n_corpus, 1)))
    return min(n_probe, max(1, n_cells // 2))


def ivf_build_centroids(
    corpus: DataFrame,
    n_cells: int,
    corpus_id: str = "c_id",
    vec_col: str = "vec",
    method: str = "kmeans",
    sample_size: int = 4096,
    iters: int = 4,
    seed: int = 42,
    rounds: int = 5,
    oversample: int | None = None,
) -> list[list[float]]:
    """Coarse quantizer training. The centroid table is index METADATA:
    tiny (cells × dim), lives on the driver and ships to executors as
    literals — never a shuffle.

    ``method="kmeans"`` (default, the production path): spherical
    k-means over a deterministic md5-thresholded sample — the standard
    IVF recipe (FAISS likewise trains its coarse quantizer on a bounded
    sample, not the corpus). Sample rows are L2-normalized so the
    trained directions live in the same cosine geometry ivf_assign
    scores with. The driver-side work is bounded by construction:
    ``sample_size`` × dim floats collected once, Lloyd on numpy.

    ``method="kmeans_parallel"`` is k-means|| (Bahmani et al., VLDB'12
    — the seeding MLlib also uses): ``rounds`` distributed passes each
    oversample ~``oversample`` (default 2·k) candidates with
    probability ∝ their squared distance to the current candidate set,
    candidates are weighted by the corpus mass they attract, and a
    driver-side WEIGHTED k-means++ + Lloyd over the ≤ rounds·oversample
    candidates yields the k centroids. Unlike ``"kmeans"`` it sees the
    WHOLE corpus (every pass is distributed and Arrow-vectorized;
    driver collects are candidate-bounded), so seed quality cannot be
    capped by what fits in one sample — the 100 TB posture, where a
    4096-row sample of a multi-modal corpus can miss entire modes and
    hand ivf_assign a degenerate cell histogram. Deterministic by
    construction: md5-thresholded sampling keyed on (id, round, seed),
    candidates sorted by id before collection, seeded driver RNG.
    Raises ValueError when the candidate pool cannot reach ``n_cells``
    (exactly-n_cells is the contract; a silently thinner quantizer is
    not).
    """
    if method == "kmeans_parallel":
        return _kmeans_parallel_centroids(
            corpus,
            n_cells,
            corpus_id=corpus_id,
            vec_col=vec_col,
            iters=iters,
            seed=seed,
            rounds=rounds,
            oversample=oversample,
        )
    if method != "kmeans":
        raise ValueError(f"unknown centroid method {method!r}")

    import numpy as np

    # Deterministic pseudo-random sample, no full sort: keep ids whose
    # md5 prefix clears a fraction-scaled threshold (the c17 importance-
    # sampling recipe), then cap at sample_size. One count + one bounded
    # collect — both fine at 100 TB.
    n_total = corpus.count()
    if n_total == 0:
        raise ValueError("cannot train centroids on an empty corpus")
    frac = min(1.0, (4.0 * sample_size) / n_total)  # 4x headroom pre-cap
    bucket = F.conv(
        F.substring(F.md5(F.col(corpus_id).cast("string")), 1, 6), 16, 10
    ).cast("bigint")
    # The cap must be ORDER-FREE: a bare limit() after the filter takes
    # whichever rows the scan yields first — partition-layout dependent,
    # so trained centroids would differ across file splits / cluster
    # layouts despite the fixed seed. Sorting the ~4×sample_size filtered
    # set by (md5 bucket, id) before the limit is cheap at that size and
    # makes the sample a pure function of the data.
    rows = (
        corpus.filter(bucket < int(frac * (1 << 24)))
        .orderBy(bucket, F.col(corpus_id))
        .limit(sample_size)
        .select(vec_col)
        .collect()
    )
    X = np.array([[float(x) for x in r[0]] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(X, axis=1, keepdims=True)
    X = X / np.where(norms == 0, 1.0, norms)
    k = min(n_cells, len(X))

    # k-means++ init (incremental distance update: O(k·n·dim) total)
    rng = np.random.RandomState(seed)
    cents = [X[int(rng.randint(len(X)))]]
    best_d2 = ((X - cents[0]) ** 2).sum(axis=1)
    for _ in range(1, k):
        total = best_d2.sum()
        if total <= 0:
            idx = int(rng.randint(len(X)))
        else:
            idx = int(rng.choice(len(X), p=best_d2 / total))
        cents.append(X[idx])
        best_d2 = np.minimum(best_d2, ((X - cents[-1]) ** 2).sum(axis=1))
    C = np.stack(cents)

    for _ in range(iters):
        # |x-c|^2 = 2 - 2 x·c on the unit sphere → argmin = cosine
        # argmax. This identity needs BOTH sides unit-norm, which is
        # why the update below renormalizes the mean (true spherical
        # k-means: c = mean/|mean|) — an unnormalized mean's |c| term
        # would make diffuse clusters artificially attractive during
        # training while the serve path (_top_cells_udf) normalizes
        # and scores by cosine, splitting train/serve geometry.
        d2 = (
            (X * X).sum(1, keepdims=True)
            - 2 * (X @ C.T)
            + (C * C).sum(1)[None, :]
        )
        assign = d2.argmin(axis=1)
        # farthest-first order for dead-cell reseeds: each dead cell
        # takes a DISTINCT far point (a shared argmax would leave the
        # higher-index duplicates permanently empty).
        far_order = np.argsort(-d2.min(axis=1))
        far_i = 0
        for j in range(k):
            members = X[assign == j]
            if len(members):
                m = members.mean(axis=0)
                norm = np.linalg.norm(m)
                C[j] = m / (norm if norm > 0 else 1.0)
            else:  # dead cell → reseed to the next-farthest point
                C[j] = X[int(far_order[far_i])]
                far_i += 1
    return [[float(x) for x in c] for c in C]


def _min_d2_udf(centers: list[list[float]]):
    """Arrow-vectorized min squared distance from a UNIT-NORM vector
    column to a (small, closure-shipped) center set, on the sphere:
    min_c |x-c|² = 2 - 2·max_c x·ĉ. One numpy matmul per Arrow batch —
    the same kernel shape as _top_cells_udf, returning the distance
    VALUE instead of the argmin.

    float32 matmul: candidate scoring is THE k-means|| build cost
    (per round ~|corpus| × dim × oversample flops — 131 GFLOP/round at
    2M×64×1024; the r8 checkpoint-bytes hypothesis measured WRONG, see
    _kmeans_parallel_centroids), and a D²-sampling probability needs
    ~3 significant digits, not 15. float32 is exactly as deterministic
    as float64 (IEEE ops, fixed order per batch) — the c37 re-run
    bit-identity contract is unaffected."""
    import numpy as np
    import pandas as pd

    C = np.array(centers, dtype=np.float32)
    norms = np.linalg.norm(C, axis=1)
    Cn = (C / np.where(norms == 0, 1.0, norms)[:, None]).T  # (dim, m)

    def mind2(v):
        X = np.stack(v.to_numpy()).astype(np.float32)
        sims = X @ Cn
        d2 = np.maximum(2.0 - 2.0 * sims.max(axis=1), 0.0)
        return pd.Series(d2.astype(np.float64))

    mind2.__annotations__ = {"v": pd.Series, "return": pd.Series}
    return F.pandas_udf(mind2, "double")


def _kmeans_parallel_centroids(
    corpus: DataFrame,
    n_cells: int,
    corpus_id: str,
    vec_col: str,
    iters: int,
    seed: int,
    rounds: int,
    oversample: int | None,
) -> list[list[float]]:
    """k-means|| implementation behind ivf_build_centroids(
    method="kmeans_parallel") — see that docstring for the contract.

    Scale shape: per round, ONE distributed pass scores the corpus
    against only the round's NEW candidates (the running min-d² rides
    along as a column, the classic incremental trick — cost per round
    is |corpus| × oversample × dim, not |corpus| × total-candidates),
    plus one scalar agg for the sampling normalizer. The final
    weighting is one more pass (nearest candidate via the existing
    top-cells kernel). Driver memory holds only candidates
    (≤ rounds·oversample vectors) — never corpus rows.

    Where the build time actually goes (measured at 2M×64, 256 cells,
    IVF_RECALL_gen100_kmpar*.json): candidate SCORING flops. The r8
    verdict hypothesized the corpus-sized (id, vec, d²) per-round
    localCheckpoint was the shave and suggested checkpointing only
    (id, d²) + re-joining a persisted base; implemented and measured,
    that was 217 s vs 134 s — the per-round join exchange costs more
    than the checkpoint bytes it saves, so this keeps the single-frame
    form and takes the real lever instead: float32 candidate scoring
    in _min_d2_udf (a D² sampling probability needs ~3 digits), which
    halves the matmul term.

    Contract (pinned by c37_kmeans_parallel_seed): returns EXACTLY
    ``n_cells`` centroids or raises ValueError — a corpus whose
    candidate pool cannot reach n_cells distinct-enough vectors
    (candidates < k after all rounds) fails loudly instead of silently
    returning a thinner quantizer (ADVICE r8).
    """
    import numpy as np

    k = n_cells
    # 4·k per round × 5 rounds ≈ 20 candidates per cell — measured at
    # 2M/256 cells as the knee where the weighted reduction's cell
    # balance BEATS the sampled trainer (max/mean 4.75 vs 5.25); the
    # paper's 2·k left ~8 candidates/cell and a D²-biased thin set
    # (balance 8.0 at equal recall). Per-round cost is linear in this.
    ell = oversample if oversample is not None else 4 * k

    def _norm_rows(rows):
        out = []
        for r in rows:
            v = np.array(r, dtype=np.float64)
            n = np.linalg.norm(v)
            out.append((v / n if n > 0 else v).tolist())
        return out

    # one normalized-vector projection, reused by every pass
    import pandas as pd

    # storage stays float64: a float32 normalized frame was tried for
    # the Arrow/checkpoint bytes and measured NO faster (230 s vs the
    # f32-scoring 118 s on this box — byte volume is not the term) while
    # perturbing the candidate set (recall 0.986 -> 0.974, balance 4.75
    # -> 5.09). Scoring precision is where the flops are; see
    # _min_d2_udf.
    def normalize(v):
        X = np.stack(v.to_numpy()).astype(np.float64)
        n = np.linalg.norm(X, axis=1, keepdims=True)
        return pd.Series(list(X / np.where(n == 0, 1.0, n)))

    normalize.__annotations__ = {"v": pd.Series, "return": pd.Series}
    norm_udf = F.pandas_udf(normalize, "array<double>")

    base = corpus.select(
        F.col(corpus_id).alias("__id"), norm_udf(F.col(vec_col)).alias("__nv")
    ).persist()
    try:
        first = base.orderBy("__id").limit(1).collect()
        if not first:
            raise ValueError("cannot train centroids on an empty corpus")
        centers: list[list[float]] = [list(first[0]["__nv"])]
        cur = base.withColumn(
            "__d2", _min_d2_udf(centers)(F.col("__nv"))
        ).localCheckpoint(eager=True)
        for rnd in range(rounds):
            tot = cur.agg(F.sum("__d2")).collect()[0][0] or 0.0
            if tot <= 1e-12:
                break  # every vector coincides with a candidate
            # deterministic Bernoulli(min(1, ell·d²/Σd²)) via an
            # md5-derived uniform keyed on (id, round, seed) — a pure
            # per-row function, so the sample is independent of
            # partitioning/file layout (same reasoning as the sampled
            # trainer's order-free cap above)
            u = (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                ":",
                                F.col("__id").cast("string"),
                                F.lit(rnd),
                                F.lit(seed),
                            )
                        ),
                        1,
                        6,
                    ),
                    16,
                    10,
                ).cast("double")
                / F.lit(float(1 << 24))
            )
            p = F.least(F.lit(1.0), F.lit(float(ell)) * F.col("__d2") / F.lit(tot))
            picked = (
                cur.filter(u < p).select("__id", "__nv").orderBy("__id").collect()
            )
            if not picked:
                continue
            new_centers = _norm_rows([list(r["__nv"]) for r in picked])
            centers.extend(new_centers)
            if rnd + 1 < rounds:
                nxt = cur.select(
                    "__id",
                    "__nv",
                    F.least(
                        F.col("__d2"),
                        _min_d2_udf(new_centers)(F.col("__nv")),
                    ).alias("__d2"),
                ).localCheckpoint(eager=True)
                cur.unpersist()
                cur = nxt
        cur.unpersist()
        # weight candidates by the corpus mass they attract (one pass,
        # k-bounded result) — the k-means|| reduction step
        import numpy as _np

        wrows = (
            base.select(
                F.element_at(
                    _top_cells_udf(centers, 1, dtype=_np.float32)(
                        F.col("__nv")
                    ),
                    1,
                ).alias("__c")
            )
            .groupBy("__c")
            .count()
            .collect()
        )
    finally:
        base.unpersist()
    w = np.zeros(len(centers), dtype=np.float64)
    for r in wrows:
        w[int(r["__c"])] = float(r["count"])
    Xc = np.array(centers, dtype=np.float64)
    if len(Xc) < k:
        raise ValueError(
            f"k-means|| collected only {len(Xc)} candidates for"
            f" n_cells={k} (rounds={rounds}, oversample={ell}) — the"
            f" corpus has too few distinct vectors for this cell count;"
            f" lower n_cells or raise rounds/oversample"
        )

    # weighted k-means++ over the candidates (deterministic: heaviest
    # candidate first, seeded RNG for the D²-weighted picks). Selected
    # candidates have best_d2 == 0, so the weighted draw never repeats
    # one; the tot<=0 degenerate fallback masks them out explicitly —
    # re-picking a selected index would return duplicate centroids
    # (ADVICE r8).
    rng = np.random.RandomState(seed)
    sel = [int(np.argmax(w))]
    selected = np.zeros(len(Xc), dtype=bool)
    selected[sel[0]] = True
    best_d2 = ((Xc - Xc[sel[0]]) ** 2).sum(axis=1)
    for _ in range(1, k):
        pr = w * best_d2
        tot = pr.sum()
        if tot <= 0:
            idx = int(np.argmax(np.where(selected, -1.0, best_d2)))
        else:
            idx = int(rng.choice(len(Xc), p=pr / tot))
        sel.append(idx)
        selected[idx] = True
        best_d2 = np.minimum(best_d2, ((Xc - Xc[idx]) ** 2).sum(axis=1))
    C = Xc[sel].copy()

    # weighted spherical Lloyd over the candidate set (same geometry
    # notes as the sampled trainer: renormalized weighted means).
    # Unlike the sampled trainer — where each iteration is a real pass
    # over sample_size rows — this Lloyd runs over ≤ rounds·oversample
    # candidates entirely on the driver (a (m × k) numpy matmul,
    # microseconds), so iterations are free: run enough of them that
    # convergence, not the iteration budget, decides the partition
    # (measured at 2M/256 cells: 4 iters left max/mean at 8.0; the
    # floor-16 posture is what the balance contract assumes).
    for _ in range(max(iters, 16)):
        d2 = (
            (Xc * Xc).sum(1, keepdims=True)
            - 2 * (Xc @ C.T)
            + (C * C).sum(1)[None, :]
        )
        assign = d2.argmin(axis=1)
        far_order = np.argsort(-(d2.min(axis=1) * w))
        far_i = 0
        for j in range(k):
            mask = assign == j
            wj = w[mask]
            if wj.sum() > 0:
                m = (Xc[mask] * wj[:, None]).sum(axis=0) / wj.sum()
                norm = np.linalg.norm(m)
                C[j] = m / (norm if norm > 0 else 1.0)
            else:
                C[j] = Xc[int(far_order[far_i])]
                far_i += 1
    return [[float(x) for x in c] for c in C]


def _top_cells_udf(centroids: list[list[float]], n_probe: int, dtype=None):
    """Arrow-vectorized top-``n_probe`` nearest cells (by cosine) for a
    vector column. The centroid matrix is k-bounded driver metadata
    shipped in the closure — one numpy matmul per Arrow batch.

    Why a pandas UDF and not the literal-array cosine fold it replaces:
    k centroid cosines per row as zip_with/aggregate lambdas evaluate
    INTERPRETED (~120ns/element — the c37/curve lesson); at gen-sf10
    (200k × 64 cells × 64 dims = 800M element ops) the expression form
    measured 25.7s for assignment alone, the numpy form 1.7s.

    Ties: argsort is stable on the negated similarities → lowest cell
    id first (the old struct-max broke ties toward the highest id; the
    choice is an internal index decision either way).

    ``dtype``: scoring precision, default float64 (the serve path —
    ivf_assign/ivf_search — keeps full precision so cell assignment is
    a stable pure function of the stored vectors). Internal bulk
    passes that only need a nearest-candidate vote (the k-means||
    weighting reduction) pass float32 to halve the matmul.
    """
    import numpy as np
    import pandas as pd

    dt = dtype or np.float64
    C = np.array(centroids, dtype=dt)
    norms = np.linalg.norm(C, axis=1)
    Cn = (C / np.where(norms == 0, 1.0, norms)[:, None]).T  # (dim, k)
    n_keep = min(n_probe, len(centroids))

    def top_cells(v):
        X = np.stack(v.to_numpy()).astype(dt)  # (n, dim)
        # argmax_c cos(x, c) == argmax_c x·ĉ (|x| is constant per row)
        sims = X @ Cn
        order = np.argsort(-sims, axis=1, kind="stable")[:, :n_keep]
        return pd.Series(list(order.astype(np.int32)))

    top_cells.__annotations__ = {"v": pd.Series, "return": pd.Series}
    return F.pandas_udf(top_cells, "array<int>")


def pair_cosine_udf():
    """Arrow-vectorized cosine over two array columns (row-wise numpy
    dot/norms) — the scoring hot loop of the IVF probe. Same shape as
    the JVM :func:`cosine` fold; float64 either way (summation order
    differs, so use it on recall-contract paths, not value oracles)."""
    import numpy as np
    import pandas as pd

    def pcos(a, b):
        X = np.stack(a.to_numpy()).astype(np.float64)
        Y = np.stack(b.to_numpy()).astype(np.float64)
        num = (X * Y).sum(axis=1)
        den = np.linalg.norm(X, axis=1) * np.linalg.norm(Y, axis=1)
        return pd.Series(num / np.where(den == 0, 1.0, den))

    pcos.__annotations__ = {"a": pd.Series, "b": pd.Series, "return": pd.Series}
    return F.pandas_udf(pcos, "double")


def ivf_assign(
    corpus: DataFrame,
    centroids: list[list[float]],
    corpus_id: str = "c_id",
    vec_col: str = "vec",
) -> DataFrame:
    """Tag every corpus vector with its nearest-centroid cell id.

    A narrow, partition-local projection (vectorized centroid scoring,
    no join, no shuffle) — scales linearly. At 100 TB the assigned
    corpus is written out partitioned/bucketed BY cell so a probe reads
    only its cells' files.
    """
    return corpus.withColumn(
        "cell", F.element_at(_top_cells_udf(centroids, 1)(F.col(vec_col)), 1)
    )


def ivf_probe_cells(
    queries: DataFrame,
    centroids: list[list[float]],
    n_probe: int,
    vec_col: str = "vec",
) -> DataFrame:
    """One row per (query, probed cell): the ``n_probe`` nearest cells
    per query, by cosine to the centroid table."""
    return queries.withColumn(
        "cell",
        F.explode(_top_cells_udf(centroids, n_probe)(F.col(vec_col))),
    )


def ivf_search(
    queries: DataFrame,
    assigned_corpus: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int | None = None,
    query_id: str = "q_id",
    corpus_id: str = "c_id",
    vec_col: str = "vec",
    n_corpus: int | None = None,
) -> DataFrame:
    """IVF probe: each query scores only the corpus vectors in its
    ``n_probe`` nearest cells (vs. the whole corpus for brute force).
    ``n_probe=None`` derives the ivf_defaults probe from the centroid
    count — the measured ratio from IVF_RECALL_gen100.json — INCLUDING
    the ~256-candidate floor when ``n_corpus`` is passed. This function
    cannot see the corpus size itself (counting the frame is an extra
    job), so without ``n_corpus`` the fallback is the AT-SCALE ratio
    only: on a small corpus with externally supplied centroids it
    under-probes (the recall collapse ivf_defaults documents) — pass
    ``n_corpus`` or an explicit ``n_probe`` there.

    The query→cell fan-out is an explode of the vectorized top-cell
    array; the cell join is an equi-join on ``cell`` with the (small)
    query side broadcast — the corpus never shuffles. Candidate scoring
    is the Arrow-vectorized pair cosine (the literal-fold form measured
    12s for 2.5M candidates at gen-sf10; the numpy form 1.3s).
    """
    if n_probe is None:
        n_probe = _default_probe(len(centroids), n_corpus)
    probes = ivf_probe_cells(
        queries, centroids, n_probe, vec_col=vec_col
    ).withColumnRenamed(vec_col, "__qvec")
    pairs = assigned_corpus.join(F.broadcast(probes), "cell").filter(
        F.col(query_id) != F.col(corpus_id)
    )
    scored = pairs.withColumn("cos", pair_cosine_udf()("__qvec", vec_col))
    w = Window.partitionBy(query_id).orderBy(F.col("cos").desc(), F.col(corpus_id))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(query_id, corpus_id, "cos", "rnk")
    )


# ---------------------------------------------------------------------------
# At-rest IVF index: materialized cell assignment, bucket-pruned probes
# ---------------------------------------------------------------------------


def materialize_ivf(
    spark,
    assigned_corpus: DataFrame,
    name: str,
    centroids: list[list[float]] | None = None,
) -> str:
    """Persist an ivf_assign output as a managed table PARTITIONED BY
    CELL (one directory per inverted list — the FAISS layout) and
    return the table name.

    `ivf_search` already prunes COMPUTE (it scores only probed cells),
    but it still SCANS the whole assigned corpus every query batch to
    find them. Directory-partitioning by ``cell`` moves the pruning
    into the scan: probed cells arrive as an IN-list of literals, so
    partition pruning reads only the matching directories — the true
    IVF promise (read ~n_probe/n_cells of the corpus) as IO, not just
    skipped arithmetic. (Bucketing by cell does NOT achieve this:
    Spark's DisableUnnecessaryBucketedScan rule values only shuffle
    elimination and plans "Bucketed: false" for a pruned scan with no
    downstream distribution requirement — probed on 4.1.2.) Cell
    cardinality is bounded by ivf_defaults (≤ 4096 directories);
    one file per cell via the pre-repartition. Pay ivf_assign + one
    clustered write once; every query batch reads only its probed
    cells.

    Pass ``centroids`` (r10) to STAMP the index with the quantizer
    lifecycle the IVF-PQ table carries: a ``_quantizer_gen`` file and
    a centroid meta sidecar written inside the table directory, so
    any session can ``pq.load_index_meta`` the centroids, and
    ``ivf_search_indexed``/``append_ivf`` verify their centroid
    argument against the stamp (StaleQuantizerError on mismatch —
    probing with pre-retrain centroids picks the wrong cells and
    returns silently wrong neighbors, the exact PQ hazard of VERDICT
    r9 which exists identically here). ``centroids=None`` keeps the
    pre-r10 unstamped shape: searches and appends run UNVERIFIED
    (pinned in tests) — the assignment already happened, so this
    function cannot conjure the quantizer itself."""
    tname = f"ivfx_{name}"
    spark.sql(f"DROP TABLE IF EXISTS {tname}")
    (
        assigned_corpus.repartition(F.col("cell"))
        .write.mode("overwrite")
        .partitionBy("cell")
        .saveAsTable(tname)
    )
    if centroids is not None:
        from smallquery_spark.fsio import table_location
        from smallquery_spark.operators.pq import (
            _meta_rows,
            _write_meta_fresh,
            quantizer_token,
        )

        _write_meta_fresh(
            spark,
            table_location(spark, tname),
            _meta_rows(centroids, None, quantizer_token(centroids)),
        )
    return tname


def _verify_centroid_stamp(
    spark, index_table: str, centroids: list[list[float]], op: str
) -> None:
    """Raise StaleQuantizerError when the index carries a quantizer
    stamp that does not match ``centroids``; unstamped indexes (built
    without the centroids argument, or pre-r10) pass unverified — the
    stamp is opt-in at materialize time, but once present it is
    enforced everywhere."""
    from smallquery_spark.errors import StaleQuantizerError
    from smallquery_spark.operators.pq import index_gen, quantizer_token

    stamp = index_gen(spark, index_table)
    if stamp is not None and stamp != quantizer_token(centroids):
        raise StaleQuantizerError(
            f"{op}: centroids do not match index {index_table!r}'s"
            f" quantizer stamp — the index was retrained/rebuilt under"
            " different centroids; pq.load_index_meta for the current"
            " ones"
        )


def _use_pruned_scan(
    n_probed_cells: int, n_cells: int, cutoff: float = 0.25
) -> bool:
    """The route='auto' decision rule for ivf_search_indexed: push the
    probed cells as a partition-pruning IN-list only while they cover
    ≤ ``cutoff`` of the index's cells; past that, scan the whole table
    (the cell equi-join still prunes COMPUTE either way, so results
    are identical — this only picks where bytes are read).

    The measured batch-size curve behind the default
    (IVFX_INDEX_gen100.json, 2M vectors, 1024 cells, probe 64): a
    1-query probe covers 64 cells (6%) and the pruned scan wins
    (1.48 s vs 1.56 s, reading 9.4% of rows); at 5 queries coverage is
    already 26% of cells (39% of rows) and the pruned path LOSES
    locally (1.85 s vs 1.30 s — IN-list planning + scattered reads
    against a page-cached table); 50 queries cover 854/1024 cells =
    99.9% of rows, where pruning is pure overhead. cutoff=0.25 sits at
    that measured local inversion. On cold object storage, where scan
    BYTES are the cost, a higher cutoff (→ ~0.9) is right — the knob
    exists precisely because the crossover is a property of the
    storage tier, not of the algorithm."""
    return n_probed_cells <= cutoff * n_cells


def ivf_search_indexed(
    spark,
    queries: DataFrame,
    index_table: str,
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int | None = None,
    query_id: str = "q_id",
    corpus_id: str = "c_id",
    vec_col: str = "vec",
    n_corpus: int | None = None,
    route: str = "auto",
    prune_coverage_cutoff: float = 0.25,
) -> DataFrame:
    """ANN over a materialized IVF index (see materialize_ivf).
    ``n_probe=None`` derives the ivf_defaults probe (pass ``n_corpus``
    for the small-corpus candidate floor — see ivf_search).

    The probed cell ids are collected to the driver (bounded:
    ≤ n_cells ints after distinct) and — when they cover a small
    fraction of the index — pushed into the scan as an IN-list, which
    partition-prunes the index table's cell directories; only then
    does the (broadcast) probe join and the vectorized cosine run,
    over rows from the selected cells alone. `.explain` shows
    `PartitionFilters: [... cell IN (...)]` (plan-pinned in
    tests/test_plans.py).

    ``route``: ``"auto"`` (default) applies the measured batch-size
    decision rule (see _use_pruned_scan — point/small-batch lookups
    prune, large batches whose probes blanket the cells scan flat);
    ``"pruned"`` / ``"full"`` force a side (both value-identical —
    the cell equi-join restricts candidates either way).

    When the index is stamped (materialize_ivf with ``centroids``),
    the centroid argument is verified against the stamp per search
    batch and a mismatch raises StaleQuantizerError — probing with
    pre-retrain centroids picks the wrong cells and returns silently
    wrong neighbors (the PQ lifecycle hazard, identical here).
    Unstamped (pre-r10 / centroid-less) indexes run unverified, as
    before."""
    from pyspark.sql import Window

    if route not in ("auto", "pruned", "full"):
        raise ValueError(f"unknown route {route!r}")
    _verify_centroid_stamp(
        spark, index_table, centroids, "ivf_search_indexed"
    )
    if n_probe is None:
        n_probe = _default_probe(len(centroids), n_corpus)
    probes = ivf_probe_cells(
        queries, centroids, n_probe, vec_col=vec_col
    ).withColumnRenamed(vec_col, "__qvec")
    cells = [
        r["cell"] for r in probes.select("cell").distinct().collect()
    ]
    prune = route == "pruned" or (
        route == "auto"
        and _use_pruned_scan(
            len(cells), len(centroids), prune_coverage_cutoff
        )
    )
    cand = spark.table(index_table)
    if prune:
        cand = cand.filter(F.col("cell").isin(cells))
    pairs = cand.join(F.broadcast(probes), "cell").filter(
        F.col(query_id) != F.col(corpus_id)
    )
    scored = pairs.withColumn("cos", pair_cosine_udf()("__qvec", vec_col))
    w = Window.partitionBy(query_id).orderBy(
        F.col("cos").desc(), F.col(corpus_id)
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(query_id, corpus_id, "cos", "rnk")
    )


# ---------------------------------------------------------------------------
# At-rest IVF index: continuous ingest (append / compact / retrain trigger)
# ---------------------------------------------------------------------------


def append_ivf(
    spark,
    index_table: str,
    new_corpus: DataFrame,
    centroids: list[list[float]],
    corpus_id: str = "c_id",
    vec_col: str = "vec",
) -> None:
    """Append new vectors to a materialized IVF index WITHOUT the full
    rewrite ``materialize_ivf`` does: assign each new vector to its
    nearest EXISTING centroid (the same partition-local vectorized
    scoring every search probe uses) and append the rows into the
    matching cell directories.

    Value parity with a rebuild is structural, not approximate: cell
    assignment is a pure function of (vector, centroids), so the union
    of appends holds EXACTLY the rows a ``materialize_ivf`` over the
    unioned corpus would hold, and any probe reads identical candidate
    sets (oracled end-to-end by the c3_ann_ivf_append registry query).
    What appends DO degrade, slowly, is the fit between the frozen
    centroids and the drifting corpus — that is recall drift, watched
    by :func:`ivf_retrain_trigger`, and file-count growth (one file
    per touched cell per append), bounded by :func:`compact_ivf_cells`.

    Per-append cost: one narrow assignment projection over the new
    batch + one batch-sized clustered write. The at-rest index never
    rewrites — the continuous-ingest shape that keeps a 100 TB
    embedding store's ingest epoch-bounded (same posture as the
    near-dup NearDupIndex.append path).

    When the index is stamped (materialize_ivf with ``centroids``),
    the centroid argument is verified against the stamp and a
    mismatch raises StaleQuantizerError — appending rows assigned
    under DIFFERENT centroids than the index's would corrupt it
    silently (wrong inverted lists).
    """
    _verify_centroid_stamp(spark, index_table, centroids, "append_ivf")
    assigned = ivf_assign(
        new_corpus, centroids, corpus_id=corpus_id, vec_col=vec_col
    )
    (
        assigned.repartition(F.col("cell"))
        .write.mode("append")
        .partitionBy("cell")
        .saveAsTable(index_table)
    )
    spark.catalog.refreshTable(index_table)


def compact_ivf_cells(spark, index_table: str) -> int:
    """Rewrite every FRAGMENTED cell (more than one file) back to one
    file, leaving single-file cells untouched — the per-cell analogue
    of NearDupIndex's doubling compaction. Returns the number of cells
    rewritten.

    Appends add one file per touched cell; point probes then pay
    per-file open overhead inside their pruned directories. Scoping
    the rewrite to fragmented cells makes compaction cost proportional
    to data appended SINCE the last compaction (a just-compacted cell
    has one file and is skipped), so an every-K-epochs schedule gets
    the same O(log n) amortized rewrites per row as the doubling rule.

    Mechanics are scheme-aware (fsio: the fragmentation decision comes
    from one recursive listing of the table DIRECTORY — the filesystem
    truth, covering cells the catalog never registered, ADVICE r12 —
    and renames/deletes go through the Hadoop FileSystem API) and
    crash-safe: compacted cells are staged durably, then committed by
    the per-cell rename-aside swap of ``fsio.swap_children``, whose
    head recovery (``fsio.recover_children``) runs at the top of the
    next call.

    Concurrent appends: the staging read is a snapshot, so an
    ``append_ivf`` landing between stage and swap would otherwise be
    silently REPLACED by the staged (pre-append) copy of its cell. The
    swap's ``check`` (``fsio.child_unchanged``) re-lists each cell
    immediately before its renames and SKIPS any cell whose data-file
    set changed since the scan — the skipped cell stays fragmented and
    the next compaction picks it up.
    CONCURRENT MAINTENANCE (another compaction, a retrain, an epoch
    append) is excluded outright via the fsio maintenance lease
    (IndexBusyError — the single-writer assumption enforced, r12);
    plain ``append_ivf`` writers stay lease-free and are what the
    swap-safe guard protects.

    Epoch-ingest interplay (r12, ADVICE r11 medium): cells holding
    ``part-epoch-<id>.parquet`` files of an epoch WITHOUT a commit
    marker (``_epochs/epoch-<id>``) are NOT compacted — that epoch is
    in-flight (crashed mid-append, awaiting stream replay), and its
    replay resumes by those exact file names; merging them away would
    make the replay re-append the merged cells. Marked epochs' files
    merge freely: their replay short-circuits on the marker before any
    file check. Before ANY merge, the ORPHAN AUDIT runs over the same
    file index (r12): a part-epoch file of a marked epoch in a cell its
    marker does not list is the disjoint-cell divergent-replay
    signature — rows belonging to no committed epoch — and raises
    DivergentReplayError while the file-name evidence still exists.
    After the swap the epoch LEDGER is garbage-collected —
    markers no longer referenced by any remaining part-epoch file are
    dropped, except the NEWEST (the only epoch Spark can still
    replay), so the ledger stays bounded by the compaction cadence
    instead of growing one file per epoch forever.
    """
    import re

    from smallquery_spark.fsio import dir_lease, fs_for, table_location

    loc = table_location(spark, index_table)
    fs = fs_for(spark, loc)
    with dir_lease(fs, loc, "compact_ivf_cells") as lease:
        return _compact_ivf_cells_locked(spark, index_table, loc, fs, re, lease)


def _compact_ivf_cells_locked(spark, index_table: str, loc: str, fs, re, lease):
    from smallquery_spark.fsio import (
        child_unchanged,
        join_uri,
        recover_children,
        swap_children,
        work_trees,
    )

    # head recovery: restores cells a crashed compaction OR delete_ivfpq
    # left between their two renames, then clears the work trees
    if recover_children(fs, loc):
        spark.catalog.refreshTable(index_table)

    # fragmentation scan from the FILESYSTEM's file index (ADVICE r12:
    # the r12 form used spark.table(...).inputFiles(), which only
    # covers catalog-registered partitions — a cell directory that
    # never got registered (crash before MSCK in an older-protocol
    # append, an external writer) was invisible to the fragmentation
    # pass AND to the orphan audit below, so orphaned part-epoch files
    # there were never detected). fs.list_files_recursive is the same
    # truth every other protocol decision here reads — one recursive
    # LIST (a flat call on object stores, no per-directory walk), and
    # it needs no relation-cache refresh to be current. Hidden trees
    # (_epochs ledger, _meta sidecar, _append_epoch staging) are
    # excluded the way Spark's own scan excludes them. The per-cell
    # file NAMES are kept: they are the swap guard's changed-since-scan
    # baseline.
    scanned: dict[int, set[str]] = {}
    base = fs.qualified(loc)
    for f, _sz in fs.list_files_recursive(loc):
        rel = f[len(base):] if f.startswith(base) else f
        if any(seg.startswith(("_", ".")) for seg in rel.split("/") if seg):
            continue
        m = re.search(r"/cell=(\d+)/", f)
        if m and f.endswith(".parquet"):
            scanned.setdefault(int(m.group(1)), set()).add(
                f.rsplit("/", 1)[1]
            )
    # defer cells holding an UNMARKED epoch's files: that epoch is
    # in-flight and its replay resumes by file name (see docstring)
    from smallquery_spark.errors import DivergentReplayError
    from smallquery_spark.operators.pq import _epoch_marker_cells

    marker_cells = _epoch_marker_cells(fs, loc)
    marked = set(marker_cells)
    epoch_pat = re.compile(r"^part-epoch-(\d+)\.parquet$")

    # orphan audit (r12): a part-epoch file of a MARKED epoch in a cell
    # its marker does NOT list is the disjoint-cell divergent-replay
    # signature — a replay whose batch mapped to different cells left
    # the first attempt's files behind while the marker recorded only
    # its own (the one divergence shape the append's per-cell check
    # cannot see). Compaction already holds the full file index, so the
    # audit is free here — and it must run BEFORE the merge destroys
    # the file-name evidence. Fail loudly: those rows belong to no
    # committed epoch.
    for c, names in scanned.items():
        for n in names:
            m = epoch_pat.match(n)
            if m and int(m.group(1)) in marked and c not in marker_cells[
                int(m.group(1))
            ]:
                raise DivergentReplayError(
                    f"compact_ivf_cells: {index_table!r} cell {c} holds"
                    f" {n} but epoch {int(m.group(1))}'s commit marker"
                    f" does not list that cell — orphan rows from a"
                    " divergent replay whose batch mapped to different"
                    " cells; audit the source's replay behavior before"
                    " compacting"
                )

    def _has_inflight(names: set[str]) -> bool:
        return any(
            (m := epoch_pat.match(n)) and int(m.group(1)) not in marked
            for n in names
        )

    fragmented = sorted(
        c
        for c, names in scanned.items()
        if len(names) > 1 and not _has_inflight(names)
    )
    if not fragmented:
        return 0
    # stage: read ONLY the fragmented cell directories (basePath keeps
    # the cell partition column), one output file per cell via the
    # repartition, written DURABLY before any live directory moves
    rows = spark.read.option("basePath", loc).parquet(
        *[join_uri(loc, f"cell={c}") for c in fragmented]
    )
    cols = spark.table(index_table).columns
    (
        rows.select(*cols)
        .repartition(F.col("cell"))
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(work_trees(loc, "compact")[0])
    )
    # swap per cell (fsio.swap_children); a cell whose live file set
    # changed since the scan (a concurrent append landed mid-stage) is
    # skipped — swapping it would replace the appended file with the
    # staged pre-append copy
    baseline = {f"cell={c}": scanned[c] for c in fragmented}
    swapped = swap_children(
        fs,
        loc,
        "compact",
        baseline,
        lease,
        check=lambda name: child_unchanged(fs, loc, name, baseline[name]),
    )
    # epoch-ledger GC: drop markers no remaining part-epoch file
    # references, keeping the newest (the only epoch Spark can still
    # replay against its marker) — bounds the ledger to the compaction
    # cadence instead of one control file per epoch forever
    if marked:
        referenced = {
            int(m.group(1))
            for p, _ in fs.list_files_recursive(loc)
            if (m := epoch_pat.match(p.rsplit("/", 1)[1]))
        }
        from smallquery_spark.operators.pq import _epoch_marker_uri

        for e in marked - referenced - {max(marked)}:
            fs.delete(_epoch_marker_uri(loc, e))
    spark.catalog.refreshTable(index_table)
    return len(swapped)


def assignment_fit(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "vec",
) -> float:
    """Mean cosine between each vector and its NEAREST centroid — the
    quantization-fit statistic, one Arrow-vectorized pass over ``df``
    (use it on BATCHES: epoch-bounded at append time, corpus-bounded
    only if you choose to pass the corpus).

    This is the drift signal the cell histogram cannot see: a DIFFUSE
    new mode spreads across many cells, so max/mean imbalance stays
    flat (measured at gen10: an injected sigma-0.6 mode at cosine 0.38
    from every centroid left imbalance DECLINING, 6.13 -> 4.96, across
    8 appends while the mode's recall@10 sat at 0.44 — IVF_DRIFT
    artifact). Assignment fit drops immediately for such batches:
    compare each append batch's fit against the build-time corpus fit
    and retrain when the ratio crosses ~0.9 (the measured separation
    is far wider — in-distribution batches sit within noise of the
    baseline, the drift mode at roughly half). Two signals, two drift
    shapes: imbalance catches CONCENTRATED drift (a mode collapsing
    into hot cells), fit catches DIFFUSE drift (the corpus moving away
    from the quantizer wholesale)."""
    import numpy as np
    import pandas as pd

    C = np.array(centroids, dtype=np.float64)
    norms = np.linalg.norm(C, axis=1)
    Cn = (C / np.where(norms == 0, 1.0, norms)[:, None]).T  # (dim, k)

    def max_cos(v):
        X = np.stack(v.to_numpy()).astype(np.float64)
        xn = np.linalg.norm(X, axis=1, keepdims=True)
        X = X / np.where(xn == 0, 1.0, xn)
        return pd.Series((X @ Cn).max(axis=1))

    max_cos.__annotations__ = {"v": pd.Series, "return": pd.Series}
    fit_udf = F.pandas_udf(max_cos, "double")
    row = df.agg(F.avg(fit_udf(F.col(vec_col))).alias("fit")).collect()[0]
    return float(row["fit"]) if row["fit"] is not None else 0.0


def cell_counts(
    df: DataFrame, cell_col: str = "cell"
) -> dict[int, int]:
    """Per-cell row counts of an ivf_assign output (or any cell-tagged
    batch) as a driver dict — bounded by n_cells. The batch-sized
    input to an ingest loop's RUNNING histogram: fold each append's
    counts with :func:`merge_cell_counts` and pass the running dict to
    :func:`ivf_retrain_trigger` via ``cell_hist`` — per-epoch drift
    checks at O(batch) instead of O(index). See the trigger's
    docstring for the measured crossover (index ≈ 35× batch with the
    local constants, C3_STREAM_CURVE_gen100.json): below it the plain
    index scan is cheaper and stays the default."""
    return {
        r[cell_col]: r["count"]
        for r in df.groupBy(cell_col).count().collect()
    }


def merge_cell_counts(
    running: dict[int, int], batch: dict[int, int]
) -> dict[int, int]:
    """Fold a batch histogram into a running one (pure, returns the
    merged dict — callers keep the running copy they own)."""
    out = dict(running)
    for cell, n in batch.items():
        out[cell] = out.get(cell, 0) + n
    return out


# the measured fold-vs-scan crossover (C3_STREAM_CURVE_gen100.json +
# HIST_ROUTE_gen100.json): the fold re-runs the batch assignment UDF at
# ~134 µs/row while the scan is a JVM groupBy-count at ~3.5 µs/row, so
# the O(batch) fold only wins once the index outweighs the batch by
# roughly this ratio — below it the scan is both faster AND authoritative
INGEST_HIST_CROSSOVER = 35.0


class IngestHistogram:
    """Stamped running cell histogram for an ingest loop — makes the
    fold-vs-scan routing of the per-epoch drift check a measured
    DEFAULT instead of a caller knob (VERDICT r11 #3), and binds the
    running counts to the quantizer generation they describe (ADVICE
    r11: an unstamped running histogram silently diverges after a
    retrain — cells reassigned, possibly a different n_cells — and the
    trigger would evaluate drift on counts describing a dead index).

    Shape of use (the c3 streaming leg,
    queries/streaming_queries.py)::

        hist = IngestHistogram(spark, index_table, n_cells=len(cents))
        ...  # per epoch, inside foreachBatch:
        delta = append_ivfpq_epoch(..., epoch_id=eid)
        hist.fold(delta)                       # O(1): counts ride the append
        fired, stats = hist.trigger(baseline_imbalance=b)

    - ``fold`` takes :func:`~smallquery_spark.operators.pq.
      append_ivfpq_epoch`'s return — the per-cell rows that call
      ACTUALLY committed — so the running counts are exact under every
      crash/replay interleaving (a replay completing 2 of 5 cells
      folds exactly those rows; a no-op replay folds nothing).
    - ``trigger`` re-reads the index's quantizer stamp first: a
      retrain landing mid-process RE-SEEDS the histogram from one scan
      instead of evaluating drift on stale counts.
    - Routing is the measured crossover: the O(batch) fold path serves
      the trigger once ``index_rows >= INGEST_HIST_CROSSOVER x
      last_batch_rows`` (the 100 TB shape — daily batches at 0.01-0.1%
      of the index, where the O(index) scan is the one per-epoch term
      that grows without bound); below it the scan is FASTER (measured
      inversion at index = 20x batch, r11) and the scan path re-seeds
      the running counts for free, so small-ratio loops never drift.
      Decision- and stats-identical on both sides of the crossover
      (pinned in tests/test_operators_props.py)."""

    def __init__(
        self,
        spark,
        index_table: str,
        n_cells: int | None = None,
        crossover: float = INGEST_HIST_CROSSOVER,
    ) -> None:
        self._spark = spark
        self._table = index_table
        self.n_cells = n_cells
        self.crossover = crossover
        self._last_batch_rows = 0
        self._reseed()

    def _reseed(self) -> None:
        from smallquery_spark.operators.pq import index_gen

        self.gen = index_gen(self._spark, self._table)
        # refresh OUR session's relation cache first: streaming appends
        # run in a per-query CLONED session, and their refreshTable
        # invalidates only the clone's cache — without this, a histogram
        # held by the outer session scans the pre-stream file-index
        # snapshot forever and the trigger never sees a single append
        # (measured: imbalance pinned at the build value across every
        # epoch of the r12 retrain-cycle leg until this line existed)
        self._spark.catalog.refreshTable(self._table)
        self.counts: dict[int, int] = {
            int(r["cell"]): int(r["count"])
            for r in self._spark.table(self._table)
            .groupBy("cell")
            .count()
            .collect()
        }

    def fold(self, committed: dict[int, int]) -> None:
        """Fold the per-cell rows an epoch append actually committed."""
        if not committed:
            return
        self.counts = merge_cell_counts(self.counts, committed)
        self._last_batch_rows = sum(committed.values())

    def trigger(
        self,
        imbalance_bound: float = 8.0,
        baseline_imbalance: float | None = None,
    ) -> tuple[bool, dict]:
        """The per-epoch drift check, auto-routed (see class docstring).
        ``stats["source"]`` records which path answered ('fold'/'scan')."""
        from smallquery_spark.operators.pq import index_gen

        stamp = index_gen(self._spark, self._table)
        if stamp != self.gen:
            # a retrain landed since the counts were seeded/folded:
            # they describe an index that no longer exists — re-seed
            self._last_batch_rows = 0
            self._reseed()
        use_fold = (
            self._last_batch_rows > 0
            and sum(self.counts.values())
            >= self.crossover * self._last_batch_rows
        )
        if not use_fold:
            # below the crossover the scan is cheaper AND authoritative:
            # take it, and let it resync the running counts for free
            self._reseed()
        fired, stats = ivf_retrain_trigger(
            self._spark,
            self._table,
            imbalance_bound=imbalance_bound,
            baseline_imbalance=baseline_imbalance,
            n_cells=self.n_cells,
            cell_hist=self.counts,
        )
        stats["source"] = "fold" if use_fold else "scan"
        return fired, stats


def ivf_retrain_trigger(
    spark,
    index_table: str,
    imbalance_bound: float = 8.0,
    baseline_imbalance: float | None = None,
    n_cells: int | None = None,
    cell_hist: dict[int, int] | None = None,
) -> tuple[bool, dict]:
    """Decide whether the frozen coarse quantizer has drifted enough to
    retrain, from the one statistic the index itself exposes: the cell
    histogram (≤ n_cells rows — driver-bounded by construction).

    Pass ``n_cells`` (the trained centroid count) when you have it: the
    groupBy can only see NON-empty cells, so drift that EMPTIES cells
    would otherwise raise the mean and understate imbalance — exactly
    the drift signature that should fire (ADVICE r8). With ``n_cells``
    the mean uses the true cell count and ``stats["empty_cells"]`` is
    exact; without it the stats fall back to non-empty-only (and
    ``empty_cells`` is None, honestly unknown).

    Returns ``(retrain, stats)`` where stats carries n_rows, cell
    counts, max/mean cell imbalance, and the empty-cell count. Two
    modes:

    - With ``baseline_imbalance`` (the recommended shape: pass the
      imbalance recorded right after materialize_ivf), the trigger is
      RELATIVE — imbalance > 2× baseline. Drift means the corpus moved
      away from the quantizer that was fit to it; a quantizer that was
      always coarse (e.g. cells ≫ natural modes puts max/mean high
      from day one — measured 16.0 at 2M/1024 cells on a 10-mode
      fixture) should not page the operator on every append
      (IVF_APPEND_CURVE_gen100.json: flat 16.03→16.10 across 7
      appends of in-distribution data = no drift, correctly quiet).
    - Without it, the trigger is the absolute max/mean >
      ``imbalance_bound``: the right check when no baseline exists,
      sized for indexes near their natural cell count (max/mean ≈ 3-5
      for k-means centroids at cells ≈ √n, IVF_RECALL sweeps).

    Either way, the hot-cell regime is what's being watched: probe
    cost concentrates (a cell at k× mean makes every probe touching it
    pay k× the candidate budget) and recall decays. On trigger, the
    caller retrains (ivf_build_centroids over the current corpus) and
    rebuilds via materialize_ivf; appends resume against the new
    centroids.

    SCOPE: the histogram only sees CONCENTRATED drift. A diffuse new
    mode spreads across many cells and leaves imbalance flat-or-lower
    while its recall craters (measured — see :func:`assignment_fit`,
    the complementary batch-time signal for that drift shape; the
    production posture checks BOTH: this trigger per maintenance tick,
    fit per append batch).

    ``cell_hist`` (r11): a maintained ``{cell: rows}`` histogram —
    when provided, the trigger is evaluated on IT and the index is
    never scanned. The large-ratio ingest variant: fold each batch's
    :func:`cell_counts` into a running histogram and the per-epoch
    drift check costs O(batch) instead of O(index). Decision- and
    stats-identical to the scan (pinned in tests; re-confirmed every
    epoch in C3_STREAM_CURVE_gen100.json), and the measured regime is
    stated rather than assumed: at index = 20× batch the fold LOSES
    locally (5.7-9.0 s vs the scan's 3.0-4.1 s — the fold re-runs the
    batch assignment UDF at ~134 µs/row while the scan is a JVM
    groupBy-count at ~3.5 µs/row; crossover ≈ index 35× batch). The
    SCAN therefore stays the default/maintenance-tick posture;
    ``cell_hist`` is for the 100 TB shape (daily batches at 0.01-0.1%
    of the index). Ingest loops should NOT route this by hand:
    :class:`IngestHistogram` maintains the running histogram
    (exact-delta folds from the epoch append's return), guards it with
    the quantizer generation stamp (a retrain re-seeds instead of
    evaluating stale counts), and applies the measured crossover as
    the default (r12)."""
    if cell_hist is not None:
        counts = [c for c in cell_hist.values() if c > 0]
    else:
        counts = [
            r["count"]
            for r in spark.table(index_table).groupBy("cell").count().collect()
        ]
    n_rows = sum(counts)
    n_nonempty = len(counts)
    denom = n_cells if n_cells else n_nonempty
    mean = n_rows / denom if denom else 0.0
    mx = max(counts) if counts else 0
    imbalance = (mx / mean) if mean else 0.0
    stats = {
        "n_rows": n_rows,
        "n_nonempty_cells": n_nonempty,
        "empty_cells": (n_cells - n_nonempty) if n_cells else None,
        "max_cell": mx,
        "mean_cell": round(mean, 1),
        "imbalance": round(imbalance, 3),
    }
    if baseline_imbalance is not None:
        return imbalance > 2.0 * baseline_imbalance, stats
    return imbalance > imbalance_bound, stats
