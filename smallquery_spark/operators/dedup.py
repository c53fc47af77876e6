"""Deduplication operators (SURVEY.md §2 C1-C2 + training-data ops).

Five dedup strategies, each a shuffle-friendly DataFrame pipeline with
no driver-side collect (100 TB posture: everything partitions by hash
of the dedup key; skew handled by AQE):

- exact:       sha2(text) → groupBy hash → keep min id      (C1)
- minhash-lsh: shingles → MinHashLSH → approxSimilarityJoin (C2)
- simhash:     token-hash sign-sums → bucket by fingerprint
- ngram-jaccard: exact pairwise Jaccard on shingle sets (bounded input)
- embedding-cosine: near-dup pairs above a cosine threshold

SimHash/ngram/fingerprint hashes derive from md5 (standard across
engines) rather than xxhash64/murmur (engine-specific) so every
pipeline is oracle-checkable in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from smallquery_spark.functions.vectors import cosine


def tokens(col: Column | str, lowercase: bool = True) -> Column:
    """Whitespace tokenization of a text column."""
    c = F.col(col) if isinstance(col, str) else col
    if lowercase:
        c = F.lower(c)
    return F.split(F.trim(c), r"\s+")


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """n-word shingles (distinct), the unit set for Jaccard/MinHash."""
    toks = tokens(col)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
            lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
        )
    )


def py_word_shingles(s: str, n: int = 3) -> set[str]:
    """Python mirror of :func:`word_shingles` (set semantics).

    Used by the banded-MinHash signature UDF (band_keys below), whose
    recall silently degrades if this drifts from the JVM tokenization
    the exact re-check uses. Parity is pinned by
    tests/test_operators_props.py::test_py_shingles_match_jvm_word_shingles
    over adversarial inputs (empty, <n tokens, NBSP, tabs, repeated
    spaces).
    """
    import re

    ws_re = re.compile(r"\s+", re.ASCII)
    toks = ws_re.split(s.lower().strip(" "))
    return {
        " ".join(toks[i : i + n]) for i in range(max(len(toks) - n, 0) + 1)
    }


def stable_token_hash(tok: Column) -> Column:
    """64-ish-bit stable hash from md5 (first 15 hex chars → bigint).

    md5 is identical across engines; xxhash64/murmur3 are Spark-specific
    and would break oracle parity.
    """
    return F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast("bigint")


# ---------------------------------------------------------------------------
# exact dedup (C1)
# ---------------------------------------------------------------------------


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """One row per distinct text: the smallest id wins; group size kept.

    Plan: hash-partition on sha2(text) → partial+final hash agg. One
    shuffle of (hash, id) pairs only — text never moves twice.
    """
    return (
        df.withColumn("__h", F.sha2(F.col(text_col), 256))
        .groupBy("__h")
        .agg(
            F.min(id_col).alias(id_col),
            F.count("*").alias("n_copies"),
        )
        .drop("__h")
    )


# ---------------------------------------------------------------------------
# SimHash (bucketed near-dup)
# ---------------------------------------------------------------------------


def simhash(df: DataFrame, text_col: str = "text", bits: int = 16) -> DataFrame:
    """Append a ``simhash`` column: per-token stable hashes vote each bit.

    Fully relational: explode tokens → explode bit positions → sign sum
    per (doc, bit) → weighted bit reassembly. Scales as a pair of
    groupBys keyed by doc id (and AQE-coalesced); no UDF.
    """
    id_cols = [c for c in df.columns]
    toks = df.withColumn("__tok", F.explode(F.array_distinct(tokens(text_col))))
    toks = toks.withColumn("__th", stable_token_hash(F.col("__tok")))
    bitted = toks.select(
        *id_cols,
        F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("__bit"),
        F.col("__th"),
    ).withColumn(
        "__vote",
        F.when(F.expr("(__th >> __bit) & 1") == 1, 1).otherwise(-1),
    )
    votes = bitted.groupBy(*id_cols, "__bit").agg(F.sum("__vote").alias("__s"))
    return (
        votes.withColumn(
            "__bitval",
            F.when(F.col("__s") > 0, F.expr("CAST(1 AS BIGINT) << __bit")).otherwise(0),
        )
        .groupBy(*id_cols)
        .agg(F.sum("__bitval").cast("bigint").alias("simhash"))
    )


# ---------------------------------------------------------------------------
# exact n-gram Jaccard pairs
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    prefilter_size_ratio: float = 0.5,
) -> DataFrame:
    """All (i < j) pairs with shingle-set Jaccard ≥ threshold.

    Quadratic by nature — callers bound the input (sample or LSH-bucket
    first; see minhash_lsh_pairs for the scalable candidate generator).
    A size-ratio prefilter (|A|/|B| ≥ threshold is necessary for
    J ≥ threshold) cuts the candidate space before the set intersection.
    """
    sh = df.select(
        F.col(id_col), word_shingles(text_col, n).alias("__sh")
    ).withColumn("__sz", F.size("__sh"))
    a = sh.select(
        F.col(id_col).alias("a_id"),
        F.col("__sh").alias("a_sh"),
        F.col("__sz").alias("a_sz"),
    )
    b = sh.select(
        F.col(id_col).alias("b_id"),
        F.col("__sh").alias("b_sh"),
        F.col("__sz").alias("b_sz"),
    )
    pairs = a.join(b, F.col("a_id") < F.col("b_id")).filter(
        (F.least("a_sz", "b_sz") / F.greatest("a_sz", "b_sz"))
        >= F.lit(prefilter_size_ratio)
    )
    inter = F.size(F.array_intersect("a_sh", "b_sh"))
    union = F.col("a_sz") + F.col("b_sz") - inter
    return (
        pairs.withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH (the scale path for near-dup)
# ---------------------------------------------------------------------------


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hash_tables: int = 8,
    jaccard_threshold: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """Candidate near-dup pairs via MinHashLSH over shingle sets.

    shingle → HashingTF (sparse binary set vector) → MinHashLSH →
    approxSimilarityJoin at distance ≤ 1 - threshold. Banding/bucketing
    happens inside the LSH join: complexity is governed by bucket
    collisions, not n² — the 100 TB path. Exact Jaccard re-check of the
    candidates is the caller's job (see tierc queries: LSH recall is
    validated against ngram_jaccard_pairs on the same input).
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    sh = df.select(F.col(id_col), word_shingles(text_col, n).alias("shingles"))
    sh = sh.filter(F.size("shingles") > 0)
    tf = HashingTF(
        inputCol="shingles", outputCol="features", numFeatures=1 << 18, binary=True
    )
    feat = tf.transform(sh)
    lsh = MinHashLSH(
        inputCol="features",
        outputCol="hashes",
        numHashTables=num_hash_tables,
        seed=seed,
    )
    model = lsh.fit(feat)
    joined = model.approxSimilarityJoin(
        feat, feat, 1.0 - jaccard_threshold, distCol="jaccard_dist"
    )
    return (
        joined.select(
            F.col(f"datasetA.{id_col}").alias("a_id"),
            F.col(f"datasetB.{id_col}").alias("b_id"),
            (1.0 - F.col("jaccard_dist")).alias("est_jaccard"),
        )
        .filter(F.col("a_id") < F.col("b_id"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# banded MinHash (native (b, r) LSH — the 1B-doc path)
# ---------------------------------------------------------------------------


def banded_config(threshold: float, hash_budget: int = 24) -> tuple[int, int]:
    """Derive ``(bands, rows_per_band)`` from the caller's Jaccard
    threshold via the LSH S-curve — the decision rule the round-7 scale
    runs proved out by hand.

    The collision probability of a pair at similarity s under (b, r)
    banding is 1 - (1 - s^r)^b, an S-curve whose midpoint sits at
    ~(1/b)^(1/r). Two forces pull on (b, r):

    - recall at the threshold needs the midpoint AT or BELOW t, i.e.
      b ≥ (1/t)^r — more bands;
    - candidate false-positive mass below t shrinks as s^r per band —
      more rows per band. This is THE scale lever: at 5M short docs
      with t=0.5, (b=8, r=2) produced 38M false-positive candidate
      pairs per 620k-doc epoch (cost creep, drift 1.77, and a
      non-spillable hash-build failure in an 8g heap), while r=3 cut
      per-band FP from s² to s³ (~1000×) and made the same ingest
      curve flat (drift 0.95, C2_STREAM_CURVE_5M_bucketed_r3.json) —
      with identical final pairs, because the exact re-check keeps
      precision 1.0 at any (b, r).

    So: pick the LARGEST r whose required band count b = ceil((1/t)^r)
    still fits the signature budget b·r ≤ hash_budget. b ≥ (1/t)^r
    guarantees collision probability ≥ 1-(1-1/b)^b ≥ 1-1/e ≈ 0.63 at
    s = t, rising steeply above (near-dups at s ≈ 0.9 under the t=0.5
    default collide with prob 1-2.7e-5); maximizing r minimizes
    sub-threshold candidate mass within that guarantee.

    The default budget (24 hashes/doc) reproduces the measured flat
    posture at t=0.5 — (8, 3) — exactly; budget 64 reproduces the
    (16, 4) config whose 5M-doc recall was measured at 0.978
    (LSH_SCALE_5M_t05_cfg.json). Raising the budget buys recall at the
    margin at linear signature cost.
    """
    import math

    if not (0.0 < threshold < 1.0):
        raise ValueError(f"threshold must be in (0, 1), got {threshold}")
    if hash_budget < 2:
        raise ValueError(f"hash_budget must be >= 2, got {hash_budget}")
    best: tuple[int, int] | None = None
    for r in range(1, hash_budget + 1):
        b = math.ceil((1.0 / threshold) ** r)
        if b * r <= hash_budget:
            best = (b, r)
        elif best is not None:
            break  # b grows with r: once over budget, always over
    if best is None:
        # threshold so low even r=1 can't reach (1/t) bands: use every
        # hash as its own band (pure OR) — the closest budget allows
        return (hash_budget, 1)
    return best


def _banded_sig_df(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    bands: int = 8,
    rows_per_band: int = 2,
) -> DataFrame:
    """(id, band keys, 60-bit shingle hashes, shingle count) per doc —
    ONE Arrow pass producing everything the banded pipeline needs:

    - ``__keys``:   b band keys (md5 over r consecutive minhashes)
    - ``__hashes``: the doc's distinct shingle hashes (15-hex md5
      prefixes, sorted int64) — both hash families derive from the SAME
      per-shingle md5 digest, so this adds no extra digest work
    - ``__sz``:     |shingle set|

    The hash array powers the cheap re-check stage: Jaccard over 60-bit
    hash sets is an upper bound on string-set Jaccard (collisions only
    merge elements, inflating the ratio), so filtering on it keeps a
    SUPERSET of the true pairs — exactness still comes from the final
    string check, which then runs on survivors only.
    """
    import hashlib
    import random

    import numpy as np
    import pandas as pd

    br = bands * rows_per_band
    prime = 2147483647  # 2^31 - 1; a*x+b < 2^62 — exact in int64
    rnd = random.Random(1_000_003 * n + br)
    a_perm = np.array(
        [rnd.randrange(1, prime) for _ in range(br)], dtype="int64"
    )
    b_perm = np.array(
        [rnd.randrange(0, prime) for _ in range(br)], dtype="int64"
    )

    def sig(text):
        keys_out, hash_out = [], []
        for s in text:
            if s is None:
                keys_out.append(None)
                hash_out.append(None)
                continue
            # parity with the JVM word_shingles() is pinned by test —
            # the exact re-check uses the JVM sets, so any drift here
            # silently costs recall, never precision.
            shingles = py_word_shingles(s, n)
            digs = [
                hashlib.md5(sg.encode("utf-8")).hexdigest() for sg in shingles
            ]
            h = np.array([int(d[:7], 16) for d in digs], dtype="int64")
            hash_out.append(sorted({int(d[:15], 16) for d in digs}))
            sg_min = (
                (a_perm[:, None] * h[None, :] + b_perm[:, None]) % prime
            ).min(axis=1)
            keys_out.append(
                [
                    hashlib.md5(
                        ",".join(
                            str(v)
                            for v in sg_min[
                                j * rows_per_band : (j + 1) * rows_per_band
                            ]
                        ).encode("utf-8")
                    ).hexdigest()
                    for j in range(bands)
                ]
            )
        return pd.DataFrame({"keys": keys_out, "hashes": hash_out})

    sig.__annotations__ = {"text": pd.Series, "return": pd.DataFrame}
    sig_udf = F.pandas_udf(
        sig, "keys array<string>, hashes array<bigint>"
    ).asNondeterministic()

    return df.select(F.col(id_col), sig_udf(F.col(text_col)).alias("__s")).select(
        id_col,
        F.col("__s.keys").alias("__keys"),
        F.col("__s.hashes").alias("__hashes"),
        F.size("__s.hashes").alias("__sz"),
    )


def _hash_jaccard_udf():
    """Arrow-vectorized Jaccard over two sorted-distinct int64 hash
    arrays. np.intersect1d(assume_unique) — valid because the arrays
    are deduped at construction."""
    import numpy as np
    import pandas as pd

    def hjac(a, b):
        out = []
        for x, y in zip(a, b):
            i = len(np.intersect1d(x, y, assume_unique=True))
            out.append(i / (len(x) + len(y) - i))
        return pd.Series(out)

    hjac.__annotations__ = {"a": pd.Series, "b": pd.Series, "return": pd.Series}
    return F.pandas_udf(hjac, "double").asNondeterministic()


def banded_minhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    bands: int | None = None,
    rows_per_band: int | None = None,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs via native banded MinHash with AND-composition.

    ``bands``/``rows_per_band`` default to the threshold-derived
    S-curve posture (:func:`banded_config` — t=0.5 → (8, 3), the
    measured flat-ingest config); pass both to pin a shape explicitly.

    Spark ML's MinHashLSH is limited to r=1 bands (one minhash per hash
    table), so every shared minhash VALUE buckets two docs — at 1B-doc
    scale the false-collision volume of hot minhash values dominates.
    This operator implements the classic (b, r) scheme:

    1. signature: the classic Broder construction — each shingle is
       hashed ONCE (md5-derived 28-bit value), then b·r seeded affine
       permutations h_i(x) = (a_i·x + b_i) mod p (p = 2^31-1, exact in
       int64) are min-folded over the shingle hashes. Signatures and
       band keys are produced by one Arrow-vectorized pandas UDF per
       doc: a narrow projection, NO explode, NO shuffle. (An earlier
       all-expression version re-ran md5 per (hash index x shingle) —
       b·r times more digests — and higher-order lambdas evaluate
       interpreted, ~2 ms/doc; the vectorized pass is ~50x cheaper.)
    2. band keys: md5 over each band's r consecutive signature values
       (AND-composition: a band collides only if ALL r minhashes agree
       → collision probability s^r per band, 1-(1-s^r)^b overall).
    3. bucket join: posexplode to (band, key) and self-equi-join — the
       only corpus-sized shuffle, keyed on (band, md5) which is uniform
       by construction. Shingle COUNTS ride along, so the necessary
       condition J ≥ t ⇒ min(|A|,|B|)/max(|A|,|B|) ≥ t prunes inside
       the join with zero extra joins.
    4. hash re-check: surviving candidates join their 60-bit shingle-
       hash arrays (compact int64 payloads) and keep hash-set Jaccard ≥
       threshold. This filter is probabilistically safe, not
       structurally: a hash collision WITHIN one doc's shingle set can
       shrink that set and push hash-Jaccard slightly below true
       Jaccard (e.g. A={a,b}, B={a,b,c} with h(a)=h(b): true 2/3,
       hash 1/2) — at 60 bits the per-pair probability is ~2^-60, i.e.
       no expected loss below ~10^17 shingle pairs; the same caveat
       covers the hash-set size used by the stage-3 prune.
    5. exact re-check: the handful of hash survivors re-join their
       STRING shingle sets — semi-join-reduced to surviving ids first,
       so the expensive JVM shingle expressions run on ~|pairs| docs,
       not the corpus — and keep true Jaccard ≥ threshold. Precision
       1.0 by construction (relational, oracle-checkable — the
       correctness contract lives here, not in the hash family).

    Round-5 cost profile at 1M docs, (b,r)=(8,2), t=0.5 (the staged
    rewrite): signatures 11s; bucket join 7s (13.5M raw collisions →
    9.1M after the size prune); hash re-check 16s (→ exactly the 71,480
    true pairs); exact string check on survivors ~5s. The round-4 shape
    — string-array re-check against full-corpus sides — cost 104s for
    the same answer (measured: the arrays were shuffled per candidate
    and word_shingles re-evaluated per side over all 1M docs).

    The signature frame is persisted across its four consumers and the
    (pairs-sized) result is localCheckpoint-ed so the cache can be
    released before returning — the standard materialize-signatures
    shape of production LSH dedup. The returned DataFrame is therefore
    EAGER (already computed), unlike most operators in this package.
    """
    if bands is None or rows_per_band is None:
        d_bands, d_rows = banded_config(threshold)
        bands = d_bands if bands is None else bands
        rows_per_band = d_rows if rows_per_band is None else rows_per_band
    enr = _banded_sig_df(
        df,
        text_col=text_col,
        id_col=id_col,
        n=n,
        bands=bands,
        rows_per_band=rows_per_band,
    ).persist()
    try:
        banded = enr.select(
            id_col, "__sz", F.posexplode("__keys").alias("__band", "__bkey")
        )
        a = banded.select(
            F.col(id_col).alias("a_id"),
            F.col("__sz").alias("a_sz"),
            "__band",
            "__bkey",
        )
        b = banded.select(
            F.col(id_col).alias("b_id"),
            F.col("__sz").alias("b_sz"),
            "__band",
            "__bkey",
        )
        cand = (
            a.join(b, ["__band", "__bkey"])
            .filter(
                (F.col("a_id") < F.col("b_id"))
                & (
                    F.least("a_sz", "b_sz") / F.greatest("a_sz", "b_sz")
                    >= F.lit(threshold)
                )
            )
            .select("a_id", "b_id")
            .distinct()
        )
        ha = enr.select(
            F.col(id_col).alias("a_id"), F.col("__hashes").alias("a_h")
        )
        hb = enr.select(
            F.col(id_col).alias("b_id"), F.col("__hashes").alias("b_h")
        )
        surv = (
            cand.join(ha, "a_id")
            .join(hb, "b_id")
            .withColumn("__hj", _hash_jaccard_udf()("a_h", "b_h"))
            .filter(F.col("__hj") >= threshold)
            .select("a_id", "b_id")
            # pairs-sized; materialize ONCE — it fans out to three
            # consumers below (the result branch and both semi-join id
            # sides), and each would otherwise re-run the bucket join +
            # hash re-check under it (measured 3× cost at 1M docs)
            .localCheckpoint(eager=True)
        )
        # exact string re-check on survivors only: reduce the shingle
        # sides to surviving ids BEFORE computing the (interpreted-HOF)
        # shingle expressions over them
        ids = (
            surv.select(F.col("a_id").alias(id_col))
            .unionByName(surv.select(F.col("b_id").alias(id_col)))
            .distinct()
        )
        sh = (
            df.join(ids, id_col, "left_semi")
            .select(F.col(id_col), word_shingles(text_col, n).alias("__sh"))
            .filter(F.size("__sh") > 0)
        )
        sa = sh.select(F.col(id_col).alias("a_id"), F.col("__sh").alias("a_sh"))
        sb = sh.select(F.col(id_col).alias("b_id"), F.col("__sh").alias("b_sh"))
        inter = F.size(F.array_intersect("a_sh", "b_sh"))
        union = F.size("a_sh") + F.size("b_sh") - inter
        result = (
            surv.join(sa, "a_id")
            .join(sb, "b_id")
            .withColumn("jaccard", inter / union)
            .filter(F.col("jaccard") >= threshold)
            .select("a_id", "b_id", "jaccard")
        )
        # pairs-sized; materializes now so `enr` can be dropped
        return result.localCheckpoint(eager=True)
    finally:
        enr.unpersist()


# ---------------------------------------------------------------------------
# embedding-cosine near-dup
# ---------------------------------------------------------------------------


def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
) -> DataFrame:
    """(i < j) pairs with cosine ≥ threshold. Quadratic reference
    implementation; the scale path buckets with random-projection LSH
    first (see similarity.ann_lsh)."""
    a = df.select(F.col(id_col).alias("a_id"), F.col(vec_col).alias("a_v"))
    b = df.select(F.col(id_col).alias("b_id"), F.col(vec_col).alias("b_v"))
    return (
        a.join(b, F.col("a_id") < F.col("b_id"))
        .withColumn("cos", cosine("a_v", "b_v"))
        .filter(F.col("cos") >= threshold)
        .select("a_id", "b_id", "cos")
    )


# ---------------------------------------------------------------------------
# Streaming ingest step (incremental near-dup vs a persistent index)
# ---------------------------------------------------------------------------


def neardup_ingest_step(
    sig_df: DataFrame,
    index_df: DataFrame | None,
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """One micro-batch of streaming near-dup dedup: the survivors of
    ``sig_df`` (a `_banded_sig_df` frame: id, __keys, __hashes, __sz).

    A document is DROPPED when it is hash-Jaccard-similar (≥ threshold)
    to a smaller-id document in its own batch, or to ANY document in
    ``index_df`` — the already-accepted corpus (same signature schema).
    The caller appends the survivors to the index, which is exactly the
    steady-state ingest loop of a training-data pipeline: candidate
    generation is the banded (b, r) bucket join against both the batch
    itself and the at-rest index (band keys only — accepted TEXT never
    moves), and the similarity rule is the same 60-bit hash-set Jaccard
    the batch operator uses (see banded_minhash_pairs step 4 for why
    that is probabilistically exact).

    At 100 TB the index side is a bucketed table partitioned by band
    key; each micro-batch shuffles only its own signatures.
    """
    exploded = sig_df.select(
        F.col(id_col),
        F.col("__sz"),
        F.col("__hashes"),
        F.posexplode("__keys").alias("__band", "__bkey"),
    )
    new_side = exploded.select(
        F.col(id_col).alias("n_id"),
        F.col("__sz").alias("n_sz"),
        F.col("__hashes").alias("n_h"),
        "__band",
        "__bkey",
    )
    old_in_batch = exploded.select(
        F.col(id_col).alias("o_id"),
        F.col("__sz").alias("o_sz"),
        F.col("__hashes").alias("o_h"),
        "__band",
        "__bkey",
    )
    cand = new_side.join(old_in_batch, ["__band", "__bkey"]).filter(
        F.col("o_id") < F.col("n_id")
    )
    if index_df is not None:
        idx = index_df.select(
            F.col(id_col).alias("o_id"),
            F.col("__sz").alias("o_sz"),
            F.col("__hashes").alias("o_h"),
            F.posexplode("__keys").alias("__band", "__bkey"),
        )
        cand = cand.unionByName(
            new_side.join(idx, ["__band", "__bkey"]),
            allowMissingColumns=False,
        )
    dropped = (
        cand.filter(
            F.least("n_sz", "o_sz") / F.greatest("n_sz", "o_sz")
            >= F.lit(threshold)
        )
        .dropDuplicates(["n_id", "o_id"])
        .withColumn("__hj", _hash_jaccard_udf()("n_h", "o_h"))
        .filter(F.col("__hj") >= threshold)
        .select(F.col("n_id").alias(id_col))
        .distinct()
    )
    return sig_df.join(dropped, id_col, "left_anti")
