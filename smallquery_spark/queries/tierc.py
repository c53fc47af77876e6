"""Tier C queries — LLM-data-pipeline operators (SURVEY.md §2 C1-C6).

Dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding
cosine), similarity search (brute force + LSH ANN), text analysis
(tokens, quality, lang-id, fingerprint), embedding ops, multimodal
plumbing. Approximate pipelines (LSH) use the validated-boolean
pattern: Spark computes the recall/precision contract against the exact
answer and emits booleans; the oracle emits TRUE.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from smallquery_spark.functions.vectors import cosine, dot, l2_normalize, norm2
from smallquery_spark.operators.dedup import (
    banded_minhash_pairs,
    embedding_neardup_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
)
from smallquery_spark.operators.multimodal import attach_fake_images, decode_image_stub
from smallquery_spark.operators.similarity import ann_lsh, knn_bruteforce
from smallquery_spark.operators.textstats import (
    bpe_ish_token_count,
    fingerprint,
    lang_id,
    quality_features,
    token_count,
)
from smallquery_spark.queries.registry import query, t


# ---------------------------------------------------------------------------
# C1 — exact dedup
# ---------------------------------------------------------------------------


@query(
    "c1_exact_dedup",
    oracle="""
    SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
    FROM documents
    GROUP BY text
    """,
    tags=("C1",),
)
def c1_exact_dedup(spark, sf_dir):
    return exact_dedup(t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# C2 — near-dup: exact n-gram Jaccard (bounded) + MinHash-LSH (validated)
# ---------------------------------------------------------------------------


@query(
    "c2_ngram_jaccard",
    oracle="""
    WITH sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, GREATEST(len(string_split(lower(trim(text)), ' ')) - 2, 1) + 1),
               i -> array_to_string(string_split(lower(trim(text)), ' ')[i:i+2], ' ')
             )) AS s
      FROM documents WHERE doc_id < 400
    )
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.s, b.s)) * 2.0
            >= 0.5 * (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) * 2.0
      AND (CAST(LEAST(len(a.s), len(b.s)) AS DOUBLE) / GREATEST(len(a.s), len(b.s))) >= 0.5
    """,
    tags=("C2",),
)
def c2_ngram_jaccard(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    return ngram_jaccard_pairs(docs, threshold=0.5)


@query(
    "c2_minhash_lsh",
    oracle="SELECT TRUE AS recall_ok, TRUE AS nonempty",
    tags=("C2",),
)
def c2_minhash_lsh(spark, sf_dir):
    """Recall contract vs exact Jaccard on a slice that provably
    contains duplicate clusters at EVERY sf: all members of the 50
    lowest-id duplicated texts plus the first 200 docs (the fixed
    doc_id<400 slice happens to hold zero near-dup pairs at sf0.1)."""
    all_docs = t(spark, sf_dir, "documents")
    dup_groups = (
        all_docs.groupBy("text")
        .agg(F.min("doc_id").alias("gid"), F.count("*").alias("nc"))
        .filter(F.col("nc") >= 2)
        .orderBy("gid")
        .limit(50)
        .select("text")
    )
    dup_members = all_docs.join(F.broadcast(dup_groups), "text", "left_semi")
    docs = dup_members.unionByName(
        all_docs.filter(F.col("doc_id") < 200)
    ).dropDuplicates(["doc_id"])
    truth = ngram_jaccard_pairs(docs, threshold=0.5).select("a_id", "b_id")
    cand = minhash_lsh_pairs(docs, jaccard_threshold=0.5).select("a_id", "b_id")
    hits = truth.join(cand, ["a_id", "b_id"], "left_semi").count()
    total = truth.count()
    found = cand.count()
    recall = hits / total if total else 1.0
    return spark.createDataFrame(
        [(recall >= 0.9, found > 0)], "recall_ok boolean, nonempty boolean"
    )


@query(
    "c2_banded_minhash",
    oracle="SELECT TRUE AS recall_ok, TRUE AS precision_ok, TRUE AS nonempty",
    tags=("C2",),
)
def c2_banded_minhash(spark, sf_dir):
    """Recall/precision contract for the native (b, r)=(8, 2) banded
    MinHash (AND-composition — the 1B-doc path Spark ML's r=1
    MinHashLSH can't express; see operators/dedup.banded_minhash_pairs).
    Same provably-duplicate-bearing slice as c2_minhash_lsh. Precision
    must be EXACTLY 1: the operator's final exact-Jaccard re-check makes
    its output a subset of the ground-truth pairs by construction."""
    all_docs = t(spark, sf_dir, "documents")
    dup_groups = (
        all_docs.groupBy("text")
        .agg(F.min("doc_id").alias("gid"), F.count("*").alias("nc"))
        .filter(F.col("nc") >= 2)
        .orderBy("gid")
        .limit(50)
        .select("text")
    )
    dup_members = all_docs.join(F.broadcast(dup_groups), "text", "left_semi")
    docs = dup_members.unionByName(
        all_docs.filter(F.col("doc_id") < 200)
    ).dropDuplicates(["doc_id"])
    truth = ngram_jaccard_pairs(docs, threshold=0.5).select("a_id", "b_id")
    cand = banded_minhash_pairs(
        docs, bands=8, rows_per_band=2, threshold=0.5
    ).select("a_id", "b_id")
    hits = truth.join(cand, ["a_id", "b_id"], "left_semi").count()
    total = truth.count()
    found = cand.count()
    recall = hits / total if total else 1.0
    precision = hits / found if found else 1.0
    return spark.createDataFrame(
        [(recall >= 0.9, precision == 1.0, found > 0)],
        "recall_ok boolean, precision_ok boolean, nonempty boolean",
    )


@query(
    "c2_simhash_buckets",
    # SimHash is md5-derived → exactly reproducible in SQL: near-dup
    # candidates = docs sharing a 16-bit fingerprint.
    oracle="""
    WITH toks AS (
      SELECT doc_id, UNNEST(list_distinct(string_split(lower(trim(text)), ' '))) AS tok
      FROM documents WHERE doc_id < 1000
    ), th AS (
      SELECT doc_id, tok,
             CAST(concat('0x', substring(md5(tok), 1, 15)) AS BIGINT) AS h
      FROM toks
    ), bits AS (
      SELECT doc_id, b.bit,
             SUM(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM th, (SELECT UNNEST(range(16)) AS bit) b
      GROUP BY doc_id, b.bit
    ), sh AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN s > 0 THEN 1 << bit ELSE 0 END) AS BIGINT) AS simhash
      FROM bits GROUP BY doc_id
    )
    SELECT simhash, COUNT(*) AS n_docs, MIN(doc_id) AS keeper
    FROM sh GROUP BY simhash HAVING COUNT(*) > 1
    """,
    tags=("C2",),
)
def c2_simhash_buckets(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 1000)
    sh = simhash(docs.select("doc_id", "text"), bits=16)
    return (
        sh.groupBy("simhash")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keeper"))
        .filter(F.col("n_docs") > 1)
    )


@query(
    "c2_embedding_neardup",
    oracle="""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings WHERE vec_id < 400
    )
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           list_inner_product(a.v, b.v)
             / (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v)))
             AS cos
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_inner_product(a.v, b.v)
            / (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v)))
          >= 0.95
    """,
    tags=("C2", "C6"),
)
def c2_embedding_neardup(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 400)
    return embedding_neardup_pairs(emb, threshold=0.95)


# ---------------------------------------------------------------------------
# C3 — similarity search
# ---------------------------------------------------------------------------


@query(
    "c3_knn_bruteforce",
    oracle="""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), q AS (SELECT * FROM e WHERE vec_id < 5),
    scored AS (
      SELECT q.vec_id AS q_id, e.vec_id AS c_id,
             list_inner_product(q.v, e.v)
               / (sqrt(list_inner_product(q.v, q.v)) * sqrt(list_inner_product(e.v, e.v)))
               AS cos
      FROM q JOIN e ON q.vec_id <> e.vec_id
    )
    SELECT q_id, c_id, cos, rnk FROM (
      SELECT q_id, c_id, cos,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rnk
      FROM scored
    ) WHERE rnk <= 10
    """,
    tags=("C3",),
)
def c3_knn_bruteforce(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    corpus = emb.select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    return knn_bruteforce(queries, corpus, k=10)


@query(
    "c3_ann_lsh",
    oracle="SELECT TRUE AS recall_ok",
    tags=("C3",),
)
def c3_ann_lsh(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("vec")
    )
    corpus = emb.select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("vec")
    )
    exact = knn_bruteforce(
        queries.select("q_id", F.col("vec").alias("q_vec")),
        corpus.select("c_id", F.col("vec").alias("c_vec")),
        k=10,
    ).select("q_id", "c_id")
    approx = ann_lsh(queries, corpus, k=10).select("q_id", "c_id")
    hits = exact.join(approx, ["q_id", "c_id"], "left_semi").count()
    recall = hits / exact.count()
    # random-projection LSH at these settings recalls the vast majority
    # of true top-10 neighbors; 0.6 is the contract floor.
    return spark.createDataFrame([(recall >= 0.6,)], "recall_ok boolean")


# ---------------------------------------------------------------------------
# C4 — text analysis
# ---------------------------------------------------------------------------


@query(
    "c4_token_counts",
    oracle="""
    SELECT doc_id,
           len(string_split(trim(text), ' ')) AS n_tokens,
           len(list_distinct(string_split(lower(trim(text)), ' '))) AS n_uniq_tokens,
           length(text) AS n_chars_m
    FROM documents
    """,
    tags=("C4",),
)
def c4_token_counts(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        F.size(
            F.array_distinct(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
        ).alias("n_uniq_tokens"),
        F.length("text").alias("n_chars_m"),
    )


@query(
    "c4_quality_score",
    oracle="""
    WITH f AS (
      SELECT doc_id,
             length(text) AS n_chars_m,
             len(string_split(lower(trim(text)), ' ')) AS n_tokens,
             CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE)
               / GREATEST(length(text), 1) AS punct_ratio,
             CAST(len(list_filter(string_split(lower(trim(text)), ' '),
                  x -> list_contains(['the','and','of','el','la','de','le','et','der','und','die','的','了','是'], x)))
                  AS DOUBLE) / GREATEST(len(string_split(lower(trim(text)), ' ')), 1)
               AS stopword_ratio
      FROM documents
    )
    SELECT doc_id, n_chars_m, n_tokens, punct_ratio, stopword_ratio,
           LEAST(1.0, GREATEST(0.0,
             0.5 * LEAST(n_tokens / 50.0, 1.0)
             + 0.3 * (1.0 - punct_ratio)
             + 0.2 * LEAST(stopword_ratio * 5.0, 1.0))) AS quality_score
    FROM f
    """,
    tags=("C4",),
)
def c4_quality_score(spark, sf_dir):
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    return quality_features(d).select(
        "doc_id",
        "n_chars_m",
        "n_tokens",
        "punct_ratio",
        "stopword_ratio",
        "quality_score",
    )


@query(
    "c4_lang_id",
    # heuristic marker-word vote; tie-break = sort (n, lang) DESC → the
    # oracle replicates the exact rule, and accuracy vs the labeled lang
    # column is also surfaced.
    oracle="""
    WITH votes AS (
      SELECT doc_id, lang,
             [
              {'n': len(list_filter(string_split(lower(trim(text)), ' '), x -> list_contains(['der','und','die'], x))), 'lang': 'de'},
              {'n': len(list_filter(string_split(lower(trim(text)), ' '), x -> list_contains(['the','and','of'], x))), 'lang': 'en'},
              {'n': len(list_filter(string_split(lower(trim(text)), ' '), x -> list_contains(['el','la','de'], x))), 'lang': 'es'},
              {'n': len(list_filter(string_split(lower(trim(text)), ' '), x -> list_contains(['le','la','et'], x))), 'lang': 'fr'},
              {'n': len(list_filter(string_split(lower(trim(text)), ' '), x -> list_contains(['的','了','是'], x))), 'lang': 'zh'}
             ] AS scores
      FROM documents
    ), best AS (
      SELECT doc_id, lang, list_reverse_sort(scores)[1] AS b FROM votes
    )
    SELECT doc_id, lang,
           CASE WHEN b.n = 0 THEN 'unknown' ELSE b.lang END AS pred_lang
    FROM best
    """,
    tags=("C4",),
)
def c4_lang_id(spark, sf_dir):
    d = t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    return lang_id(d).select("doc_id", "lang", "pred_lang")


@query(
    "c4_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(array_to_string(
             list_sort(list_distinct(string_split(lower(trim(text)), ' '))), ' '))
             AS fingerprint
    FROM documents
    """,
    tags=("C4",),
)
def c4_fingerprint(spark, sf_dir):
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    return fingerprint(d).select("doc_id", "fingerprint")


@query(
    "c4_bpe_token_count",
    oracle=r"""
    SELECT doc_id,
           len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS n_bpe_tokens
    FROM documents WHERE doc_id < 1000
    """,
    tags=("C4",),
)
def c4_bpe_token_count(spark, sf_dir):
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 1000)
    return d.select("doc_id", bpe_ish_token_count("text").alias("n_bpe_tokens"))


# ---------------------------------------------------------------------------
# C5 — multimodal columns (real plumbing, stubbed codecs)
# ---------------------------------------------------------------------------


@query(
    "c5_multimodal_schema",
    oracle="""
    SELECT doc_id,
           'image/fake' AS mime,
           'mem://img/' || CAST(doc_id AS VARCHAR) AS uri,
           CAST(doc_id % 64 + 8 AS INTEGER) AS width,
           CAST(doc_id % 48 + 6 AS INTEGER) AS height,
           length(text) + length('IMG:' || CAST(doc_id % 64 + 8 AS VARCHAR)
                 || 'x' || CAST(doc_id % 48 + 6 AS VARCHAR) || ':') AS payload_bytes
    FROM documents WHERE doc_id < 500
    """,
    tags=("C5",),
)
def c5_multimodal_schema(spark, sf_dir):
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    img = attach_fake_images(d)
    return img.select(
        "doc_id",
        "mime",
        "uri",
        "width",
        "height",
        F.length("payload").alias("payload_bytes"),
    )


@query(
    "c5_multimodal_decode",
    # The decode stub is fully deterministic (payload = "IMG:<w>x<h>:" +
    # utf-8 text; fixture text is pure ASCII so bytes == chars), so the
    # Arrow-batched mapInPandas pipeline gets a real value oracle:
    # width/height from the header, byte count, and mean byte value
    # (exact integer sum, one identical double division).
    oracle="""
    WITH p AS (
      SELECT doc_id,
             'IMG:' || CAST(doc_id % 64 + 8 AS VARCHAR) || 'x'
                    || CAST(doc_id % 48 + 6 AS VARCHAR) || ':' || text AS s
      FROM documents WHERE doc_id < 200
    )
    SELECT doc_id,
           CAST(doc_id % 64 + 8 AS INT) AS dec_width,
           CAST(doc_id % 48 + 6 AS INT) AS dec_height,
           CAST(strlen(s) AS BIGINT) AS n_bytes,
           CAST(list_sum(list_transform(range(1, CAST(strlen(s) + 1 AS INT)),
                    i -> ord(substring(s, CAST(i AS INT), 1)))) AS DOUBLE)
             / strlen(s) AS mean_pixel
    FROM p
    """,
    tags=("C5",),
)
def c5_multimodal_decode(spark, sf_dir):
    # mapInPandas decode stub — Arrow-batched, partition-parallel. Real
    # codecs drop into the same iterator body (operators/multimodal.py).
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return decode_image_stub(attach_fake_images(d))


# C5 capability-gated decode (VERDICT r2 item 7, r4 item 4): the SAME
# operator selects the best available codec tier — PIL when importable
# (any format), else the stdlib PNG codec (operators/png_codec.py:
# zlib inflate + per-scanline de-filter, no third-party dependency) —
# so an ACTUAL pixel decode executes in every environment, including
# this pip-blocked image. Both real tiers produce identical pixels
# (solid-gray PNG per doc) and share one closed-form value oracle; the
# pre-r5 header-parse stub remains only as the non-image-format
# template (c5_multimodal_decode above).
from smallquery_spark.operators.multimodal import codec_tier as _codec_tier

# Latch the probe ONCE at import: both the oracle selection (below, at
# decoration time) and the query body (at call time) read this constant,
# so a mid-process PIL install can never desynchronize oracle and
# implementation. The decode runs in executor Python workers — we assume
# driver and executors share one environment, which is true in local
# mode and standard for uniformly-provisioned clusters.
_C5_TIER = _codec_tier()  # "pil" | "png"

# Shared by the PIL and stdlib-PNG tiers: both decode the same
# solid-gray raster, so n_bytes is the PIXEL count and mean_pixel is
# exactly the fill value.
_C5_GATED_ORACLE_REAL = """
    SELECT doc_id,
           CAST(doc_id % 64 + 8 AS INT) AS dec_width,
           CAST(doc_id % 48 + 6 AS INT) AS dec_height,
           CAST((doc_id % 64 + 8) * (doc_id % 48 + 6) AS BIGINT) AS n_bytes,
           CAST(doc_id % 256 AS DOUBLE) AS mean_pixel
    FROM documents WHERE doc_id < 200
"""



@query(
    "c5_multimodal_decode_gated",
    # Both codec tiers decode the same pixels — one oracle. The stub
    # oracle is retired with the stub path (kept above for the
    # no-stdlib-codec modalities).
    oracle=_C5_GATED_ORACLE_REAL,
    tags=("C5",),
)
def c5_multimodal_decode_gated(spark, sf_dir):
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    if _C5_TIER == "pil":
        from smallquery_spark.operators.multimodal import (
            attach_real_images,
            decode_image_real,
        )

        return decode_image_real(attach_real_images(d))
    from smallquery_spark.operators.multimodal import (
        attach_png_images,
        decode_image_png,
    )

    return decode_image_png(attach_png_images(d))


# ---------------------------------------------------------------------------
# C6 — embedding ops
# ---------------------------------------------------------------------------


@query(
    "c6_embedding_ops",
    oracle="""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings WHERE vec_id < 300
    )
    SELECT vec_id,
           sqrt(list_inner_product(v, v)) AS l2,
           list_inner_product(v, v) AS self_dot,
           CASE WHEN sqrt(list_inner_product(v, v)) = 0 THEN CAST(v[1] AS DOUBLE)
                ELSE v[1] / sqrt(list_inner_product(v, v)) END AS unit_first
    FROM e
    """,
    tags=("C6",),
)
def c6_embedding_ops(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    return e.select(
        "vec_id",
        norm2("embedding").alias("l2"),
        dot("embedding", "embedding").alias("self_dot"),
        F.element_at(l2_normalize("embedding"), 1).alias("unit_first"),
    )


@query(
    "c6_cosine_to_centroid",
    # centroid = element-wise mean over label-0 embeddings; cosine of
    # every vector to it. Mean per dimension = decimal-exact? floats
    # summed in arbitrary order — instead define centroid over a FIXED
    # small set (vec_id < 8) folded in id order on both engines.
    oracle="""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), base AS (SELECT v FROM e WHERE vec_id < 8 ORDER BY vec_id),
    centroid AS (
      SELECT list_transform(range(1, 65),
                            i -> list_sum(list_transform(list(v ORDER BY vec_id), vv -> vv[i])) / 8.0) AS c
      FROM (SELECT vec_id, v FROM e WHERE vec_id < 8)
    )
    SELECT e.vec_id,
           list_inner_product(e.v, c.c)
             / (sqrt(list_inner_product(e.v, e.v)) * sqrt(list_inner_product(c.c, c.c)))
             AS cos_to_centroid
    FROM e, centroid c
    WHERE e.vec_id < 300
    """,
    tags=("C6",),
)
def c6_cosine_to_centroid(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings")
    base = (
        e.filter(F.col("vec_id") < 8)
        .orderBy("vec_id")
        .select(F.col("embedding"))
    )
    # fold the 8 vectors in vec_id order — deterministic sum per dim.
    rows = base.collect()  # 8 rows only: bounded driver work by design
    import builtins

    dims = len(rows[0][0])
    centroid = [
        builtins.sum(float(r[0][i]) for r in rows) / len(rows) for i in range(dims)
    ]
    cent_col = F.array(*[F.lit(v) for v in centroid])
    return (
        e.filter(F.col("vec_id") < 300)
        .select("vec_id", cosine("embedding", cent_col).alias("cos_to_centroid"))
    )


# ---------------------------------------------------------------------------
# C10 — end-to-end training-data prep pipeline (the composite flagship)
# ---------------------------------------------------------------------------


@query(
    "c10_prep_pipeline",
    oracle=r"""
    WITH f AS (
      SELECT doc_id, lang, text,
             length(text) AS n_chars_m,
             len(string_split(lower(trim(text)), ' ')) AS n_tokens,
             CAST(length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS DOUBLE)
               / GREATEST(length(text), 1) AS punct_ratio,
             CAST(len(list_filter(string_split(lower(trim(text)), ' '),
                  x -> list_contains(['the','and','of','el','la','de','le','et','der','und','die','的','了','是'], x)))
                  AS DOUBLE) / GREATEST(len(string_split(lower(trim(text)), ' ')), 1)
               AS stopword_ratio
      FROM documents
    ), q AS (
      SELECT *, LEAST(1.0, GREATEST(0.0,
               0.5 * LEAST(n_tokens / 50.0, 1.0)
               + 0.3 * (1.0 - punct_ratio)
               + 0.2 * LEAST(stopword_ratio * 5.0, 1.0))) AS quality_score
      FROM f
    ), kept AS (
      SELECT * FROM q WHERE quality_score >= 0.5 AND n_tokens >= 10
    ), ex AS (
      SELECT * FROM kept
      QUALIFY ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) = 1
    ), nd AS (
      SELECT * FROM ex
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY md5(array_to_string(
          list_sort(list_distinct(string_split(lower(trim(text)), ' '))), ' '))
        ORDER BY doc_id) = 1
    )
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
           CAST(SUM(n_chars_m) AS BIGINT) AS sum_chars
    FROM nd GROUP BY lang
    """,
    tags=("C1", "C2", "C4", "C10"),
)
def c10_prep_pipeline(spark, sf_dir):
    """The whole training-data prep flow as ONE lazy DataFrame plan:
    quality filter → exact dedup → bag-of-words near-dup removal →
    per-language corpus stats. Every stage is a narrow projection or a
    keyed shuffle (no collect, no Python loop) — at 100 TB the only
    wide ops are the two dedup shuffles and the final tiny aggregation,
    and early quality filtering shrinks them first.

    Shuffle-width hygiene: both digests (sha2 for exact dedup, token
    fingerprint for near-dup) are computed in the narrow pre-shuffle
    projection and the text column is DROPPED before the first window —
    the dedup shuffles move ~80-byte rows (ids + two digests + two
    ints), not document bodies. At 100 TB that is the difference
    between shuffling the corpus twice and shuffling a fingerprint
    table twice. (Deduping near-dups on survivors-of-exact equals
    deduping on fingerprint keys directly because equal texts imply
    equal fingerprints, but the two-stage form is kept: it mirrors the
    declared C1 -> C2 pipeline and the oracle.)"""
    from pyspark.sql import Window

    d = t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    q = quality_features(d, with_fingerprint=True)
    kept = q.filter((F.col("quality_score") >= 0.5) & (F.col("n_tokens") >= 10))
    # Shuffle-key hygiene (VERDICT r1): partition the exact-dedup window
    # by the 32-byte sha2 digest, not the full document text — same
    # asymptotics, far smaller shuffle keys at 100 TB (C1 does the same).
    slim = kept.select(
        "doc_id",
        "lang",
        "n_tokens",
        "n_chars_m",
        F.sha2(F.col("text"), 256).alias("__sha"),
        "fingerprint",
    )
    w_text = Window.partitionBy("__sha").orderBy("doc_id")
    ex = (
        slim.withColumn("__rn", F.row_number().over(w_text))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    w_fp = Window.partitionBy("fingerprint").orderBy("doc_id")
    nd = (
        ex.withColumn("__rn", F.row_number().over(w_fp))
        .filter(F.col("__rn") == 1)
    )
    return nd.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("sum_tokens"),
        F.sum("n_chars_m").alias("sum_chars"),
    )


@query(
    "c3_ann_ivf",
    oracle="SELECT TRUE AS recall_ok, TRUE AS pruned",
    tags=("C3",),
)
def c3_ann_ivf(spark, sf_dir):
    """IVF-bucketed ANN: coarse-quantize the corpus into cells, probe
    only the n_probe nearest cells per query. The recall contract is
    validated against exact brute force; `pruned` certifies the probe
    really searched a strict subset of the corpus (the point of IVF)."""
    from smallquery_spark.operators.similarity import (
        ivf_assign,
        ivf_build_centroids,
        ivf_defaults,
        ivf_search,
    )

    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("vec")
    )
    corpus = emb.select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("vec")
    )
    # cells/probe derive from corpus size (ivf_defaults: cells ≈ √n,
    # probe = cells/16 floor 4 — the IVF_RECALL_gen100 posture), so the
    # same query is correctly sized at sf0.001 and at gen100.
    n_cells, n_probe = ivf_defaults(corpus.count())
    cents = ivf_build_centroids(corpus, n_cells=n_cells)
    # the cell assignment (centroid cosines over the full corpus) and
    # the exact baseline are each consumed by several validation actions
    # below — materialize them once instead of recomputing per action.
    assigned = ivf_assign(corpus, cents).cache()
    approx = ivf_search(queries, assigned, cents, k=10, n_probe=n_probe)

    exact = knn_bruteforce(
        queries.select("q_id", F.col("vec").alias("q_vec")),
        corpus.select("c_id", F.col("vec").alias("c_vec")),
        k=10,
    ).select("q_id", "c_id").cache()
    hits = exact.join(
        approx.select("q_id", "c_id"), ["q_id", "c_id"], "left_semi"
    ).count()
    recall = hits / exact.count()
    # "pruned" certifies the index did its job: total (query, candidate)
    # pairs actually scored is strictly fewer than the full-scan
    # |queries| x |corpus| — the whole point of IVF.
    from smallquery_spark.operators.similarity import ivf_probe_cells

    probes = ivf_probe_cells(queries, cents, n_probe).select("q_id", "cell")
    scored_pairs = probes.join(assigned, "cell").count()
    pruned = scored_pairs < queries.count() * corpus.count()
    return spark.createDataFrame(
        [(recall >= 0.6, pruned)], "recall_ok boolean, pruned boolean"
    )


@query(
    "c3_ann_ivf_indexed",
    oracle="SELECT TRUE AS same_as_unindexed, TRUE AS recall_ok, TRUE AS nonempty",
    tags=("C3", "C9"),
)
def c3_ann_ivf_indexed(spark, sf_dir):
    """ANN over the AT-REST IVF index: the cell assignment is
    materialized as a cell-partitioned table (operators/similarity.py
    materialize_ivf — one directory per inverted list, the FAISS
    layout), and each query batch's probed cells reach the scan as an
    IN-list so Spark partition-prunes the cell directories — the
    IVF scan fraction realized as IO, not just skipped arithmetic
    (plan-pinned: PartitionFilters in tests/test_plans.py).
    Contract: the indexed search returns EXACTLY the unindexed
    ivf_search's results (same centroids, same probes — the index only
    changes where bytes are read), and recall vs exact brute force
    clears the same bar as c3_ann_ivf."""
    from smallquery_spark.operators.similarity import (
        ivf_assign,
        ivf_build_centroids,
        ivf_defaults,
        ivf_search,
        ivf_search_indexed,
        materialize_ivf,
    )

    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("vec")
    )
    corpus = emb.select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("vec")
    )
    n_cells, n_probe = ivf_defaults(corpus.count())
    cents = ivf_build_centroids(corpus, n_cells=n_cells)
    assigned = ivf_assign(corpus, cents)
    tname = materialize_ivf(
        spark, assigned, f"c3q_{os.getpid()}", centroids=cents
    )  # stamped: probes verify centroids against the index (r10)
    try:
        indexed = ivf_search_indexed(
            spark, queries, tname, cents, k=10, n_probe=n_probe
        ).select("q_id", "c_id")
        plain = ivf_search(
            queries, spark.table(tname), cents, k=10, n_probe=n_probe
        ).select("q_id", "c_id")
        same = (
            indexed.exceptAll(plain).count() == 0
            and plain.exceptAll(indexed).count() == 0
        )
        exact = knn_bruteforce(
            queries.select("q_id", F.col("vec").alias("q_vec")),
            corpus.select("c_id", F.col("vec").alias("c_vec")),
            k=10,
        ).select("q_id", "c_id")
        hits = exact.join(indexed, ["q_id", "c_id"], "left_semi").count()
        total = exact.count()
        n_found = indexed.count()
        recall = hits / total if total else 1.0
        return spark.createDataFrame(
            [(same, recall >= 0.6, n_found > 0)],
            "same_as_unindexed boolean, recall_ok boolean, nonempty boolean",
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tname}")


@query(
    "c3_ann_ivf_append",
    oracle=(
        "SELECT TRUE AS same_as_rebuild, TRUE AS same_after_compact,"
        " TRUE AS compacted_some, TRUE AS nonempty, TRUE AS fit_quiet,"
        " TRUE AS fit_fires"
    ),
    tags=("C3", "C9"),
)
def c3_ann_ivf_append(spark, sf_dir):
    """Continuous-ingest path of the at-rest IVF index: build the index
    on HALF the corpus, `append_ivf` the other half against the frozen
    centroids (assign-to-existing-cells + append into cell partitions —
    no index rewrite), and verify the appended index answers probes
    EXACTLY like a full `materialize_ivf` rebuild over the union (cell
    assignment is a pure function of (vector, centroids), so parity is
    structural). Then `compact_ivf_cells` rewrites the fragmented cells
    (each append leaves one extra file per touched cell) and the same
    probe must still return the identical rows — compaction moves
    bytes, never values. This is the ingest posture that keeps a
    100 TB embedding store epoch-bounded: per-append cost is one
    narrow assignment pass + a batch-sized clustered write, with drift
    watched two ways: ivf_retrain_trigger's cell-histogram imbalance
    (concentrated drift) and assignment_fit per batch (diffuse drift —
    the shape the histogram is blind to; measured, IVF_DRIFT artifact).
    The fit contract here is scale-independent geometry (the fixture
    corpus at sf0.01 is too small for distributional claims — a
    quantizer trained on 250 rows memorizes them, so even an
    in-distribution batch reads ~0.58): a batch OF the indexed corpus
    must ratio 1.0 against the corpus fit (quiet), and the same batch
    NEGATED (cosine sign flips — the maximal diffuse drift) must
    crater the ratio (fires). The measured real-scale separation —
    in-distribution appends quiet at ~1.0, an injected sigma-0.6 mode
    at 0.35 — is the IVF_DRIFT gen100 artifact."""
    from smallquery_spark.operators.similarity import (
        append_ivf,
        assignment_fit,
        compact_ivf_cells,
        ivf_assign,
        ivf_build_centroids,
        ivf_defaults,
        ivf_search_indexed,
        materialize_ivf,
    )

    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("vec")
    )
    corpus = emb.select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("vec")
    )
    base = corpus.filter(F.col("c_id") % 2 == 0)
    arriving = corpus.filter(F.col("c_id") % 2 == 1)
    # production shape: the quantizer is trained on the corpus as of
    # index build time and FROZEN; later appends assign to it
    n_cells, n_probe = ivf_defaults(base.count())
    cents = ivf_build_centroids(base, n_cells=n_cells)
    tname = f"ivfx_c3app_{os.getpid()}"
    tname_rb = f"ivfx_c3app_rb_{os.getpid()}"
    try:
        materialize_ivf(
            spark, ivf_assign(base, cents), f"c3app_{os.getpid()}",
            centroids=cents,
        )
        base_fit = assignment_fit(spark.table(tname), cents)
        quiet_fit = assignment_fit(base, cents)
        drifted = base.withColumn("vec", F.transform("vec", lambda x: -x))
        drift_fit = assignment_fit(drifted, cents)
        fit_quiet = base_fit > 0 and quiet_fit / base_fit >= 0.9
        fit_fires = base_fit > 0 and drift_fit / base_fit < 0.9
        append_ivf(spark, tname, arriving, cents)
        materialize_ivf(
            spark, ivf_assign(corpus, cents), f"c3app_rb_{os.getpid()}",
            centroids=cents,
        )

        def probe(table):
            return ivf_search_indexed(
                spark, queries, table, cents, k=10, n_probe=n_probe
            ).select("q_id", "c_id")

        appended = probe(tname).localCheckpoint(eager=True)
        rebuilt = probe(tname_rb)
        same_append = (
            appended.exceptAll(rebuilt).count() == 0
            and rebuilt.exceptAll(appended).count() == 0
        )
        n_compacted = compact_ivf_cells(spark, tname)
        after = probe(tname)
        same_compact = (
            appended.exceptAll(after).count() == 0
            and after.exceptAll(appended).count() == 0
        )
        return spark.createDataFrame(
            [
                (
                    same_append,
                    same_compact,
                    n_compacted > 0,
                    appended.count() > 0,
                    fit_quiet,
                    fit_fires,
                )
            ],
            "same_as_rebuild boolean, same_after_compact boolean,"
            " compacted_some boolean, nonempty boolean, fit_quiet boolean,"
            " fit_fires boolean",
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tname}")
        spark.sql(f"DROP TABLE IF EXISTS {tname_rb}")


@query(
    "c3_ann_ivfpq",
    oracle=(
        "SELECT TRUE AS recall_ok, TRUE AS adc_recall_ok,"
        " TRUE AS compressed, TRUE AS route_identical,"
        " TRUE AS meta_ok, TRUE AS stale_raises"
    ),
    tags=("C3", "C9"),
)
def c3_ann_ivfpq(spark, sf_dir):
    """IVF-PQ: the at-rest IVF index with product-quantized payloads
    (operators/pq.py — residual PQ + ADC scoring + bounded exact
    rerank, the Faiss IVFPQ shape re-expressed as a cell-partitioned
    parquet table + Arrow-vectorized UDFs). Contracts: (1) reranked
    recall vs exact brute force clears the same 0.6 bar as the sibling
    IVF queries; (2) even the pure-ADC path (no full vectors read at
    all) clears it at this scale; (3) the code table is SMALLER on
    disk than the full-vector index over the identical corpus — the
    compression that justifies the operator (measured at 2M x 64-dim
    in IVFPQ_gen100.json, along with the recall regime boundary the
    operator docstring states); (4) pruned/full scan routes are
    value-identical (routing only picks where bytes are read)."""
    from smallquery_spark.fsio import fs_for, table_location
    from smallquery_spark.operators.pq import (
        ivfpq_search,
        materialize_ivfpq,
        pq_train,
    )
    from smallquery_spark.operators.similarity import (
        ivf_assign,
        ivf_build_centroids,
        ivf_defaults,
        materialize_ivf,
    )

    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("vec")
    )
    corpus = emb.select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("vec")
    )
    n_cells, n_probe = ivf_defaults(corpus.count())
    cents = ivf_build_centroids(corpus, n_cells=n_cells)
    books = pq_train(corpus, cents)  # m=16, the measured default
    assigned = ivf_assign(corpus, cents)
    name = f"c3pq_{os.getpid()}"
    t_pq = materialize_ivfpq(spark, assigned, cents, books, name)
    t_full = materialize_ivf(spark, assigned, name, centroids=cents)
    try:
        exact = knn_bruteforce(
            queries.select("q_id", F.col("vec").alias("q_vec")),
            corpus.select("c_id", F.col("vec").alias("c_vec")),
            k=10,
        ).select("q_id", "c_id").cache()
        n_exact = exact.count()

        reranked = ivfpq_search(
            spark, queries, t_pq, cents, books,
            k=10, n_probe=n_probe, rerank=4, rerank_corpus=corpus,
        ).select("q_id", "c_id")
        recall = exact.join(
            reranked, ["q_id", "c_id"], "left_semi"
        ).count() / n_exact

        adc_only = ivfpq_search(
            spark, queries, t_pq, cents, books, k=10, n_probe=n_probe
        ).select("q_id", "c_id").localCheckpoint(eager=True)
        adc_recall = exact.join(
            adc_only, ["q_id", "c_id"], "left_semi"
        ).count() / n_exact

        full_route = ivfpq_search(
            spark, queries, t_pq, cents, books,
            k=10, n_probe=n_probe, route="full",
        ).select("q_id", "c_id")
        route_same = (
            adc_only.exceptAll(full_route).count() == 0
            and full_route.exceptAll(adc_only).count() == 0
        )

        loc_pq = table_location(spark, t_pq)
        loc_full = table_location(spark, t_full)
        _, bytes_pq = fs_for(spark, loc_pq).parquet_stats(loc_pq)
        _, bytes_full = fs_for(spark, loc_full).parquet_stats(loc_full)

        # lifecycle legs (r10, VERDICT ask #1): (5) after an APPEND, a
        # probe served from reloaded at-rest meta is bit-identical to
        # one served from the builder's in-memory quantizer; (6) a
        # probe with a quantizer that doesn't match the index's
        # generation stamp RAISES instead of answering wrong.
        from smallquery_spark.errors import StaleQuantizerError
        from smallquery_spark.operators.pq import (
            append_ivfpq,
            load_index_meta,
            pq_train as _pq_train,
        )

        extra = corpus.filter(F.col("c_id") < 50).select(
            (F.col("c_id") + 10_000_000).alias("c_id"), "vec"
        )
        append_ivfpq(spark, t_pq, extra, cents, books)
        cents_l, books_l = load_index_meta(spark, t_pq)
        p_mem = ivfpq_search(
            spark, queries, t_pq, cents, books, k=10, n_probe=n_probe
        )
        p_loaded = ivfpq_search(
            spark, queries, t_pq, cents_l, books_l, k=10, n_probe=n_probe
        )
        meta_ok = (
            p_mem.exceptAll(p_loaded).count() == 0
            and p_loaded.exceptAll(p_mem).count() == 0
        )

        stale_books = _pq_train(corpus, cents, seed=99)
        try:
            ivfpq_search(
                spark, queries, t_pq, cents, stale_books, k=10, n_probe=n_probe
            )
            stale_raises = False
        except StaleQuantizerError:
            stale_raises = True

        return spark.createDataFrame(
            [
                (
                    recall >= 0.6,
                    adc_recall >= 0.6,
                    bytes_pq < bytes_full,
                    route_same,
                    meta_ok,
                    stale_raises,
                )
            ],
            "recall_ok boolean, adc_recall_ok boolean,"
            " compressed boolean, route_identical boolean,"
            " meta_ok boolean, stale_raises boolean",
        )
    finally:
        # drop_index (not plain DROP TABLE): sweeps the work trees a
        # crashed maintenance op parked beside the location
        from smallquery_spark.operators.pq import drop_index

        drop_index(spark, t_pq)
        drop_index(spark, t_full)


@query(
    "c5_image_resize",
    oracle="""
    SELECT doc_id,
           LEAST(CAST(doc_id % 64 + 8 AS INT), 32) AS out_width,
           LEAST(CAST(doc_id % 48 + 6 AS INT), 24) AS out_height
    FROM documents WHERE doc_id < 500
    """,
    tags=("C5",),
)
def c5_image_resize(spark, sf_dir):
    """mapInPandas resize plumbing: output dims are deterministic, so
    the Arrow round-trip itself is oracle-checked (payload bytes are
    checked length-wise in the smoke suite)."""
    from smallquery_spark.operators.multimodal import (
        attach_fake_images,
        resize_image_stub,
    )

    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    imgs = attach_fake_images(docs)
    return resize_image_stub(imgs).select("doc_id", "out_width", "out_height")


@query(
    "c5_audio_features",
    oracle="""
    SELECT doc_id,
           CAST(8000 + (doc_id % 3) * 4000 AS INT) AS sample_rate,
           CAST(500 + doc_id % 500 AS INT) AS n_samples,
           CAST(list_sum(list_transform(range(0, CAST(500 + doc_id % 500 AS INT)),
                    i -> ((doc_id * 7 + i * 13) % 256) * ((doc_id * 7 + i * 13) % 256)
           )) AS BIGINT) AS sum_sq,
           sqrt(CAST(list_sum(list_transform(range(0, CAST(500 + doc_id % 500 AS INT)),
                    i -> ((doc_id * 7 + i * 13) % 256) * ((doc_id * 7 + i * 13) % 256)
           )) AS DOUBLE) / CAST(500 + doc_id % 500 AS INT)) AS rms
    FROM documents WHERE doc_id < 300
    """,
    tags=("C5",),
)
def c5_audio_features(spark, sf_dir):
    """Vectorized-numpy feature extraction over the audio convention:
    sum-of-squares is integer-exact, so even the float RMS matches the
    oracle bit-for-bit (one sqrt of one exact ratio)."""
    from smallquery_spark.operators.multimodal import (
        attach_fake_audio,
        audio_features_stub,
    )

    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return audio_features_stub(attach_fake_audio(docs))


@query(
    "c4_chunk_windows",
    oracle="""
    WITH d AS (
      SELECT doc_id, string_split(lower(trim(text)), ' ') AS toks
      FROM documents WHERE doc_id < 500
    ), s AS (
      SELECT doc_id, toks, len(toks) AS n, UNNEST(range(0, len(toks), 24)) AS st
      FROM d
    )
    SELECT doc_id,
           st // 24 AS chunk_idx,
           array_to_string(toks[st + 1 : st + 32], ' ') AS chunk_text,
           CAST(LEAST(32, n - st) AS INT) AS n_chunk_tokens
    FROM s
    """,
    tags=("C4", "C10"),
)
def c4_chunk_windows(spark, sf_dir):
    """Overlapping token-window chunking (size=32, stride=24) — the
    context-window prep stage of a training pipeline, as a narrow
    posexplode fan-out (no shuffle, no UDF)."""
    from smallquery_spark.operators.textstats import chunk_tokens

    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    out = chunk_tokens(docs.select("doc_id", "text"), size=32, stride=24)
    return out.select("doc_id", "chunk_idx", "chunk_text", "n_chunk_tokens")


@query(
    "c5_frame_sample",
    oracle="""
    SELECT doc_id,
           concat('mem://img/', CAST(doc_id AS VARCHAR)) AS uri,
           UNNEST([0, 10, 20]) AS frame_idx
    FROM documents WHERE doc_id < 500
    """,
    tags=("C5",),
)
def c5_frame_sample(spark, sf_dir):
    """Video-style frame sampling plumbing: one row per sampled frame
    index (30-frame fake clips, every 10th) — the explode shape that
    feeds a per-frame decode UDF at scale."""
    from smallquery_spark.operators.multimodal import (
        attach_fake_images,
        frame_sample_stub,
    )

    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    return frame_sample_stub(attach_fake_images(docs), every_n=10)


@query(
    "c6_dimension_stats",
    oracle="""
    WITH u AS (
      SELECT vec_id, UNNEST(embedding) AS val,
             generate_subscripts(embedding, 1) - 1 AS pos
      FROM embeddings
    )
    SELECT pos, COUNT(*) AS n,
           MIN(CAST(val AS DOUBLE)) AS lo,
           MAX(CAST(val AS DOUBLE)) AS hi,
           CAST(SUM(CASE WHEN val = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
    FROM u GROUP BY pos
    """,
    tags=("C6",),
)
def c6_dimension_stats(spark, sf_dir):
    """Dimension-wise embedding QA (dead/saturated dims): posexplode the
    vector column, aggregate exact stats per position — the distributed
    column-profile of a 100 TB embedding corpus (shuffles only
    (pos, partial) pairs thanks to partial aggregation)."""
    emb = t(spark, sf_dir, "embeddings")
    return (
        emb.select(F.posexplode("embedding").alias("pos", "val"))
        .groupBy("pos")
        .agg(
            F.count("*").alias("n"),
            F.min(F.col("val").cast("double")).alias("lo"),
            F.max(F.col("val").cast("double")).alias("hi"),
            F.sum(F.when(F.col("val") == 0.0, 1).otherwise(0)).alias("n_zero"),
        )
    )


@query(
    "c6_vector_sum_pooled",
    oracle="""
    WITH u AS (
      SELECT vec_id % 5 AS grp,
             generate_subscripts(embedding, 1) - 1 AS pos,
             UNNEST(embedding) AS val
      FROM embeddings
    )
    SELECT grp, pos,
           CAST(SUM(CAST(FLOOR(CAST(val AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) AS qsum,
           COUNT(*) AS n
    FROM u GROUP BY grp, pos
    """,
    tags=("C6",),
)
def c6_vector_sum_pooled(spark, sf_dir):
    """Distributed element-wise vector pooling (the avg-pool across ROWS
    that embedding aggregation needs): posexplode to (group, pos, val),
    sum in a quantized integer domain (floor(val*1e6) — exact and
    order-independent, unlike float sums), count for the later mean.
    Partial aggregation makes the shuffle carry only (grp, pos)
    partials: 5 groups x 64 dims regardless of corpus size."""
    emb = t(spark, sf_dir, "embeddings")
    return (
        emb.select(
            (F.col("vec_id") % 5).alias("grp"),
            F.posexplode("embedding").alias("pos", "val"),
        )
        .groupBy("grp", "pos")
        .agg(
            F.sum(
                F.floor(F.col("val").cast("double") * 1000000).cast("bigint")
            ).alias("qsum"),
            F.count("*").alias("n"),
        )
    )


@query(
    "c2_levenshtein_pairs",
    # pair docs WITHIN bag-of-words fingerprint groups (same token set,
    # different order/spacing) — present at every sf, unlike exact
    # duplicates. Edit distance on the 80-char prefix, no threshold:
    # the group join already bounds the candidate set.
    oracle="""
    WITH fp AS (
      SELECT doc_id, text,
             md5(array_to_string(list_sort(list_distinct(
               string_split(lower(trim(text)), ' '))), ' ')) AS f
      FROM documents
    ), grp AS (
      SELECT f FROM fp GROUP BY f HAVING COUNT(*) >= 2
      ORDER BY MIN(doc_id) LIMIT 20
    ), pool AS (
      SELECT fp.* FROM fp JOIN grp ON fp.f = grp.f
    )
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           levenshtein(substring(a.text, 1, 80), substring(b.text, 1, 80)) AS dist
    FROM pool a JOIN pool b ON a.f = b.f AND a.doc_id < b.doc_id
    """,
    tags=("C2", "B42"),
)
def c2_levenshtein_pairs(spark, sf_dir):
    """Edit-distance scoring of near-dup CANDIDATES (members of the 20
    lowest-id bag-of-words fingerprint groups): the verify stage that at
    scale runs only within LSH/SimHash/fingerprint buckets, never
    all-pairs. Exact integer distances — oracle-identical."""
    from smallquery_spark.operators.textstats import fingerprint

    docs = fingerprint(t(spark, sf_dir, "documents").select("doc_id", "text"))
    grp = (
        docs.groupBy("fingerprint")
        .agg(F.min("doc_id").alias("gid"), F.count("*").alias("nc"))
        .filter(F.col("nc") >= 2)
        .orderBy("gid")
        .limit(20)
        .select("fingerprint")
    )
    pool = docs.join(F.broadcast(grp), "fingerprint").select(
        "fingerprint", "doc_id", F.substring("text", 1, 80).alias("head")
    )
    a = pool.select(
        F.col("fingerprint").alias("f"),
        F.col("doc_id").alias("a_id"),
        F.col("head").alias("ha"),
    )
    b = pool.select(
        F.col("fingerprint").alias("fb"),
        F.col("doc_id").alias("b_id"),
        F.col("head").alias("hb"),
    )
    return (
        a.join(b, (F.col("f") == F.col("fb")) & (F.col("a_id") < F.col("b_id")))
        .withColumn("dist", F.levenshtein("ha", "hb"))
        .select("a_id", "b_id", "dist")
    )


# ---------------------------------------------------------------------------
# C23 (beyond the reference) — intra-document repetition ratio
# ---------------------------------------------------------------------------


@query(
    "c23_repetition_ratio",
    # Word 3-grams per doc; repetition = 1 - distinct/total. All counts
    # exact ints, the ratio is one identical double division.
    oracle="""
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), ' +'),
                         x -> x <> '') AS ws
      FROM documents WHERE doc_id < 2000
    ), g AS (
      SELECT doc_id,
             list_transform(range(1, CAST(len(ws) - 1 AS INT)),
                            i -> ws[CAST(i AS INT)] || ' ' ||
                                 ws[CAST(i AS INT) + 1] || ' ' ||
                                 ws[CAST(i AS INT) + 2]) AS grams
      FROM w WHERE len(ws) >= 3
    )
    SELECT doc_id,
           CAST(len(grams) AS BIGINT) AS n_grams,
           CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct,
           1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
                   / CAST(len(grams) AS DOUBLE) AS rep_ratio
    FROM g
    """,
    tags=("C23", "C4", "B46"),
)
def c23_repetition_ratio(spark, sf_dir):
    """Repetition-based quality signal (the duplicated-n-gram fraction
    used by large-corpus quality filters): word 3-grams built with
    higher-order array functions entirely JVM-side — a narrow per-row
    projection, no shuffle, no Python. At 100 TB this runs at scan
    speed and feeds the quality-filter stage of the prep pipeline."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000)
    ws = F.filter(
        F.split(F.trim(F.col("text")), " +"), lambda x: x != F.lit("")
    )
    d = d.select("doc_id", ws.alias("ws")).filter(F.size("ws") >= 3)
    grams = F.transform(
        F.sequence(F.lit(1), F.size("ws") - 2),
        lambda i: F.concat_ws(
            " ",
            F.element_at("ws", i),
            F.element_at("ws", i + 1),
            F.element_at("ws", i + 2),
        ),
    )
    d = d.select("doc_id", grams.alias("grams"))
    return d.select(
        "doc_id",
        F.size("grams").cast("bigint").alias("n_grams"),
        F.size(F.array_distinct("grams")).cast("bigint").alias("n_distinct"),
        (
            F.lit(1.0)
            - F.size(F.array_distinct("grams")).cast("double")
            / F.size("grams").cast("double")
        ).alias("rep_ratio"),
    )


# ---------------------------------------------------------------------------
# C24 (beyond the reference) — deterministic train/val/test split
# ---------------------------------------------------------------------------


@query(
    "c24_dataset_split",
    # md5-derived uniform (the c17 reproducible-sampling primitive)
    # thresholded into named splits; verified as per-(lang, split)
    # counts so the assignment itself is value-checked.
    oracle="""
    WITH u AS (
      SELECT doc_id, lang,
             CAST(concat('0x', substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               / 4294967296.0 AS unif
      FROM documents
    )
    SELECT lang,
           CASE WHEN unif < 0.9 THEN 'train'
                WHEN unif < 0.95 THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs
    FROM u
    GROUP BY 1, 2
    """,
    tags=("C24", "C17"),
)
def c24_dataset_split(spark, sf_dir):
    """Deterministic 90/5/5 train/val/test split: the split of a doc is
    a pure function of its id (salted md5 → uniform → thresholds), so
    membership is stable across runs, engines, cluster sizes, and
    incremental ingests — new docs never reshuffle old assignments.
    The 'split:' salt decorrelates from other md5-derived samplers."""
    d = t(spark, sf_dir, "documents")
    unif = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        / F.lit(4294967296.0)
    )
    split = (
        F.when(unif < 0.9, "train").when(unif < 0.95, "val").otherwise("test")
    )
    return d.groupBy("lang", split.alias("split")).agg(
        F.count("*").alias("n_docs")
    )


@query(
    "c3_index_delete",
    oracle=(
        "SELECT TRUE AS deleted_exact, TRUE AS idempotent,"
        " TRUE AS equals_rebuild, TRUE AS probes_equal,"
        " TRUE AS empty_cell_dropped"
    ),
    tags=("C3",),
)
def c3_index_delete(spark, sf_dir):
    """Hard deletion from the at-rest ANN index (r12,
    operators/pq.py::delete_ivfpq) — the takedown/PII-removal primitive
    a 100 TB training-data index legally needs, exercised end-to-end:
    a SCATTERED id set plus one ENTIRE cell's ids are deleted from a
    materialized IVF-PQ index; the post-delete table holds EXACTLY the
    rows a rebuild over corpus-minus-ids holds, probes answer
    identically to that rebuild, the retry is a no-op (idempotent by id
    presence), and the fully-emptied cell's partition disappears from
    both the directory and the catalog. Deletion is cell-scoped work
    (only touched cells rewrite — the scale argument), lease-guarded,
    crash-recoverable through the same per-cell rename-aside rules as
    compaction (injected-kill pins in tests/test_pq.py::
    test_delete_ivfpq, including the epoch-marker interplay: a
    committed epoch replayed after its rows were deleted stays a
    no-op and the deletion sticks)."""
    from smallquery_spark.fsio import fs_for, join_uri, table_location
    from smallquery_spark.operators.pq import (
        delete_ivfpq,
        drop_index,
        ivfpq_search,
        materialize_ivfpq,
        pq_train,
    )
    from smallquery_spark.operators.similarity import (
        ivf_assign,
        ivf_build_centroids,
        ivf_defaults,
    )

    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    corpus = emb.filter(F.col("vec_id") < 300).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("vec")
    )
    n_cells, n_probe = ivf_defaults(corpus.count())
    cents = ivf_build_centroids(corpus, n_cells=n_cells)
    books = pq_train(corpus, cents)
    pid = os.getpid()
    tname = materialize_ivfpq(
        spark, ivf_assign(corpus, cents), cents, books, f"c3del_{pid}"
    )
    tname_rb = None
    try:
        loc = table_location(spark, tname)
        fs = fs_for(spark, loc)
        # victims: a scattered set + every id of one cell
        cell0 = int(
            spark.table(tname)
            .select("cell").distinct().orderBy("cell").first()[0]
        )
        cell0_ids = [
            int(r["c_id"])
            for r in spark.table(tname)
            .filter(F.col("cell") == cell0)
            .collect()
        ]
        scattered = [
            int(r["c_id"])
            for r in spark.table(tname)
            .filter(~F.col("c_id").isin(cell0_ids))
            .orderBy("c_id")
            .limit(7)
            .collect()
        ]
        victims = sorted(set(cell0_ids + scattered))
        deleted = delete_ivfpq(spark, tname, victims)
        deleted_exact = sum(deleted.values()) == len(victims)
        idempotent = delete_ivfpq(spark, tname, victims) == {}
        empty_cell_dropped = (
            not fs.exists(join_uri(loc, f"cell={cell0}"))
            and spark.table(tname).filter(F.col("cell") == cell0).count()
            == 0
        )

        kept = corpus.filter(~F.col("c_id").isin(victims))
        tname_rb = materialize_ivfpq(
            spark, ivf_assign(kept, cents), cents, books, f"c3del_rb_{pid}"
        )
        rows_a = spark.table(tname).select(
            "c_id", "cell", F.col("code").cast("string").alias("code")
        )
        rows_b = spark.table(tname_rb).select(
            "c_id", "cell", F.col("code").cast("string").alias("code")
        )
        equals_rebuild = (
            rows_a.exceptAll(rows_b).count() == 0
            and rows_b.exceptAll(rows_a).count() == 0
        )
        queries = emb.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("vec")
        )
        r1 = ivfpq_search(
            spark, queries, tname, cents, books, k=5, n_probe=n_probe
        ).localCheckpoint(eager=True)
        r2 = ivfpq_search(
            spark, queries, tname_rb, cents, books, k=5, n_probe=n_probe
        )
        probes_equal = (
            r1.exceptAll(r2).count() == 0 and r2.exceptAll(r1).count() == 0
        )
        return spark.createDataFrame(
            [
                (
                    deleted_exact,
                    idempotent,
                    equals_rebuild,
                    probes_equal,
                    empty_cell_dropped,
                )
            ],
            "deleted_exact boolean, idempotent boolean,"
            " equals_rebuild boolean, probes_equal boolean,"
            " empty_cell_dropped boolean",
        )
    finally:
        drop_index(spark, tname)
        if tname_rb is not None:
            drop_index(spark, tname_rb)


@query(
    "c_fsck_index",
    oracle=(
        "SELECT TRUE AS clean_on_healthy, TRUE AS detects_orphan,"
        " TRUE AS detects_leftover, TRUE AS readonly"
    ),
    tags=("C3",),
)
def c_fsck_index(spark, sf_dir):
    """The after-incident audit operator (r13, operators/pq.py::
    fsck_index): one READ-ONLY pass composing the integrity invariants
    the maintenance protocols enforce piecewise — epoch-marker
    fingerprints, orphaned part-epoch files (divergent replays),
    in-flight epochs, leftover aside/staging trees, lease staleness,
    stamp/meta coherence, catalog registration. Contract: a freshly
    materialized + epoch-appended index audits CLEAN; an injected
    orphan file and a leftover aside tree are each detected and named;
    and the audit moves no bytes (the recursive file listing is
    identical before and after a dirty-state run — diagnosing an
    incident must never BE maintenance). The full per-class injection
    matrix (tamper, stale lease, missing stamp, unregistered cell,
    in-flight epoch) is pinned in tests/test_pq.py::test_fsck_index."""
    from smallquery_spark.fsio import fs_for, join_uri, table_location, work_trees
    from smallquery_spark.operators.pq import (
        append_ivfpq_epoch,
        drop_index,
        fsck_index,
        materialize_ivfpq,
        pq_train,
    )
    from smallquery_spark.operators.similarity import (
        ivf_assign,
        ivf_build_centroids,
        ivf_defaults,
    )

    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    corpus = emb.filter(F.col("vec_id") < 200).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("vec")
    )
    epoch = emb.filter(
        (F.col("vec_id") >= 200) & (F.col("vec_id") < 220)
    ).select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("vec"))
    n_cells, _ = ivf_defaults(corpus.count())
    cents = ivf_build_centroids(corpus, n_cells=n_cells)
    books = pq_train(corpus, cents)
    pid = os.getpid()
    tname = materialize_ivfpq(
        spark, ivf_assign(corpus, cents), cents, books, f"fsck_{pid}"
    )
    try:
        append_ivfpq_epoch(spark, tname, epoch, cents, books, epoch_id=1)
        clean_on_healthy = fsck_index(spark, tname)["clean"]

        loc = table_location(spark, tname)
        fs = fs_for(spark, loc)
        # inject: an orphan epoch file (epoch 1's name in a cell its
        # marker does not list — use a fresh cell dir so the marker
        # cannot cover it) and a leftover aside tree
        orphan = join_uri(loc, "cell=9999", "part-epoch-0000000001.parquet")
        fs.write_text(orphan, "orphan")
        aside = work_trees(loc, "compact")[1]
        fs.mkdirs(aside)
        snap = sorted(fs.list_files_recursive(loc))
        r = fsck_index(spark, tname)
        readonly = sorted(fs.list_files_recursive(loc)) == snap
        detects_orphan = (not r["clean"]) and r["orphan_epoch_files"] == [
            orphan
        ]
        detects_leftover = bool(r["leftover_trees"])
        fs.delete(join_uri(loc, "cell=9999"))
        fs.delete(aside)
        return spark.createDataFrame(
            [(clean_on_healthy, detects_orphan, detects_leftover, readonly)],
            "clean_on_healthy boolean, detects_orphan boolean,"
            " detects_leftover boolean, readonly boolean",
        )
    finally:
        drop_index(spark, tname)


@query(
    "c_takedown_family",
    oracle=(
        "SELECT 'digest' AS store, TRUE AS deleted, TRUE AS protocol "
        "UNION ALL SELECT 'pq', TRUE, TRUE "
        "UNION ALL SELECT 'rerank', TRUE, TRUE "
        "UNION ALL SELECT 'sig', TRUE, TRUE"
    ),
    tags=("C1", "C2", "C3", "C11"),
)
def c_takedown_family(spark, sf_dir):
    """FAMILY-WIDE takedown (r13, VERDICT r12 #1): hard deletion of the
    same documents from ALL FOUR at-rest stores the pipeline
    materializes — the IVF-PQ code index (operators/pq.py:delete_ivfpq,
    r12), the id-bucketed rerank FULL-VECTOR corpus
    (pq.py:delete_rerank_corpus -> bucketing.py:delete_bucketed,
    bucket-preserving file rewrite), the C2 banded-signature index
    (neardup_index.py:NearDupIndex.delete — hash sets AND band keys),
    and the C11 digest index (takedown.py:delete_epoch_store — epoch
    dirs rewritten, ``_SUCCESS`` commit markers survive so deletions
    stick through replays). Retention policy stated once in
    operators/takedown.py: content-derived artifacts (codes, vectors,
    signatures, digests) all GO; re-ingest blocking is an explicit C33
    blocklist decision, not a dedup-index side effect.

    Per store the row carries (deleted, protocol): ``deleted`` = the
    victim rows are byte-gone and counts matched; ``protocol`` = the
    retry is a no-op (idempotence) plus the store's own invariant —
    post-delete ANN probes at a victim's own vector cannot surface it
    (pq), a re-sent copy of a deleted doc is ACCEPTED again while
    near-dup detection of survivors still works (sig — the stated
    policy), commit markers survive the rewrite (digest). Every
    protocol is lease-guarded, fenced, and crash-recoverable
    (crash-injection pins per store in tests/test_takedown.py)."""
    import tempfile

    from smallquery_spark.operators.dedup import _banded_sig_df
    from smallquery_spark.operators.neardup_index import NearDupIndex
    from smallquery_spark.operators.pq import (
        delete_ivfpq,
        delete_rerank_corpus,
        drop_index,
        ivfpq_search,
        materialize_ivfpq,
        materialize_rerank_corpus,
        pq_train,
    )
    from smallquery_spark.operators.similarity import (
        ivf_assign,
        ivf_build_centroids,
        ivf_defaults,
    )
    from smallquery_spark.operators.takedown import delete_epoch_store
    from smallquery_spark.queries.tmpdirs import prune_stale, register_cleanup
    from smallquery_spark.streaming.runner import _epoch_commit, epoch_committed

    pid = os.getpid()
    victims = [5, 17, 33]

    # --- store 1+2: IVF-PQ index + rerank full-vector corpus ----------
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    corpus = emb.filter(F.col("vec_id") < 240).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("vec")
    )
    n_cells, n_probe = ivf_defaults(corpus.count())
    cents = ivf_build_centroids(corpus, n_cells=n_cells)
    books = pq_train(corpus, cents)
    tname = materialize_ivfpq(
        spark, ivf_assign(corpus, cents), cents, books, f"tkdn_{pid}"
    )
    rr = materialize_rerank_corpus(
        spark, corpus, f"tkdn_{pid}", point_fetch=8, n_buckets=16
    )

    # --- store 3: C2 banded-signature index ----------------------------
    docs = (
        t(spark, sf_dir, "documents")
        .filter((F.col("doc_id") < 60) & F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    sigs = _banded_sig_df(docs)
    idx = NearDupIndex(spark, f"tkdn_{pid}", n_buckets=4)

    # --- store 4: C11 digest index (epoch-directory store) -------------
    prune_stale("smallquery_tkdn_")
    store = register_cleanup(tempfile.mkdtemp(prefix="smallquery_tkdn_"))
    digest_store = os.path.join(store, "digest_index")
    fps = docs.select(
        "doc_id", F.md5(F.substring("text", 1, 40)).alias("__h")
    )
    for e, pred in ((0, "doc_id < 30"), (1, "doc_id >= 30")):
        _epoch_commit(fps.filter(pred), digest_store, e)

    try:
        idx.append(sigs)
        sig_rows0 = spark.table(idx.bands_table).count()
        my_bands = (
            spark.table(idx.bands_table)
            .filter(F.col("o_id").isin(victims))
            .count()
        )

        # --- the takedown, all four stores ----------------------------
        d_pq = delete_ivfpq(spark, tname, victims)
        d_rr = delete_rerank_corpus(spark, rr, victims)
        d_sig = idx.delete(victims)
        d_dig = delete_epoch_store(spark, digest_store, victims, "doc_id")

        # --- deleted: counts matched, bytes gone -----------------------
        pq_gone = (
            sum(d_pq.values()) == len(victims)
            and spark.table(tname)
            .filter(F.col("c_id").isin(victims))
            .count()
            == 0
        )
        rr_gone = (
            d_rr == len(victims)
            and spark.table(rr).filter(F.col("c_id").isin(victims)).count()
            == 0
        )
        sig_gone = (
            d_sig == {"hashes": len(victims), "bands": my_bands}
            and spark.table(idx.hashes_table)
            .filter(F.col("o_id").isin(victims))
            .count()
            == 0
            and spark.table(idx.bands_table)
            .filter(F.col("o_id").isin(victims))
            .count()
            == 0
            and spark.table(idx.bands_table).count()
            == sig_rows0 - my_bands
        )
        dig_rows = spark.read.parquet(
            os.path.join(digest_store, "epoch_0000000000"),
            os.path.join(digest_store, "epoch_0000000001"),
        )
        dig_gone = (
            d_dig == len(victims)
            and dig_rows.filter(F.col("doc_id").isin(victims)).count() == 0
        )

        # --- protocol: idempotence + per-store invariants ---------------
        vvec = corpus.filter(F.col("c_id") == victims[0]).first()["vec"]
        probe = ivfpq_search(
            spark,
            spark.createDataFrame(
                [(0, vvec)], "q_id long, vec array<double>"
            ),
            tname,
            cents,
            books,
            k=5,
            n_probe=n_probe,
            rerank_corpus=spark.table(rr),
        )
        got = {r["c_id"] for r in probe.collect()}
        pq_proto = (
            delete_ivfpq(spark, tname, victims) == {}
            and bool(got)
            and not (got & set(victims))
        )
        rr_proto = delete_rerank_corpus(spark, rr, victims) == 0
        resend = _banded_sig_df(
            docs.filter(F.col("doc_id") == victims[0]).withColumn(
                "doc_id", F.lit(1005)
            )
        )
        dup_surv = _banded_sig_df(
            docs.filter(~F.col("doc_id").isin(victims))
            .orderBy("doc_id")
            .limit(1)
            .withColumn("doc_id", F.lit(1006))
        )
        sig_proto = (
            idx.delete(victims) == {"hashes": 0, "bands": 0}
            and idx.ingest_epoch(resend, threshold=0.5).count() == 1
            and idx.ingest_epoch(dup_surv, threshold=0.5).count() == 0
        )
        dig_proto = (
            delete_epoch_store(spark, digest_store, victims, "doc_id") == 0
            and epoch_committed(digest_store, 0)
            and epoch_committed(digest_store, 1)
        )

        return spark.createDataFrame(
            [
                ("digest", dig_gone, dig_proto),
                ("pq", pq_gone, pq_proto),
                ("rerank", rr_gone, rr_proto),
                ("sig", sig_gone, sig_proto),
            ],
            "store string, deleted boolean, protocol boolean",
        )
    finally:
        drop_index(spark, tname)
        spark.sql(f"DROP TABLE IF EXISTS {rr}")
        idx.drop()
