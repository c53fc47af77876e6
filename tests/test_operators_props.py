"""Property tests for the composite/scale operators.

The salted plans and the rollup recombination carry exactness claims
("identical to the unsalted plan", "partials recombine exactly") — these
verify them on adversarial data (hot keys, negatives, duplicates), not
just the fixture distribution.
"""

from __future__ import annotations

from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from smallquery_spark.operators.skew import salted_aggregate, salted_join


def _rows(spark, data, schema):
    return spark.createDataFrame(data, schema)


@pytest.mark.parametrize("salt_buckets", [1, 4, 32])
def test_salted_aggregate_equals_plain(spark, salt_buckets):
    # one hot key (90% of rows) + negatives + a null-valued column
    data = [("hot", Decimal(f"{i % 7 - 3}.25")) for i in range(900)]
    data += [(f"k{i % 5}", Decimal(f"{i}.10")) for i in range(100)]
    df = _rows(spark, data, "k string, v decimal(18,2)")
    got = salted_aggregate(
        df,
        keys=["k"],
        aggs={
            "n": ("v", "count"),
            "s": ("v", "sum"),
            "lo": ("v", "min"),
            "hi": ("v", "max"),
        },
        salt_buckets=salt_buckets,
    )
    want = df.groupBy("k").agg(
        F.count("v").alias("n"),
        F.sum("v").alias("s"),
        F.min("v").alias("lo"),
        F.max("v").alias("hi"),
    )
    got_rows = {r["k"]: (r["n"], r["s"], r["lo"], r["hi"]) for r in got.collect()}
    want_rows = {r["k"]: (r["n"], r["s"], r["lo"], r["hi"]) for r in want.collect()}
    assert got_rows == want_rows


def test_salted_aggregate_rejects_nonalgebraic(spark):
    df = _rows(spark, [("a", Decimal("1.00"))], "k string, v decimal(18,2)")
    with pytest.raises(ValueError, match="non-algebraic"):
        salted_aggregate(df, ["k"], {"m": ("v", "avg")})


@pytest.mark.parametrize("how", ["inner", "left"])
def test_salted_join_equals_plain(spark, how):
    left = _rows(
        spark,
        [(i % 3, f"l{i}") for i in range(300)] + [(99, "orphan")],
        "k int, lv string",
    )
    right = _rows(
        spark, [(0, "r0"), (1, "r1"), (2, "r2"), (7, "unmatched")], "k int, rv string"
    )
    got = salted_join(left, right, on=["k"], salt_buckets=8, how=how)
    want = left.join(right, ["k"], how)
    canon = lambda df: sorted(tuple(r) for r in df.select("k", "lv", "rv").collect())
    assert canon(got) == canon(want)


def test_rollup_regroup_matches_direct(spark):
    from smallquery_spark.operators.rollup_table import build_rollup

    import datetime as dt

    base = dt.datetime(2020, 1, 1)
    data = [
        (base + dt.timedelta(minutes=17 * i), f"t{i % 3}", float(i % 11) - 5.0)
        for i in range(500)
    ]
    ev = _rows(spark, data, "ts timestamp, event_type string, value double")
    hourly = build_rollup(ev, bucket="1 hour", dims=["event_type"])
    # recombine hourly partials to 1 day
    daily = (
        hourly.groupBy(F.window("bucket_start", "1 day").alias("w"), "event_type")
        .agg(F.sum("n").alias("n"), F.sum("sum_value").alias("s"))
        .select(F.col("w.start").alias("d"), "event_type", "n", "s")
    )
    direct = (
        ev.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("s"),
        )
        .select(F.col("w.start").alias("d"), "event_type", "n", "s")
    )
    canon = lambda df: sorted(tuple(r) for r in df.collect())
    assert canon(daily) == canon(direct)


def test_pack_sequences_contract(spark):
    """Sequence packing (operators/packing.py): every doc lands in
    exactly one pack, fills never exceed the budget except oversized
    singleton docs, and pack ids are dense per shard (the exact greedy
    fold is value-checked against the recursive-CTE oracle in
    c22_sequence_packing)."""
    from smallquery_spark.operators.packing import pack_sequences

    rows = [(i, ln) for i, ln in enumerate([500, 900, 3800, 100, 100,
                                            4500, 10, 3990, 20, 1])]
    df = spark.createDataFrame(rows, "doc_id long, n_chars long")
    out = pack_sequences(df, "doc_id", "n_chars", budget=4000, n_shards=2)
    got = {r["doc_id"]: r for r in out.collect()}
    assert sorted(got) == [r[0] for r in rows]  # every doc exactly once

    import collections

    fills = collections.defaultdict(list)
    for r in got.values():
        fills[(r["shard"], r["pack_seq"])].append(r["n_chars"])
    for members in fills.values():
        assert sum(members) <= 4000 or len(members) == 1  # oversized alone

    # greedy: consecutive packs within a shard can't be merged
    per_shard = collections.defaultdict(dict)
    for (shard, seq), members in fills.items():
        per_shard[shard][seq] = sum(members)
    for shard, packs in per_shard.items():
        seqs = sorted(packs)
        assert seqs == list(range(len(seqs)))  # dense pack ids


# ---------------------------------------------------------------------------
# C26 PII redaction / C27 mixture weights / C28 cluster dedup invariants
# ---------------------------------------------------------------------------


def test_pii_redaction_idempotent_and_complete(spark):
    """Scrubbing twice equals scrubbing once, and no pattern survives a
    pass — on adversarial strings (adjacent PII, PII at string edges,
    already-redacted tokens, decoys that must NOT match)."""
    from smallquery_spark.queries.llm_extra import _RE_EMAIL, _RE_IP, _RE_PHONE

    cases = [
        "a@b.co x@y.io back-to-back",
        "edge@case.com",
        "10.0.0.1",
        "call 555-1234 then 555-9999",
        "already <EMAIL> <IP> <PHONE> redacted",
        "not-an-ip 1.2.3 and half-phone 555-12",
        "mixed a@b.co 10.1.2.3 555-0000 all three",
        "trailing dot ip 1.2.3.4. and email a@b.com.",
    ]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(cases)], "i int, t string")

    def scrub(col):
        c = F.regexp_replace(col, _RE_EMAIL, "<EMAIL>")
        c = F.regexp_replace(c, _RE_IP, "<IP>")
        return F.regexp_replace(c, _RE_PHONE, "<PHONE>")

    out = df.select(
        "i",
        scrub(F.col("t")).alias("once"),
        scrub(scrub(F.col("t"))).alias("twice"),
    )
    for r in out.collect():
        assert r["once"] == r["twice"], r
    # nothing matching any pattern survives one pass
    residue = out.filter(
        F.regexp_count("once", F.lit(_RE_EMAIL))
        + F.regexp_count("once", F.lit(_RE_IP))
        + F.regexp_count("once", F.lit(_RE_PHONE))
        > 0
    )
    assert residue.count() == 0
    # decoys survive untouched
    kept = {r["i"]: r["once"] for r in out.collect()}
    assert kept[5] == "not-an-ip 1.2.3 and half-phone 555-12"


def test_mixture_weights_invariants(spark):
    """Target fractions sum to 1 and every sample rate is in (0, 1]."""
    from smallquery_spark.queries import REGISTRY, load_all
    from tests.conftest import SF_SMOKE

    load_all()
    rows = REGISTRY["c27_mixture_weights"].fn(spark, SF_SMOKE).collect()
    assert rows
    total_frac = sum(r["target_frac"] for r in rows)
    assert abs(total_frac - 1.0) < 1e-9
    for r in rows:
        assert 0.0 < r["sample_rate"] <= 1.0, r
        assert r["weight_ppm"] > 0


def test_cluster_dedup_partitions_the_slice(spark):
    """Cluster sizes sum to the slice size and keepers are distinct —
    components PARTITION the input; no doc is dropped or double-kept."""
    from smallquery_spark.queries import REGISTRY, load_all
    from tests.conftest import SF_SMOKE

    load_all()
    rows = REGISTRY["c28_cluster_dedup"].fn(spark, SF_SMOKE).collect()
    keepers = [r["keeper"] for r in rows]
    assert len(keepers) == len(set(keepers))
    # recompute the slice size the same way the query defines it
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    dup = (
        docs.groupBy("text")
        .agg(F.min("doc_id").alias("gid"), F.count("*").alias("nc"))
        .filter(F.col("nc") >= 2)
        .orderBy("gid")
        .limit(30)
        .select("text")
    )
    members = docs.join(F.broadcast(dup), "text", "left_semi")
    n_slice = (
        members.unionByName(docs.filter(F.col("doc_id") < 300))
        .dropDuplicates(["doc_id"])
        .count()
    )
    assert sum(r["n_docs"] for r in rows) == n_slice


# ---------------------------------------------------------------------------
# banded (b, r) MinHash invariants
# ---------------------------------------------------------------------------


@pytest.mark.slow  # >=15 s measured; deselected by default (r15, VERDICT r14 #1)
def test_banded_minhash_finds_dups_with_exact_precision(spark):
    """Exact duplicates MUST collide in every band (identical shingle
    sets → identical signatures), near-dups at ~0.9 Jaccard collide
    with probability 1 - 1.7e-6 (deterministic given md5), and the
    final exact re-check makes output ⊆ exact-Jaccard truth."""
    from smallquery_spark.operators.dedup import (
        banded_minhash_pairs,
        ngram_jaccard_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog near the old river bank today"
    near = base.replace("lazy", "sleepy")  # 1 token of 14 changed
    docs = [
        (0, base),
        (1, base),              # exact dup of 0
        (2, near),              # near-dup of 0/1
        (3, "completely different words about spark shuffle partitions and codegen stages"),
        (4, "unrelated text mentioning parquet footers statistics and bloom filters here"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["a_id"], r["b_id"]): r["jaccard"]
        for r in banded_minhash_pairs(df, threshold=0.5).collect()
    }
    truth = {
        (r["a_id"], r["b_id"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, threshold=0.5).collect()
    }
    # exact dup always found, with jaccard exactly 1
    assert got[(0, 1)] == 1.0
    # strong near-dups found
    assert (0, 2) in got and (1, 2) in got
    # precision 1: every reported pair is a true >= 0.5 pair with the
    # same exact jaccard value the quadratic reference computes
    for pair, j in got.items():
        assert pair in truth
        assert abs(j - truth[pair]) < 1e-12


# ---------------------------------------------------------------------------
# Arrow-vectorized text pass: Python/JVM parity
# ---------------------------------------------------------------------------


def test_text_counts_udf_matches_jvm_expressions(spark):
    """quality_features/fingerprint moved their per-doc integer counts
    into an Arrow-vectorized pandas UDF for speed; this pins the
    hand-argued parity contract against the original pure-expression
    formulation on adversarial strings: Java's ASCII-only \\w and \\s,
    trim() stripping ' ' only (not tabs/newlines), CJK counting as
    punctuation on both sides, UTF-8 byte order == codepoint order for
    the fingerprint's sorted token set, and empty-string tokenization
    yielding one empty token."""
    from smallquery_spark.operators.dedup import tokens
    from smallquery_spark.operators.textstats import (
        LANG_MARKERS,
        fingerprint,
        quality_features,
    )

    texts = [
        "",                                  # empty -> [''] token
        "   ",                               # spaces only
        "\tthe and of\n",                    # tabs/newlines NOT trimmed by trim()
        "the the the",                       # repeated stopwords
        "Hello, World! 42 _underscore_",     # ASCII punct + \w edge (_)
        "的 了 是 mixed 中文 tokens",          # CJK: punct for ASCII \w
        "a b",                          # NBSP: not ASCII \s
        "café naïve résumé",  # accented latin
        "x " * 60,                           # long, trailing space
        "UPPER lower MiXeD CaSe",
        "semi;colon:and.dots...",
        "zz yy xx ww vv uu tt ss rr qq pp oo",  # sort-order stress
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )

    got = {
        r["doc_id"]: r
        for r in fingerprint(quality_features(df)).collect()
    }

    # original pure-expression formulation (pre-vectorization)
    c = F.col("text")
    toks = tokens("text")
    n_tok = F.size(toks)
    stop = F.array([F.lit(w) for ws in LANG_MARKERS.values() for w in ws])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop, t)))
    n_punct = F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    want = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            F.length(c).alias("n_chars_m"),
            n_tok.alias("n_tokens"),
            (n_punct / F.greatest(F.length(c), F.lit(1))).alias("punct_ratio"),
            (n_stop / F.greatest(n_tok, F.lit(1))).alias("stopword_ratio"),
            F.md5(
                F.array_join(F.array_sort(F.array_distinct(toks)), " ")
            ).alias("fingerprint"),
        ).collect()
    }

    assert set(got) == set(want)
    for i in want:
        g, w = got[i], want[i]
        assert g["n_chars_m"] == w["n_chars_m"], texts[i]
        assert g["n_tokens"] == w["n_tokens"], texts[i]
        assert g["punct_ratio"] == w["punct_ratio"], texts[i]
        assert g["stopword_ratio"] == w["stopword_ratio"], texts[i]
        assert g["fingerprint"] == w["fingerprint"], texts[i]


def test_py_shingles_match_jvm_word_shingles(spark):
    """The banded-MinHash signature UDF tokenizes in Python
    (py_word_shingles) while the exact re-check uses the JVM
    word_shingles(); drift between the two silently degrades recall
    with precision staying 1.0 — i.e., invisibly. Pin set equality on
    the adversarial tokenization cases (ADVICE r4): empty, <n tokens,
    NBSP (not ASCII \\s on either side), tabs/newlines (split but NOT
    trimmed by trim()), repeated separators, case folding."""
    from smallquery_spark.operators.dedup import py_word_shingles, word_shingles

    texts = [
        "",                               # empty -> one empty shingle
        "one",                            # < n tokens
        "one two",                        # < n tokens
        "one two three",                  # exactly n
        "one two three four five",        # > n
        "\tlead tab and\ninner newline",  # \s+ splits, trim() keeps
        "nb sp stays one token x",   # NBSP: not ASCII \s
        "  double  spaces   collapse  ",  # repeated separators
        "MiXeD CaSe FOLDS lower",
        "trailing space ",
        " café naïve résumé tokens",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    jvm = {
        r["doc_id"]: set(r["sh"])
        for r in df.select(
            "doc_id", word_shingles("text", 3).alias("sh")
        ).collect()
    }
    for i, t in enumerate(texts):
        assert py_word_shingles(t, 3) == jvm[i], repr(t)


def test_png_codec_roundtrip_and_filters():
    """Pure-stdlib PNG codec (operators/png_codec.py): encoder→decoder
    roundtrip on gradient + solid rasters, and decoder conformance on
    ALL five scanline filter types via hand-filtered fixtures (our
    encoder only emits filter 0, but libpng-encoded files in the wild
    use all of them — a decoder that only handles 0 would look green
    here and fail on real data)."""
    import struct
    import zlib

    from smallquery_spark.operators.png_codec import (
        _chunk,
        _SIG,
        png_decode,
        png_encode_gray,
    )

    # roundtrip: gradient raster exercises value diversity
    w, h = 13, 7
    pixels = bytes((3 * x + 11 * y) % 256 for y in range(h) for x in range(w))
    wd, hd, ch, raster = png_decode(png_encode_gray(w, h, pixels))
    assert (wd, hd, ch) == (w, h, 1)
    assert bytes(raster) == pixels

    # hand-filter the same raster with each filter type, per the spec's
    # reconstruction equations, and check the decoder inverts them
    def filtered(ftype: int) -> bytes:
        rows = []
        prev = bytes(w)
        for y in range(h):
            line = pixels[y * w : (y + 1) * w]
            out = bytearray([ftype])
            for x in range(w):
                left = line[x - 1] if x else 0
                up = prev[x]
                ul = prev[x - 1] if (x and y) else 0
                if ftype == 0:
                    out.append(line[x])
                elif ftype == 1:
                    out.append((line[x] - left) & 0xFF)
                elif ftype == 2:
                    out.append((line[x] - up) & 0xFF)
                elif ftype == 3:
                    out.append((line[x] - (left + up) // 2) & 0xFF)
                else:  # 4: Paeth
                    p = left + up - ul
                    pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                    pred = left if (pa <= pb and pa <= pc) else (up if pb <= pc else ul)
                    out.append((line[x] - pred) & 0xFF)
            rows.append(bytes(out))
            prev = line
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
        return (
            _SIG
            + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(b"".join(rows)))
            + _chunk(b"IEND", b"")
        )

    for ftype in range(5):
        _, _, _, got = png_decode(filtered(ftype))
        assert bytes(got) == pixels, f"filter {ftype} mis-decoded"

    # out-of-scope inputs fail loudly, never silently wrong
    import pytest

    with pytest.raises(ValueError):
        png_decode(b"GIF89a not a png")
    bad_depth = struct.pack(">IIBBBBB", 4, 4, 16, 0, 0, 0, 0)
    with pytest.raises(ValueError):
        png_decode(_SIG + _chunk(b"IHDR", bad_depth))


def test_neardup_ingest_step_semantics(spark):
    """One ingest step drops exactly: (a) docs similar to a smaller-id
    doc in the same batch, (b) docs similar to anything in the index —
    and keeps everything else. Similarity here is the banded pipeline's
    hash-set Jaccard at threshold 0.5; identical texts are Jaccard 1.0,
    disjoint texts 0.0, so the fixture is unambiguous."""
    from smallquery_spark.operators.dedup import (
        _banded_sig_df,
        neardup_ingest_step,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    other = "completely different words about parquet shuffles and state"
    third = "a third unrelated sentence mentioning broadcast joins only"
    index_docs = spark.createDataFrame(
        [(1, base)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [
            (10, base),    # dup of the INDEX doc -> dropped (cross)
            (11, other),   # fresh -> kept
            (12, other),   # dup of smaller-id 11 in-batch -> dropped
            (13, third),   # fresh -> kept
        ],
        "doc_id long, text string",
    )
    idx = _banded_sig_df(index_docs)
    surv = neardup_ingest_step(_banded_sig_df(batch), idx, threshold=0.5)
    kept = sorted(r["doc_id"] for r in surv.select("doc_id").collect())
    assert kept == [11, 13]

    # no index (first epoch): only the in-batch rule applies
    surv0 = neardup_ingest_step(_banded_sig_df(batch), None, threshold=0.5)
    kept0 = sorted(r["doc_id"] for r in surv0.select("doc_id").collect())
    assert kept0 == [10, 11, 13]


@pytest.mark.slow  # >=10 s measured; deselected by default (r15, VERDICT r14 #1)
def test_neardup_index_matches_ingest_step(spark):
    """The BUCKETED at-rest index path (operators/neardup_index) is
    value-identical to `neardup_ingest_step` run epoch-by-epoch over
    the same slices — the bucketed layout, the 60-bit band-key
    truncation, and the __bk-only join (both admit extra candidates)
    must never change the survivor set. Replay safety is pinned too:
    re-running an epoch whose survivors were already appended (the
    crash-between-append-and-commit window) returns the SAME set."""
    import os

    from pyspark.sql import functions as F

    from smallquery_spark.operators.dedup import (
        _banded_sig_df,
        neardup_ingest_step,
    )
    from smallquery_spark.operators.neardup_index import NearDupIndex
    from tests.conftest import SF_SMOKE

    docs = spark.read.parquet(
        os.path.join(SF_SMOKE, "documents.parquet")
    ).select("doc_id", "text")
    # 3 hash-split epochs (adversarial: near-dup pairs straddle epochs)
    epochs = [
        docs.filter(F.abs(F.hash("doc_id")) % 3 == i).localCheckpoint()
        for i in range(3)
    ]
    ref_idx, ref_ids = None, []
    for ep in epochs:
        surv = neardup_ingest_step(
            _banded_sig_df(ep), ref_idx, threshold=0.5
        ).localCheckpoint(eager=True)
        ref_idx = surv if ref_idx is None else ref_idx.unionByName(surv)
        ref_ids.extend(r.doc_id for r in surv.select("doc_id").collect())

    ndx = NearDupIndex(spark, f"proptest_{os.getpid()}", n_buckets=4)
    ndx.drop()
    try:
        got_ids = []
        last_sig = None
        for ep in epochs:
            sig = _banded_sig_df(ep)
            surv = ndx.ingest_epoch(sig, threshold=0.5)
            ndx.append(surv)
            got_ids.extend(r.doc_id for r in surv.select("doc_id").collect())
            last_sig = (sig, [r.doc_id for r in surv.select("doc_id").collect()])
        assert sorted(got_ids) == sorted(ref_ids)
        assert ndx.doc_count() == len(ref_ids)
        # replay the LAST epoch against an index that already holds its
        # survivors: self-exclusion must make it a fixed point
        sig, prev = last_sig
        again = ndx.ingest_epoch(sig, threshold=0.5)
        got_again = sorted(r.doc_id for r in again.select("doc_id").collect())
        assert got_again == sorted(prev)
    finally:
        ndx.drop()


def test_diskguard_footprint_and_preflight():
    """The scale-run preflight reports a sane disk picture and refuses
    impossible budgets (the r6 5M ingest died mid-run on spill disk;
    runs must fail BEFORE doing an hour of work)."""
    import pytest

    from tools.diskguard import footprint, preflight

    fp = footprint()
    assert fp["free_gb"] > 0 and fp["total_gb"] >= fp["free_gb"]
    ok = preflight(0.001)
    assert ok["required_gb"] == 0.001
    with pytest.raises(RuntimeError, match="diskguard"):
        preflight(10_000_000)


def test_neardup_index_compact_preserves_and_flattens(spark):
    """compact() rewrites both index tables to one file per bucket
    without changing a single row, and maybe_compact follows the
    doubling rule (no-op until the index doubles past the last
    compaction point)."""
    import glob
    import os
    from urllib.parse import urlparse

    from smallquery_spark.operators.dedup import _banded_sig_df
    from smallquery_spark.operators.neardup_index import NearDupIndex
    from tests.conftest import SF_SMOKE

    docs = spark.read.parquet(
        os.path.join(SF_SMOKE, "documents.parquet")
    ).select("doc_id", "text")
    ndx = NearDupIndex(spark, f"cmp_{os.getpid()}", n_buckets=4)
    ndx.drop()
    try:
        sig = _banded_sig_df(docs).localCheckpoint(eager=True)
        for _ in range(3):  # 3 appends -> 3 files per bucket
            # guard off: this test WANTS the same rows appended thrice
            # (file-count mechanics); the guard's own behavior is
            # pinned in test_neardup_index_append_guard
            ndx.append(sig, guard_existing=False)
        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path

        def nfiles(t):
            return len(
                glob.glob(os.path.join(wh, t, "part-*"))
            )

        before_rows = spark.table(ndx.bands_table).count()
        before_hash_rows = spark.table(ndx.hashes_table).count()
        assert nfiles(ndx.bands_table) >= 3 * 4
        assert ndx.maybe_compact()  # 0 -> doubled, compacts
        assert nfiles(ndx.bands_table) == 4  # one file per bucket
        assert nfiles(ndx.hashes_table) == 4
        assert spark.table(ndx.bands_table).count() == before_rows
        assert spark.table(ndx.hashes_table).count() == before_hash_rows
        # doubling rule: immediately re-running is a no-op
        assert not ndx.maybe_compact()
        # and the compacted table still answers the ingest join
        surv = ndx.ingest_epoch(sig, threshold=0.5)
        assert surv.count() >= 0
    finally:
        ndx.drop()


def test_ivf_defaults_posture():
    """Pin the corpus-size-derived IVF sizing (IVF_RECALL_gen100
    posture): cells ≈ √n as a power of two in [16, 4096]; probe is the
    at-scale cells/16 ratio with a 256-candidate floor for tiny corpora
    and a cells/2 cap so the index always prunes."""
    from smallquery_spark.operators.similarity import ivf_defaults

    assert ivf_defaults(2_000_000) == (1024, 64)  # cells/16 at scale
    assert ivf_defaults(200_000) == (512, 32)
    cells, probe = ivf_defaults(500)  # tiny corpus: candidate floor
    assert cells == 16 and probe == 8  # = cells/2 cap, still pruning
    for n in (1, 50, 500, 2_000, 10**9):
        cells, probe = ivf_defaults(n)
        assert 16 <= cells <= 4096 and cells & (cells - 1) == 0
        assert 1 <= probe <= cells // 2 or cells == 16 and probe <= 8


def test_default_probe_fallback_matches_ivf_defaults():
    """ivf_search's n_probe=None fallback (`_default_probe`) applies the
    SAME candidate floor as ivf_defaults when the corpus size is known
    — the old bare cells/16 fallback under-probed tiny corpora in
    exactly the way ivf_defaults' comment documents as collapsing
    recall@10 below 0.6 (n=500: 4 of 16 cells)."""
    from smallquery_spark.operators.similarity import (
        _default_probe,
        ivf_defaults,
    )

    for n in (500, 2_000, 200_000, 2_000_000):
        cells, probe = ivf_defaults(n)
        assert _default_probe(cells, n) == probe
    # without a corpus count only the at-scale ratio can apply
    assert _default_probe(1024) == 64
    assert _default_probe(16) == 4  # floor-4, ratio-only
    assert _default_probe(16, 500) == 8  # floor reaches the cells/2 cap


def test_neardup_index_append_guard(spark):
    """append()'s default guard_existing makes at-least-once id
    delivery safe at the INDEX level: re-appending ids the hashes table
    already holds is a no-op (no duplicate index rows, no candidate
    inflation), while genuinely new ids in the same batch still land."""
    import os

    from pyspark.sql import functions as F

    from smallquery_spark.operators.dedup import _banded_sig_df
    from smallquery_spark.operators.neardup_index import NearDupIndex
    from tests.conftest import SF_SMOKE

    docs = spark.read.parquet(
        os.path.join(SF_SMOKE, "documents.parquet")
    ).select("doc_id", "text")
    first = docs.filter(F.col("doc_id") < 40)
    resend = docs.filter(F.col("doc_id") < 60)  # 40 re-sent + 20 new
    ndx = NearDupIndex(spark, f"guard_{os.getpid()}", n_buckets=4)
    ndx.drop()
    try:
        sig1 = _banded_sig_df(first).localCheckpoint(eager=True)
        ndx.append(sig1)
        n1 = ndx.doc_count()
        band1 = spark.table(ndx.bands_table).count()
        ndx.append(sig1)  # pure replay: nothing changes
        assert ndx.doc_count() == n1
        assert spark.table(ndx.bands_table).count() == band1
        sig2 = _banded_sig_df(resend).localCheckpoint(eager=True)
        ndx.append(sig2)  # mixed: only the 20 new ids land, once
        assert ndx.doc_count() == resend.count()
        assert (
            spark.table(ndx.hashes_table)
            .groupBy("o_id")
            .count()
            .filter(F.col("count") > 1)
            .count()
            == 0
        )
    finally:
        ndx.drop()


def test_neardup_index_compact_crash_recovery(spark):
    """compact()'s swap is crash-safe: a crash between the two renames
    leaves the original table renamed aside (`_old`), and the next
    `exists` check restores it with zero row loss. A genuinely
    half-present index (one table without the other) raises instead of
    being treated as absent — the old behavior let the next append
    overwrite-and-discard the surviving half."""
    import os

    import pytest

    from smallquery_spark.operators.dedup import _banded_sig_df
    from smallquery_spark.operators.neardup_index import NearDupIndex
    from tests.conftest import SF_SMOKE

    docs = spark.read.parquet(
        os.path.join(SF_SMOKE, "documents.parquet")
    ).select("doc_id", "text")
    ndx = NearDupIndex(spark, f"crash_{os.getpid()}", n_buckets=4)
    ndx.drop()
    try:
        sig = _banded_sig_df(docs).localCheckpoint(eager=True)
        ndx.append(sig)
        rows = spark.table(ndx.bands_table).count()
        n_docs = ndx.doc_count()
        # simulate the crash window: live table renamed aside, temp gone
        spark.sql(
            f"ALTER TABLE {ndx.bands_table} RENAME TO {ndx.bands_table}_old"
        )
        assert ndx.exists  # _recover() renames it back
        assert spark.table(ndx.bands_table).count() == rows
        assert ndx.doc_count() == n_docs
        # half-present: hashes gone entirely -> refuse, don't guess
        spark.sql(f"DROP TABLE {ndx.hashes_table}")
        with pytest.raises(RuntimeError, match="half-present"):
            _ = ndx.exists
    finally:
        ndx.drop()


def test_banded_config_threshold_map():
    """Pin the threshold→(b, r) S-curve rule (the round-7 measurements
    it encodes: (8,3) is the flat-ingest posture at t=0.5, drift 0.95;
    (16,4) is the measured 0.978-recall batch config at budget 64)."""
    import pytest

    from smallquery_spark.operators.dedup import banded_config

    assert banded_config(0.5) == (8, 3)
    assert banded_config(0.5, hash_budget=64) == (16, 4)
    assert banded_config(0.7) == (5, 4)
    assert banded_config(0.9) == (3, 8)
    assert banded_config(0.3) == (12, 2)
    # the b >= (1/t)^r midpoint guarantee + budget hold everywhere a
    # fitting config EXISTS (when even r=1 can't reach ceil(1/t) bands,
    # the documented fallback returns (budget, 1) — closest it can get)
    import math

    for t in (0.05, 0.2, 0.35, 0.5, 0.65, 0.8, 0.95):
        for budget in (12, 24, 64):
            b, r = banded_config(t, hash_budget=budget)
            assert b * r <= budget
            assert b >= 1 and r >= 1
            if math.ceil(1.0 / t) <= budget:
                # midpoint (1/b)^(1/r) at or below the threshold
                assert (1.0 / b) ** (1.0 / r) <= t + 1e-9
            else:
                assert (b, r) == (budget, 1)
    with pytest.raises(ValueError):
        banded_config(0.0)
    with pytest.raises(ValueError):
        banded_config(1.0)


def test_neardup_index_auto_merge_fallback(spark, monkeypatch):
    """join_strategy='auto' (the default) retries an epoch with the
    spill-robust merge strategy when — and only when — the shuffle_hash
    attempt dies on the non-spillable hash-relation build (the observed
    38M-candidate failure, SCALE.md round 7). Unrelated failures
    propagate untouched."""
    import os

    import pytest

    from smallquery_spark.operators.dedup import _banded_sig_df
    from smallquery_spark.operators.neardup_index import (
        NearDupIndex,
        _is_hash_build_failure,
    )
    from tests.conftest import SF_SMOKE

    # the predicate keys on the JVM's actual wording
    assert _is_hash_build_failure(
        Exception(
            "org.apache.spark.memory.SparkOutOfMemoryError: There is not"
            " enough memory to build the hash map"
        )
    )
    assert _is_hash_build_failure(
        Exception("Can't acquire 67108864 bytes to build hash relation")
    )
    assert not _is_hash_build_failure(Exception("FileNotFoundException"))
    assert not _is_hash_build_failure(Exception("java.lang.OutOfMemoryError"))

    docs = spark.read.parquet(
        os.path.join(SF_SMOKE, "documents.parquet")
    ).select("doc_id", "text")
    sig = _banded_sig_df(docs).localCheckpoint(eager=True)

    ndx = NearDupIndex(spark, f"auto_{os.getpid()}", n_buckets=4)
    assert ndx.join_strategy == "auto"
    ndx.drop()
    try:
        first = ndx.ingest_epoch(sig, threshold=0.5)
        ndx.append(first)
        # reference: the same second epoch under pure merge
        ref = sorted(
            r.doc_id
            for r in NearDupIndex(
                spark, f"auto_{os.getpid()}", n_buckets=4,
                join_strategy="merge",
            )
            .ingest_epoch(sig, threshold=0.5)
            .select("doc_id")
            .collect()
        )

        real_plan = NearDupIndex._epoch_plan
        attempts: list[str] = []

        def failing_plan(self, sig_df, threshold, strategy):
            attempts.append(strategy)
            if strategy == "shuffle_hash":
                raise Exception(
                    "org.apache.spark.memory.SparkOutOfMemoryError: There"
                    " is not enough memory to build the hash map"
                )
            return real_plan(self, sig_df, threshold, strategy)

        monkeypatch.setattr(NearDupIndex, "_epoch_plan", failing_plan)
        surv = ndx.ingest_epoch(sig, threshold=0.5)
        assert attempts == ["shuffle_hash", "merge"]
        got = sorted(r.doc_id for r in surv.select("doc_id").collect())
        assert got == ref

        # a non-hash-build failure must NOT be retried
        def broken_plan(self, sig_df, threshold, strategy):
            raise RuntimeError("unrelated failure")

        monkeypatch.setattr(NearDupIndex, "_epoch_plan", broken_plan)
        with pytest.raises(RuntimeError, match="unrelated"):
            ndx.ingest_epoch(sig, threshold=0.5)
    finally:
        monkeypatch.undo()
        ndx.drop()


def test_diskguard_owner_alive():
    """Eviction skips warehouse artifacts whose pid suffix names a LIVE
    process — content-addressed bkt_* tables are written once (mtime
    never refreshes) and may be mid-reuse by a >24h measurement."""
    import os

    from tools.diskguard import _owner_alive

    assert _owner_alive(f"bkt_0123456789ab_{os.getpid()}")
    assert not _owner_alive("bkt_0123456789ab_999999999")  # no such pid
    assert not _owner_alive("ndx_curve_abc123")  # no pid suffix


def test_diskguard_owner_alive_eperm(monkeypatch):
    """EPERM from kill(pid, 0) means the pid EXISTS under another user
    (the multi-user shared-box case the guard was added for) — that is
    ALIVE, not dead (ADVICE r8). ESRCH stays dead."""
    import os

    from tools.diskguard import _owner_alive

    def _kill(pid, sig):
        if pid == 4242:
            raise PermissionError("[Errno 1] Operation not permitted")
        raise ProcessLookupError("[Errno 3] No such process")

    monkeypatch.setattr(os, "kill", _kill)
    assert _owner_alive("bkt_0123456789ab_4242")  # EPERM -> alive
    assert not _owner_alive("bkt_0123456789ab_4243")  # ESRCH -> dead


def test_ivf_compact_cells_preserves_untouched_cells(spark):
    """compact_ivf_cells rewrites ONLY fragmented cells (file count
    back to 1, rows identical) and must never touch — let alone drop —
    single-file cells. (Originally pinned the insertInto/dynamic-
    overwrite choice; now pins the staged-swap rewrite, which must keep
    the same only-fragmented-cells contract.)"""
    import glob
    import os
    from urllib.parse import urlparse

    from pyspark.sql import functions as F

    from smallquery_spark.operators.similarity import compact_ivf_cells

    t = f"ivfx_cmptest_{os.getpid()}"
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    try:
        base = spark.createDataFrame(
            [(i, [float(i)], i % 2) for i in range(10)],
            "c_id long, vec array<double>, cell int",
        )
        base.repartition(F.col("cell")).write.partitionBy(
            "cell"
        ).saveAsTable(t)
        extra = spark.createDataFrame(
            [(100, [1.0], 0)], "c_id long, vec array<double>, cell int"
        )
        extra.repartition(F.col("cell")).write.mode("append").partitionBy(
            "cell"
        ).saveAsTable(t)
        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path

        def nfiles(c):
            return len(
                glob.glob(os.path.join(wh, t, f"cell={c}", "part-*"))
            )

        assert nfiles(0) == 2 and nfiles(1) == 1
        before = sorted(r.c_id for r in spark.table(t).collect())
        assert compact_ivf_cells(spark, t) == 1  # only cell 0
        assert nfiles(0) == 1 and nfiles(1) == 1
        assert sorted(r.c_id for r in spark.table(t).collect()) == before
        assert spark.table(t).filter("cell=1").count() == 5  # untouched
        assert compact_ivf_cells(spark, t) == 0  # idempotent
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_ivf_retrain_trigger_modes(spark):
    """ivf_retrain_trigger: absolute mode pages on max/mean past the
    bound; baseline-relative mode (the recommended shape) pages only
    when imbalance DOUBLES past the build-time baseline — a quantizer
    that was always coarse must not page on every append
    (IVF_APPEND_CURVE_gen100: flat 16.0→16.1 = correctly quiet)."""
    import os

    from pyspark.sql import functions as F

    from smallquery_spark.operators.similarity import ivf_retrain_trigger

    t = f"ivfx_trigtest_{os.getpid()}"
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    try:
        # 3 cells: 90/9/1 rows -> mean 33.3, max/mean 2.7
        rows = (
            [(i, [0.0], 0) for i in range(90)]
            + [(100 + i, [0.0], 1) for i in range(9)]
            + [(200, [0.0], 2)]
        )
        df = spark.createDataFrame(
            rows, "c_id long, vec array<double>, cell int"
        )
        df.repartition(F.col("cell")).write.partitionBy("cell").saveAsTable(t)
        fired, stats = ivf_retrain_trigger(spark, t, imbalance_bound=2.0)
        assert fired and abs(stats["imbalance"] - 2.7) < 0.01
        fired, _ = ivf_retrain_trigger(spark, t, imbalance_bound=8.0)
        assert not fired
        # relative: 2.7 vs baseline 2.0 -> under 2x, quiet; vs 1.2 -> pages
        fired, _ = ivf_retrain_trigger(spark, t, baseline_imbalance=2.0)
        assert not fired
        fired, _ = ivf_retrain_trigger(spark, t, baseline_imbalance=1.2)
        assert fired
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_ivf_search_indexed_routes_value_identical(spark):
    """route='pruned' / 'full' / 'auto' return the SAME rows — routing
    only picks where bytes are read (the cell equi-join restricts
    candidates either way). Guards the auto router against ever
    changing results when it flips to the full scan on blanket
    coverage."""
    import os

    from pyspark.sql import functions as F

    from smallquery_spark.operators.similarity import (
        ivf_assign,
        ivf_build_centroids,
        ivf_search_indexed,
        materialize_ivf,
    )
    from tests.conftest import SF_SMOKE

    emb = spark.read.parquet(
        os.path.join(SF_SMOKE, "embeddings.parquet")
    ).select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("vec"))
    queries = emb.filter(F.col("c_id") < 5).select(
        F.col("c_id").alias("q_id"), "vec"
    )
    cents = ivf_build_centroids(emb, n_cells=16)
    tname = materialize_ivf(
        spark, ivf_assign(emb, cents), f"routetest_{os.getpid()}"
    )
    try:
        results = {}
        for route in ("pruned", "full", "auto"):
            results[route] = sorted(
                (r.q_id, r.c_id, r.rnk)
                for r in ivf_search_indexed(
                    spark, queries, tname, cents, k=5, n_probe=4,
                    route=route,
                ).collect()
            )
        assert results["pruned"] == results["full"] == results["auto"]
        assert len(results["pruned"]) > 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tname}")


def test_ivf_route_switch_point():
    """Pin ivf_search_indexed's route='auto' decision rule to the
    measured crossover (IVFX_INDEX_gen100.json): a point query probing
    64/1024 cells prunes; a 50-query batch blanketing 854/1024 cells
    scans flat; the measured local inversion (~26% coverage at 5
    queries) sits just above the default cutoff."""
    from smallquery_spark.operators.similarity import _use_pruned_scan

    assert _use_pruned_scan(64, 1024)  # q1: 6% coverage -> prune
    assert not _use_pruned_scan(271, 1024)  # q5: 26% -> full scan
    assert not _use_pruned_scan(854, 1024)  # q50: 83% -> full scan
    assert _use_pruned_scan(256, 1024)  # boundary: == cutoff prunes
    assert not _use_pruned_scan(257, 1024)
    # cold-storage posture: raising the cutoff flips the mid case
    assert _use_pruned_scan(854, 1024, cutoff=0.9)


def test_ship_zip_contains_importable_package(spark):
    """The executor-ship zip (session._ship_package) must make
    `import smallquery_spark.operators.dedup` work on a bare
    sys.path — the exact import that failed on local-cluster
    executors (ModuleNotFoundError inside UDF deserialization,
    CLUSTER_R8_gen10). Local masters skip shipping (workers fork from
    the driver), which is also pinned here."""
    import zipfile

    from smallquery_spark.session import _build_ship_zip

    zpath = _build_ship_zip()
    with zipfile.ZipFile(zpath) as z:
        names = set(z.namelist())
    # package root + the modules whose helpers ride in UDF closures
    for required in (
        "smallquery_spark/__init__.py",
        "smallquery_spark/operators/dedup.py",
        "smallquery_spark/operators/similarity.py",
        "smallquery_spark/session.py",
    ):
        assert required in names, f"{required} missing from ship zip"
    # and it actually imports from the zip alone
    import subprocess
    import sys

    proc = subprocess.run(
        [
            sys.executable,
            "-c",
            "import sys; "
            "sys.path = [sys.argv[1]] + sys.argv[2].split(':'); "
            "from smallquery_spark.operators.dedup import py_word_shingles; "
            "print(sorted(py_word_shingles('a b c d', 3)))",
            zpath,
            # stdlib still needed — give the subprocess its own stdlib
            # paths but NOT the repo cwd
            ":".join(p for p in sys.path if p and "repo" not in p),
        ],
        capture_output=True,
        text=True,
        timeout=60,
        cwd="/tmp",
    )
    assert proc.returncode == 0, proc.stderr[-500:]
    assert "a b c" in proc.stdout
    # local master: no shipping needed, and none registered
    assert spark.sparkContext.master.startswith("local[")


def test_rocksdb_state_posture(spark):
    """The rocksdb_state helper applies the measured production posture
    as ONE unit — RocksDB provider + join stateFormatVersion=3
    (B57_ROOTCAUSE_gen100.json) — and restores both confs on exit. v3
    must never leak out: under the default HDFS provider it throws
    UNSUPPORTED_FEATURE.STATE_STORE_MULTIPLE_COLUMN_FAMILIES."""
    from smallquery_spark.session import ROCKSDB_PROVIDER, rocksdb_state

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    fmt_key = "spark.sql.streaming.join.stateFormatVersion"
    before_provider = spark.conf.get(provider_key, None)
    before_fmt = spark.conf.get(fmt_key, None)
    with rocksdb_state(spark):
        assert spark.conf.get(provider_key) == ROCKSDB_PROVIDER
        assert spark.conf.get(fmt_key) == "3"
    assert spark.conf.get(provider_key, None) == before_provider
    assert spark.conf.get(fmt_key, None) == before_fmt


def test_driver_jit_defaults_are_c1_with_full_code_cache():
    """The session runs the driver JIT on C1 only, with the code cache
    at its tiered size, through defaultJavaOptions; extraJavaOptions is
    left to the user, whose flags come later and win."""
    from smallquery_spark.session import _DEFAULTS

    opts = _DEFAULTS["spark.driver.defaultJavaOptions"].split()
    assert "-XX:TieredStopAtLevel=1" in opts
    assert "-XX:ReservedCodeCacheSize=240m" in opts
    assert "spark.driver.extraJavaOptions" not in _DEFAULTS


def test_driver_jvm_runs_c1_only(spark):
    """The flags reach the driver JVM the session launched."""
    jvm = spark.sparkContext._jvm
    diag = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    assert diag.getVMOption("TieredStopAtLevel").getValue() == "1"
    assert diag.getVMOption("ReservedCodeCacheSize").getValue() == str(240 << 20)


def test_incremental_sessionize_exact_under_any_split(spark):
    """The span-merge exactness claim (operators/sessionize.py): for
    ANY partition of events into epochs, sessionize-per-epoch +
    gap-merge equals direct global sessionization — verified against a
    brute-force python oracle on adversarial data: boundary gaps
    exactly ==gap and ==gap-1µs, duplicate timestamps, singleton and
    long sessions, epoch splits that isolate middle events."""
    import random

    from smallquery_spark.operators.sessionize import (
        merge_session_spans,
        session_spans,
        sessionize,
    )

    rng = random.Random(7)
    gap = 1000  # µs, small so boundaries are dense
    rows = []
    # structured users: exact-boundary chains
    rows += [(1, t) for t in (0, 999, 1998, 2998, 3997)]  # 999<gap joins,
    #    1000 would split: 1998->2998 is exactly gap -> split
    rows += [(2, t) for t in (0, 1000, 2000)]  # all exactly gap -> all split
    rows += [(3, t) for t in (5, 5, 5, 6)]  # duplicate timestamps
    rows += [(4, t) for t in (42,)]  # singleton
    # fuzz users
    for u in range(5, 25):
        t = 0
        for _ in range(rng.randint(1, 60)):
            t += rng.choice([1, 500, 999, 1000, 1001, 5000])
            rows.append((u, t))
    from datetime import datetime, timezone

    # tz-aware construction: utcfromtimestamp() is deprecated (3.12) and
    # yields naive datetimes whose epoch meaning depends on the session
    # timezone — this form is correct regardless of session.py's UTC pin
    ev = spark.createDataFrame(
        [(u, datetime.fromtimestamp(t / 1e6, tz=timezone.utc))
         for u, t in rows],
        "user_id bigint, ts timestamp",
    )

    # python oracle: global sessions per user
    def oracle():
        per_user: dict[int, list[int]] = {}
        for u, t in rows:
            per_user.setdefault(u, []).append(t)
        out = set()
        for u, ts in per_user.items():
            ts.sort()
            runs, n = [], 1
            for a, b in zip(ts, ts[1:]):
                if b - a >= gap:
                    runs.append(n)
                    n = 1
                else:
                    n += 1
            runs.append(n)
            for i, n in enumerate(runs):
                out.add((u, i, n))
        # compare as per-user sorted session-length multisets
        agg: dict[int, list[int]] = {}
        for u, _, n in out:
            agg.setdefault(u, []).append(n)
        return {u: sorted(v) for u, v in agg.items()}

    def got(df):
        res = df.groupBy("user_id").agg(
            F.sort_array(F.collect_list("n_events")).alias("lens")
        )
        return {r["user_id"]: list(r["lens"]) for r in res.collect()}

    want = oracle()
    # direct
    assert got(sessionize(ev, gap_us=gap)) == want
    # adversarial epoch splits: hash, round-robin, and all-in-one
    for epoch_expr in (
        F.crc32(F.col("ts").cast("string")) % 5,
        F.monotonically_increasing_id() % 3,
        F.lit(0),
    ):
        spans = session_spans(
            ev.withColumn("__epoch", epoch_expr), extra_keys=("__epoch",),
            gap_us=gap,
        )
        assert got(merge_session_spans(spans, gap_us=gap)) == want


def test_fsio_explicit_file_scheme(spark, tmp_path):
    """The maintenance control plane resolves paths through the Hadoop
    FileSystem API, not os.* — proven by driving the helper AND
    compact_parquet_dir end-to-end through an explicit ``file://``
    scheme URI (path-string luck would fail scheme resolution)."""
    from smallquery_spark.fsio import fs_for, join_uri
    from smallquery_spark.operators.compaction import (
        compact_parquet_dir,
        dir_stats,
    )

    uri = "file://" + str(tmp_path) + "/t"
    spark.range(100).write.parquet(uri)
    fs = fs_for(spark, uri)
    assert fs.exists(uri) and fs.is_dir(uri)
    n, total = fs.parquet_stats(uri)
    assert n >= 1 and total > 0
    assert any(
        name.endswith(".parquet") for name in fs.list_names(uri)
    )
    # rename + delete through the scheme
    dst = "file://" + str(tmp_path) + "/t2"
    fs.rename(uri, dst)
    assert not fs.exists(uri) and fs.exists(dst)
    files = fs.list_files_recursive(dst)
    assert files and all(p.startswith("file:") for p, _s in files)
    # a data-file path joined back onto the URI still resolves
    first_parquet = next(
        name for name in fs.list_names(dst) if name.endswith(".parquet")
    )
    assert fs.exists(join_uri(dst, first_parquet))
    # full maintenance op through the explicit scheme
    spark.range(1000).repartition(10).write.mode("overwrite").parquet(dst)
    before, after = compact_parquet_dir(
        spark, dst, target_file_bytes=1 << 30, min_files=2
    )
    assert before == 10 and after == 1
    assert dir_stats(spark, dst) == (1, dir_stats(spark, dst)[1])
    assert spark.read.parquet(dst).count() == 1000
    fs.delete(dst)
    assert not fs.exists(dst)


def test_compact_parquet_dir_crash_recovery(spark, tmp_path):
    """A compact_parquet_dir crash between the two swap renames leaves
    the live dir missing and the aside copy present; the next call must
    restore it before deciding anything — no committed row is ever
    unreachable for longer than the crash window."""
    from smallquery_spark.fsio import fs_for
    from smallquery_spark.operators.compaction import compact_parquet_dir

    path = str(tmp_path / "orders_frag")
    spark.range(500).repartition(6).write.parquet(path)
    fs = fs_for(spark, path)
    # simulate the crash window: live renamed aside, tmp half-written
    fs.rename(path, path + ".compact.old")
    fs.mkdirs(path + ".compact.tmp")
    before, after = compact_parquet_dir(
        spark, path, target_file_bytes=1 << 30, min_files=2
    )
    assert (before, after) == (6, 1)
    assert spark.read.parquet(path).count() == 500
    assert not fs.exists(path + ".compact.old")
    assert not fs.exists(path + ".compact.tmp")


def test_ivf_compact_cells_crash_recovery(spark):
    """compact_ivf_cells stages compacted cells durably and swaps via
    rename-aside (ADVICE r8: the dynamic-overwrite form could lose the
    fragmented cells' rows on a driver crash mid-commit). Simulate the
    mid-swap crash — a live cell= dir renamed aside, staging leftover —
    and assert the next call restores every row, then compacts."""
    import os

    from pyspark.sql import functions as F

    from smallquery_spark.fsio import fs_for, join_uri, table_location
    from smallquery_spark.operators.similarity import compact_ivf_cells

    t = f"ivfx_crashtest_{os.getpid()}"
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    try:
        base = spark.createDataFrame(
            [(i, [float(i)], i % 2) for i in range(10)],
            "c_id long, vec array<double>, cell int",
        )
        base.repartition(F.col("cell")).write.partitionBy(
            "cell"
        ).saveAsTable(t)
        extra = spark.createDataFrame(
            [(100, [1.0], 0)], "c_id long, vec array<double>, cell int"
        )
        extra.repartition(F.col("cell")).write.mode("append").partitionBy(
            "cell"
        ).saveAsTable(t)
        want = sorted(r.c_id for r in spark.table(t).collect())
        loc = table_location(spark, t)
        fs = fs_for(spark, loc)
        # crash window: cell=0 renamed aside, staging tree half-built
        aside = loc.rstrip("/") + ".compact_old"
        fs.mkdirs(aside)
        fs.rename(join_uri(loc, "cell=0"), join_uri(aside, "cell=0"))
        fs.mkdirs(loc.rstrip("/") + ".compact_tmp")
        spark.catalog.refreshTable(t)
        # next maintenance call: restores cell=0, then compacts it
        assert compact_ivf_cells(spark, t) == 1
        assert sorted(r.c_id for r in spark.table(t).collect()) == want
        assert not fs.exists(aside)
        assert not fs.exists(loc.rstrip("/") + ".compact_tmp")
        assert compact_ivf_cells(spark, t) == 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


@pytest.mark.slow  # >=10 s measured; deselected by default (r15, VERDICT r14 #1)
def test_kmeans_parallel_contract_and_narrow_rounds(spark):
    """k-means|| returns EXACTLY n_cells centroids, deterministically,
    and raises ValueError (not a silently thinner quantizer) when the
    candidate pool cannot reach n_cells (ADVICE r8)."""
    import pytest as _pytest

    from smallquery_spark.operators.similarity import ivf_build_centroids

    rows = [
        (i, [float((i * 7 + j * 3) % 13) - 6.0 for j in range(8)])
        for i in range(400)
    ]
    corpus = spark.createDataFrame(rows, "c_id long, vec array<double>")
    cents = ivf_build_centroids(corpus, 16, method="kmeans_parallel")
    again = ivf_build_centroids(corpus, 16, method="kmeans_parallel")
    assert len(cents) == 16
    assert cents == again  # bit-identical re-run
    # degenerate corpus: 3 identical vectors cannot seed 8 cells
    dup = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in range(3)], "c_id long, vec array<double>"
    )
    with _pytest.raises(ValueError, match="candidates"):
        ivf_build_centroids(dup, 8, method="kmeans_parallel")


def test_ivf_retrain_trigger_counts_empty_cells(spark):
    """With n_cells passed, the trigger's mean uses the TRUE cell count
    (drift that empties cells must raise imbalance, not launder it) and
    stats reports the exact empty-cell count (ADVICE r8)."""
    import os

    from pyspark.sql import functions as F

    from smallquery_spark.operators.similarity import ivf_retrain_trigger

    t = f"ivfx_trigempty_{os.getpid()}"
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    try:
        # 2 non-empty cells of 8 trained: 90 rows in cell 0, 10 in cell 1
        df = spark.createDataFrame(
            [(i, [0.0], 0 if i < 90 else 1) for i in range(100)],
            "c_id long, vec array<double>, cell int",
        )
        df.repartition(F.col("cell")).write.partitionBy("cell").saveAsTable(t)
        fired_nonempty, stats_ne = ivf_retrain_trigger(
            spark, t, imbalance_bound=3.0
        )
        fired_true, stats_true = ivf_retrain_trigger(
            spark, t, imbalance_bound=3.0, n_cells=8
        )
        # non-empty-only mean = 50 -> imbalance 1.8 (quiet, understated)
        assert stats_ne["imbalance"] == 1.8 and not fired_nonempty
        assert stats_ne["empty_cells"] is None
        # true mean = 12.5 -> imbalance 7.2 (fires)
        assert stats_true["imbalance"] == 7.2 and fired_true
        assert stats_true["empty_cells"] == 6
        assert stats_true["n_nonempty_cells"] == 2
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


@pytest.mark.slow  # >=10 s measured; deselected by default (r15, VERDICT r14 #1)
def test_neardup_index_at_least_once(spark):
    """End-to-end at-least-once contract (VERDICT r8 item 5): an
    upstream that RE-SENDS ids in later batches (not a replay of the
    same epoch — genuinely overlapping batches) must produce (a) the
    byte-identical accepted output of exactly-once delivery after the
    pipeline's output-side id-dedup, and (b) identical index state
    (append's guard_existing). Re-sent ids cover both fates: some were
    ACCEPTED earlier (pass ingest_epoch again via self-exclusion, then
    dedup'd at the output), some were DROPPED earlier (dropped again
    by the index match)."""
    import os

    from pyspark.sql import functions as F

    from smallquery_spark.operators.dedup import _banded_sig_df
    from smallquery_spark.operators.neardup_index import NearDupIndex
    from tests.conftest import SF_SMOKE

    docs = spark.read.parquet(
        os.path.join(SF_SMOKE, "documents.parquet")
    ).select("doc_id", "text")
    epochs = [
        docs.filter(F.abs(F.hash("doc_id")) % 3 == i).localCheckpoint()
        for i in range(3)
    ]

    def run(batches, name):
        ndx = NearDupIndex(spark, name, n_buckets=4)
        ndx.drop()
        try:
            accepted = None
            for ep in batches:
                sig = _banded_sig_df(ep)
                surv = ndx.ingest_epoch(sig, threshold=0.5)
                ndx.append(surv)  # guard_existing default ON
                out = surv.select("doc_id").localCheckpoint(eager=True)
                accepted = out if accepted is None else accepted.unionByName(out)
            # the pipeline's output-side exact dedup pass
            ids = sorted(
                r.doc_id
                for r in accepted.dropDuplicates(["doc_id"]).collect()
            )
            return ids, ndx.doc_count()
        finally:
            ndx.drop()

    pid = os.getpid()
    exact_ids, exact_count = run(epochs, f"alonce_x_{pid}")
    # at-least-once: epoch 1 re-sends HALF of epoch 0 (accepted AND
    # dropped ids alike), epoch 2 re-sends half of epoch 1
    resent = [
        epochs[0],
        epochs[1].unionByName(
            epochs[0].filter(F.abs(F.hash("doc_id")) % 2 == 0)
        ),
        epochs[2].unionByName(
            epochs[1].filter(F.abs(F.hash("doc_id")) % 2 == 1)
        ),
    ]
    alo_ids, alo_count = run(resent, f"alonce_r_{pid}")
    assert alo_ids == exact_ids  # byte-identical accepted set
    assert alo_count == exact_count  # index never double-appends
    assert len(exact_ids) > 0


def test_assignment_fit_detects_diffuse_drift(spark):
    """assignment_fit is the batch-time drift signal the cell histogram
    cannot see (measured: a diffuse mode left imbalance flat while
    recall cratered — IVF_DRIFT artifact). Exact values on known
    geometry, plus the separation contract: an in-distribution batch
    scores ~1, an orthogonal/far batch scores far below the 0.9 ratio
    the drift watch uses."""
    import math

    from smallquery_spark.operators.similarity import assignment_fit

    cents = [[1.0, 0.0], [0.0, 1.0]]
    near = spark.createDataFrame(
        [(1, [2.0, 0.0]), (2, [0.0, 5.0])], "c_id long, vec array<double>"
    )
    assert abs(assignment_fit(near, cents) - 1.0) < 1e-9
    diag = spark.createDataFrame(
        [(3, [1.0, 1.0])], "c_id long, vec array<double>"
    )
    assert abs(assignment_fit(diag, cents) - 1 / math.sqrt(2)) < 1e-9
    far = spark.createDataFrame(
        [(4, [-1.0, -1.0]), (5, [-2.0, -3.0])], "c_id long, vec array<double>"
    )
    assert assignment_fit(far, cents) < 0.0  # opposite half-space
    # ratio separation: far batch / in-distribution baseline << 0.9
    assert assignment_fit(far, cents) / assignment_fit(near, cents) < 0.9


def test_fsio_non_file_scheme_viewfs(spark, tmp_path):
    """The strongest scheme-portability proof this sandbox can run:
    drive fsio AND compact_parquet_dir end-to-end through Hadoop's
    viewfs:// (a DIFFERENT FileSystem class with its own scheme and
    authority, resolved per-URI from hadoopConfiguration — exactly how
    an hdfs:// or s3a:// warehouse would resolve). file://-only code
    (os.rename, path-string luck) cannot pass this."""
    from smallquery_spark.fsio import fs_for
    from smallquery_spark.operators.compaction import compact_parquet_dir

    root = str(tmp_path / "viewfs_root")
    import os

    os.makedirs(root, exist_ok=True)
    spark._jsc.hadoopConfiguration().set(
        "fs.viewfs.mounttable.testcluster.link./warehouse", f"file:{root}"
    )
    uri = "viewfs://testcluster/warehouse/t1"
    spark.range(500).repartition(4).write.mode("overwrite").parquet(uri)
    fs = fs_for(spark, uri)
    n, total = fs.parquet_stats(uri)
    assert n == 4 and total > 0
    uri2 = "viewfs://testcluster/warehouse/t2"
    fs.rename(uri, uri2)
    assert not fs.exists(uri) and fs.exists(uri2)
    before, after = compact_parquet_dir(
        spark, uri2, target_file_bytes=1 << 30, min_files=2
    )
    assert (before, after) == (4, 1)
    assert spark.read.parquet(uri2).count() == 500
    fs.delete(uri2)
    assert not fs.exists(uri2)


def test_cell_swap_safe_guard():
    """fsio.child_unchanged: a cell may swap only while its live data-file
    set still equals the scan-time set — a changed set means a
    concurrent append landed mid-stage and swapping would discard it.
    Per-cell predicate (called inside the rename loop, right before
    that cell's rename — ADVICE r9), tested with a stub filesystem."""
    from smallquery_spark.fsio import child_unchanged

    class StubFS:
        def __init__(self, listing):
            self.listing = listing

        def list_names(self, uri):
            return self.listing.get(uri, [])

    scanned = {0: {"part-a.parquet", "part-b.parquet"}, 1: {"part-c.parquet", "part-d.parquet"}}
    fs = StubFS(
        {
            # cell 0: a concurrent append added part-e -> unsafe
            "wh/t/cell=0": ["part-a.parquet", "part-b.parquet", "part-e.parquet"],
            # cell 1: unchanged (extra non-parquet noise ignored)
            "wh/t/cell=1": ["part-c.parquet", "part-d.parquet", ".crc"],
        }
    )
    assert not child_unchanged(fs, "wh/t", "cell=0", scanned[0])
    assert child_unchanged(fs, "wh/t", "cell=1", scanned[1])
    # the per-cell shape means a mutation BETWEEN two cells' renames is
    # seen by the later cell's own check
    fs.listing["wh/t/cell=1"].append("part-x.parquet")
    assert not child_unchanged(fs, "wh/t", "cell=1", scanned[1])


class _DirFS:
    """The HadoopFS calls swap_children/recover_children make, over a
    local directory — Spark-free. ``fail_at`` makes the Nth rename
    (0-based) raise, before (``landed=False``) or after it happens."""

    def __init__(self, fail_at=None, landed=False):
        self.renames, self.fail_at, self.landed = 0, fail_at, landed

    def exists(self, uri):
        import os

        return os.path.exists(uri)

    def list_names(self, uri):
        import os

        return sorted(os.listdir(uri)) if os.path.isdir(uri) else []

    def mkdirs(self, uri):
        import os

        os.makedirs(uri, exist_ok=True)

    def delete(self, uri):
        import shutil

        shutil.rmtree(uri, ignore_errors=True)

    def rename(self, src, dst):
        import os

        n, self.renames = self.renames, self.renames + 1
        if n == self.fail_at and not self.landed:
            raise OSError(f"injected rename failure {n}")
        os.rename(src, dst)
        if n == self.fail_at:
            raise OSError(f"injected crash after rename {n}")


class _NoLease:
    def fence(self, phase=""):
        pass


def _swap_tree(root):
    """Three live children with file ``old`` and their staged copies
    (file ``new``) under the delete staging tree."""
    import os

    from smallquery_spark.fsio import work_trees

    staging = work_trees(str(root), "delete")[0]
    for name in ("cell=0", "cell=1", "cell=2"):
        os.makedirs(os.path.join(root, name))
        open(os.path.join(root, name, "old"), "w").close()
        os.makedirs(os.path.join(staging, name))
        open(os.path.join(staging, name, "new"), "w").close()


def test_swap_children_crash_at_every_rename_recovers(tmp_path):
    """fsio.swap_children + recover_children: whichever of the six
    renames fails (before or after it lands), recovery leaves every
    child live with either its old or its staged files — none missing,
    none mixed — and no work tree behind."""
    import os

    import pytest

    from smallquery_spark.fsio import (
        WORK_OPS,
        recover_children,
        swap_children,
        work_trees,
    )

    names = ["cell=0", "cell=1", "cell=2"]
    for landed in (False, True):
        for k in range(2 * len(names)):
            root = tmp_path / f"t_{int(landed)}_{k}"
            _swap_tree(root)
            fs = _DirFS(fail_at=k, landed=landed)
            with pytest.raises(OSError, match="injected"):
                swap_children(fs, str(root), "delete", names, _NoLease())
            fs.fail_at = None
            recover_children(fs, str(root))
            for name in names:
                assert os.listdir(root / name) in (["old"], ["new"]), (k, name)
            for op in WORK_OPS:
                assert not any(os.path.exists(w) for w in work_trees(str(root), op))
    # no failure: every child swapped, in the caller's order
    root = tmp_path / "clean"
    _swap_tree(root)
    assert swap_children(_DirFS(), str(root), "delete", names, _NoLease()) == names
    assert all(os.listdir(root / n) == ["new"] for n in names)
    assert not recover_children(_DirFS(), str(root))


def test_swap_children_check_skips_or_aborts(tmp_path):
    """swap_children's ``check``: False leaves the child live, untouched
    and out of the returned list; a raise aborts before that child's
    renames (earlier children stay swapped, later ones untouched)."""
    import os

    import pytest

    from smallquery_spark.fsio import swap_children

    names = ["cell=0", "cell=1", "cell=2"]
    root = tmp_path / "skip"
    _swap_tree(root)
    got = swap_children(
        _DirFS(), str(root), "delete", names, _NoLease(),
        check=lambda n: n != "cell=1",
    )
    assert got == ["cell=0", "cell=2"]
    assert [os.listdir(root / n) for n in names] == [["new"], ["old"], ["new"]]

    def refuse(name):
        if name == "cell=1":
            raise RuntimeError("changed between")
        return True

    root = tmp_path / "abort"
    _swap_tree(root)
    fs = _DirFS()
    with pytest.raises(RuntimeError, match="changed between"):
        swap_children(fs, str(root), "delete", names, _NoLease(), check=refuse)
    assert fs.renames == 2  # cell=0's two renames, none for cell=1
    assert [os.listdir(root / n) for n in names] == [["new"], ["old"], ["old"]]


def test_ivf_compact_skips_concurrently_appended_cell(spark, monkeypatch):
    """compact_ivf_cells must not lose a file appended between its
    staging snapshot and the directory swap: the changed cell is
    SKIPPED (stays fragmented, every row reachable — including the
    concurrent one) and the next compaction picks it up. The append is
    injected at the one point between stage and swap (the aside-tree
    mkdirs)."""
    import os

    from pyspark.sql import functions as F

    from smallquery_spark.fsio import HadoopFS
    from smallquery_spark.operators.similarity import compact_ivf_cells

    t = f"ivfx_cmprace_{os.getpid()}"
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    try:
        base = spark.createDataFrame(
            [(i, [float(i)], i % 2) for i in range(8)],
            "c_id long, vec array<double>, cell int",
        )
        base.repartition(F.col("cell")).write.partitionBy("cell").saveAsTable(t)
        extra = spark.createDataFrame(
            [(100, [1.0], 0), (101, [2.0], 1)],
            "c_id long, vec array<double>, cell int",
        )
        extra.repartition(F.col("cell")).write.mode("append").partitionBy(
            "cell"
        ).saveAsTable(t)  # both cells now fragmented (2 files each)

        orig_mkdirs = HadoopFS.mkdirs
        fired = {"done": False}

        def mkdirs_then_append(self, uri):
            if not fired["done"]:
                fired["done"] = True
                race = spark.createDataFrame(
                    [(999, [9.0], 0)], "c_id long, vec array<double>, cell int"
                )
                race.repartition(F.col("cell")).write.mode("append").partitionBy(
                    "cell"
                ).saveAsTable(t)
            return orig_mkdirs(self, uri)

        monkeypatch.setattr(HadoopFS, "mkdirs", mkdirs_then_append)
        assert compact_ivf_cells(spark, t) == 1  # cell 1 only; cell 0 raced
        monkeypatch.setattr(HadoopFS, "mkdirs", orig_mkdirs)

        ids = sorted(r.c_id for r in spark.table(t).collect())
        assert ids == [0, 1, 2, 3, 4, 5, 6, 7, 100, 101, 999]  # nothing lost
        # the raced cell stays fragmented; the clean one compacted
        from urllib.parse import urlparse
        import glob

        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        assert len(glob.glob(os.path.join(wh, t, "cell=0", "part-*"))) == 3
        assert len(glob.glob(os.path.join(wh, t, "cell=1", "part-*"))) == 1
        # next (quiet) compaction picks the raced cell up
        assert compact_ivf_cells(spark, t) == 1
        assert len(glob.glob(os.path.join(wh, t, "cell=0", "part-*"))) == 1
        assert sorted(r.c_id for r in spark.table(t).collect()) == ids
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_neardup_compact_aborts_on_concurrent_append(spark, monkeypatch):
    """NearDupIndex.compact must abort a table's swap when an append
    landed during the staging rewrite (the staged copy predates the
    append): the appended rows survive, the table simply stays
    fragmented until the next compaction."""
    import os

    from smallquery_spark.operators import neardup_index as ndx_mod
    from smallquery_spark.operators.dedup import _banded_sig_df
    from smallquery_spark.operators.neardup_index import NearDupIndex
    from tests.conftest import SF_SMOKE

    docs = spark.read.parquet(
        os.path.join(SF_SMOKE, "documents.parquet")
    ).select("doc_id", "text")
    ndx = NearDupIndex(spark, f"cmprace_{os.getpid()}", n_buckets=4)
    ndx.drop()
    try:
        sig = _banded_sig_df(docs).localCheckpoint(eager=True)
        race_sig = _banded_sig_df(
            docs.withColumn("doc_id", F.col("doc_id") + 10_000)
        ).localCheckpoint(eager=True)
        ndx.append(sig)

        orig_wb = ndx_mod.write_bucketed
        fired = {"done": False}

        def wb_then_append(df, name, key, n_buckets):
            orig_wb(df, name, key, n_buckets)
            if not fired["done"]:
                fired["done"] = True
                # lands AFTER the bands staging snapshot was read but
                # BEFORE its swap -> bands must abort; the hashes pass
                # snapshots after this, so it compacts normally
                ndx.append(race_sig)

        monkeypatch.setattr(ndx_mod, "write_bucketed", wb_then_append)
        before_bands = spark.table(ndx.bands_table).count()
        before_hashes = spark.table(ndx.hashes_table).count()
        ndx.compact()
        monkeypatch.setattr(ndx_mod, "write_bucketed", orig_wb)

        # appended rows survived the aborted swap (race_sig covers the
        # same doc count as sig, so it contributes the same band-row
        # count; a lost append would read exactly before_bands)
        assert spark.table(ndx.bands_table).count() == 2 * before_bands
        assert spark.table(ndx.hashes_table).count() > before_hashes
        # a quiet compact now flattens everything, values intact
        bands_rows = spark.table(ndx.bands_table).count()
        ndx.compact()
        assert spark.table(ndx.bands_table).count() == bands_rows
    finally:
        ndx.drop()


def test_prune_stale_skips_live_owner(tmp_path, monkeypatch):
    """prune_stale must not evict a pid-suffixed workdir whose owner is
    alive, however old its mtime (written-once dirs never refresh it);
    dead-owner dirs past the age cutoff still go."""
    import os
    import tempfile
    import time

    from smallquery_spark.queries.tmpdirs import owner_pid_alive, prune_stale

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    live = tmp_path / f"smallquery_prunetest_{os.getpid()}"
    dead = tmp_path / "smallquery_prunetest_999999999"
    nopid = tmp_path / "smallquery_prunetest_nosuffix"
    old = time.time() - 48 * 3600
    for d in (live, dead, nopid):
        d.mkdir()
        os.utime(d, (old, old))
    assert owner_pid_alive(live.name) and not owner_pid_alive(dead.name)
    assert not owner_pid_alive(nopid.name)
    # a numeric suffix beyond the C int range must degrade to the
    # age-only rule, not crash the scavenger via OverflowError from
    # os.kill (prune_stale calls owner_pid_alive OUTSIDE its
    # error-swallowing loop — ADVICE r9)
    overflow = tmp_path / "smallquery_prunetest_99999999999999999999"
    overflow.mkdir()
    os.utime(overflow, (old, old))
    assert not owner_pid_alive(overflow.name)
    prune_stale("smallquery_prunetest_")
    assert live.exists()  # live owner: kept despite age
    assert not dead.exists()  # dead owner + old: scavenged
    assert not nopid.exists()  # no pid suffix: age rule alone applies
    assert not overflow.exists()  # absurd pid suffix: age rule, no crash


def test_warehouse_pruners_guard_live_and_remote(spark, tmp_path):
    """The warehouse pruner (bucketing and scale both call it) must skip
    live-owner bkt_* tables and must not prune AT ALL on a non-local
    warehouse —
    pid liveness is a single-box concept; another driver's pid is
    invisible across machines."""
    import os
    import time

    from smallquery_spark.fsio import fs_for
    from smallquery_spark.operators.bucketing import prune_stale_warehouse

    bkt = r"bkt_[0-9a-f]{12}_\d+$"

    wh = tmp_path / "wh"
    live = wh / f"bkt_{'a' * 12}_{os.getpid()}"
    dead = wh / f"bkt_{'b' * 12}_999999999"
    live.mkdir(parents=True)
    dead.mkdir()
    old = time.time() - 48 * 3600
    os.utime(live, (old, old))
    os.utime(dead, (old, old))
    fs = fs_for(spark, str(wh))
    prune_stale_warehouse(fs, str(wh), bkt)
    assert live.exists() and not dead.exists()

    # remote scheme: returns before touching the filesystem at all
    class Untouchable:
        def __getattr__(self, name):
            raise AssertionError("remote warehouse must not be pruned")

    prune_stale_warehouse(Untouchable(), "s3a://bucket/warehouse", bkt)
    prune_stale_warehouse(Untouchable(), "hdfs://nn/warehouse", bkt)


def test_parquet_stats_under_hidden_ancestor(spark, tmp_path):
    """parquet_stats' hidden-segment filter is RELATIVE to the queried
    base: a warehouse under a dot- or underscore-prefixed ANCESTOR
    (``~/.local/share/wh``, an ``/_staging`` mount) must still count its
    data files — the full-path substring test matched the ancestor and
    silently returned (0, 0), no-opping compaction sizing (ADVICE r10).
    Hidden segments BELOW the base (an index's ``_meta`` sidecar) stay
    excluded."""
    from smallquery_spark.fsio import fs_for, join_uri

    root = tmp_path / ".hidden_ancestor" / "_staging" / "wh"
    uri = "file://" + str(root / "t")
    spark.range(100).repartition(2).write.parquet(uri)
    fs = fs_for(spark, uri)
    n, total = fs.parquet_stats(uri)
    assert n == 2 and total > 0

    # hidden child below the base is still metadata, not data
    spark.range(5).coalesce(1).write.parquet(join_uri(uri, "_meta"))
    n2, total2 = fs.parquet_stats(uri)
    assert (n2, total2) == (n, total)

    # dotted child dir likewise
    spark.range(5).coalesce(1).write.parquet(join_uri(uri, ".scratch"))
    assert fs.parquet_stats(uri) == (n, total)

    # a listing path that does NOT share the qualified base prefix must
    # RAISE, not degrade to the full-path test (ADVICE r11): a silent
    # fallback would resurrect the (0, 0) bug under any qualification
    # mismatch with no signal anywhere. Injected via a stub listing —
    # real federated/viewfs authority skew cannot be produced on file://.
    fs.list_files_recursive = lambda u: [
        ("file:/somewhere/else/data.parquet", 10)
    ]
    with pytest.raises(IOError, match="does not share the qualified base"):
        fs.parquet_stats(uri)

    # the one legitimate non-prefixed shape: the queried uri IS a file
    # (the listing returns the file itself) — counted, not raised
    fs2 = fs_for(spark, uri)
    files = [p for p, _ in fs2.list_files_recursive(uri) if p.endswith(".parquet")]
    one = [f for f in files if "/_meta/" not in f and "/.scratch/" not in f][0]
    nf, tf = fs2.parquet_stats(one)
    assert nf == 1 and tf > 0


def test_partitioned_catalog_rename_swap_loses_data(spark):
    """The measured trap behind retrain_ivfpq's directory-swap design
    (operators/pq.py): the catalog-rename compact pattern (stage a new
    table, ALTER TABLE RENAME the live one aside, rename the staged one
    in, DROP the aside) — safe for UNPARTITIONED tables (NearDupIndex
    uses it, recovery pinned above) — LOSES DATA on a PARTITIONED
    managed table. Two failures, both pinned: (1) the renamed-in
    table's per-partition pointers still name its pre-rename directory,
    so it reads 0 rows; (2) DROP of the aside table follows ITS stale
    per-partition pointers — which now point at the renamed-in data —
    and deletes the new generation's files. This is why the retrain
    protocol swaps directory CONTENTS under a constant location via
    fsio and never renames the catalog entry."""
    import glob
    import os

    from smallquery_spark.fsio import table_location

    pid = os.getpid()
    t, t_new, t_old = f"rtrap_{pid}", f"rtrap_{pid}__new", f"rtrap_{pid}__old"
    for name in (t, t_new, t_old):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    try:
        spark.range(20).selectExpr("id", "id % 4 AS cell").write.partitionBy(
            "cell"
        ).saveAsTable(t)
        spark.range(40).selectExpr("id", "id % 4 AS cell").write.partitionBy(
            "cell"
        ).saveAsTable(t_new)
        spark.sql(f"ALTER TABLE {t} RENAME TO {t_old}")
        spark.sql(f"ALTER TABLE {t_new} RENAME TO {t}")
        loc = table_location(spark, t).replace("file:", "")
        # the new generation's FILES moved in with the directory rename…
        assert len(glob.glob(os.path.join(loc, "**", "*.parquet"),
                             recursive=True)) > 0
        # …but failure (1): stale partition pointers read zero of them
        assert spark.table(t).count() == 0
        # failure (2): dropping the aside entry deletes the new data
        spark.sql(f"DROP TABLE {t_old}")
        assert len(glob.glob(os.path.join(loc, "**", "*.parquet"),
                             recursive=True)) == 0
    finally:
        for name in (t, t_new, t_old):
            spark.sql(f"DROP TABLE IF EXISTS {name}")


@pytest.mark.slow  # >=10 s measured; deselected by default (r15, VERDICT r14 #1)
def test_retrain_trigger_incremental_histogram(spark):
    """ivf_retrain_trigger(cell_hist=...) — the ingest-path variant
    fed by a running histogram folded from per-batch cell_counts —
    must produce the IDENTICAL stats and decision as the scan-based
    maintenance-tick form, after multiple appends (r11: removes the
    one index-sized term from the per-epoch ingest decomposition,
    C3_STREAM_CURVE_gen100.json)."""
    import os

    import numpy as np

    from smallquery_spark.operators.similarity import (
        append_ivf,
        cell_counts,
        ivf_assign,
        ivf_build_centroids,
        ivf_retrain_trigger,
        materialize_ivf,
        merge_cell_counts,
    )

    rng = np.random.default_rng(3)
    modes = rng.normal(0, 1, (4, 8))

    def df(n, seed, id0):
        r = np.random.default_rng(seed)
        X = modes[r.integers(0, 4, n)] + r.normal(0, 0.2, (n, 8))
        X = X / np.linalg.norm(X, axis=1, keepdims=True)
        return spark.createDataFrame(
            [(id0 + i, [float(v) for v in X[i]]) for i in range(n)],
            "c_id long, vec array<double>",
        )

    base = df(120, 1, 0)
    cents = ivf_build_centroids(base, n_cells=4)
    t = materialize_ivf(
        spark, ivf_assign(base, cents), f"inchist_{os.getpid()}",
        centroids=cents,
    )
    try:
        running = cell_counts(ivf_assign(base, cents))
        for seed in (2, 3):
            batch = df(60, seed, 1000 * seed)
            running = merge_cell_counts(
                running, cell_counts(ivf_assign(batch, cents))
            )
            append_ivf(spark, t, batch, cents)

        for kwargs in (
            {"n_cells": len(cents)},
            {"n_cells": len(cents), "baseline_imbalance": 1.1},
            {},
        ):
            trig_scan, stats_scan = ivf_retrain_trigger(spark, t, **kwargs)
            trig_inc, stats_inc = ivf_retrain_trigger(
                spark, t, cell_hist=running, **kwargs
            )
            assert trig_scan == trig_inc
            assert stats_scan == stats_inc
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_append_ivf_refresh_failure_propagates(spark, monkeypatch):
    """A catalog refresh that fails after an append raises instead of
    being swallowed: the next read of the table would fail on the same
    catalog anyway, as a different error."""
    import os

    from smallquery_spark.operators.similarity import (
        append_ivf,
        ivf_assign,
        materialize_ivf,
    )

    vecs = spark.createDataFrame(
        [(i, [float(i % 3), 1.0]) for i in range(6)],
        "c_id long, vec array<double>",
    )
    cents = [[0.0, 1.0], [2.0, 1.0]]
    t = materialize_ivf(
        spark, ivf_assign(vecs, cents), f"refresh_{os.getpid()}"
    )

    def refresh_fails(name):
        raise RuntimeError(f"refresh of {name} failed")

    try:
        monkeypatch.setattr(spark.catalog, "refreshTable", refresh_fails)
        with pytest.raises(RuntimeError, match="refresh of"):
            append_ivf(spark, t, vecs.limit(2), cents)
    finally:
        monkeypatch.undo()
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_torn_lease_is_live_until_its_grace_passes(spark, tmp_path):
    """An unparseable lease (a create whose JSON write never landed) is
    held while younger than the torn-lease grace and stale once its
    mtime is older, so a crashed create cannot wedge maintenance."""
    import time

    from smallquery_spark.errors import IndexBusyError
    from smallquery_spark.fsio import (
        _TORN_LEASE_GRACE_S,
        _lease_stale,
        acquire_dir_lease,
        fs_for,
        lease_path,
        release_dir_lease,
    )

    loc = f"file://{tmp_path}/index"
    fs = fs_for(spark, loc)
    lp = lease_path(loc)
    fs.write_text(lp, '{"pid": 12')
    assert not _lease_stale(fs, lp, None)
    with pytest.raises(IndexBusyError):
        acquire_dir_lease(fs, loc, "after_torn")
    fs.touch(lp, time.time() - _TORN_LEASE_GRACE_S - 5)
    assert _lease_stale(fs, lp, None)
    token = acquire_dir_lease(fs, loc, "after_torn")
    release_dir_lease(fs, loc, token)
    assert not fs.exists(lp)
