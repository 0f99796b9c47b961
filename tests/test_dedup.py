"""Dedup behavior tests on synthetic duplicates: each technique must catch
exactly the duplication class it is designed for."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from project_bigdata_spark.operators import dedup as DD

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (1, "the quick brown fox jumps over the lazy dog near the river bank today"),  # exact dup of 0
    (2, "today the quick brown fox jumps over the lazy dog near the river bank"),  # word-rotated 0
    (3, "the quick brown fox jumps over the lazy dog near the river bend today"),  # 1 word changed
    (4, "completely different content about spark query engines and columnar io"),
    (5, "spark streaming watermarks handle late data with event time windows ok"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_exact_dedup(docs):
    out = {r.doc_id: r for r in DD.exact_dedup_groups(docs, "doc_id", "text").collect()}
    assert out[0].canonical_id == 0 and out[0].dup_group_size == 2
    assert out[1].canonical_id == 0
    assert out[2].dup_group_size == 1  # word order differs -> not exact
    assert out[4].dup_group_size == 1


def test_bow_fingerprint_catches_permutation(docs):
    fp = docs.select("doc_id", DD.bow_fingerprint(F.col("text")).alias("bow"))
    groups = {}
    for r in fp.collect():
        groups.setdefault(r.bow, []).append(r.doc_id)
    sets = sorted(sorted(v) for v in groups.values())
    # 0,1 exact and 2 word-rotated share the bag; 3 differs by one word
    assert [0, 1, 2] in sets
    assert [3] in sets


def test_minhash_lsh_finds_near_dups(docs):
    sigs = DD.minhash_signatures(docs, "doc_id", "text")
    pairs = DD.minhash_candidate_pairs(sigs, "doc_id")
    verified = DD.jaccard_verify(pairs, sigs, "doc_id", threshold=0.3)
    found = {(r.id_a, r.id_b) for r in verified.collect()}
    assert (0, 1) in found           # identical -> jaccard 1.0
    assert (0, 3) in found or (1, 3) in found  # one-word edit -> high jaccard
    assert all({a, b} != {4, 5} for a, b in found)  # unrelated stay apart
    j = {(r.id_a, r.id_b): r.jaccard for r in verified.collect()}
    assert j[(0, 1)] == 1.0


def test_minhash_bucket_cap(docs):
    sigs = DD.minhash_signatures(docs, "doc_id", "text")
    capped = DD.minhash_candidate_pairs(sigs, "doc_id", max_bucket=1)
    assert capped.count() == 0  # every bucket dropped by the guard


def test_simhash_similar_docs_close(docs):
    out = {r.doc_id: r.sh for r in docs.select(
        "doc_id", DD.simhash16(F.col("text")).alias("sh")).collect()}
    assert out[0] == out[1]  # identical text -> identical fingerprint
    ham = bin(out[0] ^ out[3]).count("1")
    ham_far = bin(out[0] ^ out[4]).count("1")
    assert ham <= ham_far  # one-word edit at most as far as unrelated text


def test_ngram_jaccard_pairs(spark):
    rows = [(i, t, "en", "srcA") for i, t in [(d[0], d[1]) for d in DOCS]]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source"])
    pairs = DD.ngram_jaccard_pairs(
        df, "doc_id", "text", block_cols=["lang", "source"], threshold=0.5, n=2
    )
    found = {(r.id_a, r.id_b): r.jaccard for r in pairs.collect()}
    assert found[(0, 1)] == 1.0
    assert (0, 3) in found  # bigram overlap of the one-word edit is high


def test_ngram_jaccard_hot_block_capped(spark):
    # One hot (lang, source) block over max_block plus one small block:
    # the guard must drop the hot block entirely (0 quadratic pairs from
    # it) while the small block still yields its duplicate pair.
    hot = [(i, "the same text repeated", "en", "hot") for i in range(10)]
    cold = [(100, "a cold block doc", "fr", "cold"),
            (101, "a cold block doc", "fr", "cold")]
    df = spark.createDataFrame(hot + cold, ["doc_id", "text", "lang", "source"])
    pairs = DD.ngram_jaccard_pairs(
        df, "doc_id", "text", block_cols=["lang", "source"],
        threshold=0.2, n=2, max_block=5,
    ).collect()
    assert all(r.source == "cold" for r in pairs)
    assert {(r.id_a, r.id_b) for r in pairs} == {(100, 101)}


def test_shingle_containment(spark):
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        ["doc_id", "text"],
    )
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps high"),   # shares a shingle prefix
            (2, "completely unrelated content words here"),
            (3, "the quick brown fox jumps over the lazy dog"),  # full copy
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in DD.shingle_containment(docs, bench).collect()}
    assert out[3].containment == 1.0            # verbatim copy fully contained
    assert 0.0 < out[1].containment < 1.0       # partial overlap
    assert out[2].containment == 0.0            # disjoint
    assert out[2].n_contaminated == 0


def test_incremental_pairs_only_cross_side(spark):
    # near-identical texts land in shared LSH buckets; the incremental
    # builder must emit only new x corpus pairs — never corpus x corpus
    # (ids 1,2 are mutual dups) nor new x new (ids 10,11 are mutual dups)
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base), (2, base),               # corpus dups of each other
        (10, base), (11, base),             # new-batch dups of each other
        (12, "completely unrelated text with no overlap whatsoever here"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sigs = DD.minhash_signatures(df, "doc_id", "text")
    new_s = sigs.filter(F.col("doc_id") >= 10)
    corp_s = sigs.filter(F.col("doc_id") < 10)
    pairs = {
        (r.id_a, r.id_b)
        for r in DD.minhash_incremental_pairs(new_s, corp_s, "doc_id").collect()
    }
    assert pairs == {(10, 1), (10, 2), (11, 1), (11, 2)}


def test_incremental_pairs_bucket_cap_bounds_hot_bucket(spark):
    # one degenerate corpus bucket (all-identical docs): the per-side cap
    # must drop it rather than emit |new| x |corpus| pairs
    rows = [(i, "same text everywhere all the time") for i in range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sigs = DD.minhash_signatures(df, "doc_id", "text")
    new_s = sigs.filter(F.col("doc_id") >= 30)
    corp_s = sigs.filter(F.col("doc_id") < 30)
    n = DD.minhash_incremental_pairs(
        new_s, corp_s, "doc_id", max_bucket=10
    ).count()
    assert n == 0


def test_apply_dedup_keeps_canonicals_and_unmatched(spark):
    df = spark.createDataFrame(
        [(i, f"doc {i}") for i in (1, 2, 3, 7, 9)], ["doc_id", "text"]
    )
    # clusters: {1,2,3} (canonical 1); 7 and 9 never matched anything
    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1)], ["id", "cluster_id"]
    )
    kept = sorted(
        r.doc_id for r in DD.apply_dedup(df, labels, "doc_id").collect()
    )
    assert kept == [1, 7, 9]


def test_bloom_no_false_negatives_and_prunes(spark):
    """Every bloomed key probes true (bloom guarantee); keys outside the
    set mostly probe false at this occupancy (2^18 bits, 200 keys)."""
    from project_bigdata_spark.operators import dedup as DD
    from pyspark.sql import functions as F

    member = spark.range(0, 200).select(
        F.md5(F.concat(F.lit("in:"), F.col("id").cast("string"))).alias("k")
    )
    other = spark.range(0, 500).select(
        F.md5(F.concat(F.lit("out:"), F.col("id").cast("string"))).alias("k")
    )
    bloom = DD.bloom_build(member, "k")
    hits_in = DD.bloom_probe(member, bloom, F.col("k")).filter("bloom_hit").count()
    assert hits_in == 200  # no false negatives, ever
    fp = DD.bloom_probe(other, bloom, F.col("k")).filter("bloom_hit").count()
    assert fp <= 5  # expected FPR ~1e-13 at this occupancy; 1% = 5 is generous


def test_bloom_sharded_routes_consistently(spark):
    """Sharded build/probe agree on routing: membership still exact with
    num_shards > 1 and each shard's bitmap is an independent row."""
    from project_bigdata_spark.operators import dedup as DD
    from pyspark.sql import functions as F

    member = spark.range(0, 300).select(
        F.md5(F.col("id").cast("string")).alias("k")
    )
    bloom = DD.bloom_build(member, "k", num_shards=4)
    assert bloom.count() == 4
    probed = DD.bloom_probe(member, bloom, F.col("k"), num_shards=4)
    assert probed.filter("bloom_hit").count() == 300


def test_bloom_prefilter_query_exact(spark):
    """The catalog query's output is exact membership despite the
    probabilistic prefilter: bloom candidates are confirmed by the digest
    join, non-candidates are definitively novel."""
    from project_bigdata_spark.plans.catalog import load_all

    out = load_all()["bloom_dedup_prefilter"].builder(
        spark, "/root/testdata/sf0.001"
    )
    rows = {r.doc_id: r.is_corpus_dup for r in out.collect()}
    assert rows and all(r in (0, 1) for r in rows.values())
    assert all(d % 3 == 0 for d in rows)


def test_minhash_eval_identical_docs_and_error_range(spark):
    from project_bigdata_spark.operators import dedup as DD

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again"),
            (2, "the quick brown fox jumps over the lazy dog again"),
            (3, "a completely different document with other words"),
        ],
        "doc_id long, text string",
    )
    sigs = DD.minhash_signatures(docs, "doc_id", "text")
    pairs = DD.minhash_candidate_pairs(sigs, "doc_id")
    out = {
        (r["id_a"], r["id_b"]): r
        for r in DD.minhash_eval_pairs(pairs, sigs, "doc_id").collect()
    }
    dup = out[(1, 2)]
    assert dup["est_jaccard"] == 1.0
    assert dup["exact_jaccard"] == 1.0
    assert dup["abs_err"] == 0.0
    for r in out.values():
        assert 0.0 <= r["est_jaccard"] <= 1.0
        assert 0.0 <= r["abs_err"] <= 1.0


def test_simhash_bits_agrees_with_simhash16_and_pairs_find_copies(docs, spark):
    # simhash_bits(·, 16) must reproduce simhash16 exactly — same md5
    # nibble votes, same packing — so the HOF (column-level) and the
    # explode-aggregate (frame-level, used by simhash_hamming_pairs)
    # constructions are interchangeable
    out = docs.select(
        DD.simhash16(F.col("text")).alias("a"),
        DD.simhash_bits(F.col("text"), 16).alias("b"),
    ).collect()
    assert all(r.a == r.b for r in out)
    # pigeonhole banding finds the exact copy at Hamming 0 and bounds
    # every reported pair by max_dist
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in DD.simhash_hamming_pairs(docs).collect()
    }
    assert pairs.get((0, 1)) == 0  # identical texts
    assert all(h <= 3 for h in pairs.values())


def test_simhash_hamming_hot_bucket_capped(spark):
    # a band value shared by > max_bucket docs must be dropped whole
    hot = [(i, "identical boilerplate row") for i in range(12)]
    df = spark.createDataFrame(hot, ["doc_id", "text"])
    assert DD.simhash_hamming_pairs(df, max_bucket=10).count() == 0
    assert DD.simhash_hamming_pairs(df, max_bucket=12).count() == 66


def test_gate_log_is_bounded(docs):
    """A long-lived session calls the fan-out gates without end; the log
    keeps only the latest GATE_LOG_CAP decisions."""
    DD.GATE_LOG.clear()
    try:
        DD.GATE_LOG.extend([("filler", 0, 0, False)] * DD.GATE_LOG_CAP)
        DD.fan_out(docs)
        DD.fan_out_by_key(docs, "doc_id")
        assert len(DD.GATE_LOG) == DD.GATE_LOG_CAP
        helpers = [entry[0] for entry in list(DD.GATE_LOG)[-2:]]
        assert helpers == ["fan_out", "fan_out_by_key"]
    finally:
        DD.GATE_LOG.clear()
