"""Deduplication operators for training-data pipelines (north-star M7).

Beyond the reference's surface (it has no dedup at all — SURVEY.md §2.8
"no deduplication"), these are the standard large-corpus dedup family,
each expressed as pure DataFrame ops so Catalyst/Tungsten execute them
JVM-side:

- :func:`exact_dedup_groups` — hash-groupBy on a text digest.
- :func:`bow_fingerprint` — order-insensitive bag-of-words digest
  (catches word-permuted copies).
- :func:`minhash_signatures` + :func:`minhash_candidate_pairs` — MinHash
  over word shingles, LSH banding, bucket self-join, exact Jaccard
  verification. shingle -> minhash -> band -> bucket-join.
- :func:`simhash` — 16-bit SimHash from per-word md5 bits.
- :func:`ngram_jaccard_pairs` — blocked exact word-bigram Jaccard.

Determinism note: hashing is md5-based (not Spark's ``hash``/``xxhash64``)
so results are engine-portable and the DuckDB oracles can replay them
bit-for-bit. MinHash "min" is the lexicographic min of a 12-hex-char md5
prefix — order statistics over a uniform hash, which is all MinHash needs.

Scale notes (100 TB corpus):

- exact/bow dedup shuffle a 16-byte digest + id, never the document text.
- MinHash: signatures are computed in one narrow pass (no shuffle); the
  only shuffle is the band-bucket exchange on (band_key). Bucket sizes are
  the skew risk — a degenerate corpus (all-identical docs) makes one
  bucket quadratic; cap bucket size (``max_bucket``) to bound the
  self-join, the standard production guard.
- Jaccard verification touches only candidate pairs (LSH output), not n².
"""

from __future__ import annotations

from collections import deque

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

NUM_HASHES = 8
BAND_ROWS = 2  # 8 hashes -> 4 bands of 2: ~(1/4, 1/2)-sensitive family
SHINGLE_WORDS = 3
SLICES_PER_MD5 = 4  # one 128-bit md5 yields four 32-bit hash components
SIG_PREFIX = 8  # hex chars per signature component (32 bits)
HASH_GROUPS = NUM_HASHES // SLICES_PER_MD5  # md5 calls per shingle


# Gate-state receipt: every fan_out / fan_out_by_key call appends (helper,
# input_partitions, target, engaged) here so a bench run can PROVE whether
# the scale gate engaged (single-split local input -> repartition) or
# disengaged (multi-split input -> no-op, the 100 TB behavior). Callers that
# care (bench.py) clear and read it around a plan build. Bounded
# so a long-lived session keeps only the latest GATE_LOG_CAP decisions.
GATE_LOG_CAP = 1024
GATE_LOG: deque[tuple[str, int, int, bool]] = deque(maxlen=GATE_LOG_CAP)


def fan_out(df: DataFrame) -> DataFrame:
    """Repartition a small-file input up to the session's parallelism.

    Hash-heavy narrow ops (minhash, simhash) are CPU-bound: a corpus that
    arrives as one parquet split would run on ONE task regardless of
    cluster size. A cheap row-shuffle first (the rows are tiny — the text
    column dominates and is exactly what we must ship once anyway) buys
    full parallelism for the expensive pass. No-op when the input already
    has enough splits.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    n = df.rdd.getNumPartitions()
    GATE_LOG.append(("fan_out", n, target, n < target))
    if n < target:
        return df.repartition(target)
    return df


def fan_out_by_key(df: DataFrame, *cols: str) -> DataFrame:
    """`fan_out` variant that hash-partitions on the downstream clustering
    key instead of round-robin.

    The repartition then *replaces* the next keyed exchange rather than
    adding one: hash partitioning on a subset of an aggregation's grouping
    keys (or exactly a window's partition spec) satisfies the required
    clustered distribution, so EnsureRequirements inserts no further
    shuffle. And because an explicit REPARTITION_BY_NUM is exempt from AQE
    partition coalescing, the expensive post-shuffle operators (windows,
    wide aggregates) run at full parallelism even when their input is only
    a few MB — the case where AQE's 1 MB min-partition floor would coalesce
    them onto one or two cores.

    No-op when the scan already has enough splits: at scale the natural
    layout wins — partial aggregation upstream of an ENSURE_REQUIREMENTS
    exchange shuffles fewer bytes than raw rows, and AQE sizes/skew-splits
    that exchange itself.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    n = df.rdd.getNumPartitions()
    GATE_LOG.append(("fan_out_by_key", n, target, n < target))
    if n < target:
        return df.repartition(target, *[F.col(c) for c in cols])
    return df


def words_col(text: Column) -> Column:
    """Lowercased whitespace tokens, empties dropped (mirrors the oracle's
    ``list_filter(string_split_regex(lower(text), '\\s+'), ...)``)."""
    return F.filter(F.split(F.lower(text), r"\s+"), lambda w: w != "")


def shingles_from_words(ws: Column, lowered: Column, k: int = SHINGLE_WORDS) -> Column:
    """k-word shingles from a pre-materialized word array; a doc shorter
    than k words is its own single shingle (``lowered`` = lower(text)).

    Callers should bind ``ws`` to a PROJECTED column, not the split
    expression itself: higher-order functions run interpreted, so a
    lambda referencing the split() tree re-tokenizes the document per
    element — O(len²) work per doc. CollapseProject keeps a multiply-
    referenced projection materialized, so the slice then reads the row
    value.
    """
    n = F.size(ws)
    k_shingles = F.transform(
        F.sequence(F.lit(1), n - (k - 1)),
        lambda i: F.concat_ws(" ", F.slice(ws, i, k)),
    )
    return F.when(n >= k, k_shingles).otherwise(F.array(lowered))


def shingles_col(text: Column) -> Column:
    """``SHINGLE_WORDS``-word shingles; a doc shorter than that is its own
    shingle.

    Convenience form over :func:`shingles_from_words` — inside HOF-heavy
    pipelines prefer projecting the word array first (see that
    docstring).
    """
    return shingles_from_words(words_col(text), F.lower(text))


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup: md5-digest groups with a canonical (min-id) survivor.

    Adds ``canonical_id`` and ``dup_group_size``. Only the digest shuffles.
    """
    digest = F.md5(F.col(text_col)).alias("_digest")
    w = Window.partitionBy("_digest")
    return (
        df.withColumn("_digest", digest)
        .withColumn("canonical_id", F.min(id_col).over(w))
        .withColumn("dup_group_size", F.count(F.lit(1)).over(w))
        .drop("_digest")
    )


def bow_fingerprint(text: Column, ws: Column | None = None) -> Column:
    """Order-insensitive digest: md5 of the sorted distinct word bag —
    catches exact copies up to word order/whitespace.

    ``ws``: optional pre-projected ``words_col(text)`` column so hot
    callers that also need the tokens elsewhere split the text once
    (see the :func:`shingles_from_words` projection note)."""
    return F.md5(
        F.concat_ws(
            " ", F.array_sort(F.array_distinct(words_col(text) if ws is None else ws))
        )
    )


def minhash_signatures(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """MinHash signature per document, from SLICED wide hashes: md5 runs
    once per (shingle, group) for ``HASH_GROUPS`` groups, and each
    128-bit digest is split into four 8-hex-char (32-bit) components;
    component i is ``md5(g ':' shingle)[8j .. 8j+8)`` with ``(g, j) =
    divmod(i, 4)``. Hash slicing is the standard production MinHash trick:
    the signature pass scans the ENTIRE corpus (banding later only touches
    capped buckets), so md5-per-shingle is the dominant full-corpus CPU at
    scale — slicing cuts it 4x for the same number of components, and
    md5's output bits are independent enough that slices act as distinct
    hash functions. Fixed-width hex slices keep lexicographic min ==
    numeric min.

    Pure column expressions — one narrow pass, no UDF; the only shuffle
    is the gated id-keyed fan-out below (a no-op once the scan has
    natural splits). Returns id, the shingle array (for exact-Jaccard
    verification), and ``sig`` as ``array<string>(NUM_HASHES)``.
    """
    # r11: fan out BY THE ID — same shuffle bytes as round-robin, but the
    # id partitioning survives the narrow signature pass, so downstream
    # verify joins on the id consume the persisted signatures without
    # re-exchanging them (minhash_near_dups measured 2.91 s -> 2.40 s)
    pre = fan_out_by_key(df, id_col).select(
        F.col(id_col),
        F.lower(F.col(text_col)).alias("_lt"),
        words_col(F.col(text_col)).alias("_ws"),
    )
    out = pre.select(
        F.col(id_col),
        shingles_from_words(F.col("_ws"), F.col("_lt")).alias("shingles"),
    )

    # NOTE: 1-arg lambdas via closure factories — a `lambda s, g=g:`
    # default-arg capture makes F.transform treat it as an
    # (element, index) lambda and pass the array index as the second arg.
    def md5_group(group: int):
        prefix = f"{group}:"
        return lambda s: F.md5(F.concat(F.lit(prefix), s))

    def slicer(j: int):
        start = 1 + SIG_PREFIX * j
        return lambda h: F.substring(h, start, SIG_PREFIX)

    # materialize the md5 arrays as PROJECTED columns before slicing:
    # higher-order functions run interpreted, so a slice lambda that
    # referenced the md5-transform tree would recompute every digest per
    # slice (4x the hashing this scheme exists to avoid)
    hashed = out.select(
        F.col(id_col),
        F.col("shingles"),
        *[
            F.transform("shingles", md5_group(g)).alias(f"_h{g}")
            for g in range(HASH_GROUPS)
        ],
    )
    sig = F.array(
        *[
            F.array_min(
                F.transform(
                    F.col(f"_h{i // SLICES_PER_MD5}"),
                    slicer(i % SLICES_PER_MD5),
                )
            )
            for i in range(NUM_HASHES)
        ]
    )
    return hashed.select(F.col(id_col), F.col("shingles"), sig.alias("sig"))


def _banded(sigs: DataFrame, id_col: str, max_bucket: int) -> DataFrame:
    """Explode ``NUM_HASHES``-wide signatures to (id, band_key) rows, one
    per band of ``BAND_ROWS`` components, dropping band buckets larger
    than ``max_bucket`` (the quadratic-bucket guard shared by the
    self-join and incremental pair builders)."""
    bands = [
        F.concat_ws(
            "|", F.lit(str(b)), *[F.col("sig")[b * BAND_ROWS + r] for r in range(BAND_ROWS)]
        ).alias("band_key")
        for b in range(NUM_HASHES // BAND_ROWS)
    ]
    exploded = sigs.select(
        F.col(id_col), F.explode(F.array(*bands)).alias("band_key")
    )
    bucket_w = Window.partitionBy("band_key")
    return (
        exploded.withColumn("_bsz", F.count(F.lit(1)).over(bucket_w))
        .filter(F.col("_bsz") <= max_bucket)
        .drop("_bsz")
    )


def minhash_incremental_pairs(
    new_sigs: DataFrame,
    corpus_sigs: DataFrame,
    id_col: str,
    max_bucket: int = 1000,
) -> DataFrame:
    """Two-sided LSH banding for INCREMENTAL dedup: candidate pairs
    between a new batch and an already-deduped corpus — never
    corpus x corpus (done in a previous cycle) and never new x new
    (run :func:`minhash_candidate_pairs` on the batch for that).

    This is the refresh-cycle shape at 100 TB: the corpus side re-pairs
    O(|new| x bucket) work instead of O(|corpus|²); persisted corpus
    signatures make the whole pass independent of corpus text size.
    Each side's band buckets are capped at ``max_bucket`` independently
    (a hot bucket is quadratic in the product of the two sides).

    Emits distinct ``(id_a = new id, id_b = corpus id)``.
    """
    n = _banded(new_sigs, id_col, max_bucket)
    c = _banded(corpus_sigs, id_col, max_bucket)
    return (
        n.select(F.col("band_key"), F.col(id_col).alias("id_a"))
        .join(
            c.select(F.col("band_key"), F.col(id_col).alias("id_b")),
            on="band_key",
        )
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_candidate_pairs(
    sigs: DataFrame, id_col: str, max_bucket: int = 1000
) -> DataFrame:
    """LSH banding: docs sharing any band of the signature become a pair.

    Emits distinct (id_a, id_b) with id_a < id_b. ``max_bucket`` drops
    degenerate buckets (all-identical corpora) whose self-join would be
    quadratic — the standard guard at scale.
    """
    bounded = _banded(sigs, id_col, max_bucket)
    a = bounded.select(F.col("band_key"), F.col(id_col).alias("id_a"))
    b = bounded.select(F.col("band_key"), F.col(id_col).alias("id_b"))
    return (
        a.join(b, on="band_key")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def jaccard_verify(
    pairs: DataFrame, sigs: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Exact Jaccard over distinct shingle sets for candidate pairs only."""
    sa = sigs.select(
        F.col(id_col).alias("id_a"),
        F.array_distinct("shingles").alias("set_a"),
    )
    sb = sigs.select(
        F.col(id_col).alias("id_b"),
        F.array_distinct("shingles").alias("set_b"),
    )
    j = (
        pairs.join(sa, on="id_a")
        .join(sb, on="id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("set_a", "set_b"))
            / F.size(F.array_union("set_a", "set_b")),
        )
    )
    return j.filter(F.col("jaccard") >= threshold).select("id_a", "id_b", "jaccard")


def simhash16(text: Column) -> Column:
    """16-bit SimHash: per word, md5's first 4 hex chars supply 16 bits;
    each bit votes +1/-1; the sign vector is the fingerprint.

    Composed entirely of higher-order array functions (``aggregate`` over
    the word array with a 16-slot accumulator) — executor-side, no explode,
    no UDF.
    """
    ws = words_col(text)

    def bit(w: Column, b: int) -> Column:
        nibble = F.conv(F.substring(F.md5(w), 1 + b // 4, 1), 16, 10).cast("int")
        return F.shiftright(nibble, 3 - b % 4).bitwiseAND(F.lit(1))

    # accumulator: array of 16 vote counters
    zero = F.array(*[F.lit(0)] * 16)
    votes = F.aggregate(
        ws,
        zero,
        lambda acc, w: F.array(
            *[acc[b] + (bit(w, b) * 2 - 1) for b in range(16)]
        ),
    )
    bits = [
        F.when(votes[b] > 0, F.lit(1 << (15 - b))).otherwise(F.lit(0))
        for b in range(16)
    ]
    total = bits[0]
    for piece in bits[1:]:
        total = total + piece
    return total.cast("bigint")


def simhash_bits(text: Column, nbits: int = 16) -> Column:
    """``nbits``-bit SimHash as a COLUMN EXPRESSION — the narrow
    (``nbits <= 16``) face only. Wide fingerprints must go through
    :func:`simhash_fingerprints_frame`: this per-word array-accumulator
    fold runs interpreted (outside whole-stage codegen) and measured ~6x
    slower than the exploded conditional-sum shape at 60 bits / sf0.1,
    so the slow wide path is closed off rather than left as a trap
    (round-7 verdict ask #4).

    Same vote construction as :func:`simhash16` — per word, md5 hex
    nibbles supply the bit stream; each bit votes +1/-1; the sign vector
    packs into an integer — but md5 is computed ONCE per word (a
    ``transform`` pass) instead of once per (word, bit). Executor-side
    higher-order functions only, no explode, no UDF.
    """
    assert 0 < nbits <= 16, (
        "simhash_bits is the <=16-bit column-expression path; use "
        "simhash_fingerprints_frame(df, ...) for wide fingerprints "
        "(explode + codegen sums, measured ~6x faster at 60 bits)"
    )
    hs = F.transform(words_col(text), lambda w: F.md5(w))

    def bit(h: Column, b: int) -> Column:
        nibble = F.conv(F.substring(h, 1 + b // 4, 1), 16, 10).cast("int")
        return F.shiftright(nibble, 3 - b % 4).bitwiseAND(F.lit(1))

    zero = F.array(*[F.lit(0)] * nbits)
    votes = F.aggregate(
        hs,
        zero,
        lambda acc, h: F.array(
            *[acc[b] + (bit(h, b) * 2 - 1) for b in range(nbits)]
        ),
    )
    total = F.lit(0).cast("bigint")
    for b in range(nbits):
        total = total + F.when(
            votes[b] > 0, F.lit(1 << (nbits - 1 - b)).cast("bigint")
        ).otherwise(F.lit(0).cast("bigint"))
    return total


# SimHash fingerprint width of the frame path: at most 60 keeps the
# packed fingerprint positive in a signed BIGINT on both engines — bit 63
# would sign-extend under shiftright and break band extraction downstream.
SIMHASH_BITS = 60


def simhash_fingerprints_frame(df: DataFrame, out_col: str = "simhash") -> DataFrame:
    """``SIMHASH_BITS``-bit SimHash fingerprint per ``doc_id`` of its
    ``text``, as a FRAME transform — the fast wide path (explode +
    codegen'd conditional sums) behind :func:`simhash_hamming_pairs`.

    Rather than the interpreted per-word array-accumulator HOF fold of
    :func:`simhash_bits` (the lambda runs outside whole-stage codegen and
    measured ~6x slower at 60 bits / sf0.1), this shuffles only
    (id, md5) pairs and aggregates in codegen'd sums. Empty-word docs
    drop out (exactly as an oracle's unnest does).
    """
    words = df.select(
        F.col("doc_id"), F.explode(words_col(F.col("text"))).alias("_w")
    )
    hashed = words.select(F.col("doc_id"), F.md5(F.col("_w")).alias("_h"))

    def bit(h: Column, b: int) -> Column:
        nibble = F.conv(F.substring(h, 1 + b // 4, 1), 16, 10).cast("int")
        return F.shiftright(nibble, 3 - b % 4).bitwiseAND(F.lit(1))

    votes = hashed.groupBy("doc_id").agg(
        *[
            F.sum(bit(F.col("_h"), b) * 2 - 1).alias(f"_v{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    total = F.lit(0).cast("bigint")
    for b in range(SIMHASH_BITS):
        total = total + F.when(
            F.col(f"_v{b}") > 0, F.lit(1 << (SIMHASH_BITS - 1 - b)).cast("bigint")
        ).otherwise(F.lit(0).cast("bigint"))
    return votes.select(F.col("doc_id"), total.alias(out_col))


def simhash_hamming_pairs(df: DataFrame, max_bucket: int = 1000) -> DataFrame:
    """SimHash near-dup ``doc_id`` pairs by pigeonhole banding (the
    classic Charikar/Manku web-dedup construction): split each ``text``'s
    ``SIMHASH_BITS`` fingerprint into 4 equal 15-bit bands — any pair
    within Hamming distance 3 agrees EXACTLY on at least one band — then
    equi-join per band and verify ``bit_count(xor) <= 3``.

    Scale shape: candidates come from band-bucket equi-joins (never n²);
    ``max_bucket`` drops degenerate band buckets whole (a band value
    shared by a huge cohort — boilerplate-dominated corpora), the same
    hot-bucket guard as MinHash LSH banding.
    """
    bands = 4
    bandw = SIMHASH_BITS // bands
    sh = simhash_fingerprints_frame(df, out_col="_sh")
    bands_arr = F.array(
        *[
            F.shiftright(F.col("_sh"), bandw * i).bitwiseAND(
                F.lit((1 << bandw) - 1).cast("bigint")
            )
            for i in range(bands)
        ]
    )
    e = sh.select(
        F.col("doc_id"), F.col("_sh"), F.posexplode(bands_arr).alias("_band", "_bv")
    )
    w = Window.partitionBy("_band", "_bv")
    capped = e.withColumn("_bsz", F.count(F.lit(1)).over(w)).filter(
        F.col("_bsz") <= max_bucket
    )
    a = capped.select(
        "_band", "_bv", F.col("doc_id").alias("id_a"), F.col("_sh").alias("_sha")
    )
    b = capped.select(
        "_band", "_bv", F.col("doc_id").alias("id_b"), F.col("_sh").alias("_shb")
    )
    pairs = (
        a.join(b, on=["_band", "_bv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "_sha", "id_b", "_shb")
        .distinct()
    )
    ham = F.bit_count(F.col("_sha").bitwiseXOR(F.col("_shb")))
    return pairs.withColumn("hamming", ham).filter(
        F.col("hamming") <= 3
    ).select("id_a", "id_b", "hamming")


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    threshold: float = 0.5,
    n: int = 2,
    max_block: int = 1000,
) -> DataFrame:
    """Blocked exact n-gram Jaccard: compare only docs sharing a blocking
    key (cheap metadata), with distinct word-n-gram sets.

    Blocking is what keeps this sub-quadratic at scale; the block key
    choice (language, source, length bucket, ...) is the recall/cost dial.
    ``max_block`` drops hot blocks (one dominant language/source — the norm
    in web corpora) whose self-join would be quadratic, mirroring
    ``minhash_candidate_pairs``'s ``max_bucket`` guard; route oversized
    blocks through MinHash LSH instead.

    Blocks denser than 128 members sub-block on a MINHASH BAND over the
    SAME n-gram shingles the operator measures — ``min(md5(shingle))``
    over the doc's grams, the exact LSH family for n-gram Jaccard
    (Broder; the metadata key's block COUNT is a vocabulary constant, so
    block size — and the pair join, quadratically — otherwise grows with
    the corpus). The band key is
    ORDER-INSENSITIVE where it matters (round-7 verdict ask #2): a
    reordered near-dup shares almost its whole gram set (a k-sentence
    block move touches k boundary grams), hence w.h.p. the same minimum,
    hence the same sub-block — where the earlier 8-char-prefix key
    DETERMINISTICALLY separated every reordering that touches the text
    head (the prefix key survives only in :func:`edit_distance_pairs`,
    where prefix agreement is semantically justified for edit-distance
    candidates). RECALL TRADE-OFF (still real, now Broder-shaped,
    aligned with the measure): a pair with gram-Jaccard j keeps pairing
    inside a dense block with probability exactly j — high-j near-dups
    (the operator's actual targets) almost always pair; borderline-j
    pairs degrade proportionally — where the prefix key's recall was
    0/1 on an axis (text head) UNCORRELATED with the measured
    similarity. Sub-block cardinality grows with shingle diversity
    (shingle vocabulary is quadratic in word vocabulary; two unrelated
    docs collide only with probability = their gram Jaccard), exact-
    duplicate cohorts correctly stay together, and a residual hot
    sub-block (a giant copy cluster or one tiny-hash boilerplate gram)
    is still bounded by ``max_block``. Pairs the refinement does drop
    remain reachable via MinHash LSH (``minhash_candidate_pairs``), the
    designated route for hot blocks.
    """
    pre = df.select(
        F.col(id_col),
        *[F.col(c) for c in block_cols],
        F.lower(F.col(text_col)).alias("_lt"),
        words_col(F.col(text_col)).alias("_ws"),
    )
    # conditional sub-blocking (round-6 re-plan, the edit_distance_pairs
    # discipline); a no-op at every attested SF. coalesce guards the
    # degenerate empty-gram doc (array_min of empty = NULL, and a NULL
    # key would silently drop the row from the equi-join). The min runs
    # over the raw (non-distinct) gram array — min is dedup-invariant —
    # and only on rows inside dense blocks (the when-branch).
    band = F.coalesce(
        F.substring(
            F.array_min(
                F.transform(
                    shingles_from_words(F.col("_ws"), F.col("_lt"), k=n),
                    lambda g: F.md5(g),
                )
            ),
            1,
            16,
        ),
        F.lit(""),
    )
    w0 = Window.partitionBy(*block_cols)
    pre = pre.withColumn(
        "_blk",
        F.when(F.count(F.lit(1)).over(w0) > 128, band).otherwise(
            F.lit("")
        ),
    )
    # size-filter BEFORE materializing gram sets, so dropped blocks never
    # pay the shingle/array_distinct cost
    bw = Window.partitionBy("_blk", *block_cols)
    pre = pre.withColumn("_bsz", F.count(F.lit(1)).over(bw)).filter(
        F.col("_bsz") <= max_block
    )
    grams = F.array_distinct(
        shingles_from_words(F.col("_ws"), F.col("_lt"), k=n)
    ).alias("_grams")
    base = pre.select(
        F.col(id_col), F.col("_blk"), *[F.col(c) for c in block_cols], grams
    )
    a = base.select(
        "_blk",
        *block_cols,
        F.col(id_col).alias("id_a"),
        F.col("_grams").alias("ga"),
    )
    b = base.select(
        F.col("_blk"),
        *[F.col(c) for c in block_cols],
        F.col(id_col).alias("id_b"),
        F.col("_grams").alias("gb"),
    )
    # join on the block columns THEMSELVES plus the refinement suffix —
    # never on a concat_ws composite alone, whose '|' separator can
    # collide distinct blocks (('a|b','c') vs ('a','b|c')) and whose
    # NULL-skipping would pair rows with NULL block keys that a plain
    # equi-join (correctly) never matches.
    return (
        a.join(b, on=["_blk", *block_cols])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("ga", "gb"))
            / F.size(F.array_union("ga", "gb")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(*block_cols, "id_a", "id_b", "jaccard")
    )


def shingle_containment(docs: DataFrame, bench: DataFrame) -> DataFrame:
    """Benchmark-contamination check: per ``doc_id``, the fraction of the
    distinct ``SHINGLE_WORDS``-word shingles of its ``text`` that appear
    anywhere in the benchmark set's ``text`` —
    the standard eval-set decontamination signal for training corpora.

    Scale shape: the benchmark's distinct shingle set is the SMALL side
    (eval suites are tiny next to a 100 TB corpus) — broadcast it and
    hash-join exploded corpus shingles against it; the corpus side stays
    a narrow explode + two-level aggregate, no corpus-vs-corpus join.
    """
    # r11: keyed fan-out — the shingle build is the dominant full-corpus
    # CPU and a one-split scan pins it to a single task; partitioning by
    # the doc id also satisfies the per-doc aggregate below, so the
    # explicit exchange REPLACES the aggregate's rather than adding one
    # (measured 4.96 s -> 0.98 s at sf0.1/32 cpus; no-op at scale).
    doc_sh = fan_out_by_key(docs.select("doc_id", "text"), "doc_id").select(
        F.col("doc_id"),
        F.explode(F.array_distinct(shingles_col(F.col("text")))).alias("_sh"),
    )
    bench_sh = (
        bench.select(
            F.explode(F.array_distinct(shingles_col(F.col("text")))).alias("_sh")
        )
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    marked = doc_sh.join(F.broadcast(bench_sh), on="_sh", how="left")
    return marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
        F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("bigint").alias(
            "n_contaminated"
        ),
        (
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))) / F.count(F.lit(1))
        ).alias("containment"),
    )


CLUSTER_ROUNDS = 4


def min_label_clusters(pairs: DataFrame) -> DataFrame:
    """Duplicate clustering: bounded min-label propagation over an
    undirected near-dup ``(id_a, id_b)`` pair graph -> ``(id, cluster_id)``.

    Each round every vertex takes the min of its own label and its
    neighbors' labels; after ``r`` rounds a vertex holds the smallest id
    within ``r`` hops, so components with diameter <= ``CLUSTER_ROUNDS``
    get their exact connected component (near-dup clusters are almost
    always shallow). The bounded unroll keeps the whole computation one
    deterministic DAG — no driver-side convergence loop, and an oracle
    can replay it as ``CLUSTER_ROUNDS`` unrolled self-joins.

    Scale: 2 shuffles per round on (vertex, label) pairs — the standard
    iterative-join cost (what GraphFrames' connected components pays per
    iteration). Each round is ONE ``join -> union -> min-aggregate``:
    ``min(own label, neighbors' labels)`` computed by unioning the
    current labels with the neighbor-propagated labels and taking the
    grouped min — algebraically identical to a left-join-then-least
    formulation but one shuffle cheaper per round (AQE stage latency
    is the floor at small data; shuffled bytes are the floor at 100 TB).
    ``sym`` and each round's labels are ``localCheckpoint``ed: each round
    references the previous labels twice, so the LOGICAL plan doubles per
    round (2^rounds copies of the whole upstream pipeline — ~700 plan
    nodes at 4 rounds) even though persisted execution is linear;
    checkpointing truncates the lineage so Catalyst re-optimizes a
    constant-size plan per round. The label table is (vertex, label) —
    tiny next to the corpus — so executor-local checkpoint storage is
    cheap; the recompute-on-executor-loss caveat applies only to this
    bounded intermediate, never the corpus.
    """
    sym = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .localCheckpoint()
    )
    labels = sym.select(F.col("src").alias("id")).distinct().select(
        "id", F.col("id").alias("label")
    )
    for _ in range(CLUSTER_ROUNDS):
        nbr = sym.join(labels, sym["dst"] == labels["id"]).select(
            F.col("src").alias("id"), "label"
        )
        labels = (
            labels.unionByName(nbr)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
            .localCheckpoint()
        )
    return labels.select("id", F.col("label").alias("cluster_id"))


def apply_dedup(
    df: DataFrame, labels: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Materialize the deduped corpus from cluster labels: keep every doc
    with no verified near-dup plus each cluster's canonical (min-id)
    representative — the ACTION step after
    :func:`min_label_clusters` turns pairs into components.

    ``labels`` is (id, cluster_id) and covers only docs that appeared in
    a verified pair — a small table next to the corpus, so the left join
    is AQE-broadcastable; the corpus itself moves at most once.
    """
    lab = labels.select(F.col("id").alias(id_col), "cluster_id")
    return (
        df.join(lab, on=id_col, how="left")
        .filter(
            F.col("cluster_id").isNull()
            | (F.col("cluster_id") == F.col(id_col))
        )
        .drop("cluster_id")
    )


# ---------------------------------------------------------------------------
# Bloom-filter membership prefilter (M7-D13)
# ---------------------------------------------------------------------------

BLOOM_BITS = 1 << 18  # bits per shard: 4096 longs = 32 KiB bitmap
BLOOM_HASHES = 5
_SHARD_SEED = -1  # xxhash64 seed column reserved for shard routing


def _bloom_shard(key: Column, num_shards: int) -> Column:
    return F.pmod(F.xxhash64(key, F.lit(_SHARD_SEED)), F.lit(num_shards)).cast(
        "int"
    )


def _bloom_positions(key: Column, num_bits: int) -> list[Column]:
    """``BLOOM_HASHES`` bit positions for a key via double hashing:
    ``(h1 + i*h2) mod m`` (Kirsch & Mitzenmacher, "Less Hashing, Same
    Performance" — the standard construction) costs TWO hash evaluations
    total instead of k,
    which matters because the probe runs per ingested row. Both terms are
    reduced mod small ranges first so ``h1 + i*h2`` stays far below 2^63
    (ANSI mode makes long overflow an ERROR, not a wrap). xxhash64 (not
    md5) is fine here: bloom positions never reach query OUTPUT
    (membership is always confirmed by an exact join), so oracle
    portability doesn't apply and the cheaper JVM hash wins."""
    h1 = F.pmod(F.xxhash64(key, F.lit(0)), F.lit(num_bits))
    # odd-ish nonzero step << 2^31 keeps i*h2 + h1 < 2^35, overflow-free
    h2 = F.pmod(F.xxhash64(key, F.lit(1)), F.lit((1 << 31) - 1)) + F.lit(1)
    return [
        F.pmod(h1 + F.lit(i) * h2, F.lit(num_bits)) for i in range(BLOOM_HASHES)
    ]


def bloom_build(
    df: DataFrame,
    key_col: str,
    num_bits: int = BLOOM_BITS,
    num_shards: int = 1,
) -> DataFrame:
    """Distributed Bloom-filter build: returns ``num_shards`` rows of
    ``(shard int, bloom array<bigint>)`` — each shard a ``num_bits``-bit
    bitmap packed into ``num_bits/64`` longs.

    Build shape (scale-first): explode each key into ``BLOOM_HASHES``
    tiny (shard, pos) ints -> ``bit_or`` per 64-bit word. No
    ``distinct`` is needed —
    OR-ing a bit twice is a no-op, and the groupBy's map-side partial
    aggregation means each task emits at most ``num_shards x num_bits/64``
    word rows no matter how many corpus keys it scanned, so the exchange
    is bounded by bitmap size, not corpus size. Final step assembles each
    shard's word map into one dense array row. The corpus text itself
    never moves.

    Sharding is the 10^9+-key path: a SINGLE bitmap sized for n keys at
    ~10 bits/key stops being broadcastable around a few hundred MB;
    routing keys to ``num_shards`` independent bitmaps by a reserved hash
    keeps every row small, and the probe side joins on the same shard
    route (the bloom table stays tiny -> broadcast join). With the
    defaults (1 shard, 2^18 bits, 5 hashes) the false-positive rate at
    10k keys is ~2e-7.
    """
    words = num_bits // 64
    key = F.col(key_col)
    pos = df.select(
        _bloom_shard(key, num_shards).alias("shard"),
        F.explode(F.array(*_bloom_positions(key, num_bits))).alias(
            "pos"
        ),
    )
    word_rows = pos.select(
        "shard",
        (F.col("pos") / F.lit(64)).cast("int").alias("w"),
        # shiftleft by a COLUMN needs the SQL form (the python helper only
        # takes a literal shift)
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias(
            "b"
        ),
    ).groupBy("shard", "w").agg(F.bit_or("b").alias("bits"))
    # Dense assembly via a skeleton outer join, NOT per-index map lookups:
    # element_at on a Spark MAP is a linear scan, so a transform(sequence)
    # over the word index against a words-sized map is O(words²) per shard
    # — non-terminating at production bitmap sizes. The skeleton join is
    # linear: shards x words rows, occupied words attach their bits, the
    # sorted collect yields the array in word order.
    spark = df.sparkSession
    skeleton = (
        spark.range(num_shards)
        .select(F.col("id").cast("int").alias("shard"))
        .crossJoin(
            spark.range(words).select(F.col("id").cast("int").alias("w"))
        )
    )
    dense_rows = skeleton.join(word_rows, on=["shard", "w"], how="left").select(
        "shard",
        "w",
        F.coalesce("bits", F.lit(0).cast("bigint")).alias("bits"),
    )
    return dense_rows.groupBy("shard").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("w", "bits"))),
            lambda p: p["bits"],
        ).alias("bloom")
    )


def bloom_probe(
    df: DataFrame,
    bloom: DataFrame,
    key: Column,
    num_bits: int = BLOOM_BITS,
    num_shards: int = 1,
) -> DataFrame:
    """Membership probe: adds boolean ``bloom_hit`` = "key might be in the
    bloomed set" (no false negatives; false positives at the filter's
    FPR). The bloom table is broadcast and joined on the shard route, so
    the probe is a zero-shuffle map pass over ``df`` — bit tests are plain
    shift/AND column expressions on the broadcast bitmap."""
    probed = df.withColumn("_shard", _bloom_shard(key, num_shards)).join(
        F.broadcast(bloom.withColumnRenamed("shard", "_shard")), on="_shard"
    )
    hit = F.lit(True)
    for p in _bloom_positions(key, num_bits):
        word = F.element_at("bloom", (p / F.lit(64)).cast("int") + F.lit(1))
        bit = F.getbit(word, (p % F.lit(64)).cast("int"))
        hit = hit & (bit == 1)
    return probed.withColumn("bloom_hit", hit).drop("_shard", "bloom")


def minhash_eval_pairs(
    pairs: DataFrame, sigs: DataFrame, id_col: str
) -> DataFrame:
    """Estimator-quality audit: MinHash-estimated vs exact Jaccard per
    candidate pair (est = matching-component fraction), with the absolute
    error — the dial-tuning readout for NUM_HASHES / banding choices.

    Same join shape as :func:`jaccard_verify` (candidates only, never n²);
    the signature arrays add ``NUM_HASHES`` small strings per row to the
    join, nothing corpus-sized.
    """
    sa = sigs.select(
        F.col(id_col).alias("id_a"),
        F.array_distinct("shingles").alias("set_a"),
        F.col("sig").alias("sig_a"),
    )
    sb = sigs.select(
        F.col(id_col).alias("id_b"),
        F.array_distinct("shingles").alias("set_b"),
        F.col("sig").alias("sig_b"),
    )
    matches = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
            lambda m: m,
        )
    )
    return (
        pairs.join(sa, on="id_a")
        .join(sb, on="id_b")
        .withColumn("est_jaccard", matches / F.size(F.col("sig_a")))
        .withColumn(
            "exact_jaccard",
            F.size(F.array_intersect("set_a", "set_b"))
            / F.size(F.array_union("set_a", "set_b")),
        )
        .withColumn(
            "abs_err", F.abs(F.col("est_jaccard") - F.col("exact_jaccard"))
        )
        .select("id_a", "id_b", "est_jaccard", "exact_jaccard", "abs_err")
    )


def edit_distance_pairs(
    df: DataFrame, max_dist: int = 8, max_block: int = 1000
) -> DataFrame:
    """Blocked fuzzy record linkage of ``doc_id`` rows: within each block
    (``lang`` + the first word of ``text``), pair documents whose
    lowercased 32-char ``text`` prefixes are within ``max_dist``
    Levenshtein edits — the classic blocking+edit-distance linkage pass.

    Levenshtein is O(m·n) per pair and all-pairs is quadratic, so BOTH
    dimensions are bounded: the compared string is a fixed-width prefix
    (cost per pair is a constant ~prefix² DP) and blocks larger than
    ``max_block`` are dropped whole (the same degenerate-bucket guard as
    LSH banding; a hot block belongs to MinHash, not edit distance).
    Only (id, block key, prefix) tuples shuffle — never documents.

    Dense blocks: the coarse key's block COUNT is a constant (lang x
    first-word vocabulary), so block SIZE — and the pair count,
    quadratically — grows with the corpus (the synthetic-decade soak
    measured 1.6s -> 102s). Blocks exceeding 128 members refine on the
    prefix's first 8 chars: true near-dup pairs (Levenshtein <= 8 over
    32-char prefixes) almost surely agree on the first 8 chars, while
    unrelated docs that merely share a first word scatter. RECALL
    TRADE-OFF: inside a dense block, a pair whose edits fall within the
    first 8 chars stops pairing once the refinement fires. A no-op below
    the threshold (max block at any attested SF is 93). The prefix
    refinement is justified HERE specifically because the metric itself
    is prefix edit distance — key agreement and metric proximity align.
    """
    first_word = F.element_at(words_col(F.col("text")), 1)
    keyed = df.select(
        F.col("doc_id"),
        F.col("lang"),
        first_word.alias("_fw"),
        F.substring(F.lower(F.col("text")), 1, 32).alias("_pfx"),
    )
    # conditional sub-blocking (round-6 re-plan); block identity lives in
    # the key columns themselves (never a concat_ws composite, whose '|'
    # separator can collide distinct blocks and whose NULL-skipping would
    # pair NULL-keyed rows an equi-join correctly never matches); the
    # refinement is a separate suffix column.
    w0 = Window.partitionBy("lang", "_fw")
    refined = keyed.withColumn(
        "_sfx",
        F.when(
            F.count(F.lit(1)).over(w0) > 128,
            F.substring(F.col("_pfx"), 1, 8),
        ).otherwise(F.lit("")),
    )
    bw = Window.partitionBy("lang", "_fw", "_sfx")
    bounded = (
        refined.withColumn("_bsz", F.count(F.lit(1)).over(bw))
        .filter(F.col("_bsz") <= max_block)
        .drop("_bsz")
    )
    a = bounded.select(
        "lang",
        "_fw",
        "_sfx",
        F.col("doc_id").alias("id_a"),
        F.col("_pfx").alias("_pa"),
    )
    b = bounded.select(
        "lang",
        "_fw",
        "_sfx",
        F.col("doc_id").alias("id_b"),
        F.col("_pfx").alias("_pb"),
    )
    return (
        a.join(b, on=["lang", "_fw", "_sfx"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("edit_dist", F.levenshtein("_pa", "_pb"))
        .filter(F.col("edit_dist") <= max_dist)
        .select("id_a", "id_b", "edit_dist")
    )
