"""Corpus-structure operators: segment-level dedup, cross-document
boilerplate detection, composition/vocabulary profiling, length bucketing,
and fixed-n stratified sampling.

These close the gap between per-document heuristics (operators/text.py)
and corpus-wide passes a training-data refresh needs. The reference has no
sub-document dedup at all (its pipeline dedups whole records only,
``spark/batch_processor.py``); segment/boilerplate removal is the
RefinedWeb/C4-style pass a 100 TB crawl needs before tokenization.

Scale invariants (SCALE.md conventions):
- segments/shingles shuffle as 32-byte MD5 digests (or small strings),
  never the document payload;
- every per-group pass aggregates partially map-side first;
- "corpus-relative" statistics (shares, coverage, thresholds) reduce to
  one tiny frame that broadcasts back against the big side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from project_bigdata_spark.operators.dedup import shingles_from_words, words_col

SEGMENT_WORDS = 16

# Fixed power-of-two sequence-length ladder (min 32, cap 2048). A CASE
# ladder rather than 2^ceil(log2 n): integer-exact on every engine, no
# libm rounding hazard at the power-of-two boundaries.
LENGTH_BUCKETS = [32, 64, 128, 256, 512, 1024, 2048]


def segments_col(ws, seg_words: int = SEGMENT_WORDS):
    """Non-overlapping ``seg_words``-word segments from a pre-projected
    word array (empty doc -> zero segments).

    Like :func:`shingles_from_words`, bind ``ws`` to a projected column:
    HOF lambdas re-evaluate their operand tree per element.
    """
    n = F.size(ws)
    nseg = F.ceil(n / F.lit(seg_words)).cast("int")
    return F.when(n > 0, F.transform(
        F.sequence(F.lit(0), nseg - 1),
        lambda i: F.concat_ws(" ", F.slice(ws, i * seg_words + 1, seg_words)),
    )).otherwise(F.array().cast("array<string>"))


def segment_dedup_stats(df: DataFrame) -> DataFrame:
    """Corpus-wide exact segment dedup accounting: split every document's
    ``text`` into non-overlapping ``SEGMENT_WORDS``-word segments, keep the FIRST
    occurrence of each distinct segment (ordered by ``(doc_id, seg_idx)``),
    and report per-document ``n_segments`` / ``n_kept`` / ``dup_ratio``.

    This is sub-document dedup (C4 deduplicates at the "span" level, not
    whole pages): a doc that is 40% recycled paragraphs keeps only its
    novel 60%. Only the 32-hex MD5 of each segment shuffles — two
    exchanges total (digest, then doc_id), payload text never moves.
    """
    ws = words_col(F.col("text"))
    segs = (
        df.select(F.col("doc_id"), ws.alias("_ws"))
        .select("doc_id", F.posexplode(segments_col(F.col("_ws")))
                .alias("seg_idx", "seg"))
        .select("doc_id", "seg_idx", F.md5(F.col("seg")).alias("_h"))
    )
    first = Window.partitionBy("_h").orderBy("doc_id", "seg_idx")
    ranked = segs.withColumn("_rn", F.row_number().over(first))
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_segments"),
        F.sum(F.when(F.col("_rn") == 1, 1).otherwise(0))
        .cast("bigint").alias("n_kept"),
    )


def boilerplate_shingles(df: DataFrame, top_n: int = 20) -> DataFrame:
    """Cross-document boilerplate detector: the ``top_n``
    ``SHINGLE_WORDS``-word shingles of ``text`` by DISTINCT-``doc_id``
    frequency, with their corpus share.

    Counting distinct docs (not raw occurrences) is what separates
    boilerplate (nav bars, license headers — appear once in *many* docs)
    from within-doc repetition (see ``repeated_ngram_spans``).
    ``array_distinct`` BEFORE the explode makes a plain ``count(*)`` the
    distinct-doc frequency — no count-distinct shuffle state. Doc total
    rides along as one broadcast row.
    """
    ws = words_col(F.col("text"))
    per_doc = (
        df.select(F.col("doc_id"), ws.alias("_ws"), F.lower("text").alias("_lo"))
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(shingles_from_words(F.col("_ws"), F.col("_lo")))
            ).alias("shingle"),
        )
    )
    total = df.select(F.count(F.lit(1)).cast("bigint").alias("_n_docs"))
    counts = per_doc.groupBy("shingle").agg(
        F.count(F.lit(1)).cast("bigint").alias("doc_freq")
    )
    return (
        counts.crossJoin(F.broadcast(total))
        .orderBy(F.desc("doc_freq"), "shingle")
        .limit(top_n)
    )


def corpus_composition(df: DataFrame) -> DataFrame:
    """Per-``source`` corpus composition: docs, whitespace tokens of
    ``text``, token share, and cumulative share in descending-tokens
    order — the mixing table a sampling-weights decision (e.g.
    DoReMi-style re-weighting) reads.

    Shape: one partial-aggregated shuffle on ``source`` to a
    #sources-row frame; the share window runs on that tiny frame, not the
    corpus.
    """
    toks = F.size(words_col(F.col("text"))).cast("bigint")
    per = df.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(toks).cast("bigint").alias("n_tokens"),
    )
    # Single-partition by construction (#sources rows); partition on a
    # non-foldable constant (`x % 1`, see label_encode) so the
    # global-window WARN stays reserved for real unpartitioned windows.
    one = F.col("n_docs") % 1
    w_all = Window.partitionBy(one)
    w_cum = (
        Window.partitionBy(one)
        .orderBy(F.desc("n_tokens"), "source")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return per.select(
        "source",
        "n_docs",
        "n_tokens",
        (F.col("n_tokens") / F.sum("n_tokens").over(w_all)).alias("_share"),
        (F.sum("n_tokens").over(w_cum) / F.sum("n_tokens").over(w_all)).alias(
            "_cum_share"
        ),
    )


def vocab_coverage(df: DataFrame) -> DataFrame:
    """Per-``lang`` vocabulary profile of ``text``: total tokens,
    vocabulary size, hapax count (frequency-1 types), and the token share
    covered by the 10 most frequent types — the Zipf-head coverage a
    tokenizer budget decision needs.

    Two aggregations: tokens -> (lang, word) counts (map-side partials
    collapse the heavy hitters early), then counts -> one row per lang.
    The per-lang top-k rank runs over the counts frame (#langs x vocab),
    never over raw tokens.
    """
    toks = df.select(
        F.col("lang"), F.explode(words_col(F.col("text"))).alias("w")
    )
    counts = toks.groupBy("lang", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    rk = Window.partitionBy("lang").orderBy(F.desc("c"), "w")
    ranked = counts.withColumn("_rk", F.row_number().over(rk))
    return ranked.groupBy("lang").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("vocab_size"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("bigint").alias("hapax_count"),
        (
            F.sum(F.when(F.col("_rk") <= 10, F.col("c")).otherwise(0))
            / F.sum("c")
        ).alias("_topk_share"),
    )


def length_bucket_stats(df: DataFrame) -> DataFrame:
    """Sequence-length bucketing audit: assign each doc the smallest
    ``LENGTH_BUCKETS`` bucket >= the token count of its ``text`` and
    report per-bucket doc
    count, real tokens, padding tokens, and padding waste share — what a
    bucketed-batching data loader wastes at each size.

    Pure integer column math + one tiny aggregation; the CASE ladder
    avoids float ``log2`` edge cases at exact powers of two.
    """
    n = F.size(words_col(F.col("text"))).cast("bigint")
    bucket = F.lit(LENGTH_BUCKETS[-1])
    for b in reversed(LENGTH_BUCKETS):
        bucket = F.when(n <= b, F.lit(b)).otherwise(bucket)
    per = df.select(
        bucket.cast("bigint").alias("bucket"),
        n.alias("_n"),
    )
    return per.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("_n").cast("bigint").alias("n_tokens"),
        F.sum(F.col("bucket") - F.col("_n")).cast("bigint").alias("n_padding"),
    )


def stratified_fixed_n(df: DataFrame, n_per_group: int = 20) -> DataFrame:
    """Exactly-``n_per_group`` deterministic sample per ``lang`` stratum:
    order each group by a Knuth multiplicative hash of the ``doc_id`` and
    take the first n.

    Fraction sampling (P12) can't promise exact per-stratum counts; eval
    sets and human-review batches need them. The hash is pure int64
    arithmetic (id is reduced mod 1_000_003 before multiplying by
    2_654_435_761, so the product never overflows at any id scale) —
    identical on every engine,
    stable across runs and engines, no RNG state. One shuffle on the
    group, top-n via the rank window (WindowGroupLimit pushes the limit
    into the sort at scale).
    """
    h = ((F.col("doc_id") % 1_000_003) * 2_654_435_761) % 1_000_003
    w = Window.partitionBy("lang").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        df.select(F.col("lang"), F.col("doc_id"), h.alias("_h"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n_per_group)
    )


def segment_dedup_apply(df: DataFrame) -> DataFrame:
    """The rewrite form of :func:`segment_dedup_stats`: materialize each
    ``doc_id``'s ``text`` with its corpus-duplicated segments REMOVED (first
    occurrence wins, ordered by ``(doc_id, seg_idx)``), reassembling the
    survivors in original order.

    Unlike the accounting pass, the rewrite necessarily moves surviving
    segment text once — it IS the output. That is still one payload pass:
    rank on (digest), reassemble on (doc) — the same two exchanges, with
    text riding only the second. Docs whose every segment was seen
    earlier come back with empty text rather than vanishing, so the
    output stays 1:1 with input docs that had any segment at all.
    """
    ws = words_col(F.col("text"))
    segs = (
        df.select(F.col("doc_id"), ws.alias("_ws"))
        .select("doc_id", F.posexplode(segments_col(F.col("_ws")))
                .alias("seg_idx", "seg"))
    )
    first = Window.partitionBy(F.md5(F.col("seg"))).orderBy("doc_id", "seg_idx")
    kept = segs.withColumn("_rn", F.row_number().over(first)).filter(
        F.col("_rn") == 1
    )
    assembled = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("seg_idx", "seg"))
                ),
                lambda s: s["seg"],
            ),
            " ",
        ).alias("dedup_text"),
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
    )
    base = df.select(F.col("doc_id")).join(
        segs.select("doc_id").distinct(), on="doc_id"
    )
    return base.join(assembled, on="doc_id", how="left").select(
        "doc_id",
        F.coalesce(F.col("dedup_text"), F.lit("")).alias("dedup_text"),
        F.coalesce(F.col("n_kept"), F.lit(0).cast("bigint")).alias("n_kept"),
    )


def paragraph_dedup_apply(df: DataFrame, seg_words: int = 2) -> DataFrame:
    """WITHIN-document repetition removal — the Gopher/MassiveText
    paragraph-dedup transform (Rae et al. 2021 §A1.1: drop duplicate
    paragraphs inside a document, first occurrence wins), the APPLY twin
    of the `repetition_scores` measurement.

    The corpus carries no newlines, so "paragraph" is the same
    non-overlapping ``seg_words``-word segmentation the corpus-level
    `segment_dedup_apply` uses (production corpora pass the real
    paragraph splitter through ``seg_words``' place; the plan shape is
    identical). Unlike the corpus-level apply, the first-occurrence
    window partitions by (doc, digest) — duplicate content across
    DIFFERENT docs survives — and orders by position only, so the
    operator needs no cross-document shuffle of text: the only
    exchanges are the (doc, digest) rank and the per-doc reassembly,
    both keyed by doc_id and therefore co-partitionable. At 100 TB
    this is embarrassingly parallel per document.
    """
    ws = words_col(F.col("text"))
    segs = df.select(F.col("doc_id"), ws.alias("_ws")).select(
        "doc_id",
        F.posexplode(segments_col(F.col("_ws"), seg_words)).alias(
            "seg_idx", "seg"
        ),
    )
    first = Window.partitionBy("doc_id", F.md5(F.col("seg"))).orderBy(
        "seg_idx"
    )
    ranked = segs.withColumn("_rn", F.row_number().over(first))
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_segments"),
        F.sum(F.when(F.col("_rn") == 1, 1))
        .cast("bigint")
        .alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("_rn") == 1,
                                F.struct("seg_idx", "seg"),
                            )
                        )
                    ),
                    lambda s: s["seg"],
                ),
                " ",
            )
        ).alias("dedup_md5"),
    )
