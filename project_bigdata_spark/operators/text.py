"""Text-analysis operators for training-data pipelines (north-star M7).

Language ID (stopword-profile heuristic), quality scoring, token counting
(whitespace + BPE-ish regex), and a polynomial rolling-hash fingerprint —
all as Catalyst column expressions (regexp/array/aggregate built-ins), no
UDFs, so a 100 TB corpus scan stays inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from project_bigdata_spark.operators.dedup import fan_out, words_col

# Tiny stopword profiles per language (public common-word lists). The
# heuristic is profile-hit density; argmax with lexicographic tiebreak.
LANG_PROFILES: dict[str, list[str]] = {
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein"],
    "en": ["the", "a", "and", "is", "of", "to", "in"],
    "es": ["el", "la", "los", "y", "es", "de", "un"],
    "fr": ["le", "la", "les", "et", "est", "de", "un"],
    "zh": ["de", "shi", "le", "bu", "wo", "you", "zai"],
}

# BPE-ish tokenization: word pieces OR single non-space punctuation.
TOKEN_REGEX = r"[A-Za-z0-9_]+|[^A-Za-z0-9_\s]"

HASH_MOD = 1_000_000_007
HASH_BASE = 31


def token_count_ws(text: Column, ws: Column | None = None) -> Column:
    """Whitespace token count.

    ``ws``: optional pre-projected ``words_col(text)`` column, for callers
    that already tokenized (see :func:`quality_score` rationale)."""
    return F.size(words_col(text) if ws is None else ws).cast("bigint")


def token_count_bpe(text: Column) -> Column:
    """BPE-ish token count: alnum runs + individual punctuation marks."""
    return F.size(F.regexp_extract_all(text, F.lit(TOKEN_REGEX), 0)).cast("bigint")


def type_token_ratio(text: Column) -> Column:
    ws = words_col(text)
    return F.size(F.array_distinct(ws)) / F.size(ws)


def stopword_ratio(text: Column, stopwords: list[str]) -> Column:
    # a zero-word document scores 0.0 by definition (exact integer
    # predicate BEFORE the division — ANSI Spark throws DIVIDE_BY_ZERO
    # where DuckDB renders NULL; both oracles carry the same CASE)
    ws = words_col(text)
    hits = F.size(F.filter(ws, lambda w: w.isin(*stopwords)))
    return F.when(F.size(ws) > 0, hits / F.size(ws)).otherwise(F.lit(0.0))


def punct_ratio(text: Column) -> Column:
    """Punctuation characters / total characters.

    Counted as the length difference after deleting non-punctuation —
    the same integer as ``size(regexp_extract_all(text, punct_re))``
    (so every oracle keeps its ``len(regexp_extract_all(...))`` mirror)
    but without materializing a per-character array per row.
    """
    n = F.length(text)
    punct = F.length(F.regexp_replace(text, r"[A-Za-z0-9_\s]", ""))
    # empty text -> ratio 0.0 by definition (see stopword_ratio note)
    return F.when(n > 0, punct / n).otherwise(F.lit(0.0))


def quality_score(text: Column, ws: Column | None = None) -> Column:
    """Composite quality heuristic in [0, 1]:

    - length component: saturating chars/500;
    - stopword component: English-profile hit density (capped at 0.3/0.3);
    - punctuation penalty: 1 - min(punct_ratio * 5, 1).

    Weights 0.4/0.3/0.3 — the shape of the reference-free quality filters
    used in large corpus curation; thresholds are explicit constants so
    the oracle replays them.

    ``ws``: optional pre-projected ``words_col(text)`` column. Higher-order
    functions run interpreted and re-evaluate their input tree per lambda
    reference (see operators/dedup.py shingles note), so hot callers should
    tokenize once in a projection and pass the column here; the scalar
    components are identical either way.
    """
    length_c = F.least(F.length(text) / F.lit(500.0), F.lit(1.0))
    if ws is None:
        stop_r = stopword_ratio(text, LANG_PROFILES["en"])
    else:
        sw = LANG_PROFILES["en"]
        stop_r = F.when(
            F.size(ws) > 0,
            F.size(F.filter(ws, lambda w: w.isin(*sw))) / F.size(ws),
        ).otherwise(F.lit(0.0))
    stop_c = F.least(stop_r / F.lit(0.3), F.lit(1.0))
    punct_p = F.lit(1.0) - F.least(punct_ratio(text) * 5, F.lit(1.0))
    return length_c * 0.4 + stop_c * 0.3 + punct_p * 0.3


def lang_scores(text: Column) -> dict[str, Column]:
    """Per-language stopword-profile hit density."""
    ws = words_col(text)
    n = F.size(ws)

    def hit_filter(stopwords: list[str]):
        # 1-arg lambda via closure — a default-arg capture would make
        # F.filter treat it as an (element, index) lambda (see dedup.py).
        sw = tuple(stopwords)
        return lambda w: w.isin(*sw)

    return {
        lang: F.size(F.filter(ws, hit_filter(sw))) / n
        for lang, sw in LANG_PROFILES.items()
    }


def predict_lang(text: Column) -> Column:
    """Argmax language over profile scores; 'unknown' when nothing clears
    0.02. Ties break to the lexicographically first language
    (deterministic; mirrored in the oracle SQL)."""
    scores = lang_scores(text)
    langs = sorted(scores)  # lexicographic tiebreak via scan order
    best = F.greatest(*[scores[lang] for lang in langs])
    expr = F.when(best < F.lit(0.02), F.lit("unknown"))
    for lang in langs:
        expr = expr.when(scores[lang] == best, F.lit(lang))
    return expr.otherwise(F.lit("unknown"))


def rolling_hash(text: Column, prefix_chars: int = 64) -> Column:
    """Polynomial rolling hash of the first ``prefix_chars`` characters:
    ``h = (h * 31 + ascii(ch)) mod 1e9+7`` — a pure left-fold over the
    character array, bit-identical on any engine with 64-bit int math."""
    chars = F.split(F.substring(F.lower(text), 1, prefix_chars), "")
    chars = F.filter(chars, lambda c: c != "")
    return F.aggregate(
        chars,
        F.lit(0).cast("bigint"),
        lambda acc, ch: (acc * HASH_BASE + F.ascii(ch)) % HASH_MOD,
    )


# PII patterns chosen to behave identically under Java regex (Spark) and
# RE2 (DuckDB oracle): character classes, bounded repetition, \b only.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\b\d{3}[-.]\d{3}[-.]\d{4}\b",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
}
# Redaction order matters: an IPv4 inside an already-redacted email can't
# double-fire, and phone before ipv4 avoids partial overlaps. Applied in
# this fixed sequence on both engines.
PII_ORDER = ("email", "phone", "ipv4")


def pii_counts(text: Column) -> dict[str, Column]:
    """Occurrences per PII class (pre-redaction), for audit metrics."""
    return {
        kind: F.size(F.regexp_extract_all(text, F.lit(pat), F.lit(0))).cast(
            "bigint"
        )
        for kind, pat in PII_PATTERNS.items()
    }


def pii_redact(text: Column) -> Column:
    """Replace each PII class with a typed placeholder (``[EMAIL]`` ...).

    Pure ``regexp_replace`` chain — codegen'd, no UDF; the standard
    pre-training scrub pass. Counts come from :func:`pii_counts` so the
    pipeline can report what it removed.
    """
    out = text
    for kind in PII_ORDER:
        out = F.regexp_replace(
            out, PII_PATTERNS[kind], f"[{kind.upper()}]"
        )
    return out


def repetition_metrics(df: DataFrame) -> DataFrame:
    """Within-document repetition of each ``doc_id``'s ``text`` — the
    classic low-quality-text signal (boilerplate, keyword stuffing,
    generator loops):

    - ``dup_word_ratio``: 1 - distinct/total words;
    - ``top_word_share``: frequency of the most common word / total.

    Shaped for scale: explode -> two-level aggregate keyed (doc, word)
    then (doc) — partial aggregation shrinks each level, never an O(n²)
    per-row array scan.
    """
    w = df.select(F.col("doc_id"), F.explode(words_col(F.col("text"))).alias("w"))
    per_word = w.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    return per_word.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_words"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct_words"),
        (F.lit(1.0) - F.count(F.lit(1)) / F.sum("c")).alias("dup_word_ratio"),
        (F.max("c") / F.sum("c")).alias("top_word_share"),
    )


def pack_documents(df: DataFrame, budget: int, shards: int = 64) -> DataFrame:
    """Sequence packing for LLM training: assign documents (``doc_id``,
    ``text``) to token-budget bins (training sequences) with a
    deterministic greedy fill.

    Packing is inherently sequential, so a global order would serialize
    on one partition; instead docs are sharded (``id % shards`` — the
    per-worker packing pattern real data loaders use) and packed
    independently per shard: a windowed running token sum ordered by id,
    ``bin = floor((cumsum - n_tokens) / budget)``. Each shard's window is
    one partition of work; shards scale out.
    """
    toks = F.size(words_col(F.col("text"))).cast("bigint")
    shard = (F.col("doc_id") % shards).alias("shard")
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = df.select(F.col("doc_id"), shard, toks.alias("n_tokens"))
    return out.select(
        "doc_id",
        "shard",
        "n_tokens",
        F.floor(
            (F.sum("n_tokens").over(w) - F.col("n_tokens")) / budget
        ).cast("bigint").alias("bin_id"),
    )


CHUNK_TOKENS = 50
CHUNK_OVERLAP = 10


def chunk_documents_with_text(df: DataFrame) -> DataFrame:
    """Split each ``doc_id``'s ``text`` into overlapping token-window
    chunks — the unit of work an embedding pipeline feeds to the encoder
    — with each chunk's text and token count.

    Chunk ``i`` covers tokens ``[1 + i*stride, i*stride + CHUNK_TOKENS]``
    (1-based, ``stride = CHUNK_TOKENS - CHUNK_OVERLAP``); the last chunk
    starts at the final stride boundary at or before
    ``n - CHUNK_OVERLAP`` so every token lands in >= 1 chunk and no empty
    tail chunk is emitted.

    Entirely JVM-side: ``sequence`` builds the start offsets,
    ``posexplode`` fans out, ``slice`` + ``array_join`` materialize each
    chunk — a narrow pass (no UDF, no shuffle) whose output is
    ~``1/stride`` rows per token, ready for `mapInPandas` encoding.
    """
    toks = words_col(F.col("text"))
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.col("n_tokens") - CHUNK_OVERLAP, F.lit(1)),
        F.lit(CHUNK_TOKENS - CHUNK_OVERLAP),
    )
    chunk = F.slice(F.col("_toks"), F.col("_start"), CHUNK_TOKENS)
    return (
        df.select(
            F.col("doc_id"), toks.alias("_toks"), F.size(toks).alias("n_tokens")
        )
        .select(
            F.col("doc_id"),
            "n_tokens",
            "_toks",
            F.posexplode(starts).alias("chunk_id", "_start"),
        )
        .select(
            F.col("doc_id"),
            F.col("chunk_id").cast("bigint").alias("chunk_id"),
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.col("_start").cast("bigint").alias("start_token"),
            F.size(chunk).cast("bigint").alias("chunk_len"),
            F.array_join(chunk, " ").alias("chunk_text"),
        )
    )


def unigram_vocab_row(df: DataFrame, vocab_size: int = 4096) -> DataFrame:
    """ONE-row frame ``(_vmap: map<token,count>, _total: double)`` — the
    corpus unigram model of the ``text`` column, capped to the
    ``vocab_size`` most frequent tokens (ties broken lexicographically so
    the cutoff replays across engines). ``_total`` counts ALL token
    occurrences (pre-cap), so out-of-vocab mass is still normalized
    correctly.

    Scale shape: one token-keyed shuffle builds the counts; the top-K is
    a TakeOrdered (per-partition top-K + merge, never a global sort);
    the map packs into a single broadcastable row — the same
    index-in-one-row pattern as IVF centroids. ``counts`` is persisted
    because the map and the total both consume it.
    """
    counts = (
        df.select(F.explode(words_col(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .persist()
    )
    vrow = (
        counts.orderBy(F.desc("cnt"), F.asc("token"))
        .limit(vocab_size)
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("token", "cnt"))
            ).alias("_vmap")
        )
    )
    trow = counts.agg(F.sum("cnt").cast("double").alias("_total"))
    return vrow.crossJoin(trow)


def _vocab_table(vocab_row: DataFrame, map_col: str, key_name: str) -> DataFrame:
    """Unpack a one-row vocab map back into a (key, cnt) table for
    broadcast-hash-join lookups."""
    return vocab_row.select(
        F.explode(F.map_entries(map_col)).alias("_e")
    ).select(
        F.col("_e.key").alias(key_name),
        F.col("_e.value").cast("double").alias(f"_cnt_{key_name}"),
    )


def unigram_logprob_scores(df: DataFrame, vocab_row: DataFrame) -> DataFrame:
    """CCNet-style language-model quality proxy: the mean unigram
    log-probability of each ``doc_id``'s ``text`` under the corpus
    unigram model (low = gibberish / OOV-heavy; the standard pre-training
    quality filter alongside heuristic scores). An out-of-vocab token
    counts 0.5.

    Lookup shape matters at corpus scale: ``element_at`` on a Spark MAP
    is a LINEAR scan, so folding over tokens against the vocab map costs
    O(|vocab|) per token. Instead: explode tokens (narrow — a doc's
    tokens stay in its partition), broadcast-HASH-join the vocab table
    (O(1) per token), re-aggregate per doc. The doc-keyed exchange is
    bounded by ONE partial-agg row per doc per partition — and since
    explode preserves row locality, that is ~one row per doc total.
    """
    toks = df.select(
        F.col("doc_id"), F.explode(words_col(F.col("text"))).alias("_tok")
    )
    vt = _vocab_table(vocab_row, "_vmap", "_tok")
    per_doc = (
        toks.join(F.broadcast(vt), on="_tok", how="left")
        .groupBy("doc_id")
        .agg(
            F.avg(
                F.log(F.coalesce(F.col("_cnt__tok"), F.lit(0.5)))
            ).alias("_avg_ln")
        )
    )
    return per_doc.crossJoin(
        F.broadcast(vocab_row.select("_total"))
    ).select(
        F.col("doc_id"),
        (F.col("_avg_ln") - F.log(F.col("_total"))).alias("lm_logprob"),
    )


def quantile_threshold_filter(
    df: DataFrame,
    score_col: str,
    q: float,
    group_col: str,
    epsilon: float = 0.0,
) -> DataFrame:
    """Data-dependent curation filter: keep rows whose ``score_col`` is at
    or above the ``q``-th quantile of their ``group_col`` cohort (e.g.
    "drop the bottom quartile per language" — corpus-relative, unlike a
    fixed threshold which over-prunes low-resource languages).

    Two passes by construction (the threshold depends on the full score
    distribution): pass 1 reduces to ONE row per group (exact
    interpolated percentile), which broadcasts; pass 2 is a narrow
    filter. For cross-engine replay, pre-round the scores to a fixed
    grid and pass an ``epsilon`` far below the grid spacing: the
    comparison ``score >= thr - epsilon`` then tolerates the ulp-level
    noise of interpolated thresholds without ever admitting a
    genuinely-below-threshold row.
    """
    thr = df.groupBy(group_col).agg(
        F.percentile(score_col, F.lit(q)).alias("_thr")
    )
    return df.join(F.broadcast(thr), on=group_col).filter(
        F.col(score_col) >= F.col("_thr") - F.lit(epsilon)
    )


# Unicode cleanup patterns shared verbatim with the oracle SQL: \x{...}
# escapes parse identically under Java regex (Spark) and RE2 (DuckDB).
NORM_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[\x{200B}-\x{200D}\x{FEFF}]", ""),  # zero-width + BOM
    (r"[\x{00}-\x{08}\x{0B}\x{0C}\x{0E}-\x{1F}\x{7F}]", ""),  # C0/DEL
    (r"\x{A0}", " "),  # NBSP -> space
    (r"\s+", " "),  # collapse whitespace runs
)


def normalize_text(text: Column) -> Column:
    """Pre-training text normalization: strip zero-width characters and
    C0 controls (keeping \\t/\\n/\\r only long enough to fold them into
    the whitespace collapse), NBSP -> space, collapse whitespace runs,
    trim. A pure ``regexp_replace`` chain — codegen'd, no UDF — applied
    before any hashing/shingling so byte-level junk cannot defeat
    dedup."""
    out = text
    for pat, rep in NORM_PATTERNS:
        out = F.regexp_replace(out, pat, rep)
    return F.trim(out)


def repeated_ngram_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    min_docs: int = 2,
    max_grams: int = 65536,
) -> DataFrame:
    """Cross-document repeated-span profile: the distributed core of
    exact-substring deduplication (find word ``k``-grams occurring in
    >= ``min_docs`` DISTINCT documents, then merge each document's hits
    into maximal repeated spans via gaps-and-islands).

    Emits one row per document: ``total_words``, ``n_spans``,
    ``covered_words``, ``coverage`` — the profile a curation pipeline
    thresholds on before cutting the spans out (the cut itself is a
    cheap per-document transform once spans are known).

    Scale shape (100 TB):
    - gram digests are built relationally (posexplode + lead window +
      codegen'd md5 — see the inline note on why not a HOF transform);
      the frequency pass then shuffles only (doc, digest) dedup rows;
    - the repeated-digest set is capped at ``max_grams`` (most-frequent
      first, digest tiebreak) and hash-joined back to positioned hits —
      Catalyst broadcasts it when small;
    - span merging is a per-document window over integer positions
      (classic gaps-and-islands: an island starts where ``pos`` exceeds
      the running max span end + 1) that reuses the gram window's
      (doc)-partitioning — no extra exchange.
    """
    ws = words_col(F.col(text_col))
    base = fan_out(df).select(F.col(id_col), ws.alias("_ws")).withColumn(
        "_n", F.size("_ws")
    )
    # Gram construction is RELATIONAL, not a higher-order transform:
    # posexplode words, assemble each k-gram with lead() over the doc
    # window, md5 in the projection. HOF lambdas run INTERPRETED
    # (~20µs/element measured — 2.8M core-hours per 10^12 grams), while
    # lead+md5 stay inside whole-stage codegen: 4.7x faster here and the
    # gap widens with corpus size. The (doc, idx) exchange this costs is
    # the same token-sized shuffle any vocab build pays, and the islands
    # window below reuses its partitioning for free.
    wdoc = Window.partitionBy(id_col).orderBy("idx")
    gram = (
        base.select(
            F.col(id_col), F.col("_n"), F.posexplode("_ws").alias("idx", "w")
        )
        .select(
            F.col(id_col),
            F.col("_n"),
            (F.col("idx") + 1).alias("pos"),
            F.md5(
                F.concat_ws(
                    " ", "w", *[F.lead("w", j).over(wdoc) for j in range(1, k)]
                )
            ).alias("digest"),
            # a gram starting < k words from the end is incomplete
            F.lead("w", k - 1).over(wdoc).isNotNull().alias("_full"),
        )
        .filter("_full")
        .drop("_full")
    )

    # corpus frequency: per-doc distinct digests -> count(*) per digest
    freq = (
        gram.dropDuplicates([id_col, "digest"])
        .groupBy("digest")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    rep = (
        freq.filter(F.col("n_docs") >= min_docs)
        .orderBy(F.desc("n_docs"), "digest")
        .limit(max_grams)
        .select("digest")
    )

    hits = gram.join(rep, on="digest").select(id_col, "_n", "pos")

    w_order = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = (
        hits.withColumn("_end", F.col("pos") + (k - 1))
        .withColumn("_prev_max_end", F.max("_end").over(w_order))
        .withColumn(
            "_new_island",
            F.when(
                F.col("pos")
                > F.coalesce(F.col("_prev_max_end"), F.lit(-1)) + 1,
                1,
            ).otherwise(0),
        )
        .withColumn(
            "_island",
            F.sum("_new_island").over(
                Window.partitionBy(id_col)
                .orderBy("pos")
                .rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    spans = islands.groupBy(id_col, "_n", "_island").agg(
        F.min("pos").alias("_start"), F.max("_end").alias("_stop")
    )
    profile = spans.groupBy(id_col, "_n").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("_stop") - F.col("_start") + 1).alias("covered_words"),
    )
    return (
        base.select(F.col(id_col), F.col("_n").alias("total_words"))
        .join(
            profile.select(
                F.col(id_col), F.col("n_spans"), F.col("covered_words")
            ),
            on=id_col,
            how="left",
        )
        .select(
            F.col(id_col),
            F.col("total_words").cast("bigint").alias("total_words"),
            F.coalesce("n_spans", F.lit(0)).cast("bigint").alias("n_spans"),
            F.coalesce("covered_words", F.lit(0))
            .cast("bigint")
            .alias("covered_words"),
            F.round(
                F.coalesce("covered_words", F.lit(0))
                / F.greatest(F.col("total_words"), F.lit(1)),
                4,
            ).alias("coverage"),
        )
    )


def bigram_vocab_row(df: DataFrame, vocab_size: int = 8192) -> DataFrame:
    """ONE-row frame ``(_bmap: map<'w1 w2', count>)`` — the corpus bigram
    table of the ``text`` column, capped to the ``vocab_size`` most
    frequent bigrams (ties lexicographic, same determinism rule as
    :func:`unigram_vocab_row`). Same scale shape: one bigram-keyed
    shuffle, TakeOrdered cap, one broadcastable map row.
    """
    ws = words_col(F.col("text"))
    grams = F.transform(
        F.sequence(F.lit(2), F.size("_ws")),
        lambda i: F.concat_ws(
            " ", F.element_at("_ws", i - 1), F.element_at("_ws", i)
        ),
    )
    counts = (
        df.select(ws.alias("_ws"))
        .filter(F.size("_ws") >= 2)
        .select(F.explode(grams).alias("bg"))
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        counts.orderBy(F.desc("cnt"), F.asc("bg"))
        .limit(vocab_size)
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("bg", "cnt"))
            ).alias("_bmap")
        )
    )


def bigram_logprob_scores(
    df: DataFrame, bigram_row: DataFrame, unigram_row: DataFrame
) -> DataFrame:
    """Conditional bigram LM quality proxy of each ``doc_id``'s ``text``
    with stupid-backoff: per adjacent word pair, ``ln P(w2|w1)`` where an
    in-vocab bigram scores ``c(w1 w2)/c(w1)`` and an out-of-vocab one
    backs off to ``0.4 * c(w2)/total`` (unigram mass; OOV unigrams count
    0.5). Sharper than the unigram proxy at catching shuffled or
    templated text whose word *set* looks fine but whose transitions
    don't.

    Same execution shape as :func:`unigram_logprob_scores` — and for the
    same reason: per-pair model lookups must be O(1) broadcast-hash-join
    probes, not O(|vocab|) map scans. Explode adjacent pairs (narrow),
    one broadcast join per model table (bigram, unigram-of-w1,
    unigram-of-w2), re-aggregate per doc; the exchange carries ~one
    partial-agg row per doc.
    """
    ws = words_col(F.col("text"))
    pairs = (
        df.select(F.col("doc_id"), ws.alias("_toks"))
        .filter(F.size("_toks") >= 2)
        .select(
            F.col("doc_id"),
            F.explode(
                F.transform(
                    F.sequence(F.lit(2), F.size("_toks")),
                    lambda i: F.struct(
                        F.element_at("_toks", i - 1).alias("w1"),
                        F.element_at("_toks", i).alias("w2"),
                    ),
                )
            ).alias("_p"),
        )
        .select(
            F.col("doc_id"),
            F.col("_p.w1").alias("_w1"),
            F.col("_p.w2").alias("_w2"),
            F.concat_ws(" ", "_p.w1", "_p.w2").alias("_bg"),
        )
    )
    bt = _vocab_table(bigram_row, "_bmap", "_bg")
    u1 = _vocab_table(unigram_row, "_vmap", "_w1")
    u2 = _vocab_table(unigram_row, "_vmap", "_w2")
    joined = (
        pairs.join(F.broadcast(bt), on="_bg", how="left")
        .join(F.broadcast(u1), on="_w1", how="left")
        .join(F.broadcast(u2), on="_w2", how="left")
        .crossJoin(F.broadcast(unigram_row.select("_total")))
    )
    ln_p = F.log(
        F.coalesce(
            F.col("_cnt__bg")
            / F.coalesce(F.col("_cnt__w1"), F.lit(0.5)),
            F.lit(0.4)
            * F.coalesce(F.col("_cnt__w2"), F.lit(0.5))
            / F.col("_total"),
        )
    )
    return joined.groupBy("doc_id").agg(
        F.avg(ln_p).alias("bigram_logprob")
    )


# --------------------------------------------------------------------------
# Corpus retrieval surface: TF-IDF keyword extraction, an inverted index,
# and BM25 ranking over the ``doc_id``/``text`` columns. These are the
# lexical-retrieval counterparts of the embedding ANN path
# (operators/similarity.py) — a curation pipeline uses them for
# keyword-based corpus slicing and query-driven subset export.
# Scale shape: everything is explode -> partial-agg -> small-key shuffle on
# (doc, term) or term; document payloads never shuffle, and corpus-level
# scalars (N, avg doclen) travel as one broadcast row.


def term_freqs(df: DataFrame) -> DataFrame:
    """(doc_id, term, tf) from whitespace tokens of ``text`` — map-side
    combine applies because the groupBy keys are a superset of the
    explode's input row."""
    w = df.select(F.col("doc_id"), F.explode(words_col(F.col("text"))).alias("term"))
    return w.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))


def inverted_index_stats(df: DataFrame) -> DataFrame:
    """Posting-list statistics per term: document frequency, total term
    frequency, and the doc-id span. The full posting list (sorted doc ids)
    is a per-term ``collect_list`` away, but an unbounded list column is a
    skew hazard at corpus scale — cap or bucket it; the stats here are
    fixed-width per term regardless of corpus size."""
    tf = term_freqs(df)
    return tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("tf").cast("bigint").alias("total_tf"),
        F.min("doc_id").cast("bigint").alias("min_doc"),
        F.max("doc_id").cast("bigint").alias("max_doc"),
    )


def tfidf_top_terms(df: DataFrame, k: int = 3, rnd=F.round) -> DataFrame:
    """Top-k characteristic terms per document by smoothed TF-IDF
    (``tf * ln((N+1)/(df+1))``, rounded to 6 places), rank ties broken
    lexicographically.

    The doc-frequency side aggregates to ~vocab rows, then re-joins the
    (doc, term, tf) frame on ``term`` — at web-corpus vocab sizes that
    join side is MBs, so Spark broadcasts it; the corpus count rides in
    one literal-sized row. The rank filter becomes a WindowGroupLimit.
    """
    tf = term_freqs(df)
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    ndocs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(ndocs))
        .withColumn(
            "score",
            rnd(
                F.col("tf")
                * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)),
                6,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            F.col("doc_id"),
            F.col("term"),
            F.col("tf").cast("bigint").alias("tf"),
            F.col("score"),
            F.col("rk").cast("bigint").alias("rk"),
        )
    )


def bm25_topk(
    df: DataFrame,
    query_terms: "list[str] | DataFrame",
    k: int = 10,
    rnd=F.round,
) -> DataFrame:
    """BM25 ranking of documents against a bag of query terms.

    ``score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·len_d/avglen))``
    with ``k1 = 1.2``, ``b = 0.75`` and
    ``idf = ln(1 + (N−df+0.5)/(df+0.5))``. Per-term contributions are
    rounded to 6 places then summed as DECIMAL so the cross-engine result
    is exact regardless of aggregation order. Only rows matching a query
    term survive the first filter — the exploded frame collapses to
    |query| × df rows before any shuffle; corpus stats (N, avg doclen)
    are one broadcast row.
    """
    lens = df.select(
        F.col("doc_id"), F.size(words_col(F.col("text"))).alias("dl")
    )
    stats = F.broadcast(
        lens.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("dl").alias("total_len"),
        )
    )
    tf = term_freqs(df)
    if isinstance(query_terms, DataFrame):
        # data-dependent term set (e.g. pseudo-relevance expansion):
        # broadcast semi-join instead of an IN literal
        tf = tf.join(
            F.broadcast(query_terms.select("term")), "term", "left_semi"
        )
    else:
        tf = tf.filter(F.col("term").isin(query_terms))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        1.0
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    avgdl = F.col("total_len").cast("double") / F.col("n_docs")
    tfnorm = (F.col("tf") * (1.2 + 1.0)) / (
        F.col("tf") + 1.2 * (1.0 - 0.75 + 0.75 * F.col("dl") / avgdl)
    )
    contrib = rnd(idf * tfnorm, 6).cast("decimal(18,6)")
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(lens, "doc_id")
        .crossJoin(stats)
        .groupBy("doc_id")
        .agg(
            F.sum(contrib).cast("double").alias("bm25"),
            F.count(F.lit(1)).cast("bigint").alias("n_terms_hit"),
        )
    )
    return scored.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(k)


def rrf_fuse(ranked: list[DataFrame], rnd=F.round) -> DataFrame:
    """Reciprocal Rank Fusion: merge N ranked ``(doc_id, rank)`` lists
    into one ``rrf`` score, ``sum over lists of 1 / (60 + rank)``
    (Cormack et al.'s k0=60) — the standard hybrid-retrieval combiner
    (BM25 + dense) because it needs no score calibration, only ranks.
    Documents absent from a list contribute nothing. Each term is rounded
    to 6 places then summed as DECIMAL so the fusion is engine- and
    order-neutral.

    Inputs are small top-k frames (already cut), so the full-outer
    fusion join is a few-row broadcast, never a corpus shuffle.
    """
    fused = None
    for i, r in enumerate(ranked):
        c = r.select(F.col("doc_id"), F.col("rank").alias(f"_r{i}"))
        fused = c if fused is None else fused.join(c, "doc_id", "full_outer")
    score = None
    for i in range(len(ranked)):
        term = F.coalesce(
            rnd(F.lit(1.0) / (F.lit(60.0) + F.col(f"_r{i}")), 6).cast(
                "decimal(18,6)"
            ),
            F.lit(0).cast("decimal(18,6)"),
        )
        score = term if score is None else score + term
    return fused.withColumn("rrf", score.cast("double"))


def prf_expand_terms(
    df: DataFrame,
    seed_terms: list[str],
    n_feedback: int = 5,
    n_expansion: int = 2,
    min_len: int = 4,
    rnd=F.round,
) -> DataFrame:
    """Pseudo-relevance feedback (RM3-lite): expand a keyword query with
    the ``n_expansion`` highest-TF-IDF terms of the seed query's BM25
    top-``n_feedback`` documents (assumed relevant without judgments).
    Returns a one-column ``term`` frame of seed + expansion terms, ready
    for the :func:`bm25_topk` DataFrame-terms branch.

    Terms shorter than ``min_len`` and the seeds themselves are excluded;
    weights are rounded-then-DECIMAL-summed smoothed TF-IDF
    (``tf * ln((N+1)/(df+1))``, as :func:`tfidf_top_terms`) so the
    expansion replays identically cross-engine. The feedback set is
    ``n_feedback`` ids (broadcast); the only wide work is the same
    vocab aggregation tfidf_top_terms already does.
    """
    feedback = bm25_topk(df, seed_terms, k=n_feedback, rnd=rnd).select("doc_id")
    tf = term_freqs(df)
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    ndocs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    weights = (
        tf.join(F.broadcast(feedback), "doc_id")
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(ndocs))
        .filter(
            (F.length("term") >= min_len) & (~F.col("term").isin(seed_terms))
        )
        .groupBy("term")
        .agg(
            F.sum(
                rnd(
                    F.col("tf")
                    * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)),
                    6,
                ).cast("decimal(18,6)")
            )
            .cast("double")
            .alias("w")
        )
    )
    expansion = (
        weights.orderBy(F.desc("w"), F.asc("term"))
        .limit(n_expansion)
        .select("term")
    )
    seed_df = df.sparkSession.createDataFrame(
        [(t,) for t in seed_terms], "term string"
    )
    return seed_df.unionByName(expansion)
