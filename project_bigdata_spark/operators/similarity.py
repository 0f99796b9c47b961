"""Similarity search over embedding columns (north-star M7).

Brute-force cosine top-k as the correctness baseline, and two scale paths:
random-sign (Rademacher) hyperplane LSH bucketing, and an IVF-style
coarse-quantizer assignment. All pure column expressions over
``array<float>`` — ``zip_with`` + ``aggregate`` compute dot products
JVM-side; no UDF, no driver loop.

Determinism: LSH "random" planes are ±1 sign patterns derived from md5 at
PLAN-BUILD time (Python hashlib), inlined as literal arrays on both the
Spark side and the DuckDB oracle side — so the bucketing replays exactly.

Scale notes (100 TB / billions of vectors):

- brute-force top-k against ONE query is a narrow map + per-partition
  top-k merge: scales linearly, no shuffle of the corpus. It is the right
  tool for low-QPS exact search even at scale.
- LSH bucketing turns all-pairs near-dup (O(n²)) into per-bucket joins;
  the plane count is the recall/bucket-size dial. Bucket skew is bounded
  with the same cap guard as MinHash dedup.
- IVF: assign each vector to its nearest coarse centroid (broadcast), then
  search only the probe cell(s). Centroids would come from a sampled
  k-means at scale; the operator takes any centroid table.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

DIM = 64
N_PLANES = 8
WIDE_PLANES = 24  # adaptive-LSH signature width (see lsh_near_dup_pairs)


def plane_signs(plane: int, dim: int = DIM) -> list[int]:
    """Deterministic ±1 signs for one hyperplane: parity of md5 nibbles.

    Computed at plan-build time; both the Spark plan and the SQL oracle
    inline the same literals.
    """
    signs: list[int] = []
    for d in range(dim):
        h = hashlib.md5(f"plane{plane}:{d}".encode()).hexdigest()
        signs.append(1 if int(h[0], 16) % 2 == 0 else -1)
    return signs


def as_double(vec: Column) -> Column:
    return vec.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Left-fold dot product — element order fixed, so the result is the
    same IEEE double on any engine that folds left (DuckDB included)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity with a zero-norm guard (NULL, not NaN/inf)."""
    na, nb = norm(a), norm(b)
    return F.when((na == 0) | (nb == 0), F.lit(None).cast("double")).otherwise(
        dot(a, b) / (na * nb)
    )


def lsh_bucket(vec: Column, n_planes: int = N_PLANES, dim: int = DIM) -> Column:
    """Random-sign hyperplane bucket id: one bit per plane (sign of the
    ±1-weighted sum), packed into a string like '10110010'."""
    v = as_double(vec)
    bits = []
    for p in range(n_planes):
        signs = F.array(*[F.lit(float(s)) for s in plane_signs(p, dim)])
        d = dot(v, signs)
        bits.append(F.when(d > 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def lsh_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    max_bucket: int = 2000,
    adaptive_planes: bool = False,
    max_candidates: int | None = None,
) -> DataFrame:
    """Embedding near-dup: exact cosine verification restricted to vectors
    sharing an LSH bucket — the sub-quadratic embedding-dedup pattern.

    ``adaptive_planes``: with a FIXED plane count the bucket count is a
    constant (2^N_PLANES), so bucket size — and the verify join,
    quadratically — grows with the corpus (the round-6 synthetic-decade
    soak measured 7.4x). When enabled, a WIDE_PLANES-bit signature is
    computed and truncated to k = the smallest k in [N_PLANES,
    WIDE_PLANES] with 8·2^k >= n (equivalently clamp(ceil(log2(n/8)),
    N_PLANES, WIDE_PLANES)), so expected bucket occupancy stays ~8 and
    the pair count grows linearly; at n <= 2^(N_PLANES+3) the truncation
    reproduces the fixed-plane bucketing bit-for-bit (the first k planes
    are the same literals). WIDE_PLANES = 24 holds occupancy ~8 up to
    n = 2^27 (~134M vectors); past that the ``max_bucket`` guard is the
    documented route (round 7 widened the ceiling from 16, whose
    occupancy re-grew unboundedly past n = 2^19).
    k is derived by an integer comparison ladder on the row count — never
    a floating-point log, whose 1-ulp divergence between engines at exact
    boundary counts (n = 8·2^j) would flip ceil and rewrite every bucket
    (round-6 advice; the DuckDB oracle mirrors the same ladder).
    """
    if adaptive_planes:
        from project_bigdata_spark.operators.dedup import fan_out

        df = fan_out(df)  # WIDE_PLANES interpreted plane folds per row
        n = F.count(F.lit(1))
        ladder = F.when(n <= F.lit(8 * 2**N_PLANES), F.lit(N_PLANES))
        for j in range(N_PLANES + 1, WIDE_PLANES):
            ladder = ladder.when(n <= F.lit(8 * 2**j), F.lit(j))
        kcol = df.agg(
            ladder.otherwise(F.lit(WIDE_PLANES)).cast("bigint").alias("_k")
        )
        withb = (
            df.crossJoin(F.broadcast(kcol))
            .select(
                F.col(id_col),
                as_double(F.col(vec_col)).alias("_v"),
                lsh_bucket(F.col(vec_col), n_planes=WIDE_PLANES)
                .substr(F.lit(1), F.col("_k").cast("int"))
                .alias("bucket"),
            )
        )
    else:
        withb = df.select(
            F.col(id_col), as_double(F.col(vec_col)).alias("_v"),
            lsh_bucket(F.col(vec_col)).alias("bucket"),
        )
    w = Window.partitionBy("bucket")
    bounded = withb.withColumn("_bsz", F.count(F.lit(1)).over(w)).filter(
        F.col("_bsz") <= max_bucket
    )
    a_src = bounded
    if max_candidates is not None:
        # Candidate-side cap (round-8): bound the verify join itself, not
        # just the output — only the ``max_candidates`` LOWEST-id members
        # of each bucket act as the id_a (anchor) side, so per-bucket
        # verify cost is occupancy x cap instead of occupancy^2. The
        # LEFT side is the one capped so every vector still appears as
        # id_b and links to a canonical low-id representative — exactly
        # the survivor orientation dedup_apply consumes. A no-op while
        # bucket occupancy <= cap (all attested SFs); binding on
        # replicated stress corpora where copy-groups pile into one
        # bucket (the sf10 regime measured 24.9x without it).
        wc = Window.partitionBy("bucket").orderBy(id_col)
        a_src = (
            bounded.withColumn("_crk", F.row_number().over(wc))
            .filter(F.col("_crk") <= max_candidates)
            .drop("_crk")
        )
    a = a_src.select(
        "bucket", F.col(id_col).alias("id_a"), F.col("_v").alias("va")
    )
    b = bounded.select(
        "bucket", F.col(id_col).alias("id_b"), F.col("_v").alias("vb")
    )
    return (
        a.join(b, on="bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", cosine(F.col("va"), F.col("vb")))
        .filter(F.col("cosine") >= threshold)
        .select("bucket", "id_a", "id_b", "cosine")
    )


def _centroid_row(
    centroids: DataFrame, centroid_id: str, vec_col: str
) -> DataFrame:
    """Pack the centroid table into ONE row holding a cid-sorted
    ``array<struct<cid, cvec, cnorm>>`` — the broadcastable form that lets
    the per-vector argmax run as a column expression instead of a shuffle.
    Centroid L2 norms are computed once here, not once per corpus row."""
    return centroids.agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col(centroid_id).alias("cid"),
                    as_double(F.col(vec_col)).alias("cvec"),
                    norm(as_double(F.col(vec_col))).alias("cnorm"),
                )
            )
        ).alias("_cents")
    )


def _nearest_centroid(
    v: Column,
    cents: Column,
    round_to: int | None,
    rnd=F.round,
    vnorm: Column | None = None,
) -> Column:
    """Per-row argmax over the packed centroid array: score every centroid
    ONCE (`transform`), then sort the tiny struct array by
    ``(-cosine, cid)`` and take the head — exactly ``ORDER BY cosine DESC
    [NULLS LAST], cid ASC`` (NULL cosines key as -2, below any real
    cosine). HOFs evaluate interpreted (outside codegen), so evaluation
    counts matter: each score is one dot fold — centroid norms ride in
    the packed array, the row norm arrives precomputed via ``vnorm`` —
    and the two-stage transform avoids referencing a score twice. The
    ``dot/(nv*nc)`` form is bit-identical to :func:`cosine`. ``rnd``
    lets the caller swap in an engine-neutral rounding form."""

    def score(c: Column) -> Column:
        nv = vnorm if vnorm is not None else norm(v)
        cos = F.when(
            (nv == 0) | (c["cnorm"] == 0), F.lit(None).cast("double")
        ).otherwise(dot(v, c["cvec"]) / (nv * c["cnorm"]))
        return rnd(cos, round_to) if round_to is not None else cos

    raw = F.transform(
        cents,
        lambda c: F.struct(score(c).alias("cos"), c["cid"].alias("cid")),
    )
    keyed = F.transform(
        raw,
        lambda s: F.struct(
            (-F.coalesce(s["cos"], F.lit(-2.0))).alias("key"),
            s["cid"].alias("cid"),
            s["cos"].alias("cos"),
        ),
    )
    return F.element_at(F.array_sort(keyed), 1)


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "centroid_id",
    round_to: int | None = None,
    rnd=F.round,
) -> DataFrame:
    """IVF coarse assignment: nearest centroid (max cosine) per vector.

    The centroid table is packed into a single broadcast row and the
    argmax runs as a per-row fold — a narrow map over the corpus with NO
    shuffle (the window/groupBy formulation re-shuffles corpus×centroids,
    which is the dominant cost at billions of vectors).
    """
    crow = F.broadcast(_centroid_row(centroids, centroid_id, vec_col))
    best = _nearest_centroid(
        F.col("_v"), F.col("_cents"), round_to, rnd, vnorm=F.col("_vnorm")
    )
    return (
        df.select(F.col(id_col), as_double(F.col(vec_col)).alias("_v"))
        .withColumn("_vnorm", norm(F.col("_v")))
        .crossJoin(crow)
        .withColumn("_best", best)
        .select(
            F.col(id_col),
            F.col("_best")["cid"].alias(centroid_id),
            F.col("_best")["cos"].alias("cosine"),
        )
    )


def ivf_search(
    df: DataFrame,
    centroids: DataFrame,
    query_df: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "centroid_id",
    round_to: int = 6,
    rnd=F.round,
) -> DataFrame:
    """IVF-Flat search: pick the ``nprobe`` centroids nearest the query,
    then exact-cosine re-rank only the vectors whose nearest centroid is
    one of the probed cells.

    The whole index side (centroid array + query vector + probe set) is
    ONE broadcast row; the corpus pass is a narrow map + filter ending in
    a TakeOrderedAndProject — zero shuffles end to end. The probe filter
    prunes ~``nprobe/|centroids|`` of the corpus before the exact re-rank,
    which is what makes this the scale path over brute force. Cosines are
    rounded before every argmax/top-k so rankings replay across engines.
    """
    qrow = query_df.select(as_double(F.col(vec_col)).alias("_qvec"))
    combo = (
        _centroid_row(centroids, centroid_id, vec_col)
        .crossJoin(qrow)
        .withColumn(
            "_probes",
            F.transform(
                F.slice(
                    F.array_sort(
                        F.transform(
                            F.col("_cents"),
                            lambda c: F.struct(
                                (
                                    -F.coalesce(
                                        rnd(
                                            cosine(F.col("_qvec"), c["cvec"]),
                                            round_to,
                                        ),
                                        F.lit(-2.0),
                                    )
                                ).alias("nk"),
                                c["cid"].alias("cid"),
                            ),
                        )
                    ),
                    1,
                    nprobe,
                ),
                lambda s: s["cid"],
            ),
        )
    )
    best = _nearest_centroid(
        F.col("_v"), F.col("_cents"), round_to, rnd, vnorm=F.col("_vnorm")
    )
    return (
        df.select(F.col(id_col), as_double(F.col(vec_col)).alias("_v"))
        .withColumn("_vnorm", norm(F.col("_v")))
        .crossJoin(F.broadcast(combo))
        .withColumn("_best", best)
        .filter(F.array_contains(F.col("_probes"), F.col("_best")["cid"]))
        .select(
            F.col(id_col),
            F.col("_best")["cid"].alias(centroid_id),
            rnd(cosine(F.col("_v"), F.col("_qvec")), round_to).alias(
                "cosine"
            ),
        )
        .orderBy(F.desc("cosine"), id_col)
        .limit(k)
    )


def cosine_topk_batch(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
    round_to: int = 6,
    rnd=F.round,
) -> DataFrame:
    """Batch exact kNN: top-``k`` corpus neighbors for EVERY query in a
    (small, broadcast) query batch.

    The corpus is scored once in a narrow pass against the broadcast
    batch, then reduced with a two-level bounded top-k: per-input-
    partition candidates (map-side, ObjectHashAggregate keyed by
    ``(query, partition)``) followed by a merge of only
    ``k × n_partitions`` survivors per query. No Window runs over the
    full scored set, so the corpus×queries product is never shuffled —
    the property that matters when the corpus is billions of rows.
    Exactness: with the total order ``(-cosine, id)``, any row dropped by
    a partition-local top-k is strictly worse than k rows that survived
    from that partition, so the merge sees every global-top-k candidate.
    """
    q = F.broadcast(
        queries.select(
            F.col(qid_col), as_double(F.col(vec_col)).alias("_qvec")
        )
    )
    cos = rnd(cosine(F.col("_v"), F.col("_qvec")), round_to)
    scored = (
        corpus.select(F.col(id_col), as_double(F.col(vec_col)).alias("_v"))
        .crossJoin(q)
        .select(
            F.col(qid_col),
            F.struct(
                (-F.coalesce(cos, F.lit(-2.0))).alias("nk"),
                F.col(id_col).alias("id"),
                cos.alias("cos"),
            ).alias("_cand"),
        )
    )
    part = (
        scored.withColumn("_p", F.spark_partition_id())
        .groupBy(qid_col, "_p")
        .agg(F.slice(F.array_sort(F.collect_list("_cand")), 1, k).alias("_top"))
    )
    merged = part.groupBy(qid_col).agg(
        F.slice(F.array_sort(F.flatten(F.collect_list("_top"))), 1, k).alias(
            "_top"
        )
    )
    return merged.select(F.col(qid_col), F.explode("_top").alias("_t")).select(
        F.col(qid_col),
        F.col("_t")["id"].alias(id_col),
        F.col("_t")["cos"].alias("cosine"),
    )


def quantize_int8(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization: ``scale =
    max|v|/127``, ``q_i = clamp(round(v_i/scale), -127, 127)`` — the
    standard ~4x memory cut that lets a billion-vector ANN corpus fit in
    executor RAM; the reconstruction-error stats quantify the recall
    tradeoff before committing an index to it.

    One narrow pass, no shuffle, no UDF. Rounding is the sign-aware
    floor form (half away from zero on the binary value) so an oracle
    replays the exact codes; zero vectors quantize to all-zero codes
    with zero error rather than dividing by zero.

    Returns ``(id, dim, scale, q int array, mean_abs_err)``.
    """
    v = as_double(F.col(vec_col))

    def rnd0(x: Column) -> Column:
        return (
            F.when(x >= 0, F.floor(x + F.lit(0.5)))
            .otherwise(-F.floor(-x + F.lit(0.5)))
            .cast("double")
        )

    out = df.select(F.col(id_col), v.alias("_v"))
    amax = F.array_max(F.transform(F.col("_v"), lambda x: F.abs(x)))
    out = out.withColumn("_scale", amax / F.lit(127.0))

    def quant(x: Column) -> Column:
        code = F.greatest(
            F.lit(-127.0), F.least(F.lit(127.0), rnd0(x / F.col("_scale")))
        )
        return (
            F.when(F.col("_scale") == 0, F.lit(0.0)).otherwise(code).cast("int")
        )

    out = out.withColumn("_q", F.transform(F.col("_v"), quant))
    abs_err = F.zip_with(
        F.col("_v"),
        F.col("_q"),
        lambda x, q: F.abs(x - q.cast("double") * F.col("_scale")),
    )
    return out.select(
        F.col(id_col),
        F.size("_v").cast("bigint").alias("dim"),
        F.col("_scale").alias("scale"),
        F.col("_q").alias("q"),
        (
            F.aggregate(abs_err, F.lit(0.0), lambda a, b: a + b)
            / F.size("_v")
        ).alias("mean_abs_err"),
    )


def semantic_dedup_pairs(
    df: DataFrame,
    centroids: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster: int = 10000,
    round_to: int | None = None,
    rnd=F.round,
) -> DataFrame:
    """Semantic dedup (SemDeDup-shaped): cluster embeddings coarsely, then
    exact pairwise cosine ONLY within clusters; pairs at or above
    ``threshold`` are semantic duplicates (keep the min-id survivor
    downstream).

    Clustering first is what makes semantic dedup sub-quadratic at
    corpus scale: candidate pairs are ``sum(|cluster|^2)`` instead of
    ``n^2``, and the cluster assignment reuses :func:`ivf_assign`'s
    zero-shuffle broadcast-centroid fold. ``max_cluster`` drops
    degenerate clusters (a mega-cluster of templated boilerplate makes
    one cluster quadratic) — the same guard as MinHash's ``max_bucket``;
    route oversized clusters through a finer codebook instead.

    Emits ``(centroid_id, id_a, id_b, cosine)`` with ``id_a < id_b``.
    """
    assign = ivf_assign(
        df, centroids, id_col=id_col, vec_col=vec_col,
        round_to=round_to, rnd=rnd,
    ).select(F.col(id_col), F.col("centroid_id"))
    # norms are computed ONCE per member row, not per pair: the pairwise
    # cosine then needs a single interpreted dot fold instead of three
    # (a.b, a.a, b.b) — 3x less HOF work on the quadratic-in-cluster part,
    # and sqrt(a.a)*sqrt(b.b) is the same IEEE expression either way, so
    # oracle parity is unchanged
    members = assign.join(
        df.select(F.col(id_col), as_double(F.col(vec_col)).alias("_v")),
        on=id_col,
    ).withColumn("_n", norm(F.col("_v")))
    cw = Window.partitionBy("centroid_id")
    members = (
        members.withColumn("_csz", F.count(F.lit(1)).over(cw))
        .filter(F.col("_csz") <= max_cluster)
        .drop("_csz")
    )
    a = members.select(
        F.col("centroid_id"),
        F.col(id_col).alias("id_a"),
        F.col("_v").alias("_va"),
        F.col("_n").alias("_na"),
    )
    b = members.select(
        F.col("centroid_id"),
        F.col(id_col).alias("id_b"),
        F.col("_v").alias("_vb"),
        F.col("_n").alias("_nb"),
    )
    cos = F.when(
        (F.col("_na") == 0) | (F.col("_nb") == 0), F.lit(None).cast("double")
    ).otherwise(dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")))
    if round_to is not None:
        cos = rnd(cos, round_to)
    return (
        a.join(b, on="centroid_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select("centroid_id", "id_a", "id_b", "cosine")
    )


def diversity_sample(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    per_bucket: int = 8,
) -> DataFrame:
    """Cluster-balanced corpus sampling (training-data diversity): assign
    each vector to an LSH cell (:func:`lsh_bucket` — deterministic
    sign-hyperplane cells, no trained state) and keep up to ``per_bucket``
    rows per cell, ordered by a stable md5 rank so the sample is
    reproducible across runs and engines.

    This is the embedding-space counterpart of stratified sampling: a
    uniform row sample of a skewed corpus over-represents its dense
    regions, while a per-cell quota keeps rare modes. One shuffle on the
    cell key; the rank filter is a ``row_number() <= k`` predicate that
    Spark rewrites to a WindowGroupLimit, so only k rows per cell flow
    past the rank window (here it sits after the exchange because
    ``bucket_size`` must count the FULL cell first; drop that column and
    the limit also prunes map-side). Output stays ~cells x quota
    regardless of corpus size.
    """
    cells = df.select(
        F.col(id_col), lsh_bucket(F.col(vec_col)).alias("bucket")
    )
    part = Window.partitionBy("bucket")
    ranked = part.orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
    return (
        cells.withColumn("bucket_size", F.count(F.lit(1)).over(part))
        .withColumn("sample_rank", F.row_number().over(ranked))
        .filter(F.col("sample_rank") <= per_bucket)
    )


# --------------------------------------------------------------------------
# Product quantization (PQ): the memory-scale path for ANN. A 64-dim float
# vector (256 B) compresses to n_sub codebook indices (n_sub bytes at
# K<=256), so a billion-vector index fits in executor memory and ADC
# search scans codes, never raw vectors. Codebooks at scale come from
# sampled per-subspace k-means (ml/kmeans.py); the operators take any
# codeword table. Reference scope: extends the reference's similarity
# surface (ml_training feature pipelines) with the standard IVF->PQ
# ladder; public algorithm (Jegou et al., TPAMI 2011).


def l2sq(a: Column, b: Column) -> Column:
    """Left-fold squared L2 distance — like :func:`dot`, element order is
    fixed so the IEEE result replays on any left-folding engine."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _codebook_row(codebook: DataFrame, code_id: str, vec_col: str) -> DataFrame:
    """Pack the codeword table into ONE broadcastable row: a cid-sorted
    ``array<struct<cid, cvec>>`` (same shape trick as :func:`_centroid_row`)."""
    return codebook.agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col(code_id).alias("cid"),
                    as_double(F.col(vec_col)).alias("cvec"),
                )
            )
        ).alias("_cb")
    )


def _sub(v: Column, m: int, sub_dim: int) -> Column:
    return F.slice(v, m * sub_dim + 1, sub_dim)


def _best_code(v: Column, cb: Column, m: int, sub_dim: int, rnd, round_to: int):
    """Per-subspace argmin over the packed codebook: struct array sorted by
    (dist, cid, pos) — ties break to the smallest codeword id, and ``pos``
    rides along so ADC can index the distance table positionally."""
    scored = F.transform(
        cb,
        lambda c, i: F.struct(
            rnd(l2sq(_sub(v, m, sub_dim), _sub(c["cvec"], m, sub_dim)), round_to)
            .alias("dist"),
            c["cid"].alias("cid"),
            i.alias("pos"),
        ),
    )
    return F.array_sort(scored)[0]


def pq_encode_flat(
    df: DataFrame,
    codebook: DataFrame,
    n_sub: int = 4,
    dim: int = DIM,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_id: str = "code_id",
    round_to: int = 6,
    rnd=F.round,
) -> DataFrame:
    """PQ encoding, one row per (vector, subspace): the nearest codeword
    (min rounded squared-L2 over that subspace's slice) and its distance.

    The codebook is ONE broadcast row; per input row the M argmins run as
    column expressions and ``inline`` unrolls them — a narrow map, zero
    shuffles, exactly the shape that turns a 100 TB raw-vector corpus into
    a codes table a few hundred GB wide.
    """
    sub_dim = dim // n_sub
    cb = F.broadcast(_codebook_row(codebook, code_id, vec_col))
    rows = F.array(
        *[
            F.struct(
                F.lit(m).alias("m"),
                _best_code(F.col("_v"), F.col("_cb"), m, sub_dim, rnd, round_to)
                .alias("best"),
            )
            for m in range(n_sub)
        ]
    )
    return (
        df.select(F.col(id_col), as_double(F.col(vec_col)).alias("_v"))
        .crossJoin(cb)
        .select(F.col(id_col), F.inline(rows))
        .select(
            F.col(id_col),
            F.col("m"),
            F.col("best")["cid"].alias("code"),
            F.col("best")["dist"].alias("dist"),
        )
    )


def pq_search_adc(
    df: DataFrame,
    codebook: DataFrame,
    query_df: DataFrame,
    k: int = 10,
    n_sub: int = 4,
    dim: int = DIM,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_id: str = "code_id",
    round_to: int = 6,
    rnd=F.round,
) -> DataFrame:
    """Asymmetric-distance (ADC) PQ search: build the per-subspace
    query->codeword distance table ONCE (n_sub x K entries, computed
    in-plan from the broadcast query row + codebook row), then score every
    vector as the DECIMAL-exact sum of its codes' table entries.

    Zero shuffles: codebook + query + distance table ride in one broadcast
    row; the corpus pass is a narrow map ending in TakeOrderedAndProject.
    Each table entry is rounded then carried as DECIMAL(18,6) so the
    n_sub-term sum is order-free and bit-identical on any engine.
    """
    sub_dim = dim // n_sub
    cb = F.broadcast(_codebook_row(codebook, code_id, vec_col))
    q = F.broadcast(query_df.select(as_double(F.col(vec_col)).alias("_q")))
    # distance table: dtab[m][pos] = round(l2sq(q_sub, cw_sub), 6) as DECIMAL.
    # NB: the per-m lambda must stay single-argument — PySpark reads a
    # 2-arg HOF lambda as (element, index) and would shadow m.
    def _dtab_entry(m: int):
        return lambda c: rnd(
            l2sq(_sub(F.col("_q"), m, sub_dim), _sub(c["cvec"], m, sub_dim)),
            round_to,
        ).cast("decimal(18,6)")

    dtab = F.array(
        *[F.transform(F.col("_cb"), _dtab_entry(m)) for m in range(n_sub)]
    )
    best = F.array(
        *[
            _best_code(F.col("_v"), F.col("_cb"), m, sub_dim, rnd, round_to)
            for m in range(n_sub)
        ]
    )
    score = None
    for m in range(n_sub):
        # index the table by array POSITION; report the codeword ID —
        # identical only when cids are dense from 0, so keep them apart
        term = F.element_at(F.col("_dtab")[m], F.col("_best")[m]["pos"] + 1)
        score = term if score is None else score + term
    return (
        df.select(F.col(id_col), as_double(F.col(vec_col)).alias("_v"))
        .crossJoin(cb)
        .crossJoin(q)
        .withColumn("_dtab", dtab)
        .withColumn("_best", best)
        .select(
            F.col(id_col),
            F.concat_ws(
                ",", F.transform(F.col("_best"), lambda b: b["cid"].cast("string"))
            ).alias("codes"),
            score.cast("double").alias("adc_dist"),
        )
        .orderBy("adc_dist", id_col)
        .limit(k)
    )


def rp_signs(component: int, dim: int = DIM) -> list[int]:
    """Deterministic ±1 signs for one random-projection component —
    same md5-parity scheme as :func:`plane_signs`, different salt."""
    signs: list[int] = []
    for d in range(dim):
        h = hashlib.md5(f"rp{component}:{d}".encode()).hexdigest()
        signs.append(1 if int(h[0], 16) % 2 == 0 else -1)
    return signs


def random_project(
    df: DataFrame,
    out_dim: int = 16,
    dim: int = DIM,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rnd=F.round,
    round_to: int = 6,
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction with a Rademacher
    (±1) matrix: ``y_j = <v, s_j> / sqrt(out_dim)``. The sign matrix is a
    plan-build-time literal (md5 parity), so the projection replays
    bit-identically anywhere — no stored model artifact to ship.

    Zero shuffles, pure narrow map; the standard pre-pass that shrinks a
    100 TB embedding corpus ~dim/out_dim× before ANN indexing or
    clustering, with pairwise distances preserved to O(1/sqrt(out_dim)).
    """
    v = as_double(F.col(vec_col))
    scale = float(out_dim) ** 0.5
    comps = [
        rnd(
            dot(v, F.array(*[F.lit(float(s)) for s in rp_signs(j, dim)]))
            / F.lit(scale),
            round_to,
        )
        for j in range(out_dim)
    ]
    return df.select(F.col(id_col), F.array(*comps).alias("projected"))


def ivfpq_search(
    df: DataFrame,
    centroids: DataFrame,
    codebook: DataFrame,
    query_df: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    rerank: int = 20,
    n_sub: int = 4,
    dim: int = DIM,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "centroid_id",
    code_id: str = "code_id",
    round_to: int = 6,
    rnd=F.round,
) -> DataFrame:
    """IVF-PQ search — the production billion-vector ANN architecture,
    composed from the engine's IVF and PQ pieces in ONE corpus pass:

    1. coarse probe: the ``nprobe`` centroids nearest the query
       (broadcast centroid array, per-row fold — as :func:`ivf_search`);
    2. ADC scoring: inside the probed cells only, score each vector as
       the DECIMAL-exact sum of its PQ codes' entries in the in-plan
       query->codeword distance table (as :func:`pq_search_adc`);
    3. exact re-rank: true cosine for just the ``rerank`` best ADC
       candidates, then top-``k``.

    Everything index-side (centroids + codebook + query + probe set +
    distance table) is a single broadcast row; the corpus pass is a
    narrow map -> probe filter -> TakeOrdered(rerank) -> exact top-k.
    Candidates cost ~``nprobe/|centroids|`` of the corpus for the cheap
    ADC scan and exactly ``rerank`` rows for the float re-rank — the
    recall/cost dial FAISS exposes as (nprobe, rerank).
    """
    sub_dim = dim // n_sub
    qrow = query_df.select(as_double(F.col(vec_col)).alias("_qvec"))
    combo = (
        _centroid_row(centroids, centroid_id, vec_col)
        .crossJoin(_codebook_row(codebook, code_id, vec_col))
        .crossJoin(qrow)
        .withColumn(
            "_probes",
            F.transform(
                F.slice(
                    F.array_sort(
                        F.transform(
                            F.col("_cents"),
                            lambda c: F.struct(
                                (
                                    -F.coalesce(
                                        rnd(
                                            cosine(F.col("_qvec"), c["cvec"]),
                                            round_to,
                                        ),
                                        F.lit(-2.0),
                                    )
                                ).alias("nk"),
                                c["cid"].alias("cid"),
                            ),
                        )
                    ),
                    1,
                    nprobe,
                ),
                lambda s: s["cid"],
            ),
        )
    )

    def _dtab_entry(m: int):
        return lambda c: rnd(
            l2sq(_sub(F.col("_qvec"), m, sub_dim), _sub(c["cvec"], m, sub_dim)),
            round_to,
        ).cast("decimal(18,6)")

    dtab = F.array(
        *[F.transform(F.col("_cb"), _dtab_entry(m)) for m in range(n_sub)]
    )
    best_cent = _nearest_centroid(
        F.col("_v"), F.col("_cents"), round_to, rnd, vnorm=F.col("_vnorm")
    )
    best_codes = F.array(
        *[
            _best_code(F.col("_v"), F.col("_cb"), m, sub_dim, rnd, round_to)
            for m in range(n_sub)
        ]
    )
    score = None
    for m in range(n_sub):
        term = F.element_at(F.col("_dtab")[m], F.col("_best")[m]["pos"] + 1)
        score = term if score is None else score + term
    candidates = (
        df.select(F.col(id_col), as_double(F.col(vec_col)).alias("_v"))
        .withColumn("_vnorm", norm(F.col("_v")))
        .crossJoin(F.broadcast(combo.withColumn("_dtab", dtab)))
        .withColumn("_bc", best_cent)
        .filter(F.array_contains(F.col("_probes"), F.col("_bc")["cid"]))
        .withColumn("_best", best_codes)
        .withColumn("_adc", score.cast("double"))
        .orderBy("_adc", id_col)
        .limit(rerank)
    )
    return (
        candidates.select(
            F.col(id_col),
            F.col("_bc")["cid"].alias(centroid_id),
            F.col("_adc").alias("adc_dist"),
            rnd(cosine(F.col("_v"), F.col("_qvec")), round_to).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), id_col)
        .limit(k)
    )
