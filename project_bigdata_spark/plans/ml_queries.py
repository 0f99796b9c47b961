"""Closed-form ML evaluation catalog entries: nearest-centroid and kNN
classifier evaluations over the labeled embeddings table.

The reference delegates model *fitting* to an out-of-engine trainer
(``ml_training/train_lightgbm.py``; SURVEY §3.3 keeps that boundary), but
classifier EVALUATION — score a labeled holdout, produce the confusion
matrix — is a data-pipeline job, and both evaluators here are closed-form
(no iterative fit), so the entire train+classify+evaluate pass runs
in-plan and carries an exact DuckDB oracle like any other query.

Scale notes (100 TB): the train/test split is the md5-bucket idiom
(ingest-order-free, refresh-stable). Nearest-centroid packs the 10-row
centroid table into ONE broadcast row and classifies with a per-row fold
— corpus scan, zero shuffles. kNN evaluation broadcasts the (always
small) eval set against the train corpus, the same corpus-never-shuffles
shape as ``knn_batch``; distances fold left in fixed element order and
pin to a 1e-6 grid before any argmin, so rank decisions replay
bit-identically across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from project_bigdata_spark.operators import similarity as SIM
from project_bigdata_spark.operators.dedup import fan_out_by_key
from project_bigdata_spark.plans import _norm as N
from project_bigdata_spark.plans.catalog import query
from project_bigdata_spark.sources import load_table

_NIBBLE = (
    "strpos('0123456789abcdef',"
    " substring(md5(CAST(vec_id AS VARCHAR)), {pos}, 1)) - 1"
)
_BUCKET = f"({_NIBBLE.format(pos=1)}) * 16 + ({_NIBBLE.format(pos=2)})"

# Full-vector left-ish fold squared L2 — mirrors operators/similarity.l2sq
# on the Spark side; distances are pinned to a 1e-6 grid before ranking.
_L2SQ_SQL = (
    "list_sum(list_transform(list_zip("
    "CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[])), "
    "p -> (p[1]-p[2])*(p[1]-p[2])))"
)


def _split(df: DataFrame) -> DataFrame:
    bucket = F.conv(
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 2), 16, 10
    ).cast("int")
    return df.withColumn("bucket", bucket)


@query(
    "centroid_classifier_eval",
    oracle=f"""
WITH b AS (
  SELECT vec_id, label, embedding, {_BUCKET} AS bucket FROM embeddings
), comp AS (
  SELECT label, u.pos, u.val
  FROM b, unnest(list_transform(embedding, (v, i) -> struct_pack(
         pos := i,
         val := CAST(round(CAST(v AS DOUBLE), 6) AS DECIMAL(12,6))))) t(u)
  WHERE bucket < 204
), cent AS (
  SELECT label AS c_label,
         list(CAST(s AS DOUBLE) / n ORDER BY pos) AS cvec
  FROM (
    SELECT label, pos, sum(val) AS s, count(*) AS n
    FROM comp GROUP BY 1, 2
  ) GROUP BY 1
), scored AS (
  SELECT t.vec_id, t.label, c.c_label,
         round({_L2SQ_SQL.format(a='t.embedding', b='c.cvec')}, 6) AS dist
  FROM b t CROSS JOIN cent c WHERE t.bucket >= 204
), best AS (
  SELECT vec_id, label, c_label AS predicted
  FROM scored
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, c_label) = 1
)
SELECT CAST(label AS BIGINT) AS label,
       CAST(predicted AS BIGINT) AS predicted,
       CAST(count(*) AS BIGINT) AS n
FROM best GROUP BY 1, 2""",
    doc="Nearest-centroid classifier train+eval in one plan: md5-bucket "
    "80/20 split, per-label centroids from exact DECIMAL component sums "
    "(components pinned to 1e-6 before summing, so the mean is "
    "order-free), then the 10-row centroid table packs into ONE "
    "broadcast row and the holdout classifies with a per-row argmin "
    "fold — corpus scan, zero shuffles, distances on the 1e-6 grid "
    "with label-order tie-break. Output is the confusion matrix.",
    survey_ids=("A4", "M7-ML1"),
)
def centroid_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _split(load_table(spark, sf_dir, "embeddings"))
    train = e.filter(F.col("bucket") < 204)
    test = e.filter(F.col("bucket") >= 204)

    comp = train.select(
        "label",
        F.posexplode(SIM.as_double(F.col("embedding"))).alias("pos", "v"),
    ).select(
        "label", "pos", N.rnd("v", 6).cast("decimal(12,6)").alias("val")
    )
    cent = (
        comp.groupBy("label", "pos")
        .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
        .groupBy(F.col("label").alias("c_label"))
        .agg(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            F.col("pos").alias("pos"),
                            (F.col("s").cast("double") / F.col("n")).alias(
                                "c"
                            ),
                        )
                    )
                ),
                lambda x: x["c"],
            ).alias("cvec")
        )
    )
    crow = F.broadcast(
        cent.agg(
            F.sort_array(
                F.collect_list(F.struct("c_label", "cvec"))
            ).alias("_cents")
        )
    )
    x = SIM.as_double(F.col("embedding"))
    zero = F.struct(
        F.lit(float("inf")).alias("dist"),
        F.lit(-1).cast("int").alias("lab"),
    )
    best = F.aggregate(
        F.col("_cents"),
        zero,
        lambda acc, c: F.when(
            N.rnd(SIM.l2sq(x, c["cvec"]), 6) < acc["dist"],
            F.struct(
                N.rnd(SIM.l2sq(x, c["cvec"]), 6).alias("dist"),
                c["c_label"].cast("int").alias("lab"),
            ),
        ).otherwise(acc),
    )
    scored = test.crossJoin(crow).select(
        "label", best["lab"].alias("predicted")
    )
    return scored.groupBy(
        N.big("label").alias("label"),
        N.big("predicted").alias("predicted"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))


@query(
    "knn_classifier_eval",
    oracle=f"""
WITH b AS (
  SELECT vec_id, label, embedding, {_BUCKET} AS bucket FROM embeddings
), ev AS (
  SELECT vec_id, label, embedding
  FROM b WHERE bucket >= 204
  QUALIFY row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) <= 256
), pairs AS (
  SELECT t.vec_id, t.label, tr.label AS n_label,
         round({_L2SQ_SQL.format(a='t.embedding', b='tr.embedding')}, 6)
           AS dist,
         tr.vec_id AS n_id
  FROM ev t JOIN b tr ON tr.bucket < 204
), top5 AS (
  SELECT vec_id, label, n_label
  FROM pairs
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, n_id) <= 5
), votes AS (
  SELECT vec_id, label, n_label, count(*) AS c
  FROM top5 GROUP BY 1, 2, 3
), winner AS (
  SELECT vec_id, label, n_label AS predicted
  FROM votes
  QUALIFY row_number() OVER (PARTITION BY vec_id
                             ORDER BY c DESC, n_label) = 1
)
SELECT CAST(label AS BIGINT) AS label,
       CAST(predicted AS BIGINT) AS predicted,
       CAST(count(*) AS BIGINT) AS n
FROM winner GROUP BY 1, 2""",
    doc="5-NN majority-vote classifier evaluation: the md5-bucket "
    "holdout is cut to a FIXED 256-vector eval set (deterministic md5 "
    "ordering, a TakeOrdered — a fraction-of-corpus holdout would make "
    "the distance pairs quadratic in corpus size; a fixed eval set "
    "keeps them linear), broadcast against the train corpus which "
    "scans once and never shuffles (the knn_batch shape). Neighbor "
    "ranks decide on (1e-6-grid distance, train id), votes break ties "
    "on (count desc, label), so every rank decision replays "
    "bit-identically in the oracle. Output is the confusion matrix.",
    survey_ids=("A4", "M7-ML2"),
)
def knn_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from project_bigdata_spark.operators.dedup import fan_out

    e = _split(load_table(spark, sf_dir, "embeddings"))
    # the train×256 interpreted distance folds are the cost — fan the
    # train scan out first or they all run on the input's single split
    # (round-6 re-plan: 3.9s -> 1.2s at sf0.1, slope 3.5x -> 1.4x)
    train = fan_out(e.filter(F.col("bucket") < 204)).select(
        F.col("vec_id").alias("n_id"),
        F.col("label").alias("n_label"),
        SIM.as_double(F.col("embedding")).alias("n_vec"),
    )
    test = (
        e.filter(F.col("bucket") >= 204)
        .select(
            "vec_id",
            "label",
            SIM.as_double(F.col("embedding")).alias("vec"),
            F.md5(F.col("vec_id").cast("string")).alias("_ord"),
        )
        .orderBy("_ord")
        .limit(256)
        .drop("_ord")
    )
    pairs = train.join(F.broadcast(test)).select(
        "vec_id",
        "label",
        "n_label",
        "n_id",
        N.rnd(SIM.l2sq(F.col("vec"), F.col("n_vec")), 6).alias("dist"),
    )
    w5 = Window.partitionBy("vec_id").orderBy("dist", "n_id")
    top5 = pairs.withColumn("rn", F.row_number().over(w5)).filter(
        F.col("rn") <= 5
    )
    votes = top5.groupBy("vec_id", "label", "n_label").agg(
        F.count(F.lit(1)).alias("c")
    )
    ww = Window.partitionBy("vec_id").orderBy(
        F.col("c").desc(), F.col("n_label")
    )
    winner = votes.withColumn("rn", F.row_number().over(ww)).filter(
        F.col("rn") == 1
    )
    return winner.groupBy(
        N.big("label").alias("label"),
        N.big("n_label").alias("predicted"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))


@query(
    "embedding_drift",
    oracle=f"""
WITH b AS (
  SELECT vec_id, embedding,
         CASE WHEN {_BUCKET} < 128 THEN 'a' ELSE 'b' END AS half
  FROM embeddings
), comp AS (
  SELECT half, u.pos,
         CAST(count(*) AS BIGINT) AS n,
         sum(u.val) AS s
  FROM b, unnest(list_transform(embedding, (v, i) -> struct_pack(
         pos := i,
         val := CAST(round(CAST(v AS DOUBLE), 6) AS DECIMAL(12,6))))) t(u)
  GROUP BY 1, 2
), means AS (
  SELECT pos,
         max(CASE WHEN half = 'a' THEN CAST(s AS DOUBLE) / n END) AS ma,
         max(CASE WHEN half = 'b' THEN CAST(s AS DOUBLE) / n END) AS mb,
         max(CASE WHEN half = 'a' THEN n END) AS na,
         max(CASE WHEN half = 'b' THEN n END) AS nb
  FROM comp GROUP BY 1
)
SELECT CAST(max(na) AS BIGINT) AS n_a,
       CAST(max(nb) AS BIGINT) AS n_b,
       round(list_sum(list(ma * mb ORDER BY pos))
             / (sqrt(list_sum(list(ma * ma ORDER BY pos)))
                * sqrt(list_sum(list(mb * mb ORDER BY pos)))), 6)
         AS mean_cosine,
       round(sqrt(list_sum(list((ma - mb) * (ma - mb) ORDER BY pos))), 6)
         AS l2_shift,
       round(max(abs(ma - mb)), 6) AS max_dim_shift
FROM means""",
    doc="Embedding distribution drift between two corpus halves (the "
    "refresh-over-refresh check an embedding-based curation pipeline "
    "runs before trusting cached ANN indexes / cluster assignments): "
    "md5-bucket halves stand in for old/new snapshots; per-dimension "
    "means from exact DECIMAL component sums, then cosine of the mean "
    "vectors, L2 shift norm, and worst single-dimension shift. One "
    "component aggregation (rows x dims), a 64-row means frame, "
    "closed-form doubles — drift on 10^9 vectors costs one scan.",
    survey_ids=("A10", "M7-S10b"),
)
def embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _split(load_table(spark, sf_dir, "embeddings"))
    half = F.when(F.col("bucket") < 128, F.lit("a")).otherwise(F.lit("b"))
    comp = e.select(
        half.alias("half"),
        F.posexplode(SIM.as_double(F.col("embedding"))).alias("pos", "v"),
    ).select(
        "half", "pos", N.rnd("v", 6).cast("decimal(12,6)").alias("val")
    )
    per_dim = comp.groupBy("half", "pos").agg(
        F.count(F.lit(1)).alias("n"), F.sum("val").alias("s")
    )

    def pick(col, h):
        return F.max(F.when(F.col("half") == h, col))

    means = per_dim.groupBy("pos").agg(
        pick(F.col("s").cast("double") / F.col("n"), "a").alias("ma"),
        pick(F.col("s").cast("double") / F.col("n"), "b").alias("mb"),
        pick(F.col("n"), "a").alias("na"),
        pick(F.col("n"), "b").alias("nb"),
    )
    # pack the 64-row means frame into ordered arrays so the dot/norm
    # folds run in fixed dimension order (order-free would not be
    # bit-reproducible across engines)
    packed = means.agg(
        F.max("na").cast("bigint").alias("n_a"),
        F.max("nb").cast("bigint").alias("n_b"),
        F.sort_array(
            F.collect_list(F.struct("pos", "ma", "mb"))
        ).alias("dims"),
    )
    va = F.transform(F.col("dims"), lambda d: d["ma"])
    vb = F.transform(F.col("dims"), lambda d: d["mb"])
    diff2 = F.aggregate(
        F.zip_with(va, vb, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    maxshift = F.array_max(
        F.zip_with(va, vb, lambda a, b: F.abs(a - b))
    )
    return packed.select(
        "n_a",
        "n_b",
        N.rnd(
            SIM.dot(va, vb) / (F.sqrt(SIM.dot(va, va)) * F.sqrt(SIM.dot(vb, vb))),
            6,
        ).alias("mean_cosine"),
        N.rnd(F.sqrt(diff2), 6).alias("l2_shift"),
        N.rnd(maxshift, 6).alias("max_dim_shift"),
    )


@query(
    "hard_negative_mining",
    oracle=f"""
WITH b AS (
  SELECT vec_id, label, embedding, {_BUCKET} AS bucket FROM embeddings
), anchors AS (
  SELECT vec_id, label, embedding
  FROM b
  QUALIFY row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) <= 128
), pairs AS (
  SELECT a.vec_id, a.label, c.vec_id AS neg_id,
         round({_L2SQ_SQL.format(a='a.embedding', b='c.embedding')}, 6)
           AS dist
  FROM anchors a JOIN b c ON c.label <> a.label
), top3 AS (
  SELECT vec_id, label, neg_id, dist
  FROM pairs
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, neg_id) <= 3
)
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       CAST(label AS BIGINT) AS label,
       array_to_string(list(neg_id ORDER BY dist, neg_id), ',')
         AS hard_negatives,
       round(min(dist), 6) AS nearest_neg_dist
FROM top3 GROUP BY 1, 2""",
    doc="Hard-negative mining for contrastive training (the data-prep "
    "pass an embedding-training pipeline runs per epoch): for each of "
    "128 md5-chosen anchors, the 3 nearest DIFFERENT-label vectors — "
    "the negatives that actually move the loss. Same corpus-never-"
    "shuffles shape as the kNN eval: anchors broadcast, distances on "
    "the 1e-6 grid, ranks tie-broken on candidate id so the mined set "
    "replays bit-identically in the oracle.",
    survey_ids=("S2", "M7-ML3"),
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _split(load_table(spark, sf_dir, "embeddings"))
    anchors = (
        e.select(
            F.col("vec_id"),
            F.col("label").alias("a_label"),
            SIM.as_double(F.col("embedding")).alias("avec"),
            F.md5(F.col("vec_id").cast("string")).alias("_ord"),
        )
        .orderBy("_ord")
        .limit(128)
        .drop("_ord")
    )
    # r11: fan out the candidate side — the 128-anchor L2 fold per row is
    # the dominant CPU and ran on the one-split scan's single task
    # (anchors stay on the natural scan: their md5 order + limit must not
    # move). 2.38 s -> 1.20 s best-of-4 at sf0.1/32; no-op at scale.
    cand = fan_out_by_key(e, "vec_id").select(
        F.col("vec_id").alias("neg_id"),
        F.col("label").alias("n_label"),
        SIM.as_double(F.col("embedding")).alias("nvec"),
    )
    pairs = cand.join(F.broadcast(anchors)).filter(
        F.col("n_label") != F.col("a_label")
    ).select(
        "vec_id",
        F.col("a_label").alias("label"),
        "neg_id",
        N.rnd(SIM.l2sq(F.col("avec"), F.col("nvec")), 6).alias("dist"),
    )
    w = Window.partitionBy("vec_id").orderBy("dist", "neg_id")
    top3 = pairs.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= 3
    )
    return top3.groupBy(
        N.big("vec_id").alias("vec_id"), N.big("label").alias("label")
    ).agg(
        F.concat_ws(
            ",",
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct("dist", "neg_id"))
                ),
                lambda s: s["neg_id"].cast("string"),
            ),
        ).alias("hard_negatives"),
        N.rnd(F.min("dist"), 6).alias("nearest_neg_dist"),
    )


@query(
    "training_prep_audit",
    oracle=f"""
WITH b AS (
  SELECT label, ({_BUCKET}) % 5 AS fold FROM embeddings
), cells AS (
  SELECT fold, label, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY 1, 2
), totals AS (
  SELECT CAST(sum(n) AS DOUBLE) AS total,
         CAST(count(DISTINCT label) AS DOUBLE) AS k
  FROM cells
), per_label AS (
  SELECT label, CAST(sum(n) AS DOUBLE) AS n_label FROM cells GROUP BY 1
)
SELECT CAST(c.fold AS BIGINT) AS fold,
       CAST(c.label AS BIGINT) AS label,
       c.n,
       round(t.total / (t.k * p.n_label), 6) AS class_weight
FROM cells c
JOIN per_label p ON p.label = c.label
CROSS JOIN totals t""",
    doc="Training-prep audit: deterministic 5-fold cross-validation "
    "assignment (md5 bucket mod 5 — stable across refreshes, "
    "decorrelated from ingest order) crossed with labels, plus inverse-"
    "frequency class weights (total / (k * n_label), the sklearn "
    "'balanced' formula). The fold x label census IS the stratification "
    "check: a skewed cell means a fold that over/under-represents a "
    "class. One group pass; weights derive from broadcast totals.",
    survey_ids=("P12", "M7-ML4"),
)
def training_prep_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _split(load_table(spark, sf_dir, "embeddings"))
    cells = e.groupBy(
        (F.col("bucket") % 5).cast("bigint").alias("fold"),
        F.col("label").cast("bigint").alias("label"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    totals = cells.agg(
        F.sum("n").cast("double").alias("total"),
        F.count_distinct("label").cast("double").alias("k"),
    )
    per_label = cells.groupBy(F.col("label").alias("p_label")).agg(
        F.sum("n").cast("double").alias("n_label")
    )
    out = (
        cells.join(
            F.broadcast(per_label),
            cells.label == per_label.p_label,
        )
        .crossJoin(F.broadcast(totals))
    )
    return out.select(
        "fold",
        "label",
        "n",
        N.rnd(
            F.col("total") / (F.col("k") * F.col("n_label")), 6
        ).alias("class_weight"),
    )


@query(
    "mahalanobis_outliers",
    oracle=f"""
WITH comp AS (
  SELECT u.pos,
         CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(u.val) AS DOUBLE) AS s,
         CAST(sum(CAST(u.val * u.val AS DECIMAL(28,12))) AS DOUBLE) AS sq
  FROM embeddings, unnest(list_transform(embedding, (v, i) -> struct_pack(
         pos := i,
         val := CAST(round(CAST(v AS DOUBLE), 6) AS DECIMAL(12,6))))) t(u)
  GROUP BY 1
), stats AS (
  SELECT pos, s / n AS mu,
         greatest((sq - s * s / n) / (n - 1.0), 1e-12) AS var
  FROM comp
), packed AS (
  SELECT list(mu ORDER BY pos) AS mus, list(var ORDER BY pos) AS vars
  FROM stats
), scored AS (
  SELECT e.vec_id, e.label,
         round(list_sum(list_transform(range(1, 65), i ->
           pow(round(CAST(e.embedding[i] AS DOUBLE), 6) - p.mus[i], 2)
             / p.vars[i])), 4) AS m2
  FROM embeddings e CROSS JOIN packed p
)
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       CAST(label AS BIGINT) AS label, m2
FROM scored
QUALIFY row_number() OVER (ORDER BY m2 DESC, vec_id) <= 20""",
    doc="Diagonal-Mahalanobis multivariate outlier screen over the "
    "embedding corpus (the vector-space sibling of mad_outliers): "
    "per-dimension mean/variance from exact DECIMAL component sums "
    "collapse to ONE broadcast row of 64 (mu, var) pairs; each "
    "vector's squared Mahalanobis distance is a fixed-order in-plan "
    "fold, and the top-20 is a TakeOrdered — corpus scanned once, "
    "zero shuffles on the scoring side. The curation use: vectors far "
    "from the distribution in ANY subset of dimensions are encoder "
    "failures or contamination, invisible to plain L2-norm screens.",
    survey_ids=("A5b", "M7-ML5"),
)
def mahalanobis_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    comp = e.select(
        F.posexplode(SIM.as_double(F.col("embedding"))).alias("pos", "v")
    ).select("pos", N.rnd("v", 6).cast("decimal(12,6)").alias("val"))
    stats = comp.groupBy("pos").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("val").cast("double").alias("s"),
        F.sum((F.col("val") * F.col("val")).cast("decimal(28,12)"))
        .cast("double")
        .alias("sq"),
    ).select(
        "pos",
        (F.col("s") / F.col("n")).alias("mu"),
        F.greatest(
            (F.col("sq") - F.col("s") * F.col("s") / F.col("n"))
            / (F.col("n") - 1.0),
            F.lit(1e-12),
        ).alias("var"),
    )
    packed = F.broadcast(
        stats.agg(
            F.sort_array(
                F.collect_list(F.struct("pos", "mu", "var"))
            ).alias("dims")
        )
    )
    x = SIM.as_double(F.col("embedding"))
    m2 = F.aggregate(
        F.zip_with(
            F.col("dims"),
            x,
            lambda d, xv: (
                (N.rnd(xv, 6) - d["mu"]) * (N.rnd(xv, 6) - d["mu"])
            )
            / d["var"],
        ),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    scored = e.crossJoin(packed).select(
        N.big("vec_id").alias("vec_id"),
        N.big("label").alias("label"),
        N.rnd(m2).alias("m2"),
    )
    return scored.orderBy(F.col("m2").desc(), "vec_id").limit(20)


# ---------------------------------------------------------------------------
# uncertainty_sampling
# ---------------------------------------------------------------------------

UNCERTAIN_K = 20


@query(
    "uncertainty_sampling",
    oracle=f"""
WITH b AS (
  SELECT vec_id, label, embedding, {_BUCKET} AS bucket FROM embeddings
), comp AS (
  SELECT label, u.pos, u.val
  FROM b, unnest(list_transform(embedding, (v, i) -> struct_pack(
         pos := i,
         val := CAST(round(CAST(v AS DOUBLE), 6) AS DECIMAL(12,6))))) t(u)
  WHERE bucket < 204
), cent AS (
  SELECT label AS c_label,
         list(CAST(s AS DOUBLE) / n ORDER BY pos) AS cvec
  FROM (
    SELECT label, pos, sum(val) AS s, count(*) AS n
    FROM comp GROUP BY 1, 2
  ) GROUP BY 1
), scored AS (
  SELECT t.vec_id, t.label, c.c_label,
         round({_L2SQ_SQL.format(a='t.embedding', b='c.cvec')}, 6) AS dist,
         row_number() OVER (PARTITION BY t.vec_id
                            ORDER BY round(
                              {_L2SQ_SQL.format(a='t.embedding',
                                                b='c.cvec')}, 6),
                              c.c_label) AS rk
  FROM b t CROSS JOIN cent c WHERE t.bucket >= 204
), margins AS (
  SELECT w.vec_id, w.label,
         w.c_label AS predicted,
         r.c_label AS runner_up,
         round(r.dist - w.dist, 6) AS margin
  FROM scored w JOIN scored r
    ON w.vec_id = r.vec_id AND w.rk = 1 AND r.rk = 2
)
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       CAST(label AS BIGINT) AS label,
       CAST(predicted AS BIGINT) AS predicted,
       CAST(runner_up AS BIGINT) AS runner_up,
       margin
FROM margins
ORDER BY margin, vec_id
LIMIT {UNCERTAIN_K}""",
    doc="Active-learning margin (uncertainty) sampling on the "
    "nearest-centroid classifier: for every holdout vector, the "
    "margin between its second-closest and closest centroid "
    f"distances; the {UNCERTAIN_K} smallest margins are the points "
    "a labeling budget should be spent on — the standard "
    "annotation-prioritization step of a training-data pipeline. "
    "Same scaffolding as centroid_classifier_eval (md5-bucket split, "
    "exact DECIMAL centroid means, distances pinned to the 1e-6 grid "
    "before any rank), so the margin is a difference of grid doubles "
    "— deterministic; selection orders by (margin, vec_id). Plan: "
    "the 10-row centroid table broadcasts, the holdout scans once "
    "(corpus never shuffles), the per-vector rank is a 10-row window "
    "per vec_id, and the global pick is orderBy().limit() = "
    "TakeOrderedAndProject partial top-k.",
    survey_ids=("M7-ML9",),
)
def uncertainty_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _split(load_table(spark, sf_dir, "embeddings"))
    train = e.filter(F.col("bucket") < 204)
    test = e.filter(F.col("bucket") >= 204)
    comp = train.select(
        "label",
        F.posexplode(SIM.as_double(F.col("embedding"))).alias("pos", "v"),
    ).select(
        "label", "pos", N.rnd("v", 6).cast("decimal(12,6)").alias("val")
    )
    cent = (
        comp.groupBy("label", "pos")
        .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
        .groupBy(F.col("label").alias("c_label"))
        .agg(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            F.col("pos").alias("pos"),
                            (F.col("s").cast("double") / F.col("n")).alias(
                                "c"
                            ),
                        )
                    )
                ),
                lambda x: x["c"],
            ).alias("cvec")
        )
    )
    scored = (
        test.crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "label",
            "c_label",
            N.rnd(
                SIM.l2sq(SIM.as_double(F.col("embedding")), F.col("cvec")),
                6,
            ).alias("dist"),
        )
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy("dist", "c_label")
            ),
        )
    )
    w1 = scored.filter(F.col("rk") == 1).select(
        "vec_id",
        "label",
        F.col("c_label").alias("predicted"),
        F.col("dist").alias("d1"),
    )
    w2 = scored.filter(F.col("rk") == 2).select(
        "vec_id",
        F.col("c_label").alias("runner_up"),
        F.col("dist").alias("d2"),
    )
    return (
        w1.join(w2, "vec_id")
        .select(
            N.big("vec_id").alias("vec_id"),
            N.big("label").alias("label"),
            N.big("predicted").alias("predicted"),
            N.big("runner_up").alias("runner_up"),
            N.rnd(F.col("d2") - F.col("d1"), 6).alias("margin"),
        )
        .orderBy("margin", "vec_id")
        .limit(UNCERTAIN_K)
    )


# ---------------------------------------------------------------------------
# naive_bayes_eval (round 6)
# ---------------------------------------------------------------------------

_DOC_NIBBLE = (
    "strpos('0123456789abcdef',"
    " substring(md5(CAST(doc_id AS VARCHAR)), {pos}, 1)) - 1"
)
_DOC_BUCKET = f"({_DOC_NIBBLE.format(pos=1)}) * 16 + ({_DOC_NIBBLE.format(pos=2)})"

_NB_WORDS = r"list_filter(string_split_regex(lower(text), '\s+'), w -> w <> '')"


@query(
    "naive_bayes_eval",
    oracle=f"""
WITH b AS (
  SELECT doc_id, lang, text, {_DOC_BUCKET} AS bucket FROM documents
), trtf AS (
  SELECT lang, w, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT lang, unnest({_NB_WORDS}) AS w FROM b WHERE bucket < 204)
  GROUP BY 1, 2
), lstats AS (
  SELECT lang, CAST(sum(c) AS BIGINT) AS nl FROM trtf GROUP BY lang
), ldocs AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS dl
  FROM b WHERE bucket < 204 GROUP BY lang
), v AS (
  SELECT CAST(count(DISTINCT w) AS BIGINT) AS v,
         (SELECT CAST(count(*) AS BIGINT) FROM b WHERE bucket < 204) AS dt
  FROM trtf
), model AS (
  SELECT t.lang, t.w,
         {N.sql_cents(
             "ln(CAST(t.c + 1 AS DOUBLE) / (ls.nl + v.v))", 10**9)} AS t9
  FROM trtf t JOIN lstats ls USING (lang), v
), lconst AS (
  SELECT ls.lang,
         {N.sql_cents("ln(1.0 / (ls.nl + v.v))", 10**9)} AS u9,
         {N.sql_cents("ln(CAST(ld.dl AS DOUBLE) / v.dt)", 10**9)} AS p9
  FROM lstats ls JOIN ldocs ld USING (lang), v
), evtf AS (
  SELECT doc_id, lang AS lang_true, w, CAST(count(*) AS BIGINT) AS k
  FROM (SELECT doc_id, lang, unnest({_NB_WORDS}) AS w
        FROM b WHERE bucket >= 204)
  GROUP BY 1, 2, 3
), scored AS (
  SELECT e.doc_id, e.lang_true, lc.lang,
         max(lc.p9) + sum(e.k * coalesce(m.t9, lc.u9)) AS s9
  FROM evtf e CROSS JOIN lconst lc
  LEFT JOIN model m ON m.lang = lc.lang AND m.w = e.w
  GROUP BY 1, 2, 3
), pred AS (
  SELECT lang_true, lang AS predicted
  FROM scored
  QUALIFY row_number() OVER (PARTITION BY doc_id
                             ORDER BY s9 DESC, lang) = 1
)
SELECT lang_true, predicted, CAST(count(*) AS BIGINT) AS n
FROM pred GROUP BY 1, 2""",
    doc="Multinomial naive-Bayes language classifier, trained and "
    "evaluated in one plan: md5(doc_id)-bucket split (~80/20), "
    "Laplace-smoothed per-(lang, word) log-likelihoods ln((c+1)/"
    "(N_l+V)) and priors ln(d_l/D) — completing the classifier family "
    "(centroid, 5-NN, decision stump) with the text-native generative "
    "baseline every curation lang-id heuristic is benchmarked "
    "against. Exactness: every log term is snapped to the 1e-9 grid "
    "(snap-then-sum), per-doc scores are exact integer sums of "
    "(count x term), and the argmax breaks ties (score DESC, lang "
    "ASC) — the whole decision replays bit-identically. Unseen words "
    "fall back to the per-language smoothing constant via left-join "
    "coalesce. Output: the confusion matrix. Plan: one train "
    "aggregate (vocab x lang, the model — shuffles digests only), "
    "one eval explode joined against it, one rank window per doc; "
    "eval cost is eval-tokens x languages, linear in corpus size.",
    survey_ids=("M7-ML19",),
)
def naive_bayes_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from project_bigdata_spark.operators.dedup import fan_out, words_col

    d = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10
        ).cast("int")
    )
    b = fan_out(d.select("doc_id", "lang", "text", bucket.alias("bucket")))
    tr = b.filter(F.col("bucket") < 204)
    te = b.filter(F.col("bucket") >= 204)
    trtf = (
        tr.select("lang", F.explode(words_col(F.col("text"))).alias("w"))
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    lstats = trtf.groupBy("lang").agg(
        F.sum("c").cast("bigint").alias("nl")
    )
    ldocs = tr.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("dl")
    )
    v = trtf.agg(
        F.countDistinct("w").cast("bigint").alias("v")
    ).crossJoin(
        F.broadcast(
            tr.agg(F.count(F.lit(1)).cast("bigint").alias("dt"))
        )
    )
    model = (
        trtf.join(F.broadcast(lstats), "lang")
        .crossJoin(F.broadcast(v))
        .select(
            "lang",
            "w",
            N.cents(
                F.log(
                    (F.col("c") + 1).cast("double")
                    / (F.col("nl") + F.col("v"))
                ),
                10**9,
            ).alias("t9"),
        )
    )
    lconst = (
        lstats.join(ldocs, "lang")
        .crossJoin(F.broadcast(v))
        .select(
            "lang",
            N.cents(
                F.log(F.lit(1.0) / (F.col("nl") + F.col("v"))), 10**9
            ).alias("u9"),
            N.cents(
                F.log(F.col("dl").cast("double") / F.col("dt")), 10**9
            ).alias("p9"),
        )
    )
    evtf = (
        te.select(
            "doc_id",
            F.col("lang").alias("lang_true"),
            F.explode(words_col(F.col("text"))).alias("w"),
        )
        .groupBy("doc_id", "lang_true", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("k"))
    )
    scored = (
        evtf.crossJoin(F.broadcast(lconst))
        .join(model, ["lang", "w"], "left")
        .groupBy("doc_id", "lang_true", "lang")
        .agg(
            (
                F.max("p9")
                + F.sum(
                    F.col("k") * F.coalesce(F.col("t9"), F.col("u9"))
                )
            ).alias("s9")
        )
    )
    pred = (
        scored.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(
                    F.col("s9").desc(), "lang"
                )
            ),
        )
        .filter(F.col("rk") == 1)
        .select("lang_true", F.col("lang").alias("predicted"))
    )
    return pred.groupBy("lang_true", "predicted").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )


# ---------------------------------------------------------------------------
# ridge_normal_equations (round 8, second window) — closed-form distributed
# ridge regression via one sufficient-statistics pass (the exact-solve
# complement of the iterative trainers kmeans_lloyd / logistic_gd_classifier)
# ---------------------------------------------------------------------------

_RIDGE_L = 1000.0  # lambda on the integer-grid units (enters as n*lambda in
#                    the n-scaled centered system below)

_RIDGE_STATS = [  # (name, a, b) second moments over the grid columns
    ("sqq", "q", "q"), ("sdd", "d", "d"), ("stt", "t", "t"),
    ("spp", "p", "p"), ("sqd", "q", "d"), ("sqt", "q", "t"),
    ("sdt", "d", "t"), ("sqp", "q", "p"), ("sdp", "d", "p"),
    ("stp", "t", "p"),
]


def _ridge_alg() -> tuple[list[str], list[str], list[str]]:
    """The closed-form algebra as THREE layers of engine-neutral SQL
    strings (centered moments -> Cramer solve -> rendered outputs), each
    layer naming its sub-expressions so no layer's text blows past the
    JVM codegen method limit. Compiled by ``selectExpr`` on the Spark
    side and chained as CTEs in the DuckDB oracle — both engines execute
    the structurally identical double expressions over the same
    exact-integer sufficient statistics."""
    pairs = [("q", "q"), ("d", "d"), ("t", "t"), ("p", "p"), ("q", "d"),
             ("q", "t"), ("d", "t"), ("q", "p"), ("d", "p"), ("t", "p")]
    # layer 1: n-scaled centered moments (+ carry the raw first moments)
    layer1 = ["n", "sq", "sd", "st", "sp"] + [
        f"(n * s{a}{b} - s{a} * s{b}) AS c{a}{b}" for a, b in pairs
    ]
    # layer 2: ridge system A = C + n*lambda*I (e-notation literal: DOUBLE
    # in both dialects), Cramer determinant and solution
    lam = f"(1.0e0 * {_RIDGE_L:g} * n)"
    a = [[f"(cqq + {lam})", "cqd", "cqt"],
         ["cqd", f"(cdd + {lam})", "cdt"],
         ["cqt", "cdt", f"(ctt + {lam})"]]
    b = ["cqp", "cdp", "ctp"]

    def det3(m: list[list[str]]) -> str:
        return (
            f"({m[0][0]} * ({m[1][1]} * {m[2][2]} - {m[1][2]} * {m[2][1]})"
            f" - {m[0][1]} * ({m[1][0]} * {m[2][2]} - {m[1][2]} * {m[2][0]})"
            f" + {m[0][2]} * ({m[1][0]} * {m[2][1]} - {m[1][1]} * {m[2][0]}))"
        )

    def repl(col: int) -> list[list[str]]:
        return [[b[i] if j == col else a[i][j] for j in range(3)]
                for i in range(3)]

    layer2 = (
        ["n", "sq", "sd", "st", "sp",
         "cqq", "cdd", "ctt", "cpp", "cqd", "cqt", "cdt",
         "cqp", "cdp", "ctp", f"{det3(a)} AS det"]
        + [f"{det3(repl(j))} AS dw{j + 1}" for j in range(3)]
    )
    # layer 3: weights w_j = dw_j / det, SSE from the unpenalized Gram,
    # rendered outputs (dialect-neutral floor-form rounding)
    w = [f"(dw{j + 1} / det)" for j in range(3)]
    a0 = [["cqq", "cqd", "cqt"], ["cqd", "cdd", "cdt"], ["cqt", "cdt", "ctt"]]
    waw = " + ".join(
        f"({w[i]} * {w[j]} * {a0[i][j]})" for i in range(3) for j in range(3)
    )
    wb = " + ".join(f"({w[j]} * {b[j]})" for j in range(3))
    sse = f"(cpp - 2 * ({wb}) + ({waw}))"
    guard = "CASE WHEN det = 0 THEN NULL ELSE"
    layer3 = [
        "CAST(n AS BIGINT) AS n_rows",
        f"{guard} {N.sql_rnd(w[0], 6)} END AS w_quantity",
        f"{guard} {N.sql_rnd(w[1], 6)} END AS w_discount",
        f"{guard} {N.sql_rnd(w[2], 6)} END AS w_tax",
        f"{guard} "
        + N.sql_rnd(
            f"(sp - ({w[0]} * sq + {w[1]} * sd + {w[2]} * st)) / n / 100", 4
        )
        + " END AS intercept_usd",
        # R^2 needs its own guard: a constant target makes cpp exactly
        # 0 (an integer-derived double) while the ridge det stays
        # positive — ANSI Spark would throw on sse/cpp
        "CASE WHEN det = 0 OR cpp = 0 THEN NULL ELSE "
        + N.sql_rnd(f"1 - {sse} / cpp", 6)
        + " END AS r2",
    ]
    return layer1, layer2, layer3


_RIDGE_L1, _RIDGE_L2, _RIDGE_L3 = _ridge_alg()
_RIDGE_G_SQL = f"""
  SELECT CAST(l_quantity AS BIGINT) AS q,
         {N.sql_cents('l_discount')} AS d,
         {N.sql_cents('l_tax')} AS t,
         {N.sql_cents('l_extendedprice')} AS p
  FROM lineitem"""
_RIDGE_S_SQL = (
    "SELECT CAST(count(*) AS DOUBLE) AS n, "
    + ", ".join(f"CAST(sum({v}) AS DOUBLE) AS s{v}" for v in "qdtp")
    + ", "
    + ", ".join(
        f"CAST(sum(CAST({a} AS HUGEINT) * {b}) AS DOUBLE) AS {nm}"
        for nm, a, b in _RIDGE_STATS
    )
    + " FROM g"
)


@query(
    "ridge_normal_equations",
    oracle=f"""
WITH g AS ({_RIDGE_G_SQL}),
s AS ({_RIDGE_S_SQL}),
c AS (SELECT {", ".join(_RIDGE_L1)} FROM s),
w AS (SELECT {", ".join(_RIDGE_L2)} FROM c)
SELECT {", ".join(_RIDGE_L3)} FROM w""",
    doc="Closed-form ridge regression (Hoerl & Kennard 1970) of lineitem "
    "extended price on (quantity, discount, tax), lambda = 1000 on the "
    "integer-grid units: ONE sufficient-statistics aggregation builds "
    "the 3x3 centered normal equations, Cramer's rule solves them in "
    "the final one-row projection — the exact-solve pattern every "
    "distributed linear model with small feature count should use "
    "(never an iterative shuffle). All 15 sufficient statistics are "
    "exact integers (inputs live on cents grids; Spark widens the "
    "second-moment sums to DECIMAL(38,0), DuckDB to HUGEINT) cast once "
    "to double; the solve algebra is the SAME generated SQL text on "
    "both engines (three selectExpr layers on Spark = three chained "
    "CTEs in the oracle, each layer naming its sub-expressions so "
    "whole-stage codegen never hits the JVM method limit), so every "
    "double operation is structurally identical and the weights, "
    "intercept and R^2 replay bit-identically. Weights are in grid "
    "units (cents of price per quantity unit / per 0.01 discount / "
    "per 0.01 tax). Plan: one map-side-combining aggregate to a single "
    "row, scalar algebra after — zero joins, zero extra passes at any "
    "scale.",
    survey_ids=("M7-ML21",),
)
def ridge_normal_equations(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    g = li.select(
        F.col("l_quantity").cast("bigint").alias("q"),
        N.cents("l_discount").alias("d"),
        N.cents("l_tax").alias("t"),
        N.cents("l_extendedprice").alias("p"),
    )
    stats = g.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        *[F.sum(v).cast("double").alias(f"s{v}") for v in "qdtp"],
        *[
            F.sum((F.col(a) * F.col(b)).cast("decimal(38,0)"))
            .cast("double")
            .alias(nm)
            for nm, a, b in _RIDGE_STATS
        ],
    )
    return (
        stats.selectExpr(*_RIDGE_L1)
        .selectExpr(*_RIDGE_L2)
        .selectExpr(*_RIDGE_L3)
    )


# ---------------------------------------------------------------------------
# logistic_gd_classifier (round 8, second window) — unrolled full-batch
# gradient-descent logistic regression on the embedding table (the
# iterative-trainer face next to the closed-form ridge_normal_equations)
# ---------------------------------------------------------------------------

_LOGIT_STEPS = 3
_LOGIT_LR = 10.0
_LOGIT_DIMS = 4


def _logit_margin() -> str:
    """Margin w.x as an engine-neutral string over the integer-grid
    columns (weights on the 1e-9 grid, features on the 1e-6 grid) —
    identical parenthesization on both engines."""
    terms = ["(b9 / 1e9)"] + [
        f"((w{j}_9 / 1e9) * (x{j}_6 / 1e6))" for j in range(1, _LOGIT_DIMS + 1)
    ]
    return "(" + " + ".join(terms) + ")"


_LOGIT_P = f"(1.0 / (1.0 + exp(-{_logit_margin()})))"


def _logit_grad_exprs() -> list[str]:
    """Per-step gradient aggregate expressions (snap-then-sum on the 1e-9
    grid) plus the row count."""
    out = [f"sum({N.sql_cents(f'(y - {_LOGIT_P})', 10**9)}) AS gb9",
           "CAST(count(*) AS BIGINT) AS n"]
    for j in range(1, _LOGIT_DIMS + 1):
        out.append(
            "sum("
            + N.sql_cents(f"((y - {_LOGIT_P}) * (x{j}_6 / 1e6))", 10**9)
            + f") AS g{j}9"
        )
    return out


def _logit_update_exprs() -> list[str]:
    """w' = w + snap_1e-9(lr * mean_gradient), kept on the integer grid."""
    out = [f"(b9 + {N.sql_cents(f'({_LOGIT_LR!r} * gb9 / n)', 1)}) AS b9"]
    for j in range(1, _LOGIT_DIMS + 1):
        out.append(
            f"(w{j}_9 + {N.sql_cents(f'({_LOGIT_LR!r} * g{j}9 / n)', 1)})"
            f" AS w{j}_9"
        )
    return out


def _logit_oracle() -> str:
    base = (
        "SELECT CASE WHEN label < 5 THEN 1 ELSE 0 END AS y, "
        + ", ".join(
            N.sql_cents(f"CAST(embedding[{j}] AS DOUBLE)", 10**6)
            + f" AS x{j}_6"
            for j in range(1, _LOGIT_DIMS + 1)
        )
        + " FROM embeddings WHERE embedding IS NOT NULL"
    )
    w_cols = ["CAST(0 AS BIGINT) AS b9"] + [
        f"CAST(0 AS BIGINT) AS w{j}_9" for j in range(1, _LOGIT_DIMS + 1)
    ]
    ctes = [f"base AS MATERIALIZED ({base})", f"w0 AS (SELECT {', '.join(w_cols)})"]
    for s in range(1, _LOGIT_STEPS + 1):
        ctes.append(
            f"g{s} AS (SELECT {', '.join(_logit_grad_exprs())} "
            f"FROM base, w{s - 1})"
        )
        ctes.append(
            f"w{s} AS (SELECT {', '.join(_logit_update_exprs())} "
            f"FROM w{s - 1}, g{s})"
        )
    wf = f"w{_LOGIT_STEPS}"
    fit = (
        f"fit AS (SELECT CAST(count(*) AS BIGINT) AS n, "
        f"CAST(sum(y) AS BIGINT) AS n_pos, "
        f"CAST(sum(CASE WHEN ({_logit_margin()} >= 0) = (y = 1) "
        f"THEN 1 ELSE 0 END) AS BIGINT) AS n_correct, "
        f"sum({N.sql_cents(f'ln(CASE WHEN y = 1 THEN {_LOGIT_P} ELSE 1.0 - {_LOGIT_P} END)', 10**9)})"
        f" AS ll9 FROM base, {wf})"
    )
    ctes.append(fit)
    w_out = ", ".join(
        [N.sql_rnd("b9 / 1e9", 6) + " AS w_bias"]
        + [
            N.sql_rnd(f"w{j}_9 / 1e9", 6) + f" AS w{j}"
            for j in range(1, _LOGIT_DIMS + 1)
        ]
    )
    return (
        "WITH " + ",\n".join(ctes) + """
SELECT CAST({steps} AS BIGINT) AS n_steps, fit.n, fit.n_pos,
       {w_out},
       {acc} AS train_acc,
       {ll} AS log_loss
FROM {wf}, fit""".format(
            steps=_LOGIT_STEPS,
            w_out=w_out,
            wf=wf,
            acc=N.sql_rnd("CAST(fit.n_correct AS DOUBLE) / fit.n", 6),
            ll=N.sql_rnd("-CAST(fit.ll9 AS DOUBLE) / 1e9 / fit.n", 6),
        )
    )


@query(
    "logistic_gd_classifier",
    oracle=_logit_oracle(),
    doc=f"Logistic-regression trainer, {_LOGIT_STEPS} full-batch "
    "gradient-descent steps unrolled (the kmeans_lloyd unrolled-rounds "
    "discipline applied to a differentiable model): y = [label < 5] on "
    f"the first {_LOGIT_DIMS} embedding dimensions + bias, lr = "
    f"{_LOGIT_LR}. Each step is ONE map-side-combining aggregate of the "
    "per-row gradient (y - sigmoid(w.x)) * x — snapped to the 1e-9 grid "
    "and integer-summed — crossed with the 1-row broadcast weight "
    "state; weights live on the 1e-9 integer grid between steps, and "
    "every double kernel (margin, sigmoid, update) is the SAME "
    "generated SQL string compiled by F.expr on Spark and inlined in "
    "the oracle, so training replays bit-identically. Final pass "
    "reports train accuracy and log-loss. Plan per step: one scan + "
    "one scalar reduce; the model state is a single broadcast row — "
    "at 100 TB the corpus never shuffles, exactly how full-batch "
    "distributed GD should look (Bottou 2010's batch regime).",
    survey_ids=("M7-ML22",),
)
def logistic_gd_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("embedding").isNotNull()).select(
        (F.col("label") < 5).cast("int").alias("y"),
        *[
            N.cents(F.element_at("embedding", j).cast("double"), 10**6)
            .alias(f"x{j}_6")
            for j in range(1, _LOGIT_DIMS + 1)
        ],
    ).localCheckpoint()
    w = spark.range(1).select(
        F.lit(0).cast("bigint").alias("b9"),
        *[
            F.lit(0).cast("bigint").alias(f"w{j}_9")
            for j in range(1, _LOGIT_DIMS + 1)
        ],
    )
    for _ in range(_LOGIT_STEPS):
        g = base.crossJoin(F.broadcast(w)).agg(
            *[F.expr(e) for e in _logit_grad_exprs()]
        )
        # r11: pin the 1-row weight frame per step — each step references
        # the previous w twice (through g and directly), so the unpinned
        # unroll replayed the base gradient aggregate 2^steps times
        w = (
            w.crossJoin(F.broadcast(g))
            .select(*[F.expr(e) for e in _logit_update_exprs()])
            .localCheckpoint(eager=True)
        )
    fit = base.crossJoin(F.broadcast(w)).agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("n"),
        F.expr("CAST(sum(y) AS BIGINT)").alias("n_pos"),
        F.expr(
            f"CAST(sum(CASE WHEN ({_logit_margin()} >= 0) = (y = 1) "
            "THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("n_correct"),
        F.expr(
            "sum("
            + N.sql_cents(
                f"ln(CASE WHEN y = 1 THEN {_LOGIT_P} ELSE 1.0 - {_LOGIT_P} END)",
                10**9,
            )
            + ")"
        ).alias("ll9"),
    )
    return w.crossJoin(F.broadcast(fit)).select(
        F.lit(_LOGIT_STEPS).cast("bigint").alias("n_steps"),
        "n",
        "n_pos",
        F.expr(N.sql_rnd("b9 / 1e9", 6)).alias("w_bias"),
        *[
            F.expr(N.sql_rnd(f"w{j}_9 / 1e9", 6)).alias(f"w{j}")
            for j in range(1, _LOGIT_DIMS + 1)
        ],
        F.expr(N.sql_rnd("CAST(n_correct AS DOUBLE) / n", 6)).alias(
            "train_acc"
        ),
        F.expr(N.sql_rnd("-CAST(ll9 AS DOUBLE) / 1e9 / n", 6)).alias(
            "log_loss"
        ),
    )


# ---------------------------------------------------------------------------
# gbm_residual_stumps (round 8, second window) — gradient-boosted depth-1
# regression stumps, 3 rounds unrolled (the boosting trainer face next to
# the single decision_stump classifier)
# ---------------------------------------------------------------------------

_GBM_ROUNDS = 3
_GBM_ETA = "5.0e-1"  # shrinkage as an e-notation literal (DOUBLE in both)

# shared engine-neutral strings over the per-threshold aggregate columns
# (nl, sl, n, st, ss); the split score sl^2/nl + sr^2/nr is the standard
# variance-reduction identity, computed as the identical double expression
_GBM_F = (
    "((sl / (nl * 1.0e0)) * sl"
    " + ((st - sl) / ((n - nl) * 1.0e0)) * (st - sl))"
)
_GBM_GL = None  # built below via N.sql_cents (integer leaf on the 1e-6 grid)
_GBM_GR = None


def _gbm_leaf_exprs() -> tuple[str, str]:
    gl = N.sql_cents(f"({_GBM_ETA} * sl / nl)", 1)
    gr = N.sql_cents(f"({_GBM_ETA} * (st - sl) / (n - nl))", 1)
    return gl, gr


_GBM_SSE_AFTER = (
    "(CAST(ss AS DOUBLE)"
    " - 2 * ((gl6 * 1.0e0) * sl + (gr6 * 1.0e0) * (st - sl))"
    " + (nl * 1.0e0) * gl6 * gl6 + ((n - nl) * 1.0e0) * gr6 * gr6)"
)


def _gbm_oracle() -> str:
    gl, gr = _gbm_leaf_exprs()
    ctes = [
        "base0 AS MATERIALIZED (SELECT hour(ts) AS h, "
        + N.sql_cents("value", 10**6)
        + " AS res6 FROM events)",
        "thetas AS (SELECT unnest(range(0, 23)) AS theta)",
    ]
    for r in range(1, _GBM_ROUNDS + 1):
        ctes.append(
            f"a{r} AS (SELECT t.theta, "
            "CAST(sum(CASE WHEN h <= t.theta THEN 1 ELSE 0 END) AS BIGINT)"
            " AS nl, "
            "CAST(sum(CASE WHEN h <= t.theta THEN res6 ELSE 0 END)"
            " AS BIGINT) AS sl, "
            "CAST(count(*) AS BIGINT) AS n, "
            "CAST(sum(res6) AS BIGINT) AS st, "
            "sum(CAST(res6 AS HUGEINT) * res6) AS ss "
            f"FROM base{r - 1}, thetas t GROUP BY t.theta)"
        )
        ctes.append(
            f"b{r} AS (SELECT theta, nl, sl, n, st, ss, {_GBM_F} AS f, "
            f"{gl} AS gl6, {gr} AS gr6 "
            f"FROM a{r} WHERE nl > 0 AND nl < n "
            "ORDER BY f DESC, theta LIMIT 1)"
        )
        ctes.append(
            f"base{r} AS (SELECT p.h, p.res6 - CASE WHEN p.h <= b.theta "
            f"THEN b.gl6 ELSE b.gr6 END AS res6 FROM base{r - 1} p, b{r} b)"
        )
    outs = [
        f"SELECT CAST({r} AS BIGINT) AS step, "
        "CAST(theta AS BIGINT) AS theta_hour, nl AS n_left, "
        "(n - nl) AS n_right, "
        + N.sql_rnd("gl6 / 1.0e6", 6)
        + " AS leaf_left, "
        + N.sql_rnd("gr6 / 1.0e6", 6)
        + " AS leaf_right, "
        + N.sql_rnd("CAST(ss AS DOUBLE) / 1.0e12", 4)
        + " AS sse_before, "
        + N.sql_rnd(f"{_GBM_SSE_AFTER} / 1.0e12", 4)
        + f" AS sse_after FROM b{r}"
        for r in range(1, _GBM_ROUNDS + 1)
    ]
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(outs)


@query(
    "gbm_residual_stumps",
    oracle=_gbm_oracle(),
    doc=f"Gradient-boosted regression stumps (Friedman 2001), "
    f"{_GBM_ROUNDS} rounds unrolled with shrinkage eta = 0.5: each round "
    "fits the best hour-of-day split of the current residuals (23 "
    "literal candidate thresholds, variance-reduction score "
    "sl^2/nl + sr^2/nr), subtracts the shrunk leaf means, and "
    "re-scores. Residuals live on the 1e-6 integer grid THROUGHOUT — "
    "leaf values snap to the grid before subtraction, so every round's "
    "residual frame is exact integers and the whole trainer replays "
    "bit-identically (the bpe_train_merges unrolled-rounds discipline "
    "applied to boosting); only the split score and the reported SSEs "
    "are doubles, from shared engine-neutral strings. Emits one row "
    "per round: threshold, child sizes, leaf values, SSE before/after "
    "— the training curve. Plan per round: one broadcast 23-way "
    "conditional aggregate (map-side combined, the "
    "XGBoost/LightGBM-style histogram split search), a 1-row argmax, "
    "one broadcast residual update — the volume never shuffles.",
    survey_ids=("M7-ML23",),
)
def gbm_residual_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r11 re-plan to the histogram method already proven on
    # gbm_depth2_trees: every split predicate and leaf adjustment is a
    # function of hour alone, so 24 (h) cells carrying exact
    # (n, sum res6, sum res6²) sufficient statistics replace the
    # row × 23-theta fan-out that previously re-read the volume every
    # round over a lineage that grew by one crossJoin per round. The
    # cell-state update s' = s - n·δ, q' = q - 2δ·s + n·δ² (δ BIGINT on
    # the 1e-6 grid, products in DECIMAL(38,0)) is bit-identical to
    # subtracting δ from every row, so the unrolled row-wise oracle is
    # unchanged. Volume is read ONCE; rounds run on 24-row frames.
    ev = load_table(spark, sf_dir, "events")
    gl, gr = _gbm_leaf_exprs()
    base = ev.select(
        F.hour("ts").alias("h"), N.cents("value", 10**6).alias("res6")
    )
    cells = (
        base.groupBy("h")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("res6").cast("bigint").alias("s"),
            F.sum(F.col("res6").cast("decimal(38,0)") * F.col("res6"))
            .alias("q"),
        )
        .localCheckpoint(eager=True)
    )
    thetas = spark.range(0, 23).select(F.col("id").cast("int").alias("theta"))
    rows = []
    for r in range(1, _GBM_ROUNDS + 1):
        agg = (
            cells.crossJoin(F.broadcast(thetas))
            .groupBy("theta")
            .agg(
                F.expr(
                    "CAST(sum(CASE WHEN h <= theta THEN n ELSE 0 END)"
                    " AS BIGINT)"
                ).alias("nl"),
                F.expr(
                    "CAST(sum(CASE WHEN h <= theta THEN s ELSE 0 END)"
                    " AS BIGINT)"
                ).alias("sl"),
                F.expr("CAST(sum(n) AS BIGINT)").alias("n"),
                F.expr("CAST(sum(s) AS BIGINT)").alias("st"),
                F.sum("q").alias("ss"),
            )
        )
        best = (
            agg.filter((F.col("nl") > 0) & (F.col("nl") < F.col("n")))
            .withColumn("f", F.expr(_GBM_F))
            .withColumn("gl6", F.expr(gl))
            .withColumn("gr6", F.expr(gr))
            .orderBy(F.desc("f"), "theta")
            .limit(1)
            .localCheckpoint()
        )
        rows.append(
            best.select(
                F.lit(r).cast("bigint").alias("step"),
                F.col("theta").cast("bigint").alias("theta_hour"),
                F.col("nl").alias("n_left"),
                (F.col("n") - F.col("nl")).alias("n_right"),
                F.expr(N.sql_rnd("gl6 / 1.0e6", 6)).alias("leaf_left"),
                F.expr(N.sql_rnd("gr6 / 1.0e6", 6)).alias("leaf_right"),
                F.expr(N.sql_rnd("CAST(ss AS DOUBLE) / 1.0e12", 4)).alias(
                    "sse_before"
                ),
                F.expr(N.sql_rnd(f"{_GBM_SSE_AFTER} / 1.0e12", 4)).alias(
                    "sse_after"
                ),
            )
        )
        delta = "(CASE WHEN h <= theta THEN gl6 ELSE gr6 END)"
        cells = (
            cells.crossJoin(F.broadcast(best.select("theta", "gl6", "gr6")))
            .select(
                "h",
                "n",
                F.expr(f"CAST(s - n * {delta} AS BIGINT)").alias("s"),
                F.expr(
                    f"q - 2 * CAST({delta} AS DECIMAL(38,0)) * s"
                    f" + CAST({delta} AS DECIMAL(38,0)) * {delta} * n"
                ).alias("q"),
            )
            .localCheckpoint(eager=True)
        )
    out = rows[0]
    for df in rows[1:]:
        out = out.unionAll(df)
    return out


# ---------------------------------------------------------------------------
# gbm_depth2_trees (round 10) — gradient-boosted DEPTH-2 regression trees:
# per round a best (feature, threshold) ROOT split over the shared
# histogram candidates, then per-leaf SUB-splits over the same candidates
# (the closest public analog of the reference's LightGBM depth>1 trees,
# ml_training/train_lightgbm.py:83-102)
# ---------------------------------------------------------------------------

_GBM2_ROUNDS = 3

# feature-valued candidate predicate: candidates carry (f, theta) with
# f in ('h','d'); a row goes LEFT when its f-value is <= theta
_GBM2_FV = "(CASE WHEN f = 'h' THEN h ELSE d END)"
_GBM2_RFV = "(CASE WHEN rf = 'h' THEN h ELSE d END)"
_GBM2_F2V = "(CASE WHEN f2 = 'h' THEN h ELSE d END)"


def _gbm2_leaf_exprs() -> tuple[str, str, str]:
    gl, gr = _gbm_leaf_exprs()
    # single-leaf fallback when a side admits no valid sub-split
    # (constant features): both grandchildren get the shrunk side mean
    gfull = N.sql_cents(f"({_GBM_ETA} * st / n)", 1)
    return (
        f"(CASE WHEN f2 IS NOT NULL THEN {gl} ELSE {gfull} END)",
        f"(CASE WHEN f2 IS NOT NULL THEN {gr} ELSE {gfull} END)",
        gfull,
    )


def _gbm2_oracle() -> str:
    gl2, gr2, _ = _gbm2_leaf_exprs()
    c6 = N.sql_cents("value", 10**6)
    # per-cell residual adjustment chosen by the leaf the cell lands in
    delta = (
        "(CASE WHEN l.f2 IS NOT NULL AND (CASE WHEN l.f2 = 'h' THEN t.h "
        "ELSE t.d END) <= l.theta2 THEN l.gl6 ELSE l.gr6 END)"
    )
    ctes = [
        "cands AS (SELECT 'h' AS f, unnest(range(0, 23)) AS theta "
        "UNION ALL SELECT 'd' AS f, unnest(range(1, 31)) AS theta)",
        # The ONE volume aggregate of the whole trainer: every split
        # predicate and every leaf adjustment is a function of (h, d)
        # alone, so per-cell (n, sum, sum-of-squares) sufficient
        # statistics carry the exact residual state across rounds —
        # the true LightGBM histogram method (rows are never re-read).
        "cells0 AS MATERIALIZED (SELECT hour(ts) AS h, "
        "CAST(date_part('day', ts) AS INT) AS d, "
        "CAST(count(*) AS BIGINT) AS n, "
        f"CAST(sum({c6}) AS BIGINT) AS s, "
        f"sum(CAST({c6} AS HUGEINT) * {c6}) AS q "
        "FROM events GROUP BY 1, 2)",
    ]
    for r in range(1, _GBM2_ROUNDS + 1):
        ctes.append(
            f"ra{r} AS (SELECT c.f, c.theta, "
            f"CAST(sum(CASE WHEN (CASE WHEN c.f = 'h' THEN b.h ELSE b.d "
            "END) <= c.theta THEN b.n ELSE 0 END) AS BIGINT) AS nl, "
            f"CAST(sum(CASE WHEN (CASE WHEN c.f = 'h' THEN b.h ELSE b.d "
            "END) <= c.theta THEN b.s ELSE 0 END) AS BIGINT) AS sl, "
            "CAST(sum(b.n) AS BIGINT) AS n, CAST(sum(b.s) AS BIGINT) AS st "
            f"FROM cells{r - 1} b, cands c GROUP BY 1, 2)"
        )
        ctes.append(
            f"rb{r} AS (SELECT f AS rf, theta AS rtheta FROM ra{r} "
            f"WHERE nl > 0 AND nl < n "
            f"ORDER BY {_GBM_F} DESC, f, theta LIMIT 1)"
        )
        ctes.append(
            f"sided{r} AS MATERIALIZED (SELECT b.h, b.d, b.n, b.s, b.q, "
            "rb.rf, rb.rtheta, CASE WHEN (CASE WHEN rb.rf = 'h' THEN b.h "
            "ELSE b.d END) <= rb.rtheta THEN 'L' ELSE 'R' END AS side "
            f"FROM cells{r - 1} b, rb{r} rb)"
        )
        ctes.append(
            f"ca{r} AS (SELECT t.side, c.f, c.theta, "
            f"CAST(sum(CASE WHEN (CASE WHEN c.f = 'h' THEN t.h ELSE t.d "
            "END) <= c.theta THEN t.n ELSE 0 END) AS BIGINT) AS nl, "
            f"CAST(sum(CASE WHEN (CASE WHEN c.f = 'h' THEN t.h ELSE t.d "
            "END) <= c.theta THEN t.s ELSE 0 END) AS BIGINT) AS sl, "
            "CAST(sum(t.n) AS BIGINT) AS n, CAST(sum(t.s) AS BIGINT) AS st, "
            "sum(t.q) AS ss, "
            "min(t.rf) AS root_feature, min(t.rtheta) AS rtheta "
            f"FROM sided{r} t, cands c GROUP BY 1, 2, 3)"
        )
        ctes.append(
            f"ss{r} AS (SELECT side, min(n) AS n, min(st) AS st, "
            "min(ss) AS ss, min(root_feature) AS root_feature, "
            f"min(rtheta) AS rtheta FROM ca{r} GROUP BY 1)"
        )
        ctes.append(
            f"cb{r} AS (SELECT side, f AS f2, theta AS theta2, nl, sl FROM "
            f"(SELECT *, row_number() OVER (PARTITION BY side "
            f"ORDER BY {_GBM_F} DESC, f, theta) AS rk "
            f"FROM ca{r} WHERE nl > 0 AND nl < n) WHERE rk = 1)"
        )
        ctes.append(
            f"leaf{r} AS MATERIALIZED (SELECT t.*, {gl2} AS gl6, "
            f"{gr2} AS gr6 FROM (SELECT s.side, s.n, s.st, s.ss, "
            "s.root_feature, s.rtheta, cb.f2, cb.theta2, "
            "CAST(coalesce(cb.nl, 0) AS BIGINT) AS nl, "
            "CAST(coalesce(cb.sl, 0) AS BIGINT) AS sl "
            f"FROM ss{r} s LEFT JOIN cb{r} cb ON cb.side = s.side) t)"
        )
        # exact integer cell-state update: s' = s - n·δ,
        # q' = q - 2δ·s + n·δ² (δ BIGINT on the 1e-6 grid, products in
        # HUGEINT) — bit-identical to subtracting δ from every row
        ctes.append(
            f"cells{r} AS MATERIALIZED (SELECT t.h, t.d, t.n, "
            f"CAST(t.s - t.n * {delta} AS BIGINT) AS s, "
            f"t.q - 2 * CAST({delta} AS HUGEINT) * t.s "
            f"+ CAST({delta} AS HUGEINT) * {delta} * t.n AS q "
            f"FROM sided{r} t JOIN leaf{r} l ON l.side = t.side)"
        )
    outs = [
        f"SELECT CAST({r} AS BIGINT) AS step, side, root_feature, "
        "CAST(rtheta AS BIGINT) AS root_theta, "
        "coalesce(f2, '-') AS sub_feature, "
        "CAST(coalesce(theta2, -1) AS BIGINT) AS sub_theta, "
        "n AS n_side, nl AS n_sub_left, "
        + N.sql_rnd("gl6 / 1.0e6", 6)
        + " AS leaf_left, "
        + N.sql_rnd("gr6 / 1.0e6", 6)
        + " AS leaf_right, "
        + N.sql_rnd("CAST(ss AS DOUBLE) / 1.0e12", 4)
        + " AS sse_before, "
        + N.sql_rnd(f"{_GBM_SSE_AFTER} / 1.0e12", 4)
        + f" AS sse_after FROM leaf{r}"
        for r in range(1, _GBM2_ROUNDS + 1)
    ]
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(outs)


@query(
    "gbm_depth2_trees",
    oracle=_gbm2_oracle(),
    doc=f"Gradient-boosted DEPTH-2 regression trees, {_GBM2_ROUNDS} rounds "
    "unrolled with shrinkage eta = 0.5 — gbm_residual_stumps extended "
    "one level, the closest public analog of the reference's LightGBM "
    "depth>1 trees (ml_training/train_lightgbm.py:83-102): each round "
    "picks the best (feature, threshold) ROOT split over a shared "
    "histogram candidate grid (hour 0-22 + day-of-month 1-30, the "
    "LightGBM-style feature-histogram search), then the best SUB-split "
    "per root side over the SAME candidates — 4 leaves per round. A "
    "side with no valid sub-split degenerates deterministically to a "
    "single leaf (both grandchildren = the shrunk side mean, decided "
    "by f2 IS NULL on both engines). Residuals live on the 1e-6 "
    "integer grid THROUGHOUT — leaf values snap before subtraction, so "
    "every round's residual frame is exact integers and the trainer "
    "replays bit-identically; split scores (sl^2/nl + sr^2/nr) and "
    "reported SSEs are doubles from shared engine-neutral strings with "
    "total-order tie-breaks (score DESC, feature, theta). Emits 2 rows "
    "per round (one per root side): root/sub split, child sizes, leaf "
    "values, side SSE before/after — the per-round curve sits strictly "
    "below the stump curve (replay-tested). Plan: the TRUE LightGBM "
    "histogram method — every split predicate and leaf adjustment is a "
    "function of (hour, day) alone, so the event volume is aggregated "
    "ONCE into <=744 (h, d) cells carrying exact (n, sum res6, sum "
    "res6^2) sufficient statistics, and ALL three rounds (candidate "
    "scans, argmaxes, residual updates s' = s - n*delta, q' = q - "
    "2*delta*s + n*delta^2 in HUGEINT/DECIMAL(38)) run on that "
    "cell grid — bit-identical to per-row subtraction, rows never "
    "re-read (the round-10 re-plan: the row x candidate fan-out read "
    "25s/6.3x-slope at sf0.1; the histogram form is volume-pass-"
    "bounded like kmeans_lloyd). Per-round cell frames are "
    "localCheckpoint'ed so lineage stays flat.",
    survey_ids=("M7-ML31",),
)
def gbm_depth2_trees(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    gl2, gr2, _ = _gbm2_leaf_exprs()
    base = ev.select(
        F.hour("ts").alias("h"),
        F.dayofmonth("ts").cast("int").alias("d"),
        N.cents("value", 10**6).alias("res6"),
    )
    # the ONE volume aggregate — all rounds run on <=744 (h, d) cells
    cells = (
        base.groupBy("h", "d")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("res6").cast("bigint").alias("s"),
            F.sum(F.col("res6").cast("decimal(38,0)") * F.col("res6"))
            .alias("q"),
        )
        .localCheckpoint(eager=True)
    )
    cands = (
        spark.range(0, 23)
        .select(F.lit("h").alias("f"), F.col("id").cast("bigint").alias("theta"))
        .unionAll(
            spark.range(1, 31).select(
                F.lit("d").alias("f"), F.col("id").cast("bigint").alias("theta")
            )
        )
    )
    rows = []
    for r in range(1, _GBM2_ROUNDS + 1):
        ra = (
            cells.crossJoin(F.broadcast(cands))
            .groupBy("f", "theta")
            .agg(
                F.expr(
                    f"CAST(sum(CASE WHEN {_GBM2_FV} <= theta THEN n "
                    "ELSE 0 END) AS BIGINT)"
                ).alias("nl"),
                F.expr(
                    f"CAST(sum(CASE WHEN {_GBM2_FV} <= theta THEN s "
                    "ELSE 0 END) AS BIGINT)"
                ).alias("sl"),
                F.expr("CAST(sum(n) AS BIGINT)").alias("n"),
                F.expr("CAST(sum(s) AS BIGINT)").alias("st"),
            )
        )
        rbest = (
            ra.filter((F.col("nl") > 0) & (F.col("nl") < F.col("n")))
            .withColumn("score", F.expr(_GBM_F))
            .orderBy(F.desc("score"), "f", "theta")
            .limit(1)
            .select(F.col("f").alias("rf"), F.col("theta").alias("rtheta"))
            .localCheckpoint(eager=True)
        )
        sided = cells.crossJoin(F.broadcast(rbest)).select(
            "h",
            "d",
            "n",
            "s",
            "q",
            "rf",
            "rtheta",
            F.expr(
                f"CASE WHEN {_GBM2_RFV} <= rtheta THEN 'L' ELSE 'R' END"
            ).alias("side"),
        )
        ca = (
            sided.crossJoin(F.broadcast(cands))
            .groupBy("side", "f", "theta")
            .agg(
                F.expr(
                    f"CAST(sum(CASE WHEN {_GBM2_FV} <= theta THEN n "
                    "ELSE 0 END) AS BIGINT)"
                ).alias("nl"),
                F.expr(
                    f"CAST(sum(CASE WHEN {_GBM2_FV} <= theta THEN s "
                    "ELSE 0 END) AS BIGINT)"
                ).alias("sl"),
                F.expr("CAST(sum(n) AS BIGINT)").alias("n"),
                F.expr("CAST(sum(s) AS BIGINT)").alias("st"),
                F.sum("q").alias("ss"),
                F.min("rf").alias("root_feature"),
                F.min("rtheta").alias("rtheta"),
            )
        )
        sstats = ca.groupBy("side").agg(
            F.min("n").alias("n"),
            F.min("st").alias("st"),
            F.min("ss").alias("ss"),
            F.min("root_feature").alias("root_feature"),
            F.min("rtheta").alias("rtheta"),
        )
        wside = Window.partitionBy("side").orderBy(
            F.desc("score"), "f", "theta"
        )
        cb = (
            ca.filter((F.col("nl") > 0) & (F.col("nl") < F.col("n")))
            .withColumn("score", F.expr(_GBM_F))
            .withColumn("rk", F.row_number().over(wside))
            .filter(F.col("rk") == 1)
            .select(
                "side",
                F.col("f").alias("f2"),
                F.col("theta").alias("theta2"),
                F.col("nl").alias("cnl"),
                F.col("sl").alias("csl"),
            )
        )
        leaf = (
            sstats.join(cb, "side", "left")
            .select(
                "side",
                "n",
                "st",
                "ss",
                "root_feature",
                "rtheta",
                "f2",
                "theta2",
                F.coalesce("cnl", F.lit(0)).cast("bigint").alias("nl"),
                F.coalesce("csl", F.lit(0)).cast("bigint").alias("sl"),
            )
            .withColumn("gl6", F.expr(gl2))
            .withColumn("gr6", F.expr(gr2))
            .localCheckpoint(eager=True)
        )
        rows.append(
            leaf.select(
                F.lit(r).cast("bigint").alias("step"),
                "side",
                "root_feature",
                F.col("rtheta").cast("bigint").alias("root_theta"),
                F.coalesce("f2", F.lit("-")).alias("sub_feature"),
                F.coalesce("theta2", F.lit(-1))
                .cast("bigint")
                .alias("sub_theta"),
                F.col("n").alias("n_side"),
                F.col("nl").alias("n_sub_left"),
                F.expr(N.sql_rnd("gl6 / 1.0e6", 6)).alias("leaf_left"),
                F.expr(N.sql_rnd("gr6 / 1.0e6", 6)).alias("leaf_right"),
                F.expr(N.sql_rnd("CAST(ss AS DOUBLE) / 1.0e12", 4)).alias(
                    "sse_before"
                ),
                F.expr(N.sql_rnd(f"{_GBM_SSE_AFTER} / 1.0e12", 4)).alias(
                    "sse_after"
                ),
            )
        )
        # exact integer cell-state update: s' = s - n*delta,
        # q' = q - 2*delta*s + n*delta^2 (bit-identical to subtracting
        # delta from every row of the cell; products in DECIMAL(38))
        delta = (
            f"(CASE WHEN f2 IS NOT NULL AND {_GBM2_F2V} <= theta2 "
            "THEN gl6 ELSE gr6 END)"
        )
        cells = (
            sided.join(
                F.broadcast(
                    leaf.select("side", "f2", "theta2", "gl6", "gr6")
                ),
                "side",
            )
            .select(
                "h",
                "d",
                "n",
                F.expr(f"CAST(s - n * {delta} AS BIGINT)").alias("s"),
                F.expr(
                    f"q - 2 * CAST({delta} AS DECIMAL(38,0)) * s"
                    f" + CAST({delta} AS DECIMAL(38,0)) * {delta} * n"
                ).alias("q"),
            )
            .localCheckpoint(eager=True)
        )
    out = rows[0]
    for df in rows[1:]:
        out = out.unionAll(df)
    return out


# ---------------------------------------------------------------------------
# gmm_em_1d (round 8, third wave) — 2-component 1-D Gaussian-mixture EM,
# 3 unrolled rounds (the soft-assignment trainer next to the hard-assign
# kmeans_lloyd and the discriminative logistic_gd_classifier)
# ---------------------------------------------------------------------------

_GMM_ROUNDS = 3

# shared engine-neutral kernels over (c = value cents, params row)
_GMM_V1 = "greatest(v1, 1.0e-6)"
_GMM_V2 = "greatest(v2, 1.0e-6)"
_GMM_P1 = (
    f"(w1 * exp(-((c / 1.0e2 - mu1) * (c / 1.0e2 - mu1)"
    f" / (2.0e0 * {_GMM_V1}))) / sqrt({_GMM_V1}))"
)
_GMM_P2 = (
    f"((1.0e0 - w1) * exp(-((c / 1.0e2 - mu2) * (c / 1.0e2 - mu2)"
    f" / (2.0e0 * {_GMM_V2}))) / sqrt({_GMM_V2}))"
)
_GMM_R1 = f"({_GMM_P1} / ({_GMM_P1} + {_GMM_P2}))"
# ln(2*pi)/2 as a shared literal for the log-likelihood render
_GMM_LL = f"(ln({_GMM_P1} + {_GMM_P2}) - 9.189385332046727e-1)"

# init from exact corpus scalars (quartile-spread means, pooled variance)
_GMM_INIT = {
    "w1": "5.0e-1",
    "mu1": "((cmin + (cmax - cmin) / 4.0e0) / 1.0e2)",
    "mu2": "((cmin + 3.0e0 * (cmax - cmin) / 4.0e0) / 1.0e2)",
    "v1": "((sc2 / n - (sc / n) * (sc / n)) / 1.0e4)",
    "v2": "((sc2 / n - (sc / n) * (sc / n)) / 1.0e4)",
}

# M-step from the snap-then-summed responsibility moments (all doubles
# cast from exact integer sums; n9 = n * 1e9)
_GMM_STEP = {
    "w1": "(sr / n9)",
    "mu1": "((srx / sr) / 1.0e2)",
    "v1": "((srx2 / sr - (srx / sr) * (srx / sr)) / 1.0e4)",
    "mu2": "(((sc * 1.0e9 - srx) / (n9 - sr)) / 1.0e2)",
    "v2": (
        "(((sc2 * 1.0e9 - srx2) / (n9 - sr)"
        " - ((sc * 1.0e9 - srx) / (n9 - sr))"
        " * ((sc * 1.0e9 - srx) / (n9 - sr))) / 1.0e4)"
    ),
}
_GMM_CARRY = ["n", "n9", "sc", "sc2"]


def _gmm_oracle() -> str:
    r9 = N.sql_cents(_GMM_R1, 10**9)
    ctes = [
        f"base AS MATERIALIZED (SELECT {N.sql_cents('value')} AS c FROM events)",
        "init AS (SELECT CAST(count(*) AS DOUBLE) AS n, "
        "CAST(count(*) AS DOUBLE) * 1.0e9 AS n9, "
        "CAST(min(c) AS DOUBLE) AS cmin, CAST(max(c) AS DOUBLE) AS cmax, "
        "CAST(sum(c) AS DOUBLE) AS sc, "
        "CAST(sum(CAST(c AS HUGEINT) * c) AS DOUBLE) AS sc2 FROM base)",
        "p0 AS (SELECT "
        + ", ".join(f"{v} AS {k}" for k, v in _GMM_INIT.items())
        + ", " + ", ".join(_GMM_CARRY) + " FROM init)",
    ]
    for r in range(1, _GMM_ROUNDS + 1):
        ctes.append(
            f"e{r} AS (SELECT base.c, {r9} AS r9 FROM base, p{r - 1})"
        )
        ctes.append(
            f"g{r} AS (SELECT CAST(sum(r9) AS DOUBLE) AS sr, "
            "CAST(sum(CAST(r9 AS HUGEINT) * c) AS DOUBLE) AS srx, "
            "CAST(sum(CAST(r9 AS HUGEINT) * c * c) AS DOUBLE) AS srx2 "
            f"FROM e{r})"
        )
        ctes.append(
            f"p{r} AS (SELECT "
            + ", ".join(f"{v} AS {k}" for k, v in _GMM_STEP.items())
            + ", " + ", ".join(_GMM_CARRY)
            + f" FROM g{r}, init)"
        )
    pf = f"p{_GMM_ROUNDS}"
    ctes.append(
        "fin AS (SELECT "
        f"CAST(sum(CASE WHEN {r9} >= 500000000 THEN 1 ELSE 0 END) AS BIGINT)"
        " AS n_comp1, "
        f"sum({N.sql_cents(_GMM_LL, 10**9)}) AS ll9 "
        f"FROM base, {pf})"
    )
    outs = ", ".join(
        N.sql_rnd(k, 6) + f" AS {k}" for k in ("w1", "mu1", "v1", "mu2", "v2")
    )
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT CAST({_GMM_ROUNDS} AS BIGINT) AS n_rounds,
       CAST(n AS BIGINT) AS n, {outs},
       fin.n_comp1,
       {N.sql_rnd('CAST(fin.ll9 AS DOUBLE) / 1.0e9 / n', 6)} AS mean_loglik
FROM {pf}, fin"""
    )


@query(
    "gmm_em_1d",
    oracle=_gmm_oracle(),
    doc=f"Two-component 1-D Gaussian-mixture EM over event values, "
    f"{_GMM_ROUNDS} expectation-maximization rounds unrolled (Dempster "
    "et al. 1977): the SOFT-assignment trainer completing the cluster "
    "family (kmeans_lloyd assigns hard, this one by responsibility). "
    "Deterministic init from exact corpus scalars (means at the "
    "quartile spread points, pooled variance); every E-step "
    "responsibility snaps to the 1e-9 grid per row and the M-step "
    "moments are exact integer sums r9*c / r9*c^2 (HUGEINT / "
    "DECIMAL(38,0)), so parameters — shared generated SQL strings on "
    "both engines, variance-floored at 1e-6 — replay bit-identically "
    "through all rounds. Readout: mixing weight, means, variances, "
    "component-1 membership count (r >= 0.5) and mean log-likelihood. "
    "Plan per round: one scan + one 3-column scalar reduce crossed "
    "with the 1-row parameter state — the model state never exceeds "
    "one broadcast row, the corpus never shuffles (the logistic_gd "
    "full-batch shape).",
    survey_ids=("M7-ML25",),
)
def gmm_em_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(N.cents("value").alias("c")).localCheckpoint()
    init = base.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        (F.count(F.lit(1)).cast("double") * F.lit(1.0e9)).alias("n9"),
        F.min("c").cast("double").alias("cmin"),
        F.max("c").cast("double").alias("cmax"),
        F.sum("c").cast("double").alias("sc"),
        F.sum((F.col("c") * F.col("c")).cast("decimal(38,0)"))
        .cast("double")
        .alias("sc2"),
    )
    p = init.selectExpr(
        *[f"{v} AS {k}" for k, v in _GMM_INIT.items()], *_GMM_CARRY
    )
    r9 = N.sql_cents(_GMM_R1, 10**9)
    for _ in range(_GMM_ROUNDS):
        e = base.crossJoin(F.broadcast(p)).selectExpr("c", f"{r9} AS r9")
        g = e.agg(
            F.sum("r9").cast("double").alias("sr"),
            F.sum((F.col("r9") * F.col("c")).cast("decimal(38,0)"))
            .cast("double")
            .alias("srx"),
            F.sum(
                (F.col("r9") * F.col("c") * F.col("c")).cast("decimal(38,0)")
            )
            .cast("double")
            .alias("srx2"),
        )
        # r11: pin the 1-row parameter frame per round (the logistic/svm
        # discipline) — keeps the E/M unroll's plan flat instead of
        # nesting a fresh copy of the base aggregate per reference
        p = (
            g.crossJoin(F.broadcast(init))
            .selectExpr(
                *[f"{v} AS {k}" for k, v in _GMM_STEP.items()], *_GMM_CARRY
            )
            .localCheckpoint(eager=True)
        )
    fin = base.crossJoin(F.broadcast(p)).agg(
        F.expr(
            f"CAST(sum(CASE WHEN {r9} >= 500000000 THEN 1 ELSE 0 END)"
            " AS BIGINT)"
        ).alias("n_comp1"),
        F.expr(f"sum({N.sql_cents(_GMM_LL, 10**9)})").alias("ll9"),
    )
    return p.crossJoin(F.broadcast(fin)).select(
        F.lit(_GMM_ROUNDS).cast("bigint").alias("n_rounds"),
        F.col("n").cast("bigint").alias("n"),
        *[
            F.expr(N.sql_rnd(k, 6)).alias(k)
            for k in ("w1", "mu1", "v1", "mu2", "v2")
        ],
        "n_comp1",
        F.expr(N.sql_rnd("CAST(ll9 AS DOUBLE) / 1.0e9 / n", 6)).alias(
            "mean_loglik"
        ),
    )


# ---------------------------------------------------------------------------
# svm_hinge_gd (round 8, fifth wave) — linear SVM by unrolled full-batch
# subgradient descent on the regularized hinge loss (Pegasos regime,
# Shalev-Shwartz et al. 2011, full-batch variant) — the max-margin
# trainer face next to logistic_gd_classifier's likelihood face
# ---------------------------------------------------------------------------

_SVM_STEPS = 3
_SVM_LR = 0.5
_SVM_LAM = 0.1   # L2 strength; weights decay by (1 - lr*lam) per step
_SVM_DIMS = 4


def _svm_margin() -> str:
    terms = ["(b9 / 1e9)"] + [
        f"((w{j}_9 / 1e9) * (x{j}_6 / 1e6))" for j in range(1, _SVM_DIMS + 1)
    ]
    return "(" + " + ".join(terms) + ")"


# Hinge subgradient indicator: rows inside the margin (y*m < 1) push.
_SVM_ACT = f"(CASE WHEN y * {_svm_margin()} < 1.0e0 THEN 1 ELSE 0 END)"


def _svm_grad_exprs() -> list[str]:
    out = [
        f"sum({N.sql_cents(f'(1.0e0 * {_SVM_ACT} * y)', 10**9)}) AS gb9",
        "CAST(count(*) AS BIGINT) AS n",
    ]
    for j in range(1, _SVM_DIMS + 1):
        out.append(
            "sum("
            + N.sql_cents(f"({_SVM_ACT} * y * (x{j}_6 / 1e6))", 10**9)
            + f") AS g{j}9"
        )
    return out


def _svm_update_exprs() -> list[str]:
    decay = 1.0 - _SVM_LR * _SVM_LAM
    out = [
        f"(b9 + {N.sql_cents(f'({_SVM_LR!r} * gb9 / 1e9 / n)', 10**9)}) AS b9"
    ]
    for j in range(1, _SVM_DIMS + 1):
        out.append(
            N.sql_cents(
                f"((w{j}_9 / 1e9) * {decay!r}"
                f" + {_SVM_LR!r} * g{j}9 / 1e9 / n)",
                10**9,
            )
            + f" AS w{j}_9"
        )
    return out


_SVM_HINGE = f"greatest(0.0e0, 1.0e0 - y * {_svm_margin()})"


def _svm_oracle() -> str:
    base = (
        "SELECT CASE WHEN label < 5 THEN 1 ELSE -1 END AS y, "
        + ", ".join(
            N.sql_cents(f"CAST(embedding[{j}] AS DOUBLE)", 10**6)
            + f" AS x{j}_6"
            for j in range(1, _SVM_DIMS + 1)
        )
        + " FROM embeddings WHERE embedding IS NOT NULL"
    )
    w_cols = ["CAST(0 AS BIGINT) AS b9"] + [
        f"CAST(0 AS BIGINT) AS w{j}_9" for j in range(1, _SVM_DIMS + 1)
    ]
    ctes = [
        f"base AS MATERIALIZED ({base})",
        f"w0 AS (SELECT {', '.join(w_cols)})",
    ]
    for s in range(1, _SVM_STEPS + 1):
        ctes.append(
            f"g{s} AS (SELECT {', '.join(_svm_grad_exprs())} "
            f"FROM base, w{s - 1})"
        )
        ctes.append(
            f"w{s} AS (SELECT {', '.join(_svm_update_exprs())} "
            f"FROM w{s - 1}, g{s})"
        )
    wf = f"w{_SVM_STEPS}"
    fit = (
        f"fit AS (SELECT CAST(count(*) AS BIGINT) AS n, "
        f"CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos, "
        f"CAST(sum(CASE WHEN ({_svm_margin()} >= 0) = (y = 1) "
        f"THEN 1 ELSE 0 END) AS BIGINT) AS n_correct, "
        f"sum({N.sql_cents(_SVM_HINGE, 10**9)}) AS hl9 "
        f"FROM base, {wf})"
    )
    ctes.append(fit)
    w_out = ", ".join(
        [N.sql_rnd("b9 / 1e9", 6) + " AS w_bias"]
        + [
            N.sql_rnd(f"w{j}_9 / 1e9", 6) + f" AS w{j}"
            for j in range(1, _SVM_DIMS + 1)
        ]
    )
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT CAST({_SVM_STEPS} AS BIGINT) AS n_steps, fit.n, fit.n_pos,
       {w_out},
       {N.sql_rnd('CAST(fit.n_correct AS DOUBLE) / fit.n', 6)} AS train_acc,
       {N.sql_rnd('CAST(fit.hl9 AS DOUBLE) / 1e9 / fit.n', 6)} AS hinge_loss
FROM {wf}, fit"""
    )


@query(
    "svm_hinge_gd",
    oracle=_svm_oracle(),
    doc=f"Linear SVM trainer: {_SVM_STEPS} full-batch subgradient steps "
    "on the L2-regularized hinge loss (the Pegasos objective "
    f"lam/2*|w|^2 + mean hinge, lr={_SVM_LR}, lam={_SVM_LAM}), "
    f"y = ±1 from [label < 5] on the first {_SVM_DIMS} embedding "
    "dimensions + unregularized bias. Each step is ONE map-side "
    "combining aggregate of the indicator-gated subgradient "
    "1[y·m < 1]·y·x — snapped to the 1e-9 grid and integer-summed — "
    "crossed with the broadcast weight row; the weight decay "
    "(1 − lr·lam) applies in the same shared update kernel, so both "
    "engines replay the identical trajectory. Readout: accuracy + "
    "mean hinge loss. Plan per step: one scan + one scalar reduce, "
    "model state a single broadcast row — the same 100 TB shape as "
    "logistic_gd_classifier, completing the likelihood/max-margin "
    "trainer pair.",
    survey_ids=("M7-ML26",),
)
def svm_hinge_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    base = (
        emb.filter(F.col("embedding").isNotNull())
        .select(
            F.when(F.col("label") < 5, F.lit(1))
            .otherwise(F.lit(-1))
            .alias("y"),
            *[
                N.cents(F.element_at("embedding", j).cast("double"), 10**6)
                .alias(f"x{j}_6")
                for j in range(1, _SVM_DIMS + 1)
            ],
        )
        .localCheckpoint()
    )
    w = spark.range(1).select(
        F.lit(0).cast("bigint").alias("b9"),
        *[
            F.lit(0).cast("bigint").alias(f"w{j}_9")
            for j in range(1, _SVM_DIMS + 1)
        ],
    )
    for _ in range(_SVM_STEPS):
        g = base.crossJoin(F.broadcast(w)).agg(
            *[F.expr(e) for e in _svm_grad_exprs()]
        )
        # r11: pin the 1-row weight frame per step (see
        # logistic_gd_classifier) — unpinned, the unroll replayed the
        # hinge-gradient aggregate 2^steps times
        w = (
            w.crossJoin(F.broadcast(g))
            .select(*[F.expr(e) for e in _svm_update_exprs()])
            .localCheckpoint(eager=True)
        )
    fit = base.crossJoin(F.broadcast(w)).agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("n"),
        F.expr(
            "CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("n_pos"),
        F.expr(
            f"CAST(sum(CASE WHEN ({_svm_margin()} >= 0) = (y = 1) "
            "THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("n_correct"),
        F.expr(f"sum({N.sql_cents(_SVM_HINGE, 10**9)})").alias("hl9"),
    )
    return w.crossJoin(F.broadcast(fit)).select(
        F.lit(_SVM_STEPS).cast("bigint").alias("n_steps"),
        "n",
        "n_pos",
        F.expr(N.sql_rnd("b9 / 1e9", 6)).alias("w_bias"),
        *[
            F.expr(N.sql_rnd(f"w{j}_9 / 1e9", 6)).alias(f"w{j}")
            for j in range(1, _SVM_DIMS + 1)
        ],
        F.expr(N.sql_rnd("CAST(n_correct AS DOUBLE) / n", 6)).alias(
            "train_acc"
        ),
        F.expr(N.sql_rnd("CAST(hl9 AS DOUBLE) / 1e9 / n", 6)).alias(
            "hinge_loss"
        ),
    )


# ---------------------------------------------------------------------------
# embedding_isotropy (round 8, fifth wave) — embedding-space geometry
# audit: mean pairwise cosine WITHOUT a pair join (sum-vector identity)
# + diagonal participation ratio (Ethayarajh 2019 / Mu & Viswanath 2018
# isotropy diagnostics for representation collapse)
# ---------------------------------------------------------------------------

# Per-row squared norm on the 1e-12 grid: an integer HOF fold, so the
# sum is order-free and identical across engines.
_ISO_N2 = N.sql_cents("CAST(x AS DOUBLE) * CAST(x AS DOUBLE)", 10**12)
# Unit-vector component on the 1e-9 grid given the snapped squared norm.
# Parameterized on the component expression (NOT a blind .replace on the
# rendered template, which would corrupt silently if the sql_cents
# rendering ever gained another literal letter) — round-8 ADVICE #2.
def _iso_u9(comp: str = "x") -> str:
    return N.sql_cents(
        f"CAST({comp} AS DOUBLE) / sqrt(n2_12 / 1.0e12)", 10**9
    )


@query(
    "embedding_isotropy",
    oracle=f"""
WITH base AS MATERIALIZED (
  SELECT label, embedding,
         CAST(list_sum(list_transform(embedding,
              x -> {_ISO_N2})) AS BIGINT) AS n2_12
  FROM embeddings WHERE embedding IS NOT NULL
), ex AS MATERIALIZED (
  SELECT label, i AS d, {_iso_u9('(embedding[i])')} AS u9
  FROM base, unnest(range(1, len(embedding) + 1)) AS t(i)
  WHERE n2_12 > 0
), cells AS MATERIALIZED (
  SELECT label, d,
         CAST(sum(u9) AS HUGEINT) AS sd9,
         CAST(sum(CAST(u9 AS HUGEINT) * u9) AS HUGEINT) AS q18
  FROM ex GROUP BY 1, 2
), ncnt AS (
  SELECT label, CAST(count(*) AS BIGINT) AS n
  FROM base WHERE n2_12 > 0 GROUP BY label
), scoped AS (
  SELECT CAST(label AS VARCHAR) AS scope, d, sd9, q18 FROM cells
  UNION ALL
  SELECT 'ALL', d, sum(sd9), sum(q18) FROM cells GROUP BY d
), nsc AS (
  SELECT CAST(label AS VARCHAR) AS scope, n FROM ncnt
  UNION ALL
  SELECT 'ALL', CAST(sum(n) AS BIGINT) FROM ncnt
), agg AS (
  SELECT scope,
         sum({N.sql_cents("(CAST(sd9 AS DOUBLE) / 1e9)"
                          " * (CAST(sd9 AS DOUBLE) / 1e9)", 10**6)}) AS s6,
         CAST(sum(q18) AS HUGEINT) AS t18,
         sum({N.sql_cents("(CAST(q18 AS DOUBLE) / 1e18)"
                          " * (CAST(q18 AS DOUBLE) / 1e18)", 10**6)}) AS qq6
  FROM scoped GROUP BY scope
)
SELECT agg.scope, nsc.n AS n_vecs,
       {N.sql_rnd("(s6 / 1e6 - CAST(t18 AS DOUBLE) / 1e18)"
                  " / (nsc.n * (nsc.n - 1.0e0))", 6)} AS mean_cosine,
       {N.sql_rnd("(CAST(t18 AS DOUBLE) / 1e18)"
                  " * (CAST(t18 AS DOUBLE) / 1e18) / (qq6 / 1e6)",
                  4)} AS participation_ratio
FROM agg JOIN nsc ON agg.scope = nsc.scope""",
    doc="Embedding-geometry audit per label and overall: mean pairwise "
    "cosine of the UNIT-normalized vectors computed by the sum-vector "
    "identity mean_cos = (|Σu|² − Σ|u|²) / (n(n−1)) — the n² pair "
    "join collapses to one pass of per-dimension sums — plus the "
    "diagonal participation ratio (Σm_d)²/Σm_d² of the per-dimension "
    "second moments (d = effective dimensionality; ≈1 means rank "
    "collapse, the anisotropy failure mode of learned embeddings). "
    "Unit components are snapped to the 1e-9 grid so every statistic "
    "is an exact integer sum (squared-norm fold on the 1e-12 grid, "
    "per-dim squares in HUGEINT/DECIMAL(38,0)); one double render per "
    "scope. Plan: one explode keyed by (label, dim) — 64·L cells — "
    "NO pair join anywhere; at 100 TB this is a single linear pass "
    "where the naive mean-cosine is quadratic.",
    survey_ids=("M7-ML27",),
)
def embedding_isotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("embedding").isNotNull()).select(
        "label",
        "embedding",
        F.expr(
            "aggregate(embedding, CAST(0 AS BIGINT),"
            f" (a, x) -> a + {_ISO_N2})"
        ).alias("n2_12"),
    ).filter(F.col("n2_12") > 0)
    ex = base.select(
        "label",
        F.posexplode("embedding").alias("p", "x"),
        "n2_12",
    ).select(
        "label",
        (F.col("p") + 1).alias("d"),
        F.expr(_iso_u9()).alias("u9"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    cells = ex.groupBy("label", "d").agg(
        F.sum(dec(F.col("u9"))).alias("sd9"),
        F.sum(dec(F.col("u9")) * F.col("u9")).alias("q18"),
    )
    ncnt = base.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    scoped = cells.select(
        F.col("label").cast("string").alias("scope"), "d", "sd9", "q18"
    ).unionAll(
        cells.groupBy("d").agg(
            F.sum("sd9").alias("sd9"), F.sum("q18").alias("q18")
        ).select(F.lit("ALL").alias("scope"), "d", "sd9", "q18")
    )
    nsc = ncnt.select(
        F.col("label").cast("string").alias("scope"), "n"
    ).unionAll(
        ncnt.agg(F.sum("n").cast("bigint").alias("n")).select(
            F.lit("ALL").alias("scope"), "n"
        )
    )
    agg = scoped.groupBy("scope").agg(
        F.sum(
            F.expr(
                N.sql_cents(
                    "(CAST(sd9 AS DOUBLE) / 1e9)"
                    " * (CAST(sd9 AS DOUBLE) / 1e9)",
                    10**6,
                )
            )
        ).alias("s6"),
        F.sum("q18").alias("t18"),
        F.sum(
            F.expr(
                N.sql_cents(
                    "(CAST(q18 AS DOUBLE) / 1e18)"
                    " * (CAST(q18 AS DOUBLE) / 1e18)",
                    10**6,
                )
            )
        ).alias("qq6"),
    )
    return agg.join(F.broadcast(nsc), "scope").select(
        "scope",
        F.col("n").alias("n_vecs"),
        F.expr(
            N.sql_rnd(
                "(s6 / 1e6 - CAST(t18 AS DOUBLE) / 1e18)"
                " / (n * (n - 1.0e0))",
                6,
            )
        ).alias("mean_cosine"),
        F.expr(
            N.sql_rnd(
                "(CAST(t18 AS DOUBLE) / 1e18)"
                " * (CAST(t18 AS DOUBLE) / 1e18) / (qq6 / 1e6)",
                4,
            )
        ).alias("participation_ratio"),
    )


# ---------------------------------------------------------------------------
# label_cosine_matrix (round 9) — inter/intra-label mean-cosine matrix
# via the sum-vector identity: embedding_isotropy's machinery widened
# from one global scope to all label PAIRS (the class-separability map)
# ---------------------------------------------------------------------------


@query(
    "label_cosine_matrix",
    oracle=f"""
WITH base AS MATERIALIZED (
  SELECT label, embedding,
         CAST(list_sum(list_transform(embedding,
              x -> {_ISO_N2})) AS BIGINT) AS n2_12
  FROM embeddings WHERE embedding IS NOT NULL
), ex AS MATERIALIZED (
  SELECT label, i AS d, {_iso_u9('(embedding[i])')} AS u9
  FROM base, unnest(range(1, len(embedding) + 1)) AS t(i)
  WHERE n2_12 > 0
), cells AS MATERIALIZED (
  SELECT label, d,
         CAST(sum(u9) AS HUGEINT) AS sd9,
         CAST(sum(CAST(u9 AS HUGEINT) * u9) AS HUGEINT) AS q18
  FROM ex GROUP BY 1, 2
), ncnt AS (
  SELECT label, CAST(count(*) AS BIGINT) AS n
  FROM base WHERE n2_12 > 0 GROUP BY label
), dots AS (
  SELECT a.label AS la, b.label AS lb,
         CAST(sum(a.sd9 * b.sd9) AS HUGEINT) AS dot18,
         CAST(sum(a.q18) AS HUGEINT) AS qa18
  FROM cells a JOIN cells b ON a.d = b.d AND a.label <= b.label
  GROUP BY 1, 2
)
SELECT CAST(dots.la AS BIGINT) AS label_a,
       CAST(dots.lb AS BIGINT) AS label_b,
       na.n AS n_a, nb.n AS n_b,
       {N.sql_rnd(
           "CASE WHEN dots.la = dots.lb"
           " THEN (CAST(dot18 AS DOUBLE) / 1e18 - CAST(qa18 AS DOUBLE) / 1e18)"
           "      / ((1.0e0 * na.n) * (na.n - 1))"
           " ELSE (CAST(dot18 AS DOUBLE) / 1e18) / ((1.0e0 * na.n) * nb.n)"
           " END", 6)} AS mean_cosine
FROM dots JOIN ncnt na ON na.label = dots.la
JOIN ncnt nb ON nb.label = dots.lb""",
    doc="Inter/intra-label mean-cosine matrix over the UNIT-normalized "
    "embeddings via the sum-vector identity — embedding_isotropy's "
    "one-pass trick widened to every label pair: mean pairwise cosine "
    "between labels a≠b is S_a·S_b/(n_a n_b) and within a label "
    "(|S_a|² − Σ|u|²)/(n_a(n_a−1)), where S are per-(label, dim) "
    "component sums on the exact 1e-9 grid (HUGEINT/DECIMAL(38) dot "
    "products — no n² pair join anywhere). The class-separability "
    "map: intra diagonal ≫ inter off-diagonal means the labels are "
    "geometrically separable, the audit run before training a "
    "classifier on frozen embeddings. Plan: one explode to "
    "labels×dims cells, one cells⋈cells join on dim (k²·L rows, "
    "k=|labels| — model-bounded, never vectors), scalar renders.",
    survey_ids=("M7-ML30",),
)
def label_cosine_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("embedding").isNotNull()).select(
        "label",
        "embedding",
        F.expr(
            "aggregate(embedding, CAST(0 AS BIGINT),"
            f" (a, x) -> a + {_ISO_N2})"
        ).alias("n2_12"),
    ).filter(F.col("n2_12") > 0)
    ex = base.select(
        "label",
        F.posexplode("embedding").alias("p", "x"),
        "n2_12",
    ).select(
        "label",
        (F.col("p") + 1).alias("d"),
        F.expr(_iso_u9()).alias("u9"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    cells = ex.groupBy("label", "d").agg(
        F.sum(dec(F.col("u9"))).alias("sd9"),
        F.sum(dec(F.col("u9")) * F.col("u9")).alias("q18"),
    ).localCheckpoint(eager=True)
    ncnt = base.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    a = cells.select(
        F.col("label").alias("la"),
        "d",
        F.col("sd9").alias("sa"),
        F.col("q18").alias("qa"),
    )
    b = cells.select(
        F.col("label").alias("lb"), "d", F.col("sd9").alias("sb")
    )
    dots = (
        a.join(b, (F.col("la") <= F.col("lb")) & (a["d"] == b["d"]))
        .groupBy("la", "lb")
        .agg(
            F.sum(F.col("sa") * F.col("sb")).alias("dot18"),
            F.sum("qa").alias("qa18"),
        )
    )
    na = ncnt.select(F.col("label").alias("la"), F.col("n").alias("n_a"))
    nb = ncnt.select(F.col("label").alias("lb"), F.col("n").alias("n_b"))
    mc = F.when(
        F.col("la") == F.col("lb"),
        (
            F.col("dot18").cast("double") / 1e18
            - F.col("qa18").cast("double") / 1e18
        )
        / (F.col("n_a") * 1.0 * (F.col("n_a") - 1)),
    ).otherwise(
        (F.col("dot18").cast("double") / 1e18)
        / (F.col("n_a") * 1.0 * F.col("n_b"))
    )
    return (
        dots.join(F.broadcast(na), "la")
        .join(F.broadcast(nb), "lb")
        .select(
            F.col("la").cast("bigint").alias("label_a"),
            F.col("lb").cast("bigint").alias("label_b"),
            "n_a",
            "n_b",
            N.rnd(mc, 6).alias("mean_cosine"),
        )
    )
