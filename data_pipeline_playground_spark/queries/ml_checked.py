"""Oracle-checked ML assignment steps (SURVEY §2.8 N6/N8/N9, J2/J3 —
the value-checked tier of the clustering + topic families: K-Means and
bisecting Lloyd assignment over embeddings, fixed-φ topic argmax over
documents).

The seeded-ML queries in queries/ml.py (KMeans, BisectingKMeans over
TF-IDF) are rows-only by nature: MLlib's k-means|| init and float
reduction order aren't SQL-reproducible. This module applies the
deterministic-codebook playbook proven by ``pq_codes``
(queries/similarity.py: seed centroids from FIXED corpus vectors,
refine with a bounded number of Lloyd steps, round means to 5 dp and
distances to 6 dp so summation order can never flip an argmin) to the
full-vector clustering semantics the reference runs (cluster.py:51-53:
K-Means assignment of every document to its nearest centroid;
cluster.py:46-50: the hierarchical 2-level variant) — making the
ASSIGNMENT step a value-checked query instead of a rows-only one.

Float discipline (identical to the PQ block): distance folds are
sequential on both engines, refined centroid components round to 5
decimals after the mean, rankings order by ROUNDED distance with
centroid-id tie-breaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_pipeline_playground_spark.queries.similarity import (
    DIM,
    PQ_SEED_HI,
    PQ_SEED_LO,
    _embed_double,
    _l2sq,
    _sql_l2sq,
    _SQL_V,
)
from data_pipeline_playground_spark.registry import query

KM_K = PQ_SEED_HI - PQ_SEED_LO  # 16 centroids, seeded from vec_id [10, 26)

_KM_CTES = f"""
WITH e AS (SELECT vec_id, label, {_SQL_V} AS v FROM embeddings),
c0 AS (
  SELECT vec_id - {PQ_SEED_LO} AS cid, v AS c
  FROM e WHERE vec_id >= {PQ_SEED_LO} AND vec_id < {PQ_SEED_HI}
),
a0 AS (
  SELECT e.vec_id, c0.cid, e.v
  FROM e, c0
  QUALIFY row_number() OVER (
    PARTITION BY e.vec_id
    ORDER BY round({_sql_l2sq("e.v", "c0.c", DIM)}, 6), c0.cid) = 1
),
cd AS (
  SELECT a0.cid, i.i, round(avg(a0.v[i.i]), 5) AS val
  FROM a0, (SELECT unnest(range(1, {DIM} + 1)) AS i) i
  GROUP BY a0.cid, i.i
),
c1 AS (SELECT cid, list(val ORDER BY i) AS c FROM cd GROUP BY cid),
a1 AS (
  SELECT e.vec_id, e.label, c1.cid,
         round({_sql_l2sq("e.v", "c1.c", DIM)}, 6) AS d2
  FROM e, c1
  QUALIFY row_number() OVER (
    PARTITION BY e.vec_id
    ORDER BY round({_sql_l2sq("e.v", "c1.c", DIM)}, 6), c1.cid) = 1
)
"""

_KM_ASSIGN_SQL = _KM_CTES + """
SELECT vec_id, cid AS cluster_id, d2 FROM a1
"""

_KM_LABEL_SQL = _KM_CTES + """
SELECT cid AS cluster_id, label, CAST(count(*) AS BIGINT) AS n_vecs
FROM a1 GROUP BY cid, label
"""


def _km_assign(e: DataFrame, codebook: DataFrame) -> DataFrame:
    """Argmin-centroid assignment: every vector fans out against the
    BROADCAST ≤16-row codebook (BroadcastNestedLoopJoin with the tiny
    build side — the right physical shape for an all-centroids probe:
    corpus never shuffles), then a per-vector argmin window whose
    partitions are exactly |codebook| rows."""
    w = Window.partitionBy("vec_id").orderBy("d2", "cid")
    return (
        e.crossJoin(F.broadcast(codebook))
        .withColumn("d2", F.round(_l2sq(F.col("v"), F.col("c")), 6))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def _km_refined_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized one-Lloyd-step refined codebook (cid, c) — shared by
    the assignment model and the separation audit."""
    from data_pipeline_playground_spark.caching import memo

    def build():
        e = _embed_double(spark, sf_dir)
        c0 = e.filter(
            (F.col("vec_id") >= PQ_SEED_LO) & (F.col("vec_id") < PQ_SEED_HI)
        ).select((F.col("vec_id") - PQ_SEED_LO).alias("cid"), F.col("v").alias("c"))
        a0 = _km_assign(e, c0)
        cd = (
            a0.select("cid", F.posexplode("v").alias("i0", "x"))
            .select("cid", (F.col("i0") + 1).alias("i"), "x")
            .groupBy("cid", "i")
            .agg(F.round(F.avg("x"), 5).alias("val"))
        )
        return cd.groupBy("cid").agg(
            F.expr(
                "transform(array_sort(collect_list(named_struct"
                "('i', i, 'val', val))), s -> s.val)"
            ).alias("c")
        ).localCheckpoint(eager=True)

    return memo(spark, "kmeans_checked_centroids", sf_dir, build)


def _kmeans_checked_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized final assignment frame (vec_id, label, cluster_id, d2)
    — shared by the assignment query and the J2 label profile."""
    from data_pipeline_playground_spark.caching import memo

    def build():
        e = _embed_double(spark, sf_dir)
        c1 = _km_refined_centroids(spark, sf_dir)
        return _km_assign(e, c1).select(
            "vec_id", "label", F.col("cid").alias("cluster_id"), "d2"
        ).localCheckpoint(eager=True)

    return memo(spark, "kmeans_checked_model", sf_dir, build)


@query("kmeans_assign_checked", oracle=_KM_ASSIGN_SQL)
def kmeans_assign_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic K-Means ASSIGNMENT, value-checked end-to-end
    (reference cluster.py:51-53's nearest-centroid step): 16 centroids
    seeded from fixed corpus vectors, ONE Lloyd refinement, final
    argmin assignment with rounded distances. Scale shape: the
    codebook is ≤16 rows at every stage — broadcast both passes; the
    centroid update is a partial-agg combinable per-(cid, dim) mean;
    nothing shuffles the corpus except the two 16-row-partition argmin
    windows (at cluster scale those become a map-side `min_by` over
    the broadcast fan-out — no corpus-wide exchange at all)."""
    a1 = _kmeans_checked_model(spark, sf_dir)
    return a1.select("vec_id", "cluster_id", "d2")


@query("kmeans_label_profile", oracle=_KM_LABEL_SQL)
def kmeans_label_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 label_join with a VALUE check: the checked K-Means assignment
    joined back to each vector's class label, profiled per cluster —
    the reference's cluster-members lookup (pipeline.py label join
    shape) as a groupBy over the shared memoized assignment."""
    a1 = _kmeans_checked_model(spark, sf_dir)
    return a1.groupBy("cluster_id", "label").agg(
        F.count(F.lit(1)).alias("n_vecs")
    )


# --- bisecting (2-level hierarchical) assignment ----------------------------

_BI_CTES = f"""
WITH e AS (SELECT vec_id, {_SQL_V} AS v FROM embeddings),
s0 AS (
  SELECT vec_id - {PQ_SEED_LO} AS cid, v AS c
  FROM e WHERE vec_id >= {PQ_SEED_LO} AND vec_id < {PQ_SEED_LO + 2}
),
b0 AS (
  SELECT e.vec_id, s0.cid, e.v
  FROM e, s0
  QUALIFY row_number() OVER (
    PARTITION BY e.vec_id
    ORDER BY round({_sql_l2sq("e.v", "s0.c", DIM)}, 6), s0.cid) = 1
),
sd AS (
  SELECT b0.cid, i.i, round(avg(b0.v[i.i]), 5) AS val
  FROM b0, (SELECT unnest(range(1, {DIM} + 1)) AS i) i
  GROUP BY b0.cid, i.i
),
s1 AS (SELECT cid, list(val ORDER BY i) AS c FROM sd GROUP BY cid),
b1 AS (
  SELECT e.vec_id, s1.cid AS side, e.v
  FROM e, s1
  QUALIFY row_number() OVER (
    PARTITION BY e.vec_id
    ORDER BY round({_sql_l2sq("e.v", "s1.c", DIM)}, 6), s1.cid) = 1
),
l2seed AS (
  SELECT side, row_number() OVER (PARTITION BY side ORDER BY vec_id) - 1 AS sub,
         v AS c
  FROM b1
  QUALIFY row_number() OVER (PARTITION BY side ORDER BY vec_id) <= 2
),
leaf AS (
  SELECT b1.vec_id, b1.side, l2seed.sub,
         round({_sql_l2sq("b1.v", "l2seed.c", DIM)}, 6) AS d2
  FROM b1 JOIN l2seed ON l2seed.side = b1.side
  QUALIFY row_number() OVER (
    PARTITION BY b1.vec_id
    ORDER BY round({_sql_l2sq("b1.v", "l2seed.c", DIM)}, 6), l2seed.sub) = 1
)
"""

_BI_ASSIGN_SQL = _BI_CTES + """
SELECT vec_id, CAST(side * 2 + sub AS INTEGER) AS leaf_id, d2 FROM leaf
"""


@query("bisecting_assign_checked", oracle=_BI_ASSIGN_SQL)
def bisecting_assign_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 2-level BISECTING assignment, value-checked
    (reference cluster.py:46-50's hierarchical intent, the checked twin
    of bisecting_kmeans_clusters): level 1 splits the corpus in two
    (seeds = two fixed corpus vectors, ONE Lloyd refinement — exactly
    the top bisection of BisectingKMeans); level 2 re-splits each side
    around its two smallest-id members (pure seed assignment,
    documented simplification — the refinement step is exercised at
    level 1 and in kmeans_assign_checked). leaf_id = side*2 + sub.

    Scale shape: every codebook is ≤4 tiny rows → broadcast; the only
    data-dependent seed pick (two min-id members per side) is a
    per-side top-2 window over the already-assigned frame, shuffling
    2 rows per side, not the corpus."""
    e = _embed_double(spark, sf_dir).select("vec_id", "v")
    s0 = e.filter(
        (F.col("vec_id") >= PQ_SEED_LO) & (F.col("vec_id") < PQ_SEED_LO + 2)
    ).select((F.col("vec_id") - PQ_SEED_LO).alias("cid"), F.col("v").alias("c"))
    b0 = _km_assign(e, s0)
    sd = (
        b0.select("cid", F.posexplode("v").alias("i0", "x"))
        .select("cid", (F.col("i0") + 1).alias("i"), "x")
        .groupBy("cid", "i")
        .agg(F.round(F.avg("x"), 5).alias("val"))
    )
    s1 = sd.groupBy("cid").agg(
        F.expr(
            "transform(array_sort(collect_list(named_struct"
            "('i', i, 'val', val))), s -> s.val)"
        ).alias("c")
    )
    b1 = _km_assign(e, s1).select("vec_id", F.col("cid").alias("side"), "v")
    w_seed = Window.partitionBy("side").orderBy("vec_id")
    l2seed = (
        b1.withColumn("rn", F.row_number().over(w_seed))
        .filter(F.col("rn") <= 2)
        .select("side", (F.col("rn") - 1).alias("sub"), F.col("v").alias("c"))
    )
    w_leaf = Window.partitionBy("vec_id").orderBy("d2", "sub")
    return (
        b1.join(F.broadcast(l2seed), "side")
        .withColumn("d2", F.round(_l2sq(F.col("v"), F.col("c")), 6))
        .withColumn("rn", F.row_number().over(w_leaf))
        .filter(F.col("rn") == 1)
        .select(
            "vec_id",
            (F.col("side") * 2 + F.col("sub")).cast("int").alias("leaf_id"),
            "d2",
        )
    )


# --- fixed-phi topic assignment (N9/J3 family), all-integer -----------------

_TOPIC_SQL_TOKENS = (
    "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')"
)
TOPIC_MOD = 3
TOPIC_CAP = 500

_TOPIC_ASSIGN_SQL = f"""
WITH docs AS (
  SELECT doc_id, source, text FROM documents
  WHERE doc_id % {TOPIC_MOD} = 0 AND doc_id < {TOPIC_CAP}
),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT doc_id, unnest({_TOPIC_SQL_TOKENS}) AS term FROM docs)
  GROUP BY doc_id, term
),
phi AS (
  SELECT source AS topic, term, CAST(SUM(c) AS BIGINT) AS w
  FROM (
    SELECT d.source, t.term, t.c FROM tf t JOIN docs d ON d.doc_id = t.doc_id
  )
  GROUP BY source, term
),
topics AS (
  SELECT topic,
         CAST(row_number() OVER (ORDER BY topic) - 1 AS BIGINT) AS topic_id
  FROM (SELECT DISTINCT source AS topic FROM docs)
),
scores AS (
  SELECT t.doc_id, p.topic, CAST(SUM(t.c * p.w) AS BIGINT) AS score
  FROM tf t JOIN phi p ON p.term = t.term
  GROUP BY t.doc_id, p.topic
),
best AS (
  SELECT doc_id, topic, score FROM scores
  QUALIFY row_number() OVER (
    PARTITION BY doc_id ORDER BY score DESC, topic) = 1
)
SELECT b.doc_id, tp.topic_id, b.topic, b.score
FROM best b JOIN topics tp ON tp.topic = b.topic
"""


@query("topic_assign_checked", oracle=_TOPIC_ASSIGN_SQL)
def topic_assign_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-checked topic-model ASSIGNMENT step (reference
    lda.py:59-64: per-document argmax over topic affinities — J3): the
    topic-word matrix φ is FIXED deterministically (per-source term
    counts over the bounded doc sample — the E-step of a topic model
    whose topics are pinned instead of fitted), each document scores
    every topic by the integer dot product Σ tf_doc(term)·φ_topic(term)
    and takes the argmax with lexicographic tie-break. ALL arithmetic
    is exact BIGINT — zero float anywhere, the strongest parity class
    in the repo. The seeded-LDA fit itself stays rows-only
    (queries/ml.py); this pins the assignment machinery.

    Scale shape: tf and φ are one shuffle each; the score join is an
    inverted-index join on term (cost ∝ Σ df² like TF-IDF similarity,
    bounded here by the fixed sample); argmax is a |topics|-row
    window per doc."""
    from data_pipeline_playground_spark.functions.text import tokenize
    from data_pipeline_playground_spark.tables import table

    docs = (
        table(spark, sf_dir, "documents")
        .filter((F.col("doc_id") % TOPIC_MOD == 0) & (F.col("doc_id") < TOPIC_CAP))
        .select("doc_id", "source", "text")
    )
    tf = (
        docs.select("doc_id", F.explode(tokenize(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    phi = (
        tf.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy(F.col("source").alias("topic"), F.col("term").alias("pterm"))
        .agg(F.sum("c").alias("w"))
    )
    topics = (
        docs.select(F.col("source").alias("topic"))
        .distinct()
        .withColumn(
            "topic_id",
            (F.row_number().over(Window.orderBy("topic")) - 1).cast("bigint"),
        )
    )
    scores = (
        tf.join(phi, tf.term == phi.pterm)
        .groupBy("doc_id", "topic")
        .agg(F.sum(F.col("c") * F.col("w")).alias("score"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("topic"))
    return (
        scores.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .join(F.broadcast(topics), "topic")
        .select("doc_id", "topic_id", "topic", "score")
    )


# --- cluster separation audit -------------------------------------------------

_SEP_SQL = _KM_CTES + f""",
intra AS (
  SELECT cid, CAST(count(*) AS BIGINT) AS n_vecs,
         SUM(CAST(d2 AS DECIMAL(18,6))) AS sd
  FROM a1 GROUP BY cid
),
inter AS (
  SELECT x.cid, y.cid AS nearest_cid,
         round({_sql_l2sq("x.c", "y.c", DIM)}, 6) AS min_inter_d2
  FROM c1 x JOIN c1 y ON y.cid <> x.cid
  QUALIFY row_number() OVER (
    PARTITION BY x.cid
    ORDER BY round({_sql_l2sq("x.c", "y.c", DIM)}, 6), y.cid) = 1
)
SELECT i.cid AS cluster_id, i.n_vecs,
       CAST(CAST(i.sd AS DECIMAL(18,6)) AS DOUBLE)
         / CAST(i.n_vecs AS DOUBLE) AS mean_intra_d2,
       r.nearest_cid, r.min_inter_d2,
       r.min_inter_d2
         / (CAST(CAST(i.sd AS DECIMAL(18,6)) AS DOUBLE)
            / CAST(i.n_vecs AS DOUBLE)) AS separation_ratio
FROM intra i JOIN inter r ON r.cid = i.cid
"""


@query("cluster_separation_audit", oracle=_SEP_SQL)
def cluster_separation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster separation health of the checked K-Means model: mean
    intra-cluster squared distance, the nearest other centroid and its
    distance, and their ratio (a Dunn-style index per cluster —
    ratio ≪ 1 flags clusters whose spread exceeds their isolation).
    The audit a pipeline runs before trusting cluster ids downstream.

    Exactness: d2 values are already 6-dp-rounded doubles (the checked
    playbook), summed as DECIMAL(18,6) so the mean is order-free; the
    16×16 centroid-pair distances reuse the shared sequential fold;
    ratio is one shared double expression. Scale: intra is one
    combinable aggregate over the memoized assignment; inter is a
    broadcast self-join of the ≤16-row codebook.
    """
    a1 = _kmeans_checked_model(spark, sf_dir)
    c1 = _km_refined_centroids(spark, sf_dir)
    intra = a1.groupBy(F.col("cluster_id").alias("cid")).agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(F.col("d2").cast("decimal(18,6)")).alias("sd"),
    )
    x = c1.select("cid", F.col("c").alias("cx"))
    y = c1.select(F.col("cid").alias("ycid"), F.col("c").alias("cy"))
    dd = F.round(_l2sq(F.col("cx"), F.col("cy")), 6)
    w = Window.partitionBy("cid").orderBy("dd", "ycid")
    inter = (
        x.join(F.broadcast(y), F.col("ycid") != F.col("cid"))
        .withColumn("dd", dd)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "cid",
            F.col("ycid").alias("nearest_cid"),
            F.col("dd").alias("min_inter_d2"),
        )
    )
    mean_intra = F.col("sd").cast("decimal(18,6)").cast("double") / F.col(
        "n_vecs"
    ).cast("double")
    return intra.join(inter, "cid").select(
        F.col("cid").alias("cluster_id"),
        "n_vecs",
        mean_intra.alias("mean_intra_d2"),
        "nearest_cid",
        "min_inter_d2",
        (F.col("min_inter_d2") / mean_intra).alias("separation_ratio"),
    )
