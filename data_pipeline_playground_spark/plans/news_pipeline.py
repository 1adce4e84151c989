"""End-to-end batch pipeline (reference §3.1, pipeline.py:12-68):

    scan → fuzzy dedup → project → cluster → summarize → JSON-ready

re-expressed as one composed DataFrame plan over the documents table
(the driver's stand-in for the article corpus, FIXTURES.md F9). Each
stage is the operator implemented elsewhere in this package; this
module only composes them, mirroring how the reference's pipeline.py
chains its functions — minus the pdb breakpoint (pipeline.py:47-48).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_pipeline_playground_spark.operators.lexrank import (
    lexrank_scores_grouped,
    lexrank_sentence_summaries,
    tfidf_term_weights,
    top_k_representatives,
)
from data_pipeline_playground_spark.tables import table

# Per-cluster LexRank candidate bound (round 12): the k cap makes
# cluster SIZE grow ∝ n/k, and the grouped dense LexRank is
# O(members²) memory inside one Python worker — the 100× scale probe
# (500k docs, k=64 → ~7.8k docs/cluster) OOM-killed the Arrow worker.
# 512 is ~10× the reference's cluster sizes, so test-scale outputs
# are unaffected; at any corpus size worker memory stays ≤ cap².
LEXRANK_GROUP_CAP = 512


def run_news_pipeline(spark: SparkSession, sf_dir: str,
                      n_keywords: int = 5, dedup: str = "minhash") -> DataFrame:
    """Full reference pipeline shape on `documents`.

    1. D1  fuzzy dedup (keep-min-id survivors)
    2. N6  cluster — KMeans over TF-IDF, k = n//4 (cluster.py:51-53)
    3. N10 summarize — LexRank top-1 representative per cluster
    4. A1  keywords — top TF-IDF terms per cluster
    Output: cluster_id, n_articles, keywords, top_doc_id, summary_text

    ``dedup`` selects the D1 tier (VERDICT r5 #5):

    - ``"minhash"`` (default): pairwise keep-min-id spec via MinHash
      LSH candidates — the order-insensitive SURVEY §2.3 semantics.
    - ``"greedy"``: the reference's EXACT arrival-order greedy-chain
      semantics (pipeline.py:22-42) end-to-end — fidelity mode. The
      survivor sets differ exactly on intransitive similarity chains;
      tests/test_multimodal_and_pipeline.py snapshots this mode
      against a sequential reference-semantics rescan of the corpus.

    The variant is deliberately NOT a separate registry entry: it
    would re-run the same fit-heavy rows-only pipeline for a D1 swap
    already oracle-checked standalone (dedup_fuzzy_greedy), diluting
    the driver's 50-query sample (VERDICT r5 #4 registry hygiene).
    """
    from data_pipeline_playground_spark.operators.dedup import (
        fuzzy_dedup_greedy_survivors,
    )
    from data_pipeline_playground_spark.queries.dedup import dedup_fuzzy_minhash

    docs = table(spark, sf_dir, "documents")
    # D1 via MinHash-LSH candidates + exact banded-Levenshtein verify:
    # identical survivor set to dedup_fuzzy (same oracle certifies it)
    # without the banded O(n²) self-join — the 100 TB-shaped choice for
    # the composed pipeline (VERDICT r2 #6 at the composition level).
    if dedup == "greedy":
        survivors = fuzzy_dedup_greedy_survivors(
            docs, text_col="text", id_col="doc_id"
        )
    else:
        survivors = dedup_fuzzy_minhash(spark, sf_dir)
    # Every frame this pipeline reuses is pinned with
    # localCheckpoint(eager=True), never .cache(): each call builds a
    # new model, so its plans never match an earlier call's, and a
    # .cache() pin would stay in the CacheManager for the session's
    # life. The context cleaner frees a checkpoint once no plan holds it.
    deduped = docs.join(survivors, "doc_id").select("doc_id", "text").localCheckpoint(eager=True)

    # --- cluster (KMeans over the shared TF-IDF featurizer) ---
    from pyspark.ml.clustering import KMeans

    from data_pipeline_playground_spark.functions.text import tokenize
    from data_pipeline_playground_spark.queries.ml import (
        KMEANS_K_CAP,
        KMEANS_MAX_ITER,
        _tfidf_features,
    )

    # Tokenization is ONE logical definition shared by the vocabulary
    # aggregate (which also yields the IDF weights) and the feature
    # materialization — but deliberately NOT pinned: materializing
    # per-doc token ARRAYS costs more than the regex re-run it saves
    # (measured +0.9 s at sf0.1 — the r8 tokenize-once cache was the
    # news_pipeline regression, VERDICT r9 #2; the regex split stays
    # inside whole-stage codegen over the already-pinned deduped
    # frame, so each re-read is a cheap scan).
    toks = deduped.select(
        "doc_id", "text", tokenize(F.col("text")).alias("tokens")
    )
    n = deduped.count()
    feats, _ = _tfidf_features(toks, n)
    # pinned BEFORE the fit: every Lloyd iteration re-reads the feature
    # frame — unpinned, each one replays tokenize+TF-IDF+normalize
    feats = feats.select("doc_id", "text", "features").localCheckpoint(eager=True)
    # k = n//4 per cluster.py:51-53, capped (see queries/ml.py
    # KMEANS_K_CAP): uncapped, KMeans cost grows O(n²d) with the corpus.
    # maxIter is the shared fidelity knob recorded in the bench JSON
    # (the fit does NOT converge early at sf0.1 — measured numIter=10 —
    # so changing it changes assignments; kept at the documented value).
    k = max(2, min(n // 4, KMEANS_K_CAP))
    # Fit on a COALESCED read of the pin: every Lloyd iteration is
    # one job over the feature frame, and 32 shuffle-partition slices
    # of a small corpus are scheduling-dominated (measured: fit
    # 2.4 s → 1.3 s at sf0.1, identical assignments). The coalesce is
    # fit-only — downstream consumers keep the pin's full partition
    # count for branch parallelism (a coalesced `clustered` pin
    # measured +1 s across the branches). Count grows back toward the
    # session default as the corpus grows; coalesce past the existing
    # partition count is a no-op.
    km = KMeans(
        k=k, maxIter=KMEANS_MAX_ITER, seed=42, featuresCol="features"
    ).fit(feats.coalesce(max(4, 1 + n // 600)))
    # pinned: four downstream consumers (groups, keywords, sizes,
    # summaries) would otherwise re-run the whole featurize+predict.
    # tokens do NOT ride along: storing token arrays in the pin costs
    # more than the keyword stage's one regex re-pass (VERDICT r9 #2).
    clustered = km.transform(feats).select(
        "doc_id", "text", F.col("prediction").alias("cluster_id")
    ).localCheckpoint(eager=True)

    # --- summarize: LexRank top-1 per cluster (N10/T4) ---
    # Grouped applyInPandas fast path. Clusters are NOT bounded by the
    # k cap — they grow ∝ n/k once the cap binds, and the per-group
    # dense LexRank is O(members²) worker memory: the round-12 100×
    # scale probe (500k docs → ~7.8k docs/cluster) OOM-killed the
    # Arrow worker (connection reset mid-batch). LEXRANK_GROUP_CAP
    # bounds the per-cluster candidate set (deterministic smallest
    # doc_ids), keeping worker memory constant at any corpus size; it
    # is far above the reference's cluster sizes (tens of articles)
    # and only bites on degenerate giant clusters.
    groups = clustered.select("doc_id", F.col("cluster_id").alias("group"))
    weights = tfidf_term_weights(deduped)
    scores = lexrank_scores_grouped(
        weights, groups, group_type="int", group_cap=LEXRANK_GROUP_CAP
    )
    best = (
        top_k_representatives(scores, k=1)
        .select(F.col("group").alias("cluster_id"), F.col("doc_id").alias("top_doc_id"))
    )

    # --- keywords: top TF-IDF terms per cluster (A3 shape) ---
    tok_c = clustered.select(
        "cluster_id", "doc_id",
        F.explode(tokenize(F.col("text"))).alias("term"),
    )
    ctf = tok_c.groupBy("cluster_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    cdf = ctf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_clusters = F.lit(k)
    # cdf is vocabulary-sized (one row per distinct term) — no
    # broadcast hint; AQE picks (see operators/lexrank.py, round-13
    # third-decade find)
    w = (
        ctf.join(cdf, "term")
        .withColumn("w", F.col("tf") * (F.log((n_clusters + 1.0) / (F.col("df") + 1.0)) + 1.0))
    )
    kw_win = Window.partitionBy("cluster_id").orderBy(F.desc(F.round("w", 9)), F.asc("term"))
    # collect as (rank, term) structs then sort: collect_list order is
    # shuffle-nondeterministic; the space-joined string (not an array)
    # keeps the driver's pandas hasher able to factorize the column
    keywords = (
        w.withColumn("rn", F.row_number().over(kw_win))
        .filter(F.col("rn") <= n_keywords)
        .groupBy("cluster_id")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("rn", "term"))),
                    lambda s: s["term"],
                ),
                " ",
            ).alias("keywords")
        )
    )

    sizes = clustered.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n_articles"))

    # --- summary: sentence-level LexRank top-3 per cluster (N10 —
    # reference summarize.py:17-26 ranks *sentences*; reddit_api.py:
    # 148-149 joins top-3 with ' '). Fallback to a 160-char excerpt of
    # the top doc only if a cluster yields no token-bearing sentence.
    summaries = lexrank_sentence_summaries(
        clustered.select("doc_id", "text"),
        clustered.select("doc_id", F.col("cluster_id").alias("group")),
        k=3,
        group_type="int",
        group_cap=LEXRANK_GROUP_CAP,  # same worker-memory bound
    ).select(F.col("group").alias("cluster_id"), F.col("summary").alias("sent_summary"))
    excerpt = clustered.select(
        F.col("doc_id").alias("top_doc_id"),
        F.substring("text", 1, 160).alias("excerpt_text"),
    )
    return (
        sizes.join(keywords, "cluster_id", "left")
        .join(best, "cluster_id", "left")
        .join(summaries, "cluster_id", "left")
        .join(excerpt, "top_doc_id", "left")
        .select(
            "cluster_id",
            "n_articles",
            "keywords",
            "top_doc_id",
            F.coalesce("sent_summary", "excerpt_text").alias("summary_text"),
        )
    )
