"""Distributed LexRank (reference N10, summarize.py:5-26 via sumpy —
re-implemented natively: TF-IDF vectors → cosine-similarity graph →
damped power-iteration centrality → per-group top-k).

The reference refit LexRank per HTTP request over a handful of texts;
here the corpus-wide TF-IDF weights are DataFrame-parallel, and the
graph work is one shuffle by group: each group's cosine matrix,
threshold and power iteration run as dense numpy in applyInPandas.
Each group must fit one executor (clusters/sections, the reference's
shape); ``group_cap`` bounds groups whose size grows with the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_pipeline_playground_spark.functions.text import tokenize

DAMPING = 0.15
N_ITER = 8
SIM_EDGE_THRESHOLD = 0.10


def tfidf_term_weights(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id",
                       tok: DataFrame | None = None) -> DataFrame:
    """(doc, term, w) smooth-idf weights (reference cluster.py:25-30:
    tf * (ln((N+1)/(df+1))+1)), NOT normalized — the input to the
    grouped paths, which L2-normalize per doc in-block instead of
    paying a per-doc window shuffle.

    ``tok``: optional pre-exploded (doc_id, term) rows — pass the
    pipeline's cached tokenization to avoid re-tokenizing the corpus
    (``docs`` is still required: n_docs counts token-less documents
    too, which drop out of ``tok``)."""
    if tok is None:
        tok = docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(tokenize(F.col(text_col))).alias("term"),
        )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.select(F.countDistinct(id_col).alias("n_docs"))
    # df_ carries one row per DISTINCT TERM — vocabulary-sized, which
    # grows with the corpus, so it must NOT be hint-broadcast (round-13
    # third-decade find: the forced broadcast made the grouped-LexRank
    # stage read exponent 1.95 at 1.5M docs; 91.8 → 33.8 s with the
    # hint removed). AQE still converts to broadcast at runtime when
    # the measured df_ is small, so bounded-vocab plans are unchanged.
    return (
        tf.join(df_, "term")
        .join(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            (F.col("tf") * (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0)).alias("w"),
        )
    )


import itertools as _itertools

_CAP_SIGNAL_SEQ = _itertools.count()


def _apply_group_cap(groups: DataFrame, group_cap: int,
                     observation=None) -> DataFrame:
    """Keep the ``group_cap`` smallest doc_ids per group (deterministic
    worker-memory bound for the grouped dense paths) and EMIT a
    runtime signal when the cap binds (ADVICE r12 #3: silent
    truncation made divergence from whole-group semantics
    unobservable). The signal is a Spark ``observe`` metric pair —
    ``capped_groups`` (how many groups exceeded the cap and were
    truncated) and ``max_group_size`` (the largest pre-cap group) —
    computed from the same window pass that ranks members, so it adds
    no shuffle. Pass a ``pyspark.sql.Observation`` to read the values
    programmatically after the first action; with none, a uniquely
    named observe node still publishes the metrics to
    QueryExecutionListeners / the live UI, so a production run can SEE
    the bound bind without changing any output schema."""
    wcap = Window.partitionBy("group").orderBy(F.asc("doc_id"))
    wall = Window.partitionBy("group")
    flagged = (
        groups.withColumn("_rn", F.row_number().over(wcap))
        .withColumn("_n", F.count(F.lit(1)).over(wall))
        .filter(F.col("_rn") <= group_cap)
    )
    metrics = (
        F.sum(
            F.when(
                (F.col("_rn") == 1) & (F.col("_n") > group_cap), 1
            ).otherwise(0)
        ).alias("capped_groups"),
        F.max("_n").alias("max_group_size"),
    )
    if observation is not None:
        flagged = flagged.observe(observation, *metrics)
    else:
        flagged = flagged.observe(
            f"lexrank_group_cap_{next(_CAP_SIGNAL_SEQ)}", *metrics
        )
    return flagged.drop("_rn", "_n")


def _term_matrix(pdf):
    """(sorted ids, dense doc×term weight matrix) from one group's
    (doc_id, term, w) rows — the pivot every grouped path starts
    from. Built with factorize + np.add.at instead of pandas
    pivot_table (measured ~25% off the whole applyInPandas stage at
    sf0.1; pivot_table's generic agg machinery dominates small groups).
    Duplicate (doc, term) rows still sum; float accumulation ORDER
    differs from pivot_table's groupby (≤1 ulp per cell, observed max
    4e-17) — the grouped path feeds rows-only queries whose checks
    permit BLAS-order float drift (the oracle-checked twins in
    queries/graph.py use their own exact-decimal formulations)."""
    import numpy as np
    import pandas as pd

    di, ids = pd.factorize(pdf["doc_id"], sort=True)
    ti, terms = pd.factorize(pdf["term"], sort=True)
    n_terms = len(terms)
    # bincount over the flattened (doc, term) index: buffered C-loop
    # accumulation (np.add.at is unbuffered and loses badly on the
    # large source-sized groups the similarity path sees)
    m = np.bincount(
        di.astype(np.int64) * n_terms + ti,
        weights=pdf["w"].to_numpy(dtype=np.float64),
        minlength=len(ids) * n_terms,
    ).reshape(len(ids), n_terms)
    return np.asarray(ids), m


def lexrank_scores_grouped(weights: DataFrame, groups: DataFrame,
                           group_type: str = "string",
                           id_type: str = "bigint",
                           group_cap: int | None = None,
                           cap_observation=None) -> DataFrame:
    """Bounded-group LexRank: one shuffle by group, then the whole
    pipeline (L2 normalize → cosine matrix → threshold → damped power
    iteration) runs as dense numpy per group via applyInPandas (the
    per-group model-fitting shape SURVEY §2.11 prescribes).

    score_i = d/N_g + (1-d) * Σ_j (sim_ji / deg_j) * score_j per group,
    over cosine edges ≥ SIM_EDGE_THRESHOLD, for N_ITER fixed-point
    steps. Float summation follows BLAS order, which rows-only checks
    permit. Every group must fit one executor's memory
    (clusters/sections, the reference's shape: a cluster is ~tens of
    articles) — see ``group_cap`` for callers whose groups grow.

    ``group_cap`` (round 12 — the 100× probe found the unbounded
    failure mode): the dense per-group work is O(members²) memory in
    one Python worker, and with a CAPPED cluster count k the members
    per cluster grow ∝ n/k — at 500k docs the pipeline's Arrow worker
    died mid-batch (connection reset = OOM-killed worker). A cap keeps
    the LexRank candidate set to the ``group_cap`` smallest doc_ids
    per group (deterministic), bounding worker memory regardless of
    corpus size; members beyond the cap receive no score. None (the
    default) preserves exact whole-group semantics for bounded-group
    callers. When the cap BINDS, the plan emits a ``capped_groups`` /
    ``max_group_size`` observe metric (see _apply_group_cap — ADVICE
    r12 #3); pass ``cap_observation`` (a pyspark.sql.Observation) to
    read it after the first action.

    ``weights``: (doc_id, term, w) from tfidf_term_weights.
    ``groups``: (doc_id, group).
    """
    import numpy as np
    import pandas as pd

    if group_cap is not None:
        groups = _apply_group_cap(groups, group_cap, cap_observation)
    joined = weights.join(groups, "doc_id").select("group", "doc_id", "term", "w")

    def run(pdf: "pd.DataFrame") -> "pd.DataFrame":
        g = pdf["group"].iloc[0]
        ids, m = _term_matrix(pdf)
        n = len(ids)
        norms = np.sqrt((m * m).sum(axis=1))
        norms[norms == 0.0] = 1.0
        m = m / norms[:, None]
        sim = m @ m.T
        np.fill_diagonal(sim, 0.0)
        sim[sim < SIM_EDGE_THRESHOLD] = 0.0
        deg = sim.sum(axis=1)
        safe = deg.copy()
        safe[safe == 0.0] = 1.0
        p = sim / safe[:, None]  # row-stochastic where deg > 0
        score = np.full(n, 1.0 / n)
        for _ in range(N_ITER):
            score = DAMPING / n + (1.0 - DAMPING) * (p.T @ score)
        return pd.DataFrame({"group": [g] * n, "doc_id": ids, "score": score})

    return joined.groupBy("group").applyInPandas(
        run, schema=f"group {group_type}, doc_id {id_type}, score double"
    )


def similarity_edges_grouped(weights: DataFrame, groups: DataFrame,
                             top_m: int | None = None) -> DataFrame:
    """Within-group cosine edge list (src < dst, sim ≥ threshold): one
    shuffle by group, then dense numpy per block (L2-normalize → cosine
    → threshold, the same spec as lexrank_scores_grouped's graph).
    Feeds graph algorithms that want an explicit edge list (PIC,
    components).

    ``top_m``: optional kNN sparsification — keep each node's top-m
    strongest neighbors (union-symmetrized, deterministic tie-break on
    neighbor id). Iterative graph algorithms cost ∝ |E| per step, so a
    dense block of n² edges is the scale killer; m·n edges preserve the
    cluster structure spectral methods need.

    ``weights``: (doc_id, term, w) from tfidf_term_weights.
    ``groups``: (doc_id, group); every group must fit one executor.
    """
    import numpy as np
    import pandas as pd

    joined = weights.join(groups, "doc_id").select("group", "doc_id", "term", "w")

    def run(pdf: "pd.DataFrame") -> "pd.DataFrame":
        ids, m = _term_matrix(pdf)  # ids sorted → src < dst by id
        norms = np.sqrt((m * m).sum(axis=1))
        norms[norms == 0.0] = 1.0
        sim = (m / norms[:, None]) @ (m / norms[:, None]).T
        n = len(ids)
        keep_mask = sim >= SIM_EDGE_THRESHOLD
        np.fill_diagonal(keep_mask, False)
        if top_m is not None and n > top_m:
            # per-row top-m by (sim desc, id asc): argsort on (-sim, j)
            # via stable sort over the negated row, then union-symmetrize
            order = np.argsort(-sim, axis=1, kind="stable")[:, :top_m]
            knn = np.zeros_like(keep_mask)
            np.put_along_axis(knn, order, True, axis=1)
            keep_mask &= knn | knn.T
        iu, ju = np.triu_indices(n, k=1)
        keep = keep_mask[iu, ju]
        return pd.DataFrame({
            "src": ids[iu[keep]],
            "dst": ids[ju[keep]],
            "sim": sim[iu, ju][keep],
        })

    return joined.groupBy("group").applyInPandas(
        run, schema="src bigint, dst bigint, sim double"
    )


def sentence_rows(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id",
                  engine: str = "jvm") -> DataFrame:
    """One row per sentence — (doc_id, sent_id, sentence, sid). ``sid``
    is a zero-padded sortable string key so sentence identity survives
    the bigint-keyed machinery downstream and ties break in (doc,
    position) order, matching the reference's stable sentence ordering
    (summarize.py:17-26 ranks sentences, preserving feed order on ties).

    ``engine="jvm"`` (default): inline split/trim/filter + posexplode —
    whole-stage codegen, no Python worker round-trip; the hot path for
    the composed pipelines (VERDICT r7 #3). ``engine="udtf"``: the N2
    SplitSentences table function consumed as a SQL LATERAL — the API
    surface the reference's sent_tokenize maps to. The two are pinned
    output-identical in tests/test_text_functions.py::
    test_split_sentences_udtf_lateral, so callers may pick by cost.
    """
    if engine == "jvm":
        sent = F.filter(
            F.transform(
                F.split(F.col(text_col), "[.!?]+"), lambda s: F.trim(s)
            ),
            lambda s: s != F.lit(""),
        )
        sents = docs.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(sent).alias("sent_id", "sentence"),
        )
    else:
        from data_pipeline_playground_spark.functions.udtfs import (
            register_udtfs,
        )

        spark = docs.sparkSession
        register_udtfs(spark)
        docs.select(
            F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
        ).createOrReplaceTempView("_lexrank_sentence_src")
        sents = spark.sql(
            """
            SELECT d.doc_id, s.sent_id, s.sentence
            FROM _lexrank_sentence_src d, LATERAL split_sentences(d.text) s
            """
        )
    return sents.withColumn(
        "sid", F.format_string("%012d-%04d", F.col("doc_id"), F.col("sent_id"))
    )


def lexrank_sentence_summaries(docs: DataFrame, groups: DataFrame,
                               k: int = 3,
                               group_type: str = "string",
                               sents: DataFrame | None = None,
                               weights: DataFrame | None = None,
                               group_cap: int | None = None,
                               cap_observation=None) -> DataFrame:
    """Sentence-granularity LexRank (reference N10, summarize.py:17-26:
    rank the cluster's *sentences*, return the top-k sentence texts —
    reddit_api.py:148-149 joins top-3 with ' ').

    Pipeline: split docs into sentences (UDTF) → sentence-level
    smooth-idf TF-IDF over the whole corpus → per-group cosine graph +
    damped power iteration (grouped path, one shuffle) → top-k
    sentences per group in rank order, space-joined.

    ``groups``: (doc_id, group) — every doc's sentences inherit its
    group; a group's sentence set must fit one executor (clusters are
    bounded, reference shape). Output: (group, summary, n_sentences).

    ``sents``/``weights``: optional prebuilt sentence rows (from
    ``sentence_rows``) and sid-keyed TF-IDF weights — pass both to
    share one pinned fit across several summary queries (the memoized
    artifacts in queries/ml.py); omitted, they are built here.

    ``group_cap``: caps the DOCS per group feeding the sentence graph
    (the ``group_cap`` smallest doc_ids, deterministic) — the same
    worker-memory bound as lexrank_scores_grouped's cap: sentence
    count per group grows ∝ docs per group, and the dense sentence
    graph is O(sentences²) in one Python worker. A binding cap emits
    the same ``capped_groups`` observe signal as
    lexrank_scores_grouped (``cap_observation`` to read it).
    """
    if group_cap is not None:
        groups = _apply_group_cap(groups, group_cap, cap_observation)
    if sents is None:
        sents = sentence_rows(docs).localCheckpoint(eager=True)
    sent_groups = (
        sents.join(groups, "doc_id")
        .select(F.col("sid").alias("doc_id"), "group")
    )
    if weights is None:
        weights = tfidf_term_weights(
            sents.select(F.col("sid").alias("doc_id"), F.col("sentence").alias("text"))
        )
    scores = lexrank_scores_grouped(
        weights, sent_groups, group_type=group_type, id_type="string"
    )
    w = Window.partitionBy("group").orderBy(
        F.desc(F.round("score", 9)), F.asc("doc_id")
    )
    top = (
        scores.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .join(sents.select(F.col("sid").alias("doc_id"), "sentence"), "doc_id")
    )
    return top.groupBy("group").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("rank", "sentence"))),
                lambda s: s["sentence"],
            ),
            " ",
        ).alias("summary"),
        F.count(F.lit(1)).alias("n_sentences"),
    )


def top_k_representatives(scores: DataFrame, k: int = 3) -> DataFrame:
    w = Window.partitionBy("group").orderBy(
        F.desc(F.round("score", 9)), F.asc("doc_id")
    )
    return (
        scores.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("group", "doc_id", F.round("score", 6).alias("lexrank_score"), "rank")
    )


# Ship the applyInPandas closure (and the module constants it captures)
# by value: executor Python workers do not necessarily have this package
# on sys.path (see functions/nlp_udfs.py for the same pattern).
import sys as _sys

from pyspark.cloudpickle import register_pickle_by_value as _by_value

_by_value(_sys.modules[__name__])
