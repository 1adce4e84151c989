"""Text retrieval + language-model statistics over `documents`.

The reference ranks search-API results heuristically
(`/root/reference/wikipedia_api.py` top-k over section scores); this
module supplies the at-scale generalizations a training-data pipeline
needs on top of that: an inverted index, BM25 ranking, and two
LM-statistics quality signals (token entropy, unigram log-prob).

Everything is JVM-side (explode + groupBy + broadcast of the tiny
corpus-stat rows) and fully oracle-checked. Floating-point scores are
rounded to 6 decimals BEFORE any ranking so that last-ulp `ln`/`log2`
differences between the JVM and DuckDB's libm can never flip an order.

Scale notes (100 TB):
- inverted index: one shuffle on term; postings heads are bounded
  (top-20 doc_ids) so no reducer materializes an unbounded list.
- BM25: the query-term filter prunes the exploded token stream *before*
  the shuffle; corpus stats (N, avgdl) are a 1-row broadcast; the df
  table is |query| rows — broadcast.
- unigram model: the term->count table is vocabulary-sized; at web
  scale that still fits executor memory for natural-language vocabs
  (<100M terms x 16B); if not, the join degrades gracefully to a
  shuffle join on term — the plan keeps the aggregate map-side either
  way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_pipeline_playground_spark.functions.text import tokenize
from data_pipeline_playground_spark.registry import query
from data_pipeline_playground_spark.tables import table

_SQL_TOKENS = (
    "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')"
)

# ---- inverted index --------------------------------------------------------

POSTINGS_HEAD = 20  # bounded postings-list prefix per term

_INVERTED_INDEX_SQL = f"""
WITH ex AS (
  SELECT doc_id,
         unnest(list_distinct(list_filter({_SQL_TOKENS}, t -> length(t) > 2))) AS term
  FROM documents
)
SELECT term, count(*) AS df,
       array_to_string(list_sort(list(doc_id))[1:{POSTINGS_HEAD}], ',') AS postings_head
FROM ex GROUP BY term
"""


@query("inverted_index", oracle=_INVERTED_INDEX_SQL)
def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """term -> document frequency + the first 20 doc_ids of the sorted
    postings list. One shuffle on term; the collect_set is bounded by
    the slice so no reducer holds an unbounded posting list (full
    postings at scale would be written as a term-bucketed table
    instead, same plan shape)."""
    docs = table(spark, sf_dir, "documents")
    ex = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.filter(tokenize(F.col("text")), lambda t: F.length(t) > 2)
            )
        ).alias("term"),
    )
    return ex.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.concat_ws(
            ",",
            F.slice(F.sort_array(F.collect_set("doc_id")), 1, POSTINGS_HEAD).cast(
                "array<string>"
            ),
        ).alias("postings_head"),
    )


# ---- BM25 top-k ------------------------------------------------------------

BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY = ("hash", "join", "stream")
BM25_TOPK = 15

_q_list = ", ".join(f"'{t}'" for t in BM25_QUERY)

# CTE chain through the scored docs (sc) — shared by the standalone
# top-k and the RRF fusion oracle
_BM25_CTES = f"""
WITH t AS (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
tok AS (SELECT doc_id, unnest(toks) AS term FROM t),
dl AS (SELECT doc_id, len(toks) AS dl FROM t),
st AS (SELECT avg(dl) AS avgdl, count(*) AS n_docs FROM dl),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok
  WHERE term IN ({_q_list}) GROUP BY doc_id, term
),
dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
sc AS (
  SELECT tf.doc_id,
         sum(ln(1 + (st.n_docs - dfr.df + 0.5) / (dfr.df + 0.5))
             * tf.tf * ({BM25_K1} + 1)
             / (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl.dl / st.avgdl))
         ) AS s
  FROM tf
  JOIN dfr USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN st
  GROUP BY tf.doc_id
)"""

_BM25_SQL = (
    _BM25_CTES
    + f"""
SELECT doc_id, round(s, 6) AS bm25
FROM sc
QUALIFY row_number() OVER (ORDER BY round(s, 6) DESC, doc_id) <= {BM25_TOPK}
"""
)


def _bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, bm25) for every query-matching doc — shared by
    bm25_topk and the RRF fusion; scores rounded before any rank."""
    docs = table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokenize(F.col("text")).alias("toks"))
    dl = t.select("doc_id", F.size("toks").alias("dl"))
    st = dl.agg(F.avg("dl").alias("avgdl"), F.count(F.lit(1)).alias("n_docs"))
    tok = t.select("doc_id", F.explode("toks").alias("term"))
    tf = (
        tok.filter(F.col("term").isin(*BM25_QUERY))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfr = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    denom = F.col("tf") + F.lit(BM25_K1) * (
        F.lit(1 - BM25_B) + F.lit(BM25_B) * F.col("dl") / F.col("avgdl")
    )
    term_score = idf * F.col("tf") * F.lit(BM25_K1 + 1) / denom
    sc = (
        tf.join(F.broadcast(dfr), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(st))
        .groupBy("doc_id")
        .agg(F.round(F.sum(term_score), 6).alias("bm25"))
    )
    return sc


@query("bm25_topk", oracle=_BM25_SQL)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-15 documents for a fixed 3-term query. The token
    explosion is filtered to the query terms before any shuffle, the
    1-row corpus stats and the |query|-row df table are broadcast, and
    the final rank is a top-k over |matching docs| rows. Scores are
    rounded before ranking (see module docstring)."""
    # orderBy+limit plans as TakeOrderedAndProject: per-partition heap
    # top-k + driver merge of k rows — no single-partition window.
    return (
        _bm25_scores(spark, sf_dir)
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(BM25_TOPK)
    )


# ---- token-distribution entropy (quality signal) ---------------------------

LOW_ENTROPY_BITS = 3.5  # repetitive-doc flag threshold

_ENTROPY_SQL = f"""
WITH t AS (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
cnt AS (
  SELECT doc_id, term, count(*) AS c
  FROM (SELECT doc_id, unnest(toks) AS term FROM t)
  GROUP BY doc_id, term
),
n AS (SELECT doc_id, len(toks) AS n FROM t WHERE len(toks) > 0),
e AS (
  SELECT cnt.doc_id,
         round(-sum((c * 1.0 / n.n) * log2(c * 1.0 / n.n)), 6) AS entropy_bits
  FROM cnt JOIN n ON n.doc_id = cnt.doc_id
  GROUP BY cnt.doc_id
)
SELECT doc_id, entropy_bits, entropy_bits < {LOW_ENTROPY_BITS} AS low_entropy
FROM e
"""


@query("token_entropy", oracle=_ENTROPY_SQL)
def token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (bits) of each document's token distribution —
    the repetitive/boilerplate detector that complements the Gopher
    bigram-coverage filter riding `token_stats`. Two map-side
    combinable aggregations, both keyed by doc_id so the second reuses
    the first's partitioning (one shuffle end-to-end)."""
    docs = table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokenize(F.col("text")).alias("toks"))
    cnt = (
        t.select("doc_id", F.explode("toks").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n = t.select("doc_id", F.size("toks").alias("n")).filter(F.col("n") > 0)
    p = F.col("c") * F.lit(1.0) / F.col("n")
    ent = (
        cnt.join(n, "doc_id")
        .groupBy("doc_id")
        .agg(F.round(-F.sum(p * F.log2(p)), 6).alias("entropy_bits"))
    )
    return ent.select(
        "doc_id",
        "entropy_bits",
        (F.col("entropy_bits") < LOW_ENTROPY_BITS).alias("low_entropy"),
    )


# ---- unigram log-probability (perplexity proxy) ----------------------------

_UNIGRAM_SQL = f"""
WITH tok AS (SELECT doc_id, unnest({_SQL_TOKENS}) AS term FROM documents),
uni AS (SELECT term, count(*) AS c FROM tok GROUP BY term),
tot AS (SELECT sum(c) AS s FROM uni)
SELECT tok.doc_id, round(avg(ln(uni.c * 1.0 / tot.s)), 6) AS avg_logprob
FROM tok JOIN uni USING (term) CROSS JOIN tot
GROUP BY tok.doc_id
"""


@query("unigram_logprob", oracle=_UNIGRAM_SQL)
def unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    unigram model — the cheap stand-in for the KenLM perplexity filter
    of CCNet-style pipelines. Outlier-low docs are gibberish;
    outlier-high are boilerplate. The unigram table is
    vocabulary-sized (broadcast here; falls back to a shuffle join on
    term if a web-scale vocab outgrows the broadcast threshold)."""
    docs = table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokenize(F.col("text"))).alias("term"))
    uni = tok.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    tot = uni.agg(F.sum("c").alias("s"))
    lp = F.log(F.col("c") * F.lit(1.0) / F.col("s"))
    return (
        tok.join(F.broadcast(uni), "term")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(F.round(F.avg(lp), 6).alias("avg_logprob"))
    )


# ---- PMI collocations ------------------------------------------------------

PMI_MIN_PAIRS = 5  # ignore pairs co-occurring in fewer docs
PMI_TOPK = 20

_PMI_SQL = f"""
WITH ex AS (
  SELECT doc_id,
         unnest(list_distinct(list_filter({_SQL_TOKENS}, t -> length(t) > 2))) AS tok
  FROM documents
),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM ex),
df AS (SELECT tok, count(*) AS c FROM ex GROUP BY tok),
pairs AS (
  SELECT a.tok AS ta, b.tok AS tb, count(*) AS cab
  FROM ex a JOIN ex b ON a.doc_id = b.doc_id AND a.tok < b.tok
  GROUP BY a.tok, b.tok
),
scored AS (
  SELECT p.ta, p.tb, p.cab,
         round(ln(n.n_docs * p.cab * 1.0 / (da.c * db.c)), 6) AS pmi
  FROM pairs p
  JOIN df da ON da.tok = p.ta
  JOIN df db ON db.tok = p.tb
  CROSS JOIN n
  WHERE p.cab >= {PMI_MIN_PAIRS}
)
SELECT ta, tb, cab, pmi FROM scored
QUALIFY row_number() OVER (ORDER BY pmi DESC, ta, tb) <= {PMI_TOPK}
"""


@query("term_pmi_topk", oracle=_PMI_SQL)
def term_pmi_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top collocations by pointwise mutual information over
    document-level co-occurrence — the classic collocation detector
    (and the feature builder for word-graph methods). The pair build
    is a self-equi-join on doc_id over DISTINCT doc tokens, so the
    fan-out is v_doc² per doc (bounded by per-doc vocabulary, not doc
    length); the df and 1-row N frames broadcast into the scoring
    join, and the min-count filter prunes the long tail before
    scoring. PMI rounds to 6 decimals BEFORE the top-k order (module
    docstring: ulp-proof ranking). At web scale add a doc-frequency
    floor on single terms to keep the pair aggregate's key space
    vocabulary-shaped, not pair-shaped."""
    docs = table(spark, sf_dir, "documents")
    ex = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.filter(tokenize(F.col("text")), lambda t: F.length(t) > 2)
            )
        ).alias("tok"),
    ).localCheckpoint(eager=True)
    n = ex.agg(F.countDistinct("doc_id").alias("n_docs"))
    dfr = ex.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    a = ex.select(F.col("doc_id").alias("da"), F.col("tok").alias("ta"))
    b = ex.select(F.col("doc_id").alias("db"), F.col("tok").alias("tb"))
    pairs = (
        a.join(b, (F.col("da") == F.col("db")) & (F.col("ta") < F.col("tb")))
        .groupBy("ta", "tb")
        .agg(F.count(F.lit(1)).alias("cab"))
        .filter(F.col("cab") >= PMI_MIN_PAIRS)
    )
    da = dfr.select(F.col("tok").alias("ta"), F.col("c").alias("ca"))
    db = dfr.select(F.col("tok").alias("tb"), F.col("c").alias("cb"))
    scored = (
        pairs.join(F.broadcast(da), "ta")
        .join(F.broadcast(db), "tb")
        .crossJoin(F.broadcast(n))
        .select(
            "ta", "tb", "cab",
            F.round(
                F.log(
                    F.col("n_docs") * F.col("cab") * F.lit(1.0)
                    / (F.col("ca") * F.col("cb"))
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(
        F.desc("pmi"), F.asc("ta"), F.asc("tb")
    ).limit(PMI_TOPK)


# ---- hybrid retrieval: reciprocal-rank fusion ------------------------------

# RRF (Cormack et al., SIGIR'09): fuse ranked lists by summing
# 1/(k + rank), k = 60 — the standard hybrid-search combiner (no score
# normalization needed, only ranks). Fused here: BM25 (probabilistic)
# with a TF-IDF vector-space cosine over the same query — two genuinely
# different rankers whose disagreements RRF reconciles. Each ranker
# contributes its top-RRF_CANDIDATES list; docs retrieved by only one
# list get the other's contribution as 0.

RRF_K = 60
RRF_CANDIDATES = 50
RRF_TOPK = 15

_COS_CTES = f""",
tfall AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
dfall AS (SELECT term, count(*) AS df FROM tfall GROUP BY term),
w AS (
  SELECT doc_id, term, tfall.tf * ln(st.n_docs * 1.0 / dfall.df) AS w
  FROM tfall JOIN dfall USING (term) CROSS JOIN st
),
normd AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY doc_id),
qnum AS (
  SELECT doc_id, sum(w) AS num FROM w
  WHERE term IN ({_q_list}) GROUP BY doc_id
),
cosc AS (
  SELECT qnum.doc_id,
         round(num / greatest(nrm * sqrt({len(BM25_QUERY)}.0), 1e-12), 6)
           AS cosine
  FROM qnum JOIN normd ON normd.doc_id = qnum.doc_id
)"""

_RRF_SQL = (
    _BM25_CTES
    + _COS_CTES
    + f""",
r1 AS (
  SELECT doc_id, row_number() OVER (ORDER BY round(s, 6) DESC, doc_id) AS rnk
  FROM sc
  QUALIFY rnk <= {RRF_CANDIDATES}
),
r2 AS (
  SELECT doc_id, row_number() OVER (ORDER BY cosine DESC, doc_id) AS rnk
  FROM cosc
  QUALIFY rnk <= {RRF_CANDIDATES}
),
fused AS (
  SELECT doc_id,
         r1.rnk AS bm25_rank, r2.rnk AS cos_rank,
         round(coalesce(1.0 / ({RRF_K} + r1.rnk), 0)
               + coalesce(1.0 / ({RRF_K} + r2.rnk), 0), 9) AS rrf_score
  FROM r1 FULL JOIN r2 USING (doc_id)
)
SELECT doc_id, bm25_rank, cos_rank, rrf_score FROM fused
QUALIFY row_number() OVER (ORDER BY rrf_score DESC, doc_id) <= {RRF_TOPK}
"""
)


def _tfidf_cosine_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cosine) vector-space ranking for the fixed query:
    binary query vector over BM25_QUERY against the doc's full TF-IDF
    vector. The doc norm needs the WHOLE vocabulary's weights — one
    combinable (doc, term) aggregate plus a term-keyed df join. The
    df table is vocabulary-sized, i.e. it GROWS with the corpus, so it
    carries no broadcast hint (round-13 third-decade find in the
    LexRank twin: a forced vocab broadcast read stage exponent 1.95 at
    1.5M docs) — AQE broadcasts it at runtime while the measured vocab
    is small and shuffle-joins beyond; the query numerator prunes to
    |query| terms before its shuffle."""
    docs = table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokenize(F.col("text")).alias("toks"))
    n_docs = t.agg(F.count(F.lit(1)).alias("n_docs"))
    tfall = (
        t.select("doc_id", F.explode("toks").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfall = tfall.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    w = (
        tfall.join(dfall, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            (
                F.col("tf")
                * F.log(F.col("n_docs") * F.lit(1.0) / F.col("df"))
            ).alias("w"),
        )
    )
    normd = w.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm")
    )
    qnum = (
        w.filter(F.col("term").isin(*BM25_QUERY))
        .groupBy("doc_id")
        .agg(F.sum("w").alias("num"))
    )
    import math

    return qnum.join(normd, "doc_id").select(
        "doc_id",
        F.round(
            F.col("num")
            / F.greatest(
                F.col("nrm") * F.lit(math.sqrt(len(BM25_QUERY))),
                F.lit(1e-12),
            ),
            6,
        ).alias("cosine"),
    )


@query("hybrid_rrf_topk", oracle=_RRF_SQL)
def hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: RRF fusion (see block comment) of the BM25
    and TF-IDF-cosine rankings for the same fixed query.

    Scale shape: each ranker is already bounded (TakeOrdered top-50
    candidate lists — per-partition heaps, no global sort), so the
    fusion itself is a full outer join of two ≤50-row frames plus one
    more TakeOrdered: constant work at any corpus size. Integer ranks
    make 1/(k+rank) bit-identical across engines; the fused score is
    rounded before the final rank."""
    r1 = (
        _bm25_scores(spark, sf_dir)
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(RRF_CANDIDATES)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.desc("bm25"), F.asc("doc_id")))
            .cast("bigint")
            .alias("bm25_rank"),
        )
    )
    r2 = (
        _tfidf_cosine_scores(spark, sf_dir)
        .orderBy(F.desc("cosine"), F.asc("doc_id"))
        .limit(RRF_CANDIDATES)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.desc("cosine"), F.asc("doc_id")))
            .cast("bigint")
            .alias("cos_rank"),
        )
    )
    contrib = lambda c: F.coalesce(  # noqa: E731
        F.lit(1.0) / (F.lit(RRF_K) + c), F.lit(0.0)
    )
    fused = r1.join(r2, ["doc_id"], "full").select(
        "doc_id",
        "bm25_rank",
        "cos_rank",
        F.round(
            contrib(F.col("bm25_rank")) + contrib(F.col("cos_rank")), 9
        ).alias("rrf_score"),
    )
    return fused.orderBy(F.desc("rrf_score"), F.asc("doc_id")).limit(RRF_TOPK)


# ---- pseudo-relevance-feedback (Rocchio) BM25 --------------------------------

PRF_FEEDBACK_DOCS = 15  # first-pass docs mined for expansion terms
PRF_EXPANSION_TERMS = 3

_PRF_SQL = f"""
WITH t AS (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
tok AS (SELECT doc_id, unnest(toks) AS term FROM t),
dl AS (SELECT doc_id, len(toks) AS dl FROM t),
st AS (SELECT avg(dl) AS avgdl, count(*) AS n_docs FROM dl),
tf1 AS (
  SELECT doc_id, term, count(*) AS tf FROM tok
  WHERE term IN ({_q_list}) GROUP BY doc_id, term
),
df1 AS (SELECT term, count(*) AS df FROM tf1 GROUP BY term),
sc1 AS (
  SELECT tf1.doc_id,
         sum(ln(1 + (st.n_docs - df1.df + 0.5) / (df1.df + 0.5))
             * tf1.tf * ({BM25_K1} + 1)
             / (tf1.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl.dl / st.avgdl))
         ) AS s
  FROM tf1 JOIN df1 USING (term) JOIN dl ON dl.doc_id = tf1.doc_id
  CROSS JOIN st GROUP BY tf1.doc_id
),
fb AS (
  SELECT doc_id FROM sc1
  QUALIFY row_number() OVER (ORDER BY round(s, 6) DESC, doc_id)
          <= {PRF_FEEDBACK_DOCS}
),
exp AS (
  SELECT term FROM (
    SELECT tok.term, count(DISTINCT tok.doc_id) AS dfb
    FROM tok JOIN fb USING (doc_id)
    WHERE length(tok.term) > 2
      AND tok.term NOT IN ({_q_list})
    GROUP BY tok.term
    QUALIFY row_number() OVER (ORDER BY dfb DESC, tok.term)
            <= {PRF_EXPANSION_TERMS}
  )
),
q2 AS (SELECT term FROM exp
       UNION ALL SELECT unnest([{_q_list}]) AS term),
tf2 AS (
  SELECT tok.doc_id, tok.term, count(*) AS tf
  FROM tok JOIN q2 USING (term) GROUP BY tok.doc_id, tok.term
),
df2 AS (SELECT term, count(*) AS df FROM tf2 GROUP BY term),
sc2 AS (
  SELECT tf2.doc_id,
         sum(ln(1 + (st.n_docs - df2.df + 0.5) / (df2.df + 0.5))
             * tf2.tf * ({BM25_K1} + 1)
             / (tf2.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl.dl / st.avgdl))
         ) AS s
  FROM tf2 JOIN df2 USING (term) JOIN dl ON dl.doc_id = tf2.doc_id
  CROSS JOIN st GROUP BY tf2.doc_id
)
SELECT doc_id, round(s, 6) AS bm25_prf
FROM sc2
QUALIFY row_number() OVER (ORDER BY round(s, 6) DESC, doc_id) <= {BM25_TOPK}
"""


def _bm25_pass(
    tok: DataFrame, dl: DataFrame, st: DataFrame, terms: DataFrame
) -> DataFrame:
    """One BM25 scoring pass against a dynamic term table: (doc_id,
    raw score). The term/df tables are |query|-row broadcasts; the
    per-doc sum is one combinable aggregate."""
    tf = tok.join(F.broadcast(terms), "term").groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    dfr = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    denom = F.col("tf") + F.lit(BM25_K1) * (
        F.lit(1 - BM25_B) + F.lit(BM25_B) * F.col("dl") / F.col("avgdl")
    )
    term_score = idf * F.col("tf") * F.lit(BM25_K1 + 1) / denom
    return (
        tf.join(F.broadcast(dfr), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(st))
        .groupBy("doc_id")
        .agg(F.sum(term_score).alias("s"))
    )


@query("bm25_prf_topk", oracle=_PRF_SQL)
def bm25_prf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-pass pseudo-relevance feedback (Rocchio 1971 / RM-style
    expansion): BM25 retrieves {PRF_FEEDBACK_DOCS} feedback docs for
    the fixed query, the {PRF_EXPANSION_TERMS} most document-frequent
    non-query terms (len > 2) inside that feedback set join the query,
    and a second BM25 pass over the expanded term set produces the
    final top-{BM25_TOPK} — the classic recall-boosting rerank a
    retrieval pipeline layers over `bm25_topk`.

    Scale shape: BOTH passes score only docs containing some query
    term (token explode filtered by a broadcast term table before any
    shuffle); the expansion mining runs over the {PRF_FEEDBACK_DOCS}-doc
    feedback slice. Expansion selection is integer document-frequency
    with term tie-breaks — fully deterministic; scores round to 6 dp
    before every rank (same ln-parity discipline as bm25_topk).
    """
    docs = table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", tokenize(F.col("text")).alias("toks")
    ).localCheckpoint(eager=True)
    # Slim (doc_id, dl) pin (round 15, guide §2.3): both scoring
    # passes join dl and aggregate st, and unpinned each reference
    # re-scanned the FAT token frame (arrays deserialize per scan) —
    # the split-timed passes spent more in repeated t scans than in
    # scoring. dl is two ints per doc; pinning it leaves t scanned
    # only by the token explodes.
    dl = t.select(
        "doc_id", F.size("toks").alias("dl")
    ).localCheckpoint(eager=True)
    st = dl.agg(F.avg("dl").alias("avgdl"), F.count(F.lit(1)).alias("n_docs"))
    tok = t.select("doc_id", F.explode("toks").alias("term"))
    q1 = t.sparkSession.createDataFrame(
        [(w,) for w in BM25_QUERY], "term string"
    )
    sc1 = _bm25_pass(tok, dl, st, q1)
    w1 = Window.orderBy(F.desc(F.round(F.col("s"), 6)), F.asc("doc_id"))
    fb = (
        sc1.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") <= PRF_FEEDBACK_DOCS)
        .select("doc_id")
    )
    # join BEFORE the explode (guide §3.3): the feedback set is
    # PRF_FEEDBACK_DOCS rows, so exploding t ⋈ fb touches 15 documents'
    # tokens — the round-14 shape exploded the ENTIRE corpus and then
    # broadcast-filtered it down to those 15 docs, paying a third
    # full-corpus token explode for feedback-slice-sized work.
    exp = (
        t.join(F.broadcast(fb), "doc_id")
        .select("doc_id", F.explode("toks").alias("term"))
        .filter((F.length("term") > 2) & (~F.col("term").isin(*BM25_QUERY)))
        .groupBy("term")
        .agg(F.countDistinct("doc_id").alias("dfb"))
    )
    w2 = Window.orderBy(F.desc("dfb"), F.asc("term"))
    exp_terms = (
        exp.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= PRF_EXPANSION_TERMS)
        .select("term")
    )
    q2 = exp_terms.unionByName(q1)
    sc2 = _bm25_pass(tok, dl, st, q2)
    return (
        sc2.select("doc_id", F.round("s", 6).alias("bm25_prf"))
        .orderBy(F.desc("bm25_prf"), F.asc("doc_id"))
        .limit(BM25_TOPK)
    )
