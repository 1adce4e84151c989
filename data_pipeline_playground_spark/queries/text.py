"""Text-analytics operators over `documents` (SURVEY §2.8 + §2.12).

Everything here is expressed with JVM-side higher-order functions
(split/filter/transform/aggregate) — no Python UDFs in any hot path —
and mirrored in DuckDB list-lambda SQL for the oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_pipeline_playground_spark.functions.text import (
    STOPWORDS,
    TOKEN_SPLIT_RE,
    fuzz_ratio,
    remove_stopwords,
    tokenize,
    word_ngrams,
)
from data_pipeline_playground_spark.operators.lexrank import tfidf_term_weights
from data_pipeline_playground_spark.registry import query
from data_pipeline_playground_spark.tables import table

# DuckDB token-array expression mirroring functions.text.tokenize
_SQL_TOKENS = (
    "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')"
)
_SQL_STOPWORDS = "[" + ", ".join(f"'{s}'" for s in STOPWORDS) + "]"

assert TOKEN_SPLIT_RE == "[^a-z0-9]+"  # keep the SQL mirror in sync


# --- token counting (P8 + driver extension) ---------------------------------

# _TOKEN_STATS_SQL is defined below the quality constants it reuses —
# see token_stats() after quality_score_col.


# --- BPE-style token counting (driver extension: LLM-data metric) -----------

# GPT-2-style pre-tokenizer, restricted to the regex subset Java
# (Spark) and RE2 (DuckDB) evaluate identically: contraction suffix,
# space-prefixed letter run, space-prefixed digit run, space-prefixed
# punctuation run. Both engines use leftmost-first alternation, so the
# match sequence is identical. No lookahead (RE2 has none).
BPE_SPLIT_RE = r"'[a-z]+| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s]+"

_BPE_STATS_SQL = f"""
WITH t AS (
  SELECT doc_id,
         len(regexp_extract_all(lower(text), '{BPE_SPLIT_RE.replace("'", "''")}')) AS n_bpe,
         length(text) AS n_chars
  FROM documents
)
SELECT doc_id, n_bpe AS n_bpe_tokens,
       round(n_chars * 1.0 / greatest(n_bpe, 1), 6) AS chars_per_token
FROM t
"""


@query("token_count_bpe", oracle=_BPE_STATS_SQL)
def token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token count per document (the LLM-pipeline cost metric:
    GPT-2-style pre-tokenization, which upper-bounds the true merged
    BPE count) plus chars-per-token. Narrow map over the scan — zero
    shuffle; a real tokenizer would slot in as a pandas UDF with the
    same schema."""
    docs = table(spark, sf_dir, "documents")
    n_bpe = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(BPE_SPLIT_RE), F.lit(0))
    )
    return docs.select(
        "doc_id",
        n_bpe.alias("n_bpe_tokens"),
        F.round(
            F.length("text") * F.lit(1.0) / F.greatest(n_bpe, F.lit(1)), 6
        ).alias("chars_per_token"),
    )


# --- repetition-based quality filter (driver extension: Gopher-style) -------

TOP_BIGRAM_FRAC_MAX = 0.18  # Gopher: drop docs whose top 2-gram covers >18%
REP_TOKEN_FRAC_MAX = 0.50  # and docs where >50% of tokens are repeats


# --- PII scrubbing (driver extension: pre-training redaction pass) ----------

EMAIL_RE = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
PHONE_RE = r"\+?[0-9][0-9() -]{7,}[0-9]"

_PII_SQL = f"""
SELECT doc_id,
       len(regexp_extract_all(text, '{EMAIL_RE}')) AS n_emails,
       len(regexp_extract_all(regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
                              '{PHONE_RE}')) AS n_phones,
       regexp_replace(regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
                      '{PHONE_RE}', '<PHONE>', 'g') AS clean_text
FROM documents
"""


@query("pii_scrub", oracle=_PII_SQL)
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass (emails then phone-shaped digit runs →
    placeholder tokens) with per-doc match counts — the compliance
    scrub of an LLM ingest pipeline. Pure regexp expressions over the
    scan: narrow, shuffle-free, codegen'd; swap in richer recognizers
    as a pandas UDF with this same schema when policy needs them."""
    docs = table(spark, sf_dir, "documents")
    no_email = F.regexp_replace(F.col("text"), EMAIL_RE, "<EMAIL>")
    return docs.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(EMAIL_RE)).alias("n_emails"),
        F.regexp_count(no_email, F.lit(PHONE_RE)).alias("n_phones"),
        F.regexp_replace(no_email, PHONE_RE, "<PHONE>").alias("clean_text"),
    )


# --- stopword removal (U2) + document frequency -----------------------------

_TOP_TERMS_SQL = f"""
WITH t AS (SELECT doc_id, unnest({_SQL_TOKENS}) AS term FROM documents),
df AS (
  SELECT term, count(DISTINCT doc_id) AS doc_freq
  FROM t WHERE NOT list_contains({_SQL_STOPWORDS}, term)
  GROUP BY term
)
SELECT term, doc_freq FROM df
ORDER BY doc_freq DESC, term
LIMIT 20
"""


@query("top_terms_nostop", oracle=_TOP_TERMS_SQL)
def top_terms_nostop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 non-stopword terms by document frequency (stopword
    filtering of reference cluster.py:14-16 + DF aggregate of the
    TF-IDF fit, cluster.py:25-30)."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.explode(remove_stopwords(tokenize(F.col("text")))).alias("term"))
        .groupBy("term")
        .agg(F.countDistinct("doc_id").alias("doc_freq"))
        .orderBy(F.desc("doc_freq"), F.asc("term"))
        .limit(20)
    )


# --- word n-grams (N13 / U4, reference utils.py:1-30) -----------------------

_NGRAM_SQL = f"""
WITH t AS (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
g AS (
  SELECT n.n,
         unnest(CASE WHEN len(toks) >= n.n
                THEN list_distinct(list_transform(range(1, len(toks) - n.n + 2),
                     i -> array_to_string(list_slice(toks, i, i + n.n - 1), ' ')))
                ELSE CAST([] AS VARCHAR[]) END) AS gram
  FROM t, (SELECT unnest([1, 2, 3]) AS n) n
)
SELECT n, count(DISTINCT gram) AS n_distinct_grams
FROM g GROUP BY n
"""


@query("ngram_profile", oracle=_NGRAM_SQL)
def ngram_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct word n-grams for n=1..3 across the corpus (reference
    get_combinations, utils.py:1-30).

    Formulated as posexplode + lead() windows per doc: grams are built
    by whole-stage-codegen'd string concat, not interpreted array
    lambdas (~2× faster than the higher-order-function form at sf0.1),
    then one aggregate counts all three distinct-gram sets."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(tokenize(F.col("text"))).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    grams = toks.select(
        F.col("tok").alias("g1"),
        F.concat_ws(" ", "tok", F.lead("tok", 1).over(w)).alias("g2_raw"),
        F.concat_ws(
            " ", "tok", F.lead("tok", 1).over(w), F.lead("tok", 2).over(w)
        ).alias("g3_raw"),
        F.lead("tok", 1).over(w).alias("t1"),
        F.lead("tok", 2).over(w).alias("t2"),
    ).select(
        "g1",
        F.when(F.col("t1").isNotNull(), F.col("g2_raw")).alias("g2"),
        F.when(F.col("t2").isNotNull(), F.col("g3_raw")).alias("g3"),
    )
    counts = grams.agg(
        F.countDistinct("g1").alias("c1"),
        F.countDistinct("g2").alias("c2"),
        F.countDistinct("g3").alias("c3"),
    )
    return counts.select(
        F.expr(
            "stack(3, 1, c1, 2, c2, 3, c3) AS (n, n_distinct_grams)"
        )
    )


# --- text quality scoring (driver extension) --------------------------------

# The score as an embeddable SQL expression (expects columns `toks`,
# `n_tokens`, `n_tok_safe`) so composed pipelines (corpus_funnel) can
# reuse it inside their own CTE chains without drifting from the
# standalone query's definition.
SQL_QUALITY_EXPR = f"""round(CASE WHEN n_tokens = 0 THEN 0.0 ELSE
         0.4 * least(1.0, n_tokens / 100.0)
         + 0.3 * (len(list_distinct(toks)) * 1.0 / n_tok_safe)
         + 0.3 * (len(list_filter(toks, w -> list_contains({_SQL_STOPWORDS}, w)))
                  * 1.0 / n_tok_safe)
       END, 6)"""

# Combined doc-grain text panel (round-11 consolidation): token_stats
# absorbed quality_score and quality_repetition — one tokenize pass,
# one doc-grain row, every per-doc text metric (P8 token counting, the
# heuristic quality gate, the Gopher repetition filter).
_TOKEN_STATS_SQL = f"""
WITH t AS (
  SELECT doc_id, text, {_SQL_TOKENS} AS toks,
         greatest(len({_SQL_TOKENS}), 1) AS n_tok_safe,
         len({_SQL_TOKENS}) AS n_tokens
  FROM documents
),
bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(toks)),
                               i -> toks[i] || ' ' || toks[i + 1])) AS bigram
  FROM t WHERE len(toks) >= 2
),
top_bg AS (
  SELECT doc_id, max(cnt) AS top_cnt, sum(cnt) AS n_bigrams
  FROM (SELECT doc_id, bigram, count(*) AS cnt FROM bg GROUP BY doc_id, bigram)
  GROUP BY doc_id
)
SELECT t.doc_id,
       n_tokens,
       len(list_filter(toks, x -> length(x) > 2)) AS n_long_tokens,
       len(list_distinct(toks)) AS n_distinct_tokens,
       length(text) AS n_chars,
       {SQL_QUALITY_EXPR} AS quality_score,
       round((n_tokens - len(list_distinct(toks))) * 1.0
             / n_tok_safe, 6) AS rep_token_frac,
       round(coalesce(top_bg.top_cnt * 1.0 / top_bg.n_bigrams, 0.0), 6)
         AS top_bigram_frac,
       (round((n_tokens - len(list_distinct(toks))) * 1.0
              / n_tok_safe, 6) < {REP_TOKEN_FRAC_MAX}
        AND round(coalesce(top_bg.top_cnt * 1.0 / top_bg.n_bigrams, 0.0), 6)
            < {TOP_BIGRAM_FRAC_MAX}) AS keep
FROM t LEFT JOIN top_bg ON top_bg.doc_id = t.doc_id
"""


def quality_score_col(toks: Column, n_tokens: Column) -> Column:
    """quality_score as a reusable Column over pre-aliased token-array
    and token-count columns — single definition shared by the
    standalone query and composed pipelines."""
    sw = F.array(*[F.lit(s) for s in STOPWORDS])
    # divide by greatest(n,1): ANSI mode evaluates both when/otherwise
    # branches vectorized, so a bare /n_tokens would raise on empty docs
    n_safe = F.greatest(n_tokens, F.lit(1))
    score = (
        F.lit(0.4) * F.least(F.lit(1.0), n_tokens / F.lit(100.0))
        + F.lit(0.3) * (F.size(F.array_distinct(toks)) * F.lit(1.0) / n_safe)
        + F.lit(0.3)
        * (
            F.size(F.filter(toks, lambda w: F.array_contains(sw, w)))
            * F.lit(1.0)
            / n_safe
        )
    )
    return F.round(F.when(n_tokens == 0, F.lit(0.0)).otherwise(score), 6)


@query("token_stats", oracle=_TOKEN_STATS_SQL)
def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-grain text panel: whitespace/regex token counting incl. the
    len>2 filter of reference lda.py:28 (P8), the heuristic quality
    gate (length saturation + lexical diversity + stopword-ratio
    naturalness — weights in SQL_QUALITY_EXPR), and the Gopher-style
    repetition filter (rep_token_frac, top_bigram_frac, keep).
    Round-11 consolidation: absorbed `quality_score` and
    `quality_repetition` — one tokenize pass feeds every metric.
    Round-12 (VERDICT r11 #4): the top-bigram mode is computed
    MAP-SIDE — the mode of a doc's own bigram array is a run-length
    maximum over the array_sort'ed array, a JVM higher-order fold —
    so the whole panel is a single shuffle-free projection over the
    scan (the previous per-(doc, bigram) groupBy + doc-grain join back
    cost 1.52× the one-offs the panel absorbed)."""
    docs = table(spark, sf_dir, "documents")
    toks = tokenize(F.col("text"))
    base = docs.select(
        "doc_id",
        toks.alias("toks"),
        F.size(toks).alias("n_tokens"),
        F.length("text").alias("n_chars"),
    )
    # per-doc bigram array (empty when < 2 tokens), sorted so equal
    # bigrams are adjacent: the mode count = the longest run.
    bg_arr = F.array_sort(
        F.when(
            F.size("toks") >= 2,
            F.transform(
                F.slice("toks", 1, F.size("toks") - 1),
                lambda x, i: F.concat_ws(" ", x, F.element_at("toks", i + 2)),
            ),
        ).otherwise(F.expr("array()").cast("array<string>"))
    )

    def _run_step(acc: Column, x: Column) -> Column:
        # prev starts NULL: x == NULL is NULL, so the first element
        # (and any new value) resets the run to 1.
        run = F.when(x == acc["prev"], acc["run"] + F.lit(1)).otherwise(
            F.lit(1)
        )
        return F.struct(
            x.alias("prev"), run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    top_cnt = F.aggregate(
        bg_arr,
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        _run_step,
        lambda acc: acc["best"],
    )
    n_distinct = F.size(F.array_distinct(F.col("toks")))
    rep_frac = F.round(
        (F.col("n_tokens") - n_distinct)
        * F.lit(1.0)
        / F.greatest(F.col("n_tokens"), F.lit(1)),
        6,
    )
    # n_bigrams = n_tokens - 1 (docs with < 2 tokens have top_cnt 0, so
    # the guarded denominator never shapes the result — it only keeps
    # ANSI-mode vectorized evaluation from dividing by zero).
    bg_frac = F.round(
        top_cnt * F.lit(1.0)
        / F.greatest(F.col("n_tokens") - 1, F.lit(1)),
        6,
    )
    return base.select(
        "doc_id",
        "n_tokens",
        F.size(
            F.filter(F.col("toks"), lambda x: F.length(x) > 2)
        ).alias("n_long_tokens"),
        n_distinct.alias("n_distinct_tokens"),
        "n_chars",
        quality_score_col(F.col("toks"), F.col("n_tokens")).alias(
            "quality_score"
        ),
        rep_frac.alias("rep_token_frac"),
        bg_frac.alias("top_bigram_frac"),
        (
            (rep_frac < REP_TOKEN_FRAC_MAX) & (bg_frac < TOP_BIGRAM_FRAC_MAX)
        ).alias("keep"),
    )


# --- language-ID heuristic (driver extension) -------------------------------

# Tiny per-language marker lexicons (public-knowledge function words).
_LANG_MARKERS = {
    "en": ("the", "and", "of", "to", "is"),
    "es": ("el", "la", "los", "las", "es"),
    "fr": ("le", "la", "les", "est", "et"),
    "de": ("der", "die", "das", "und", "ist"),
    "zh": ("de", "shi", "le", "zai", "he"),
}


def _mk_sql(words) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


# argmax with lexicographic tie-break: pick the first lang (sorted)
# whose hit count equals the max — portable CASE chain, no comparator.
_LANG_HITS_SQL = ",\n       ".join(
    f"len(list_filter(toks, w -> list_contains({_mk_sql(_LANG_MARKERS[lang])}, w))) AS h_{lang}"
    for lang in sorted(_LANG_MARKERS)
)
_LANG_BEST_SQL = "CASE " + " ".join(
    f"WHEN h_{lang} = h_max THEN '{lang}'" for lang in sorted(_LANG_MARKERS)
) + " END"

# (the per-doc lang_id query merged into lang_id_confusion — round-10
# consolidation: the confusion matrix runs the SAME lang_pred_col
# predictor over every document with an oracle, so the marker-lexicon
# language-ID operator keeps one registry entry; composed pipelines
# consume lang_pred_col directly, e.g. corpus_funnel)


def lang_pred_col(toks: Column) -> Column:
    """lang_pred as a reusable Column over a pre-aliased token-array
    column — single definition shared by the standalone query and
    composed pipelines (corpus_funnel)."""
    def _hits(markers):
        mk = F.array(*[F.lit(w) for w in markers])
        # NB: single-param lambda only — a 2-arg lambda is (elem, idx)
        return F.size(F.filter(toks, lambda w: F.array_contains(mk, w)))

    hit_cols = {code: _hits(_LANG_MARKERS[code]) for code in sorted(_LANG_MARKERS)}
    h_max = F.greatest(*hit_cols.values())
    expr = None
    for lang_code in sorted(_LANG_MARKERS):
        cond = hit_cols[lang_code] == h_max
        expr = F.when(cond, lang_code) if expr is None else expr.when(cond, lang_code)
    return expr


# --- document fingerprinting (driver extension) -----------------------------

_FINGERPRINT_SQL = """
SELECT doc_id,
       md5(text) AS md5_fp,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(regexp_split_to_array(text, ''), c -> CAST(ascii(c) AS BIGINT))),
         (a, b) -> (a * 131 + b) % 1000000007) AS roll_fp
FROM documents
"""


@query("doc_fingerprint", oracle=_FINGERPRINT_SQL)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprints: md5 digest + 131-base polynomial rolling
    hash mod 1e9+7 over characters (deterministic, engine-portable)."""
    docs = table(spark, sf_dir, "documents")
    chars = F.split(F.col("text"), "")
    roll = F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * 131 + F.ascii(c).cast("long")) % 1000000007,
    )
    return docs.select(
        "doc_id", F.md5("text").alias("md5_fp"), roll.alias("roll_fp")
    )


# --- TF-IDF (A3/N5, SQL-expressible form) -----------------------------------

_TFIDF_SQL = f"""
WITH tok AS (SELECT doc_id, unnest({_SQL_TOKENS}) AS term FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
w AS (
  SELECT tf.doc_id, tf.term,
         tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0) AS w
  FROM tf JOIN df USING (term) CROSS JOIN n
)
SELECT doc_id, term, tfidf FROM (
  SELECT doc_id, term, round(w, 6) AS tfidf,
         row_number() OVER (PARTITION BY doc_id ORDER BY round(w, 6) DESC, term) AS rn
  FROM w
) WHERE rn <= 5
"""


@query("tfidf_top_terms", oracle=_TFIDF_SQL)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF with smooth idf (reference cluster.py:25-30,
    smooth_idf=True: idf = ln((N+1)/(df+1)) + 1), top-5 terms per doc.

    Plan: the shared weight operator (explode → tf and df hash aggs →
    df join + scalar N broadcast, see tfidf_term_weights) → per-doc
    window top-k. The big shuffles are the tf agg and the final
    per-doc window, both keyed by doc_id."""
    w = tfidf_term_weights(table(spark, sf_dir, "documents"))
    # rank on the ROUNDED weight: raw doubles can differ between
    # engines in the last ulp (libm ln), which would flip near-ties.
    win = Window.partitionBy("doc_id").orderBy(
        F.desc(F.round("w", 6)), F.asc("term")
    )
    return (
        w.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") <= 5)
        .select("doc_id", "term", F.round("w", 6).alias("tfidf"))
    )


# --- pairwise fuzz ratio (N12) ----------------------------------------------

_FUZZ_PAIRS_SQL = """
WITH t AS (SELECT doc_id, substring(text, 1, 40) AS s FROM documents WHERE doc_id < 100)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(100.0 * (length(a.s) + length(b.s) - levenshtein(a.s, b.s))
             / greatest(length(a.s) + length(b.s), 1), 6) AS ratio
FROM t a JOIN t b ON a.doc_id < b.doc_id
ORDER BY ratio DESC, id_a, id_b
LIMIT 25
"""


@query("fuzz_ratio_pairs", oracle=_FUZZ_PAIRS_SQL)
def fuzz_ratio_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 most-similar 40-char-prefix pairs among the first 100
    docs (bounded self-join; N12 fuzz.ratio as a first-class scalar)."""
    docs = table(spark, sf_dir, "documents")
    t = docs.filter(F.col("doc_id") < 100).select(
        "doc_id", F.substring("text", 1, 40).alias("s")
    )
    a = t.select(F.col("doc_id").alias("id_a"), F.col("s").alias("sa"))
    b = t.select(F.col("doc_id").alias("id_b"), F.col("s").alias("sb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(fuzz_ratio(F.col("sa"), F.col("sb")), 6).alias("ratio"),
        )
        .orderBy(F.desc("ratio"), F.asc("id_a"), F.asc("id_b"))
        .limit(25)
    )


# --- U3 array-except (reference lda.py:27: tokens minus query words) --------

_QUERY_TERMS = ("spark", "data", "query")

_ARRAY_EXCEPT_SQL = f"""
WITH t AS (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents)
SELECT doc_id,
       len(list_filter(list_distinct(toks),
           x -> NOT list_contains({_mk_sql(_QUERY_TERMS)}, x))) AS n_terms_left
FROM t
"""


@query("query_term_except", oracle=_ARRAY_EXCEPT_SQL)
def query_term_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3: per-doc distinct tokens minus the query's own terms
    (reference lda.py:27 excludes query words before LDA). array_except
    carries set semantics in Spark — mirrored with
    list_distinct+filter in the oracle."""
    docs = table(spark, sf_dir, "documents")
    toks = tokenize(F.col("text"))
    q = F.array(*[F.lit(t) for t in _QUERY_TERMS])
    return docs.select(
        "doc_id",
        F.size(F.array_except(toks, q)).alias("n_terms_left"),
    )


# --- T1 order-by + limit (reference realtimeapi.py:121-123) -----------------

_LATEST_EVENTS_SQL = """
SELECT event_id, ts, event_type FROM events
ORDER BY ts DESC, event_id LIMIT 20
"""


@query("latest_events", oracle=_LATEST_EVENTS_SQL)
def latest_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 sort+limit (TakeOrdered — no full sort at scale), ties broken
    by event_id."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.orderBy(F.desc("ts"), F.asc("event_id"))
        .limit(20)
        .select("event_id", "ts", "event_type")
    )


# --- N3/N4 pandas-UDF NLP (rows-only: not SQL-expressible) ------------------


@query("stem_profile")
def stem_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N3 Porter stemming via Arrow-vectorized pandas UDF: corpus-level
    distinct-token counts before/after stemming (rows-only — the
    stemmer is Python; invariants in tests/test_text_functions.py)."""
    from data_pipeline_playground_spark.functions.nlp_udfs import stem_tokens_udf

    docs = table(spark, sf_dir, "documents")
    d = docs.select(tokenize(F.col("text")).alias("toks"))
    d = d.select(F.explode(stem_tokens_udf("toks")).alias("stem"))
    return d.agg(
        F.countDistinct("stem").alias("n_distinct_stems"),
        F.count(F.lit(1)).alias("n_tokens"),
    )


@query("pos_noun_profile")
def pos_noun_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N4 POS noun filter via pandas UDF (reference lda.py:21-29 keeps
    NNP/NNS): per-doc noun-ish token counts, aggregated per lang."""
    from data_pipeline_playground_spark.functions.nlp_udfs import pos_filter_nouns_udf

    docs = table(spark, sf_dir, "documents")
    d = docs.select("lang", tokenize(F.col("text")).alias("toks"))
    d = d.select("lang", F.size(pos_filter_nouns_udf("toks")).alias("n_nouns"))
    return d.groupBy("lang").agg(
        F.sum("n_nouns").alias("total_nouns"),
        F.count(F.lit(1)).alias("n_docs"),
    )


# --- per-source corpus health report (driver extension) ---------------------
#
# Round-12 consolidation (VERDICT r11 #5): the standalone
# `source_quality_report` entry (per-source volume / token mass /
# repetition / language spread) now rides `source_text_profile` — the
# same source-grain panel over the same documents scan; its metrics
# (total_chars, avg_tokens, avg_rep_frac, n_langs) ride the
# readability scan branch as additional algebraic aggregates under
# the shared oracle. n_docs was already a panel column.


# --- length-outlier trim (percentile bounds) --------------------------------

OUTLIER_LO, OUTLIER_HI = 0.01, 0.99

_OUTLIER_SQL = f"""
WITH b AS (
  SELECT round(quantile_cont(length(text), {OUTLIER_LO}), 6) AS lo,
         round(quantile_cont(length(text), {OUTLIER_HI}), 6) AS hi
  FROM documents
)
SELECT d.doc_id, length(d.text) AS n_chars
FROM documents d, b
WHERE length(d.text) >= b.lo AND length(d.text) <= b.hi
"""


@query("length_outlier_filter", oracle=_OUTLIER_SQL)
def length_outlier_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trim docs outside the [P1, P99] length band — the standard
    outlier pass before training-data tokenization. Exact interpolated
    percentiles here (both engines use linear interpolation, rounded
    to 6 before comparing so the oracle filter is bit-identical); at
    100 TB swap in approx_percentile — the t-digest sketch merges
    map-side, so the bounds pass is one scan + a 1-row broadcast,
    which is also the exact plan shape used here."""
    docs = table(spark, sf_dir, "documents")
    bounds = docs.agg(
        F.round(F.percentile(F.length("text"), F.lit(OUTLIER_LO)), 6).alias("lo"),
        F.round(F.percentile(F.length("text"), F.lit(OUTLIER_HI)), 6).alias("hi"),
    )
    return (
        docs.join(F.broadcast(bounds))
        .filter(
            (F.length("text") >= F.col("lo")) & (F.length("text") <= F.col("hi"))
        )
        .select("doc_id", F.length("text").alias("n_chars"))
    )


# --- tokenizer vocabulary coverage / OOV audit -------------------------------

VOCAB_SIZE = 24  # top-N train-split tokens kept in the vocabulary


def _vocab_coverage_sql() -> str:
    from data_pipeline_playground_spark.functions.text import sql_rolling_hash
    from data_pipeline_playground_spark.queries.sampling import (
        SPLIT_SALT,
        TRAIN_PCT,
        VAL_PCT,
    )

    key = f"'{SPLIT_SALT}' || CAST(doc_id AS VARCHAR)"
    bucket = f"{sql_rolling_hash(key)} % 100"
    return f"""
WITH b AS (
  SELECT source, {_SQL_TOKENS} AS toks, {bucket} AS bucket FROM documents
),
tr AS (SELECT unnest(toks) AS token FROM b WHERE bucket < {TRAIN_PCT}),
vocab AS (
  SELECT token FROM (
    SELECT token, count(*) AS cnt FROM tr GROUP BY token
  ) ORDER BY cnt DESC, token LIMIT {VOCAB_SIZE}
),
va AS (
  SELECT source, unnest(toks) AS token
  FROM b WHERE bucket >= {TRAIN_PCT} AND bucket < {VAL_PCT}
)
SELECT va.source AS source,
       count(*) AS n_tokens,
       count(CASE WHEN vocab.token IS NULL THEN 1 END) AS n_oov,
       round(count(CASE WHEN vocab.token IS NULL THEN 1 END) * 1.0
             / greatest(count(*), 1), 6) AS oov_rate
FROM va LEFT JOIN vocab ON va.token = vocab.token
GROUP BY va.source
"""


@query("vocab_coverage", oracle=_vocab_coverage_sql())
def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer vocabulary coverage audit: build the top-{VOCAB_SIZE}
    vocabulary from the TRAIN split (same salted-hash split as
    `dataset_split` — never RNG), then measure the out-of-vocabulary
    token rate per source on the VAL split. The pre-training gate that
    catches a domain whose text the tokenizer will shred into bytes.

    Shape: train tokens → partial-agg count → TakeOrderedAndProject
    (orderBy + limit never single-partitions the full token table) →
    broadcast the {VOCAB_SIZE}-row vocab into the val-token scan →
    one final shuffle on source. At 100 TB both explodes stream; the
    only wide ops are a count-by-token (combinable) and the tiny
    broadcast. Counts stay BIGINT on both engines (no HUGEINT sums).
    """
    from data_pipeline_playground_spark.functions.text import rolling_hash
    from data_pipeline_playground_spark.queries.sampling import (
        SPLIT_SALT,
        TRAIN_PCT,
        VAL_PCT,
    )

    docs = table(spark, sf_dir, "documents")
    bucket = (
        rolling_hash(F.concat(F.lit(SPLIT_SALT), F.col("doc_id").cast("string")))
        % 100
    )
    base = docs.select(
        "source", F.explode(tokenize(F.col("text"))).alias("token"), bucket.alias("bucket")
    )
    vocab = (
        base.filter(F.col("bucket") < TRAIN_PCT)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("token"))
        .limit(VOCAB_SIZE)
        .select(F.col("token").alias("v_token"))
    )
    val = base.filter(
        (F.col("bucket") >= TRAIN_PCT) & (F.col("bucket") < VAL_PCT)
    )
    joined = val.join(
        F.broadcast(vocab), val["token"] == vocab["v_token"], "left"
    )
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.count(F.when(F.col("v_token").isNull(), F.lit(1))).alias("n_oov"),
        F.round(
            F.count(F.when(F.col("v_token").isNull(), F.lit(1)))
            * F.lit(1.0)
            / F.greatest(F.count(F.lit(1)), F.lit(1)),
            6,
        ).alias("oov_rate"),
    )


# --- RAKE keyword extraction -------------------------------------------------

RAKE_TOP_K = 3
_RAKE_SCALE = 1_000_000

_SQL_STOP_IN = ", ".join(f"'{s}'" for s in STOPWORDS)

_RAKE_SQL = f"""
WITH tok AS (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
ph AS (
  SELECT doc_id, trim(p) AS phrase
  FROM (
    SELECT doc_id,
           unnest(string_split(array_to_string(
             list_transform(toks, t ->
               CASE WHEN t IN ({_SQL_STOP_IN}) THEN '|' ELSE t END), ' '),
             '|')) AS p
    FROM tok)
  WHERE trim(p) <> ''
),
pw AS (
  SELECT doc_id, phrase,
         unnest(string_split(phrase, ' ')) AS word,
         len(string_split(phrase, ' ')) AS wlen
  FROM ph
),
ws AS (
  SELECT doc_id, word,
         (CAST(sum(wlen) AS BIGINT) * {_RAKE_SCALE})
           // CAST(count(*) AS BIGINT) AS score_micro
  FROM pw GROUP BY doc_id, word
),
phd AS (SELECT DISTINCT doc_id, phrase FROM ph),
pwd AS (
  SELECT doc_id, phrase, unnest(string_split(phrase, ' ')) AS word FROM phd
),
sc AS (
  SELECT p.doc_id, p.phrase,
         CAST(sum(w.score_micro) AS BIGINT) AS score_micro
  FROM pwd p JOIN ws w ON w.doc_id = p.doc_id AND w.word = p.word
  GROUP BY p.doc_id, p.phrase
)
SELECT doc_id, phrase, score FROM (
  SELECT doc_id, phrase,
         CAST(score_micro AS DOUBLE) / CAST({_RAKE_SCALE} AS DOUBLE) AS score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score_micro DESC, phrase) AS rn
  FROM sc) t
WHERE rn <= {RAKE_TOP_K}
"""


@query("rake_keywords", oracle=_RAKE_SQL)
def rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose, Engel, Cramer & Cowley 2010):
    candidate phrases are maximal stopword-free token runs; each
    word's score is degree/frequency where freq counts the word's
    phrase occurrences and degree sums the lengths of the phrases it
    occurs in; a phrase scores the sum of its words' scores. Top-3
    phrases per document.

    Determinism: degree and frequency are exact ints, and the ratio is
    fixed-point — (deg · 1e6) DIV freq, integer floor division in both
    engines — so phrase scores are exact BIGINT sums (order-free, no
    float summation anywhere); ranking ties break on the phrase text
    and the single final /1e6 double division is shared.

    Plan: phrase splitting is a pure map (stopwords → '|' sentinel
    inside array transforms, then split); two hash aggs build word
    stats; the phrase re-score joins on (doc_id, word); top-3 is a
    per-doc window. All JVM-side.
    """
    docs = table(spark, sf_dir, "documents")
    toks = tokenize(F.col("text"))
    marked = F.transform(
        toks,
        lambda t: F.when(t.isin(*STOPWORDS), F.lit("|")).otherwise(t),
    )
    phrases = F.filter(
        F.transform(
            F.split(F.concat_ws(" ", marked), "\\|"), lambda p: F.trim(p)
        ),
        lambda p: p != F.lit(""),
    )
    ph = docs.select("doc_id", F.explode(phrases).alias("phrase"))
    words = F.split(F.col("phrase"), " ")
    pw = ph.select(
        "doc_id",
        "phrase",
        F.size(words).alias("wlen"),
        F.explode(words).alias("word"),
    )
    ws = pw.groupBy("doc_id", "word").agg(
        F.expr(
            f"(CAST(sum(wlen) AS BIGINT) * {_RAKE_SCALE}) DIV "
            "CAST(count(*) AS BIGINT)"
        ).alias("score_micro")
    )
    phd = ph.distinct()
    pwd = phd.select("doc_id", "phrase", F.explode(words).alias("word"))
    sc = (
        pwd.join(ws, ["doc_id", "word"])
        .groupBy("doc_id", "phrase")
        .agg(F.sum("score_micro").cast("bigint").alias("score_micro"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score_micro"), F.asc("phrase")
    )
    return (
        sc.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= RAKE_TOP_K)
        .select(
            "doc_id",
            "phrase",
            (
                F.col("score_micro").cast("double")
                / F.lit(_RAKE_SCALE).cast("double")
            ).alias("score"),
        )
    )


# --- per-source text profile (lexical diversity + readability) ---------------

# ONE expression text both engines evaluate over identical int64
# counts: every division/multiply is IEEE-deterministic given equal
# inputs, and the Flesch constants parse from strings to the same
# nearest double in both engines.
_FRE_EXPR = (
    "CAST('206.835' AS DOUBLE)"
    " - CAST('1.015' AS DOUBLE)"
    "   * (CAST(n_words AS DOUBLE) / CAST(n_docs AS DOUBLE))"
    " - CAST('84.6' AS DOUBLE)"
    "   * (CAST(n_syllables AS DOUBLE)"
    "      / CAST(GREATEST(n_words, CAST(1 AS BIGINT)) AS DOUBLE))"
)

_TEXT_PROFILE_SQL = f"""
WITH tok AS (
  SELECT source, unnest({_SQL_TOKENS}) AS term FROM documents
),
tf AS (SELECT source, term, CAST(count(*) AS BIGINT) AS c
       FROM tok GROUP BY source, term),
lex AS (
  SELECT source,
         CAST(sum(c) AS BIGINT) AS tokens,
         CAST(count(*) AS BIGINT) AS types,
         CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapaxes
  FROM tf GROUP BY source
),
d AS (
  SELECT source, lang, length(text) AS n_chars,
         len({_SQL_TOKENS}) AS n_toks,
         len(list_distinct({_SQL_TOKENS})) AS n_dist,
         len(regexp_extract_all(text, '[a-z]+')) AS w,
         len(regexp_extract_all(text, '[aeiouy]+')) AS s
  FROM documents
),
agg AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(SUM(w) AS BIGINT) AS n_words,
         CAST(SUM(s) AS BIGINT) AS n_syllables,
         CAST(sum(n_chars) AS BIGINT) AS total_chars,
         round(avg(n_toks), 6) AS avg_tokens,
         round(avg((n_toks - n_dist) * 1.0 / greatest(n_toks, 1)), 6)
           AS avg_rep_frac,
         count(DISTINCT lang) AS n_langs
  FROM d GROUP BY source
)
SELECT agg.source, n_docs, n_words, n_syllables,
       CAST(n_words AS DOUBLE) / CAST(n_docs AS DOUBLE) AS words_per_doc,
       CAST(n_syllables AS DOUBLE)
         / CAST(GREATEST(n_words, CAST(1 AS BIGINT)) AS DOUBLE)
         AS syllables_per_word,
       {_FRE_EXPR} AS flesch_score,
       tokens, types, hapaxes,
       CAST(types AS DOUBLE) / CAST(tokens AS DOUBLE) AS ttr,
       CAST(hapaxes AS DOUBLE) / CAST(types AS DOUBLE) AS hapax_ratio,
       total_chars, avg_tokens, avg_rep_frac, n_langs
FROM agg JOIN lex ON lex.source = agg.source
"""


@query("source_text_profile", oracle=_TEXT_PROFILE_SQL)
def source_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source text-health profile: lexical diversity (token count,
    type count, hapax legomena, type-token ratio, hapax share — the
    vocabulary-richness inputs to Heaps'-law growth estimates that
    separate template/boilerplate sources from organic text) AND the
    Flesch-style readability block (word count via letter runs,
    syllable proxy via vowel-group runs — the standard dictionary-free
    estimator — and the Flesch score with the document as sentence
    unit: the corpus is punctuation-free synthetic text, so sentence
    segmentation deliberately falls back to document boundaries; on
    punctuated corpora the sentence count would come from terminator
    runs). Round-10 consolidation of lexical_diversity +
    doc_readability; round 12 absorbed `source_quality_report` too —
    the per-source data-ops health rollup (char volume, mean token
    mass, mean repetition fraction, language spread) rides the same
    readability scan branch as four more algebraic aggregates.

    Counts are exact ints; every ratio and the Flesch score are single
    shared double expressions. Plan: explode → (source, term) agg →
    source rollup for the lexical block; single scan → per-doc regexp
    counts (JVM-side, no UDF) → one source-keyed int64 aggregate for
    the readability + health block (map-side combinable;
    countDistinct(lang) expands but lang cardinality is tiny); the
    final join is source-cardinality."""
    docs = table(spark, sf_dir, "documents")
    toks = tokenize(F.col("text"))
    tf = (
        docs.select(
            "source", F.explode(toks).alias("term")
        )
        .groupBy("source", "term")
        .agg(F.count("*").alias("c"))
    )
    lex = tf.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("tokens"),
        F.count("*").cast("bigint").alias("types"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("hapaxes"),
    )
    agg = (
        docs.select(
            "source",
            "lang",
            F.length("text").alias("n_chars"),
            F.size(toks).alias("n_toks"),
            F.size(F.array_distinct(toks)).alias("n_dist"),
            F.size(F.regexp_extract_all("text", F.lit("[a-z]+"), F.lit(0))).alias("w"),
            F.size(F.regexp_extract_all("text", F.lit("[aeiouy]+"), F.lit(0))).alias("s"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("w").cast("bigint").alias("n_words"),
            F.sum("s").cast("bigint").alias("n_syllables"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.round(F.avg("n_toks"), 6).alias("avg_tokens"),
            F.round(
                F.avg(
                    (F.col("n_toks") - F.col("n_dist"))
                    * F.lit(1.0)
                    / F.greatest(F.col("n_toks"), F.lit(1))
                ),
                6,
            ).alias("avg_rep_frac"),
            F.countDistinct("lang").alias("n_langs"),
        )
    )
    return agg.join(lex, "source").select(
        "source",
        "n_docs",
        "n_words",
        "n_syllables",
        (F.col("n_words").cast("double") / F.col("n_docs").cast("double")).alias(
            "words_per_doc"
        ),
        F.expr(
            "CAST(n_syllables AS DOUBLE)"
            " / CAST(GREATEST(n_words, CAST(1 AS BIGINT)) AS DOUBLE)"
        ).alias("syllables_per_word"),
        F.expr(_FRE_EXPR).alias("flesch_score"),
        "tokens",
        "types",
        "hapaxes",
        (F.col("types").cast("double") / F.col("tokens").cast("double"))
        .alias("ttr"),
        (F.col("hapaxes").cast("double") / F.col("types").cast("double"))
        .alias("hapax_ratio"),
        "total_chars",
        "avg_tokens",
        "avg_rep_frac",
        "n_langs",
    )


# --- source-diversity profile --------------------------------------------------

_EFFECTIVE_SOURCES_SQL = """
WITH ls AS (
  SELECT lang, source, CAST(count(*) AS BIGINT) AS n
  FROM documents GROUP BY lang, source
)
SELECT lang,
       CAST(SUM(n) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_sources,
       (CAST(CAST(SUM(n) AS BIGINT) AS DOUBLE)
        * CAST(CAST(SUM(n) AS BIGINT) AS DOUBLE))
         / CAST(CAST(SUM(n * n) AS BIGINT) AS DOUBLE)
         AS inv_simpson_sources,
       CAST(MAX(n) AS DOUBLE) / CAST(CAST(SUM(n) AS BIGINT) AS DOUBLE)
         AS top_source_share
FROM ls GROUP BY lang
"""


@query("source_effective_number", oracle=_EFFECTIVE_SOURCES_SQL)
def source_effective_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective number of sources per language — the inverse-Simpson
    diversity N²/Σnᵢ² (Hill number of order 2): how many EQUALLY-SIZED
    sources the mix behaves like, plus the top-source share. The
    training-mix health check that catches 'twenty sources on paper,
    two in effect' — logarithm-free, so it stays bit-identical across
    engines (cf. the entropy-based twin, which would need ln).

    Two combinable hash aggregations ((lang, source), then lang);
    moments are exact int64; the two ratios are shared double
    expressions. Σn² fits int64 through ~3B docs per (lang, source)
    profile — beyond that, pre-bucket sources.
    """
    docs = table(spark, sf_dir, "documents")
    ls = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n"))
    return ls.groupBy("lang").agg(
        F.sum("n").alias("n_docs"),
        F.count(F.lit(1)).alias("n_sources"),
        (
            (F.sum("n").cast("double") * F.sum("n").cast("double"))
            / F.sum(F.col("n") * F.col("n")).cast("double")
        ).alias("inv_simpson_sources"),
        (F.max("n").cast("double") / F.sum("n").cast("double")).alias(
            "top_source_share"
        ),
    )


# --- language-ID confusion matrix ---------------------------------------------

_LANG_CONFUSION_SQL = f"""
WITH t AS (SELECT doc_id, lang, {_SQL_TOKENS} AS toks FROM documents),
h AS (SELECT doc_id, lang, {_LANG_HITS_SQL} FROM t),
m AS (SELECT *, greatest({", ".join("h_" + code for code in sorted(_LANG_MARKERS))}) AS h_max FROM h),
p AS (SELECT lang AS actual_lang, {_LANG_BEST_SQL} AS lang_pred FROM m),
c AS (
  SELECT actual_lang, lang_pred, CAST(count(*) AS BIGINT) AS n_docs
  FROM p GROUP BY actual_lang, lang_pred
)
SELECT actual_lang, lang_pred, n_docs,
       CAST(n_docs AS DOUBLE)
         / CAST(SUM(n_docs) OVER (PARTITION BY actual_lang) AS DOUBLE)
         AS recall_share,
       actual_lang = lang_pred AS correct
FROM c
"""


@query("lang_id_confusion", oracle=_LANG_CONFUSION_SQL)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the marker-lexicon language identifier
    against the corpus's labeled `lang` column: per (actual,
    predicted) cell, document count and the share of the actual
    language it represents (per-class recall on the diagonal) — the
    evaluation harness for the `lang_id` heuristic, the same check a
    pipeline runs before trusting predicted language for routing.

    One scan → per-doc marker hits (JVM higher-order filters, shared
    definition with lang_id) → one (actual, pred) aggregate; the
    recall share is a window over the ≤|langs|² confusion cells.
    """
    docs = table(spark, sf_dir, "documents")
    toks = tokenize(F.col("text"))
    p = docs.select(
        F.col("lang").alias("actual_lang"),
        lang_pred_col(toks).alias("lang_pred"),
    )
    c = p.groupBy("actual_lang", "lang_pred").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    w = Window.partitionBy("actual_lang")
    return c.select(
        "actual_lang",
        "lang_pred",
        "n_docs",
        (F.col("n_docs").cast("double") / F.sum("n_docs").over(w).cast("double")).alias(
            "recall_share"
        ),
        (F.col("actual_lang") == F.col("lang_pred")).alias("correct"),
    )
