"""Corpus-level LM statistics + span dedup + tokenizer induction +
canonical selection (SURVEY §2.12/§2.13 — driver-mandated LLM-pipeline
extensions beyond the reference surface).

The reference's text handling stops at word tokens and TF-IDF
(`/root/reference/cluster.py:12-18`, `lda.py:19-29`); a training-data
pipeline additionally needs (a) an n-gram LM quality signal beyond the
unigram proxy, (b) cross-document repeated-span detection (the
ExactSubstr dedup signal of Lee et al. 2022, "Deduplicating Training
Data Makes Language Models Better"), (c) the first iteration of BPE
tokenizer training (Sennrich et al. 2016: most frequent adjacent
symbol pair), and (d) canonical-document selection inside near-dup
clusters (keep the best member, not blindly the min id).

All four are fully oracle-checked. Float scores are rounded before any
ranking (ulp-proof, see queries/retrieval.py); the BPE and span
operators rank by exact integers so no rounding is needed at all.

Scale notes (100 TB):
- bigram model: one explode + two vocabulary-shaped aggregates; the
  bigram-count table is pair-vocab-sized — broadcast while it fits,
  shuffle join on (w1, w2) when it doesn't; either way the per-doc
  aggregate stays map-side combinable on doc_id.
- duplicate_spans: shuffle key is the span text (at scale: its
  xxhash64, keeping only min(span) per hash) — one explode + one
  combinable count; never a pairwise doc join.
- BPE induction (riding bpe_encode since the round-12 consolidation):
  pair counting runs over the DISTINCT-word table weighted by word
  frequency, so cost is vocabulary-shaped, not corpus-shaped —
  exactly how real BPE trainers batch it.
- dedup_keep_best: reuses the memoized MinHash candidate pairs and the
  iterative components operator; the argmax is a per-component window
  whose partitions are component-sized (bounded by cluster size, never
  corpus size).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_pipeline_playground_spark.functions.text import tokenize
from data_pipeline_playground_spark.queries.dedup_advanced import (
    _MINHASH_CTES,
    _minhash_est,
    SIM_THRESHOLD,
)
from data_pipeline_playground_spark.registry import query
from data_pipeline_playground_spark.tables import table

_SQL_TOKENS = (
    "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')"
)

# ---- bigram log-probability (perplexity proxy, order-2) --------------------

BIGRAM_ALPHA = 0.5  # add-alpha smoothing

_BIGRAM_SQL = f"""
WITH t AS (
  SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents
  WHERE len({_SQL_TOKENS}) >= 2
),
bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(toks)),
                               i -> [toks[i], toks[i + 1]])) AS b
  FROM t
),
bge AS (SELECT doc_id, b[1] AS w1, b[2] AS w2 FROM bg),
cb AS (SELECT w1, w2, count(*) AS c12 FROM bge GROUP BY w1, w2),
c1 AS (SELECT w1, count(*) AS c1 FROM bge GROUP BY w1),
v AS (
  SELECT count(DISTINCT term) AS v
  FROM (SELECT unnest(toks) AS term FROM t)
)
SELECT e.doc_id,
       round(avg(ln((cb.c12 + {BIGRAM_ALPHA})
                    / (c1.c1 + {BIGRAM_ALPHA} * v.v))), 6)
         AS avg_bigram_logprob
FROM bge e
JOIN cb USING (w1, w2)
JOIN c1 USING (w1)
CROSS JOIN v
GROUP BY e.doc_id
"""


@query("bigram_logprob", oracle=_BIGRAM_SQL)
def bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean bigram conditional log-probability under the
    corpus's own add-0.5-smoothed bigram model — the order-2 upgrade of
    `unigram_logprob` (CCNet-style perplexity quality filter). The
    bigram/context count tables are vocabulary-shaped and broadcast
    (falling back to a shuffle join on the bigram key at web scale);
    the per-doc average is one map-side-combinable aggregate on
    doc_id. Guarded to docs with ≥2 tokens so both engines score the
    identical row set."""
    docs = table(spark, sf_dir, "documents")
    t = (
        docs.select("doc_id", tokenize(F.col("text")).alias("toks"))
        .filter(F.size("toks") >= 2)
        .localCheckpoint(eager=True)
    )
    bge = t.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 1), "
                "i -> struct(element_at(toks, i) AS w1, "
                "element_at(toks, i + 1) AS w2))"
            )
        ).alias("bg"),
    ).select("doc_id", "bg.w1", "bg.w2")
    cb = bge.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = bge.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    v = t.select(F.explode("toks").alias("term")).agg(
        F.countDistinct("term").alias("v")
    )
    lp = F.log(
        (F.col("c12") + F.lit(BIGRAM_ALPHA))
        / (F.col("c1") + F.lit(BIGRAM_ALPHA) * F.col("v"))
    )
    return (
        bge.join(F.broadcast(cb), ["w1", "w2"])
        .join(F.broadcast(c1), "w1")
        .crossJoin(F.broadcast(v))
        .groupBy("doc_id")
        .agg(F.round(F.avg(lp), 6).alias("avg_bigram_logprob"))
    )


# ---- cross-document duplicate spans (ExactSubstr signal) -------------------

SPAN_W = 8  # tokens per span window, stride 1

_SPANS_SQL = f"""
WITH t AS (
  SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents
  WHERE len({_SQL_TOKENS}) >= {SPAN_W}
),
s AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
             range(1, len(toks) - {SPAN_W} + 2),
             i -> array_to_string(list_slice(toks, i, i + {SPAN_W} - 1), ' ')
         ))) AS span
  FROM t
)
SELECT span, count(*) AS n_docs, min(doc_id) AS first_doc
FROM s GROUP BY span HAVING count(*) >= 2
"""


@query("duplicate_spans", oracle=_SPANS_SQL)
def duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim {SPAN_W}-token windows (stride 1) that appear in ≥2
    distinct documents — the span-granular duplication signal behind
    ExactSubstr dedup (Lee et al. 2022): boilerplate, licenses, and
    templated text surface here even when whole-document similarity is
    low. One explode + one combinable count grouped by span; per-doc
    windows are pre-deduped so `count(*)` IS the distinct-doc count.
    At 100 TB the shuffle key becomes xxhash64(span) with min(span)
    kept per hash (8-byte keys instead of span text); the plan shape
    is unchanged."""
    docs = table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokenize(F.col("text")).alias("toks")).filter(
        F.size("toks") >= SPAN_W
    )
    spans = t.select(
        "doc_id",
        F.explode(
            F.expr(
                f"array_distinct(transform(sequence(1, size(toks) - {SPAN_W} + 1), "
                f"i -> concat_ws(' ', slice(toks, i, {SPAN_W}))))"
            )
        ).alias("span"),
    )
    return (
        spans.groupBy("span")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("first_doc"))
        .filter(F.col("n_docs") >= 2)
    )


# ---- ExactSubstr maximal duplicated spans (VERDICT r7 #5) -------------------
#
# duplicate_spans (above) flags fixed-8-token repeated windows; the
# operator a training pipeline actually runs (Lee et al. 2022,
# "Deduplicating Training Data Makes Language Models Better" —
# ExactSubstr) removes MAXIMAL duplicated substrings above a length
# floor. Distributed formulation: stride-1 W-token windows keyed by
# window text; matched window-position pairs land on a (doc_a, doc_b,
# pos_a − pos_b) DIAGONAL, where a run of L consecutive matching
# positions is exactly a duplicated substring of L + W − 1 tokens,
# maximal because the bounding windows fail to match. Runs come from
# one gaps-and-islands pass (row_number per diagonal), so the whole
# operator is two shuffles + a window — no recursion, no all-pairs.

EXSUB_MIN_TOKENS = 16  # report spans at least this many tokens
EXSUB_MAX_OCC = 64  # heavy-hitter guard: skip window texts beyond this

_EXSUB_CTES = f"""
WITH t AS (
  SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents
  WHERE len({_SQL_TOKENS}) >= {SPAN_W}
),
w AS (
  SELECT doc_id, CAST(i AS BIGINT) AS p,
         array_to_string(list_slice(toks, i, i + {SPAN_W} - 1), ' ') AS span
  FROM (SELECT doc_id, toks,
               unnest(range(1, len(toks) - {SPAN_W} + 2)) AS i
        FROM t)
),
occ AS (
  SELECT doc_id, p, span,
         count(*) OVER (PARTITION BY span) AS n_occ
  FROM w
),
keep AS (SELECT doc_id, p, span FROM occ
         WHERE n_occ >= 2 AND n_occ <= {EXSUB_MAX_OCC}),
pairs AS (
  SELECT a.doc_id AS doc_a, a.p AS pa, b.doc_id AS doc_b, b.p AS pb
  FROM keep a JOIN keep b
    ON a.span = b.span
   AND (a.doc_id < b.doc_id OR (a.doc_id = b.doc_id AND a.p < b.p))
),
isl AS (
  SELECT doc_a, doc_b, pa, pb,
         pa - row_number() OVER (PARTITION BY doc_a, doc_b, pa - pb
                                 ORDER BY pa) AS grp
  FROM pairs
),
spans AS (
  SELECT doc_a, doc_b,
         CAST(min(pa) AS BIGINT) AS pos_a,
         CAST(min(pb) AS BIGINT) AS pos_b,
         CAST(count(*) + {SPAN_W} - 1 AS BIGINT) AS span_tokens
  FROM isl
  GROUP BY doc_a, doc_b, pa - pb, grp
  HAVING count(*) + {SPAN_W} - 1 >= {EXSUB_MIN_TOKENS}
)"""

_EXSUB_SQL = (
    _EXSUB_CTES
    + "\nSELECT doc_a, doc_b, pos_a, pos_b, span_tokens FROM spans\n"
)

# ExactSubstr REMOVAL half (Lee et al. 2022 §4; VERDICT r8 #5 / r9 #5):
# for every duplicated span the LATER occurrence (the b side — larger
# doc_id, or larger position within a doc) is excised, so the earliest
# copy is the one the corpus keeps. Covered token positions are
# exploded and DISTINCT-deduped (overlapping spans merge for free —
# no interval-union window needed), then each doc's kept tokens are a
# pure JVM index-filter over its token array: no token-level shuffle,
# no reassembly sort — the only corpus-shaped work is the spans
# pipeline itself plus one doc-keyed join of the (small) removal lists.
_EXSUB_REMOVED_SQL = (
    _EXSUB_CTES
    + f""",
rem AS (
  SELECT DISTINCT doc_b AS doc_id,
         CAST(unnest(range(pos_b, pos_b + span_tokens)) AS BIGINT) AS p
  FROM spans
),
remlist AS (
  SELECT doc_id, list(p ORDER BY p) AS rem_ps,
         CAST(count(*) AS BIGINT) AS tokens_removed
  FROM rem GROUP BY doc_id
),
alld AS (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents)
SELECT d.doc_id,
       CAST(len(d.toks) AS BIGINT) AS tokens_in,
       COALESCE(r.tokens_removed, 0) AS tokens_removed,
       CAST(len(d.toks) - COALESCE(r.tokens_removed, 0) AS BIGINT)
         AS tokens_out,
       COALESCE(array_to_string(
         CASE WHEN r.doc_id IS NULL THEN d.toks
              ELSE list_filter(d.toks,
                     (x, i) -> NOT list_contains(r.rem_ps,
                                                 CAST(i AS BIGINT)))
         END, ' '), '') AS text_clean
       -- COALESCE: DuckDB array_to_string([]) is NULL while Spark's
       -- array_join([]) is '' — fully-excised docs must agree
FROM alld d LEFT JOIN remlist r USING (doc_id)
WHERE len(d.toks) >= COALESCE(r.tokens_removed, 0)
"""
)


@query("exact_substr_spans", oracle=_EXSUB_SQL)
def exact_substr_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated substrings ≥ {EXSUB_MIN_TOKENS} tokens, per
    occurrence pair: (doc_a, doc_b, pos_a, pos_b, span_tokens) with
    1-based token positions — the ExactSubstr removal unit (Lee et al.
    2022), distributed without a suffix array (see the section comment
    for the diagonal-islands construction and its maximality argument).

    Exactness: the join key is the raw window TEXT, so matches are
    literal; at 100 TB the key becomes xxhash64(window) (8-byte
    shuffle keys, same plan — the duplicate_spans note applies). The
    heavy-hitter guard drops window texts with > {EXSUB_MAX_OCC}
    occurrences (df² join-guard; boilerplate that frequent is caught
    by duplicate_spans and would be removed wholesale, not span-wise),
    mirrored in the oracle. Windows partition by (doc_a, doc_b,
    diagonal) — bounded by a single document pair's overlap, never
    global.

    Round 14: the span frame is memoized per (session, sf_dir) — this
    query, exact_substr_removed and corpus_funnel's span-dedup gate
    each re-ran the identical window/sort pipeline (~2 s at sf0.1);
    the span list is the removal plan a real ExactSubstr pass persists
    anyway. Booked to memo_build:exsub_spans."""
    from data_pipeline_playground_spark.caching import memo

    def build() -> DataFrame:
        return _exact_substr_spans_build(
            spark, sf_dir
        ).localCheckpoint(eager=True)

    return memo(spark, "exsub_spans", sf_dir, build)


def _exact_substr_spans_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokenize(F.col("text")).alias("toks")).filter(
        F.size("toks") >= SPAN_W
    )
    w = t.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, size(toks) - {SPAN_W} + 1), "
                f"i -> concat_ws(' ', slice(toks, i, {SPAN_W})))"
            )
        ).alias("p0", "span"),
    ).select(
        "doc_id", (F.col("p0") + 1).cast("bigint").alias("p"), "span"
    )
    occ = w.withColumn(
        "n_occ", F.count(F.lit(1)).over(Window.partitionBy("span"))
    )
    keep = occ.filter(
        (F.col("n_occ") >= 2) & (F.col("n_occ") <= EXSUB_MAX_OCC)
    ).select("doc_id", "p", "span")
    a = keep.select(
        F.col("doc_id").alias("doc_a"), F.col("p").alias("pa"),
        F.col("span").alias("span_a"),
    )
    b = keep.select(
        F.col("doc_id").alias("doc_b"), F.col("p").alias("pb"),
        F.col("span").alias("span_b"),
    )
    pairs = a.join(
        b,
        (F.col("span_a") == F.col("span_b"))
        & (
            (F.col("doc_a") < F.col("doc_b"))
            | ((F.col("doc_a") == F.col("doc_b")) & (F.col("pa") < F.col("pb")))
        ),
    ).select("doc_a", "pa", "doc_b", "pb")
    diag = F.col("pa") - F.col("pb")
    w_isl = Window.partitionBy("doc_a", "doc_b", diag).orderBy("pa")
    isl = pairs.withColumn(
        "grp", F.col("pa") - F.row_number().over(w_isl)
    )
    return (
        isl.groupBy("doc_a", "doc_b", diag.alias("diag"), "grp")
        .agg(
            F.min("pa").cast("bigint").alias("pos_a"),
            F.min("pb").cast("bigint").alias("pos_b"),
            (F.count(F.lit(1)) + SPAN_W - 1).cast("bigint").alias("span_tokens"),
        )
        .filter(F.col("span_tokens") >= EXSUB_MIN_TOKENS)
        .select("doc_a", "doc_b", "pos_a", "pos_b", "span_tokens")
    )


@query("exact_substr_removed", oracle=_EXSUB_REMOVED_SQL)
def exact_substr_removed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REMOVAL half of ExactSubstr dedup (Lee et al. 2022 §4 —
    VERDICT r8 #5): every document rewritten with its duplicated spans
    excised. For each maximal span pair from exact_substr_spans the
    LATER occurrence (the b side: larger doc_id, or larger position
    within one doc) is removed, so the corpus keeps exactly the
    earliest copy of every duplicated substring. Emits per-doc token
    conservation columns — tokens_out + tokens_removed = tokens_in is
    pinned in tests (tests/test_dedup.py::test_exact_substr_removal_conserves_tokens).

    Scale shape: covered positions explode from the (small) span
    frame and DISTINCT-dedupe, so overlapping spans merge without an
    interval-union window; each doc's kept tokens are then a pure JVM
    index-filter over its token array (no token-level shuffle, no
    reassembly sort) — the corpus-shaped work is the spans pipeline
    plus one doc-keyed left join of removal-position lists. Per-doc
    removal lists are bounded by document length, never corpus-sized.

    Measurement note (round 10): under an aggregate-only consumer —
    bench's ``.count()`` — Catalyst ELIMINATES the left-outer join
    outright (the grouped remlist side has unique join keys and no
    right-side column survives column pruning), so the entire spans
    pipeline never executes and the query reads as ~0.5 s regardless
    of scale. Lovely at 100 TB (a row-count audit of the rewrite is
    free); dishonest as a benchmark. The trailing conservation guard
    (``tokens_in >= tokens_removed`` — vacuously true, pinned by the
    conservation test) references the join output, which blocks the
    elimination so the measured plan is the plan a real consumer
    (writing ``text_clean``) pays. Mirrored in the oracle.
    """
    docs = table(spark, sf_dir, "documents")
    spans = exact_substr_spans(spark, sf_dir)
    rem = spans.select(
        F.col("doc_b").alias("doc_id"),
        F.explode(
            F.sequence(
                F.col("pos_b"), F.col("pos_b") + F.col("span_tokens") - 1
            )
        ).alias("p"),
    ).distinct()
    remlist = rem.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("p")).alias("rem_ps"),
        F.count(F.lit(1)).cast("bigint").alias("removed"),
    )
    d = docs.select("doc_id", tokenize(F.col("text")).alias("toks"))
    j = d.join(remlist, "doc_id", "left")
    # kept positions via array_except (hash-set build, O(tokens +
    # removed) per doc, order-preserving over the strictly-increasing
    # sequence) — the round-10 array_contains-in-a-filter-lambda form
    # was O(tokens × removed) per doc (VERDICT r10 wrong#4). A doc with
    # a non-null rem_ps always has ≥ EXSUB_MIN_TOKENS tokens (its own
    # removal positions came from its token stream), so the sequence
    # bounds are valid and every rem position is ≤ size(toks).
    kept_pos = F.array_except(
        F.sequence(
            F.lit(1).cast("bigint"), F.size("toks").cast("bigint")
        ),
        F.col("rem_ps"),
    )
    kept = F.when(F.col("rem_ps").isNull(), F.col("toks")).otherwise(
        F.transform(
            kept_pos, lambda p: F.element_at(F.col("toks"), p.cast("int"))
        )
    )
    removed0 = F.coalesce(F.col("removed"), F.lit(0)).cast("bigint")
    return j.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("tokens_in"),
        removed0.alias("tokens_removed"),
        (F.size("toks").cast("bigint") - removed0).alias("tokens_out"),
        F.array_join(kept, " ").alias("text_clean"),
    ).filter(
        # in-plan conservation guard — see docstring measurement note
        F.col("tokens_in") >= F.col("tokens_removed")
    )


# ---- BPE tokenizer: induction + apply ---------------------------------------

BPE_TOPK = 20

# Round-12 consolidation (VERDICT r11 #5): the standalone
# `bpe_top_merges` entry (top-{BPE_TOPK} adjacent character pairs by
# corpus frequency — the FIRST-merge candidate set of BPE training,
# Sennrich et al. 2016) now rides `bpe_encode`: the encode query
# derives the identical rank-ordered merge table internally
# (`_bpe_top_merges_frame` — same vocabulary-shaped pair count, same
# freq-DESC/pair-ASC order, plans as TakeOrderedAndProject), and its
# oracle replays that induction in the recursive CTE, so a wrong pair,
# frequency, or rank perturbs the value-checked encodings. The induced
# table itself additionally stays DIRECTLY oracle-checked by
# tests/test_regression_pins.py (the old standalone oracle SQL,
# retargeted — _BPE_INDUCE_SQL below).

_BPE_INDUCE_SQL = f"""
WITH tok AS (SELECT unnest({_SQL_TOKENS}) AS w FROM documents),
wc AS (
  SELECT w, count(*) AS c FROM tok WHERE length(w) >= 2 GROUP BY w
),
pairs AS (
  SELECT unnest(list_transform(range(1, length(w)),
             i -> substring(w, i, 1) || ' ' || substring(w, i + 1, 1))) AS pair,
         c
  FROM wc
)
SELECT pair, CAST(sum(c) AS BIGINT) AS freq FROM pairs GROUP BY pair
QUALIFY row_number() OVER (ORDER BY sum(c) DESC, pair) <= {BPE_TOPK}
"""


def _bpe_top_merges_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The induced top-{BPE_TOPK} merge table (pair, freq) — BPE
    training's first-merge candidate set over the frequency-weighted
    DISTINCT-word table. Consumed by bpe_encode (rank order derived
    from it) and oracle-checked directly by the retargeted invariant
    test."""
    docs = table(spark, sf_dir, "documents")
    wc = (
        docs.select(F.explode(tokenize(F.col("text"))).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pairs = wc.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(w) - 1), "
                "i -> concat(substring(w, i, 1), ' ', substring(w, i + 1, 1)))"
            )
        ).alias("pair"),
        "c",
    )
    freq = pairs.groupBy("pair").agg(F.sum("c").alias("freq"))
    return freq.orderBy(F.desc("freq"), F.asc("pair")).limit(BPE_TOPK)

# ---- BPE tokenizer APPLY: encode text with the induced merge table ---------

# bpe_top_merges INDUCES a merge table; this is the other half a
# training pipeline needs — APPLYING a fixed merge table to encode
# text (VERDICT r5 #3: "apply, not just induction"; reference
# tokenization surface lda.py:19-29, generalized per the brief).
#
# Symbol-sequence encoding trick: each word is rewritten as wrapped
# symbols  "<b><a><n><a><n><a>"  and a merge (a,b)→ab is ONE literal
# string replace  "<a><b>" → "<ab>" . Wrapping makes cross-symbol
# matches impossible and boundary characters unshared, so plain
# `replace` (left-to-right, non-overlapping, both engines identical)
# IS the leftmost-first BPE merge pass. With character-pair rules the
# merged output symbols (2 chars) can never feed another rule, so
# applying the K rules sequentially in rank order is exactly the
# classic priority-queue BPE apply. Tokens are [a-z0-9] only
# (functions/text.py TOKEN_SPLIT_RE), so '<' and '>' are safe
# sentinels.
#
# Scale shape: the merge table is a ≤{BPE_TOPK}-row broadcast (real
# tokenizers ship ~50k merges — still broadcast-sized); encoding runs
# over the DISTINCT-word table (vocabulary-shaped, like real BPE
# trainers), entirely in JVM codegen via one higher-order
# `aggregate` fold of `replace` calls — no Python, no shuffle beyond
# the vocab aggregate. Re-weighting to corpus scale is the `freq`
# column. The oracle replays the identical fold as a recursive CTE,
# one merge rank per iteration (MATERIALIZED merge table — DuckDB
# re-evaluates non-recursive CTEs per iteration otherwise).

_BPE_ENCODE_SQL = f"""
WITH RECURSIVE tok AS (SELECT unnest({_SQL_TOKENS}) AS w FROM documents),
wc AS MATERIALIZED (SELECT w, count(*) AS c FROM tok GROUP BY w),
bp AS (
  SELECT unnest(list_transform(range(1, length(w)),
             i -> substring(w, i, 1) || ' ' || substring(w, i + 1, 1))) AS pair,
         c
  FROM wc WHERE length(w) >= 2
),
mr AS (
  SELECT pair, row_number() OVER (ORDER BY sum(c) DESC, pair) AS rank
  FROM bp GROUP BY pair
  QUALIFY rank <= {BPE_TOPK}
),
m2 AS MATERIALIZED (
  SELECT rank,
         '<' || replace(pair, ' ', '><') || '>' AS pat,
         '<' || replace(pair, ' ', '') || '>' AS rep
  FROM mr
),
enc(rank, w, c, seq) AS (
  SELECT 0, w, c, regexp_replace(w, '(.)', '<\\1>', 'g') FROM wc
  UNION ALL
  SELECT e.rank + 1, e.w, e.c, replace(e.seq, m.pat, m.rep)
  FROM enc e JOIN m2 m ON m.rank = e.rank + 1
)
SELECT w AS word, c AS freq,
       trim(replace(seq, '><', ' '), '<>') AS encoded,
       CAST(len(string_split(trim(replace(seq, '><', ' '), '<>'), ' '))
            AS BIGINT) AS n_tokens
FROM enc WHERE rank = (SELECT max(rank) FROM m2)
"""


@query("bpe_encode", oracle=_BPE_ENCODE_SQL)
def bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer APPLY: encode every distinct corpus word with the
    top-{BPE_TOPK} merge table that bpe_top_merges induces, in rank
    order — leftmost-first merge semantics via wrapped-symbol string
    rewrites (see block comment). Output is vocabulary-shaped:
    (word, corpus freq, space-joined BPE symbols, symbol count);
    per-document token streams are this table equi-joined back on the
    word — deliberately not materialized here (corpus-shaped).
    The fold is a single JVM higher-order `aggregate` over a one-row
    broadcast merge array; the oracle replays the same rank-ordered
    rewrites as a recursive CTE, so the encoded sequences are checked
    value-for-value."""
    docs = table(spark, sf_dir, "documents")
    wc = (
        docs.select(F.explode(tokenize(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    topk = _bpe_top_merges_frame(spark, sf_dir)
    # rank order without any window: sort_array on (-freq, pair, ...)
    # structs reproduces (freq DESC, pair ASC) — the whole table
    # becomes ONE array row, broadcast to every vocab partition
    merges = topk.select(
        F.struct(
            (-F.col("freq")).alias("nf"),
            F.col("pair").alias("pr"),
            F.concat(
                F.lit("<"), F.replace(F.col("pair"), F.lit(" "), F.lit("><")), F.lit(">")
            ).alias("pat"),
            F.concat(
                F.lit("<"), F.replace(F.col("pair"), F.lit(" "), F.lit("")), F.lit(">")
            ).alias("rep"),
        ).alias("m")
    ).agg(F.sort_array(F.collect_list("m")).alias("merges"))
    enc = (
        wc.crossJoin(F.broadcast(merges))
        .withColumn(
            "seq",
            F.aggregate(
                "merges",
                F.regexp_replace(F.col("w"), "(.)", "<$1>"),
                lambda acc, m: F.replace(acc, m["pat"], m["rep"]),
            ),
        )
        .withColumn("encoded", F.expr("trim(BOTH '<>' FROM replace(seq, '><', ' '))"))
    )
    return enc.select(
        F.col("w").alias("word"),
        F.col("c").alias("freq"),
        "encoded",
        F.size(F.split("encoded", " ")).cast("bigint").alias("n_tokens"),
    )


# ---- canonical selection inside near-dup components ------------------------

_KEEP_BEST_SQL = (
    _MINHASH_CTES.replace("WITH ", "WITH RECURSIVE ", 1)
    + f""",
pr AS (SELECT ci, cj FROM est WHERE sim >= {SIM_THRESHOLD}),
ed AS (SELECT ci AS a, cj AS b FROM pr UNION SELECT cj AS a, ci AS b FROM pr),
reach(node, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT ed.b, reach.label FROM reach JOIN ed ON ed.a = reach.node
),
comp AS (SELECT node AS doc_id, min(label) AS component_id FROM reach GROUP BY node),
joined AS (
  SELECT c.component_id, d.doc_id, d.n_chars
  FROM comp c JOIN documents d USING (doc_id)
),
best AS (
  SELECT component_id, doc_id AS kept_doc_id FROM joined
  QUALIFY row_number() OVER (
    PARTITION BY component_id ORDER BY n_chars DESC, doc_id
  ) = 1
),
cnt AS (SELECT component_id, count(*) AS n_members FROM joined GROUP BY component_id)
SELECT b.component_id, b.kept_doc_id, c.n_members
FROM best b JOIN cnt c USING (component_id)
"""
)


@query("dedup_keep_best", oracle=_KEEP_BEST_SQL)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection: within each transitive MinHash
    near-dup component, keep the LONGEST member (n_chars desc, doc_id
    tie-break) — the realistic training-data choice (keep the fullest
    copy), vs the keep-min-id convention of the pairwise tiers.
    Reuses the memoized candidate-pair estimates and the iterative
    components operator; the argmax window partitions by component, so
    partition size is bounded by duplicate-cluster size, never corpus
    size. The oracle re-derives components as a recursive CTE and the
    same QUALIFY argmax."""
    from data_pipeline_playground_spark.operators.components import (
        connected_components,
    )

    docs = table(spark, sf_dir, "documents")
    pairs = _minhash_est(spark, sf_dir).filter(F.col("sim") >= SIM_THRESHOLD)
    comp = connected_components(docs.select("doc_id"), pairs)
    joined = comp.join(docs.select("doc_id", "n_chars"), "doc_id")
    w = Window.partitionBy("component_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    best = (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("component_id", F.col("doc_id").alias("kept_doc_id"))
    )
    cnt = joined.groupBy("component_id").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    return best.join(cnt, "component_id")


# ---- split divergence gate (train vs val/test unigram drift) ----------------

DIV_ALPHA = 0.5  # add-alpha smoothing over the joint vocabulary

def _div_sql() -> str:
    from data_pipeline_playground_spark.functions.text import sql_rolling_hash
    from data_pipeline_playground_spark.queries.sampling import (
        SPLIT_SALT,
        TRAIN_PCT,
        VAL_PCT,
    )

    key = f"'{SPLIT_SALT}' || CAST(d.doc_id AS VARCHAR)"
    bucket = f"{sql_rolling_hash(key)} % 100"
    a = DIV_ALPHA

    def branch(name: str, c: str, n: str) -> str:
        p_t = f"((p.c_train + {a}) / (s.n_train + {a} * s.v))"
        p_s = f"((p.{c} + {a}) / (s.{n} + {a} * s.v))"
        return f"""
  SELECT '{name}' AS split,
         CAST(ABS({p_t} - {p_s}) / 2 AS DECIMAL(38,12)) AS tv_term,
         CAST(({p_s} - {p_t}) * ({p_s} - {p_t}) / {p_t}
              AS DECIMAL(38,12)) AS chi2_term
  FROM per_term p CROSS JOIN scal s"""

    return f"""
WITH tok AS (
  SELECT CASE WHEN {bucket} < {TRAIN_PCT} THEN 'train'
              WHEN {bucket} < {VAL_PCT} THEN 'val'
              ELSE 'test' END AS split,
         unnest({_SQL_TOKENS}) AS term
  FROM documents d
),
per_term AS (
  SELECT term,
         SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS c_train,
         SUM(CASE WHEN split = 'val'   THEN 1 ELSE 0 END) AS c_val,
         SUM(CASE WHEN split = 'test'  THEN 1 ELSE 0 END) AS c_test
  FROM tok GROUP BY term
),
scal AS (
  SELECT SUM(c_train) AS n_train, SUM(c_val) AS n_val,
         SUM(c_test) AS n_test, COUNT(*) AS v
  FROM per_term
),
contrib AS ({branch('val', 'c_val', 'n_val')}
UNION ALL{branch('test', 'c_test', 'n_test')}
)
SELECT split,
       CAST(SUM(tv_term) AS DOUBLE) AS tv_distance,
       CAST(SUM(chi2_term) AS DOUBLE) AS chi2_divergence,
       count(*) AS n_terms
FROM contrib GROUP BY split
"""


@query("split_unigram_divergence", oracle=_div_sql())
def split_unigram_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-shift gate between the training split and each
    eval split: total-variation distance and χ² divergence of their
    add-α-smoothed unigram distributions over the joint vocabulary —
    run before shipping a data mix, alongside embedding_split_drift
    (which sees semantic drift; this sees lexical drift) and
    split_leakage (which sees contamination).

    TV and χ² are chosen over KL deliberately: they need no
    transcendental functions, so every per-term contribution is pure
    IEEE arithmetic on identical integer counts — bit-identical across
    engines — and the per-term values are cast to scale-12 decimals
    before summing, so partition order cannot perturb the total (the
    same determinism-by-construction discipline as user_value_trend).
    Scale 12, not deeper: Spark casts double→decimal through the
    shortest round-trip string while DuckDB expands the exact binary
    value, so the two only round identically at scales safely inside
    the 17-significant-digit repr.

    Plan: one token explode → a (term) groupBy with three conditional
    partial-aggregated counts; scalars (split totals + vocab size) are
    a one-row broadcast; contributions are a narrow map over the
    vocab-sized frame, summed map-side. The corpus is touched once.
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
    split = (
        F.when(bucket < TRAIN_PCT, "train")
        .when(bucket < VAL_PCT, "val")
        .otherwise("test")
    )
    tok = docs.select(split.alias("split"), F.explode(tokenize(F.col("text"))).alias("term"))
    per_term = tok.groupBy("term").agg(
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0)).alias("c_train"),
        F.sum(F.when(F.col("split") == "val", 1).otherwise(0)).alias("c_val"),
        F.sum(F.when(F.col("split") == "test", 1).otherwise(0)).alias("c_test"),
    )
    scal = per_term.agg(
        F.sum("c_train").alias("n_train"),
        F.sum("c_val").alias("n_val"),
        F.sum("c_test").alias("n_test"),
        F.count(F.lit(1)).alias("v"),
    )
    grid = per_term.join(F.broadcast(scal))

    a = F.lit(DIV_ALPHA)

    def branch(name: str, c: str, n: str) -> F.Column:
        p_t = (F.col("c_train") + a) / (F.col("n_train") + a * F.col("v"))
        p_s = (F.col(c) + a) / (F.col(n) + a * F.col("v"))
        return F.struct(
            F.lit(name).alias("split"),
            (F.abs(p_t - p_s) / F.lit(2)).cast("decimal(38,12)").alias("tv_term"),
            ((p_s - p_t) * (p_s - p_t) / p_t).cast("decimal(38,12)").alias("chi2_term"),
        )

    # both eval branches come out of ONE pass over the vocab grid (an
    # array explode), instead of a UNION that would re-run the token
    # explode + per-term aggregate per branch
    contrib = grid.select(
        F.explode(
            F.array(branch("val", "c_val", "n_val"),
                    branch("test", "c_test", "n_test"))
        ).alias("b")
    ).select("b.split", "b.tv_term", "b.chi2_term")
    return contrib.groupBy("split").agg(
        F.sum("tv_term").cast("double").alias("tv_distance"),
        F.sum("chi2_term").cast("double").alias("chi2_divergence"),
        F.count(F.lit(1)).alias("n_terms"),
    )


# ---- feature-hashing collision audit (vocab-free featurization gate) -------

# The hashing trick replaces vocabulary building with hash(term) % 2^k
# — constant memory at any corpus size, which is why it is the 100 TB
# featurization default. Its one cost is collisions; this audit
# quantifies that cost per candidate hash width BEFORE a training run
# commits to one: per width, how many distinct terms collide, and —
# the number that actually corrupts features — what share of token
# OCCURRENCES sits in a bucket shared by ≥2 distinct terms. All
# integer counts via the engine-portable rolling hash; the only double
# is one final int/int division per row, bit-identical across engines.

FEATURE_HASH_BITS = (8, 12, 16)


def _feature_hash_sql() -> str:
    from data_pipeline_playground_spark.functions.text import sql_rolling_hash

    bits_list = ", ".join(str(b) for b in FEATURE_HASH_BITS)
    return f"""
WITH tok AS (SELECT unnest({_SQL_TOKENS}) AS term FROM documents),
tf AS (SELECT term, count(*) AS freq FROM tok GROUP BY term),
th AS (SELECT term, freq, {sql_rolling_hash("term")} AS h FROM tf),
bucketed AS (
  SELECT b.bits, th.h % (1 << b.bits) AS bucket,
         count(*) AS n_terms_in_bucket,
         CAST(sum(th.freq) AS BIGINT) AS freq_in_bucket
  FROM th, (SELECT unnest([{bits_list}]) AS bits) b
  GROUP BY b.bits, th.h % (1 << b.bits)
)
SELECT bits,
       CAST(sum(n_terms_in_bucket) AS BIGINT) AS n_terms,
       CAST(count(*) AS BIGINT) AS buckets_used,
       CAST(max(n_terms_in_bucket) AS BIGINT) AS max_bucket_load,
       CAST(sum(n_terms_in_bucket) - count(*) AS BIGINT) AS colliding_terms,
       CAST(sum(CASE WHEN n_terms_in_bucket >= 2 THEN freq_in_bucket
                     ELSE 0 END) AS DOUBLE)
         / CAST(sum(freq_in_bucket) AS DOUBLE) AS freq_collision_share
FROM bucketed GROUP BY bits
"""


@query("feature_hash_collisions", oracle=_feature_hash_sql())
def feature_hash_collisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick collision audit (see block comment): for each
    candidate width in FEATURE_HASH_BITS, bucket the corpus vocabulary
    by the portable rolling hash mod 2^bits and report distinct-term
    collisions plus the frequency-weighted share of tokens whose
    bucket is impure. One token-explode aggregate builds the weighted
    vocabulary (shuffle ∝ distinct terms); the per-width fan-out is a
    3-literal explode on the VOCAB side only, and everything downstream
    is combinable hash aggregation — no windows, no joins."""
    from data_pipeline_playground_spark.functions.text import rolling_hash

    docs = table(spark, sf_dir, "documents")
    tf = (
        docs.select(F.explode(tokenize(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    th = tf.select("term", "freq", rolling_hash(F.col("term")).alias("h"))
    bucketed = (
        th.select(
            "freq", "h",
            F.explode(F.array(*[F.lit(b) for b in FEATURE_HASH_BITS])).alias("bits"),
        )
        .groupBy("bits", (F.col("h") % F.expr("shiftleft(1, bits)")).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_terms_in_bucket"),
            F.sum("freq").alias("freq_in_bucket"),
        )
    )
    return bucketed.groupBy("bits").agg(
        F.sum("n_terms_in_bucket").cast("bigint").alias("n_terms"),
        F.count(F.lit(1)).cast("bigint").alias("buckets_used"),
        F.max("n_terms_in_bucket").cast("bigint").alias("max_bucket_load"),
        (F.sum("n_terms_in_bucket") - F.count(F.lit(1)))
        .cast("bigint").alias("colliding_terms"),
        (
            F.sum(
                F.when(F.col("n_terms_in_bucket") >= 2, F.col("freq_in_bucket"))
                .otherwise(F.lit(0))
            ).cast("double")
            / F.sum("freq_in_bucket").cast("double")
        ).alias("freq_collision_share"),
    )


# --- per-document n-gram novelty --------------------------------------------

NOVELTY_N = 3

_NOVELTY_SQL = f"""
WITH tok AS (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
g AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           generate_series(1, len(toks) - {NOVELTY_N - 1}),
           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS gram
  FROM tok WHERE len(toks) >= {NOVELTY_N}
),
first AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY gram),
per_doc AS (
  SELECT g.doc_id,
         CAST(count(*) AS BIGINT) AS n_grams,
         CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
              AS BIGINT) AS n_novel
  FROM g JOIN first f ON f.gram = g.gram
  GROUP BY g.doc_id
)
SELECT doc_id, n_grams, n_novel,
       CAST(n_novel AS DOUBLE) / CAST(n_grams AS DOUBLE) AS novelty_ratio
FROM per_doc
"""


@query("ngram_novelty", oracle=_NOVELTY_SQL)
def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-growth novelty curve: for each document (in doc_id
    arrival order), the fraction of its distinct word 3-grams that no
    earlier document contains — the marginal-content audit a crawl
    pipeline uses to decide when a source has stopped contributing
    new text (novelty decays toward pure-duplicate sources).

    First occurrence is min(doc_id) per gram — an order-free
    combinable aggregate, NOT a running scan, so 'seen before' needs
    no sequential pass. Ratio is one double division of exact counts.

    Plan: distinct-gram explode (map) → min-agg keyed on the gram →
    join back on the gram (co-partitioned with the agg) → per-doc
    count. Every shuffle keys on gram or doc_id; at 100 TB the gram
    key becomes its xxhash64 like duplicate_spans.
    """
    docs = table(spark, sf_dir, "documents")
    from data_pipeline_playground_spark.functions.text import word_ngrams

    g = docs.select(
        "doc_id",
        F.explode(word_ngrams(tokenize(F.col("text")), NOVELTY_N)).alias("gram"),
    )
    first = g.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        g.join(first, "gram")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_grams"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_novel"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_grams",
        "n_novel",
        (F.col("n_novel").cast("double") / F.col("n_grams").cast("double"))
        .alias("novelty_ratio"),
    )


# --- χ² term-class association (feature selection) --------------------------

CHI2_TARGET_LANG = "es"
CHI2_MIN_DF = 5
CHI2_TOP_K = 20

_CHI2_SQL = f"""
WITH tok AS (
  SELECT doc_id, lang, unnest(list_distinct({_SQL_TOKENS})) AS term
  FROM documents
),
tot AS (
  SELECT CAST(count(DISTINCT CASE WHEN lang = '{CHI2_TARGET_LANG}'
                                  THEN doc_id END) AS BIGINT) AS n_t,
         CAST(count(DISTINCT CASE WHEN lang <> '{CHI2_TARGET_LANG}'
                                  THEN doc_id END) AS BIGINT) AS n_o
  FROM documents
),
df AS (
  SELECT term,
         CAST(sum(CASE WHEN lang = '{CHI2_TARGET_LANG}'
                       THEN 1 ELSE 0 END) AS BIGINT) AS n11,
         CAST(sum(CASE WHEN lang <> '{CHI2_TARGET_LANG}'
                       THEN 1 ELSE 0 END) AS BIGINT) AS n10
  FROM tok GROUP BY term
),
sc AS (
  SELECT d.term, d.n11, d.n10,
         CAST(t.n_t + t.n_o AS DOUBLE)
           * CAST(d.n11 * (t.n_o - d.n10) - d.n10 * (t.n_t - d.n11)
                  AS DOUBLE)
           * CAST(d.n11 * (t.n_o - d.n10) - d.n10 * (t.n_t - d.n11)
                  AS DOUBLE)
           / (CAST(d.n11 + d.n10 AS DOUBLE)
              * CAST(t.n_t + t.n_o - d.n11 - d.n10 AS DOUBLE)
              * CAST(t.n_t AS DOUBLE) * CAST(t.n_o AS DOUBLE)) AS chi2
  FROM df d CROSS JOIN tot t
  WHERE d.n11 + d.n10 >= {CHI2_MIN_DF}
)
SELECT term, n11, n10, chi2 FROM sc
ORDER BY chi2 DESC, term LIMIT {CHI2_TOP_K}
"""


@query("term_lang_chi2", oracle=_CHI2_SQL)
def term_lang_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """χ² feature selection (the standard text-classification feature
    ranker, e.g. Yang & Pedersen 1997): terms most associated with
    the target language's documents via the 2×2 contingency
    χ² = N(n11·n00 − n10·n01)² / ((n11+n10)(n01+n00)(n1·)(n0·)),
    document-frequency based, min-df floor, top-20.

    Determinism: all contingency cells are exact int64 document
    counts; χ² is ONE shared double expression (each factor converted
    from an exact int — products < 2^53 at every tested SF; at
    billion-doc scale the squared term needs the DECIMAL(30) rescale
    noted for CUSUM). Ties break on the term.

    Plan: distinct (doc, term) explode → one term-keyed agg → scalar
    totals broadcast (BNLJ on a 1-row build side) → TakeOrdered.
    """
    docs = table(spark, sf_dir, "documents")
    is_t = F.col("lang") == CHI2_TARGET_LANG
    tok = docs.select(
        "doc_id",
        "lang",
        F.explode(F.array_distinct(tokenize(F.col("text")))).alias("term"),
    )
    tot = docs.agg(
        F.count_distinct(F.when(is_t, F.col("doc_id"))).alias("n_t"),
        F.count_distinct(F.when(~is_t, F.col("doc_id"))).alias("n_o"),
    )
    df_ = tok.groupBy("term").agg(
        F.sum(F.when(is_t, 1).otherwise(0)).cast("bigint").alias("n11"),
        F.sum(F.when(~is_t, 1).otherwise(0)).cast("bigint").alias("n10"),
    )
    diff = (
        F.col("n11") * (F.col("n_o") - F.col("n10"))
        - F.col("n10") * (F.col("n_t") - F.col("n11"))
    ).cast("double")
    chi2 = (
        (F.col("n_t") + F.col("n_o")).cast("double")
        * diff
        * diff
        / (
            (F.col("n11") + F.col("n10")).cast("double")
            * (F.col("n_t") + F.col("n_o") - F.col("n11") - F.col("n10")).cast(
                "double"
            )
            * F.col("n_t").cast("double")
            * F.col("n_o").cast("double")
        )
    )
    sc = (
        df_.where(F.col("n11") + F.col("n10") >= CHI2_MIN_DF)
        .crossJoin(F.broadcast(tot))
        .select("term", "n11", "n10", chi2.alias("chi2"))
    )
    return sc.orderBy(F.desc("chi2"), F.asc("term")).limit(CHI2_TOP_K)


# ---- collocation strength (Dice) --------------------------------------------

DICE_MIN_COUNT = 5
DICE_TOP_K = 50

_DICE_SQL = f"""
WITH t AS (
  SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents
  WHERE len({_SQL_TOKENS}) >= 2
),
bge AS (
  SELECT b[1] AS w1, b[2] AS w2 FROM (
    SELECT unnest(list_transform(range(1, len(toks)),
                                 i -> [toks[i], toks[i + 1]])) AS b
    FROM t
  )
),
uni AS (
  SELECT term, CAST(count(*) AS BIGINT) AS n FROM (
    SELECT unnest(toks) AS term FROM t
  ) GROUP BY term
),
cb AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
  FROM bge GROUP BY w1, w2 HAVING count(*) >= {DICE_MIN_COUNT}
)
SELECT cb.w1, cb.w2, cb.c12, u1.n AS c1, u2.n AS c2,
       (CAST(2 AS DOUBLE) * CAST(cb.c12 AS DOUBLE))
         / (CAST(u1.n AS DOUBLE) + CAST(u2.n AS DOUBLE)) AS dice
FROM cb JOIN uni u1 ON u1.term = cb.w1 JOIN uni u2 ON u2.term = cb.w2
ORDER BY dice DESC, cb.w1, cb.w2
LIMIT {DICE_TOP_K}
"""


@query("collocation_dice", oracle=_DICE_SQL)
def collocation_dice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{50} adjacent-word collocations by Dice coefficient
    2·f(xy)/(f(x)+f(y)) (Smadja 1993 collocation retrieval) — the
    logarithm-free companion to `term_pmi_topk`: pure integer counts
    combined in one shared double expression, so rankings are
    bit-identical across engines (ties broken by the pair).

    Same bigram explode as the LM family; the unigram table is
    vocabulary-shaped and broadcast into the ≥{DICE_MIN_COUNT}-count
    bigram table; the top-k is a TakeOrdered.
    """
    docs = table(spark, sf_dir, "documents")
    t = (
        docs.select("doc_id", tokenize(F.col("text")).alias("toks"))
        .filter(F.size("toks") >= 2)
        .localCheckpoint(eager=True)
    )
    bge = t.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 1), "
                "i -> struct(element_at(toks, i) AS w1, "
                "element_at(toks, i + 1) AS w2))"
            )
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    uni = t.select(F.explode("toks").alias("term")).groupBy("term").agg(
        F.count(F.lit(1)).alias("n")
    )
    cb = (
        bge.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .filter(F.col("c12") >= DICE_MIN_COUNT)
    )
    u1 = uni.select(F.col("term").alias("w1"), F.col("n").alias("c1"))
    u2 = uni.select(F.col("term").alias("w2"), F.col("n").alias("c2"))
    dice = (F.lit(2).cast("double") * F.col("c12").cast("double")) / (
        F.col("c1").cast("double") + F.col("c2").cast("double")
    )
    return (
        cb.join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .select("w1", "w2", "c12", "c1", "c2", dice.alias("dice"))
        .orderBy(F.desc("dice"), "w1", "w2")
        .limit(DICE_TOP_K)
    )


# ---- vocabulary growth curve (Heaps' law observation) -------------------------

VOCAB_CURVE_STEPS = 10

_VOCAB_GROWTH_SQL = f"""
WITH t AS (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
d AS (
  SELECT doc_id, len(toks) AS n_tokens,
         ntile({VOCAB_CURVE_STEPS}) OVER (ORDER BY doc_id) AS step
  FROM t
),
fo AS (
  SELECT min(d.step) AS first_step
  FROM (SELECT doc_id, unnest(toks) AS term FROM t) x
  JOIN d ON d.doc_id = x.doc_id
  GROUP BY x.term
),
nv AS (SELECT first_step AS step, CAST(count(*) AS BIGINT) AS new_terms
       FROM fo GROUP BY first_step),
tok AS (SELECT step, CAST(SUM(n_tokens) AS BIGINT) AS step_tokens
        FROM d GROUP BY step)
SELECT tok.step,
       CAST(SUM(tok.step_tokens) OVER (ORDER BY tok.step
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
       CAST(SUM(COALESCE(nv.new_terms, 0)) OVER (ORDER BY tok.step
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_vocab
FROM tok LEFT JOIN nv ON nv.step = tok.step
"""


@query("vocab_growth_curve", oracle=_VOCAB_GROWTH_SQL)
def vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth curve (the Heaps'-law observation V(n) ~
    K·nᵝ, reported as raw exact points — fitting the exponent needs
    logs, reading saturation doesn't): cumulative distinct vocabulary
    vs cumulative tokens at ten equal corpus checkpoints in doc-id
    order. Flat tail = vocabulary saturated (more data adds tokens,
    not words); still-steep = the corpus under-covers its domain.

    First occurrences are order-free min(step) per term (NOT a
    sequential scan); cumulative sums run over the 10-row checkpoint
    frame. The doc-order decile uses the two-level global ranking +
    integer ntile law (bucket-identical to the oracle's ntile, no
    single-partition corpus window); all counts int64.
    """
    docs = table(spark, sf_dir, "documents")
    from data_pipeline_playground_spark.operators.ranking import (
        exact_ntile,
        global_rank,
    )

    t = docs.select("doc_id", tokenize(F.col("text")).alias("toks")).localCheckpoint(
        eager=True
    )  # consumed by both the step map and the term explode
    # two-level ranking + the integer ntile law — identical buckets to
    # the oracle's ntile() but with NO single-partition corpus window
    rk = global_rank(
        t.select("doc_id", F.size("toks").alias("n_tokens")),
        ["doc_id"],
        rank_name="rank",
    )
    d = rk.select(
        "doc_id",
        "n_tokens",
        exact_ntile(F.col("rank"), F.col("n_total"), VOCAB_CURVE_STEPS).alias(
            "step"
        ),
    )
    fo = (
        t.select("doc_id", F.explode("toks").alias("term"))
        .join(d.select("doc_id", "step"), "doc_id")
        .groupBy("term")
        .agg(F.min("step").alias("first_step"))
    )
    nv = fo.groupBy(F.col("first_step").alias("step")).agg(
        F.count(F.lit(1)).alias("new_terms")
    )
    tok = d.groupBy("step").agg(F.sum("n_tokens").cast("bigint").alias("step_tokens"))
    wc = Window.orderBy("step").rowsBetween(Window.unboundedPreceding, 0)
    return (
        tok.join(nv, "step", "left")
        .select(
            "step",
            F.sum("step_tokens").over(wc).cast("bigint").alias("cum_tokens"),
            F.sum(F.coalesce("new_terms", F.lit(0)))
            .over(wc)
            .cast("bigint")
            .alias("cum_vocab"),
        )
    )


# ---- emerging terms -------------------------------------------------------------

EMERGING_TOP_K = 20
EMERGING_MIN_C2 = 5

_EMERGING_SQL = f"""
WITH t AS (
  SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents
),
half AS (SELECT CAST(max(doc_id) AS BIGINT) AS mx FROM t),
tok AS (
  SELECT CASE WHEN x.doc_id * 2 <= h.mx THEN 1 ELSE 2 END AS half,
         x.term
  FROM (SELECT doc_id, unnest(toks) AS term FROM t) x CROSS JOIN half h
),
c AS (
  SELECT term,
         CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         CAST(SUM(CASE WHEN half = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2
  FROM tok GROUP BY term
),
n AS (
  SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2
  FROM c
)
SELECT c.term, c.c1, c.c2,
       (CAST(c.c2 AS DOUBLE) * CAST(n.n1 AS DOUBLE))
         / ((CAST(c.c1 AS DOUBLE) + 1.0) * CAST(n.n2 AS DOUBLE))
         AS growth_ratio
FROM c CROSS JOIN n
WHERE c.c2 >= {EMERGING_MIN_C2}
ORDER BY (CAST(c.c2 AS DOUBLE) * CAST(n.n1 AS DOUBLE))
           / ((CAST(c.c1 AS DOUBLE) + 1.0) * CAST(n.n2 AS DOUBLE)) DESC,
         c.term
LIMIT {EMERGING_TOP_K}
"""


@query("emerging_terms", oracle=_EMERGING_SQL)
def emerging_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{20} EMERGING terms: the add-one-smoothed relative-frequency
    growth ratio (c₂/N₂)/((c₁+1)/N₁) between the first and second
    corpus halves (by doc id) — the trend-detection view beside
    `split_unigram_divergence`'s whole-distribution drift number
    (which term is driving the drift, not just how much).

    Counts are exact int64; the ratio is one shared double expression
    over four exact integers (identical in both engines, so the
    ordering needs no rounding); ties break on the term. Two
    combinable aggregates + a broadcast one-row totals frame +
    TakeOrdered.
    """
    docs = table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokenize(F.col("text")).alias("toks"))
    half = t.agg(F.max("doc_id").cast("bigint").alias("mx"))
    tok = (
        t.select("doc_id", F.explode("toks").alias("term"))
        .crossJoin(F.broadcast(half))
        .select(
            F.when(F.col("doc_id") * 2 <= F.col("mx"), 1).otherwise(2).alias("half"),
            "term",
        )
    )
    c = tok.groupBy("term").agg(
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).cast("bigint").alias("c1"),
        F.sum(F.when(F.col("half") == 2, 1).otherwise(0)).cast("bigint").alias("c2"),
    )
    n = c.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"),
    )
    growth = (F.col("c2").cast("double") * F.col("n1").cast("double")) / (
        (F.col("c1").cast("double") + F.lit(1.0)) * F.col("n2").cast("double")
    )
    return (
        c.filter(F.col("c2") >= EMERGING_MIN_C2)
        .crossJoin(F.broadcast(n))
        .select("term", "c1", "c2", growth.alias("growth_ratio"))
        .orderBy(F.desc("growth_ratio"), "term")
        .limit(EMERGING_TOP_K)
    )
