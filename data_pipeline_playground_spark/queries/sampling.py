"""Deterministic sampling & split assignment (SURVEY §2.12 — the
training-data-pipeline operators a 100 TB corpus run needs).

Random-number sampling (``df.sample``) is not reproducible across
engines, partitionings, or reruns — a training pipeline needs the SAME
doc in the SAME split every run, on any engine. Both operators here
derive the decision from the portable polynomial rolling hash of a
salted key, so they are pure narrow maps (zero shuffle), stable under
repartitioning, and bit-identical in the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_pipeline_playground_spark.functions.text import (
    ROLL_BASE,
    ROLL_MOD,
    rolling_hash,
    sql_rolling_hash,
    tokenize,
)
from data_pipeline_playground_spark.registry import query
from data_pipeline_playground_spark.tables import table

# train/val/test cut points over 100 hash buckets
TRAIN_PCT = 80
VAL_PCT = 90
SPLIT_SALT = "split:"

# per-source sampling rates (percent kept); rare/high-value strata are
# oversampled — the knob a data-mixing pipeline turns per domain
DEFAULT_RATE = 10
STRATUM_RATES = {"src0": 50, "src1": 25}
SAMPLE_SALT = "sample:"

_SPLIT_KEY = f"'{SPLIT_SALT}' || CAST(doc_id AS VARCHAR)"
_SPLIT_BUCKET = f"{sql_rolling_hash(_SPLIT_KEY)} % 100"
_SAMPLE_KEY = f"'{SAMPLE_SALT}' || CAST(doc_id AS VARCHAR) || ':' || source"

_SPLIT_SQL = f"""
SELECT doc_id,
       CASE WHEN {_SPLIT_BUCKET} < {TRAIN_PCT} THEN 'train'
            WHEN {_SPLIT_BUCKET} < {VAL_PCT} THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""

_RATE_CASE = "CASE source " + " ".join(
    f"WHEN '{s}' THEN {r}" for s, r in sorted(STRATUM_RATES.items())
) + f" ELSE {DEFAULT_RATE} END"

_STRATIFIED_SQL = f"""
SELECT doc_id, source
FROM documents
WHERE {sql_rolling_hash(_SAMPLE_KEY)} % 100 < {_RATE_CASE}
"""


@query("dataset_split", oracle=_SPLIT_SQL)
def dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 train/val/test assignment by salted-hash bucket:
    deterministic per doc_id, engine-portable, stable under any
    partitioning — never RNG. Narrow map over the scan; at 100 TB the
    split column typically becomes a parquet partition key
    (sources/parquet_sink.py)."""
    docs = table(spark, sf_dir, "documents")
    bucket = (
        rolling_hash(F.concat(F.lit(SPLIT_SALT), F.col("doc_id").cast("string")))
        % 100
    )
    return docs.select(
        "doc_id",
        F.when(bucket < TRAIN_PCT, "train")
        .when(bucket < VAL_PCT, "val")
        .otherwise("test")
        .alias("split"),
    )


@query("sample_stratified", oracle=_STRATIFIED_SQL)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source (stratum) deterministic sampling: keep a doc iff its
    salted hash bucket falls under the stratum's rate — rare domains
    oversampled, the data-mixing primitive. The salt includes the
    source so strata draw independent buckets for the same doc_id."""
    docs = table(spark, sf_dir, "documents")
    rate = F.coalesce(
        *[
            F.when(F.col("source") == s, F.lit(r))
            for s, r in sorted(STRATUM_RATES.items())
        ],
        F.lit(DEFAULT_RATE),
    )
    bucket = (
        rolling_hash(
            F.concat(
                F.lit(SAMPLE_SALT),
                F.col("doc_id").cast("string"),
                F.lit(":"),
                F.col("source"),
            )
        )
        % 100
    )
    return docs.filter(bucket < rate).select("doc_id", "source")


_TRAIN_MIX_SQL = f"""
SELECT doc_id, source
FROM documents
WHERE {sql_rolling_hash(_SAMPLE_KEY)} % 100 < {_RATE_CASE}
  AND {_SPLIT_BUCKET} < {TRAIN_PCT}
"""


@query("training_mix", oracle=_TRAIN_MIX_SQL)
def training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed 'build the training set' step: docs that pass the
    per-source sampling rate AND land in the train split — both
    decisions independent salted hashes, so the mix is reproducible
    end-to-end and the composition stays one shuffle-free narrow map
    (conjunctive predicates over the same scan; at 100 TB this filter
    sits directly above the parquet reader)."""
    docs = table(spark, sf_dir, "documents")
    rate = F.coalesce(
        *[
            F.when(F.col("source") == s, F.lit(r))
            for s, r in sorted(STRATUM_RATES.items())
        ],
        F.lit(DEFAULT_RATE),
    )
    sample_bucket = (
        rolling_hash(
            F.concat(
                F.lit(SAMPLE_SALT),
                F.col("doc_id").cast("string"),
                F.lit(":"),
                F.col("source"),
            )
        )
        % 100
    )
    split_bucket = (
        rolling_hash(F.concat(F.lit(SPLIT_SALT), F.col("doc_id").cast("string")))
        % 100
    )
    return docs.filter(
        (sample_bucket < rate) & (split_bucket < TRAIN_PCT)
    ).select("doc_id", "source")


# --- benchmark decontamination (n-gram overlap vs a held-out set) -----------

BENCH_SET_MAX_ID = 5  # doc_id < 5 stands in for the external benchmark set

_DECON_TOKENS = (
    "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')"
)


def _decon_shingles(n: int) -> str:
    toks = _DECON_TOKENS
    return (
        f"CASE WHEN len({toks}) >= {n} THEN "
        f"list_distinct(list_transform(range(1, len({toks}) - {n} + 2), "
        f"i -> array_to_string(list_slice({toks}, i, i + {n} - 1), ' '))) "
        "ELSE CAST([] AS VARCHAR[]) END"
    )


_DECONTAMINATE_SQL: str


def _build_decon_sql() -> str:
    from data_pipeline_playground_spark.operators.minhash import SHINGLE_N

    sh = _decon_shingles(SHINGLE_N)
    return f"""
WITH ex AS (
  SELECT doc_id, unnest({sh}) AS g FROM documents
),
bench AS (SELECT DISTINCT g FROM ex WHERE doc_id < {BENCH_SET_MAX_ID}),
hits AS (
  SELECT ex.doc_id, count(*) AS n_shared
  FROM ex JOIN bench ON ex.g = bench.g
  WHERE ex.doc_id >= {BENCH_SET_MAX_ID}
  GROUP BY ex.doc_id
)
SELECT doc_id, n_shared FROM hits
"""


_DECONTAMINATE_SQL = _build_decon_sql()


def _doc_shingles_memo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc DISTINCT word-{SHINGLE_N}-gram stream (doc_id, g) over
    `documents`, built once per (session, sf_dir) — round 15 (VERDICT
    r14 #7): decontaminate_overlap, bloom_blocklist_hits and
    corpus_funnel's contamination gate all explode the identical
    tokenize + word_ngrams stream (word_ngrams is array_distinct per
    doc, which is exactly the per-(doc_id, g) distinct the old
    posexplode+lead+distinct shape produced; the shared DuckDB oracle
    fragment _decon_shingles states the same grams for both
    consumers). Repartitioned before the explode so the CPU-heavy
    shingle build spreads across the cluster."""
    from data_pipeline_playground_spark.caching import memo
    from data_pipeline_playground_spark.functions.text import (
        tokenize,
        word_ngrams,
    )
    from data_pipeline_playground_spark.operators.minhash import SHINGLE_N

    def build() -> DataFrame:
        docs = table(spark, sf_dir, "documents")
        shuffle_n = int(
            spark.conf.get("spark.sql.shuffle.partitions", "32")
        )
        return (
            docs.repartition(shuffle_n)
            .select(
                "doc_id",
                F.explode(
                    word_ngrams(tokenize(F.col("text")), SHINGLE_N)
                ).alias("g"),
            )
            .localCheckpoint(eager=True)
        )

    return memo(spark, "doc_shingles", sf_dir, build)


@query("decontaminate_overlap", oracle=_DECONTAMINATE_SQL)
def decontaminate_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs sharing ≥1 word
    n-gram with the held-out benchmark set (stand-in: doc_id <
    BENCH_SET_MAX_ID), with the shared-shingle count. The benchmark
    shingle set is always tiny relative to the corpus → broadcast
    hash join against the exploded training shingles, so the only
    real shuffle is the per-doc count (partial-aggregated). The same
    shape handles eval-set leakage checks at 100 TB: shingle the
    benchmark once, broadcast everywhere, scan the corpus once.
    The (doc_id, g) stream is the shared doc_shingles memo (r15)."""
    ex = _doc_shingles_memo(spark, sf_dir)
    bench = (
        ex.filter(F.col("doc_id") < BENCH_SET_MAX_ID)
        .select("g")
        .distinct()
    )
    return (
        ex.filter(F.col("doc_id") >= BENCH_SET_MAX_ID)
        .join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


# --- per-source cap (corpus balancing) --------------------------------------

SOURCE_CAP = 15  # keep at most N docs per source
CAP_SALT = "cap:"

_CAP_KEY = f"'{CAP_SALT}' || CAST(doc_id AS VARCHAR)"

_SOURCE_CAP_SQL = f"""
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY {sql_rolling_hash(_CAP_KEY)}, doc_id
         ) AS rn
  FROM documents
)
WHERE rn <= {SOURCE_CAP}
"""


@query("source_cap", oracle=_SOURCE_CAP_SQL)
def source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cap each source at N docs — the heavy-domain down-weighting step
    of a corpus mix (e.g. 'at most N pages per site'). Which docs
    survive is decided by salted-hash order (with doc_id tie-break),
    so the cap is a uniform deterministic draw: same survivors every
    run, any engine, any partitioning — NOT 'first N in file order',
    which would bias toward early crawl batches. One shuffle
    (partitionBy source); at 100 TB a skewed mega-source is pre-capped
    per file/partition first (any per-partition N ≥ cap preserves the
    global top-N by hash) so no single reducer sorts a whole domain."""
    docs = table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    order_key = rolling_hash(
        F.concat(F.lit(CAP_SALT), F.col("doc_id").cast("string"))
    )
    w = Window.partitionBy("source").orderBy(order_key.asc(), F.col("doc_id").asc())
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= SOURCE_CAP)
        .select("doc_id", "source")
    )


# ---- cross-split contamination (train/eval leakage) ------------------------

_LEAKAGE_SQL_SPLIT = f"""
CASE WHEN {_SPLIT_BUCKET} < {TRAIN_PCT} THEN 'train'
     WHEN {_SPLIT_BUCKET} < {VAL_PCT} THEN 'val'
     ELSE 'test' END
"""


def _leakage_sql() -> str:
    from data_pipeline_playground_spark.operators.minhash import SIM_THRESHOLD
    from data_pipeline_playground_spark.queries.dedup_advanced import (
        _MINHASH_CTES,
    )

    return (
        _MINHASH_CTES
        + f""",
sp AS (SELECT doc_id, {_LEAKAGE_SQL_SPLIT} AS split FROM documents)
SELECT e.ci, e.cj, round(e.sim, 6) AS sim,
       sa.split AS split_i, sb.split AS split_j
FROM est e
JOIN sp sa ON sa.doc_id = e.ci
JOIN sp sb ON sb.doc_id = e.cj
WHERE e.sim >= {SIM_THRESHOLD} AND sa.split <> sb.split
"""
    )


@query("split_leakage", oracle=_leakage_sql())
def split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination detector: MinHash near-dup pairs whose
    two members land in DIFFERENT dataset splits — the leakage that
    silently inflates eval scores when dedup runs before (or without
    regard to) splitting. Reuses the memoized LSH candidate-pair
    estimates (never an all-pairs join) and the zero-shuffle salted
    split map; the split frame joins in as two broadcast-sized
    (doc_id, split) projections. A clean pipeline gates on this being
    empty — or reassigns the whole near-dup COMPONENT to one split."""
    from data_pipeline_playground_spark.operators.minhash import SIM_THRESHOLD
    from data_pipeline_playground_spark.queries.dedup_advanced import (
        _minhash_est,
    )

    docs = table(spark, sf_dir, "documents")
    bucket = (
        rolling_hash(F.concat(F.lit(SPLIT_SALT), F.col("doc_id").cast("string")))
        % 100
    )
    sp = docs.select(
        "doc_id",
        F.when(bucket < TRAIN_PCT, "train")
        .when(bucket < VAL_PCT, "val")
        .otherwise("test")
        .alias("split"),
    )
    est = _minhash_est(spark, sf_dir).filter(F.col("sim") >= SIM_THRESHOLD)
    sa = sp.select(F.col("doc_id").alias("ci"), F.col("split").alias("split_i"))
    sb = sp.select(F.col("doc_id").alias("cj"), F.col("split").alias("split_j"))
    return (
        est.join(F.broadcast(sa), "ci")
        .join(F.broadcast(sb), "cj")
        .filter(F.col("split_i") != F.col("split_j"))
        .select("ci", "cj", F.round("sim", 6).alias("sim"), "split_i", "split_j")
    )


# ---- epoch shuffle: shard assignment + balance audit -----------------------

# Training export shuffles the corpus every epoch. A global ORDER BY
# random() is neither reproducible nor scalable (one range exchange of
# the whole corpus); the scale shape is (1) assign each doc a salted
# hash KEY, (2) route it to shard = key mod N (narrow map, zero
# shuffle), (3) sortWithinPartitions(key) at write time — local sorts
# only, no global ordering anywhere, yet the concatenated shard files
# enumerate a deterministic permutation of the corpus. This query is
# the ASSIGNMENT plus the balance audit an operator checks before the
# write: per-shard doc count, distinct sources, and the char volume
# (skewed shards → stragglers at the trainer).

EPOCH_SALT = "epoch0:"
N_SHARDS = 16

_EPOCH_KEY_EXPR = f"'{EPOCH_SALT}' || CAST(doc_id AS VARCHAR)"
_SHUFFLE_KEY = sql_rolling_hash(_EPOCH_KEY_EXPR)

_SHUFFLE_SHARDS_SQL = f"""
SELECT {_SHUFFLE_KEY} % {N_SHARDS} AS shard,
       count(*) AS n_docs,
       count(DISTINCT source) AS n_sources,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       min({_SHUFFLE_KEY}) AS min_key,
       max({_SHUFFLE_KEY}) AS max_key
FROM documents
GROUP BY 1
"""


@query("training_shuffle_shards", oracle=_SHUFFLE_SHARDS_SQL)
def training_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch-shuffle shard assignment + balance audit
    (see block comment). The shard id and ordering key are pure
    narrow maps over the salted portable hash — reproducible on any
    engine and any partitioning, new permutation per EPOCH_SALT; the
    audit is one combinable groupBy over N_SHARDS groups. The write
    path this audits is `df.repartition(N_SHARDS, "shard")
    .sortWithinPartitions("shuffle_key")` — local sorts, no global
    range exchange (plan-pinned in test_plans.py)."""
    docs = table(spark, sf_dir, "documents")
    key = rolling_hash(
        F.concat(F.lit(EPOCH_SALT), F.col("doc_id").cast("string"))
    )
    return (
        docs.select(
            (key % N_SHARDS).alias("shard"),
            key.alias("shuffle_key"),
            "source",
            "n_chars",
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.min("shuffle_key").alias("min_key"),
            F.max("shuffle_key").alias("max_key"),
        )
    )


# ---- end-to-end training-corpus funnel -------------------------------------

# The composed curation pipeline every pretraining run fronts:
#   raw → quality gate → language gate → near-dup dedup →
#   benchmark decontamination → train-split assignment
# reported as a funnel (docs + char volume surviving each stage) — the
# governance artifact reviewed before a 100 TB export. Every stage is
# the SAME definition as its standalone oracle-checked query (shared
# Column helpers / SQL fragments), so the funnel certifies the
# COMPOSITION, not re-derived variants.

FUNNEL_QUALITY_MIN = 0.32  # ≈ lower quartile of the quality gate (token_stats.quality_score)
FUNNEL_LANG = "en"

_FUNNEL_STAGES = (
    "raw", "quality", "lang", "dedup", "span_dedup", "decontaminated",
    "train",
)


def _build_funnel_sql() -> str:
    from data_pipeline_playground_spark.operators.minhash import (
        SHINGLE_N,
        SIM_THRESHOLD,
    )
    from data_pipeline_playground_spark.queries.dedup_advanced import (
        _MINHASH_CTES,
    )
    from data_pipeline_playground_spark.queries.text import (
        _LANG_BEST_SQL,
        _LANG_HITS_SQL,
        _LANG_MARKERS,
        _SQL_TOKENS,
        SQL_QUALITY_EXPR,
    )

    sh = _decon_shingles(SHINGLE_N)
    h_cols = ", ".join("h_" + code for code in sorted(_LANG_MARKERS))
    # cumulative survival predicates, one per funnel stage
    conds = {
        "raw": "TRUE",
        "quality": "q_ok",
        "lang": "q_ok AND lang_ok",
        "dedup": "q_ok AND lang_ok AND NOT is_dup",
        "span_dedup": "q_ok AND lang_ok AND NOT is_dup AND NOT is_span_dup",
        "decontaminated": "q_ok AND lang_ok AND NOT is_dup"
        " AND NOT is_span_dup AND NOT is_con",
        "train": "q_ok AND lang_ok AND NOT is_dup AND NOT is_span_dup"
        " AND NOT is_con AND is_train",
    }
    aggs = ", ".join(
        f"CAST(count(*) FILTER (WHERE {conds[s]}) AS BIGINT) AS n{i}, "
        f"CAST(coalesce(sum(n_chars) FILTER (WHERE {conds[s]}), 0) AS BIGINT)"
        f" AS c{i}"
        for i, s in enumerate(_FUNNEL_STAGES, start=1)
    )
    rows = " UNION ALL ".join(
        f"SELECT CAST({i} AS INT) AS stage_idx, '{s}' AS stage, "
        f"n{i} AS n_docs, c{i} AS n_chars FROM agg"
        for i, s in enumerate(_FUNNEL_STAGES, start=1)
    )
    from data_pipeline_playground_spark.queries.corpus_stats import (
        _EXSUB_CTES,
    )

    # splice the ExactSubstr span CTE chain in after the minhash chain
    # (CTE names are disjoint: t/w/occ/keep/pairs/isl/spans vs
    # ex/hh/params/sig/bands/cand/est and the funnel's own names) —
    # same shared-SQL-fragment discipline as the other gates, so the
    # funnel certifies the COMPOSITION of the oracle-checked operators
    exsub_body = _EXSUB_CTES.replace("WITH ", "", 1).strip()
    return (
        _MINHASH_CTES
        + ",\n"
        + exsub_body
        + f""",
spandup AS (SELECT DISTINCT doc_b AS doc_id FROM spans),
dup AS (SELECT DISTINCT ci AS doc_id FROM est WHERE sim >= {SIM_THRESHOLD}),
cex AS (SELECT doc_id, unnest({sh}) AS g FROM documents),
bench AS (SELECT DISTINCT g FROM cex WHERE doc_id < {BENCH_SET_MAX_ID}),
hits AS (SELECT DISTINCT cex.doc_id FROM cex JOIN bench USING (g)
         WHERE cex.doc_id >= {BENCH_SET_MAX_ID}),
qt AS (
  SELECT doc_id, n_chars, {_SQL_TOKENS} AS toks,
         len({_SQL_TOKENS}) AS n_tokens,
         greatest(len({_SQL_TOKENS}), 1) AS n_tok_safe
  FROM documents
),
lh AS (SELECT doc_id, {_LANG_HITS_SQL} FROM qt),
lm AS (SELECT *, greatest({h_cols}) AS h_max FROM lh),
flags AS (
  SELECT qt.doc_id, qt.n_chars,
         {SQL_QUALITY_EXPR} >= {FUNNEL_QUALITY_MIN} AS q_ok,
         ({_LANG_BEST_SQL}) = '{FUNNEL_LANG}' AS lang_ok,
         dup.doc_id IS NOT NULL AS is_dup,
         spandup.doc_id IS NOT NULL AS is_span_dup,
         (qt.doc_id < {BENCH_SET_MAX_ID} OR hits.doc_id IS NOT NULL) AS is_con,
         {_SPLIT_BUCKET} < {TRAIN_PCT} AS is_train
  FROM qt
  JOIN lm USING (doc_id)
  LEFT JOIN dup ON dup.doc_id = qt.doc_id
  LEFT JOIN spandup ON spandup.doc_id = qt.doc_id
  LEFT JOIN hits ON hits.doc_id = qt.doc_id
),
agg AS (SELECT {aggs} FROM flags)
{rows}
"""
    )


@query("corpus_funnel", oracle=_build_funnel_sql())
def corpus_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-corpus curation funnel (see block comment): per stage,
    how many docs and chars survive the cumulative gates.

    Scale shape: the naive funnel materializes six intermediate
    corpora (six scans + six writes); this computes every frontier in
    ONE corpus pass — quality, language, and split gates are narrow
    expressions on the same scan (shared Column helpers with the
    standalone queries), the dedup / span-dedup / contamination
    drop-sets arrive as three doc_id equi-joins, and all seven
    (docs, chars) pairs fall out of a single global aggregate (14
    combinable sums) unpivoted with stack(). Nothing here grows with
    corpus size except the drop-set joins, each bounded by its
    dropped population.

    The three drop-sets are EAGERLY materialized (cache + count) as
    their own jobs before the final pass, for two measured reasons:
    (1) each gate then executes the same subplan its standalone
    oracle-checked query compiles, so generated-code classes are
    shared; the single composed plan was 19.6 s on first execution
    vs ~5.2 s as the sum of its parts (whole-stage codegen compiles
    a fresh giant class per AQE-resolved plan shape, and the sf0.001
    warmup compiles DIFFERENT shapes than sf0.1 — the JIT-cliff
    cousin documented in SCALE.md); (2) at 100 TB the drop-lists are
    exactly what a real pipeline persists for audit/idempotent
    re-runs, and each tiny cached doc_id set broadcasts into the
    final scan instead of sort-merge-joining it.
    """
    from data_pipeline_playground_spark.functions.text import tokenize
    from data_pipeline_playground_spark.operators.minhash import SIM_THRESHOLD
    from data_pipeline_playground_spark.queries.dedup_advanced import (
        _minhash_est,
    )
    from data_pipeline_playground_spark.queries.text import (
        lang_pred_col,
        quality_score_col,
    )

    docs = table(spark, sf_dir, "documents")
    toks = tokenize(F.col("text"))
    base = docs.select(
        "doc_id", "n_chars", toks.alias("toks"), F.size(toks).alias("n_tokens")
    )
    split_bucket = (
        rolling_hash(F.concat(F.lit(SPLIT_SALT), F.col("doc_id").cast("string")))
        % 100
    )
    flags = base.select(
        "doc_id",
        "n_chars",
        (
            quality_score_col(F.col("toks"), F.col("n_tokens"))
            >= FUNNEL_QUALITY_MIN
        ).alias("q_ok"),
        (lang_pred_col(F.col("toks")) == FUNNEL_LANG).alias("lang_ok"),
        (split_bucket < TRAIN_PCT).alias("is_train"),
    )
    dup = (
        _minhash_est(spark, sf_dir)
        .filter(F.col("sim") >= SIM_THRESHOLD)
        .select(F.col("ci").alias("doc_id"))
        .distinct()
        .withColumn("dup1", F.lit(1))
    )
    # ExactSubstr span gate (VERDICT r8 #6): docs carrying a duplicated
    # span whose canonical (earliest) copy lives elsewhere — the b side
    # of exact_substr_spans, same shared operator as the standalone
    # oracle-checked query and exact_substr_removed
    from data_pipeline_playground_spark.queries.corpus_stats import (
        exact_substr_spans,
    )

    sdup = (
        exact_substr_spans(spark, sf_dir)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("sd1", F.lit(1))
    )
    con = (
        decontaminate_overlap(spark, sf_dir)
        .select("doc_id")
        .withColumn("con1", F.lit(1))
    )
    # eager drop-list materialization — see docstring (codegen-unit
    # isolation + broadcastable tiny sets; persisted lists at 100 TB).
    # The three builds are independent stage DAGs, so they run from
    # CONCURRENT driver threads (concurrency.py — the
    # _audit_builds_sampled pattern): serial builds measured 10-17 s vs
    # ~6-7 s threaded at sf0.1, the difference being idle cores while
    # each gate's narrow final stages drain. NOTE (ADVICE r10 #2): the
    # memos behind these gates (minhash est, the spans pipeline's
    # inputs) were already built ABOVE, serially on this thread, at
    # plan-construction time — the threads only materialize the three
    # cached drop-list frames. caching.memo additionally holds a
    # per-key lock, so even a future edit that moved a memo build into
    # a thread could not race two builders on one key.
    from data_pipeline_playground_spark.concurrency import (
        materialize_concurrently,
    )

    materialize_concurrently((dup, sdup, con))
    f = (
        flags.join(F.broadcast(dup), "doc_id", "left")
        .join(F.broadcast(sdup), "doc_id", "left")
        .join(F.broadcast(con), "doc_id", "left")
        .withColumn("is_dup", F.col("dup1").isNotNull())
        .withColumn("is_span_dup", F.col("sd1").isNotNull())
        .withColumn(
            "is_con",
            (F.col("doc_id") < BENCH_SET_MAX_ID) | F.col("con1").isNotNull(),
        )
    )
    conds = {
        "raw": F.lit(True),
        "quality": F.col("q_ok"),
        "lang": F.col("q_ok") & F.col("lang_ok"),
        "dedup": F.col("q_ok") & F.col("lang_ok") & ~F.col("is_dup"),
        "span_dedup": F.col("q_ok") & F.col("lang_ok") & ~F.col("is_dup")
        & ~F.col("is_span_dup"),
        "decontaminated": F.col("q_ok") & F.col("lang_ok")
        & ~F.col("is_dup") & ~F.col("is_span_dup") & ~F.col("is_con"),
        "train": F.col("q_ok") & F.col("lang_ok") & ~F.col("is_dup")
        & ~F.col("is_span_dup") & ~F.col("is_con") & F.col("is_train"),
    }
    aggs = []
    for i, s in enumerate(_FUNNEL_STAGES, start=1):
        aggs.append(
            F.sum(F.when(conds[s], 1).otherwise(0))
            .cast("bigint").alias(f"n{i}")
        )
        aggs.append(
            F.sum(F.when(conds[s], F.col("n_chars")).otherwise(0))
            .cast("bigint").alias(f"c{i}")
        )
    agg = f.agg(*aggs)
    stack_args = ", ".join(
        f"{i}, '{s}', n{i}, c{i}"
        for i, s in enumerate(_FUNNEL_STAGES, start=1)
    )
    return agg.select(
        F.expr(
            f"stack({len(_FUNNEL_STAGES)}, {stack_args}) "
            "AS (stage_idx, stage, n_docs, n_chars)"
        )
    )


# --- DSIR-style importance selection ----------------------------------------

DSIR_BUCKETS = 64
DSIR_TARGET_SOURCE = "src0"
DSIR_TOP_K = 50

_DSIR_SQL = f"""
WITH tok AS (
  SELECT doc_id, source, unnest({_DECON_TOKENS}) AS t FROM documents
),
b AS (
  SELECT doc_id, source,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(regexp_split_to_array(t, ''),
                          c -> CAST(ascii(c) AS BIGINT))),
           (acc, ch) -> (acc * {{base}} + ch) % {{mod}}) % {DSIR_BUCKETS}
           AS bkt
  FROM tok
),
tcnt AS (
  SELECT bkt, CAST(count(*) AS BIGINT) AS c FROM b
  WHERE source = '{DSIR_TARGET_SOURCE}' GROUP BY bkt
),
rcnt AS (
  SELECT bkt, CAST(count(*) AS BIGINT) AS c FROM b
  WHERE source <> '{DSIR_TARGET_SOURCE}' GROUP BY bkt
),
tot AS (
  SELECT CAST(sum(CASE WHEN source = '{DSIR_TARGET_SOURCE}'
                       THEN 1 ELSE 0 END) AS BIGINT) AS nt,
         CAST(sum(CASE WHEN source <> '{DSIR_TARGET_SOURCE}'
                       THEN 1 ELSE 0 END) AS BIGINT) AS nr
  FROM b
),
w AS (
  SELECT s.bkt,
         COALESCE(t.c, 0) * tot.nr - COALESCE(r.c, 0) * tot.nt AS w
  FROM (SELECT unnest(generate_series(0, {DSIR_BUCKETS - 1})) AS bkt) s
  LEFT JOIN tcnt t ON t.bkt = s.bkt
  LEFT JOIN rcnt r ON r.bkt = s.bkt
  CROSS JOIN tot
),
score AS (
  SELECT b.doc_id, CAST(sum(w.w) AS BIGINT) AS score
  FROM b JOIN w ON w.bkt = b.bkt
  WHERE b.source <> '{DSIR_TARGET_SOURCE}'
  GROUP BY b.doc_id
)
SELECT doc_id, score FROM (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id) AS rn
  FROM score
) t WHERE rn <= {DSIR_TOP_K}
"""


@query(
    "dsir_select",
    oracle=_DSIR_SQL.format(base=ROLL_BASE, mod=ROLL_MOD),
)
def dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling, linear surrogate
    (after Xie et al. 2023, "Data Selection for Language Models via
    Importance Resampling"): score each candidate document by how much
    its hashed-unigram profile resembles a target domain (here source
    'src0') versus the raw pool, and keep the top-K.

    DSIR proper scores sum_t log(p_tgt(b_t)/p_raw(b_t)); logs are
    transcendental, so for bit-parity we use the linear surrogate
    sum_t (p_tgt(b_t) - p_raw(b_t)) cross-multiplied into pure int64:
    w_b = cnt_tgt[b]·N_raw - cnt_raw[b]·N_tgt, doc score = Σ w_b over
    token occurrences — exact integers end to end, same ranking
    semantics (monotone in the per-bucket probability gap). At
    trillion-token scale the cross-product outgrows int64: rescale the
    per-bucket counts to per-million DECIMAL(30,0) first (same memory
    rule as the CUSUM sums).

    Plan: tokenize+hash is map-only; two hash aggs build the 64-bucket
    histograms; the per-doc score join BROADCASTS the 64-row weight
    table; one agg per doc_id; TakeOrdered for the final top-K — no
    global sort, no UDF.
    """
    docs = table(spark, sf_dir, "documents")
    is_tgt = F.col("source") == DSIR_TARGET_SOURCE
    b = docs.select(
        "doc_id",
        "source",
        F.explode(
            F.transform(
                tokenize("text"),
                lambda t: F.aggregate(
                    F.split(t, ""),
                    F.lit(0).cast("long"),
                    lambda acc, c: (acc * ROLL_BASE + F.ascii(c).cast("long"))
                    % ROLL_MOD,
                )
                % DSIR_BUCKETS,
            )
        ).alias("bkt"),
    )
    hist = b.groupBy("bkt").agg(
        F.sum(F.when(is_tgt, 1).otherwise(0)).cast("bigint").alias("tc"),
        F.sum(F.when(~is_tgt, 1).otherwise(0)).cast("bigint").alias("rc"),
    )
    tot = b.agg(
        F.sum(F.when(is_tgt, 1).otherwise(0)).cast("bigint").alias("nt"),
        F.sum(F.when(~is_tgt, 1).otherwise(0)).cast("bigint").alias("nr"),
    )
    spine = spark.range(DSIR_BUCKETS).select(F.col("id").alias("bkt"))
    w = (
        spine.join(hist, "bkt", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "bkt",
            (
                F.coalesce(F.col("tc"), F.lit(0)) * F.col("nr")
                - F.coalesce(F.col("rc"), F.lit(0)) * F.col("nt")
            ).alias("w"),
        )
    )
    score = (
        b.where(~is_tgt)
        .join(F.broadcast(w), "bkt")
        .groupBy("doc_id")
        .agg(F.sum("w").cast("bigint").alias("score"))
    )
    return (
        score.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(DSIR_TOP_K)
        .select("doc_id", "score")
    )


# --- curriculum staging --------------------------------------------------------

_CURRICULUM_SQL: str  # built below from the shared quality expression


def _curriculum_sql() -> str:
    """Oracle built from the SAME token + quality expressions as the
    standalone quality_score query (queries/text.py) — one definition,
    zero drift."""
    from data_pipeline_playground_spark.queries.text import (
        _SQL_TOKENS,
        SQL_QUALITY_EXPR,
    )

    return f"""
WITH t AS (
  SELECT doc_id, {_SQL_TOKENS} AS toks,
         greatest(len({_SQL_TOKENS}), 1) AS n_tok_safe,
         len({_SQL_TOKENS}) AS n_tokens
  FROM documents
),
q AS (
  SELECT doc_id, n_tokens, {SQL_QUALITY_EXPR} AS qs FROM t
),
r AS (
  SELECT doc_id, n_tokens, qs,
         ntile(10) OVER (ORDER BY qs, doc_id) AS quality_decile
  FROM q
)
SELECT quality_decile,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       MIN(qs) AS min_quality,
       MAX(qs) AS max_quality,
       CAST(CAST(SUM(CAST(qs AS DECIMAL(9,6))) AS DECIMAL(18,6)) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS mean_quality
FROM r GROUP BY quality_decile
"""


_CURRICULUM_SQL = _curriculum_sql()


@query("curriculum_stages", oracle=_CURRICULUM_SQL)
def curriculum_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-learning staging: every document ranked by the shared
    quality score into exact deciles (stage 10 = highest quality —
    train last-to-first or first-to-last as the schedule dictates),
    with per-stage doc/token totals and quality bounds. The corpus
    analogue of `dataset_split`, driven by QUALITY rather than hash.

    Deciles come from the exact two-level global ranking
    (operators/ranking.py: range partition + per-bucket window + offset
    merge — no single-partition sort) and the integer ntile law, so
    stage boundaries are reproducible at any scale; the mean is an
    order-free decimal sum (quality is 6-dp-rounded, summands exact at
    DECIMAL(9,6), sums safe to ~1e12 docs).
    """
    from data_pipeline_playground_spark.operators.ranking import (
        exact_ntile,
        global_rank,
    )
    from data_pipeline_playground_spark.queries.text import quality_score_col

    docs = table(spark, sf_dir, "documents")
    toks = tokenize(F.col("text"))
    d = docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        quality_score_col(toks, F.size(toks)).alias("qs"),
    )
    # cache_input: the tokenize+quality upstream is the dominant cost
    # and the range sampler would otherwise execute it twice (r15)
    rk = global_rank(d, ["qs", "doc_id"], rank_name="rank", cache_input=True)
    staged = rk.withColumn(
        "quality_decile", exact_ntile(F.col("rank"), F.col("n_total"), 10)
    )
    return staged.groupBy("quality_decile").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.min("qs").alias("min_quality"),
        F.max("qs").alias("max_quality"),
        (
            F.sum(F.col("qs").cast("decimal(9,6)"))
            .cast("decimal(18,6)")
            .cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("mean_quality"),
    )


# --- temporal split + leakage audit --------------------------------------------

_TEMPORAL_SPLIT_SQL = """
WITH b AS (
  SELECT CAST(datediff('second', TIMESTAMP '1970-01-01 00:00:00', min(ts)) AS BIGINT) AS t0,
         CAST(datediff('second', TIMESTAMP '1970-01-01 00:00:00', max(ts)) AS BIGINT) AS t1
  FROM events
),
e AS (
  SELECT user_id,
         CAST(datediff('second', TIMESTAMP '1970-01-01 00:00:00', ts) AS BIGINT) AS es
  FROM events
),
s AS (
  SELECT user_id,
         CASE WHEN es < b.t0 + ((b.t1 - b.t0) * 8) // 10 THEN 'train'
              WHEN es < b.t0 + ((b.t1 - b.t0) * 9) // 10 THEN 'val'
              ELSE 'test' END AS split
  FROM e CROSS JOIN b
),
tr AS (SELECT DISTINCT user_id FROM s WHERE split = 'train')
SELECT s.split,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT s.user_id) AS BIGINT) AS n_users,
       CAST(count(DISTINCT CASE WHEN tr.user_id IS NOT NULL
                                THEN s.user_id END) AS BIGINT)
         AS n_users_seen_in_train
FROM s LEFT JOIN tr ON tr.user_id = s.user_id
GROUP BY s.split
"""


@query("temporal_split_audit", oracle=_TEMPORAL_SPLIT_SQL)
def temporal_split_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chronological 80/10/10 train/val/test split with a user-leakage
    audit: per split, events, distinct users, and how many of those
    users also appear in train — the number that decides whether a
    user-level model's test set is actually out-of-sample (time-split
    the events, and returning users still leak identity signal). The
    temporal counterpart of the hash-based `dataset_split`.

    Cutoffs are integer epoch arithmetic on a broadcast one-row
    min/max (floor-division identical in both engines); the leakage
    count is a semi-join-shaped LEFT JOIN against train's distinct
    users (user-dimension-sized — broadcast at any event scale).
    """
    ev = table(spark, sf_dir, "events")
    es = F.expr(
        "timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    )
    b = ev.agg(F.min(es).alias("t0"), F.max(es).alias("t1"))
    e = ev.select("user_id", es.alias("es")).crossJoin(F.broadcast(b))
    split = (
        F.when(
            F.col("es") < F.col("t0") + F.expr("((t1 - t0) * 8) div 10"),
            F.lit("train"),
        )
        .when(
            F.col("es") < F.col("t0") + F.expr("((t1 - t0) * 9) div 10"),
            F.lit("val"),
        )
        .otherwise(F.lit("test"))
    )
    s = e.select("user_id", split.alias("split"))
    tr = (
        s.filter(F.col("split") == "train")
        .select(F.col("user_id").alias("tr_user"))
        .distinct()
    )
    return (
        s.join(F.broadcast(tr), s.user_id == F.col("tr_user"), "left")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.countDistinct(
                F.when(F.col("tr_user").isNotNull(), F.col("user_id"))
            ).alias("n_users_seen_in_train"),
        )
    )


# --- temperature-weighted language mix -------------------------------------------

MIX_TEMP_SEATS = 100_000  # sample budget to apportion


_MIX_TEMP_SQL = f"""
WITH l AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY lang
),
w AS (
  SELECT lang, n,
         CAST(round(sqrt(CAST(n AS DOUBLE)), 6) * 1000000 AS BIGINT) AS wi
  FROM l
),
t AS (SELECT CAST(SUM(wi) AS BIGINT) AS tw, CAST(count(*) AS BIGINT) AS k
      FROM w),
base AS (
  SELECT w.lang, w.n, w.wi, t.tw,
         ({MIX_TEMP_SEATS} * w.wi) // t.tw AS seats0,
         ({MIX_TEMP_SEATS} * w.wi) % t.tw AS rem
  FROM w CROSS JOIN t
),
lo AS (SELECT CAST({MIX_TEMP_SEATS} - SUM(seats0) AS BIGINT) AS leftover
       FROM base),
rk AS (
  SELECT base.*, lo.leftover,
         row_number() OVER (ORDER BY rem DESC, lang) AS r
  FROM base CROSS JOIN lo
)
SELECT lang, n AS n_docs,
       CAST(wi AS DOUBLE) / 1000000.0 AS temp_weight,
       CAST(seats0 + CASE WHEN r <= leftover THEN 1 ELSE 0 END AS BIGINT)
         AS sample_quota,
       CAST(CAST(seats0 + CASE WHEN r <= leftover THEN 1 ELSE 0 END
                 AS BIGINT) AS DOUBLE) / {MIX_TEMP_SEATS}.0 AS quota_share
FROM rk
"""


@query("training_mix_temperature", oracle=_MIX_TEMP_SQL)
def training_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted sampling quotas per language (α = 0.5,
    i.e. weights ∝ √n — the multilingual-LM upsampling rule that
    flattens head languages without inverting the distribution),
    apportioned to an integer sample budget by the largest-remainder
    (Hamilton) method so quotas sum EXACTLY to the budget (pinned).

    Exactness: √n is a single correctly-rounded IEEE operation on an
    integer; the weight snaps to fixed-point 10⁶ so Σw, the DIV/MOD
    apportionment, and the remainder ranking are pure int64 — no
    float summation anywhere (α beyond {{0.5, 1, 2, ...}} would need
    libm pow, which is not cross-engine deterministic; √ tiers are).
    Plan: one lang aggregate, one-row totals broadcast, a ≤|langs|
    ranking window.
    """
    docs = table(spark, sf_dir, "documents")
    l = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    w = l.select(
        "lang",
        "n",
        F.expr(
            "CAST(round(sqrt(CAST(n AS DOUBLE)), 6) * 1000000 AS BIGINT)"
        ).alias("wi"),
    )
    t = w.agg(F.sum("wi").cast("bigint").alias("tw"))
    base = w.crossJoin(F.broadcast(t)).select(
        "lang",
        "n",
        "wi",
        F.expr(f"({MIX_TEMP_SEATS} * wi) div tw").alias("seats0"),
        F.expr(f"({MIX_TEMP_SEATS} * wi) % tw").alias("rem"),
    )
    lo = base.agg(
        (F.lit(MIX_TEMP_SEATS) - F.sum("seats0")).cast("bigint").alias("leftover")
    )
    rk = base.crossJoin(F.broadcast(lo)).withColumn(
        "r", F.row_number().over(Window.orderBy(F.desc("rem"), F.asc("lang")))
    )
    quota = F.expr(
        "CAST(seats0 + CASE WHEN r <= leftover THEN 1 ELSE 0 END AS BIGINT)"
    )
    return rk.select(
        "lang",
        F.col("n").alias("n_docs"),
        (F.col("wi").cast("double") / F.lit(1000000.0)).alias("temp_weight"),
        quota.alias("sample_quota"),
        (quota.cast("double") / F.lit(float(MIX_TEMP_SEATS))).alias("quota_share"),
    )


# --- padding-waste audit -----------------------------------------------------------

PAD_BATCH = 32


_PAD_SQL = f"""
WITH t AS (
  SELECT doc_id,
         len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                         x -> x <> '')) AS n_tokens
  FROM documents
),
rs AS (
  SELECT n_tokens,
         (row_number() OVER (ORDER BY n_tokens, doc_id) - 1) // {PAD_BATCH}
           AS batch
  FROM t
),
bs AS (
  SELECT batch, count(*) AS bn, max(n_tokens) AS mx,
         SUM(n_tokens) AS toks
  FROM rs GROUP BY batch
),
ri AS (
  SELECT n_tokens,
         (row_number() OVER (ORDER BY doc_id) - 1) // {PAD_BATCH} AS batch
  FROM t
),
bi AS (
  SELECT batch, count(*) AS bn, max(n_tokens) AS mx,
         SUM(n_tokens) AS toks
  FROM ri GROUP BY batch
)
SELECT 'length_sorted' AS policy,
       CAST(count(*) AS BIGINT) AS n_batches,
       CAST(CAST(SUM(toks) AS BIGINT) AS BIGINT) AS total_tokens,
       CAST(SUM(mx * bn) AS BIGINT) AS padded_tokens,
       (CAST(SUM(mx * bn) AS BIGINT) - CAST(SUM(toks) AS BIGINT))
         * 1.0 / CAST(SUM(mx * bn) AS BIGINT) AS waste_share
FROM bs
UNION ALL
SELECT 'arrival_order',
       CAST(count(*) AS BIGINT),
       CAST(CAST(SUM(toks) AS BIGINT) AS BIGINT),
       CAST(SUM(mx * bn) AS BIGINT),
       (CAST(SUM(mx * bn) AS BIGINT) - CAST(SUM(toks) AS BIGINT))
         * 1.0 / CAST(SUM(mx * bn) AS BIGINT)
FROM bi
"""


@query("padding_waste_audit", oracle=_PAD_SQL)
def padding_waste_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much compute fixed-size-{32} batches waste on padding, under
    length-sorted vs arrival-order batching — THE number that justifies
    length bucketing in a training data loader (each batch pads every
    sequence to its max; waste = padded − real tokens).

    Batch ids come from the exact two-level global ranking
    (operators/ranking.py) — no single-partition sort of the corpus in
    Spark (the oracle states the same batching with a window); batch
    stats and both waste ratios are exact integers with one shared
    double division per policy.
    """
    from data_pipeline_playground_spark.operators.ranking import global_rank

    docs = table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", F.size(tokenize(F.col("text"))).alias("n_tokens")
    ).localCheckpoint(eager=True)  # two policy rankings read it

    def policy(ranked: DataFrame, name: str) -> DataFrame:
        bs = (
            ranked.select(
                "n_tokens",
                F.expr(f"(rank - 1) div {PAD_BATCH}").alias("batch"),
            )
            .groupBy("batch")
            .agg(
                F.count(F.lit(1)).alias("bn"),
                F.max("n_tokens").alias("mx"),
                F.sum("n_tokens").alias("toks"),
            )
        )
        pad = F.sum(F.col("mx") * F.col("bn")).cast("bigint")
        tok = F.sum("toks").cast("bigint")
        return bs.agg(
            F.lit(name).alias("policy"),
            F.count(F.lit(1)).alias("n_batches"),
            tok.alias("total_tokens"),
            pad.alias("padded_tokens"),
            ((pad - tok) * F.lit(1.0) / pad).alias("waste_share"),
        )

    sorted_rk = global_rank(t, ["n_tokens", "doc_id"], rank_name="rank")
    arrival_rk = global_rank(t, ["doc_id"], rank_name="rank")
    return policy(sorted_rk, "length_sorted").unionByName(
        policy(arrival_rk, "arrival_order")
    )
