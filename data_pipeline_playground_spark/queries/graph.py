"""Iterative graph analytics: weighted PageRank over the trade graph.

Sibling of the connected-components operator (operators/components.py):
components use label propagation to a fixpoint; PageRank is the other
canonical iterative-join pattern — rank_{i+1} = (1-d)/N + d·Σ_in p·rank_i
— expressed as a fixed number of DataFrame join+agg rounds. Spark is
the natural home for this shape (each round is one shuffle); the DuckDB
oracle unrolls the same five iterations as chained CTEs, and both
engines round each iterate to 12 decimals so the comparison is exact
despite float summation-order differences.

Graph: nations as vertices, supplier-nation → customer-nation trade
volume as edge weights (the nation_pair_trade topology, TPC-H Q7).
Edge probabilities are DECIMAL-exact volumes normalized per source —
division of identical exact operands, so p is bit-identical across
engines.

At 100 TB the vertex set stays dimension-sized here, but the same loop
scales to large graphs: edges partition by dst (the aggregation key),
ranks re-broadcast (or co-partitioned by src) each round, and lineage
is truncated by localCheckpoint every few rounds as in
operators/components.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_pipeline_playground_spark.registry import query
from data_pipeline_playground_spark.tables import table

PR_ITERS = 5
PR_DAMPING = 0.85
PR_N = 25  # |nation|
_ITER_ROUND = 12  # per-iteration rounding (kills float-order noise)


def _trade_edges_memo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst, w_dec): nation-pair trade volumes — the 6-table
    lineitem⋈orders⋈customer⋈nation⋈supplier⋈nation rollup, built once
    per (session, sf_dir) — round 14: pagerank_nations,
    nation_trade_hops and trade_triangles each re-ran the identical
    edge aggregate (~1-1.5 s of each query at sf0.1); the trade graph's
    weighted edge list is one shared artifact. DECIMAL-exact sums, so
    the memoized frame is bit-identical to each query's inline build.
    Eagerly checkpointed (≤ nations² rows; blocks freed on GC)."""
    from data_pipeline_playground_spark.caching import memo

    def build() -> DataFrame:
        l = table(spark, sf_dir, "lineitem")
        o = table(spark, sf_dir, "orders")
        c = table(spark, sf_dir, "customer")
        s = table(spark, sf_dir, "supplier")
        n = table(spark, sf_dir, "nation")
        ns = n.select(
            F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("src")
        )
        nc = n.select(
            F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("dst")
        )
        return (
            l.join(o.select("o_orderkey", "o_custkey"),
                   l.l_orderkey == F.col("o_orderkey"))
            .join(c.select("c_custkey", "c_nationkey"),
                  F.col("o_custkey") == F.col("c_custkey"))
            .join(F.broadcast(nc), F.col("c_nationkey") == F.col("c_nk"))
            .join(F.broadcast(s.select("s_suppkey", "s_nationkey")),
                  l.l_suppkey == F.col("s_suppkey"))
            .join(F.broadcast(ns), F.col("s_nationkey") == F.col("s_nk"))
            .filter(F.col("src") != F.col("dst"))
            .groupBy("src", "dst")
            .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
                 .alias("w_dec"))
            .localCheckpoint(eager=True)
        )

    return memo(spark, "trade_edges", sf_dir, build)


def _build_pagerank_sql() -> str:
    head = f"""
edges0 AS (
  SELECT ns.n_name AS src, nc.n_name AS dst,
         SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS w_dec
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation nc ON c.c_nationkey = nc.n_nationkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation ns ON s.s_nationkey = ns.n_nationkey
  WHERE ns.n_name <> nc.n_name
  GROUP BY ns.n_name, nc.n_name
),
edges AS (
  SELECT src, dst,
         CAST(w_dec AS DOUBLE) / CAST(SUM(w_dec) OVER (PARTITION BY src) AS DOUBLE) AS p
  FROM edges0
),
nodes AS (SELECT n_name AS node FROM nation),
r0 AS (SELECT node, 1.0/{PR_N} AS r FROM nodes)"""
    iters = []
    for i in range(1, PR_ITERS + 1):
        iters.append(f"""
r{i} AS (
  SELECT n.node,
         round({1 - PR_DAMPING}/{PR_N}
               + {PR_DAMPING} * COALESCE(SUM(e.p * r{i-1}.r), 0),
               {_ITER_ROUND}) AS r
  FROM nodes n
  LEFT JOIN edges e ON e.dst = n.node
  LEFT JOIN r{i-1} ON r{i-1}.node = e.src
  GROUP BY n.node
)""")
    return (
        "WITH " + head + "," + ",".join(iters)
        + f"\nSELECT node, round(r, 6) AS pagerank FROM r{PR_ITERS}"
    )


@query("pagerank_nations", oracle=_build_pagerank_sql())
def pagerank_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (d=0.85, 5 rounds) over the nation trade
    graph. Each round is one join (ranks⋈edges on src — broadcast;
    the rank table is vertex-sized) plus one aggregation (inflow per
    dst); dangling-mass redistribution is deliberately omitted on both
    sides, the standard simplification."""
    n = table(spark, sf_dir, "nation")
    e0 = _trade_edges_memo(spark, sf_dir)
    wsrc = Window.partitionBy("src")
    edges = e0.select(
        "src",
        "dst",
        (
            F.col("w_dec").cast("double")
            / F.sum("w_dec").over(wsrc).cast("double")
        ).alias("p"),
    ).localCheckpoint(eager=True)
    # checkpointed eagerly: every iteration references edges, and
    # without the pin the normalization window re-executes once per
    # round (the 6-table edge derivation itself is the shared
    # trade_edges memo); the edge table is ≤ nations² rows, so this is
    # the cheap side of that trade at any scale
    nodes = n.select(F.col("n_name").alias("node"))
    ranks = nodes.select("node", F.lit(1.0 / PR_N).alias("r"))
    base = F.lit((1 - PR_DAMPING) / PR_N)
    for _ in range(PR_ITERS):
        contrib = edges.join(F.broadcast(ranks), edges.src == ranks.node).select(
            "dst", (F.col("p") * F.col("r")).alias("pr")
        )
        agg = contrib.groupBy("dst").agg(F.sum("pr").alias("inflow"))
        ranks = nodes.join(
            F.broadcast(agg), nodes.node == agg.dst, "left"
        ).select(
            "node",
            F.round(
                base + F.lit(PR_DAMPING) * F.coalesce("inflow", F.lit(0.0)),
                _ITER_ROUND,
            ).alias("r"),
        )
    return ranks.select("node", F.round("r", 6).alias("pagerank"))


# ---- BFS hop distance over the sparsified trade graph ----------------------

HOP_SRC = "NATION_0"  # fixed BFS source (nation table is fixed at every SF)
HOP_OUT_DEG = 3     # keep each nation's top-3 trade destinations
HOP_MAX = 4         # frontier rounds


def _build_hops_sql() -> str:
    """Unrolled min-hop BFS as chained CTEs: d_i = MIN over
    (d_{i-1} ∪ one-step expansion of d_{i-1}). Pure integers, so the
    distances are exact on both engines; the top-3 out-edge
    sparsification ranks by the exact DECIMAL trade volume with a dst
    tie-break."""
    head = f"""
edges0 AS (
  SELECT ns.n_name AS src, nc.n_name AS dst,
         SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS w_dec
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation nc ON c.c_nationkey = nc.n_nationkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation ns ON s.s_nationkey = ns.n_nationkey
  WHERE ns.n_name <> nc.n_name
  GROUP BY ns.n_name, nc.n_name
),
sparse AS (
  SELECT src, dst FROM (
    SELECT src, dst,
           row_number() OVER (PARTITION BY src ORDER BY w_dec DESC, dst) AS rn
    FROM edges0
  ) WHERE rn <= {HOP_OUT_DEG}
),
d0 AS (SELECT '{HOP_SRC}' AS node, 0 AS hops)"""
    iters = []
    for i in range(1, HOP_MAX + 1):
        iters.append(f"""
d{i} AS (
  SELECT node, MIN(hops) AS hops FROM (
    SELECT node, hops FROM d{i-1}
    UNION ALL
    SELECT e.dst AS node, d.hops + 1 AS hops
    FROM d{i-1} d JOIN sparse e ON e.src = d.node
  ) GROUP BY node
)""")
    return (
        "WITH " + head + "," + ",".join(iters)
        + f"\nSELECT node, CAST(hops AS BIGINT) AS hops FROM d{HOP_MAX}"
    )


@query("nation_trade_hops", oracle=_build_hops_sql())
def nation_trade_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS hop distance from {HOP_SRC} over the top-{HOP_OUT_DEG}
    out-edges-per-nation trade graph — the iterative FRONTIER
    EXPANSION shape (k-hop reachability / shortest unweighted path)
    that completes the iterative-graph family beside pagerank
    (fixpoint), PIC/LexRank (power iteration), and connected
    components (label propagation). Each round is one equi-join of the
    current distance frame against the sparse edge list plus a MIN
    aggregate; distances are integers, so the oracle (unrolled
    min-hop CTEs) matches exactly. The expensive 5-table edge build is
    checkpointed ONCE; the per-round distance frame is left lazy (see
    loop comment). At cluster scale the same loop runs with the
    frontier broadcast while the edge list stays partitioned by
    src."""
    e0 = _trade_edges_memo(spark, sf_dir)
    wdeg = Window.partitionBy("src").orderBy(F.desc("w_dec"), F.asc("dst"))
    sparse = (
        e0.withColumn("rn", F.row_number().over(wdeg))
        .filter(F.col("rn") <= HOP_OUT_DEG)
        .select("src", "dst")
        .localCheckpoint(eager=True)  # consumed once per BFS round
    )
    d = spark.createDataFrame([(HOP_SRC, 0)], "node string, hops int")
    for _ in range(HOP_MAX):
        step = (
            sparse.join(F.broadcast(d), sparse.src == d.node)
            .select(F.col("dst").alias("node"), (F.col("hops") + 1).alias("hops"))
        )
        d = (
            d.unionByName(step)
            .groupBy("node")
            .agg(F.min("hops").alias("hops"))
        )
        # d IS read twice per round (carry-over + expansion), so the
        # plan doubles per round — but unlike PIC no expensive subtree
        # gets replayed: everything below d derives from the CHECKPOINTED
        # sparse edge list plus a literal row, so 2^HOP_MAX = 16 leaf
        # references of trivial joins are cheaper than HOP_MAX eager
        # checkpoint jobs. Revisit if HOP_MAX grows past ~6.
    return d.select("node", F.col("hops").cast("bigint").alias("hops"))


# ---- triangle counting over the trade graph --------------------------------

TRI_TOP_EDGES = 100  # sparsify: strongest trade pairs by exact volume

_TRIANGLES_SQL = f"""
WITH edges0 AS (
  SELECT ns.n_name AS src, nc.n_name AS dst,
         SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS w_dec
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation nc ON c.c_nationkey = nc.n_nationkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation ns ON s.s_nationkey = ns.n_nationkey
  WHERE ns.n_name <> nc.n_name
  GROUP BY ns.n_name, nc.n_name
),
tope AS (
  SELECT src, dst FROM edges0
  QUALIFY row_number() OVER (ORDER BY w_dec DESC, src, dst) <= {TRI_TOP_EDGES}
),
und AS (
  SELECT least(src, dst) AS u, greatest(src, dst) AS v
  FROM tope GROUP BY 1, 2
)
SELECT a.u AS na, a.v AS nb, c.v AS nc
FROM und a
JOIN und b ON b.u = a.v
JOIN und c ON c.u = a.u AND c.v = b.v
"""


@query("trade_triangles", oracle=_TRIANGLES_SQL)
def trade_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle enumeration over the sparsified trade graph: keep the
    100 strongest nation-pair edges (DECIMAL-exact volume rank with
    name tie-breaks, so the edge set is engine-portable), symmetrize
    to undirected u<v edges, then the canonical ordered 3-join — each
    triangle (a<b<c) is produced exactly once. The node-ordering trick
    is what makes distributed triangle counting feasible: every join
    key is the shared vertex and no triangle is counted 6×. At web
    scale the same plan runs degree-ordered (orient edges low→high
    degree) so the join fan-out is bounded by max degree, and the edge
    list is the only shuffled table. Here edges are dimension-sized →
    both joins broadcast."""
    edges0 = _trade_edges_memo(spark, sf_dir)
    tope = edges0.orderBy(
        F.desc("w_dec"), F.asc("src"), F.asc("dst")
    ).limit(TRI_TOP_EDGES)
    und = tope.select(
        F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
    ).distinct()
    a = und.select(F.col("u").alias("au"), F.col("v").alias("av"))
    b = und.select(F.col("u").alias("bu"), F.col("v").alias("bv"))
    c = und.select(F.col("u").alias("cu"), F.col("v").alias("cv"))
    return (
        a.join(F.broadcast(b), F.col("bu") == F.col("av"))
        .join(
            F.broadcast(c),
            (F.col("cu") == F.col("au")) & (F.col("cv") == F.col("bv")),
        )
        .select(
            F.col("au").alias("na"), F.col("av").alias("nb"),
            F.col("cv").alias("nc"),
        )
    )


# ---- value-checked LexRank power iteration ---------------------------------
#
# The DataFrame damped power iteration in operators/lexrank.py is
# rows-only (float summation order differs between engines). This twin
# pins the ALGORITHM's values with parity-safe arithmetic so the driver
# can value-check the iteration machinery itself (the pagerank_nations
# trick, per VERDICT r3 #7):
#   * edge weights: integer-tf cosine — dot/(sqrt(n2a)*sqrt(n2b)) of
#     exact BIGINT sums; +,×,÷,sqrt are IEEE-correctly-rounded in both
#     engines, so sim is bit-identical (no transcendentals: smooth-idf's
#     ln() differs by ulps between JVM and libm, so the checked twin
#     uses tf-only cosine; the operator keeps smooth-idf).
#   * order-independence: sim is snapped to DECIMAL(10,9); degree and
#     the per-iteration neighbor sums Σ p·s run in EXACT decimal
#     arithmetic (scale 9 × scale 9 = scale 18; values ≤ 1 keep the
#     scaled int128 under 2^63, where DuckDB's decimal→double cast is
#     correctly rounded), then ONE shared double expression per
#     iteration re-snaps to DECIMAL(11,9). Zero rounding slack needed —
#     both engines compute identical bits by construction.

LEXC_ITERS = 8          # matches operators/lexrank.N_ITER
LEXC_DAMPING = 0.15     # matches operators/lexrank.DAMPING
LEXC_THRESHOLD = "0.100000000"  # sim ≥ 0.1, compared in DECIMAL(10,9)
LEXC_MOD = 3            # bounded sample: doc_id % 3 = 0 ...
LEXC_CAP = 500          # ... AND doc_id < 500: the graph is FIXED-size
                        # (167 nodes) at every SF, like pagerank's 25
                        # nations — a value-check twin pins the
                        # iteration algorithm, it must not become a
                        # scan-scale benchmark query

_LEXC_TOKENS = (
    "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')"
)


def _checked_graph_head() -> str:
    """Shared CTE head for the value-checked iteration twins
    (lexrank_scores_checked, pic_embedding_checked): bounded doc
    sample → integer-tf cosine sims snapped to DECIMAL(10,9) →
    thresholded, row-normalized edge list + nodes."""
    return f"""
docs AS (
  SELECT doc_id, source, text FROM documents
  WHERE doc_id % {LEXC_MOD} = 0 AND doc_id < {LEXC_CAP}
),
tf AS (
  SELECT doc_id, source, term, count(*) AS c
  FROM (SELECT doc_id, source, unnest({_LEXC_TOKENS}) AS term FROM docs)
  GROUP BY doc_id, source, term
),
n2 AS (
  SELECT doc_id, CAST(SUM(c * c) AS BIGINT) AS n2 FROM tf GROUP BY doc_id
),
tf2 AS (
  -- semantics-preserving min-df prune (VERDICT r5 #3): a term in only
  -- ONE doc of its group cannot form a pair, so dropping group-df=1
  -- terms from the PAIR JOIN input leaves `dots` bit-identical while
  -- removing the long singleton tail of the inverted index. Norms
  -- (n2) keep every term.
  SELECT tf.* FROM tf
  JOIN (SELECT source, term FROM tf GROUP BY source, term
        HAVING count(*) >= 2) f
    ON f.source = tf.source AND f.term = tf.term
),
dots AS (
  SELECT a.doc_id AS src, b.doc_id AS dst, a.source AS grp,
         CAST(SUM(a.c * b.c) AS BIGINT) AS dot
  FROM tf2 a JOIN tf2 b
    ON a.term = b.term AND a.source = b.source AND a.doc_id <> b.doc_id
  GROUP BY a.doc_id, b.doc_id, a.source
),
sims AS (
  SELECT d.src, d.dst, d.grp,
         CAST(CAST(d.dot AS DOUBLE)
              / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
              AS DECIMAL(10,9)) AS sim
  FROM dots d
  JOIN n2 na ON na.doc_id = d.src
  JOIN n2 nb ON nb.doc_id = d.dst
),
edges0 AS (
  SELECT src, dst, grp, sim FROM sims
  WHERE sim >= CAST({LEXC_THRESHOLD} AS DECIMAL(10,9))
),
deg AS (
  SELECT src, SUM(sim) AS deg FROM edges0 GROUP BY src
),
edges AS (
  SELECT e.src, e.dst, e.grp,
         CAST(CAST(e.sim AS DOUBLE) / CAST(d.deg AS DOUBLE)
              AS DECIMAL(10,9)) AS p
  FROM edges0 e JOIN deg d ON d.src = e.src
),
nodes AS (
  SELECT d.doc_id, d.source AS grp, g.n_g
  FROM docs d JOIN (SELECT source, count(*) AS n_g FROM docs GROUP BY source) g
    ON g.source = d.source
)"""


def _build_lexrank_checked_sql() -> str:
    head = _checked_graph_head() + f""",
r0 AS (
  SELECT doc_id, grp, n_g,
         CAST(CAST(1 AS DOUBLE) / CAST(n_g AS DOUBLE) AS DECIMAL(11,9)) AS s
  FROM nodes
)"""
    iters = []
    for i in range(1, LEXC_ITERS + 1):
        iters.append(f"""
r{i} AS (
  SELECT n.doc_id, n.grp, n.n_g,
         CAST(CAST({LEXC_DAMPING} AS DOUBLE) / CAST(n.n_g AS DOUBLE)
              + CAST({1 - LEXC_DAMPING} AS DOUBLE)
                * COALESCE(CAST(SUM(e.p * r{i-1}.s) AS DOUBLE),
                           CAST(0 AS DOUBLE))
              AS DECIMAL(11,9)) AS s
  FROM nodes n
  LEFT JOIN edges e ON e.dst = n.doc_id
  LEFT JOIN r{i-1} ON r{i-1}.doc_id = e.src
  GROUP BY n.doc_id, n.grp, n.n_g
)""")
    return (
        "WITH " + head + "," + ",".join(iters)
        + f"\nSELECT doc_id, grp, CAST(s AS DOUBLE) AS score FROM r{LEXC_ITERS}"
    )


def _checked_graph_parts(spark: SparkSession, sf_dir: str):
    """Spark twin of _checked_graph_head: (edges, nodes, deg) over the
    bounded doc sample — shared by lexrank_scores_checked and
    pic_embedding_checked (same graph, two different iterations).
    The expensive pair join is df-pruned, computed over half the pairs
    (mirrored post-sim), and eagerly checkpointed exactly once.
    Round 14: memoized per (session, sf_dir) — the two consumers each
    rebuilt the identical inverted-index pair join (~1.1 s warm at
    sf0.1, more cold); one shared build is the long-lived-session
    shape, booked to memo_build:checked_graph_parts by the bench."""
    from data_pipeline_playground_spark.caching import memo

    def build():
        return _checked_graph_parts_build(spark, sf_dir)

    return memo(spark, "checked_graph_parts", sf_dir, build)


def _checked_graph_parts_build(spark: SparkSession, sf_dir: str):
    from data_pipeline_playground_spark.functions.text import tokenize

    docs = (
        table(spark, sf_dir, "documents")
        .filter((F.col("doc_id") % LEXC_MOD == 0) & (F.col("doc_id") < LEXC_CAP))
        .select("doc_id", "source", "text")
    )
    tf = (
        docs.select("doc_id", "source", F.explode(tokenize(F.col("text"))).alias("term"))
        .groupBy("doc_id", "source", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n2 = tf.groupBy(F.col("doc_id").alias("ndoc")).agg(
        F.sum(F.col("c") * F.col("c")).alias("n2")
    )
    # min-df prune before the pair join (VERDICT r5 #3): group-df=1
    # terms cannot form a pair, so the semi-join drops the singleton
    # tail of the inverted index without changing a single dot product
    # (norms keep every term; the oracle CTE mirrors this as tf2)
    gdf = (
        tf.groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= 2)
        .select("source", "term")
    )
    tf2 = tf.join(gdf, ["source", "term"], "left_semi")
    a = tf2.select(F.col("doc_id").alias("src"), F.col("source").alias("grp"),
                   F.col("term").alias("t"), F.col("c").alias("ca"))
    b = tf2.select(F.col("doc_id").alias("dst"), F.col("source").alias("g2"),
                   F.col("term").alias("t2"), F.col("c").alias("cb"))
    # Spark-only half-pair trick: dot and sim are symmetric, so join
    # src<dst (half the pairs/aggregate groups) and mirror AFTER the
    # per-pair sim is computed. sqrt(na)*sqrt(nb) is commutative in
    # IEEE doubles, so mirrored rows carry bit-identical sims; the
    # oracle keeps the simple both-directions join (values identical).
    dots = (
        a.join(b, (F.col("t") == F.col("t2")) & (F.col("grp") == F.col("g2"))
               & (F.col("src") < F.col("dst")))
        .groupBy("src", "dst", "grp")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("dot"))
    )
    sims_half = (
        dots.join(n2.select(F.col("ndoc").alias("sa"), F.col("n2").alias("na")),
                  F.col("src") == F.col("sa"))
        .join(n2.select(F.col("ndoc").alias("sb"), F.col("n2").alias("nb")),
              F.col("dst") == F.col("sb"))
        .select(
            "src", "dst", "grp",
            (
                F.col("dot").cast("double")
                / (F.sqrt(F.col("na").cast("double"))
                   * F.sqrt(F.col("nb").cast("double")))
            ).cast("decimal(10,9)").alias("sim"),
        )
        .filter(F.col("sim") >= F.lit(LEXC_THRESHOLD).cast("decimal(10,9)"))
        # the ONE expensive frame (inverted-index pair join): eagerly
        # materialized so deg, edges, and the PIC degree vector all
        # derive from these blocks instead of each replaying the join;
        # localCheckpoint (not cache+count) so the blocks are
        # ContextCleaner-collected when the frame goes out of scope
        # (ADVICE r5 on the cache-without-unpersist pattern)
        .localCheckpoint(eager=True)
    )
    sims = sims_half.unionByName(
        sims_half.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"),
            F.col("grp"), F.col("sim"),
        )
    )
    deg = sims.groupBy(F.col("src").alias("dsrc")).agg(F.sum("sim").alias("deg"))
    edges = (
        sims.join(deg, F.col("src") == F.col("dsrc"))
        .select(
            "src", "dst", "grp",
            (F.col("sim").cast("double") / F.col("deg").cast("double"))
            .cast("decimal(10,9)").alias("p"),
        )
        # edges is re-read every iteration: one more (tiny) eager
        # materialization on top of the checkpointed sims_half blocks
        .localCheckpoint(eager=True)
    )
    nodes = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_g")).join(
        docs.select("doc_id", "source"), "source"
    ).select("doc_id", F.col("source").alias("grp"), "n_g")
    return edges, nodes, deg


@query("lexrank_scores_checked", oracle=_build_lexrank_checked_sql())
def lexrank_scores_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-checked LexRank damped power iteration (see block comment
    above): score_i = d/N_g + (1-d)·Σ_j (sim_ji/deg_j)·score_j over the
    thresholded within-group tf-cosine graph, 8 iterations, on a
    bounded doc sample (doc_id % 3 = 0, < 500). Same shuffle shape as
    pagerank_nations: edge build is one inverted-index join, each
    iteration is one broadcast join + aggregate; edges cached once."""
    edges, nodes, _deg = _checked_graph_parts(spark, sf_dir)
    ranks = nodes.select(
        "doc_id", "grp", "n_g",
        (F.lit(1).cast("double") / F.col("n_g").cast("double"))
        .cast("decimal(11,9)").alias("s"),
    )
    for i in range(LEXC_ITERS):
        prev = ranks.select(F.col("doc_id").alias("sdoc"), F.col("s").alias("sval"))
        contrib = (
            edges.join(F.broadcast(prev), F.col("src") == F.col("sdoc"))
            .groupBy(F.col("dst").alias("cdoc"))
            .agg(F.sum(F.col("p") * F.col("sval")).alias("csum"))
        )
        ranks = (
            nodes.join(F.broadcast(contrib), nodes.doc_id == F.col("cdoc"), "left")
            .select(
                "doc_id", "grp", "n_g",
                (
                    F.lit(LEXC_DAMPING) / F.col("n_g").cast("double")
                    + F.lit(1 - LEXC_DAMPING)
                    * F.coalesce(F.col("csum").cast("double"),
                                 F.lit(0).cast("double"))
                ).cast("decimal(11,9)").alias("s"),
            )
        )
        if (i + 1) % 4 == 0 and i + 1 < LEXC_ITERS:
            # truncate lineage: 8 nested join plans make Catalyst
            # re-optimization super-linear (same as operators/lexrank.py)
            ranks = ranks.localCheckpoint(eager=True)
    return ranks.select("doc_id", "grp", F.col("s").cast("double").alias("score"))


# --- PIC power iteration, value-checked (N7 family) -------------------------

PIC_CHECKED_ITERS = 5


def _build_pic_checked_sql() -> str:
    """PIC's algorithmic core (Lin & Cohen 2010): repeated
    multiplication by the row-normalized affinity matrix with L1
    re-normalization — unrolled over the SAME checked graph as
    lexrank_scores_checked. Decimal discipline identical: per-node
    values snap to DECIMAL(11,9); the normalizer is an exact decimal
    SUM shared through one double division."""
    head = _checked_graph_head() + """,
v0 AS (
  SELECT n.doc_id, n.grp,
         CAST(COALESCE(CAST(d.deg AS DOUBLE), CAST(0 AS DOUBLE))
              / CAST(z.z AS DOUBLE) AS DECIMAL(11,9)) AS s
  FROM nodes n
  LEFT JOIN deg d ON d.src = n.doc_id
  CROSS JOIN (SELECT SUM(deg) AS z FROM deg) z
)"""
    iters = []
    for i in range(1, PIC_CHECKED_ITERS + 1):
        iters.append(f"""
u{i} AS (
  SELECT n.doc_id, n.grp,
         CAST(COALESCE(CAST(SUM(e.p * v{i-1}.s) AS DOUBLE),
                       CAST(0 AS DOUBLE)) AS DECIMAL(11,9)) AS u
  FROM nodes n
  LEFT JOIN edges e ON e.src = n.doc_id
  LEFT JOIN v{i-1} ON v{i-1}.doc_id = e.dst
  GROUP BY n.doc_id, n.grp
),
z{i} AS (SELECT SUM(u) AS z FROM u{i}),
v{i} AS (
  SELECT u.doc_id, u.grp,
         CAST(CAST(u.u AS DOUBLE) / CAST(z{i}.z AS DOUBLE)
              AS DECIMAL(11,9)) AS s
  FROM u{i} u CROSS JOIN z{i}
)""")
    return (
        "WITH " + head + "," + ",".join(iters)
        + f"\nSELECT doc_id, grp, CAST(s AS DOUBLE) AS v"
          f" FROM v{PIC_CHECKED_ITERS}"
    )


@query("pic_embedding_checked", oracle=_build_pic_checked_sql())
def pic_embedding_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-checked PowerIterationClustering core (reference N7 /
    cluster.py:39-44's clustering intent; PIC per Lin & Cohen 2010):
    v ← normalize₁(P·v) from the degree vector, 5 iterations over the
    bounded checked graph — the 1-D spectral EMBEDDING that PIC's
    final k-means clusters, pinned to exact values. Completes the
    checked-twin set: every iterative/ML family (KMeans, bisecting,
    LexRank, PQ-ANN, pagerank, now PIC) has an oracle-checked
    assignment or iteration query beside its rows-only fit.

    Scale shape: identical to lexrank_scores_checked — edge build is
    one inverted-index join (cached), each iteration one broadcast
    join + partial-agg sum; the L1 normalizer is a 1-row broadcast."""
    edges, nodes, deg = _checked_graph_parts(spark, sf_dir)
    z0 = deg.agg(F.sum("deg").alias("z"))
    v = (
        nodes.join(deg, nodes.doc_id == deg.dsrc, "left")
        .crossJoin(F.broadcast(z0))
        .select(
            "doc_id", "grp",
            (
                F.coalesce(F.col("deg").cast("double"),
                           F.lit(0).cast("double"))
                / F.col("z").cast("double")
            ).cast("decimal(11,9)").alias("s"),
        )
    )
    # L1 normalizer as a WHOLE-FRAME window sum instead of a separate
    # agg + crossJoin(broadcast(z)): with z folded into one window
    # expression the per-round plan references u exactly ONCE, so the
    # lineage grows LINEARLY (the old two-branch shape — z and v both
    # reading u — doubled it per round: 2^5 replays of the edge join,
    # measured 58 s of pure plan overhead on a 167-node graph).
    # Checkpointing therefore drops from every round to every OTHER
    # round (bounding Catalyst re-optimization depth, as in
    # lexrank_scores_checked), and each round sheds one broadcast
    # exchange + one job. The single-partition window is safe: the
    # frame is the bounded checked-doc sample (< 500 nodes) by
    # construction. Decimal discipline unchanged — u snaps to
    # DECIMAL(11,9), z is an exact decimal SUM, one double division,
    # re-snap — so values stay bit-identical to the oracle.
    wz = Window.partitionBy()
    for i in range(PIC_CHECKED_ITERS):
        prev = v.select(F.col("doc_id").alias("pdoc"), F.col("s").alias("ps"))
        u_agg = (
            edges.join(F.broadcast(prev), F.col("dst") == F.col("pdoc"))
            .groupBy(F.col("src").alias("udoc"))
            .agg(F.sum(F.col("p") * F.col("ps")).alias("usum"))
        )
        u = nodes.join(
            F.broadcast(u_agg), nodes.doc_id == F.col("udoc"), "left"
        ).select(
            "doc_id", "grp",
            F.coalesce(F.col("usum").cast("double"), F.lit(0).cast("double"))
            .cast("decimal(11,9)").alias("u"),
        )
        v = u.select(
            "doc_id", "grp",
            (F.col("u").cast("double")
             / F.sum("u").over(wz).cast("double"))
            .cast("decimal(11,9)").alias("s"),
        )
        if i == 1:
            # one mid-loop truncation suffices for linear lineage: the
            # deepest re-optimized plan is 3 stacked rounds (5 nested
            # join+window blocks stay well inside Catalyst's comfort
            # zone; the 2^N hazard only existed with the two-branch z)
            v = v.localCheckpoint(eager=True)
    return v.select("doc_id", "grp", F.col("s").cast("double").alias("v"))
