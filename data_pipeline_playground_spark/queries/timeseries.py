"""Time-series query shapes: range-interval rolling windows, date-spine
gap filling, the SQL:2003 linear-regression aggregate family,
period-over-period deltas, LOCF imputation, and inter-event cadence.

The reference's time handling is a single `published_since(hours)`
filter (reference realtimeapi.py:60-66); these are the shapes a
warehouse adds on top of it. All are pure Catalyst — no UDFs — and
each keeps exactly one hash shuffle on its natural key (the WoW lag
runs over a bounded post-aggregate frame).

Scale notes (SCALE.md §Warehouse analytics):
- rolling: RANGE frames partition by customer — per-partition state is
  one sorted pass; no global sort anywhere.
- gapfill: the date spine is generated from a ONE-ROW min/max
  aggregate (broadcast), so the spine explode is |days| × |types| —
  dimension-sized regardless of fact size.
- trend: the regression's five sufficient statistics are exact
  decimal sums (order-free, single-pass combinable — same wire
  profile as sum/count), combined to slope/intercept/R² in one shared
  double expression tree, so results are bit-identical under any
  summation order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_pipeline_playground_spark.registry import query
from data_pipeline_playground_spark.tables import table

# --- range-interval rolling window ------------------------------------------

_ROLLING_SQL = """
SELECT o_custkey, o_orderkey,
       CAST(o_orderdate AS DATE) AS order_day,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
            PARTITION BY o_custkey ORDER BY o_orderdate
            RANGE BETWEEN INTERVAL 90 DAY PRECEDING AND CURRENT ROW
       ) AS DOUBLE) AS rolling_90d_revenue
FROM orders
"""


@query("customer_rolling_90d_revenue", oracle=_ROLLING_SQL)
def customer_rolling_90d_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per order: the customer's trailing-90-day revenue — a RANGE
    frame over event time, not a ROWS frame (ties and gaps handled by
    value, so the answer is insensitive to row order within a day).

    Spark expresses time-RANGE frames as rangeBetween over epoch
    seconds (timestamps order identically to their epoch values;
    TIMESTAMP_NTZ has no direct long cast in ANSI mode, so the key is
    an explicit timestampdiff from the NTZ epoch — same idiom as
    tables._events); decimal-exact sums inside the frame, one shuffle
    on o_custkey.
    """
    orders = table(spark, sf_dir, "orders")
    epoch_s = F.expr(
        "timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', o_orderdate)"
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(epoch_s)
        .rangeBetween(-90 * 86400, 0)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.to_date("o_orderdate").alias("order_day"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("rolling_90d_revenue"),
    )


# --- date-spine gap filling --------------------------------------------------

_GAPFILL_SQL = """
WITH bounds AS (
  SELECT CAST(min(date_trunc('day', ts)) AS DATE) AS d0,
         CAST(max(date_trunc('day', ts)) AS DATE) AS d1
  FROM events
),
spine AS (
  SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
  FROM bounds
),
types AS (SELECT DISTINCT event_type FROM events),
daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
         count(*) AS n_events
  FROM events GROUP BY 1, 2
)
SELECT s.day, t.event_type, COALESCE(d.n_events, 0) AS n_events,
       d.n_events IS NULL AS was_gap
FROM spine s CROSS JOIN types t
LEFT JOIN daily d ON d.day = s.day AND d.event_type = t.event_type
"""


@query("events_daily_gapfill", oracle=_GAPFILL_SQL)
def events_daily_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense daily series per event type: a generated date spine ×
    distinct types, left-joined to the observed daily counts with
    zero-fill — the gap-free input a downstream forecaster or
    anomaly detector needs (days with no events must appear as 0,
    not be silently absent).

    Plan: min/max bounds are a one-row aggregate; sequence() explodes
    the spine driver-free; spine × types is dimension-sized, so the
    left join broadcasts it against the daily rollup.
    """
    events = table(spark, sf_dir, "events")
    bounds = events.agg(
        F.to_date(F.min(F.date_trunc("day", "ts"))).alias("d0"),
        F.to_date(F.max(F.date_trunc("day", "ts"))).alias("d1"),
    )
    spine = bounds.select(
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    types = events.select("event_type").distinct()
    daily = (
        events.groupBy(
            F.to_date(F.date_trunc("day", "ts")).alias("day"),
            "event_type",
        ).agg(F.count(F.lit(1)).alias("n_events"))
    )
    return (
        F.broadcast(spine.crossJoin(types))
        .join(daily, ["day", "event_type"], "left")
        .select(
            "day",
            "event_type",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.col("n_events").isNull().alias("was_gap"),
        )
    )


# --- linear-regression aggregates -------------------------------------------

_TREND_SQL = """
WITH s AS (
  SELECT user_id,
         count(*) AS n_obs,
         CAST(SUM(CAST(epoch(date_trunc('second', ts)) - 1704067200 AS DECIMAL(28,0))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(value AS DECIMAL(15,3))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(epoch(date_trunc('second', ts)) - 1704067200 AS DECIMAL(28,0))
                  * CAST(value AS DECIMAL(15,3))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(epoch(date_trunc('second', ts)) - 1704067200 AS DECIMAL(28,0))
                  * CAST(epoch(date_trunc('second', ts)) - 1704067200 AS DECIMAL(28,0))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(value AS DECIMAL(15,3))
                  * CAST(value AS DECIMAL(15,3))) AS DOUBLE) AS syy
  FROM events
  WHERE value IS NOT NULL
  GROUP BY user_id
)
SELECT user_id, n_obs,
       ((n_obs * sxy) - (sx * sy)) / ((n_obs * sxx) - (sx * sx)) AS slope,
       (sy - (((n_obs * sxy) - (sx * sy)) / ((n_obs * sxx) - (sx * sx))) * sx)
         / n_obs AS intercept,
       (((n_obs * sxy) - (sx * sy)) / ((n_obs * sxx) - (sx * sx)))
         * ((n_obs * sxy) - (sx * sy)) / ((n_obs * syy) - (sy * sy)) AS r2
FROM s
"""


@query("user_value_trend", oracle=_TREND_SQL)
def user_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user linear trend of event value over time (slope per
    second, intercept, R²) — algebraically the SQL:2003
    regr_slope/regr_intercept/regr_r2 family, the drift screen a
    metrics pipeline runs per entity.

    Determinism by construction instead of by rounding: the built-in
    regr_* aggregates accumulate doubles, so distributed summation
    order perturbs low-order bits and the epoch-extrapolated intercept
    amplifies them past any sane rounding. Here the five sufficient
    statistics (Σx, Σy, Σxy, Σx², Σy²) are EXACT decimal sums
    (order-free), cast once to double, and combined in an identical
    scalar expression tree in both engines — bit-identical results
    with zero rounding. x is rebased to seconds since 2024-01-01 (the
    corpus epoch) and y quantized to 3 dp, which (a) keeps every
    statistic below 2^63 — above that DuckDB's int128-decimal→double
    cast is off by one ulp vs the JVM's correctly-rounded BigDecimal
    path — and (b) keeps every decimal product within exact Spark
    result types (no scale adjustment). One single-pass combinable
    shuffle on user_id, same wire profile as regr_*.
    """
    events = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    xd = F.expr(
        "timestampdiff(SECOND, TIMESTAMP_NTZ '2024-01-01 00:00:00', "
        "date_trunc('second', ts))"
    ).cast("decimal(28,0)")
    yd = F.col("value").cast("decimal(15,3)")
    s = events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum(xd).cast("double").alias("sx"),
        F.sum(yd).cast("double").alias("sy"),
        F.sum(xd * yd).cast("double").alias("sxy"),
        F.sum(xd * xd).cast("double").alias("sxx"),
        F.sum(yd * yd).cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n_obs"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    cov = (n * sxy) - (sx * sy)
    slope = cov / ((n * sxx) - (sx * sx))
    return s.select(
        "user_id",
        "n_obs",
        slope.alias("slope"),
        ((sy - slope * sx) / n).alias("intercept"),
        (slope * cov / ((n * syy) - (sy * sy))).alias("r2"),
    )



# --- last-observation-carried-forward imputation -----------------------------

_LOCF_SQL = """
WITH m AS (
  SELECT event_id, user_id, ts,
         CASE WHEN event_type = 'error' THEN NULL ELSE value END AS observed
  FROM events
)
SELECT event_id, user_id, observed,
       last_value(observed IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS filled,
       observed IS NULL AS was_imputed
FROM m
"""


@query("user_value_locf", oracle=_LOCF_SQL)
def user_value_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-observation-carried-forward imputation: error events are
    treated as dropped readings (their value masked to NULL) and
    filled with the user's most recent non-null observation — the
    standard sensor/metrics gap-repair pass. Rows before a user's
    first observation stay NULL (nothing to carry).

    The IGNORE NULLS running `last` is the one window feature the
    repo's other windows don't exercise; one hash shuffle on user_id,
    total (ts, event_id) order inside the partition, no arithmetic —
    values move verbatim, so engine parity is structural.
    """
    events = table(spark, sf_dir, "events")
    observed = F.when(F.col("event_type") == "error", F.lit(None)).otherwise(
        F.col("value")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    m = events.select("event_id", "user_id", "ts", observed.alias("observed"))
    return m.select(
        "event_id",
        "user_id",
        "observed",
        F.last("observed", ignorenulls=True).over(w).alias("filled"),
        F.col("observed").isNull().alias("was_imputed"),
    )


# --- inter-event gap statistics ----------------------------------------------

_ORDER_GAP_SQL = """
WITH g AS (
  SELECT o_custkey,
         date_diff('day',
                   lag(o_orderdate) OVER (PARTITION BY o_custkey
                                          ORDER BY o_orderdate, o_orderkey),
                   o_orderdate) AS gap_days
  FROM orders
)
SELECT o_custkey,
       count(*) AS n_gaps,
       quantile_cont(gap_days, 0.5) AS median_gap_days,
       max(gap_days) AS max_gap_days
FROM g
WHERE gap_days IS NOT NULL
GROUP BY o_custkey
"""


@query("customer_order_gaps", oracle=_ORDER_GAP_SQL)
def customer_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer inter-order cadence: median and max days between
    consecutive orders — the churn-risk / reorder-cycle signal.

    lag + grouped exact median share the o_custkey partitioning, so
    the window and the aggregate are ONE physical shuffle (Spark's
    `percentile` interpolates identically to DuckDB's quantile_cont;
    gaps are integer days, so the median is exactly representable).
    """
    orders = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    g = orders.select(
        "o_custkey",
        F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w)).alias(
            "gap_days"
        ),
    ).filter(F.col("gap_days").isNotNull())
    return g.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.expr("percentile(gap_days, 0.5)").alias("median_gap_days"),
        F.max("gap_days").alias("max_gap_days"),
    )


# --- daily user curves (first/last-occurrence transforms + WAU fan-out) ------

_USER_CURVES_SQL = """
WITH ud AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
  FROM events
),
mx AS (SELECT max(day) AS dmax FROM ud),
fan AS (
  SELECT user_id,
         CAST(unnest(generate_series(day, day + INTERVAL 6 DAY,
                                     INTERVAL 1 DAY)) AS DATE) AS day
  FROM ud
),
wau AS (
  SELECT f.day, CAST(count(DISTINCT f.user_id) AS BIGINT) AS n_active_7d
  FROM fan f CROSS JOIN mx
  WHERE f.day <= mx.dmax
  GROUP BY f.day
),
first_day AS (SELECT user_id, min(day) AS day FROM ud GROUP BY user_id),
new_per_day AS (
  SELECT day, CAST(count(*) AS BIGINT) AS new_users
  FROM first_day GROUP BY day
),
last_day AS (SELECT user_id, max(day) AS day FROM ud GROUP BY user_id),
last_per_day AS (
  SELECT day, CAST(count(*) AS BIGINT) AS n_users_last_active
  FROM last_day GROUP BY day
),
days AS (
  SELECT day FROM wau
  UNION SELECT day FROM new_per_day
  UNION SELECT day FROM last_per_day
)
SELECT d.day,
       CAST(datediff('day', d.day, mx.dmax) AS BIGINT) AS staleness_days,
       COALESCE(w.n_active_7d, 0) AS n_active_7d,
       COALESCE(n.new_users, 0) AS new_users,
       CAST(SUM(COALESCE(n.new_users, 0)) OVER (
              ORDER BY d.day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cumulative_users,
       COALESCE(l.n_users_last_active, 0) AS n_users_last_active
FROM days d CROSS JOIN mx
LEFT JOIN wau w ON w.day = d.day
LEFT JOIN new_per_day n ON n.day = d.day
LEFT JOIN last_per_day l ON l.day = d.day
"""


@query("daily_user_curves", oracle=_USER_CURVES_SQL)
def daily_user_curves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The daily user-lifecycle dashboard in one pass: trailing-7-day
    distinct active users (WAU), marginal new users, the cumulative
    growth curve, and the count of users LAST seen that day (keyed
    both by calendar day and by staleness_days = dmax − day, so the
    churn-risk histogram the former user_staleness_histogram reported
    reads directly off the frame). Round-10 consolidation of
    cumulative_unique_users + rolling_7d_active_users +
    user_staleness_histogram — all three derive from the same
    deduplicated (user, day) frame, built once here.

    Scale shapes preserved from the three originals:
    - the WAU curve is NOT a per-day COUNT(DISTINCT) over a sliding
      window (inexpressible as a window function, and a per-day
      self-join re-scans every prefix) — each (user, day) observation
      FANS FORWARD to the ≤7 days it keeps the user active for, a
      fixed 7× fan-out of the deduplicated frame, then one distinct
      aggregate per day; days past the corpus end are clipped by a
      broadcast one-row max.
    - the growth curve is the first-occurrence transform: distinct-by-
      min collapses each user to their first active day; the per-day
      counts of those firsts ARE the marginal new users, and a running
      sum over the bounded daily frame yields the cumulative curve —
      one linear pass, no expanding-window rescan.
    - staleness is the symmetric last-occurrence transform.
    The (user, day) frame is checkpointed (four consumers); every join
    after the aggregates is day-cardinality. One user-shaped shuffle +
    one fan-out distinct — the shape that survives 100 TB.
    """
    ev = table(spark, sf_dir, "events")
    ud = (
        ev.select(
            "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    mx = ud.agg(F.max("day").alias("dmax"))
    fan = ud.select(
        "user_id",
        F.explode(F.sequence(F.col("day"), F.date_add(F.col("day"), 6))).alias("day"),
    )
    wau = (
        fan.crossJoin(F.broadcast(mx))
        .filter(F.col("day") <= F.col("dmax"))
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("n_active_7d"))
    )
    newpd = (
        ud.groupBy("user_id").agg(F.min("day").alias("day"))
        .groupBy("day").agg(F.count(F.lit(1)).alias("new_users"))
    )
    lastpd = (
        ud.groupBy("user_id").agg(F.max("day").alias("day"))
        .groupBy("day").agg(F.count(F.lit(1)).alias("n_users_last_active"))
    )
    days = (
        wau.select("day")
        .union(newpd.select("day"))
        .union(lastpd.select("day"))
        .distinct()
    )
    j = (
        days.crossJoin(F.broadcast(mx))
        .join(wau, "day", "left")
        .join(newpd, "day", "left")
        .join(lastpd, "day", "left")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    new0 = F.coalesce(F.col("new_users"), F.lit(0))
    return j.select(
        "day",
        F.expr("CAST(datediff(DAY, day, dmax) AS BIGINT)").alias(
            "staleness_days"
        ),
        F.coalesce(F.col("n_active_7d"), F.lit(0))
        .cast("bigint").alias("n_active_7d"),
        new0.cast("bigint").alias("new_users"),
        F.sum(new0).over(w).cast("bigint").alias("cumulative_users"),
        F.coalesce(F.col("n_users_last_active"), F.lit(0))
        .cast("bigint").alias("n_users_last_active"),
    )


# --- exponentially weighted moving average (exact, bounded memory) ----------

EWMA_WINDOW = 12  # trailing rows per user; alpha = 1/2 (dyadic, exact)

_EWMA_SQL = f"""
WITH w AS (
  SELECT event_id, user_id, value,
         list(CAST(value AS DECIMAL(18,6))) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN {EWMA_WINDOW - 1} PRECEDING AND CURRENT ROW) AS vs
  FROM events
)
SELECT event_id, user_id, value,
       CAST(list_reduce(list_prepend(CAST(0 AS DECIMAL(30,6)),
              list_transform(vs, (x, i) ->
                CAST(x * (CAST(1 AS BIGINT) << (i - 1)) AS DECIMAL(30,6)))),
            (acc, t) -> CAST(acc + t AS DECIMAL(30,6))) AS DOUBLE)
       / CAST((CAST(1 AS BIGINT) << len(vs)) - 1 AS DOUBLE) AS ewma
FROM w
"""


@query("events_ewma", oracle=_EWMA_SQL)
def events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event EWMA (alpha = 1/2) of `value` over the user's trailing
    {EWMA_WINDOW} events — the monitoring/feature smoothing primitive.

    Exactness: with a dyadic alpha the weights are integer powers of
    two, so numerator = sum(v_i * 2^i) is an exact decimal sum and
    denominator = 2^m - 1 an exact integer; the single closing double
    division is IEEE-identical across engines (no transcendentals, no
    rounding slack — the lexrank_scores_checked playbook). The window
    frame bounds state: one shuffle on user_id, then a sorted pass
    holding at most {EWMA_WINDOW} rows per partition cursor — the same
    per-key bounded-state profile a streaming EWMA would have, so the
    shape survives 100 TB unchanged.
    """
    events = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(EWMA_WINDOW - 1), Window.currentRow)
    )
    vs = F.collect_list(F.col("value").cast("decimal(18,6)")).over(w)
    out = events.select("event_id", "user_id", "value", vs.alias("vs"))
    # shiftleft's PySpark wrapper only takes a Python-int shift, so the
    # column-indexed 2^i weights go through the SQL expression form.
    num = F.expr(
        "aggregate("
        "  transform(vs, (x, i) -> CAST(x * shiftleft(1L, i) AS DECIMAL(30,6))),"
        "  CAST(0 AS DECIMAL(30,6)),"
        "  (acc, t) -> CAST(acc + t AS DECIMAL(30,6)))"
    )
    den = F.expr("CAST(shiftleft(1L, size(vs)) - 1 AS DOUBLE)")
    return out.select(
        "event_id",
        "user_id",
        "value",
        (num.cast("double") / den).alias("ewma"),
    )


# --- CUSUM drift detection (sequential statistic, closed-form windows) -------

CUSUM_SLACK = 2   # allowance κ, in value units
CUSUM_ALARM = 50  # alarm threshold H, in cumulated value units

_CUSUM_SQL = f"""
WITH base AS (
  SELECT user_id, event_id, ts, CAST(value AS DECIMAL(18,6)) AS v,
         CAST(SUM(CAST(value AS DECIMAL(18,6)))
              OVER (PARTITION BY user_id) AS DECIMAL(30,6)) AS s_u,
         COUNT(*) OVER (PARTITION BY user_id) AS n_u
  FROM events
),
dev AS (
  SELECT user_id, event_id, ts, n_u,
         SUM(CAST(n_u * v AS DECIMAL(30,6)) - s_u
             - CAST(n_u * {CUSUM_SLACK} AS DECIMAL(30,6)))
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS cum
  FROM base
),
s AS (
  SELECT user_id, event_id, n_u, cum,
         least(CAST(0 AS DECIMAL(38,6)),
               min(cum) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING)) AS floor_c
  FROM (SELECT user_id, event_id, ts, n_u, cum FROM dev)
)
SELECT user_id, event_id,
       CAST(CAST(cum - floor_c AS DECIMAL(18,6)) AS DOUBLE)
         / CAST(n_u AS DOUBLE) AS cusum,
       (cum - floor_c) > CAST(n_u * {CUSUM_ALARM} AS DECIMAL(30,6)) AS is_alarm
FROM s
"""


@query("events_cusum_drift", oracle=_CUSUM_SQL)
def events_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM drift statistic per event: S_i = max(0,
    S_{{i-1}} + (v_i − mean_u − κ)), alarming when S_i > H — the
    classic sequential changepoint monitor (Page 1954) over each
    user's own baseline.

    Distributable closed form: the recurrence is inherently
    sequential, but S_i = C_i − min(0, min_{{j≤i}} C_j) where C is the
    running deviation sum — so two stacked window functions (cumsum +
    prefix-min) replace the scan, ONE shuffle on user_id total, and
    the per-key state is a cursor, exactly like a streaming CUSUM.

    Exactness: the per-user mean is never divided out — deviations
    are multiplied through by n_u (d'_i = n_u·v_i − Σv − n_u·κ), so
    every window input, the cumsum, and the prefix-min are exact
    decimals; the one closing double division (and the decimal alarm
    compare) is IEEE-identical across engines. Summands stay at
    DECIMAL(30,6) ON PURPOSE: summing a DECIMAL(38,x) cannot widen in
    either engine (DuckDB silently falls back to DOUBLE accumulation
    — observed 1e-13 drift), while sum(DECIMAL(30,6)) widens to an
    exact DECIMAL(38,6) in both. Headroom: |n_u·v| ≤ 1e24 per term —
    bounded per user-key, not by corpus size.

    The cumsum and prefix-min share the (ts, event_id) ordering, so
    the closed form equals the sequential recurrence unconditionally
    (no assumption about event_id assignment order) — pinned against
    both a pure-Python replay and the streaming twin.
    """
    events = table(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id")
    worder = wu.orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wmin = wu.orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    v = F.col("value").cast("decimal(18,6)")
    base = events.select(
        "user_id",
        "event_id",
        "ts",
        v.alias("v"),
        F.sum(v).over(wu).cast("decimal(30,6)").alias("s_u"),
        F.count(F.lit(1)).over(wu).alias("n_u"),
    )
    dprime = (
        (F.col("n_u") * F.col("v")).cast("decimal(30,6)")
        - F.col("s_u")
        - (F.col("n_u") * F.lit(CUSUM_SLACK)).cast("decimal(30,6)")
    )
    dev = base.select(
        "user_id",
        "event_id",
        "ts",
        "n_u",
        F.sum(dprime).over(worder).alias("cum"),
    )
    s = dev.select(
        "user_id",
        "event_id",
        "n_u",
        "cum",
        F.least(
            F.lit(0).cast("decimal(38,6)"), F.min("cum").over(wmin)
        ).alias("floor_c"),
    )
    stat = F.col("cum") - F.col("floor_c")
    return s.select(
        "user_id",
        "event_id",
        (
            stat.cast("decimal(18,6)").cast("double")
            / F.col("n_u").cast("double")
        ).alias("cusum"),
        (stat > (F.col("n_u") * F.lit(CUSUM_ALARM)).cast("decimal(30,6)")).alias(
            "is_alarm"
        ),
    )


# --- naive-seasonal forecast backtest ----------------------------------------

_BACKTEST_SQL = """
WITH daily AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
  FROM orders GROUP BY 1
),
scored AS (
  SELECT day, revenue,
         lag(revenue, 7) OVER (ORDER BY day) AS forecast
  FROM daily
),
ape AS (
  SELECT CAST(date_trunc('month', day) AS DATE) AS month,
         CAST(CAST(abs(revenue - forecast) AS DOUBLE)
              / CAST(revenue AS DOUBLE) AS DECIMAL(14,11)) AS ape
  FROM scored WHERE forecast IS NOT NULL
)
SELECT month, count(*) AS n_days,
       CAST(SUM(ape) AS DOUBLE) * 100.0 / count(*) AS mape_pct
FROM ape GROUP BY month
"""


@query("daily_revenue_backtest", oracle=_BACKTEST_SQL)
def daily_revenue_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast backtesting: score the naive seasonal forecast
    (revenue of the same weekday last week) against actuals, reporting
    per-month MAPE — the evaluation loop any production forecast gets
    graded by, runnable before a model exists (the baseline every
    model must beat).

    Exactness: daily revenue and |actual − forecast| are exact
    decimals; each day's APE is ONE double division of exact inputs,
    snapped to DECIMAL(14,11) (≤ 12 significant digits — inside the
    double→decimal round-trip-identical band for both engines) so the
    month sum is order-free; the closing ×100/n is a shared double
    expression. Shape: the corpus-sized work is one combinable
    groupBy(day); the lag-7 window runs over the bounded
    post-aggregate daily frame (same argument as the wow_change
    readout in revenue_seasonal_decompose),
    then a |months|-row aggregate.
    """
    orders = table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.to_date(F.date_trunc("day", "o_orderdate")).alias("day")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("revenue")
    )
    w = Window.orderBy("day")
    scored = daily.select(
        "day", "revenue", F.lag("revenue", 7).over(w).alias("forecast")
    ).filter(F.col("forecast").isNotNull())
    ape = scored.select(
        F.to_date(F.date_trunc("month", "day")).alias("month"),
        (
            F.abs(F.col("revenue") - F.col("forecast")).cast("double")
            / F.col("revenue").cast("double")
        )
        .cast("decimal(14,11)")
        .alias("ape"),
    )
    return ape.groupBy("month").agg(
        F.count(F.lit(1)).alias("n_days"),
        (F.sum("ape").cast("double") * F.lit(100.0) / F.count(F.lit(1))).alias(
            "mape_pct"
        ),
    )


# --- time-weighted average (TWAP) -------------------------------------------

_TWAP_SQL = """
WITH e AS (
  SELECT user_id,
         CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec,
         CAST(value AS DECIMAL(28,6)) AS v,
         event_id
  FROM events
),
iv AS (
  SELECT user_id, v,
         lead(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id)
           - sec AS dt
  FROM e
),
agg AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_intervals,
         CAST(sum(dt) AS BIGINT) AS total_sec,
         sum(CAST(v * CAST(dt AS DECIMAL(28,0)) AS DECIMAL(30,6))) AS wv
  FROM iv WHERE dt IS NOT NULL
  GROUP BY user_id
)
SELECT user_id, n_intervals, total_sec,
       CAST(wv AS DOUBLE) / CAST(total_sec AS DOUBLE) AS twap
FROM agg WHERE total_sec > 0
"""


@query("twap_user_value", oracle=_TWAP_SQL)
def twap_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user (TWAP — the standard
    financial/telemetry aggregate when observations are irregularly
    spaced: each reading holds until the next one, so its weight is
    the seconds until the user's next event; the final open-ended
    reading is excluded).

    Parity recipe (memory rules): epoch seconds via second-truncation
    both sides; value snapped to DECIMAL(28,6) (≤ 12 significant
    digits → double→decimal rounds identically in both engines);
    value × Δt as decimal×decimal forced into int128 (28,6)×(28,0);
    each summand downcast to DECIMAL(30,6) so BOTH engines widen the
    SUM to an exact DECIMAL(38,6) (DuckDB silently accumulates
    DECIMAL(38,·) sums in DOUBLE); one final shared double division.
    The scaled weighted sum stays below 2^63 while Σ value·Δt <
    9.2e12 per user — comfortably true at any per-user event density
    here; beyond that, rebase values (subtract the per-user min) the
    way the CUSUM query rebases epochs.

    Plan: ONE hash exchange on user_id feeds both the lead() window
    and the aggregate (sort within partitions, no second shuffle).
    Users with a single event (or zero elapsed time) drop out in both
    engines.
    """
    events = table(spark, sf_dir, "events")
    sec = F.expr(
        "timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    )
    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    iv = events.select(
        "user_id",
        sec.alias("sec"),
        F.col("value").cast("decimal(28,6)").alias("v"),
        "event_id",
    ).select(
        "user_id",
        "v",
        (F.lead("sec").over(w) - F.col("sec")).alias("dt"),
    )
    agg = (
        iv.where(F.col("dt").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_intervals"),
            F.sum("dt").cast("bigint").alias("total_sec"),
            F.sum(
                (F.col("v") * F.col("dt").cast("decimal(28,0)")).cast(
                    "decimal(30,6)"
                )
            ).alias("wv"),
        )
    )
    return agg.where(F.col("total_sec") > 0).select(
        "user_id",
        "n_intervals",
        "total_sec",
        (F.col("wv").cast("double") / F.col("total_sec").cast("double")).alias(
            "twap"
        ),
    )


# --- weekday seasonal decomposition (trend + seasonal + residual) -----------

_DECOMP_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders GROUP BY 1
),
ma AS (
  SELECT day, rev,
         SUM(rev) OVER w AS m7,
         count(*) OVER w AS n7,
         lag(rev, 7) OVER (ORDER BY day) AS prev7
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
valid AS (
  SELECT day, rev, CASE WHEN n7 = 7 THEN m7 END AS m7, prev7,
         CAST(isodow(day) AS BIGINT) AS iso_dow
  FROM ma
),
seas AS (
  SELECT iso_dow,
         CAST(7 * SUM(CASE WHEN m7 IS NOT NULL THEN rev END)
              - SUM(m7) AS DOUBLE)
           / CAST(7 * count(m7) AS DOUBLE) AS seasonal
  FROM valid GROUP BY iso_dow
)
SELECT v.day, CAST(v.rev AS DOUBLE) AS revenue,
       CAST(v.m7 AS DOUBLE) / CAST(7 AS DOUBLE) AS trend,
       v.iso_dow, s.seasonal,
       CAST(v.rev AS DOUBLE) - CAST(v.m7 AS DOUBLE) / CAST(7 AS DOUBLE)
         - s.seasonal AS residual,
       CAST(v.prev7 AS DOUBLE) AS revenue_prev_week,
       (CAST(v.rev AS DOUBLE) - CAST(v.prev7 AS DOUBLE))
         / CAST(v.prev7 AS DOUBLE) AS wow_change
FROM valid v JOIN seas s ON s.iso_dow = v.iso_dow
"""


@query("revenue_seasonal_decompose", oracle=_DECOMP_SQL)
def revenue_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of daily revenue
    (the moving-average step of STL's ancestor, Macaulay 1931):
    trend = centered 7-day moving average (only where the full 7-day
    frame exists), weekday seasonal index = mean detrended revenue per
    ISO weekday, residual = revenue − trend − seasonal. The anomaly
    baseline a forecaster subtracts first. Round-11 consolidation
    absorbed `daily_revenue_wow`: the lag-7 week-over-week readout
    (revenue_prev_week, wow_change) rides every day row — one more
    window function over the same single-partition post-aggregate
    daily frame, zero extra exchanges.

    Parity: daily revenue and the 7-day window SUM stay exact
    DECIMAL; the seasonal mean avoids float summation entirely via
    (7·Σrev − Σm7) / (7·n) — two exact decimal sums combined in ONE
    shared double expression (the memory transcendental-free rule);
    trend and residual are single double trees per row. Weekday via
    ISO day-of-week (Mon=1) in both engines.

    Plan: one hash agg to the daily frame, then a single-partition
    ROWS window — bounded by |days|, the same post-aggregate-frame
    argument as daily_revenue_backtest — a 7-row seasonal aggregate,
    and a broadcast join back.
    """
    orders = table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.to_date("o_orderdate").alias("day")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
    w = Window.orderBy("day").rowsBetween(-3, 3)
    ma = daily.select(
        "day",
        "rev",
        F.sum("rev").over(w).alias("m7_raw"),
        F.count("*").over(w).alias("n7"),
        F.lag("rev", 7).over(Window.orderBy("day")).alias("prev7"),
    )
    valid = ma.select(
        "day",
        "rev",
        F.when(F.col("n7") == 7, F.col("m7_raw")).alias("m7"),
        "prev7",
        (F.weekday("day") + F.lit(1)).cast("bigint").alias("iso_dow"),
    )
    seas = valid.groupBy("iso_dow").agg(
        (
            (
                F.lit(7)
                * F.sum(F.when(F.col("m7").isNotNull(), F.col("rev")))
                - F.sum("m7")
            ).cast("double")
            / (F.lit(7) * F.count("m7")).cast("double")
        ).alias("seasonal")
    )
    trend = F.col("m7").cast("double") / F.lit(7).cast("double")
    prev7d = F.col("prev7").cast("double")
    return (
        valid.join(F.broadcast(seas), "iso_dow")
        .select(
            "day",
            F.col("rev").cast("double").alias("revenue"),
            trend.alias("trend"),
            "iso_dow",
            "seasonal",
            (F.col("rev").cast("double") - trend - F.col("seasonal")).alias(
                "residual"
            ),
            prev7d.alias("revenue_prev_week"),
            ((F.col("rev").cast("double") - prev7d) / prev7d).alias(
                "wow_change"
            ),
        )
    )


# --- autocorrelation of daily revenue ---------------------------------------

ACF_LAGS = [1, 7, 14, 28]

_ACF_SQL = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev0
  FROM orders GROUP BY 1
),
-- floor to whole dollars via exact decimal modulo so every moment is
-- integral and the sums downcast to int64-backed DECIMAL(18,0) before
-- the double cast (DuckDB's int128 decimal->double can be 1 ulp off
-- even below 2^63)
d2 AS (
  SELECT day, CAST(rev0 - (rev0 % 1) AS DECIMAL(12,0)) AS rev FROM daily
),
lags AS (SELECT unnest([{", ".join(str(k) for k in ACF_LAGS)}]) AS lag),
pairs AS (
  SELECT l.lag, a.rev AS x, b.rev AS y
  FROM lags l
  JOIN d2 a ON true
  JOIN d2 b ON b.day = a.day + CAST(l.lag AS INT)
),
m AS (
  SELECT lag, CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(CAST(x AS DECIMAL(30,0))) AS DECIMAL(18,0)) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(30,0))) AS DECIMAL(18,0)) AS sy,
         CAST(SUM(CAST(x * y AS DECIMAL(30,0))) AS DECIMAL(18,0)) AS sxy,
         CAST(SUM(CAST(x * x AS DECIMAL(30,0))) AS DECIMAL(18,0)) AS sxx,
         CAST(SUM(CAST(y * y AS DECIMAL(30,0))) AS DECIMAL(18,0)) AS syy
  FROM pairs GROUP BY lag
)
SELECT lag, n,
       (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                   - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS acf
FROM m
"""


@query("revenue_acf", oracle=_ACF_SQL)
def revenue_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of daily revenue at lags 1/7/14/28 days (the
    aligned-pairs Pearson form) — the seasonality detector that says
    WHICH period revenue_seasonal_decompose should model (a spike at
    lag 7 = weekly cycle).

    Parity: daily revenues floor to whole dollars (decimal modulo, no
    rounding mode involved); every moment is an exact integral decimal
    sum DOWNCAST to int64-backed DECIMAL(18,0) before the double cast
    (DuckDB's int128 decimal→double can be 1 ulp off even below 2^63 —
    found here at lag 14/28); each coefficient is one shared double
    tree (sqrt correctly rounded). Bounds: Σx² < 1e18 holds through
    ~sf1-scale daily revenues; shard the sums beyond.

    Plan: the lag self-join runs on the DAILY frame (dimension-sized
    after the first aggregate) against a 4-row lag spine; moments are
    one (lag)-keyed combinable aggregate.
    """
    orders = table(spark, sf_dir, "orders")
    rev0 = F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        (rev0 - rev0 % 1).cast("decimal(12,0)").alias("rev")
    )
    lags = spark.createDataFrame(
        [(k,) for k in ACF_LAGS], "lag INT"
    )
    a = daily.select(F.col("day").alias("d_a"), F.col("rev").alias("x"))
    b = daily.select(F.col("day").alias("d_b"), F.col("rev").alias("y"))
    pairs = (
        F.broadcast(lags)
        .crossJoin(a)
        .join(b, F.col("d_b") == F.expr("date_add(d_a, lag)"))
        .select("lag", "x", "y")
    )
    m = pairs.groupBy("lag").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("x").cast("decimal(30,0)"))
        .cast("decimal(18,0)").alias("sx"),
        F.sum(F.col("y").cast("decimal(30,0)"))
        .cast("decimal(18,0)").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(30,0)"))
        .cast("decimal(18,0)").alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(30,0)"))
        .cast("decimal(18,0)").alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(30,0)"))
        .cast("decimal(18,0)").alias("syy"),
    )
    D = lambda c: F.col(c).cast("double")  # noqa: E731
    acf = (D("n") * D("sxy") - D("sx") * D("sy")) / F.sqrt(
        (D("n") * D("sxx") - D("sx") * D("sx"))
        * (D("n") * D("syy") - D("sy") * D("sy"))
    )
    return m.select(
        F.col("lag").cast("int").alias("lag"), "n", acf.alias("acf")
    )


# --- supplier late-shipment trend ----------------------------------------------

LATE_TREND_TOP = 20

_LATE_TREND_SQL = f"""
WITH j AS (
  SELECT l.l_suppkey AS suppkey,
         CAST(datediff('month', DATE '1990-01-01',
                        date_trunc('month', l.l_shipdate)) AS BIGINT) AS t,
         CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
              THEN 1 ELSE 0 END AS late
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
),
m AS (
  SELECT suppkey, t,
         CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(late) AS BIGINT) AS n_late,
         (CAST(SUM(late) AS BIGINT) * 1000000) // CAST(count(*) AS BIGINT)
           AS rate_fp
  FROM j GROUP BY suppkey, t
),
s AS (
  SELECT suppkey,
         CAST(count(*) AS BIGINT) AS n_months,
         CAST(SUM(n) AS BIGINT) AS n_lines,
         CAST(SUM(n_late) AS BIGINT) AS n_late,
         CAST(SUM(t) AS BIGINT) AS st,
         CAST(SUM(t * t) AS BIGINT) AS stt,
         CAST(SUM(rate_fp) AS BIGINT) AS sr,
         CAST(SUM(t * rate_fp) AS BIGINT) AS str
  FROM m GROUP BY suppkey
)
SELECT suppkey, n_months, n_lines,
       CAST(n_late AS DOUBLE) / CAST(n_lines AS DOUBLE) AS late_rate,
       (CAST(n_months AS DOUBLE) * CAST(str AS DOUBLE)
        - CAST(st AS DOUBLE) * CAST(sr AS DOUBLE))
         / ((CAST(n_months AS DOUBLE) * CAST(stt AS DOUBLE)
             - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)) * 1000000.0)
         AS late_rate_slope
FROM s
WHERE n_months >= 3
  AND n_months * stt - st * st > 0
ORDER BY (CAST(n_months AS DOUBLE) * CAST(str AS DOUBLE)
          - CAST(st AS DOUBLE) * CAST(sr AS DOUBLE))
           / ((CAST(n_months AS DOUBLE) * CAST(stt AS DOUBLE)
               - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)) * 1000000.0) DESC,
         suppkey
LIMIT {LATE_TREND_TOP}
"""


@query("supplier_late_trend", oracle=_LATE_TREND_SQL)
def supplier_late_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{20} suppliers by WORSENING late-shipment trend: per
    supplier, the OLS slope of the monthly late rate (shipdate > order
    date + 60 days, the Q12-analog lateness rule) over months — the
    vendor-scorecard query that catches degradation before the
    absolute rate looks bad.

    Exactness: the monthly rate is fixed-point (late·10⁶ DIV n, both
    engines truncate non-negative integer division identically), so
    all five regression sufficient statistics are exact int64 sums and
    the slope is one shared double expression (units: rate per month,
    descaled by the 10⁶). Plan: the one fact⋈fact orderkey join, two
    combinable aggregates ((supplier, month), then supplier), and a
    TakeOrdered — per-supplier state is 5 numbers, never a series.
    """
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    j = li.join(orders, F.col("o_orderkey") == F.col("l_orderkey")).select(
        F.col("l_suppkey").alias("suppkey"),
        F.expr(
            "CAST(datediff(MONTH, DATE '1990-01-01',"
            " date_trunc('month', l_shipdate)) AS BIGINT)"
        ).alias("t"),
        F.when(
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("late"),
    )
    m = j.groupBy("suppkey", "t").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("late").cast("bigint").alias("n_late"),
        F.expr("(CAST(SUM(late) AS BIGINT) * 1000000) div count(*)").alias(
            "rate_fp"
        ),
    )
    s = m.groupBy("suppkey").agg(
        F.count(F.lit(1)).alias("n_months"),
        F.sum("n").cast("bigint").alias("n_lines"),
        F.sum("n_late").cast("bigint").alias("n_late"),
        F.sum("t").cast("bigint").alias("st"),
        F.sum(F.col("t") * F.col("t")).cast("bigint").alias("stt"),
        F.sum("rate_fp").cast("bigint").alias("sr"),
        F.sum(F.col("t") * F.col("rate_fp")).cast("bigint").alias("str"),
    )
    slope = (
        F.col("n_months").cast("double") * F.col("str").cast("double")
        - F.col("st").cast("double") * F.col("sr").cast("double")
    ) / (
        (
            F.col("n_months").cast("double") * F.col("stt").cast("double")
            - F.col("st").cast("double") * F.col("st").cast("double")
        )
        * F.lit(1000000.0)
    )
    return (
        s.filter(
            (F.col("n_months") >= 3)
            & (F.col("n_months") * F.col("stt") - F.col("st") * F.col("st") > 0)
        )
        .select(
            "suppkey",
            "n_months",
            "n_lines",
            (F.col("n_late").cast("double") / F.col("n_lines").cast("double")).alias(
                "late_rate"
            ),
            slope.alias("late_rate_slope"),
        )
        .orderBy(F.desc("late_rate_slope"), "suppkey")
        .limit(LATE_TREND_TOP)
    )


# --- weekly growth accounting ---------------------------------------------------

_GROWTH_SQL = """
WITH uw AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
  FROM events
),
firsts AS (SELECT user_id, min(week) AS first_week FROM uw GROUP BY user_id),
weeks AS (SELECT DISTINCT week FROM uw),
-- classify each (user, week) presence; churn is counted at the week
-- AFTER the last active one
cur AS (
  SELECT u.user_id, u.week,
         CASE WHEN f.first_week = u.week THEN 'new'
              WHEN p.user_id IS NOT NULL THEN 'retained'
              ELSE 'resurrected' END AS status
  FROM uw u
  JOIN firsts f ON f.user_id = u.user_id
  LEFT JOIN uw p ON p.user_id = u.user_id
              AND p.week = u.week - INTERVAL 7 DAY
),
churn AS (
  SELECT CAST(u.week + INTERVAL 7 DAY AS DATE) AS week,
         count(*) AS n_churned
  FROM uw u
  LEFT JOIN uw nx ON nx.user_id = u.user_id
               AND nx.week = u.week + INTERVAL 7 DAY
  WHERE nx.user_id IS NULL
    AND u.week + INTERVAL 7 DAY <= (SELECT max(week) FROM weeks)
  GROUP BY 1
)
SELECT c.week,
       CAST(SUM(CASE WHEN status = 'new' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_new,
       CAST(SUM(CASE WHEN status = 'retained' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_retained,
       CAST(SUM(CASE WHEN status = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_resurrected,
       CAST(COALESCE(max(ch.n_churned), 0) AS BIGINT) AS n_churned
FROM cur c
LEFT JOIN churn ch ON ch.week = c.week
GROUP BY c.week
"""


@query("weekly_growth_accounting", oracle=_GROWTH_SQL)
def weekly_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting (the MAU-accounting identity, weekly): each
    active (user, week) classified as new (first-ever week), retained
    (also active the prior week), or resurrected (returning after a
    gap), plus the churn count booked to the week AFTER the last
    active one — actives(w) = actives(w−1) + new + resurrected −
    churned, the identity every growth team reconciles (pinned by
    test).

    Everything is equi-joins on (user, week) over the DEDUPLICATED
    user-week frame (≪ events): prior/next-week presence via
    self-joins with a shifted key — no window over raw events, no
    per-user series state.
    """
    ev = table(spark, sf_dir, "events")
    uw = ev.select(
        "user_id", F.to_date(F.date_trunc("week", "ts")).alias("week")
    ).distinct()
    uw = uw.localCheckpoint(eager=True)  # referenced 5× below
    firsts = uw.groupBy("user_id").agg(F.min("week").alias("first_week"))
    prev = uw.select(
        F.col("user_id").alias("p_user"), F.date_add("week", 7).alias("p_week")
    )
    cur = (
        uw.join(firsts, "user_id")
        .join(
            prev,
            (F.col("p_user") == F.col("user_id")) & (F.col("p_week") == F.col("week")),
            "left",
        )
        .select(
            "week",
            F.when(F.col("first_week") == F.col("week"), F.lit("new"))
            .when(F.col("p_user").isNotNull(), F.lit("retained"))
            .otherwise(F.lit("resurrected"))
            .alias("status"),
        )
    )
    mx = uw.agg(F.max("week").alias("wmax"))
    nxt = uw.select(
        F.col("user_id").alias("n_user"), F.date_sub("week", 7).alias("n_week")
    )
    churn = (
        uw.join(
            nxt,
            (F.col("n_user") == F.col("user_id")) & (F.col("n_week") == F.col("week")),
            "left_anti",
        )
        .crossJoin(F.broadcast(mx))
        .filter(F.date_add("week", 7) <= F.col("wmax"))
        .groupBy(F.date_add("week", 7).alias("week"))
        .agg(F.count(F.lit(1)).alias("n_churned"))
    )
    agg = cur.groupBy("week").agg(
        F.sum(F.when(F.col("status") == "new", 1).otherwise(0))
        .cast("bigint")
        .alias("n_new"),
        F.sum(F.when(F.col("status") == "retained", 1).otherwise(0))
        .cast("bigint")
        .alias("n_retained"),
        F.sum(F.when(F.col("status") == "resurrected", 1).otherwise(0))
        .cast("bigint")
        .alias("n_resurrected"),
    )
    return agg.join(churn, "week", "left").select(
        "week",
        "n_new",
        "n_retained",
        "n_resurrected",
        F.coalesce("n_churned", F.lit(0)).cast("bigint").alias("n_churned"),
    )


# --- inter-arrival burstiness ----------------------------------------------------

_BURSTINESS_SQL = """
WITH e AS (
  SELECT event_type, event_id, ts,
         CAST(datediff('second', TIMESTAMP '1970-01-01 00:00:00', ts)
              AS BIGINT) AS es
  FROM events
),
g AS (
  SELECT event_type, es - lag(es) OVER w AS gap_s
  FROM e
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
),
m AS (
  SELECT event_type,
         CAST(count(gap_s) AS BIGINT) AS n_gaps,
         CAST(SUM(gap_s) AS BIGINT) AS sg,
         CAST(SUM(gap_s * gap_s) AS BIGINT) AS sgg
  FROM g WHERE gap_s IS NOT NULL GROUP BY event_type
)
SELECT event_type, n_gaps,
       CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE) AS mean_gap_s,
       (CAST(n_gaps AS DOUBLE) * CAST(sgg AS DOUBLE)
        - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE))
         / (CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)) AS cov_squared
FROM m
"""


@query("interarrival_burstiness", oracle=_BURSTINESS_SQL)
def interarrival_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness of each event type's arrival process: the squared
    coefficient of variation of inter-arrival gaps (n·Σg²−(Σg)²)/(Σg)²
    — ≈1 for Poisson traffic, >1 bursty, <1 regular. The capacity-
    planning number that says whether peak provisioning follows the
    mean (CoV²≈1) or must chase bursts.

    Gaps are differences of epoch-anchored floored seconds (the
    boundary-aligned idiom — DuckDB's datediff counts boundary
    crossings, Spark truncates elapsed time; they only agree from an
    aligned anchor) via one lag window per type; the moments
    are exact int64 sums (Σg² bounded: gaps ≤ corpus span; document
    re-basing for >68-year spans), combined in one shared double
    expression — bit-identical across engines. One event_type
    exchange shared by window and aggregate.
    """
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    es = F.expr(
        "CAST(timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        " AS BIGINT)"
    )
    w_lag = Window.partitionBy("event_type").orderBy("ts", "event_id")
    g = ev.select(
        "event_type",
        (es - F.lag(es).over(w_lag)).alias("gap_s"),
    ).filter(F.col("gap_s").isNotNull())
    m = g.groupBy("event_type").agg(
        F.count("gap_s").alias("n_gaps"),
        F.sum("gap_s").cast("bigint").alias("sg"),
        F.sum(F.col("gap_s") * F.col("gap_s")).cast("bigint").alias("sgg"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return m.select(
        "event_type",
        "n_gaps",
        (d("sg") / d("n_gaps")).alias("mean_gap_s"),
        ((d("n_gaps") * d("sgg") - d("sg") * d("sg")) / (d("sg") * d("sg"))).alias(
            "cov_squared"
        ),
    )


# --- signup-to-purchase conversion curve -----------------------------------------

CONV_CURVE_MAX_DAYS = 14

_CONV_CURVE_SQL = f"""
WITH s AS (
  SELECT user_id, min(ts) AS signup_ts FROM events
  WHERE event_type = 'signup' GROUP BY user_id
),
p AS (
  SELECT e.user_id, min(e.ts) AS first_purchase_ts
  FROM events e JOIN s ON s.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= s.signup_ts
  GROUP BY e.user_id
),
lat AS (
  SELECT s.user_id,
         CAST(datediff('day', CAST(s.signup_ts AS DATE),
                        CAST(p.first_purchase_ts AS DATE)) AS BIGINT) AS days
  FROM s LEFT JOIN p ON p.user_id = s.user_id
),
grid AS (SELECT unnest(generate_series(0, {CONV_CURVE_MAX_DAYS})) AS k)
SELECT g.k AS within_days,
       CAST((SELECT count(*) FROM s) AS BIGINT) AS n_signups,
       CAST(SUM(CASE WHEN l.days IS NOT NULL AND l.days <= g.k
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
       CAST(SUM(CASE WHEN l.days IS NOT NULL AND l.days <= g.k
                     THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST((SELECT count(*) FROM s) AS DOUBLE) AS conversion_share
FROM grid g CROSS JOIN lat l
GROUP BY g.k
"""


@query("signup_conversion_curve", oracle=_CONV_CURVE_SQL)
def signup_conversion_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete conversion curve: the share of signed-up users whose
    first subsequent purchase lands within k CALENDAR days (date
    difference — the boundary-aligned idiom both engines agree on),
    for k = 0..14 — the activation curve a growth team reads alongside the single-number
    latency percentiles (`signup_purchase_latency`).

    Per-user firsts are two combinable min aggregates; the curve is
    the bounded 15-row grid broadcast against the per-user latency
    frame (users × 15, user-dimension-sized) — no window, no per-k
    rescan.
    """
    ev = table(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .filter(F.col("ts") >= F.col("signup_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase_ts"))
    )
    lat = s.join(p, "user_id", "left").select(
        F.expr(
            "CAST(datediff(DAY, CAST(signup_ts AS DATE),"
            " CAST(first_purchase_ts AS DATE)) AS BIGINT)"
        ).alias("days")
    )
    n = s.agg(F.count(F.lit(1)).alias("n_signups"))
    grid = ev.sparkSession.range(0, CONV_CURVE_MAX_DAYS + 1).select(
        F.col("id").cast("bigint").alias("within_days")
    )
    hit = F.when(
        F.col("days").isNotNull() & (F.col("days") <= F.col("within_days")), 1
    ).otherwise(0)
    return (
        lat.crossJoin(F.broadcast(grid))
        .groupBy("within_days")
        .agg(F.sum(hit).cast("bigint").alias("n_converted"))
        .crossJoin(F.broadcast(n))
        .select(
            "within_days",
            "n_signups",
            "n_converted",
            (F.col("n_converted").cast("double") / F.col("n_signups").cast("double")).alias(
                "conversion_share"
            ),
        )
    )


# --- cohort LTV triangle -----------------------------------------------------------

_LTV_SQL = """
WITH firsts AS (
  SELECT o_custkey,
         CAST(date_trunc('quarter', min(o_orderdate)) AS DATE) AS cohort
  FROM orders GROUP BY o_custkey
),
rev AS (
  SELECT f.cohort,
         CAST(datediff('quarter',
                       f.cohort,
                       CAST(date_trunc('quarter', o.o_orderdate) AS DATE))
              AS BIGINT) AS offset_q,
         SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders o JOIN firsts f ON f.o_custkey = o.o_custkey
  GROUP BY 1, 2
),
sz AS (SELECT cohort, CAST(count(*) AS BIGINT) AS cohort_users FROM firsts
       GROUP BY cohort)
SELECT r.cohort, r.offset_q, s.cohort_users,
       CAST(CAST(SUM(r.rev) OVER (PARTITION BY r.cohort ORDER BY r.offset_q
                ROWS UNBOUNDED PRECEDING) AS DECIMAL(18,2)) AS DOUBLE)
         / CAST(s.cohort_users AS DOUBLE) AS cum_ltv_per_user
FROM rev r JOIN sz s ON s.cohort = r.cohort
"""


@query("cohort_ltv_triangle", oracle=_LTV_SQL)
def cohort_ltv_triangle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LTV triangle: cumulative revenue per user for each
    first-order-quarter cohort at every quarter offset — the payback
    curve finance reads next to `cohort_retention`'s activity counts
    (do newer cohorts monetize faster?).

    Firsts and per-(cohort, offset) revenues are combinable decimal
    aggregates; the cumulative window runs over the bounded
    cohorts × offsets triangle (≤ quarters², never order-shaped);
    sums downcast to DECIMAL(18,2) before the shared double division.
    """
    orders = table(spark, sf_dir, "orders")
    firsts = orders.groupBy("o_custkey").agg(
        F.to_date(F.date_trunc("quarter", F.min("o_orderdate"))).alias("cohort")
    )
    oq = F.to_date(F.date_trunc("quarter", "o_orderdate"))
    rev = (
        orders.join(firsts, "o_custkey")
        .select(
            "cohort",
            F.expr(
                "CAST(datediff(QUARTER, cohort,"
                " to_date(date_trunc('quarter', o_orderdate))) AS BIGINT)"
            ).alias("offset_q"),
            F.col("o_totalprice").cast("decimal(18,2)").alias("p"),
        )
        .groupBy("cohort", "offset_q")
        .agg(F.sum("p").alias("rev"))
    )
    sz = firsts.groupBy("cohort").agg(F.count(F.lit(1)).alias("cohort_users"))
    w = (
        Window.partitionBy("cohort")
        .orderBy("offset_q")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        rev.join(F.broadcast(sz), "cohort")
        .select(
            "cohort",
            "offset_q",
            "cohort_users",
            (
                F.sum("rev").over(w).cast("decimal(18,2)").cast("double")
                / F.col("cohort_users").cast("double")
            ).alias("cum_ltv_per_user"),
        )
    )


# --- monthly revenue YoY -------------------------------------------------------------

_YOY_SQL = """
WITH m AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                   AS DECIMAL(18,2)) AS DOUBLE) AS revenue
  FROM orders GROUP BY 1
)
SELECT month, revenue,
       lag(revenue, 12) OVER (ORDER BY month) AS revenue_last_year,
       CASE WHEN lag(revenue, 12) OVER (ORDER BY month) IS NULL THEN NULL
            ELSE (revenue - lag(revenue, 12) OVER (ORDER BY month))
                 / lag(revenue, 12) OVER (ORDER BY month) END AS yoy_growth
FROM m
"""


@query("monthly_revenue_yoy", oracle=_YOY_SQL)
def monthly_revenue_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue with the same-month-last-year comparison and
    YoY growth — the seasonality-immune counterpart of
    the wow_change readout in `revenue_seasonal_decompose` (a
    12-month lag compares December to December,
    where month-over-month confounds season with trend).

    One month aggregate (decimal-exact, downcast before the double
    cast); the 12-lag window runs over the bounded month frame —
    single-partition by design on ≤ tens of rows.
    """
    orders = table(spark, sf_dir, "orders")
    m = orders.groupBy(
        F.to_date(F.date_trunc("month", "o_orderdate")).alias("month")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(18,2)")
        .cast("double")
        .alias("revenue")
    )
    w = Window.orderBy("month")
    last = F.lag("revenue", 12).over(w)
    return m.select(
        "month",
        "revenue",
        last.alias("revenue_last_year"),
        F.when(last.isNull(), F.lit(None).cast("double"))
        .otherwise((F.col("revenue") - last) / last)
        .alias("yoy_growth"),
    )
