"""Distributed EXACT global ranking — the two-level scheme behind
customer_spend_quartiles_ranked, promoted to a reusable operator.

Classic distributed ranking (TeraSort lineage): range-partition on the
total order key, row_number within each range bucket, then add each
bucket's broadcast cumulative row-count offset to obtain the exact
global rank. Every stage is parallel; the only single-partition work
is the ≤ P-row offsets frame. Exact wherever the range sampler puts
the bounds, because the key (including the id tie-break) is a total
order.

Both operators pin their range-bucketed frame with
``localCheckpoint(eager=True)``, the package's one pin mechanism: the
ContextCleaner releases its blocks once the result frame is dropped,
so repeated calls in a long session hold no CacheManager entry.

``exact_ntile`` converts the global rank to the SQL ntile(k) bucket in
pure integer arithmetic (first n mod k buckets take ceil(n/k) rows) —
no double division anywhere near a bucket boundary.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

RANGE_BUCKETS = 32


def global_rank(
    df: DataFrame,
    keys: list,
    rank_name: str = "global_rank",
    total_name: str = "n_total",
    buckets: int = RANGE_BUCKETS,
) -> DataFrame:
    """All input columns + the exact 1-based global rank under the
    total order ``keys`` (pass an id last to break ties) + the total
    row count.

    The ranked frame is checkpointed INSIDE the operator
    (``localCheckpoint(eager=True)``): the offsets branch and the main
    branch must observe the SAME range-bucket assignment — re-executing
    the range exchange in two subtrees would double the work and bet
    on the sampler placing identical bounds twice (see
    customer_spend_quartiles_ranked). The checkpoint's blocks are
    released when the returned frame is garbage-collected; nothing is
    left in the CacheManager.

    repartitionByRange runs a separate range-sampling job over the
    input, so a caller with an expensive upstream (tokenize chains)
    checkpoints its input first (curriculum_stages,
    padding_waste_audit); for cheap inputs re-executing the subtree
    is faster.
    """
    ranged = df.repartitionByRange(buckets, *keys).withColumn(
        "_pid", F.spark_partition_id()
    )
    wb = Window.partitionBy("_pid").orderBy(*keys)
    local = ranged.withColumn(
        "_local_rn", F.row_number().over(wb)
    ).localCheckpoint(eager=True)
    counts = local.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n_pid"))
    wo = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        F.col("_pid").alias("_opid"),
        F.coalesce(F.sum("_n_pid").over(wo), F.lit(0)).alias("_offset"),
        F.sum("_n_pid")
        .over(
            Window.orderBy("_pid").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias(total_name),
    )
    return (
        local.join(F.broadcast(offsets), F.col("_pid") == F.col("_opid"))
        .withColumn(rank_name, F.col("_offset") + F.col("_local_rn"))
        .drop("_pid", "_opid", "_local_rn", "_offset")
    )


def global_cumsum(
    df: DataFrame,
    keys: list,
    sum_cols: list[str],
    buckets: int = RANGE_BUCKETS,
) -> DataFrame:
    """All input columns + the exact running sum of each ``sum_cols``
    column under the total order ``keys`` (ROWS UNBOUNDED PRECEDING TO
    CURRENT ROW), as ``cum_<col>`` — the prefix-sum sibling of
    ``global_rank`` (round 15): range-partition on the order keys,
    per-bucket window sums, then add each bucket's broadcast cumulative
    totals. Every stage is parallel; the only single-partition work is
    the ≤ P-row offsets frame. Exact for integer/decimal sum columns
    (the additions reassociate exactly).

    Like global_rank, the bucketed frame is checkpointed INSIDE the
    operator so the offsets branch and the main branch observe the
    SAME range-bucket assignment.
    """
    ranged = df.repartitionByRange(buckets, *keys).withColumn(
        "_pid", F.spark_partition_id()
    )
    wb = (
        Window.partitionBy("_pid")
        .orderBy(*keys)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = ranged
    for c in sum_cols:
        local = local.withColumn(f"_cum_{c}", F.sum(c).over(wb))
    local = local.localCheckpoint(eager=True)
    totals = local.groupBy("_pid").agg(
        *[F.sum(c).alias(f"_tot_{c}") for c in sum_cols]
    )
    wo = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        F.col("_pid").alias("_opid"),
        *[
            F.coalesce(F.sum(f"_tot_{c}").over(wo), F.lit(0)).alias(
                f"_off_{c}"
            )
            for c in sum_cols
        ],
    )
    out = local.join(F.broadcast(offsets), F.col("_pid") == F.col("_opid"))
    for c in sum_cols:
        out = out.withColumn(
            f"cum_{c}", F.col(f"_off_{c}") + F.col(f"_cum_{c}")
        )
    return out.drop(
        "_pid",
        "_opid",
        *[f"_cum_{c}" for c in sum_cols],
        *[f"_off_{c}" for c in sum_cols],
    )


def _idiv(a: Column, b: Column) -> Column:
    """Exact non-negative integer division as a Column expression:
    (a - a mod b) is a multiple of b, so the double division is exact
    for any quotient below 2^53."""
    return ((a - a % b) / b).cast("long")


def exact_ntile(rank: Column, n_total: Column, k: int) -> Column:
    """SQL ntile(k) bucket from an exact global rank, pure integers.

    ntile rule: with n = q·k + r, the first r buckets take q+1 rows,
    the rest take q. ceil(a/b) is computed as (a + b - 1) div b.
    """
    base = _idiv(n_total, F.lit(k))
    rem = n_total % k
    big_span = rem * (base + 1)
    ceil_big = _idiv(rank + base, base + 1)
    ceil_small = rem + _idiv(
        rank - big_span + base - F.lit(1), F.greatest(base, F.lit(1))
    )
    return (
        F.when(rank <= big_span, ceil_big).otherwise(ceil_small).cast("int")
    )
