"""Two-pass global ranking / prefix scans without single-partition windows.

`Window.orderBy(...)` with no partition spec is the classic Spark
scale trap: the plan inserts `Exchange SinglePartition` and one task
holds every row (Spark itself logs `WARN WindowExec: No Partition
Defined`). These helpers compute the same answers with the classic
parallel-prefix construction:

1. range-repartition on the sort key (P partitions, each task holds a
   contiguous key range);
2. one tiny per-partition aggregate (P rows total) turned into
   exclusive prefix values with a broadcast theta-join — no driver
   collect, no global window;
3. a window partitioned BY partition id (P-way parallel) combined
   with the broadcast prefix.

Same idea as RDD.zipWithIndex's count pass, kept entirely on
executors and expressed declaratively so Catalyst can reuse the range
exchange between pass 1 and pass 2 (ReuseExchange).

Used by q_win_ntile_pctrank, q_sort_nulls, q_stream_watermark; the
plan-lint sweep in tests/test_plans.py asserts no registered query
regresses to an unpartitioned window.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_PID = "__pid"


def _with_range_pid(df: DataFrame, order_exprs, num_partitions: int | None):
    """Range-repartition on the total-order key and stamp the
    partition id — PERSISTED, because every consumer evaluates this
    frame on two DAG branches (the per-partition counts/maxes and
    the final join+window). Unpersisted, each branch re-executes
    repartitionByRange, and RangePartitioner SAMPLES with a seed
    derived from the physical plan instance: if Spark does not reuse
    the exchange (AQE re-plans the branches independently), the two
    evaluations can pick DIFFERENT range boundaries, so the offsets
    are computed for a different partitioning than the window runs
    on — row numbers silently stop being a permutation. Observed
    live at sf1 (round-13 soak: q_shard_assign shards off by ±3);
    the persist pins ONE materialized partitioning for both sides.
    Each call pins a new generation (Spark's CacheManager dedupes a
    same-plan persist onto the existing cache), at most 4 per session —
    enough for multi-instance plans, no per-call accumulation."""
    from plankton_spark import cache

    p = num_partitions or max(df.sparkSession.sparkContext.defaultParallelism, 8)
    ranged = df.repartitionByRange(p, *order_exprs).withColumn(
        _PID, F.spark_partition_id()
    )
    return cache.get_or_build(
        df.sparkSession, cache.PLAN, "rangepid", ranged.persist, match=ranged, keep=4
    )


def global_row_number(
    df: DataFrame,
    order_exprs: list[Column],
    out: str = "rn",
    total_out: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact global ROW_NUMBER() over `order_exprs`, P-way parallel.

    `order_exprs` must be a total order (tie-broken by a unique key,
    determinism policy SURVEY.md §2.0) so row_number is well-defined.
    Returns `df` plus a LongType `out` column; when `total_out` is
    given, also attaches the global row count as a column (broadcast
    1-row join — handy for ntile/percent_rank closed forms).
    """
    ranged = _with_range_pid(df, order_exprs, num_partitions)
    counts = ranged.groupBy(_PID).agg(F.count(F.lit(1)).alias("__cnt"))
    c2 = counts.select(F.col(_PID).alias("__pid2"), F.col("__cnt").alias("__cnt2"))
    offsets = (
        counts.join(F.broadcast(c2), F.col("__pid2") < F.col(_PID), "left")
        .groupBy(_PID)
        .agg(F.coalesce(F.sum("__cnt2"), F.lit(0)).alias("__off"))
    )
    wlocal = Window.partitionBy(_PID).orderBy(*order_exprs)
    ranked = ranged.join(F.broadcast(offsets), _PID).withColumn(
        out, F.col("__off") + F.row_number().over(wlocal)
    )
    if total_out is not None:
        total = counts.agg(F.sum("__cnt").alias(total_out))
        ranked = ranked.crossJoin(F.broadcast(total))
    return ranked.drop(_PID, "__off")


def exclusive_prefix_max(
    df: DataFrame,
    order_exprs: list[Column],
    value_col: str,
    out: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Running MAX(value_col) over all STRICTLY-EARLIER rows in
    `order_exprs` order (i.e. `MAX(v) OVER (ORDER BY ... ROWS BETWEEN
    UNBOUNDED PRECEDING AND 1 PRECEDING)`), P-way parallel.

    The first row globally gets NULL (empty frame), matching SQL.
    Per-partition maxes are partial-aggregated map-side; the cross-
    partition prefix is a P×P broadcast theta-join (P ≈ parallelism,
    so O(P²) rows — trivial); the in-partition exclusive running max
    is a window partitioned by partition id. F.greatest skips NULLs,
    so a partition's first row correctly sees only earlier partitions'
    max (NULL when there are none).
    """
    ranged = _with_range_pid(df, order_exprs, num_partitions)
    pmax = ranged.groupBy(_PID).agg(F.max(value_col).alias("__pmax"))
    p2 = pmax.select(F.col(_PID).alias("__pid2"), F.col("__pmax").alias("__pmax2"))
    prev = (
        pmax.join(F.broadcast(p2), F.col("__pid2") < F.col(_PID), "left")
        .groupBy(_PID)
        .agg(F.max("__pmax2").alias("__prev"))
    )
    wloc = (
        Window.partitionBy(_PID)
        .orderBy(*order_exprs)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        ranged.join(F.broadcast(prev), _PID)
        .withColumn(out, F.greatest(F.max(value_col).over(wloc), F.col("__prev")))
        .drop(_PID, "__prev")
    )
