"""Plan + equivalence pins for the round-8 scale patterns
(q_scan_dpp, q_agg_skewsalt)."""

from __future__ import annotations

from pyspark.sql import functions as F

from plankton_spark.io import read_table
from plankton_spark.registry import all_queries
from tests.conftest import SF001


def test_dpp_runtime_filter_in_plan(spark):
    """The fact scan's PartitionFilters must contain a
    dynamicpruningexpression — the dim attribute filter reached the
    partitioned scan at runtime, not via a static predicate."""
    df = all_queries()["q_scan_dpp"](spark, SF001)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()


def test_dpp_matches_direct_computation(spark):
    out = {
        r["event_type"]: r
        for r in all_queries()["q_scan_dpp"](spark, SF001).collect()
    }
    ref = {
        r["event_type"]: r
        for r in read_table(spark, SF001, "events")
        .where(F.dayofweek(F.to_date("ts")).isin(1, 7))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .collect()
    }
    assert set(out) == set(ref) and len(out) >= 3
    for k in out:
        assert out[k]["n_events"] == ref[k]["n_events"]


def test_skewsalt_equals_direct_groupby(spark):
    """The 16-way salted two-phase agg must be bitwise-identical to
    the direct groupBy (decimal partials are associative)."""
    out = {
        r["event_type"]: r
        for r in all_queries()["q_agg_skewsalt"](spark, SF001).collect()
    }
    from plankton_spark.functions import dsum

    ref = {
        r["event_type"]: r
        for r in read_table(spark, SF001, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value"), "total_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .collect()
    }
    assert set(out) == set(ref)
    for k in out:
        for c in ("n_events", "total_value", "min_value", "max_value"):
            assert out[k][c] == ref[k][c], (k, c)


def test_skewsalt_partial_phase_spreads_keys(spark):
    """Phase-1 output must contain multiple salt buckets per key —
    the property that breaks a hot key across reducers."""
    from plankton_spark.functions import DEC

    e = read_table(spark, SF001, "events").withColumn(
        "salt", F.pmod(F.xxhash64("event_id"), F.lit(16)).cast("int")
    )
    per_key = (
        e.groupBy("event_type", "salt")
        .agg(F.sum(F.col("value").cast(DEC)).alias("psum"))
        .groupBy("event_type")
        .agg(F.countDistinct("salt").alias("n_salts"))
        .collect()
    )
    assert per_key and all(r["n_salts"] == 16 for r in per_key)


def test_runtimefilter_injects_bloom(spark):
    """Under the scoped confs the fact scan must carry a
    might_contain(bloom) filter; and the query result must equal the
    plain join."""
    from plankton_spark.io import read_table

    li = read_table(spark, SF001, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice"
    )
    o = read_table(spark, SF001, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_orderkey")
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_app = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "0",
    )
    try:
        j = li.join(o, li.l_orderkey == o.o_orderkey).groupBy(
            "l_returnflag"
        ).count()
        plan = j._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            prev_app,
        )
    assert "might_contain" in plan


def test_runtimefilter_confs_restored(spark):
    """The declared query must leave the session's broadcast and
    bloom thresholds exactly as it found them."""
    from plankton_spark.registry import all_queries

    before = (
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
        spark.conf.get(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold"
        ),
    )
    all_queries()["q_join_runtimefilter"](spark, SF001).count()
    after = (
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
        spark.conf.get(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold"
        ),
    )
    assert before == after


def test_global_row_number_is_permutation_single_partitioning(spark):
    """Round-13 sf1 soak regression (q_shard_assign ±3): the ranged
    frame must be evaluated under ONE materialized range
    partitioning — unpersisted, the counts branch and the window
    branch each re-run repartitionByRange, whose sampler may pick
    different boundaries per evaluation, and the offsets then belong
    to a different partitioning than the window (row numbers stop
    being a permutation). Pins (a) the persist (InMemoryTableScan
    feeds both branches) and (b) the permutation property on a
    skewed 60k-row frame, twice."""
    from pyspark.sql import functions as F

    from plankton_spark.operators.ranking import global_row_number

    df = spark.range(60_000).select(
        F.col("id").alias("k"),
        # heavy ties in the leading key — the boundary-sensitive case
        (F.col("id") % 7).alias("grp"),
    )
    ranked = global_row_number(df, [F.col("grp"), F.col("k")], out="rn")
    plan = ranked._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan or "TableCacheQueryStage" in plan
    for _ in range(2):
        rns = [r["rn"] for r in ranked.select("rn").collect()]
        assert sorted(rns) == list(range(1, 60_001))


def test_persist_swap_bounded_fifo(spark):
    """A registry key with keep=3 (the bounded persist generation
    global_row_number uses) keeps the three newest generations pinned
    and releases the oldest first; drop releases the rest."""
    from plankton_spark import cache

    frames = [
        cache.get_or_build(spark, cache.PLAN, "t13fifo", f.persist, match=f, keep=3)
        for f in (spark.range(i + 1, i + 100) for i in range(6))
    ]
    app = spark.sparkContext.applicationId
    live = [v for _, v in cache._ENTRIES[(app, cache.PLAN, "t13fifo")]]
    assert live == frames[3:]
    # evicted generations are unpersisted, survivors still cached
    assert frames[0].storageLevel.useMemory is False
    assert frames[5].storageLevel.useMemory is True
    cache.drop(spark, cache.PLAN, "t13fifo")
    assert frames[5].storageLevel.useMemory is False
