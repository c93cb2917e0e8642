"""Round-13 optimization internals: each change must be value-identical
to the formulation it replaced (the driver re-hashes every declared
query, so these pins are the fast local tripwire).

Covers: io.table_rows (footer count == count job), io.read_table
resolved-relation reuse (same handle, same data, no result caching),
functions.lit_array (type- and value-identity vs the F.lit loop), and
the q_agg_pivot conditional-aggregation rewrite (value-identity vs the
.pivot() form it replaced).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from plankton_spark.functions import lit_array
from plankton_spark.io import TABLES, read_table, table_rows
from tests.conftest import SF0001, SF001


def test_table_rows_matches_count_job(spark):
    for sf in (SF0001, SF001):
        for name in ("lineitem", "events", "embeddings"):
            assert table_rows(sf, name) == read_table(spark, sf, name).count()


def test_read_table_reuses_resolved_handle(spark):
    a = read_table(spark, SF0001, "orders")
    b = read_table(spark, SF0001, "orders")
    assert a is b  # one resolution per (session, path)
    # different sf dir → different handle (no cross-path aliasing)
    c = read_table(spark, SF001, "orders")
    assert c is not a
    # the handle is a plan, not a result: actions still scan parquet
    assert a.count() == table_rows(SF0001, "orders")
    assert set(a.columns) == {f.name for f in a.schema.fields}


def test_read_table_cache_covers_all_tables(spark):
    for name in TABLES:
        assert read_table(spark, SF0001, name) is read_table(
            spark, SF0001, name
        )


def test_lit_array_type_and_value_identity(spark):
    df = spark.range(1)
    cases = [
        ("ints", [1, -2, 2147483647], "array<int>"),
        ("longs", [1, 2**40, -(2**35)], "array<bigint>"),
        (
            "doubles",
            [0.1, -1e-30, 1e20, 2.5, 0.0, 123456.789012345, 1e-05],
            "array<double>",
        ),
    ]
    for label, vals, want_type in cases:
        old = F.array(*[F.lit(v) for v in vals])
        new = lit_array(vals)
        row = df.select(old.alias("o"), new.alias("n"))
        types = dict(row.dtypes)
        assert types["o"] == types["n"] == want_type, label
        got = row.collect()[0]
        assert list(got["o"]) == list(got["n"]), label


def test_lit_array_nested_matches_flit_nesting(spark):
    vals = [[0.1, 2.0, -3.5], [1e-5, 7.25, 0.0]]
    old = F.array(*[F.array(*[F.lit(v) for v in p]) for p in vals])
    new = lit_array(vals)
    row = spark.range(1).select(old.alias("o"), new.alias("n"))
    types = dict(row.dtypes)
    assert types["o"] == types["n"] == "array<array<double>>"
    got = row.collect()[0]
    assert [list(x) for x in got["o"]] == [list(x) for x in got["n"]]


def test_agg_pivot_matches_pivot_form(spark):
    """The conditional-aggregation rewrite must reproduce the .pivot()
    plan's values bit-for-bit (including the missing-category → 0 and
    decimal-sum rounding paths)."""
    from plankton_spark.queries.aggregations import EVENT_TYPES
    from plankton_spark.registry import all_queries

    new = all_queries()["q_agg_pivot"](spark, SF0001)
    e = read_table(spark, SF0001, "events")
    pivoted = (
        e.groupBy("user_id")
        .pivot("event_type", EVENT_TYPES)
        .agg(F.sum(F.col("value").cast("decimal(18,4)")))
    )
    cols = [F.col("user_id")] + [
        F.round(F.coalesce(F.col(t), F.lit(0)).cast("double"), 4).alias(t)
        for t in EVENT_TYPES
    ]
    old = pivoted.select(*cols)
    assert new.schema == old.schema
    key = lambda r: r["user_id"]  # noqa: E731
    assert sorted(new.collect(), key=key) == sorted(old.collect(), key=key)


def test_agg_pivot_single_exchange(spark):
    from plankton_spark.registry import all_queries

    df = all_queries()["q_agg_pivot"](spark, SF0001)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert plan.count("+- Exchange") + plan.count(": Exchange") == 1, plan


def test_agg_group_sql_matches_dataframe_form(spark):
    """q_agg_group now parses one dialect-neutral SQL text; it must
    reproduce the DataFrame formulation it replaced bit-for-bit."""
    from plankton_spark.functions import davg, dsum, dsum_dec, money
    from plankton_spark.queries.aggregations import SHIP_CUTOFF
    from plankton_spark.registry import all_queries

    new = all_queries()["q_agg_group"](spark, SF0001)
    li = read_table(spark, SF0001, "lineitem").where(
        F.col("l_shipdate") <= F.to_timestamp(F.lit(SHIP_CUTOFF))
    )
    disc_price = money(F.col("l_extendedprice")) * money(
        1 - F.col("l_discount")
    )
    charge = disc_price * money(1 + F.col("l_tax"))
    old = li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum(F.col("l_quantity"), "sum_qty"),
        dsum(F.col("l_extendedprice"), "sum_base_price"),
        dsum_dec(disc_price, "sum_disc_price"),
        dsum_dec(charge, "sum_charge"),
        davg(F.col("l_quantity"), "avg_qty"),
        davg(F.col("l_extendedprice"), "avg_price"),
        davg(F.col("l_discount"), "avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )
    assert new.schema == old.schema
    key = lambda r: (r["l_returnflag"], r["l_linestatus"])  # noqa: E731
    assert sorted(new.collect(), key=key) == sorted(old.collect(), key=key)


def test_text_quality_sql_matches_dataframe_form(spark):
    from plankton_spark.functions import round_ratio6
    from plankton_spark.queries.llm_text import STOPWORDS
    from plankton_spark.registry import all_queries

    new = all_queries()["q_text_quality"](spark, SF0001)
    d = read_table(spark, SF0001, "documents")
    toks = F.split("text", " ")
    base = d.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("nc"),
        F.size(toks).cast("long").alias("nt"),
        F.size(F.filter(toks, lambda x: x.isin(STOPWORDS)))
        .cast("long")
        .alias("ns"),
    )
    nc, nt, ns = F.col("nc"), F.col("nt"), F.col("ns")
    lp = F.when(nc >= 400, F.lit(1)).otherwise(nc).cast("long")
    lq = F.when(nc >= 400, F.lit(1)).otherwise(F.lit(400)).cast("long")
    old = base.select(
        "doc_id",
        round_ratio6(lp, lq).alias("len_score"),
        round_ratio6(ns, nt).alias("stopword_ratio"),
        round_ratio6(nc - nt + 1, nt).alias("avg_word_len"),
        round_ratio6(lp * nt + lq * ns, F.lit(2) * lq * nt).alias(
            "quality"
        ),
    )
    assert new.schema == old.schema
    key = lambda r: r["doc_id"]  # noqa: E731
    assert sorted(new.collect(), key=key) == sorted(old.collect(), key=key)


def test_minhash_merged_sql_matches_composed_helpers(spark):
    """q_dedup_minhash's single SQL text (candidates + verify) must
    equal composing lsh_band_candidates with the verify join it
    absorbed."""
    from plankton_spark.queries.llm_dedup import (
        lsh_band_candidates,
        minhash_structures,
    )
    from plankton_spark.registry import all_queries

    merged = all_queries()["q_dedup_minhash"](spark, SF0001).collect()
    sets, band_rows = minhash_structures(spark, SF0001)
    cand = lsh_band_candidates(band_rows)
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("sa"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("sb"))
    scored = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sa", "sb")).cast("long").alias("i"),
            (F.size("sa") + F.size("sb")).alias("t"),
        )
        .withColumn("u", F.col("t") - F.col("i"))
        .where(F.col("i") * 5 >= F.col("u") * 4)
        .select(
            "doc_a",
            "doc_b",
            (
                F.call_function(
                    "div",
                    F.col("i") * F.lit(2000000) + F.col("u"),
                    F.col("u") * F.lit(2),
                ).cast("double")
                / F.lit(1000000.0)
            ).alias("jaccard"),
        )
    )
    key = lambda r: (r["doc_a"], r["doc_b"])  # noqa: E731
    assert sorted(merged, key=key) == sorted(scored.collect(), key=key)


def test_cosine_topk_matches_allpairs_bruteforce(spark):
    """The grid-blocked GEMM prefilter + SQL margin cut + exact rescore
    must equal the undisguised all-pairs top-k (dot_cosine over every
    (query, other) pair, round 6, ties by n_id) — the strongest value
    pin on the q_sim_cosine_topk rewrite."""
    from pyspark.sql import Window

    from plankton_spark.queries.llm_dedup import dot_cosine
    from plankton_spark.queries.llm_vectors import N_QUERIES, TOP_K
    from plankton_spark.registry import all_queries

    new = all_queries()["q_sim_cosine_topk"](spark, SF0001)
    e = read_table(spark, SF0001, "embeddings")
    a = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("emb_a")
    )
    b = e.select(
        F.col("vec_id").alias("n_id"), F.col("embedding").alias("emb_b")
    )
    pairs = a.join(b, F.col("q_id") != F.col("n_id")).select(
        "q_id",
        "n_id",
        F.round(dot_cosine("emb_a", "emb_b"), 6).alias("cos"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("n_id"))
    old = (
        pairs.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= TOP_K)
        .select("q_id", "n_id", "cos", "rnk")
    )
    key = lambda r: (r["q_id"], r["rnk"])  # noqa: E731
    assert sorted(new.collect(), key=key) == sorted(old.collect(), key=key)


def test_table_view_reregisters_on_path_change(spark):
    """table_view caches per (session, name) but must re-register when
    the same name is requested for a different sf_dir."""
    from plankton_spark.io import table_view

    table_view(spark, SF0001, "nation")
    n1 = spark.table("nation").count()
    table_view(spark, SF001, "nation")
    n2 = spark.table("nation").count()
    assert n1 == table_rows(SF0001, "nation")
    assert n2 == table_rows(SF001, "nation")


# ---- session-3 internals -------------------------------------------


def test_ensure_view_skips_same_handle_reregisters_new(spark):
    """ensure_view is a metadata dedup keyed by object identity: the
    same frame under the same name registers once; a different frame
    under that name re-registers."""
    from plankton_spark.io import ensure_view

    a = read_table(spark, SF0001, "nation")
    ensure_view(a, "_ev_test_v")
    assert spark.table("_ev_test_v").count() == table_rows(SF0001, "nation")
    b = read_table(spark, SF001, "nation")
    ensure_view(b, "_ev_test_v")
    assert spark.table("_ev_test_v").count() == table_rows(SF001, "nation")
    # same handle again: still resolves (skip is unobservable in values)
    ensure_view(b, "_ev_test_v")
    assert spark.table("_ev_test_v").count() == table_rows(SF001, "nation")


def test_gemm_checkpoint_reuse_same_values(spark):
    """A warm rebuild of the GEMM top-k candidates returns the SAME
    checkpointed survivor frame (no kernel re-execution) with
    identical values; the reuse is keyed semantically so a different
    input plan re-checkpoints."""
    from plankton_spark.io import table_rows as _rows
    from plankton_spark.queries import llm_vectors as lv

    e = read_table(spark, SF0001, "embeddings")
    n = _rows(SF0001, "embeddings")
    c1 = lv._gemm_topk_candidates(spark, e, 10, 5, n_rows=n)
    c2 = lv._gemm_topk_candidates(spark, e, 10, 5, n_rows=n)
    r1 = sorted((r["vec_a"], r["vec_b"]) for r in c1.collect())
    r2 = sorted((r["vec_a"], r["vec_b"]) for r in c2.collect())
    assert r1 == r2 and len(r1) >= 5
    # different k → different key → independent result set
    c3 = lv._gemm_topk_candidates(spark, e, 10, 3, n_rows=n)
    r3 = sorted((r["vec_a"], r["vec_b"]) for r in c3.collect())
    assert set(r3) and set(r3) != set(r1) or len(r3) != len(r1)


def test_label_propagation_memo_reuses_and_misses(spark):
    """The (edges → labels) memo returns the prior fixpoint for the
    SAME edges handle and recomputes for different edges."""
    from plankton_spark.queries.scale_patterns import min_label_propagation

    pairs = [(i, i + 1) for i in range(5)]
    edges = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "src long, dst long"
    )
    l1 = min_label_propagation(edges)
    l2 = min_label_propagation(edges)  # identity fast path
    assert l2 is l1
    rows = {r.node: r.lab for r in l1.collect()}
    assert rows == {i: 0 for i in range(6)}
    other = spark.createDataFrame(
        [(10, 11), (11, 10)], "src long, dst long"
    )
    l3 = min_label_propagation(other)
    assert l3 is not l1
    assert {r.node: r.lab for r in l3.collect()} == {10: 10, 11: 10}


def test_pair_edges_shared_handle(spark):
    """q_dedup_components and q_dedup_canonical consume ONE shared
    edge frame per (session, sf_dir) — the memo that makes the
    fixpoint reuse structural."""
    from plankton_spark.queries.scale_patterns import _pair_edges

    e1 = _pair_edges(spark, SF0001)
    e2 = _pair_edges(spark, SF0001)
    assert e2 is e1


def test_narrow_decimal_sums_match_wide(spark):
    """The domain-verified narrow decimal images must reproduce the
    wide DEC sums bit-for-bit on every fixture column they are
    applied to (functions.D2_MONEY/D4_VALUE preconditions)."""
    from plankton_spark.functions import D2_MONEY, D4_VALUE, dsum

    o = read_table(spark, SF001, "orders")
    wide, narrow = o.agg(
        dsum(F.col("o_totalprice"), "w"),
        dsum(F.col("o_totalprice"), "n", dec=D2_MONEY),
    ).first()
    assert wide == narrow
    ev = read_table(spark, SF001, "events")
    wide_v, narrow_v = ev.agg(
        dsum(F.col("value"), "w"),
        dsum(F.col("value"), "n", dec=D4_VALUE),
    ).first()
    assert wide_v == narrow_v


def test_minhash_structures_shared_handle(spark):
    """minhash_structures is memoized per (session, sf_dir) — the
    _pair_edges/read_table handle-memo class: same persisted handles
    back, a different sf_dir rebuilds (single-slot, so the memo never
    outgrows one generation)."""
    from plankton_spark.queries.llm_dedup import minhash_structures

    s1, b1 = minhash_structures(spark, SF0001)
    s2, b2 = minhash_structures(spark, SF0001)
    assert s2 is s1 and b2 is b1
    s3, b3 = minhash_structures(spark, SF001)
    assert s3 is not s1 and b3 is not b1


def test_minhash_populate_spread(spark, monkeypatch):
    """The scale-adaptive populate spread fires only when the scan's
    split count is below the (env-parameterized) target, and the
    spread/unspread pipelines produce the identical pair set — the
    partitioning-invariance the oracle check relies on."""
    from plankton_spark import cache
    from plankton_spark.queries import llm_dedup as ld

    def forget():
        cache.drop(spark, cache.PLAN, "minhash_structures")

    def fresh(width):
        monkeypatch.setenv("SPARK_GRAFT_MINHASH_SPREAD", width)
        forget()
        sets, band_rows = ld.minhash_structures(spark, SF0001)
        return sets, band_rows

    par = spark.sparkContext.defaultParallelism
    sets4, _ = fresh("4")
    expect = min(4, par)
    if expect > 1:  # the fixture scan is a single split
        assert sets4.rdd.getNumPartitions() == expect
    sets1, _ = fresh("1")  # spread disabled -> raw scan layout
    assert sets1.rdd.getNumPartitions() == 1

    rows = lambda: sorted(  # noqa: E731
        (r.doc_a, r.doc_b, r.jaccard)
        for r in ld.q_dedup_minhash(spark, SF0001).collect()
    )
    monkeypatch.setenv("SPARK_GRAFT_MINHASH_SPREAD", "1")
    forget()
    unspread = rows()
    monkeypatch.setenv("SPARK_GRAFT_MINHASH_SPREAD", "4")
    forget()
    spread = rows()
    assert spread == unspread and len(spread) > 0
    forget()  # leave no env-dependent generation behind
