"""Modern-SQL surface (SURVEY.md §2 round-8 continuation): recursive
CTEs and LATERAL correlated derived tables, each as ONE dialect-neutral
SQL text that runs verbatim on Spark (4.x `WITH RECURSIVE` /
`LATERAL`) AND as its own DuckDB oracle — the same one-SQL-text parity
contract as tpch_sql.py, extended to the two SQL features the suite
did not yet pin.

Scale posture:
- q_cte_recursive walks per-customer order chains; each recursion step
  is ONE equi-join of the previous frontier against the (bounded)
  links relation — the iterative-join shape q_graph_bfs uses, but
  driven by the engine's own recursive-CTE executor instead of a
  Python loop. Depth = max orders per sampled customer (~10 at every
  SF; Spark's cteRecursionLevelLimit of 100 is documented headroom).
- q_join_lateral's per-row top-1/aggregate laterals decorrelate to a
  WindowGroupLimit / aggregate-join under Catalyst — NOT a re-executed
  subquery per outer row (asserted in tests/test_sql_modern.py).
"""

from __future__ import annotations

from plankton_spark import cache
from plankton_spark.io import read_table
from plankton_spark.registry import query

_RECURSIVE = """
WITH RECURSIVE links AS (
  SELECT o_custkey, o_orderkey,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents,
         LAG(o_orderkey) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ) AS prv
  FROM orders
  WHERE o_custkey % 7 = 0
),
walk AS (
  SELECT o_custkey, o_orderkey, price_cents AS run_cents, 1 AS depth
  FROM links WHERE prv IS NULL
  UNION ALL
  SELECT l.o_custkey, l.o_orderkey,
         w.run_cents + l.price_cents AS run_cents,
         w.depth + 1 AS depth
  FROM walk w
  JOIN links l ON l.o_custkey = w.o_custkey AND l.prv = w.o_orderkey
)
SELECT o_custkey,
       CAST(MAX(depth) AS BIGINT) AS chain_len,
       CAST(MAX(run_cents) AS BIGINT) AS total_cents,
       CAST(SUM(run_cents) AS BIGINT) AS prefix_checksum_cents
FROM walk
GROUP BY o_custkey
"""

_LATERAL = """
SELECT c_custkey, c_mktsegment,
       top1.top_price_cents, top1.top_orderkey,
       agg.n_orders, agg.total_cents
FROM customer,
LATERAL (
  SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS top_price_cents,
         o_orderkey AS top_orderkey
  FROM orders WHERE o_custkey = c_custkey
  ORDER BY top_price_cents DESC, o_orderkey
  LIMIT 1
) top1,
LATERAL (
  SELECT COUNT(*) AS n_orders,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS total_cents
  FROM orders WHERE o_custkey = c_custkey
) agg
WHERE c_custkey % 13 = 0
"""

_TABLES = {
    "q_cte_recursive": ("orders",),
    "q_join_lateral": ("customer", "orders"),
}


def _run_sql(spark, sf_dir, name, sql):
    for t in _TABLES[name]:
        read_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(sql)


# One child session per application whose cteRecursionRowLimit is
# raised to corpus scale (optimization round 14, r13 verdict item 6):
# the recursion-row valve is consulted at EXECUTION, so the previous
# conf-raise/restore around the builder forced an eager
# localCheckpoint — the whole ~10-iteration recursive walk executed
# during query CONSTRUCTION (~7-11 s of the sf0.01 gate wall billed to
# the build phase). SparkSession.newSession() shares the SparkContext
# (and the builder-time confs: AQE, UTC timezone, shuffle partitions
# all live in the shared SparkConf) but has its OWN runtime SQLConf,
# so the valve stays raised for exactly this query's plans while every
# other query keeps the default 1e6-row runaway guard (the round-8
# verdict #7 contract, now enforced by session scoping instead of
# try/finally + eager execution). The returned frame is fully lazy:
# each action runs the recursion from parquet.
def _valve_session(spark):
    def build():
        child = spark.newSession()
        child.conf.set("spark.sql.cteRecursionRowLimit", str(2_000_000_000))
        return child

    return cache.get_or_build(spark, cache.PLAN, "valve_session", build)


def _run_sql_valved(spark, sf_dir, name, sql):
    """_run_sql against the raised-valve child session. Temp views are
    session-scoped, so the inputs are registered (once per sf_dir) in
    the child itself — read_table's resolved relations are
    parent-session frames, which the child's catalog cannot see."""
    from plankton_spark.io import _read_table_uncached

    child = _valve_session(spark)
    for t in _TABLES[name]:
        cache.get_or_build(
            spark, cache.PLAN, ("valve_view", t),
            lambda t=t: _read_table_uncached(child, sf_dir, t).createOrReplaceTempView(t),
            match=sf_dir,
        )
    return child.sql(sql)


@query("q_cte_recursive", oracle=_RECURSIVE)
def q_cte_recursive(spark, sf_dir):
    """Recursive CTE chain walk: each sampled customer's orders become
    a linked list (prv = LAG over date order), the recursive member
    advances one link per iteration carrying an exact cent-integer
    running total, and the final rollup pins chain length, tail total
    (= the customer's plain order sum, so the recursion can't skip or
    double-visit a link) and the SUM of all prefixes (pins the running
    accumulation itself, not just the endpoint). The SAME SQL text is
    the oracle — Spark's UnionLoop executor and DuckDB's recursive
    executor must produce identical closures.

    Scale valves: Spark guards runaway recursion with
    cteRecursionRowLimit (default 1e6 TOTAL rows across iterations —
    a row-count proxy, not a depth bound; the sf10 walk legitimately
    carries ~1.5M rows) and cteRecursionLevelLimit (default 100 —
    depth = max orders per customer, ~10 at every SF). The row valve
    is raised here to corpus scale; the level valve stays at its
    default deliberately, so a cyclic-links bug still terminates.

    The valve is SCOPED by SESSION (optimization round 14): the plan
    is built against a dedicated child session (shared SparkContext,
    own runtime SQLConf) whose row valve is raised once — the calling
    session keeps the default 1e6-row runaway guard at all times, and
    the build no longer executes the walk eagerly to fit a
    try/finally window (r13 verdict item 6: ~7-11 s of recursion ran
    at query-construction time; now the frame is lazy and each action
    computes from parquet)."""
    return _run_sql_valved(spark, sf_dir, "q_cte_recursive", _RECURSIVE)


@query("q_join_lateral", oracle=_LATERAL)
def q_join_lateral(spark, sf_dir):
    """LATERAL correlated derived tables: per customer, a top-1
    lateral (ORDER BY .. LIMIT 1, deterministic via the orderkey
    tiebreak) AND a lateral aggregate — the two canonical LATERAL
    shapes. Catalyst decorrelates both (no per-row re-execution);
    exact cent integers keep the compare engine-identical. The SAME
    SQL text is the oracle."""
    return _run_sql(spark, sf_dir, "q_join_lateral", _LATERAL)
