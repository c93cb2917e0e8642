"""Round-14 optimization invariants.

(The reset_session_memos invariants live in tests/test_session_state.py.)

1. q_cte_recursive builds LAZILY against a valve child session: the
   calling session's recursion-row guard is untouched and the returned
   plan still runs through the UnionLoop executor (no eager
   localCheckpoint LogicalRDD).
2. q_graph_bfs returns a plan whose frontier depths are checkpointed
   leaves — linear size — and whose results match the persisted-chain
   form it replaced (oracle equivalence is pinned by the gate; here we
   pin the plan shape).
3. The streaming feed schema helpers equal what DataSource.schema()
   derives, so explicit readStream schemas can never drift.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from plankton_spark.io import read_table
from plankton_spark.registry import all_queries
from tests.conftest import SF001


def test_recursive_builds_lazy_in_valve_session(spark):
    """Build is lazy (UnionLoop survives in the returned plan, no
    LogicalRDD swap) and the calling session's valve is untouched."""
    before = spark.conf.get("spark.sql.cteRecursionRowLimit")
    df = all_queries()["q_cte_recursive"](spark, SF001)
    assert spark.conf.get("spark.sql.cteRecursionRowLimit") == before
    assert int(before) <= 1_000_000
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "UnionLoop" in plan, "returned plan must still be the lazy recursion"
    # the child session carries the raised valve
    assert df.sparkSession is not spark
    assert int(df.sparkSession.conf.get("spark.sql.cteRecursionRowLimit")) > 10**8


def test_bfs_plan_is_linear_checkpointed(spark):
    df = all_queries()["q_graph_bfs"](spark, SF001)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    # each of the 4 frontier depths is a checkpointed-RDD leaf
    assert plan.count("LogicalRDD") >= 4
    # the quadratic nested-union shape is gone: the optimized plan is
    # bounded (was ~2000 lines before the truncation)
    assert len(plan.splitlines()) < 200


def test_multiset_equal_matches_exceptall_semantics(spark):
    """_multiset_equal == (exceptAll empty both ways), including the
    duplicate-sensitive and null-key cases, and it must actually
    DETECT differences (the RLI twin literals depend on it)."""
    from plankton_spark.queries.hudi_interop import _multiset_equal

    mk = lambda rows: spark.createDataFrame(rows, "k int, s string")  # noqa: E731
    a = mk([(1, "x"), (1, "x"), (2, None)])
    assert _multiset_equal(a, mk([(1, "x"), (1, "x"), (2, None)]))
    # duplicate multiplicity differs
    assert not _multiset_equal(a, mk([(1, "x"), (2, None)]))
    # value differs
    assert not _multiset_equal(a, mk([(1, "x"), (1, "x"), (3, None)]))
    # one side empty
    assert not _multiset_equal(a, mk([]).select("k", "s"))
    # null-key groups compare null-safe
    assert _multiset_equal(mk([(None, None)]), mk([(None, None)]))
    assert not _multiset_equal(mk([(None, None)]), mk([(None, "y")]))


def test_stream_schema_helpers_match_sources(spark):
    """Explicit readStream schemas must equal DataSource.schema()."""
    import shutil

    from plankton_spark.sources.hudi_meta import (
        HudiIncrDataSource,
        HudiWriter,
        incr_schema,
    )

    root = "/tmp/r14_schema_helper/tbl"
    shutil.rmtree("/tmp/r14_schema_helper", ignore_errors=True)
    o = read_table(spark, SF001, "orders").select("o_orderkey", "o_orderstatus")
    w = HudiWriter(
        spark, root, record_key="o_orderkey", table_type="MERGE_ON_READ"
    )
    w.create(o.where(F.col("o_orderkey") < 50))
    ds = HudiIncrDataSource(options={"path": root})
    assert ds.schema() == incr_schema(root)
