"""Session state lives in one registry (plankton_spark/cache.py).

1. reset_session_memos() retires exactly the result entries — the
   GEMM survivor checkpoint, the k-means fit, the label-propagation
   fixpoint and its shared edge frame are rebuilt on the next call —
   and keeps every plan entry, so the bench's per-call reset forces
   recompute without losing the resolved-relation/view reuse.
2. Nothing an entry pinned outlives it: persisted RDDs do not grow
   across resets of the GEMM checkpoint or across generation swaps of
   localCheckpoint frames.
3. No module keeps a cache of its own: a module-level empty mutable
   container or an lru_cache decorator outside the allowlist fails.
"""

from __future__ import annotations

import ast
import gc
import time
from pathlib import Path

from plankton_spark import cache
from plankton_spark.registry import all_queries
from tests.conftest import SF001, SF0001


def _persisted_rdds(spark) -> int:
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(0.2)
    return len(spark.sparkContext._jsc.getPersistentRDDs())


def test_reset_session_memos_clears_result_memos(spark):
    from plankton_spark.io import read_table
    from plankton_spark.queries.llm_dedup import minhash_structures
    from plankton_spark.queries.llm_vectors import _checkpoint_reuse, kmeans_fit_assign
    from plankton_spark.queries.scale_patterns import _pair_edges, min_label_propagation
    from plankton_spark.queries.sql_modern import _valve_session

    edges = spark.createDataFrame([(0, 1), (1, 0)], "src long, dst long")

    def results():
        return [
            _checkpoint_reuse("t_reset_probe", spark.range(50).selectExpr("id", "id * 2 AS v")),
            kmeans_fit_assign(spark, SF0001),
            _pair_edges(spark, SF0001),
            min_label_propagation(edges),
        ]

    def plans():
        return [
            read_table(spark, SF0001, "orders"),
            minhash_structures(spark, SF0001),
            _valve_session(spark),
        ]

    r1, p1 = results(), plans()
    assert all(a is b for a, b in zip(results(), r1)), "served until a reset"
    cache.reset_session_memos()
    r2, p2 = results(), plans()
    assert all(a is not b for a, b in zip(r2, r1)), "a reset forces a rebuild"
    # plan entries survive the reset, the same handles
    assert all(a is b for a, b in zip(p2, p1))


def test_gemm_checkpoint_recomputes_after_reset(spark):
    """After a reset, the eager survivor checkpoint is rebuilt (a new
    checkpointed frame), and its values are unchanged; without a reset
    the checkpoint is served."""
    from plankton_spark.queries.llm_vectors import N_QUERIES, TOP_K

    q = all_queries()["q_sim_cosine_topk"]
    app = spark.sparkContext.applicationId
    prefix = f"gemm_topk:{N_QUERIES}:{TOP_K}:"

    def run():
        out = sorted((r["q_id"], r["rnk"], r["n_id"], r["cos"]) for r in q(spark, SF001).collect())
        (ckpt,) = [
            gens[-1][1]
            for (a, kind, key), gens in cache._ENTRIES.items()
            if (a, kind) == (app, cache.RESULT) and str(key).startswith(prefix)
        ]
        return out, ckpt

    cache.reset_session_memos()
    out1, c1 = run()
    _, c2 = run()
    cache.reset_session_memos()
    out3, c3 = run()
    assert c2 is c1, "without a reset the checkpoint is served"
    assert c3 is not c1, "reset must force a fresh checkpoint"
    assert out3 == out1 and len(out1) > 0


def test_reset_does_not_leak_gemm_checkpoint(spark):
    """Three checkpoints through the GEMM entry with a reset between
    them leave no more persisted RDDs than one does."""
    from plankton_spark.queries.llm_vectors import _checkpoint_reuse

    def once():
        _checkpoint_reuse("t_leak_probe", spark.range(50).selectExpr("id", "id * 2 AS v"))
        cache.reset_session_memos()
        return _persisted_rdds(spark)

    first = once()
    assert [once(), once()] == [first, first]


def test_swap_releases_checkpoint_generations(spark):
    """A generation swap over localCheckpoint frames (the
    min_label_propagation loop's checkpoint rounds) frees each
    superseded checkpoint; unpersist() on such a frame frees nothing."""

    def once(i):
        cache.swap(spark, cache.PLAN, "t_ckpt_gen", spark.range(50 + i).localCheckpoint(eager=True))
        return _persisted_rdds(spark)

    first = once(0)
    assert [once(1), once(2)] == [first, first]
    cache.drop(spark, cache.PLAN, "t_ckpt_gen")
    assert _persisted_rdds(spark) == first - 1


# -- no module-level caches outside the registry ------------------------

PKG = Path(__file__).resolve().parents[1] / "plankton_spark"

ALLOWED = {
    "cache.py:_ENTRIES",  # the registry itself
    "registry.py:_QUERIES",  # import-time declaration tables
    "registry.py:_ORACLES",
    "framework/schedule.py:_parse_cron",  # pure string parse
}

_MUTABLE_CALLS = {
    "dict", "list", "set", "defaultdict", "OrderedDict",
    "WeakValueDictionary", "WeakKeyDictionary", "WeakSet",
}
_CACHE_DECORATORS = {"lru_cache", "cache"}


def _name(node) -> str:
    if isinstance(node, ast.Call):
        node = node.func
    if isinstance(node, ast.Attribute):
        return node.attr
    return node.id if isinstance(node, ast.Name) else ""


def _empty_mutable(value) -> bool:
    if isinstance(value, ast.Dict):
        return not value.keys
    if isinstance(value, (ast.List, ast.Set)):
        return not value.elts
    if isinstance(value, ast.Call) and _name(value) in _MUTABLE_CALLS:
        return _name(value) not in {"dict", "list", "set"} or not (value.args or value.keywords)
    return False


def _module_caches(tree):
    def body(stmts):
        for st in stmts:
            if isinstance(st, (ast.If, ast.Try)):
                yield from body(st.body + st.orelse + getattr(st, "finalbody", []))
            else:
                yield st

    for st in body(tree.body):
        if isinstance(st, ast.Assign) and _empty_mutable(st.value):
            yield from (t.id for t in st.targets if isinstance(t, ast.Name))
        elif isinstance(st, ast.AnnAssign) and st.value is not None and _empty_mutable(st.value):
            if isinstance(st.target, ast.Name):
                yield st.target.id
    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            if any(_name(d) in _CACHE_DECORATORS for d in node.decorator_list):
                yield node.name


def test_no_module_level_caches():
    found = {
        f"{path.relative_to(PKG).as_posix()}:{name}"
        for path in sorted(PKG.rglob("*.py"))
        for name in _module_caches(ast.parse(path.read_text()))
    }
    assert found - ALLOWED == set(), (
        "keep session state in plankton_spark/cache.py's registry "
        f"(get_or_build / swap), not in a module cache: {sorted(found - ALLOWED)}"
    )
    assert ALLOWED <= found, f"stale allowlist entries: {sorted(ALLOWED - found)}"
