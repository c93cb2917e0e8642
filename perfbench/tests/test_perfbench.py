"""Tests of the benchmark itself: its op generator, its DuckDB reference
replay (against PlankTable), its event-log rollup and its declared
metric names. Run with ``python3 -m pytest perfbench/tests -q``."""

from __future__ import annotations

import json
import os

import pytest

import run
import tracing
import workloads as W

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
DATA = os.path.join(BENCH, "tests", "data")


def test_lake_ops_deterministic_for_a_seed():
    assert W.lake_ops(7) == W.lake_ops(7)
    assert W.lake_ops(7) != W.lake_ops(8)


@pytest.mark.parametrize("seed", range(20))
def test_lake_ops_shape(seed):
    ops = W.lake_ops(seed)
    versions = W.op_versions(ops)
    assert ops[0]["op"] == "create" and ops[-1]["op"] == "optimize"
    n_commits = sum(v is not None for v in versions)
    assert versions[-1] == n_commits - 1
    # the create and appends cover the key space exactly once
    loads = sorted((o["lo"], o["hi"]) for o in ops if o["op"] in ("create", "append"))
    assert loads[0][0] == 0 and loads[-1][1] == W.LAKE_KEYS
    assert all(a[1] == b[0] for a, b in zip(loads, loads[1:]))
    # reads name versions committed before them
    for i, o in enumerate(ops):
        if o["op"] == "read":
            assert o["version"] < sum(v is not None for v in versions[:i])


def test_query_order_is_a_seeded_permutation():
    import random

    a = W.query_order(W.ANALYTICS, random.Random(3))
    assert a == W.query_order(W.ANALYTICS, random.Random(3))
    assert sorted(a) == sorted(W.ANALYTICS)


def test_tail_percentile_keeps_ten_samples_beyond():
    xs = [float(i) for i in range(30)]
    value, pct, n = run.tail_percentile(xs)
    assert n == 30 and sum(x > value for x in xs) == 10
    assert pct == pytest.approx(100 * 20 / 30)
    assert run.tail_percentile([1.0, 3.0, 2.0]) == (3.0, 100.0, 3)
    assert run.tail_percentile([float(i) for i in range(19)])[:2] == (18.0, 100.0)


def test_warm_pass_sums_each_calls_median_over_warm_passes():
    calls = [
        {"pass": 0, "name": "a", "total_s": 9.0},  # the first pass is not a warm pass
        {"pass": 1, "name": "a", "total_s": 1.0},
        {"pass": 1, "name": "b", "total_s": 5.0},  # a stall
        {"pass": 2, "name": "b", "total_s": 2.0},
        {"pass": 2, "name": "a", "total_s": 1.2},
        {"pass": 3, "name": "a", "total_s": 1.1},
        {"pass": 3, "name": "b", "total_s": 2.2},
    ]
    assert run.warm_pass(calls) == pytest.approx(1.1 + 2.2)


def test_self_times_subtract_children():
    spans = [
        {"name": "pass", "layer": "bench", "start": 0.0, "end": 10.0, "parent": None},
        {"name": "q.build", "layer": "queries", "start": 1.0, "end": 3.0, "parent": 0},
        {"name": "q.execute", "layer": "spark", "start": 3.0, "end": 9.0, "parent": 0},
    ]
    assert tracing.self_times(spans) == {"bench": 2.0, "queries": 2.0, "spark": 6.0}


def test_rollup_parses_captured_event_log():
    with open(os.path.join(DATA, "eventlog_small.jsonl")) as f:
        by_tag = tracing.rollup_event_log(f)
    # the untagged job in the log is ignored
    assert set(by_tag) == {"perfbench.1.q_small.execute", "perfbench.1.q_small.build"}
    ex = by_tag["perfbench.1.q_small.execute"]
    assert (ex["spark.jobs"], ex["spark.stages"], ex["spark.tasks"], ex["spark.sql_executions"]) == (2, 2, 3, 1)
    assert ex["io.input_rows"] == 1000
    assert ex["spark.shuffle_write_mb"] > 0 and ex["spark.shuffle_read_mb"] == ex["spark.shuffle_write_mb"]
    # the pandas UDF's SQL metrics, converted by their declared type
    assert ex["python.sent_mb"] * tracing.MB == 8416
    assert ex["python.run_s"] == pytest.approx(5.09)
    assert 0 < ex["spark.job_s"] < 10
    build = by_tag["perfbench.1.q_small.build"]
    assert build["io.input_rows"] == 100
    assert not any(k.startswith("python.") for k in build)


def test_every_printed_metric_is_declared_in_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {w["name"] for w in bench["workloads"]} == set(W.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER


def test_workload_queries_have_oracles():
    from plankton_spark.registry import all_oracles

    oracles = all_oracles()
    for name in W.SQL_ANALYTICS + W.LLM_DATA + list(W.INTEROP):
        assert name in oracles, name


@pytest.fixture(scope="module")
def spark():
    from plankton_spark.session import get_spark

    s = get_spark("perfbench-test", cpus=2, shuffle_partitions=2)
    yield s


def test_replay_agrees_with_planktable(spark, tmp_path):
    """A tiny hand-built sequence: every version's aggregate and the
    final table from PlankTable equal the DuckDB replay."""
    from plankton_spark.table_format import PlankTable

    sf = os.path.join(BENCH, "fixtures", "sf0.01")
    con = W.duck_fixtures(sf)
    src = tmp_path / "orders.parquet"
    con.execute(f"COPY (SELECT * FROM orders WHERE o_orderkey < 40) TO '{src}' (FORMAT parquet)")
    con.execute(f"CREATE OR REPLACE VIEW orders AS SELECT * FROM read_parquet('{src}')")
    ops = [
        {"op": "create", "lo": 0, "hi": 10},
        {"op": "append", "lo": 20, "hi": 30},
        {"op": "merge", "lo": 5, "hi": 25},  # updates 5..9, 20..24; inserts 10..19
        {"op": "delete", "lo": 0, "hi": 3},
        {"op": "update", "lo": 8, "hi": 12},
        {"op": "append", "lo": 10, "hi": 20},  # re-adds keys the merge inserted
        {"op": "delete", "lo": 100, "hi": 110},  # hits nothing: an empty commit
        {"op": "read", "version": 1},
        {"op": "read", "version": 4},
        {"op": "optimize"},
    ]
    expected = W.replay_expected(con, ops)
    orders = spark.read.parquet(str(src))
    pt = PlankTable(spark, str(tmp_path / "t"))
    for op, version in zip(ops, W.op_versions(ops)):
        if op["op"] == "read":
            assert W.read_agg(pt.read(version=op["version"])) == expected[op["version"]]
        else:
            assert W.lake_apply(pt, orders, op) == version
            assert W.read_agg(pt.read()) == expected[version]
    con.register("actual", pt.read().toPandas())
    assert con.execute("SELECT COUNT(*) FROM actual").fetchone()[0] == 27 + 10  # keys 3..29, and 10..19 twice
    for a, b in (("actual", "pb_expected"), ("pb_expected", "actual")):
        assert con.execute(f"SELECT COUNT(*) FROM (SELECT * FROM {a} EXCEPT ALL SELECT * FROM {b})").fetchone()[0] == 0


def test_workload_record_matches_the_code_and_fixtures():
    with open(os.path.join(BENCH, "workloads.json")) as f:
        rec = json.load(f)
    assert set(rec["workloads"]) == set(W.WORKLOADS)
    for w in rec["workloads"].values():
        assert w["fits_in_memory"]
        for i in w["inputs"]:
            assert os.path.getsize(os.path.join(BENCH, i["file"])) == i["bytes"]
    named = {m for row in rec["predictions"] for m in row["layer_metrics"]}
    assert named <= set(run.PER_LAYER)
