"""Repository benchmark: one workload, one seed, one fresh process.

Run from the repository root:

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 10 --trace 0

The process is a closed loop with one client on ``local[<cores>]``: it
sets up a session (``session.get_spark``, the registry import and one
trivial action), times a first pass over the workload in that fresh
session, then warm passes. Every output is checked against an
independent DuckDB reference outside the timed intervals: each query
result right after its call, the lake table's final content after the
last pass. The last line of standard output is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones. With
``--trace 1`` the run also turns on Spark's event log, tags every job
it causes, records spans around every call, and prints the per-layer
metrics; the full rollup (per call, per pass, self time per layer) is
written to ``.perfbench_out/``. Scratch data lives under
``.perfbench_work/`` and is removed at the end of the run.
"""

from __future__ import annotations

import os
import time


def _process_age() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


# set-up time is measured from process start, so take the origin first
T_ORIGIN = time.perf_counter() - _process_age()

import argparse  # noqa: E402
import gc  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
FIXTURES = os.path.join(HERE, "fixtures")

sys.path.insert(0, HERE)

import tracing  # noqa: E402
import workloads as W  # noqa: E402

MB = 1024 * 1024

# every metric the benchmark prints, with its unit: the end-to-end ones
# in an untraced run, the per-layer ones in a traced run
END_TO_END = {"setup_s": "s", "first_pass_s": "s", "warm_pass_s": "s"}
_EVENT_LOG = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.sql_executions": "count",
    "spark.job_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "io.input_mb": "MB",
    "io.input_rows": "count",
    "io.output_mb": "MB",
    "python.start_s": "s",
    "python.init_s": "s",
    "python.run_s": "s",
    "python.sent_mb": "MB",
    "python.returned_mb": "MB",
}
PIPELINE_OPS = ("load", "quality_filter", "exact_dedup", "budget")
PER_LAYER = {
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    "registry.import_s": "s",
    "queries.build_first_s": "s",
    "queries.build_warm_s": "s",
    "queries.execute_s": "s",
    **_EVENT_LOG,
    "spark.driver_gap_s": "s",
    "cache.persisted_rdds": "count",
    "cache.storage_mb": "MB",
    **{f"table_format.commit_s.{k}": "s" for k in W.COMMIT_OPS},
    "table_format.commit_p50_s": "s",
    "table_format.commit_tail_s": "s",
    "table_format.snapshot_read_p50_s": "s",
    "table_format.replay_s": "s",
    "table_format.write_amp": "ratio",
    "table_format.live_files": "count",
    "table_format.log_files": "count",
    **{f"sources.{mod}.{ph}_s": "s" for mod in W.INTEROP.values() for ph in ("build", "execute")},
    "framework.pipeline_s": "s",
    **{f"framework.op_s.{op}": "s" for op in PIPELINE_OPS},
    "framework.ledger_records": "count",
    "trace.warm_pass_s": "s",
}


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=W.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="minimum length of the measured phase (first pass and warm passes)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def verify_fixtures() -> None:
    """The inputs are fixed files: refuse to run on anything else."""
    with open(os.path.join(FIXTURES, "SHA256SUMS")) as f:
        for line in f:
            digest, rel = line.split()
            with open(os.path.join(FIXTURES, rel), "rb") as g:
                if hashlib.sha256(g.read()).hexdigest() != digest:
                    raise SystemExit(f"perfbench: fixture {rel} does not match SHA256SUMS")


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def warm_pass(calls: list[dict]) -> float:
    """A warm pass's time, call by call: each call's median over the
    warm passes, summed over the calls of a pass. A call slowed by a
    passing stall of the machine, or by the JIT still compiling in the
    first warm pass, moves its median less than it moves a pass total."""
    per_call: dict[str, list[float]] = {}
    for c in calls:
        if c["pass"]:
            per_call.setdefault(c["name"], []).append(c["total_s"])
    return sum(_median(xs) for xs in per_call.values())


def tail_percentile(xs: list[float]) -> tuple[float, float, int]:
    """The highest percentile of ``xs`` with at least ten samples beyond
    it: (value, percentile, sample count). Below 20 samples that
    percentile would not even reach the median, so the maximum is
    returned, as percentile 100."""
    s = sorted(xs)
    n = len(s)
    if n < 20:
        return (s[-1] if s else 0.0), 100.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


class Bench:
    def __init__(self, args, work: str, out_dir: str) -> None:
        self.args = args
        self.work = work
        self.out_dir = out_dir
        self.rng = random.Random(args.seed)
        self.attempted = 0
        self.failed = 0  # calls that raised, wrong results, guard errors
        self.wrong = 0  # calls that raised, wrong results
        self.calls: list[dict] = []  # one record per timed call
        self.pass_walls: list[float] = []
        self.pass_rdds: list[int] = []
        self._duck: dict = {}
        self._oracle: dict = {}

    # -- bookkeeping -------------------------------------------------------

    def check(self, ok: bool, what: str, output: bool = True) -> None:
        """Count one check. A failed output check (a wrong result) also
        makes the run incorrect; a failed guard counts only as an error."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.wrong += output
            print(f"perfbench: FAILED {what}", file=sys.stderr)

    def _timed(self, rec: dict, phases):
        """Run ``phases`` [(phase, layer, fn)] as one timed call. Each
        phase gets a span and a job tag; the call counts as attempted,
        and failed if a phase raises."""
        t = self.tracer
        self.attempted += 1
        value = None
        t0 = time.perf_counter()
        try:
            for phase, layer, fn in phases:
                p0 = time.perf_counter()
                with t.span(f"{rec['name']}.{phase}", layer, tag=f"{rec['pass']}.{rec['name']}.{phase}"):
                    value = fn(value)
                rec[phase + "_s"] = time.perf_counter() - p0
            rec["ok"] = True
        except Exception:  # noqa: BLE001 - a failed call is counted, the run goes on
            self.failed += 1
            self.wrong += 1
            rec["ok"] = False
            print(f"perfbench: call {rec['name']} (pass {rec['pass']}) raised:", file=sys.stderr)
            traceback.print_exc()
        rec["total_s"] = time.perf_counter() - t0
        self.calls.append(rec)
        return value

    # -- set-up --------------------------------------------------------------

    def setup(self) -> float:
        self.tracer = tracing.Tracer(bool(self.args.trace))
        t = self.tracer
        with t.span("session.start", "session"):
            from plankton_spark.session import get_spark

            self.spark = get_spark("perfbench")
        self.sc = self.spark.sparkContext
        t.sc = self.sc
        with t.span("registry.import", "registry"):
            from plankton_spark.registry import all_oracles, all_queries

            self.queries = all_queries()
        with t.span("session.first_action", "spark"):
            self.spark.range(1).count()
        setup_s = time.perf_counter() - T_ORIGIN
        self.oracles = all_oracles()
        # the engine's scratch paths default into a fixed checkout
        # location; keep every write inside this run's work directory
        from plankton_spark.queries import scans
        from plankton_spark.streaming import jobs

        scans.SCRATCH = os.path.join(self.work, "scratch")
        jobs.SCRATCH = os.path.join(self.work, "scratch", "streaming")
        return setup_s

    # -- passes --------------------------------------------------------------

    def query_calls(self, pass_no: int, names: list[str]) -> None:
        """Time each query of ``names``: build, then collect the result
        to pandas (through Arrow). Each result is value-checked against
        the query's oracle after its timed call. The first pass issues
        the queries in their listed order, as a scheduled run would, so
        the cold costs fall on the same calls in every run; warm passes
        use a seeded order."""
        from plankton_spark.cache import reset_session_memos

        order = W.query_order(names, self.rng) if pass_no else list(names)
        for name in order:
            sf_dir = os.path.join(FIXTURES, W.QUERY_SCALE[name])
            if name in W.INTEROP:
                kind, build_layer, exec_layer = "interop", "sources", "sources"
            elif name == "q_pipeline_e2e":
                kind, build_layer, exec_layer = "query", "framework", "spark"
            else:
                kind, build_layer, exec_layer = "query", "queries", "spark"
            fn = self.queries[name]
            reset_session_memos()
            rec = {"pass": pass_no, "name": name, "kind": kind}
            ledger_before = len(self._ledger()) if name == "q_pipeline_e2e" else None
            got = self._timed(
                rec,
                [
                    ("build", build_layer, lambda _, fn=fn: fn(self.spark, sf_dir)),
                    ("execute", exec_layer, lambda df: df.toPandas()),
                ],
            )
            if ledger_before is not None:
                rec["ledger"] = self._ledger()[ledger_before:]
            if rec["ok"]:
                self.check_query(name, got, W.QUERY_SCALE[name])

    def _ledger(self) -> list[dict]:
        """The pipeline query's run ledger, as written so far."""
        path = os.path.join(self.work, "scratch", W.QUERY_SCALE["q_pipeline_e2e"], "pipe_e2e_ledger.jsonl")
        if not os.path.exists(path):
            return []
        with open(path) as f:
            return [json.loads(x) for x in f if x.strip()]

    def lake_calls(self, pass_no: int) -> None:
        from plankton_spark.cache import reset_session_memos
        from plankton_spark.io import read_table
        from plankton_spark.table_format import PlankTable

        orders = read_table(self.spark, os.path.join(FIXTURES, W.LAKE_SCALE), "orders")
        table_dir = os.path.join(self.work, "lake", f"pass{pass_no}")
        pt = PlankTable(self.spark, table_dir)
        self.lake_table = pt
        for i, (op, version) in enumerate(zip(self.lake_ops, self.lake_versions)):
            reset_session_memos()
            kind = op["op"]
            rec = {"pass": pass_no, "name": f"lake{i:02d}.{kind}", "kind": "read" if kind == "read" else "commit", "op": kind}
            if kind == "read":
                phases = [
                    ("build", "table_format", lambda _, v=op["version"]: pt.read(version=v)),
                    ("execute", "table_format", W.read_agg),
                ]
            else:
                phases = [("build", "table_format", lambda _, op=op: W.lake_apply(pt, orders, op))]
            got = self._timed(rec, phases)
            if not rec["ok"]:
                continue
            if kind == "read":
                want = self.lake_expected[op["version"]]
                self.check(got == want, f"lake read v{op['version']}: got {got}, want {want}")
            else:
                self.check(got == version, f"lake {kind}: committed version {got}, want {version}")
        self.query_calls(pass_no, list(W.INTEROP))

    def run_pass(self, pass_no: int) -> None:
        wl = self.args.workload
        n_before = len(self.calls)
        with self.tracer.span(f"pass{pass_no}", "bench"):
            if wl == "lake_write":
                self.lake_calls(pass_no)
            else:
                self.query_calls(pass_no, W.ANALYTICS)
        # a pass's time is its calls' time: the checks made between
        # lake calls and the memo resets are outside it
        self.pass_walls.append(sum(c["total_s"] for c in self.calls[n_before:]))
        # cache guard: count the persisted RDDs still reachable after the
        # pass (collect garbage first, so dropped frames do not count);
        # any growth from pass to pass is an error
        gc.collect()
        self.sc._jvm.System.gc()
        n_rdds = len(self.sc._jsc.getPersistentRDDs())
        if self.pass_rdds:
            prev = self.pass_rdds[-1]
            self.check(n_rdds <= prev, f"persisted RDDs grew from {prev} to {n_rdds} after pass {pass_no}", output=False)
        self.pass_rdds.append(n_rdds)

    # -- correctness -----------------------------------------------------------

    def duck(self, sf: str):
        """A DuckDB connection with a view per fixture table of ``sf``."""
        if sf not in self._duck:
            self._duck[sf] = W.duck_fixtures(os.path.join(FIXTURES, sf))
        return self._duck[sf]

    def oracle_result(self, sql: str, sf: str):
        """The DuckDB oracle's result for ``sql`` over fixture ``sf``.

        The oracle is deterministic over the fixed fixtures, so its
        result is kept in ``.perfbench_out/oracle/`` under a key of the
        SQL text, the fixture digests and the DuckDB version; a later run
        in the same checkout reads it back instead of recomputing it."""
        import duckdb
        import pandas as pd

        if (sql, sf) in self._oracle:
            return self._oracle[sql, sf]
        with open(os.path.join(FIXTURES, "SHA256SUMS"), "rb") as f:
            sums = f.read()
        key = hashlib.sha256(b"\0".join([sql.encode(), sf.encode(), sums, duckdb.__version__.encode()])).hexdigest()
        path = os.path.join(self.out_dir, "oracle", key + ".pkl")
        if os.path.exists(path):
            res = pd.read_pickle(path)
        else:
            res = self.duck(sf).execute(sql).fetchdf()
            os.makedirs(os.path.dirname(path), exist_ok=True)
            tmp = f"{path}.{os.getpid()}.tmp"
            res.to_pickle(tmp)
            os.replace(tmp, path)
        self._oracle[sql, sf] = res
        return res

    def check_query(self, name: str, got, sf: str) -> None:
        """Value-compare one query result (a pandas frame) with the
        query's DuckDB oracle."""
        from tools.oracle_check import compare

        oracle = self.oracles.get(name)
        if oracle is None:
            self.check(False, f"{name}: no oracle registered")
            return
        try:
            res = compare(name, got, self.oracle_result(oracle, sf))
        except Exception as e:  # noqa: BLE001 - counted as a wrong result
            self.check(False, f"{name}: {type(e).__name__}: {e}")
            return
        self.check(res.ok, f"{name}: {res.detail} {res.diffs}")

    def check_lake_final(self, pt) -> None:
        con = self.duck(W.LAKE_SCALE)
        try:
            con.register("pb_actual", pt.read().toPandas())
            n_act = con.execute("SELECT COUNT(*) FROM pb_actual").fetchone()[0]
            n_exp = con.execute("SELECT COUNT(*) FROM pb_expected").fetchone()[0]
            extra = con.execute(
                "SELECT COUNT(*) FROM (SELECT * FROM pb_actual EXCEPT ALL SELECT * FROM pb_expected)"
            ).fetchone()[0]
            missing = con.execute(
                "SELECT COUNT(*) FROM (SELECT * FROM pb_expected EXCEPT ALL SELECT * FROM pb_actual)"
            ).fetchone()[0]
            con.unregister("pb_actual")
        except Exception as e:  # noqa: BLE001 - counted as a wrong result
            self.check(False, f"lake final table: {type(e).__name__}: {e}")
            return
        self.check(
            n_act == n_exp and extra == 0 and missing == 0,
            f"lake final table: {n_act} rows vs {n_exp} expected, {extra} unexpected, {missing} missing",
        )

    # -- the run -----------------------------------------------------------------

    def run(self) -> dict:
        args = self.args
        # process-tree memory is traced only: the JVM's adaptive heap
        # sizing moves it 20-35 % from run to run, more than a gate allows
        peak = tracing.PeakRss().start() if args.trace else None
        setup_s = self.setup()
        verify_fixtures()
        if args.workload == "lake_write":
            self.lake_ops = W.lake_ops(args.seed)
            self.lake_versions = W.op_versions(self.lake_ops)
            self.lake_expected = W.replay_expected(self.duck(W.LAKE_SCALE), self.lake_ops)
        # load the oracles' results (on a checkout's first run, compute
        # them) before the first pass, so no DuckDB work falls between
        # its calls
        for name in list(W.INTEROP) if args.workload == "lake_write" else W.ANALYTICS:
            if name in self.oracles:
                self.oracle_result(self.oracles[name], W.QUERY_SCALE[name])
        measure_t0 = time.perf_counter()
        self.run_pass(0)
        pass_no = 0
        while pass_no < W.MIN_WARM_PASSES[args.workload] or time.perf_counter() - measure_t0 < args.seconds:
            pass_no += 1
            self.run_pass(pass_no)
        peak_rss = peak.stop() if peak else 0
        _progress("passes done")
        # every query result was checked after its call; what is left is
        # the lake table's final content, checked outside timing
        if args.workload == "lake_write":
            self.check_lake_final(self.lake_table)
        _progress("checks done")
        metrics = {
            "setup_s": setup_s,
            "first_pass_s": self.pass_walls[0],
            "warm_pass_s": warm_pass(self.calls),
        }
        if args.trace:
            metrics, units = self.per_layer(metrics, peak_rss / MB), PER_LAYER
        else:
            os.makedirs(self.out_dir, exist_ok=True)
            with open(os.path.join(self.out_dir, f"untraced-{args.workload}.json"), "w") as f:
                json.dump({"seed": args.seed, "warm_pass_s": metrics["warm_pass_s"]}, f)
            units = END_TO_END
        if set(metrics) != set(units):
            raise RuntimeError(f"metric names differ from the declared set: {sorted(set(metrics) ^ set(units))}")
        return {
            "correct": self.wrong == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
        }

    def stop_spark(self) -> None:
        """Stop the session and its JVM and wait for the JVM to exit.
        Idempotent, so every way out of a run can call it."""
        from pyspark import SparkContext

        spark, self.spark = getattr(self, "spark", None), None
        if spark is None:
            return
        spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None

    # -- traced run: per-layer rollup ---------------------------------------------

    def per_layer(self, e2e: dict, peak_rss_mb: float) -> dict:
        """The traced run's per-layer metrics. Times and counts are per
        pass, the median over the warm passes; ``queries.build_first_s``
        is the first pass's; latency percentiles pool every pass."""
        sc = self.sc
        storage_mb = sum((i.memSize() + i.diskSize()) for i in sc._jsc.sc().getRDDStorageInfo()) / MB
        table = self.lake_layout() if self.args.workload == "lake_write" else {}
        app_id = sc.applicationId
        self.stop_spark()
        by_tag = tracing.rollup_event_log(tracing.read_event_log(os.path.join(self.work, "eventlog"), app_id))
        warm = sorted({c["pass"] for c in self.calls} - {0})

        def warm_median(fn) -> float:
            return _median([fn(p) for p in warm])

        def calls(p, **match):
            return [c for c in self.calls if c["pass"] == p and all(c.get(k) == v for k, v in match.items())]

        def phase_sum(p, phase, **match):
            return sum(c.get(phase + "_s", 0.0) for c in calls(p, **match))

        def spark_sum(p, key, phase=None):
            prefix = f"{tracing.TAG_PREFIX}{p}."
            return sum(
                c.get(key, 0.0)
                for tag, c in by_tag.items()
                if tag.startswith(prefix) and (phase is None or tag.endswith("." + phase))
            )

        def span(name):
            return next(s["end"] - s["start"] for s in self.tracer.spans if s["name"] == name)

        def query_build(p):
            return phase_sum(p, "build", kind="query") - phase_sum(p, "build", name="q_pipeline_e2e")

        def ledger(p):
            return [r for c in calls(p, name="q_pipeline_e2e") for r in c.get("ledger", [])]

        def op_elapsed(p, op):
            return sum(r.get("elapsed_sec", 0.0) for r in ledger(p) if r.get("op") == op and r.get("state") == "success")

        commits = [c["total_s"] for c in self.calls if c["kind"] == "commit" and c["ok"]]
        reads = [c["total_s"] for c in self.calls if c["kind"] == "read" and c["ok"]]
        tail, tail_pct, n_commits = tail_percentile(commits)
        m = {
            "session.start_s": span("session.start"),
            # the peak resident memory (PSS) of the process tree the session
            # runs in: the Python driver, the JVM and the Python workers
            "session.peak_rss_mb": peak_rss_mb,
            "registry.import_s": span("registry.import"),
            "queries.build_first_s": query_build(0),
            "queries.build_warm_s": warm_median(query_build),
            "queries.execute_s": warm_median(lambda p: phase_sum(p, "execute", kind="query")),
            **{k: warm_median(lambda p, k=k: spark_sum(p, k)) for k in _EVENT_LOG},
            # execute wall minus Spark job time: Catalyst and driver planning
            "spark.driver_gap_s": warm_median(
                lambda p: phase_sum(p, "execute") - spark_sum(p, "spark.job_s", "execute")
            ),
            "cache.persisted_rdds": self.pass_rdds[-1],
            "cache.storage_mb": storage_mb,
            **{
                f"table_format.commit_s.{k}": warm_median(lambda p, k=k: sum(c["total_s"] for c in calls(p, op=k)))
                for k in W.COMMIT_OPS
            },
            "table_format.commit_p50_s": _median(commits),
            "table_format.commit_tail_s": tail,
            "table_format.snapshot_read_p50_s": _median(reads),
            # a read's build is PlankTable.read(version): log replay and
            # the snapshot's file list
            "table_format.replay_s": warm_median(lambda p: phase_sum(p, "build", kind="read")),
            "table_format.write_amp": table.get("write_amp", 0.0),
            "table_format.live_files": table.get("live_files", 0),
            "table_format.log_files": table.get("log_files", 0),
            **{
                f"sources.{mod}.{ph}_s": warm_median(lambda p, q=q, ph=ph: phase_sum(p, ph, name=q))
                for q, mod in W.INTEROP.items()
                for ph in ("build", "execute")
            },
            "framework.pipeline_s": warm_median(lambda p: phase_sum(p, "build", name="q_pipeline_e2e")),
            **{f"framework.op_s.{op}": warm_median(lambda p, op=op: op_elapsed(p, op)) for op in PIPELINE_OPS},
            "framework.ledger_records": warm_median(lambda p: len(ledger(p))),
            "trace.warm_pass_s": e2e["warm_pass_s"],
        }
        table["commit_tail_percentile"] = tail_pct
        table["commit_samples"] = n_commits
        self.write_rollup(m, by_tag, e2e, table)
        return m

    def lake_layout(self) -> dict:
        """Table-directory counts of the last pass, and its write
        amplification: bytes under the table directory over the parquet
        bytes of the user batches, which are written once more, un-timed,
        to size them."""
        from plankton_spark.io import read_table

        pt = self.lake_table
        table_bytes = sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(pt.path) for f in fs)
        orders = read_table(self.spark, os.path.join(FIXTURES, W.LAKE_SCALE), "orders")
        user = 0
        for i, op in enumerate(self.lake_ops):
            if op["op"] in ("create", "append", "merge"):
                side = os.path.join(self.work, "user_batches", str(i))
                W.user_batch(orders, op).write.parquet(side)
                user += sum(os.path.getsize(os.path.join(side, f)) for f in os.listdir(side) if f.endswith(".parquet"))
        return {
            "write_amp": table_bytes / user,
            "live_files": len(pt.files(self.lake_versions[-1] - 1)),
            "log_files": len(os.listdir(os.path.join(pt.path, "_log"))),
            "table_bytes": table_bytes,
            "user_batch_bytes": user,
        }

    def write_rollup(self, m, by_tag, e2e, table) -> None:
        """Write the traced run's rollup: per-layer metrics (layers this
        workload never touched are left out), self time per layer, the
        tracing overhead against the last untraced run of the workload in
        this checkout, and the per-call and per-tag detail."""
        args = self.args
        overhead = None
        untraced = os.path.join(self.out_dir, f"untraced-{args.workload}.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                overhead = e2e["warm_pass_s"] - json.load(f)["warm_pass_s"]
        touched = {k.split(".")[0] for k, v in m.items() if v}
        t0 = self.tracer.spans[0]["start"]
        doc = {
            "workload": args.workload,
            "seed": args.seed,
            "cores": len(os.sched_getaffinity(0)),
            "end_to_end_traced": e2e,
            "tracing_overhead_s": overhead,
            "per_layer": {k: v for k, v in m.items() if k.split(".")[0] in touched},
            "self_time_s": tracing.self_times(self.tracer.spans),
            "table": table,
            "calls": [{k: v for k, v in c.items() if k != "ledger"} for c in self.calls],
            "spark_by_tag": by_tag,
            "spans": [{**s, "start": s["start"] - t0, "end": s["end"] - t0} for s in self.tracer.spans],
        }
        os.makedirs(self.out_dir, exist_ok=True)
        path = os.path.join(self.out_dir, f"trace-{args.workload}-seed{args.seed}-{os.getpid()}.json")
        with open(path, "w") as f:
            json.dump(doc, f, indent=1)
        print(f"perfbench: per-layer rollup written to {os.path.relpath(path, ROOT)}", file=sys.stderr)


def _progress(what: str) -> None:
    print(f"perfbench: {what} at {time.perf_counter() - T_ORIGIN:.1f} s", file=sys.stderr)


def prepare_env(work: str, trace: bool) -> None:
    """Process-wide settings, made before Spark starts: all scratch,
    spill and temp files go under ``work``; the event log is on only for
    a traced run."""
    for sub in ("tmp", "local", "eventlog", "scratch"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    conf = {"spark.eventLog.enabled": "false"}
    if trace:
        conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(f"--conf {k}={v}" for k, v in conf.items()) + " pyspark-shell"
    import tempfile

    tempfile.tempdir = None


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (
        os.path.isfile(os.path.join(ROOT, "plankton_spark", "__init__.py"))
        and os.path.isfile(os.path.join(ROOT, "tools", "oracle_check.py"))
    ):
        print("perfbench: plankton_spark/ or tools/ missing; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    prepare_env(work, bool(args.trace))
    bench = Bench(args, work, out_dir)
    try:
        result = bench.run()
    finally:
        bench.stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
