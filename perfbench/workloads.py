"""The benchmark's workloads and their correctness references.

Each workload is a list of calls that one client issues, one at a
time, into the engine's public functions (a closed loop with one
client). A *pass* is one walk over that list; the benchmark times a
first pass in a fresh session and then warm passes.

- ``analytics``: the relational queries (JVM path only: scan, shuffle,
  AQE, codegen) and the LLM-data queries (pandas/Arrow UDF workers,
  persisted intermediates, a framework ``Pipeline`` with a parquet
  sink). No commits.
- ``lake_write``: a seeded planktable operation sequence over
  ``orders`` plus one lifecycle query per foreign table format. No
  Python workers, no persisted intermediates, no query plans to speak of.

The seed sets the call order within each warm pass (the first pass
runs the listed order) and the ``lake_write`` operation sequence. The
fixtures themselves are fixed files.

Nothing in this module starts Spark; the pure parts (the op generator
and the DuckDB replay) are what the tests exercise.
"""

from __future__ import annotations

import os
import random

# Left out to keep every run short enough for the benchmark's time
# budget even when the shared host runs 1.5x slower for minutes at a
# time: q_topk_pergroup and q_agg_pivot (a window rank and a pivot
# aggregate add little beside q_win_running and q_agg_group) and
# q_dedup_minhash (9 s cold and 2 s warm per pass, the costliest call;
# the three other LLM-data queries still drive the Python workers)
SQL_ANALYTICS = [
    "q_agg_group",
    "q_join_inner",
    "q_join_broadcast",
    "q_win_running",
    "q_stream_tumbling",
    "q_tpch_q5",
    "q_tpch_q18",
]

LLM_DATA = [
    "q_sim_cosine_topk",
    "q_text_quality",
    "q_pipeline_e2e",
]

# lifecycle query -> the sources module it drives. q_hudi_precombine
# (sources.hudi_meta) is left out: at 6 s warm and 9 s cold per pass it
# alone would take the lake_write runs past the benchmark's time budget.
INTEROP = {
    "q_deltalog_merge": "delta_log",
    "q_iceberg_posdelete_write": "iceberg_meta",
}

# fixture scale each query reads
QUERY_SCALE = {
    **{q: "sf0.01" for q in SQL_ANALYTICS},
    **{q: "sf0.1" for q in LLM_DATA},
    **{q: "sf0.01" for q in INTEROP},
}
LAKE_SCALE = "sf0.1"

WORKLOADS = ("analytics", "lake_write")
ANALYTICS = SQL_ANALYTICS + LLM_DATA

# warm passes per run. A run keeps issuing warm passes until it has
# this many and --seconds have passed since the first pass began; the
# minimum is set so that on the reference box (4 cores) the count, not
# the clock, ends the run, and per-call medians compare across runs.
# analytics gets two because its JIT is still compiling in the first
# warm pass (the next one is often 5-20 % faster); lake_write's first
# warm pass is already close to its later ones.
MIN_WARM_PASSES = {"analytics": 2, "lake_write": 1}

COMMIT_OPS = ("create", "append", "merge", "delete", "update", "optimize")

# orders keys at sf0.1 are 0..149999
LAKE_KEYS = 150_000
LAKE_APPENDS = 3
LAKE_READS = 2


def query_order(names: list[str], rng: random.Random) -> list[str]:
    """One warm pass's call order: a seeded permutation of ``names``."""
    order = list(names)
    rng.shuffle(order)
    return order


def lake_ops(seed: int, keys: int = LAKE_KEYS, appends: int = LAKE_APPENDS, reads: int = LAKE_READS) -> list[dict]:
    """The seeded planktable operation sequence of one pass.

    The key space ``[0, keys)`` is cut into ``appends + 1`` equal ranges.
    The first creates the table and the rest are appended in a seeded
    order. One merge, one delete and one update land at seeded positions
    after the create, each on a chunk already loaded there: delete and
    update on a seeded range inside it, the merge on the chunk's last
    keys and a third of its width past the chunk's end (updates, and
    inserts when the next chunk is not loaded yet). Time-travel reads of
    seeded earlier versions follow, and one ``optimize`` ends the
    sequence. Every commit op makes exactly one version, so op ``i``'s
    version is the number of commit ops before it. Equal chunks keep the
    cost of a pass nearly the same for every seed.
    """
    rng = random.Random(seed)
    n = appends + 1
    size = keys // n
    chunks = [(i * size, keys if i == n - 1 else (i + 1) * size) for i in range(n)]
    order = [0, *rng.sample(range(1, n), n - 1)]
    after: dict[int, list[dict]] = {}
    for kind, width in (("merge", 3000), ("delete", 2000), ("update", 3000)):
        pos = rng.randint(1, n)  # the op follows the first `pos` loads
        lo_c, hi_c = chunks[order[rng.randrange(pos)]]
        lo = hi_c - 2 * width // 3 if kind == "merge" else rng.randrange(lo_c, hi_c - width)
        lo = min(lo, keys - width)
        after.setdefault(pos, []).append({"op": kind, "lo": lo, "hi": lo + width})
    ops: list[dict] = []
    for i, c in enumerate(order):
        ops.append({"op": "create" if i == 0 else "append", "lo": chunks[c][0], "hi": chunks[c][1]})
        ops += after.get(i + 1, [])
    n_versions = len(ops)
    for v in sorted(rng.sample(range(n_versions), reads)):
        ops.append({"op": "read", "version": v})
    ops.append({"op": "optimize"})
    return ops


def op_versions(ops: list[dict]) -> list[int | None]:
    """The version each commit op creates (None for reads)."""
    out: list[int | None] = []
    v = 0
    for o in ops:
        if o["op"] == "read":
            out.append(None)
        else:
            out.append(v)
            v += 1
    return out


# -- DuckDB reference replay ------------------------------------------


def duck_fixtures(sf_dir: str):
    """A DuckDB connection with one view per fixture table in ``sf_dir``
    (only the tables the workloads read are kept in the benchmark)."""
    import duckdb

    con = duckdb.connect()
    for name in sorted(os.listdir(sf_dir)):
        if name.endswith(".parquet"):
            path = os.path.join(sf_dir, name).replace("'", "''")
            con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM read_parquet('{path}')")
    return con


_MERGE_SRC = (
    "SELECT o_orderkey, o_custkey, 'M' AS o_orderstatus, "
    "o_totalprice + 1 AS o_totalprice, o_orderdate, o_orderpriority "
    "FROM orders WHERE o_orderkey >= {lo} AND o_orderkey < {hi}"
)

READ_AGG_SQL = (
    "SELECT COUNT(*), CAST(COALESCE(SUM(o_orderkey), 0) AS BIGINT), "
    "CAST(COALESCE(SUM(CAST(round(o_totalprice * 100) AS BIGINT)), 0) AS BIGINT) "
    "FROM {t}"
)


def replay_expected(con, ops: list[dict], table: str = "pb_expected") -> dict[int, tuple[int, int, int]]:
    """Replay ``ops`` in DuckDB over the ``orders`` view of ``con``.

    Leaves the expected final table in ``table`` and returns, for every
    version, its (row count, key sum, price-in-cents sum) — the values a
    time-travel read of that version must return. The semantics are
    planktable's: append never dedups, merge replaces every row whose
    key is in the source and inserts the whole source, delete and
    update touch exactly the rows in the key range, optimize leaves
    the content unchanged.
    """
    con.execute(f"DROP TABLE IF EXISTS {table}")
    con.execute(f"CREATE TABLE {table} AS SELECT * FROM orders WHERE false")
    per_version: dict[int, tuple[int, int, int]] = {}
    v = 0
    for o in ops:
        kind = o["op"]
        if kind == "read":
            continue
        rng = f"o_orderkey >= {o.get('lo')} AND o_orderkey < {o.get('hi')}"
        if kind in ("create", "append"):
            con.execute(f"INSERT INTO {table} SELECT * FROM orders WHERE {rng}")
        elif kind == "merge":
            src = _MERGE_SRC.format(lo=o["lo"], hi=o["hi"])
            con.execute(f"DELETE FROM {table} WHERE o_orderkey IN (SELECT o_orderkey FROM ({src}))")
            con.execute(f"INSERT INTO {table} {src}")
        elif kind == "delete":
            con.execute(f"DELETE FROM {table} WHERE {rng}")
        elif kind == "update":
            con.execute(f"UPDATE {table} SET o_orderstatus = 'U' WHERE {rng}")
        elif kind != "optimize":
            raise ValueError(f"unknown lake op {kind!r}")
        per_version[v] = tuple(int(x) for x in con.execute(READ_AGG_SQL.format(t=table)).fetchone())
        v += 1
    return per_version


# -- Spark side ---------------------------------------------------------


def read_agg(df) -> tuple[int, int, int]:
    """Collect a snapshot's (row count, key sum, price-in-cents sum)."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)),
        F.coalesce(F.sum("o_orderkey"), F.lit(0)).cast("long"),
        F.coalesce(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")), F.lit(0)),
    ).collect()[0]
    return tuple(int(x) for x in row)


def user_batch(orders, op: dict):
    """The rows a create, append or merge op hands to the table."""
    from pyspark.sql import functions as F

    k = F.col("o_orderkey")
    batch = orders.where((k >= op["lo"]) & (k < op["hi"]))
    if op["op"] == "merge":
        batch = batch.withColumn("o_orderstatus", F.lit("M")).withColumn(
            "o_totalprice", F.col("o_totalprice") + 1
        )
    return batch


def lake_apply(pt, orders, op: dict) -> int:
    """Run one commit op on PlankTable ``pt``; returns its version."""
    from pyspark.sql import functions as F

    kind = op["op"]
    if kind == "optimize":
        return pt.optimize()
    k = F.col("o_orderkey")
    in_range = (k >= op["lo"]) & (k < op["hi"])
    if kind == "create":
        return pt.create(user_batch(orders, op))
    if kind == "append":
        return pt.append(user_batch(orders, op))
    if kind == "merge":
        return pt.merge(user_batch(orders, op), "o_orderkey")
    if kind == "delete":
        return pt.delete_where(in_range)
    if kind == "update":
        return pt.update_where({"o_orderstatus": F.lit("U")}, in_range)
    raise ValueError(f"unknown lake op {kind!r}")
