"""Scale-pattern operators: the techniques SCALE.md prescribes for
100 TB, declared as oracle-checked queries so their *semantics* are
pinned (each must produce exactly what the naive formulation does).

- Salted join: skewed-key joins pre-split the hot keys by a salt so
  no single task receives the whole key. Results must equal the plain
  join (the oracle IS the plain join).
- Hash-mod sampling: shard-stable deterministic sampling (the
  training-data idiom — resampling a corpus must not depend on
  partitioning or row order, unlike .sample()).
- Connected components: iterative min-label propagation over the
  near-dup pair graph → canonical doc ids (dedup's final step). The
  oracle is a recursive CTE; the Spark side is the loop-until-fixpoint
  pattern used at scale (each iteration one join + agg).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from plankton_spark import cache
from plankton_spark.functions import dsum, sql_sum
from plankton_spark.queries.llm_dedup import _BLOCKED_PAIRS_SQL
from plankton_spark.io import read_table
from plankton_spark.registry import query

N_SALT = 8


@query(
    "q_join_salted",
    oracle=f"""
    SELECT c_mktsegment, COUNT(*) AS n_orders, {sql_sum('o_totalprice', 'revenue')}
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def q_join_salted(spark, sf_dir):
    """Salted equi-join: the fact side gets salt = hash(rowkey) mod 8;
    the dim side is replicated 8x with every salt value, and the join
    key becomes (key, salt) — a skewed o_custkey now spreads over 8
    tasks. Must equal the unsalted join exactly."""
    o = read_table(spark, sf_dir, "orders").withColumn(
        "salt", F.pmod(F.xxhash64("o_orderkey"), F.lit(N_SALT)).cast("int")
    )
    c = read_table(spark, sf_dir, "customer").withColumn(
        "salt", F.explode(F.array(*[F.lit(s) for s in range(N_SALT)]))
    )
    j = o.join(c, (o.o_custkey == c.c_custkey) & (o.salt == c.salt))
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum(F.col("o_totalprice"), "revenue"),
    )


@query(
    "q_sample_hash",
    oracle="""
    SELECT lang, COUNT(*) AS n_sampled,
           CAST(SUM(n_chars) AS BIGINT) AS sampled_chars
    FROM documents
    WHERE ((doc_id % 1000003) * 2654435761) % 100 < 10
    GROUP BY lang
    """,
)
def q_sample_hash(spark, sf_dir):
    """Deterministic ~10% sample by key-hash arithmetic — identical on
    every run, partitioning and engine (unlike .sample(), whose output
    depends on partition layout). doc_id is folded mod a prime before
    the Knuth multiply so the product stays far below int64 overflow
    for ANY doc_id (bare doc_id * 2654435761 overflows past
    doc_id ≈ 3.5e9 — ANSI Spark throws, DuckDB silently promotes to
    INT128, breaking engine-identical sampling exactly at scale)."""
    d = read_table(spark, sf_dir, "documents").where(
        ((F.col("doc_id") % 1000003) * 2654435761) % 100 < 10
    )
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.sum("n_chars").cast("long").alias("sampled_chars"),
    )


@query(
    "q_sample_stratified",
    oracle="""
    WITH h AS (
      SELECT lang, doc_id, n_chars,
             ((doc_id % 1000003) * 2654435761) % 1000000007 AS hk
      FROM documents
    ),
    ranked AS (
      SELECT lang, doc_id, n_chars,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hk, doc_id) AS rn
      FROM h
    )
    SELECT lang, COUNT(*) AS n_sampled,
           CAST(SUM(n_chars) AS BIGINT) AS sampled_chars,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum
    FROM ranked WHERE rn <= 50 GROUP BY lang
    """,
)
def q_sample_stratified(spark, sf_dir):
    """Stratified fixed-size sampling: exactly 50 docs per language,
    chosen by deterministic key-hash order (partitioning- and
    engine-independent, like q_sample_hash, but with per-stratum
    equal allocation — the class-balance idiom for eval-set carving).
    The per-stratum pick is a WindowGroupLimit (rank-filter pushes into
    a per-group top-k, no full sort), and the hash arithmetic stays in
    overflow-safe int64 range for any doc_id."""
    d = read_table(spark, sf_dir, "documents").select(
        "lang",
        "doc_id",
        "n_chars",
        (((F.col("doc_id") % 1000003) * 2654435761) % 1000000007).alias("hk"),
    )
    w = Window.partitionBy("lang").orderBy("hk", "doc_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 50)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("n_chars").cast("long").alias("sampled_chars"),
            F.sum("doc_id").cast("long").alias("id_checksum"),
        )
    )


def _pair_edges(spark, sf_dir):
    """Both-orientation edge list over the verified minhash near-dup
    pairs, persisted under ONE shared key (optimization round 13):
    q_dedup_components and q_dedup_canonical used to build this frame
    independently under separate keys — same plan, double tracking,
    and (because Spark's CacheManager is plan-keyed) unpersisting one
    key silently dropped the other's data. One construction site +
    the shared handle make the min_label_propagation reuse structural.

    The entry matches on sf_dir, not on plan equality: the minhash
    candidate SQL is a WITH chain, and Spark assigns CTERelationDef
    ids from a GLOBAL counter that canonicalization does not renumber,
    so two parses of the identical text are never sameSemantics."""
    from plankton_spark.queries.llm_dedup import q_dedup_minhash as _mh

    def build():
        pairs = _mh(spark, sf_dir).select("doc_a", "doc_b")
        fwd = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        return fwd.unionByName(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        ).persist()

    return cache.get_or_build(spark, cache.RESULT, "pair_edges", build, match=sf_dir)


@query(
    "q_dedup_components",
    oracle=f"""
    WITH RECURSIVE {_BLOCKED_PAIRS_SQL},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    walk(node, lab) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, w.lab FROM walk w JOIN edges e ON e.src = w.node
    )
    SELECT node AS doc_id, CAST(MIN(lab) AS BIGINT) AS canonical_id
    FROM walk GROUP BY node
    """,
)
def q_dedup_components(spark, sf_dir):
    """Connected components over the verified near-dup pair graph:
    canonical_id = min doc_id reachable. Iterative min-label
    propagation (loop of join + min-agg until fixpoint) — the pattern
    for iterative graph algorithms on DataFrames; components here are
    tiny so it converges in 2-3 rounds. Oracle: recursive CTE."""
    # (the loop's final generation stays pinned under the shared
    # min_label_propagation generation key — released by the next run)
    labels = min_label_propagation(_pair_edges(spark, sf_dir))
    return labels.select(
        F.col("node").alias("doc_id"), F.col("lab").cast("long").alias("canonical_id")
    )


def min_label_propagation(edges, max_rounds: int = 40, checkpoint_every: int = 6):
    """Connected components by min-label propagation over a directed
    edge list (src, dst) that already contains both orientations.
    Returns (node, lab) at fixpoint.

    Scale hygiene for the loop-until-fixpoint pattern:
    - each round materializes its frame (the `changed` count) and then
      unpersists the superseded predecessor, so exactly one generation
      is pinned at a time;
    - every `checkpoint_every` rounds the labels are localCheckpoint'ed,
      truncating a lineage that otherwise grows one join+agg per round
      (deep lineage = quadratic replanning cost and stack-depth risk on
      long-diameter graphs).

    The fixpoint is a result entry matched on the edges frame (identity
    first: _pair_edges hands both dedup consumers the same handle, and
    WITH-derived lineage defeats sameSemantics), so q_dedup_components
    and q_dedup_canonical run the loop once between resets."""
    return cache.get_or_build(
        edges.sparkSession, cache.RESULT, "min_label_propagation",
        lambda: _propagate(edges, max_rounds, checkpoint_every),
        match=edges, by_plan=True,
    )


def _propagate(edges, max_rounds, checkpoint_every):
    spark = edges.sparkSession
    gen_key = "min_label_propagation:gen"
    labels = cache.swap(
        spark, cache.PLAN, gen_key,
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("lab", F.col("node"))
        .persist(),
    )
    for rnd in range(max_rounds):
        # Candidate labels from neighbors, with each node's CURRENT
        # label riding along as `old` (min over a single non-null value
        # per group — every node has exactly one own-row). Labels only
        # ever decrease, so the fixpoint test is lab < old; folding it
        # into the propagation aggregate drops the per-round
        # prop-join-labels comparison job the loop used to pay
        # (optimization round 13, guide §1.2: one pass per round, not
        # two). Fixpoint and final labels are unchanged. The swap
        # under one generation key releases each superseded frame —
        # exactly one generation pinned at a time, as before.
        lab_type = labels.schema["lab"].dataType
        prop = (
            edges.join(labels, edges.src == labels.node)
            .select(
                F.col("dst").alias("node"),
                "lab",
                F.lit(None).cast(lab_type).alias("own"),
            )
            .unionByName(
                labels.select("node", "lab", F.col("lab").alias("own"))
            )
            .groupBy("node")
            .agg(F.min("lab").alias("lab"), F.min("own").alias("old"))
        ).persist()
        changed = prop.where(F.col("lab") < F.col("old")).count()
        cache.swap(spark, cache.PLAN, gen_key, prop)  # releases the predecessor
        labels = prop.select("node", "lab")
        if changed == 0:
            break
        if (rnd + 1) % checkpoint_every == 0:
            labels = cache.swap(spark, cache.PLAN, gen_key, labels.localCheckpoint(eager=True))
    return labels


@query(
    "q_fk_audit",
    oracle="""
    SELECT 'orders.custkey' AS fk, CAST(COUNT(*) AS BIGINT) AS n_orphans
    FROM orders o WHERE NOT EXISTS (
      SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    UNION ALL
    SELECT 'lineitem.orderkey', CAST(COUNT(*) AS BIGINT)
    FROM lineitem l WHERE NOT EXISTS (
      SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    UNION ALL
    SELECT 'lineitem.partkey', CAST(COUNT(*) AS BIGINT)
    FROM lineitem l WHERE NOT EXISTS (
      SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
    UNION ALL
    SELECT 'lineitem.suppkey', CAST(COUNT(*) AS BIGINT)
    FROM lineitem l WHERE NOT EXISTS (
      SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)
    """,
)
def q_fk_audit(spark, sf_dir):
    """Referential-integrity audit: orphan counts for every foreign
    key in the star schema, each as a LEFT ANTI join (the only join
    type that can short-circuit to a bloom-filter probe at scale).
    Dimension sides broadcast (customer/part/supplier are the small
    sides by design); the lineitem→orders check is the one true
    shuffle. The audit a pipeline runs after every load — a nonzero
    row here means an upstream extract dropped rows."""
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    c = read_table(spark, sf_dir, "customer")
    p = read_table(spark, sf_dir, "part")
    s = read_table(spark, sf_dir, "supplier")

    def orphans(name, child, parent, ck, pk):
        n = (
            child.join(parent, child[ck] == parent[pk], "left_anti")
            .agg(F.count(F.lit(1)).cast("long").alias("n_orphans"))
            .select(F.lit(name).alias("fk"), "n_orphans")
        )
        return n

    out = orphans("orders.custkey", o, c, "o_custkey", "c_custkey")
    for args in (
        ("lineitem.orderkey", li, o, "l_orderkey", "o_orderkey"),
        ("lineitem.partkey", li, p, "l_partkey", "p_partkey"),
        ("lineitem.suppkey", li, s, "l_suppkey", "s_suppkey"),
    ):
        out = out.unionByName(orphans(*args))
    return out


WSAMPLE_K = 100
WSAMPLE_SCALE = 1_000_000_007  # hash modulus (prime)


@query(
    "q_sample_weighted",
    oracle=f"""
    WITH pri AS (
      SELECT doc_id, lang, n_chars,
             -- integer-exact weighted priority: uniform hash key
             -- divided by weight (larger weight => smaller priority
             -- => more likely in the top-k). All int64 arithmetic.
             (((doc_id % 1000003) * 2654435761) % {WSAMPLE_SCALE}) * 1000
               // n_chars AS pri
      FROM documents
    ),
    pick AS (
      SELECT doc_id, lang, n_chars,
             ROW_NUMBER() OVER (ORDER BY pri, doc_id) AS rn
      FROM pri
    )
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_sampled,
           CAST(SUM(n_chars) AS BIGINT) AS sampled_chars,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc
    FROM pick WHERE rn <= {WSAMPLE_K}
    GROUP BY lang
    """,
)
def q_sample_weighted(spark, sf_dir):
    """Weighted sampling without replacement, deterministic and
    engine-identical: each doc gets an integer priority
    hash_key * 1000 DIV weight (weight = n_chars, so longer docs are
    proportionally favored — the A-ES priority-sampling shape with the
    transcendental -ln(u)/w key replaced by an integer-exact monotone
    surrogate, because libm ulp differences between engines would
    flip near-ties). Global top-k by (priority, doc_id) via the same
    two-level pattern as q_topk_global: TakeOrderedAndProject keeps
    per-partition heaps of k, no full sort, no single-partition
    window."""
    d = read_table(spark, sf_dir, "documents")
    # integer DIV keeps the priority exact in both engines — a double
    # division + cast could round a near-integer quotient differently
    pri = F.expr(
        f"(((doc_id % 1000003) * 2654435761) % {WSAMPLE_SCALE}) * 1000"
        " DIV n_chars"
    )
    scored = d.select("doc_id", "lang", "n_chars", pri.alias("pri"))
    topk = scored.orderBy("pri", "doc_id").limit(WSAMPLE_K)
    return topk.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_sampled"),
        F.sum("n_chars").cast("long").alias("sampled_chars"),
        F.min("doc_id").cast("long").alias("min_doc"),
    )


N_BUCKETS = 16


def bucketed_join_tables(spark, sf_dir) -> tuple[str, str]:
    """Write orders + customer as BUCKETED tables on the join key
    (catalog tables with explicit external paths) and return their
    names. Bucketing is the 100 TB co-location tool this module
    exists for: both sides pre-hashed into the same number of buckets
    on the join key, so the sort-merge join reads bucket i against
    bucket i with ZERO shuffle of either side — the exchange that
    dominates a TB-scale fact-fact join simply isn't in the plan
    (pinned by tests/test_plans.py). The repartition before the write
    lands each bucket in exactly one file, so the scan needs no
    extra sort.

    Idempotent per (session, sf_dir): the catalog check makes
    repeated query invocations reuse the written tables."""
    import os as _os

    from plankton_spark.queries.scans import _scratch

    tag = _os.path.basename(_os.path.normpath(sf_dir)).replace(".", "_")
    names = []
    for tbl, key in (("orders", "o_custkey"), ("customer", "c_custkey")):
        name = f"plank_bkt_{tbl}_{tag}"
        if not spark.catalog.tableExists(name):
            (
                read_table(spark, sf_dir, tbl)
                .repartition(N_BUCKETS, F.col(key))
                .write.mode("overwrite")
                .bucketBy(N_BUCKETS, key)
                .sortBy(key)
                .option("path", _scratch(sf_dir, f"bkt_{tbl}"))
                .format("parquet")
                .saveAsTable(name)
            )
        names.append(name)
    return names[0], names[1]


@query(
    "q_join_bucketed",
    oracle=f"""
    SELECT c_mktsegment, COUNT(*) AS n_orders, {sql_sum('o_totalprice', 'revenue')}
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def q_join_bucketed(spark, sf_dir):
    """Shuffle-free equi-join via bucketed tables: both sides written
    bucketBy(16, custkey), so the join co-locates by construction and
    the only exchange left in the whole plan is the final small
    groupBy. Must equal the plain join exactly (same oracle as
    q_join_salted — three routes to one answer)."""
    o_name, c_name = bucketed_join_tables(spark, sf_dir)
    o, c = spark.table(o_name), spark.table(c_name)
    j = o.join(c, o.o_custkey == c.c_custkey)
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum(F.col("o_totalprice"), "revenue"),
    )


@query(
    "q_scan_bloom",
    oracle="""
    SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
           CAST(o_custkey AS BIGINT) AS o_custkey,
           o_orderstatus
    FROM orders WHERE o_custkey = 42
    """,
)
def q_scan_bloom(spark, sf_dir):
    """Point lookup over parquet written WITH a bloom filter on the
    lookup column. Row-group min/max stats can't prune a point
    predicate on an unsorted high-cardinality column (every row group
    spans most of the key range); the bloom filter is the standard
    answer — parquet-mr attaches an SBBF per row group and the
    reader's filter pushdown skips groups whose filter proves the key
    absent. At 100 TB this turns a needle-in-haystack scan into a
    handful of row groups. Correctness contract: identical rows to
    the plain predicate (the filter is sound — no false negatives);
    tests/test_scale_patterns.py asserts the filter bytes are
    actually in the file."""
    import os as _os

    from plankton_spark.queries.scans import _scratch

    path = _scratch(sf_dir, "orders_bloom")
    if not _os.path.exists(_os.path.join(path, "_SUCCESS")):
        (
            read_table(spark, sf_dir, "orders")
            .write.mode("overwrite")
            .option("parquet.bloom.filter.enabled#o_custkey", "true")
            .option("parquet.bloom.filter.expected.ndv#o_custkey", "200000")
            # parquet-mr only attaches a bloom filter when the column
            # is NOT fully dictionary-encoded (the dictionary itself
            # gives exact row-group skipping). At 100 TB a fact key
            # overflows the dictionary page naturally; at fixture
            # scale we disable the dictionary to exercise the real
            # bloom path end to end.
            .option("parquet.enable.dictionary#o_custkey", "false")
            .parquet(path)
        )
    back = spark.read.parquet(path).where(F.col("o_custkey") == 42)
    return back.select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        F.col("o_custkey").cast("long").alias("o_custkey"),
        "o_orderstatus",
    )


@query(
    "q_scan_dpp",
    oracle=f"""
    SELECT event_type, COUNT(*) AS n_events,
           {sql_sum('value', 'total_value')}
    FROM events
    WHERE EXTRACT(DOW FROM ts) IN (0, 6)
    GROUP BY event_type
    """,
)
def q_scan_dpp(spark, sf_dir):
    """Dynamic partition pruning: events land date-partitioned (the
    100 TB fact layout), the calendar dim is materialized separately,
    and a filter on a DIM attribute (day_kind — not the partition
    key itself, so no static pruning is possible) must prune fact
    date partitions at RUNTIME via the reused broadcast
    (dynamicpruningexpression in PartitionFilters, pinned by
    tests/test_scale_patterns_dpp.py). At scale this is the difference
    between scanning 2/7 of the fact and all of it.

    Gotcha pinned here: the PartitionPruning rule only inserts the
    dynamic filter when the dim predicate "is likely selective"
    (BinaryComparison/In/LIKE...). A bare BOOLEAN attribute filter
    (.where(is_weekend)) does NOT qualify — the dim carries a string
    day_kind and filters day_kind = 'weekend' so the runtime filter
    actually materializes."""
    import os as _os

    from plankton_spark.queries.scans import _scratch

    fact_path = _scratch(sf_dir, "events_by_date")
    dim_path = _scratch(sf_dir, "calendar_daykind")
    ev = read_table(spark, sf_dir, "events")
    if not _os.path.exists(_os.path.join(fact_path, "_SUCCESS")):
        (
            ev.withColumn("event_date", F.to_date("ts"))
            .write.mode("overwrite")
            .partitionBy("event_date")
            .parquet(fact_path)
        )
    if not _os.path.exists(_os.path.join(dim_path, "_SUCCESS")):
        (
            ev.select(F.to_date("ts").alias("event_date"))
            .distinct()
            # Spark dayofweek(): 1=Sunday .. 7=Saturday
            .withColumn(
                "day_kind",
                F.when(
                    F.dayofweek("event_date").isin(1, 7), F.lit("weekend")
                ).otherwise(F.lit("weekday")),
            )
            .write.mode("overwrite")
            .parquet(dim_path)
        )
    fact = spark.read.parquet(fact_path)
    dim = spark.read.parquet(dim_path).where(F.col("day_kind") == "weekend")
    j = fact.join(dim, "event_date")
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum(F.col("value"), "total_value"),
    )


@query(
    "q_agg_skewsalt",
    oracle=f"""
    SELECT event_type, COUNT(*) AS n_events,
           {sql_sum('value', 'total_value')},
           MIN(value) AS min_value, MAX(value) AS max_value
    FROM events GROUP BY event_type
    """,
)
def q_agg_skewsalt(spark, sf_dir):
    """Two-phase skew-safe aggregation: phase 1 groups by
    (key, salt16) so a hot key's rows spread over 16 reducers and
    combine map-side; phase 2 merges the 16 exact partials (decimal
    sums are associative — the split is lossless by construction).
    Must equal the direct GROUP BY bit-for-bit; the oracle IS the
    direct GROUP BY. The same shape rescues any agg whose key
    histogram is Zipfian at 100 TB, where one reducer otherwise
    receives the whole head key."""
    from plankton_spark.functions import DEC

    e = read_table(spark, sf_dir, "events").withColumn(
        "salt", F.pmod(F.xxhash64("event_id"), F.lit(16)).cast("int")
    )
    partial = e.groupBy("event_type", "salt").agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum(F.col("value").cast(DEC)).alias("psum"),
        F.min("value").alias("pmin"),
        F.max("value").alias("pmax"),
    )
    return partial.groupBy("event_type").agg(
        F.sum("pn").alias("n_events"),
        F.round(F.sum("psum").cast("double"), 4).alias("total_value"),
        F.min("pmin").alias("min_value"),
        F.max("pmax").alias("max_value"),
    )


@query(
    "q_dedup_canonical",
    oracle=f"""
    WITH RECURSIVE {_BLOCKED_PAIRS_SQL},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    walk(node, lab) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, w.lab FROM walk w JOIN edges e ON e.src = w.node
    ),
    comp AS (
      SELECT node AS doc_id, MIN(lab) AS canonical_id FROM walk GROUP BY node
    ),
    ranked AS (
      SELECT c.canonical_id, c.doc_id, d.n_chars,
             ROW_NUMBER() OVER (
               PARTITION BY c.canonical_id
               ORDER BY d.n_chars DESC, c.doc_id
             ) AS rn
      FROM comp c JOIN documents d ON d.doc_id = c.doc_id
    )
    SELECT CAST(canonical_id AS BIGINT) AS canonical_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(MAX(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT)
             AS keep_doc_id,
           CAST(MAX(CASE WHEN rn = 1 THEN n_chars END) AS BIGINT)
             AS keep_n_chars
    FROM ranked GROUP BY canonical_id
    """,
)
def q_dedup_canonical(spark, sf_dir):
    """Cluster assembly — the dedup pipeline's LAST step: near-dup
    components (min-label propagation over minhash-verified pairs)
    rolled up to one row per cluster with the SURVIVOR chosen by the
    production rule (longest text, doc_id tiebreak — not min id: the
    longest member usually carries the least-truncated content).
    Spark side picks the survivor with one max(struct(n_chars,
    -doc_id)) — no window, no second shuffle beyond the label rollup.
    Oracle: the recursive-CTE component closure + a ranked rollup."""
    # shared edge construction + the label-propagation memo: in one
    # session this reuses q_dedup_components' fixpoint instead of
    # re-running the minhash pipeline and the whole loop (round 13)
    labels = min_label_propagation(_pair_edges(spark, sf_dir))
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    members = labels.join(docs, labels.node == docs.doc_id).select(
        F.col("lab").cast("long").alias("canonical_id"),
        "doc_id",
        "n_chars",
    )
    return members.groupBy("canonical_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.max(F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("neg_id")))
        .alias("pick"),
    ).select(
        "canonical_id",
        "n_members",
        (-F.col("pick.neg_id")).cast("long").alias("keep_doc_id"),
        F.col("pick.n_chars").cast("long").alias("keep_n_chars"),
    )


@query(
    "q_join_runtimefilter",
    oracle=f"""
    SELECT l_returnflag, COUNT(*) AS n_lineitems,
           {sql_sum('l_extendedprice', 'revenue')}
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY l_returnflag
    """,
)
def q_join_runtimefilter(spark, sf_dir):
    """Runtime bloom-filter semi-join reduction: for a SHUFFLE join
    whose build side is selective, Spark injects a bloom filter built
    from the dim keys into the fact scan (might_contain(...) in the
    plan) — rows that cannot join are dropped BEFORE the shuffle. At
    100 TB this is the shuffle-volume rescue when the dim is too big
    to broadcast but still selective.

    Conf scoping: injection requires shuffle-join planning
    (autoBroadcastJoinThreshold=-1; the rule deliberately skips
    broadcastable builds) and the application-side size gate lowered
    below fixture scale. Both confs are set ONLY around an eager
    localCheckpoint — the returned frame is already materialized, so
    the session's broadcast behavior for every other query is
    untouched. Correctness contract: identical to the plain join (the
    filter only drops rows that cannot match); the oracle IS the
    plain join."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice"
    )
    o = read_table(spark, sf_dir, "orders").where(
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
        j = li.join(o, li.l_orderkey == o.o_orderkey)
        out = (
            j.groupBy("l_returnflag")
            .agg(
                F.count(F.lit(1)).alias("n_lineitems"),
                dsum(F.col("l_extendedprice"), "revenue"),
            )
            .localCheckpoint()  # executes NOW, under the scoped confs
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            prev_app,
        )
    return out


@query(
    "q_shard_assign",
    oracle="""
    WITH h AS (
      SELECT doc_id, n_chars,
             ((doc_id % 1000003) * 2654435761) % 1000000007 AS hk
      FROM documents
    ),
    r AS (
      SELECT doc_id, n_chars,
             ROW_NUMBER() OVER (ORDER BY hk, doc_id) AS rn
      FROM h
    )
    SELECT CAST((rn - 1) % 8 AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS char_sum,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum
    FROM r GROUP BY (rn - 1) % 8
    """,
)
def q_shard_assign(spark, sf_dir):
    """Deterministic training-shard assignment: documents ordered by
    key hash (partitioning- and engine-independent, the q_sample_hash
    arithmetic) get a GLOBAL row number via the P-way-parallel
    global_row_number operator (range-partitioned local row_numbers +
    broadcast offsets — never a single-partition window), and
    round-robin on it balances the 8 shards to ±1 doc by
    construction. Re-running on re-partitioned input yields the SAME
    shards — the property .repartition()-based sharding lacks, and
    the one that makes training resumable. Oracle: the same hash
    order through a plain window."""
    from plankton_spark.operators.ranking import global_row_number

    d = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        (((F.col("doc_id") % 1000003) * 2654435761) % 1000000007).alias("hk"),
    )
    ranked = global_row_number(d, [F.col("hk"), F.col("doc_id")], out="rn")
    return (
        ranked.withColumn("shard", ((F.col("rn") - 1) % 8).cast("long"))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("char_sum"),
            F.sum("doc_id").cast("long").alias("id_checksum"),
        )
    )


@query(
    "q_split_leakage_safe",
    oracle="""
    WITH grp AS (
      SELECT doc_id, lang, n_chars,
             MIN(doc_id) OVER (PARTITION BY sha256(lower(text))) AS rep
      FROM documents
    ),
    labeled AS (
      SELECT doc_id, lang, n_chars, rep,
             CASE WHEN ((rep % 1000003) * 2654435761) % 100 < 90 THEN 'train'
                  WHEN ((rep % 1000003) * 2654435761) % 100 < 95 THEN 'val'
                  ELSE 'test' END AS split
      FROM grp
    )
    SELECT split, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT rep) AS BIGINT) AS n_groups,
           CAST(SUM(n_chars) AS BIGINT) AS chars,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum
    FROM labeled GROUP BY split, lang
    """,
)
def q_split_leakage_safe(spark, sf_dir):
    """LEAKAGE-SAFE train/val/test split (90/5/5): the split key is
    the document's exact-dedup GROUP representative (min doc_id over
    content-identical docs), not the document itself — so a document
    and its copies can never straddle train and test, the eval-set
    contamination that per-row splits silently allow. The assignment
    is the engine's deterministic key-hash arithmetic
    (q_sample_hash's overflow-safe fold), identical on every run,
    partitioning, and engine.

    Scale shape: the representative comes from groupBy(fp).agg(min)
    + an equi join-back, NOT a Window.partitionBy(fp) — the aggregate
    gets a map-side partial min and the join-back is AQE-skew-
    splittable, while a window exchange ships every row and is exempt
    from skew handling (the same r6 finding that shaped
    collapse_duplicate_vectors: one content duplicated 10⁹× must not
    land on a single task). That join is the only shuffle before the
    rollup; the production variant swaps the exact-dup rep for the
    MinHash/semantic canonical id (q_dedup_canonical) — same plan,
    fuzzier groups."""
    d = read_table(spark, sf_dir, "documents").withColumn(
        "fp", F.sha2(F.lower("text"), 256)
    )
    reps = d.groupBy("fp").agg(F.min("doc_id").alias("rep"))
    labeled = d.join(reps, "fp").select(
        "doc_id",
        "lang",
        "n_chars",
        "rep",
    ).withColumn(
        "bucket", ((F.col("rep") % 1000003) * 2654435761) % 100
    ).withColumn(
        "split",
        F.when(F.col("bucket") < 90, "train")
        .when(F.col("bucket") < 95, "val")
        .otherwise("test"),
    )
    return labeled.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("rep").alias("n_groups"),
        F.sum("n_chars").cast("long").alias("chars"),
        F.sum("doc_id").cast("long").alias("id_checksum"),
    )


@query(
    "q_sample_dsir",
    oracle="""
    WITH tok AS (
      SELECT doc_id, lang, UNNEST(string_split(text, ' ')) AS w
      FROM documents
    ),
    cs AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w),
    ct AS (SELECT w, COUNT(*) AS c FROM tok WHERE lang = 'en' GROUP BY w),
    tot AS (
      SELECT (SELECT COUNT(*) FROM tok) AS ns,
             (SELECT COUNT(*) FROM tok WHERE lang = 'en') AS nt,
             (SELECT COUNT(*) FROM cs) AS v
    ),
    r AS (
      SELECT cs.w,
             CAST(ROUND((LN(COALESCE(ct.c, 0) + 1) - LN(nt + v)
                         - LN(cs.c + 1) + LN(ns + v)) * 1000000)
                  AS BIGINT) AS term
      FROM cs LEFT JOIN ct ON ct.w = cs.w CROSS JOIN tot
    ),
    docw AS (
      SELECT tok.doc_id, tok.lang,
             CAST(SUM(term) AS BIGINT) AS w_micro,
             COUNT(*) AS n_toks
      FROM tok JOIN r ON r.w = tok.w
      GROUP BY tok.doc_id, tok.lang
    ),
    sel AS (SELECT * FROM docw ORDER BY w_micro DESC, doc_id LIMIT 100)
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_selected,
           CAST(SUM(w_micro) AS BIGINT) AS w_micro_sum,
           CAST(SUM(n_toks) AS BIGINT) AS n_toks
    FROM sel GROUP BY lang
    """,
)
def q_sample_dsir(spark, sf_dir):
    """DSIR-style data selection (Data Selection via Importance
    Resampling, Xie et al. 2023 — the published recipe for matching a
    pretraining mix to a target domain): score every raw document by
    the log importance ratio of its unigram features between the
    TARGET distribution (here: the English slice) and the RAW
    distribution, both add-one smoothed over the shared vocabulary,
    then keep the top-100 by weight (the deterministic top-k variant
    of the paper's Gumbel resampling — same ranking statistic, no
    RNG to disagree with the oracle over).

    Scale shape: the two feature-count models are vocab-bounded hash
    aggs (NOT corpus-sized); the totals are one scalar row; scoring
    is ONE equi-join of the token stream against the ratio table
    (AQE-broadcast when the vocab is small) followed by a per-doc
    integer sum; selection is orderBy+limit = TakeOrderedAndProject
    (per-partition top-k + bounded merge, never a global sort).
    Determinism: each token's log ratio is rounded to integer
    MICRO-nats before the per-doc sum (exact integer addition in any
    order), ties at the cut broken by doc_id in both engines."""
    tok = read_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("w")
    )
    cs = tok.groupBy("w").agg(F.count(F.lit(1)).alias("cs"))
    ct = tok.where(F.col("lang") == "en").groupBy("w").agg(
        F.count(F.lit(1)).alias("ct")
    )
    totals = (
        cs.agg(
            F.sum("cs").alias("ns"),
            F.count(F.lit(1)).alias("v"),
        )
        .crossJoin(
            tok.where(F.col("lang") == "en").agg(F.count(F.lit(1)).alias("nt"))
        )
    )
    ratio = (
        cs.join(ct, "w", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "w",
            F.round(
                (
                    F.log(F.coalesce(F.col("ct"), F.lit(0)) + 1)
                    - F.log(F.col("nt") + F.col("v"))
                    - F.log(F.col("cs") + 1)
                    + F.log(F.col("ns") + F.col("v"))
                )
                * 1000000
            )
            .cast("long")
            .alias("term"),
        )
    )
    docw = (
        tok.join(ratio, "w")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("term").cast("long").alias("w_micro"),
            F.count(F.lit(1)).alias("n_toks"),
        )
    )
    sel = docw.orderBy(F.col("w_micro").desc(), "doc_id").limit(100)
    return sel.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_selected"),
        F.sum("w_micro").cast("long").alias("w_micro_sum"),
        F.sum("n_toks").cast("long").alias("n_toks"),
    )
