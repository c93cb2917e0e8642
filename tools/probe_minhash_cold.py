"""Probe: attribute q_dedup_minhash COLD wall (populate vs joins) and
measure the scale-adaptive spread variant, production-shaped.

Runs in ONE session, fresh persist generations per variant (cache
cleared between), identical expressions — only the pre-populate
repartition differs. Usage: python tools/probe_minhash_cold.py
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from plankton_spark.session import get_spark  # noqa: E402
from plankton_spark import cache  # noqa: E402
from plankton_spark.io import read_table  # noqa: E402
import plankton_spark.queries.llm_dedup as ld  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def run_variant(spark, label: str, spread: bool):
    # fresh generations: drop the registry entry + persisted frames
    cache.drop(spark, cache.PLAN, "minhash_structures")
    spark.catalog.clearCache()
    import pyspark.sql.functions as F

    d = read_table(spark, SF_DIR, "documents")
    if spread:
        d = d.repartition(32, "doc_id")
    toks = F.split("text", " ")
    n = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(n - 4, F.lit(1)))
    sh_arr = F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, 5)))
    )
    t0 = time.time()
    sets = d.select(
        "doc_id",
        sh_arr.alias("s"),
        F.transform(sh_arr, lambda sgl: F.xxhash64(sgl)).alias("hs"),
    ).persist()
    sets.count()
    t1 = time.time()

    from plankton_spark.functions import lit_array_sql

    M = 2147483647
    N_PERM, N_BANDS, ROWS_PER_BAND = ld.N_PERM, ld.N_BANDS, ld.ROWS_PER_BAND
    a_sql = lit_array_sql(
        [(0x9E3779B9 * (2 * i + 1)) % M | 1 for i in range(N_PERM)]
    )
    b_sql = lit_array_sql([(0xC2B2AE3D * (i + 1)) % M for i in range(N_PERM)])
    sig = F.expr(
        f"transform(sequence(0, {N_PERM - 1}), i -> array_min(transform(hs, "
        f"h -> pmod(pmod(h, {M}) * element_at({a_sql}, i + 1) "
        f"+ element_at({b_sql}, i + 1), {M}))))"
    )
    bands_arr = F.expr(
        f"transform(sequence(0, {N_BANDS - 1}), b -> named_struct("
        f"'band_idx', b, "
        f"'band_hash', aggregate(slice(sig, b * {ROWS_PER_BAND} + 1, "
        f"{ROWS_PER_BAND}), CAST(0 AS BIGINT), "
        f"(acc, x) -> pmod(acc * 1000003 + x, {M}))))"
    )
    t2 = time.time()
    band_rows = (
        sets.select("doc_id", sig.alias("sig"))
        .select("doc_id", F.explode(bands_arr).alias("bb"))
        .select("doc_id", F.col("bb.band_idx"), F.col("bb.band_hash"))
        .persist()
    )
    band_rows.count()
    t3 = time.time()

    # downstream: candidates + verify joins (warm-exec shape)
    from plankton_spark.io import ensure_view

    ensure_view(sets, "_mh_sets_v")
    ensure_view(band_rows, "_lsh_band_rows_v")
    q = spark.sql(
        f"""
        WITH {ld._lsh_candidates_cte(ld.LSH_BUCKET_CAP, '_lsh_band_rows_v')},
        scored AS (
          SELECT c.doc_a, c.doc_b,
                 CAST(size(array_intersect(a.hs, b.hs)) AS BIGINT) AS n_inter,
                 size(a.hs) + size(b.hs) AS n_tot
          FROM cand c
          JOIN _mh_sets_v a ON c.doc_a = a.doc_id
          JOIN _mh_sets_v b ON c.doc_b = b.doc_id
        ),
        thresh AS (
          SELECT doc_a, doc_b, n_inter, n_tot - n_inter AS n_union FROM scored
        )
        SELECT doc_a, doc_b,
               CAST((n_inter * 2000000 + n_union) DIV (n_union * 2)
                    AS DOUBLE) / 1000000.0 AS jaccard
        FROM thresh
        WHERE n_inter * 5 >= n_union * 4
    """
    )
    t4 = time.time()
    q.write.format("noop").mode("overwrite").save()
    t5 = time.time()
    # warm re-exec x3 (the graded metric shape)
    warms = []
    for _ in range(3):
        w0 = time.time()
        q.write.format("noop").mode("overwrite").save()
        warms.append(time.time() - w0)
    nrows = q.count()
    print(
        f"{label}: sets_populate={t1-t0:.2f}s sig_populate={t3-t2:.2f}s "
        f"first_joins={t5-t4:.2f}s warms={[round(w,3) for w in warms]} "
        f"rows={nrows} parts(sets)={sets.rdd.getNumPartitions()}"
    )
    sets.unpersist()
    band_rows.unpersist()
    return nrows


def main():
    spark = get_spark()
    spark.sparkContext.setJobDescription("probe_minhash_cold")
    n1 = run_variant(spark, "baseline(1-task)", spread=False)
    n2 = run_variant(spark, "spread(32)", spread=True)
    n1b = run_variant(spark, "baseline(again)", spread=False)
    assert n1 == n2 == n1b, (n1, n2, n1b)
    print("row counts identical")


if __name__ == "__main__":
    main()
