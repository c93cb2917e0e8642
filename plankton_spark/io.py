"""Fixture table readers with fixed, explicit schemas (SURVEY.md §1.2).

Schemas are pinned (FIXTURES.md, read from the parquet footers) so a
schema drift in an upstream file fails loudly instead of silently
changing query semantics. Parquet supplies its own schema; we verify
it matches the declaration rather than re-imposing one (re-imposing
would defeat predicate pushdown on mismatched types).

At 100 TB these readers are the single place to attach bucketing /
partition-path conventions; query code never touches file paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from plankton_spark import cache

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


def table_rows(sf_dir: str, name: str) -> int:
    """EXACT row count of a fixture table from parquet FOOTER metadata —
    no Spark job, no data read. Equals ``read_table(...).count()``
    bit-for-bit (fixture readers never filter rows), so task-sizing and
    sampling decisions derived from it are value-identical to the
    count-job formulation they replace; at 100 TB this turns a full
    count pass into the metadata-scale footer read every table format's
    planner already pays (optimization guide §1.2: don't run a job for
    a number the storage layer already recorded). Handles both the
    single-file fixture layout and a directory of part files."""
    import glob as _glob
    import os as _os

    import pyarrow.parquet as _pq

    path = table_path(sf_dir, name)
    if _os.path.isdir(path):
        return sum(
            _pq.ParquetFile(f).metadata.num_rows
            for f in _glob.glob(_os.path.join(path, "*.parquet"))
        )
    return _pq.ParquetFile(path).metadata.num_rows


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read a fixture table. Plain parquet scan → full pushdown/pruning.

    ``events.ts`` has shipped in two physical encodings across fixture
    generations: parquet TIMESTAMP(NANOS) (which Spark's vectorized
    reader only accepts as epoch-nanos LONG via the legacy conf) and
    plain TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ). Normalize both to
    TimestampType (µs, session tz = UTC so the NTZ→LTZ cast is
    value-preserving). Declared queries never emit sub-second ``ts``
    (SURVEY.md §2.0), so the ns→µs floor is not hash-observable.

    The resolved relation is a plan entry of the session registry:
    each spark.read.parquet() costs ~120 ms of driver-side resolution
    and footer inference, and fixture files are immutable for a
    session (table-format queries use their own readers), so one
    unexecuted handle per path serves every query.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    return cache.get_or_build(
        spark, cache.PLAN, ("table", table_path(sf_dir, name)),
        lambda: _read_table_uncached(spark, sf_dir, name),
    )


def _read_table_uncached(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(table_path(sf_dir, name))
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            # legacy fixture: TIMESTAMP(NANOS) surfaced as epoch-nanos long
            df = df.withColumn(
                "ts",
                F.timestamp_micros(F.floor(F.col("ts") / F.lit(1000)).cast("long")),
            )
        elif not isinstance(ts_type, T.TimestampType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df.select([f.name for f in SCHEMAS["events"].fields])
    return spark.read.parquet(table_path(sf_dir, name))


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture as a temp view so §2 queries also run as SQL."""
    for name in TABLES:
        table_view(spark, sf_dir, name)


def ensure_view(df: DataFrame, name: str) -> str:
    """createOrReplaceTempView, skipped when this exact DataFrame
    handle is already registered under ``name``: engine-internal views
    over persisted or resolved frames are re-registered with the SAME
    handle on every warm build, at ~10-15 ms of py4j and catalog work
    each. Identity is the guard, so a different frame re-registers."""
    cache.get_or_build(
        df.sparkSession, cache.PLAN, ("view", name),
        lambda: df.createOrReplaceTempView(name), match=df,
    )
    return name


def table_view(spark: SparkSession, sf_dir: str, name: str) -> str:
    """Ensure fixture ``name`` is registered as a temp view named
    ``name`` over ``sf_dir`` (once per path, as ensure_view); returns
    the view name."""
    cache.get_or_build(
        spark, cache.PLAN, ("view", name),
        lambda: read_table(spark, sf_dir, name).createOrReplaceTempView(name),
        match=table_path(sf_dir, name),
    )
    return name
