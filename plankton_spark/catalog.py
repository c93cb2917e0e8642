"""SQL-addressable table registration (round-8 verdict #4): make the
engine's table formats queryable as `spark.sql("SELECT ... FROM t")`
names, without read_* calls at the query site.

Two mechanisms, chosen per format:

- parquet → a CATALOG table (`CREATE TABLE ... USING parquet
  LOCATION`): the scan goes through Spark's native relation, so
  predicate pushdown / column pruning / partition pruning all work,
  and with a persistent metastore (Derby/Hive) the registration
  outlives the session. No data copy — external-location table.
- planktable / deltalog / iceberglog → a TEMP VIEW over the format
  reader's DataFrame. The reader resolves the table's CURRENT
  version at registration time (file lists and DV descriptors are
  pinned into the plan), so the view is SNAPSHOT-PINNED: commits made
  after register() don't appear until re-register — the same
  semantics as a reader DataFrame held across commits, made explicit
  here. Optional version/snapshot kwargs pin time travel instead.

The pinning trade-off is deliberate at 100 TB: resolving the log at
ANALYSIS time (not per-query re-list) keeps SQL planning free of
format-log IO; a production metastore integration would instead hook
a DSv2 catalog plugin, which pyspark cannot declare from Python — the
registration surface is the Python-side equivalent.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from plankton_spark import cache

_NAME = re.compile(r"[A-Za-z_][A-Za-z0-9_]*\Z")

FORMATS = ("parquet", "planktable", "deltalog", "iceberglog")


def _check_name(name: str) -> None:
    if not _NAME.fullmatch(name):
        raise ValueError(
            f"table name {name!r} must be a bare SQL identifier "
            "([A-Za-z_][A-Za-z0-9_]*)"
        )


def register(
    spark: SparkSession,
    name: str,
    path: str,
    fmt: str = "parquet",
    **kwargs,
) -> DataFrame:
    """Register `path` as SQL table `name`; returns the DataFrame the
    name resolves to. kwargs pass through to the format reader
    (e.g. version= for deltalog/planktable time travel, snapshot_id=/
    ref= for iceberglog)."""
    _check_name(name)
    if fmt == "parquet":
        if kwargs:
            raise ValueError(f"parquet registration takes no kwargs: {kwargs}")
        # external catalog table — no copy, native pushdown/pruning.
        # The path is embedded in SQL: with Spark's default parser
        # backslash IS an escape character, so escape backslashes
        # FIRST, then quotes as \' — quote-doubling alone still lets
        # a trailing backslash (or an embedded \') break out of the
        # literal (round-9 review #5 + follow-up #4)
        loc = path.replace("\\", "\\\\").replace("'", "\\'")
        # a temp view of the same name (from a prior view-format
        # registration) SHADOWS the catalog table in name resolution —
        # drop it too, or the new registration silently resolves to
        # the stale snapshot-pinned view
        spark.catalog.dropTempView(name)
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        spark.sql(f"CREATE TABLE {name} USING parquet LOCATION '{loc}'")
        cache.swap(spark, cache.PLAN, ("catalog", name), (fmt, path, dict(kwargs)))
        return spark.table(name)
    if fmt == "planktable":
        from plankton_spark.table_format import PlankTable

        df = PlankTable(spark, path).read(**kwargs)
    elif fmt == "deltalog":
        from plankton_spark.sources.delta_log import read_delta

        df = read_delta(spark, path, **kwargs)
    elif fmt == "iceberglog":
        from plankton_spark.sources.iceberg_meta import read_iceberg

        df = read_iceberg(spark, path, **kwargs)
    else:
        raise ValueError(f"unknown format {fmt!r} (want one of {FORMATS})")
    # symmetric shadow rule: retire any catalog table this name held
    # from a prior parquet registration before the view takes over
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    df.createOrReplaceTempView(name)
    cache.swap(spark, cache.PLAN, ("catalog", name), (fmt, path, dict(kwargs)))
    return df


def refresh(spark: SparkSession, name: str) -> DataFrame:
    """Re-resolve a registration made by register() at CALL time, so a
    long-lived session can follow commits without re-register
    boilerplate (views are snapshot-pinned by design — see the module
    docstring). View formats re-run the format reader with the
    original kwargs (an explicit version=/snapshot_id= pin is honored:
    refreshing a time-travel registration is a no-op by construction);
    parquet invalidates Spark's cached file listing for the table."""
    _check_name(name)
    binding = cache.lookup(spark, cache.PLAN, ("catalog", name))
    if binding is None:
        raise ValueError(f"{name!r} was not registered via catalog.register")
    fmt, path, kwargs = binding
    if fmt == "parquet":
        spark.catalog.refreshTable(name)
        return spark.table(name)
    return register(spark, name, path, fmt, **kwargs)


def unregister(spark: SparkSession, name: str) -> None:
    """Drop a registration made by register() (either mechanism)."""
    _check_name(name)
    cache.drop(spark, cache.PLAN, ("catalog", name))
    if not spark.catalog.dropTempView(name):
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def analyze(spark: SparkSession, name: str, columns: list[str] | None = None
            ) -> None:
    """ANALYZE TABLE: compute table + column statistics for a
    registered CATALOG table (fmt="parquet"), feeding the CBO —
    spark.sql.cbo.enabled + joinReorder (on in get_spark) use the
    row counts / NDVs / min-max to reorder multi-joins and size
    broadcast decisions. Default: all columns (one extra scan at
    registration time, amortized over every subsequent query —
    at 100 TB run it on dimension tables always, fact tables when
    join-order quality matters more than one scan). Temp-view
    registrations can't carry catalog stats; pass the parquet-format
    name."""
    _check_name(name)
    for c in columns or ():
        if not _NAME.fullmatch(c):
            raise ValueError(
                f"column name {c!r} must be a bare SQL identifier"
            )
    cols = "FOR ALL COLUMNS" if columns is None else (
        "FOR COLUMNS " + ", ".join(columns)
    )
    spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS {cols}")
