"""Fixture-table catalog: one place that knows how to load each
driver table from a scale-factor directory.

All query builders go through :func:`table` so that per-table fixups
(the nanosecond-timestamp events table) and session preparation happen
exactly once, regardless of which SparkSession the caller owns.

Scale notes
-----------
- Loads are plain ``spark.read.parquet`` with the explicit schema's
  column order; Catalyst prunes columns and pushes predicates into the
  scan, so ``table()`` callers should ``select``/``filter`` freely and
  let pushdown do its thing (verify with
  ``df.explain('formatted')`` → ``PushedFilters`` / ``ReadSchema``).
- At 100 TB the same API reads a partitioned lake directory; nothing
  here assumes single-file inputs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from .session import prepare

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def _load_events(spark: SparkSession, path: str) -> DataFrame:
    """Normalize the events table's ``ts`` to session-UTC TIMESTAMP.

    Fixture generations have stored it two ways: TIMESTAMP(NANOS)
    (Spark reads it as long via ``nanosAsLong``; truncate to micros —
    the exact behavior DuckDB applies casting TIMESTAMP_NS →
    TIMESTAMP) and TIMESTAMP(MICROS) without a timezone (Spark reads
    TIMESTAMP_NTZ; reinterpret the wall-clock as UTC, which is what
    DuckDB's naive TIMESTAMP means under our UTC session). Downstream
    operators rely on ``unix_micros``/window arithmetic, which require
    the timezone-carrying TIMESTAMP type."""
    df = spark.read.parquet(path)
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        df = df.withColumn(
            "ts", F.timestamp_micros((F.col("ts") / F.lit(1000)).cast("long"))
        )
    elif ts_type is not None and ts_type.startswith("timestamp_ntz"):
        # NTZ→TZ cast interprets the wall-clock in the session
        # timezone, which prepare() pins to UTC.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def table(spark: SparkSession, name: str, sf_dir: str | None = None) -> DataFrame:
    """Load fixture table ``name`` from ``sf_dir`` (parquet).

    The resolved DataFrame HANDLE is memoized per (session, path):
    ``spark.read.parquet`` costs ~100-250 ms per call (relation
    resolution + file listing + footer schema inference), and query
    builders re-invoke it for every table on every run — measured
    ~20% of the whole bench wall at sf0.1. The memo holds only the
    analyzed PLAN: no rows are cached or persisted, every action on
    it re-scans the parquet files, so a bench/oracle invocation
    still computes from the inputs. The cache dies with the session
    (stored on the session object) and is keyed by absolute path;
    fixture directories are read-only for a session's lifetime
    (writers in this engine always write elsewhere)."""
    prepare(spark)
    sf_dir = sf_dir or DEFAULT_SF_DIR
    # abspath enforces the "keyed by absolute path" contract: a
    # relative sf_dir plus a cwd change must not alias two different
    # directories onto one cache entry (ADVICE r11).
    path = os.path.abspath(os.path.join(sf_dir, f"{name}.parquet"))
    try:
        cache = spark._graft_table_cache
    except AttributeError:
        cache = spark._graft_table_cache = {}
    df = cache.get(path)
    if df is None:
        if name == "events":
            df = _load_events(spark, path)
        else:
            df = spark.read.parquet(path)
        cache[path] = df
    return df


def tables(
    spark: SparkSession, names: list[str], sf_dir: str | None = None
) -> dict[str, DataFrame]:
    return {n: table(spark, n, sf_dir) for n in names}
