"""SparkSession factory and runtime preparation.

Two entry points:

- :func:`get_session` — build a session with the engine's defaults
  (UTC timezone, AQE, Arrow, sane shuffle-partition count for local
  mode). Used by tests and ``bench.py``.
- :func:`prepare` — apply the *runtime-settable* subset of those
  defaults to an externally-owned session (the correctness driver
  hands us its own SparkSession; we must not assume it was built with
  our configs). Idempotent and cheap; every query builder calls it.

Scale notes (100 TB / 1000 executors)
-------------------------------------
- AQE on: runtime coalescing of shuffle partitions, skew-join
  splitting, and dynamic broadcast decisions are essential at scale;
  static ``spark.sql.shuffle.partitions`` is only the *initial* value.
- UTC session timezone is a *correctness* requirement: every
  timestamp→string rendering (key synthesis, date_format) must agree
  with the oracle, independent of cluster-node timezones.
- Arrow enabled: all Pandas-UDF / mapInPandas operators ship batches
  via Arrow, not pickle.

Warm passes
-----------
- Codegen cache: ``spark.sql.codegen.cache.maxEntries`` is
  ``CODEGEN_CACHE_ENTRIES`` (4096; Spark's default is 100). The cache
  is least-recently-used, so a workload whose pass needs more classes
  than it holds misses on every class, every pass: Janino compiles
  each class again and the JIT compiles it again after that. Measured
  at sf0.001 in one JVM (4 cores), two passes over all 272 queries:
  with 100 entries each pass compiles about 5,500 classes (every
  class, some twice); with 4096 entries the first pass compiles 3,264
  and the second 117; with 4096 entries and no stage id in class
  names (below) 2,766 and 0. The benchmark's nine reference queries
  need 118 classes a pass and an E1 cycle about 185, so with 100
  entries a warm pass of either compiled all of them again. The
  Metaspace pool in use after the second pass: 216 MB at 100
  entries, 220 MB at 4096. Past 4,096 distinct classes in one JVM
  the cache starts cycling again. It is a static conf: :func:`prepare`
  cannot set it, so a session built outside :func:`get_session` keeps
  Spark's 100.
- Stage ids stay out of generated class names
  (``spark.sql.codegen.useIdInClassName=false``, runtime-settable).
  The cache is keyed by the generated source, and the whole-stage
  class name embeds the stage id, which AQE assigns in the order
  query stages finish. A plan whose independent stages race (the
  ``audit`` union of six aggregates) got new ids on some runs and
  compiled 4 classes again in a warm E1 cycle. Without the id, a
  warm E1 cycle compiles 0, and identical pipelines in different
  stages or queries share one class (a cold E1 cycle compiles 154
  instead of 184).
- Driver-held rows: every DataFrame the engine builds from Python
  rows goes through :func:`local_frame`, an Arrow ``LocalRelation``.
  ``createDataFrame(list)`` instead ships pickled rows through Python
  worker processes on every use of the frame (about 3-4 Python
  CPU-seconds per E1 cycle for the 3-row purge-key frame; 0 now).
"""

from __future__ import annotations

import os
from collections.abc import Iterable
from typing import Any

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, _make_type_verifier

# Static conf: sized to the query surface (module docstring).
CODEGEN_CACHE_ENTRIES = 4096

# Runtime-settable SQL confs applied to ANY session we touch.
_RUNTIME_CONFS: dict[str, str] = {
    # Correctness: deterministic timestamp rendering & parsing.
    "spark.sql.session.timeZone": "UTC",
    # The fixture events table stores TIMESTAMP(NANOS) which Spark
    # cannot read natively; read as long nanos and convert in the
    # catalog (truncation to micros matches DuckDB's behavior).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Arrow for pandas_udf / mapInPandas / toPandas.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # AQE: coalesce post-shuffle partitions, split skewed joins.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Codegen cache key: keep the stage id out of generated class
    # names (module docstring, "Warm passes").
    "spark.sql.codegen.useIdInClassName": "false",
}


def prepare(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to an existing session."""
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Conf may be static on some builds; defaults still work
            # for everything except the nanos events table.
            pass
    return spark


def get_session(
    app_name: str = "cr-data-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or
    ``local[*]``). On a real cluster, pass ``master=None`` and set the
    master via spark-submit; everything here remains valid.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        cpus_env = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus_env) if cpus_env else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    if extra_confs:
        for k, v in extra_confs.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # getOrCreate may have returned a pre-existing session whose
    # builder-time confs were ignored — re-apply runtime ones.
    return prepare(spark)


def local_frame(
    spark: SparkSession, rows: Iterable[Any], schema: StructType | str
) -> DataFrame:
    """Driver-held rows → DataFrame, as an Arrow ``LocalRelation``.

    ``schema`` is a DDL string or a ``StructType``; ``rows`` are
    tuples, ``Row``s or dicts (by field name, extra keys ignored),
    exactly as ``createDataFrame(list, schema)`` takes them, and the
    result has the same schema and rows. Each row goes through
    ``StructType.toInternal`` first, so a naive ``datetime`` keeps
    ``createDataFrame(list)``'s host-local meaning (Arrow alone would
    read it as UTC). Rows pass ``createDataFrame(list)``'s own type
    verifier, so a mistyped or mis-sized row raises the same error."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    verify = _make_type_verifier(schema)
    internal = []
    for r in rows:
        verify(r)
        internal.append(schema.toInternal(r))
    columns = zip(*internal) if internal else ([] for _ in arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)
