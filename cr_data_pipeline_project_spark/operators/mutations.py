"""Mutation operators (SURVEY.md §2.6): MERGE upsert, insert-if-absent,
cascade delete, deterministic surrogate keys (optionally with
natural-key dedup).

The reference runs these as SQL Server MERGE / NOT-IN gates / ordered
DELETEs (/root/reference/src/db_ops.py:32-149,
/root/reference/etl_pipeline_script.py:43-50,97-112,128-147). Here
each is a *pure DataFrame transformation* (so it composes and tests
like any query) plus a parquet write-path wrapper.

Scale notes (100 TB)
--------------------
- ``upsert``: new ∪ (old ⟕anti new). The anti join shuffles on the
  key unless the *new* side is small — in the reference's workload the
  per-run delta is ~10³ rows vs ~10⁵ accumulated, so the delta side is
  broadcast (AQE will pick this; we hint it explicitly). On a
  transactional lake format this becomes a native ``MERGE INTO``;
  plain parquet needs partition-overwrite. Partition facts by a
  time-derived column so a MERGE rewrites only touched partitions.
- ``insert_if_absent``: left-anti against *existing keys only* —
  never read old non-key columns; on parquet the key projection is a
  column-pruned scan.
- ``cascade_delete``: child→parent write ordering preserved from the
  reference (FK safety is a consumer contract even without enforced
  FKs). ``pipeline.run_etl`` stages the four purged snapshots at once
  and keeps the order at the commits (pointer swaps), so a reader
  never sees a child row whose parent is already gone. The purge keys
  are a driver-held list filtered as literals (Spark's optimizer turns
  a long list into one hash-set lookup), so a purge is a scan per
  table with no broadcast job.
- ``add_surrogate_keys`` / ``first_per_key_with_ids``: a single global
  window serializes one stage; acceptable for per-batch deltas (10³-10⁶
  rows). For backfilling billions of rows use
  ``zipWithIndex``-style: per-partition counts → offset cumsum →
  partition-local id + offset, implemented in
  :func:`assign_dense_ids`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window


def upsert(target: DataFrame, source: DataFrame, keys: list[str]) -> DataFrame:
    """MERGE semantics (db_ops.py:62-93 `MERGE ... WHEN MATCHED UPDATE
    WHEN NOT MATCHED INSERT`): every source row wins; target rows
    without a source match survive unchanged."""
    cols = target.columns
    unmatched = target.join(F.broadcast(source.select(*keys)), keys, "left_anti")
    return source.select(*cols).unionByName(unmatched.select(*cols))


def insert_if_absent(
    new: DataFrame, existing_keys: DataFrame, keys: list[str]
) -> DataFrame:
    """Incremental-dedup gate (etl_pipeline_script.py:43-44,128-133):
    rows of ``new`` whose key is not already present."""
    return new.join(existing_keys.select(*keys), keys, "left_anti")


def cascade_delete(
    tables: dict[str, DataFrame], key: str, purge_keys: list
) -> dict[str, DataFrame]:
    """Purge the ``purge_keys`` values from every table that carries
    ``key`` (db_ops.py:53-59). Caller writes results child-first.

    The keys are driver-held literals, so each table is one filter (a
    null-safe NOT IN) and starts no broadcast job. A row whose key is
    NULL is kept, as the left-anti join against a key table keeps it;
    a NULL in ``purge_keys`` removes nothing."""
    out = {}
    for name, df in tables.items():
        if key in df.columns:
            # NULL (unknown) counts as no match, as in the anti-join
            hit = F.coalesce(F.col(key).isin(list(purge_keys)), F.lit(False))
            df = df.where(~hit)
        out[name] = df
    return out


def add_surrogate_keys(
    df: DataFrame, natural_key: list[str], id_col: str, start_at: int = 0
) -> DataFrame:
    """Deterministic dense ids ordered by the natural key — replaces
    SQL Server's ``INT IDENTITY(1,1)`` (db_creation_script.sql:87) +
    the re-read-the-mapping join (etl_pipeline_script.py:141-145).
    Deterministic unlike ``monotonically_increasing_id``; serializes
    one window — use for per-batch deltas, see module scale notes."""
    w = Window.orderBy(*natural_key)
    return df.withColumn(id_col, F.row_number().over(w) + F.lit(start_at))


def first_per_key_with_ids(
    df: DataFrame, key: str, id_col: str, start_at: int = 0
) -> DataFrame:
    """Natural-key dedup before write (SURVEY.md §1.3) and surrogate
    ids in one windowed pass: of the rows sharing ``key``, the one that
    sorts first by all its columns (in ``df.columns`` order) is kept, so
    only identical rows tie; the kept rows get dense ids in key order
    from ``start_at + 1``, as :func:`add_surrogate_keys` gives unique
    keys. Both windows order the one global partition, so the pass adds
    no exchange beyond :func:`add_surrogate_keys`' own."""
    by_key = Window.orderBy(key)
    by_row = Window.orderBy(key, *df.columns)
    return (
        df.select(
            "*",
            F.rank().over(by_key).alias("__first"),
            F.row_number().over(by_row).alias("__row"),
            (F.dense_rank().over(by_key) + F.lit(start_at)).alias(id_col),
        )
        .where(F.col("__row") == F.col("__first"))
        .drop("__first", "__row")
    )


def assign_dense_ids(df: DataFrame, id_col: str, start_at: int = 0) -> DataFrame:
    """Scale path for dense unique ids: zipWithIndex semantics without
    a global sort — per-partition offsets + in-partition positions,
    entirely JVM-side (no RDD round-trip, no Python rows, no window
    over the data).

    ``monotonically_increasing_id()`` encodes
    ``partition_id * 2^33 + row_position``, so the in-partition
    position is recovered arithmetically; the only shuffle moves one
    (partition_id, count) row per partition, and the offset map joins
    back as a broadcast. Ids are dense + unique but ordering is
    partition order (not a total key order); pair with a
    ``repartitionByRange(...).sortWithinPartitions(...)`` upstream
    when a sorted id space is wanted (then ids equal the global
    ``row_number`` over that key — see q58)."""
    tagged = df.select(
        "*",
        F.spark_partition_id().alias("__pid"),
        F.monotonically_increasing_id().alias("__mid"),
    )
    counts = tagged.groupBy("__pid").agg(F.count(F.lit(1)).alias("__n"))
    w = (
        Window.orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "__pid", F.coalesce(F.sum("__n").over(w), F.lit(0)).alias("__off")
    )
    pos = F.col("__mid") - F.col("__pid").cast("long") * F.lit(1 << 33)
    return (
        tagged.join(F.broadcast(offsets), "__pid")
        .withColumn(
            id_col,
            (F.col("__off") + pos + F.lit(1 + start_at)).cast("long"),
        )
        .select(*df.columns, id_col)
    )
