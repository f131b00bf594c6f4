"""Streaming incremental load — the Spark-native version of the
reference's twice-daily NOT-IN-gated batch (SURVEY.md §2.8).

The reference's semantics are already micro-batch: fetch last-30
matches, drop keys already in the DB, append
(/root/reference/etl_pipeline_script.py:128-137; the README even
notes a ~90-minute cadence would capture everything, README.md:125).
Structured Streaming gives the same thing with exactly-once state:

    file/Kafka source → withWatermark(battle_time)
        → dropDuplicates([match_key])          # stateful dedup gate
        → foreachBatch(insert-if-absent)       # replay-safe sink

Micro-batch layout
------------------
Every stream here starts through ONE runner (:func:`_run_batches`)
and lands through one of two replay-safe sinks, which carry the
replay-safety argument once each:

- :func:`_overwrite_batch_dir` — additive partials and unkeyed rows
  (count/sketch/feature partials, corpus routing);
- :func:`_append_absent` — keyed outputs (matches, PQ codes, DSIR
  scores, the near-dup corpus and index), gated by an anti-join
  against the sink's own landed keys.

The SCD-2 history and the change-capture state keep their own
hash-bucketed rewrite (:func:`_rewrite_affected_buckets`).

Scale notes
-----------
- ``dropDuplicates`` state is bounded by the watermark horizon —
  without a watermark the key state grows forever; the horizon should
  exceed the source's max replay window (30 matches ≈ hours-days).
- The streaming match load is NOT the batch load's code path:
  :func:`streaming_match_load` lands the flattened matches as they
  come out of ``flatten_matches`` — no ``match_view_id`` surrogate
  key, plain parquet outside ``pipeline.Lake`` — gated only by
  ``insert_if_absent`` on ``match_key``. ``pipeline.run_etl`` is the
  path that assigns ids and commits lake versions.
- Event-time windowed aggregates (:func:`windowed_event_counts`)
  emit append-mode finalized windows once the watermark passes.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.mutations import insert_if_absent
from ..sources.battlelog import PLAYER_BATTLELOG, flatten_matches


def _run_batches(stream: DataFrame, checkpoint: str, handle) -> StreamingQuery:
    """The module's one micro-batch runner: append output mode,
    ``handle(batch_df, batch_id)`` per micro-batch, progress in
    ``checkpoint``, ``availableNow`` (drain what has landed, then
    stop). A batch whose commit was not recorded (it failed, or the
    application stopped) re-runs with the SAME ``batch_id`` on restart, so
    every ``handle`` must land through a replay-safe sink."""
    return (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(handle)
        .trigger(availableNow=True)
        .start()
    )


def _overwrite_batch_dir(df: DataFrame, path: str, batch_id: int) -> None:
    """Replay-safe sink for additive partials and unkeyed rows: the
    batch OVERWRITES its own ``path/batch=<id>/`` directory. An
    insert-if-absent gate cannot serve these — a partial's key
    legitimately recurs across batches (counts add up) and a
    quarantined line has no key (two identical broken lines are two
    real rejects) — so a replay instead replaces its own rows rather
    than double-counting them, and a crash between two such writes of
    one batch heals on replay. Readers scan ``path`` and sum across
    batch dirs; the dir is hive-discovered as a ``batch`` column."""
    df.write.mode("overwrite").parquet(os.path.join(path, f"batch={batch_id}"))


def _stream_partials(
    stream: DataFrame, partials_path: str, checkpoint: str, partials
) -> StreamingQuery:
    """Run ``partials(batch_df)`` per micro-batch into
    :func:`_overwrite_batch_dir`."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        _overwrite_batch_dir(partials(batch_df), partials_path, batch_id)

    return _run_batches(stream, checkpoint, handle)


def _append_absent(df: DataFrame, path: str, keys: list[str]) -> None:
    """Replay-safe sink for keyed outputs: append the rows of ``df``
    whose key has not landed at ``path`` yet (``insert_if_absent``
    against the sink's OWN landed keys). A replayed batch appends
    only what did not land; a batch making two such writes (the
    near-dup corpus and index) that crashed between them completes
    only the missing one. The target is read through
    :func:`_read_parquet_if_present`: only a path holding no data
    files skips the gate.

    An append that crashed after some of its tasks committed leaves
    their files under ``path/_temporary/``, and the next append's job
    commit would merge every committed task there into the sink, past
    the gate — the crashed rows would land next to the replay's. So
    the sink first deletes a stale ``_temporary/`` (the clean-up the
    crashed job's abort would have done). That is safe only with one
    writer per sink, which one checkpointed stream per sink gives.

    A frame whose rows have all landed (a replay, or a source that
    re-sends landed keys) still appends one schema-only part file:
    an emptiness check would cost a driver-side job on every batch."""
    spark = df.sparkSession
    fs, jpath = _hadoop_path(spark, path)
    fs.delete(spark._jvm.org.apache.hadoop.fs.Path(jpath, "_temporary"), True)
    existing = _read_parquet_if_present(spark, path)
    if existing is not None:
        df = insert_if_absent(df, existing, keys)
    df.write.mode("append").parquet(path)


def _hadoop_path(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` for ``path`` — the same calls on local
    disk and object stores."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    return jpath.getFileSystem(conf), jpath


def _read_parquet_if_present(
    spark: SparkSession, path: str
) -> DataFrame | None:
    """The module's one missing-path rule: None ONLY when ``path``
    holds no data files — it does not exist, is empty, or holds only
    ``_``/``.``-prefixed entries (a crashed write's ``_temporary/``,
    ``_SUCCESS``). Every other failure — a corrupt footer, an IO or
    permission error — propagates and fails the batch: a swallowed
    error here would silently disable a correctness gate (duplicates
    land, or a replay double-ingests), not an optimization. The
    listing goes through :func:`_hadoop_path`."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException:
        fs, jpath = _hadoop_path(spark, path)
        if fs.exists(jpath) and any(
            not st.getPath().getName().startswith(("_", "."))
            for st in fs.listStatus(jpath)
        ):
            raise
        return None


def stream_battlelog_json(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream of landed battlelog JSON (swap for Kafka by
    changing only this reader — :func:`stream_battlelog_kafka`)."""
    from ..session import prepare

    prepare(spark)  # UTC match_key rendering on any session
    return spark.readStream.schema(PLAYER_BATTLELOG).json(path)


def parse_kafka_battlelog(records: DataFrame) -> DataFrame:
    """Decode Kafka-shaped records (binary ``value`` holding one
    battlelog JSON document per message) into the same
    ``PLAYER_BATTLELOG`` rows the file source emits — the
    source-independent half of :func:`stream_battlelog_kafka`, split
    out so its parsing is testable without a broker or the connector
    jar (a static DataFrame with a ``value`` column exercises the
    identical expressions). Malformed JSON yields null fields
    (``from_json`` semantics), matching the file source's PERMISSIVE
    default."""
    return records.select(
        F.from_json(F.col("value").cast("string"), PLAYER_BATTLELOG).alias(
            "__j"
        )
    ).select("__j.*")


def stream_battlelog_kafka(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Kafka twin of :func:`stream_battlelog_json`: same downstream
    pipeline (watermark → stateful dedup → idempotent foreachBatch),
    different reader — the production completion of the documented
    swap-one-reader seam. Requires the ``spark-sql-kafka`` connector
    on the classpath; absent (as in this sandbox), the ``.load()``
    raises and callers/tests skip.

    Scale: one Spark input partition per Kafka partition — size the
    topic's partition count to the ingest parallelism wanted;
    ``maxOffsetsPerTrigger`` bounds per-micro-batch volume."""
    from ..session import prepare

    prepare(spark)  # UTC match_key rendering on any session
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return parse_kafka_battlelog(raw)


def streaming_match_load(
    raw_stream: DataFrame,
    lake_matches_path: str,
    checkpoint: str,
    seasons: DataFrame | None = None,
    watermark: str = "2 hours",
) -> StreamingQuery:
    """Watermarked, stateful-deduped match ingestion, landed through
    the keyed sink (:func:`_append_absent` on ``match_key``). A lake
    whose files carry no ``match_key`` fails the batch; it is never
    read as a missing lake."""
    matches = (
        flatten_matches(raw_stream, seasons=seasons)
        .withWatermark("battle_time", watermark)
        .dropDuplicates(["match_key"])
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        _append_absent(batch_df, lake_matches_path, ["match_key"])

    return _run_batches(matches, checkpoint, write_batch)


def windowed_event_counts(
    event_stream: DataFrame,
    ts_col: str = "ts",
    window_len: str = "1 hour",
    slide: str | None = None,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Event-time tumbling/sliding windowed counts with late-data
    handling — append-mode finalized results."""
    win = (
        F.window(ts_col, window_len)
        if slide is None
        else F.window(ts_col, window_len, slide)
    )
    return (
        event_stream.withWatermark(ts_col, watermark)
        .groupBy(win.alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )


def sessionized_event_counts(
    event_stream: DataFrame,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Session windows (inactivity gap) — the streaming twin of the
    batch gaps-and-islands query (q29)."""
    return (
        event_stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def stream_stream_attribution_join(
    views: DataFrame,
    purchases: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    attribution_window: str = "1 hour",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Stream-stream inner join: attribute each purchase to the view
    by the same user within the preceding ``attribution_window``.

    The canonical two-stream shape (Spark SQL docs, stream-stream
    joins): BOTH sides carry a watermark and the join condition bounds
    event-time distance, so each side's state store retains only
    ``attribution_window + watermark`` of history — without the time
    bound, stream-stream join state grows forever.

    Scale: state is hash-partitioned by join key; a hot user key skews
    one state partition — salt the key upstream if a single key can
    exceed one executor's state budget.  Batch twin: q56's as-of join
    (latest-prior-record semantics over the same shape).
    """
    v = (
        views.select(
            F.col(key_col).alias("v_user"),
            F.col(ts_col).alias("view_ts"),
        )
        .withWatermark("view_ts", watermark)
    )
    p = (
        purchases.select(
            F.col(key_col).alias("p_user"),
            F.col(ts_col).alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return v.join(
        p,
        F.expr(
            f"""
            v_user = p_user AND
            purchase_ts >= view_ts AND
            purchase_ts <= view_ts + INTERVAL {attribution_window}
            """
        ),
        "inner",
    ).select(
        F.col("v_user").alias(key_col),
        "view_ts",
        "purchase_ts",
        "purchase_value",
    )


def stream_static_enrichment(
    events: DataFrame,
    dim: DataFrame,
    key_col: str = "user_id",
    how: str = "left",
) -> DataFrame:
    """Stream-static join: enrich a stream with a batch dimension —
    the streaming twin of the reference's fact→dim view joins
    (sql/db_creation_script.sql:185-205 joins rankings to players/
    clans).

    Stream-static joins are STATELESS: Spark re-plans the static side
    each micro-batch (so a lake dim updated by MERGE between batches
    is picked up), no watermark is needed, and the static side is
    broadcast when it fits ``autoBroadcastJoinThreshold`` — the right
    shape for a 100 TB stream against MB-scale dims. Inner and left
    joins are supported by the engine; right/full (which would need
    unbounded stream state) are rejected here explicitly."""
    if how not in ("inner", "left"):
        raise ValueError(
            "stream-static joins support inner/left only "
            "(right/full would need unbounded stream-side state)"
        )
    return events.join(dim, on=key_col, how=how)


def streaming_neardup_ingest(
    stream_docs: DataFrame,
    index_path: str,
    accepted_path: str,
    dup_log_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
):
    """Continuously-ingesting corpus curation: per micro-batch,
    near-dup-probe the persisted index, quarantine duplicates, land
    accepted documents AND their index rows, log the dup pairs
    (:func:`neardup_ingest_batch`).

    The streaming fusion of the reference's incremental anti-join
    gate (etl_pipeline_script.py:128-133) with the LLM-pipeline
    near-dup machinery (operators/dedup.py): the index a batch
    probes is exactly what previous batches appended, so the corpus
    stays near-dup-free as it grows.

    Returns the started StreamingQuery (availableNow-compatible)."""

    handle = functools.partial(
        neardup_ingest_batch,
        index_path=index_path,
        accepted_path=accepted_path,
        dup_log_path=dup_log_path,
        text_col=text_col,
        id_col=id_col,
        threshold=threshold,
    )
    return _run_batches(stream_docs, checkpoint, handle)


def neardup_ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    *,
    index_path: str,
    accepted_path: str,
    dup_log_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
) -> None:
    """One micro-batch of :func:`streaming_neardup_ingest`, exposed
    at module level so replay/crash scenarios are directly testable.

    Per batch (all bounded by batch size, never corpus size):
    1. within-batch LSH pairs → keep the min-id side of each pair;
    2. survivors probe the index (`incremental_neardup_pairs`); dup
       pairs land in a ``batch_id`` partition of the quarantine log
       by dynamic partition overwrite, so a replay rewrites its own
       partition instead of double-appending;
    3. accepted docs land in the corpus, then their index rows in
       the index, each through the keyed sink
       (:func:`_append_absent`). A doc whose index rows landed before
       a crash is not re-quarantined on replay: the index probe
       excludes self-pairs."""
    from ..operators.dedup import (
        build_neardup_index_frame,
        incremental_neardup_pairs,
        minhash_lsh_pairs,
    )

    batch = batch_df.localCheckpoint()
    if batch.isEmpty():
        return
    intra = minhash_lsh_pairs(batch, text_col, id_col, threshold=threshold)
    batch = batch.join(
        intra.select(F.col("doc_b").alias(id_col)).distinct(),
        id_col,
        "left_anti",
    )
    idx = _read_parquet_if_present(batch.sparkSession, index_path)
    if idx is not None:
        dups = incremental_neardup_pairs(
            batch, idx, text_col, id_col, threshold=threshold
        )
        batch = batch.join(
            dups.select(F.col("new_id").alias(id_col)).distinct(),
            id_col,
            "left_anti",
        )
        (
            dups.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(dup_log_path)
        )
    batch = batch.localCheckpoint()
    if batch.isEmpty():
        return
    _append_absent(batch, accepted_path, [id_col])
    _append_absent(
        build_neardup_index_frame(batch, text_col, id_col),
        index_path,
        [id_col],
    )


# ------------------------------------------------------------------ #
# streaming SCD-2 dimension maintenance                               #
# ------------------------------------------------------------------ #


def _rewrite_affected_buckets(
    state: DataFrame | None,
    payload: DataFrame,
    affected_keys: DataFrame,
    key_col: str,
    path: str,
    n_buckets: int,
    may_delete: bool = False,
) -> None:
    """Hash-bucketed upsert shared by the SCD-2 history and the CDC
    state: dynamic-partition-overwrite exactly the buckets containing
    ``affected_keys``, writing ``payload`` (the new rows for those
    keys) plus the untouched resident rows that share the buckets
    (dynamic overwrite replaces whole partitions, so they must ride
    along). ``state`` is the current table (None on first write);
    ``payload``'s column set defines the stored schema. Write
    amplification = touched buckets, never table size — both callers'
    layout contract lives HERE and only here.

    Deletions (keys in ``affected_keys`` but absent from ``payload``,
    the CDC tombstone path) have one physical subtlety: a bucket
    whose every row is deleted receives ZERO output rows, and dynamic
    overwrite never touches a partition it writes nothing to — the
    stale dir would silently survive. Callers whose delete set can
    empty a bucket pass ``may_delete=True``: the output is then
    checkpointed, emptied bucket dirs are detected (two bounded
    collects) and removed explicitly AFTER the commit (the
    non-destructive write first; a crash in between replays to the
    same classification, since the stale rows are still keyed to the
    same batch, and the replayed rewrite deletes them again —
    idempotent). The dir removal uses the local filesystem API; an
    object-store deployment swaps in its FS client here. Callers that
    structurally write ≥1 payload row per affected key (the SCD-2
    merge — even deletions leave a frontier marker) keep
    ``may_delete=False`` and skip both extra driver-blocking jobs on
    their hot per-batch path."""
    bucket = F.pmod(
        F.xxhash64(F.col(key_col).cast("string")), F.lit(n_buckets)
    )
    out = payload.withColumn("__bucket", bucket)
    emptied: list[int] = []
    if state is not None:
        bucket_ids = affected_keys.select(
            bucket.alias("__bucket")
        ).distinct()
        residents = (
            state.select(*payload.columns)
            .withColumn("__bucket", bucket)
            .join(F.broadcast(bucket_ids), "__bucket", "left_semi")
            .join(affected_keys.select(key_col), key_col, "left_anti")
        )
        out = out.unionByName(residents)
        if may_delete:
            # checkpoint: (1) the emptied-bucket scan below and the
            # write must see the same rows; (2) the write no longer
            # reads the very files it is overwriting. Small by
            # contract — affected buckets only.
            out = out.localCheckpoint(eager=True)
            written = {
                r["__bucket"]
                for r in out.select("__bucket").distinct().collect()
            }
            emptied = [
                r["__bucket"]
                for r in bucket_ids.collect()  # bounded: ≤ n_buckets
                if r["__bucket"] not in written
            ]
    (
        out.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__bucket")
        .parquet(path)
    )
    if emptied:
        import shutil

        for b in emptied:
            # A bucket directory that fails to delete would leave its
            # stale rows resurrectable (the dynamic overwrite above
            # only rewrites buckets present in `out`), and the replay
            # guard can't heal it until a later batch touches the same
            # keys — so a failure here must be VISIBLE, not swallowed.
            # Missing-dir is the one benign case (already gone).
            bpath = os.path.join(path, f"__bucket={b}")
            try:
                shutil.rmtree(bpath)
            except FileNotFoundError:
                pass
            except OSError as exc:
                raise OSError(
                    f"failed to remove emptied SCD-2 bucket {bpath}; "
                    "stale state rows would be resurrectable on the "
                    "next read — clean up the directory and re-run "
                    "the batch (writes are replay-idempotent)"
                ) from exc


def scd2_apply_batch(
    batch_df: DataFrame,
    history_path: str,
    key_col: str,
    value_col: str,
    ts_col: str,
    n_buckets: int = 64,
    delete_col: str | None = None,
) -> None:
    """Merge one micro-batch of change events into a persisted SCD-2
    interval table (schema: key, state, valid_from, valid_to NULL for
    current, plus ``last_ts`` — the absorbed-event frontier, carried
    ONLY on the key's frontier row — the open run, or the tombstone
    marker below; NULL on real closed rows; hash-bucketed layout).

    Invariant: applying a feed in TIME-PARTITIONED batches (each
    batch's events newer than every previously absorbed event per
    key — what a watermarked stream delivers) yields the same history
    as one-shot :func:`..operators.scd.scd2_intervals` over the
    concatenated feed (asserted in tests).

    Straggler policy + replay idempotency share one rule: events with
    ts ≤ the key's absorbed frontier (``last_ts``) are dropped. The
    frontier — not the run's valid_from — is the correct bound: a
    late event landing INSIDE the open run's already-absorbed span
    would otherwise recompute a history that silently erases the
    run's later extent (late-data beyond the frontier is the upstream
    watermark's job; corrections require an offline rebuild). After a
    successful apply every state-changing event satisfies the bound,
    so a foreachBatch replay recomputes identical rows and the
    dynamic partition overwrite rewrites the same bytes.

    ``delete_col`` (optional boolean column) marks DELETE events, the
    CDC-tombstone feed shape: a delete closes the key's open run at
    its ts without opening a new one (``scd2_intervals``'
    ``delete_col`` semantics). A key whose latest event is a delete
    keeps its frontier in a TOMBSTONE marker row — ``state NULL,
    valid_from = valid_to = last_ts = frontier`` — so stale replays
    stay dropped after the deletion; the empty interval matches no
    ``state_at`` lookup and run-boundary consumers can exclude it
    with ``valid_to IS DISTINCT FROM valid_from``. A later re-add
    replaces the marker with a fresh open run.

    Scale: history is hash-bucketed on the key; a batch rewrites only
    the buckets its keys live in (write amplification = touched
    buckets, not table size). All joins/windows are key-partitioned;
    the frontier seed adds one row per affected key."""
    from ..operators.scd import scd2_intervals

    spark = batch_df.sparkSession

    cols = [key_col, value_col, ts_col]
    if delete_col is not None:
        cols.append(delete_col)
    ev = batch_df.select(*cols)
    if delete_col is not None:
        ev = ev.withColumn(
            delete_col, F.coalesce(F.col(delete_col), F.lit(False))
        )
    ev = ev.localCheckpoint()
    if ev.isEmpty():
        return
    value_type = dict(ev.dtypes)[value_col]
    keys = ev.select(key_col).distinct()
    hist = _read_parquet_if_present(spark, history_path)

    if hist is not None:
        affected = hist.join(keys, key_col, "left_semi")
        # the frontier row per key: the open run, or (delete-aware
        # histories) the tombstone marker — exactly the rows where
        # last_ts is set
        frontier_rows = affected.where(F.col("last_ts").isNotNull())
        closed = affected.where(F.col("last_ts").isNull()).select(
            key_col, "state", "valid_from", "valid_to", "last_ts"
        )
        # frontier guard (replay idempotency + straggler policy)
        ev = (
            ev.join(
                frontier_rows.select(
                    key_col,
                    F.coalesce("last_ts", "valid_from").alias("__frontier"),
                ),
                key_col,
                "left",
            )
            .where(
                F.col("__frontier").isNull()
                | (F.col(ts_col) > F.col("__frontier"))
            )
            .drop("__frontier")
        )
        # seed each key's recompute with its frontier: the open run
        # as an upsert, a tombstone as a delete event at its ts
        open_seed = frontier_rows.where(F.col("valid_to").isNull()).select(
            F.col(key_col),
            F.col("state").alias(value_col),
            F.col("valid_from").alias(ts_col),
        )
        if delete_col is not None:
            open_seed = open_seed.withColumn(delete_col, F.lit(False))
            tomb_seed = frontier_rows.where(
                F.col("valid_to").isNotNull()
            ).select(
                F.col(key_col),
                F.lit(None).cast(value_type).alias(value_col),
                F.col("valid_from").alias(ts_col),
                F.lit(True).alias(delete_col),
            )
            seed = open_seed.unionByName(tomb_seed)
        else:
            seed = open_seed
        feed = ev.unionByName(seed)
        old_frontier = frontier_rows.select(
            key_col, F.coalesce("last_ts", "valid_from").alias("__old_f")
        )
    else:
        closed = None
        feed = ev
        old_frontier = None

    recomputed = scd2_intervals(
        feed, key_col, value_col, ts_col, delete_col=delete_col
    )
    # new absorbed frontier per key = max(surviving event ts, old
    # frontier) — carried only on the open row; an all-stale batch
    # must NOT lower it (feed max would be the seed's valid_from)
    fmax = feed.groupBy(key_col).agg(F.max(ts_col).alias("__fmax"))
    if old_frontier is not None:
        fmax = (
            fmax.join(old_frontier, key_col, "left")
            .select(
                key_col,
                F.greatest(
                    "__fmax", F.coalesce("__old_f", "__fmax")
                ).alias("__fmax"),
            )
        )
    recomputed = (
        recomputed.join(fmax, key_col, "left")
        .withColumn(
            "last_ts",
            F.when(F.col("valid_to").isNull(), F.col("__fmax")),
        )
        .drop("__fmax")
    )
    new_affected = (
        recomputed
        if closed is None
        else closed.unionByName(recomputed)
    )
    if delete_col is not None:
        # keys left with NO open run (latest event was a delete, or a
        # deleted key touched only by stale replays) keep their
        # frontier in a tombstone marker row
        open_keys = recomputed.where(F.col("valid_to").isNull()).select(
            key_col
        )
        tombs = (
            fmax.join(open_keys, key_col, "left_anti")
            .select(
                F.col(key_col),
                F.lit(None).cast(value_type).alias("state"),
                F.col("__fmax").alias("valid_from"),
                F.col("__fmax").alias("valid_to"),
                F.col("__fmax").alias("last_ts"),
            )
        )
        new_affected = new_affected.unionByName(tombs)
    elif hist is not None:
        # An upsert-only apply over a DELETE-AWARE history must not
        # drop another caller's tombstone markers: a marker whose key
        # saw only stale (frontier-guarded) events would otherwise
        # vanish from the rewrite — its key is affected (in `keys`),
        # its row sits in frontier_rows (so not in `closed`), and
        # nothing re-emits it — silently re-opening the key to old
        # replays. Keep each surviving marker unless this batch
        # re-added its key (a fresh open run replaces it).
        markers = frontier_rows.where(F.col("valid_to").isNotNull())
        keep = markers.join(
            recomputed.where(F.col("valid_to").isNull()).select(key_col),
            key_col,
            "left_anti",
        ).select(key_col, "state", "valid_from", "valid_to", "last_ts")
        new_affected = new_affected.unionByName(keep)
    _rewrite_affected_buckets(
        hist,
        new_affected.select(
            key_col, "state", "valid_from", "valid_to", "last_ts"
        ),
        keys,
        key_col,
        history_path,
        n_buckets,
    )


def streaming_scd2_ingest(
    change_stream: DataFrame,
    history_path: str,
    checkpoint: str,
    key_col: str,
    value_col: str,
    ts_col: str,
    watermark: str = "2 hours",
    delete_col: str | None = None,
) -> StreamingQuery:
    """Continuously-maintained SCD-2 dimension: watermarked change
    stream → per-batch run merge (:func:`scd2_apply_batch`). The
    history table this keeps current is exactly what the as-of join
    (operators/rangejoin.py) consumes as its dimension side.
    ``delete_col`` (optional boolean column in the feed) flows
    through to the batch merge's tombstone handling."""
    # dedup includes the value column: two same-timestamp events with
    # DIFFERENT values are a genuine tie that scd2_intervals resolves
    # with its deterministic value tiebreak — dropping one of them
    # here (key+ts only) would make the history depend on arrival
    # order (the delete flag joins the key for the same reason)
    dedup_cols = [key_col, ts_col, value_col]
    if delete_col is not None:
        dedup_cols.append(delete_col)
    deduped = change_stream.withWatermark(ts_col, watermark).dropDuplicates(
        dedup_cols
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        scd2_apply_batch(
            batch_df, history_path, key_col, value_col, ts_col,
            delete_col=delete_col,
        )

    return _run_batches(deduped, checkpoint, write_batch)


def change_capture_batch(
    batch_df: DataFrame,
    batch_id: int,
    *,
    state_path: str,
    changes_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
    tombstones: DataFrame | None = None,
) -> None:
    """One micro-batch of :func:`streaming_change_capture`: classify
    every row against the persisted (id, content-hash) state —
    ``added`` (unseen id) or ``changed`` (hash differs) — emit the
    change rows, then upsert the state. Unchanged rows emit nothing.

    The streaming twin of q96's snapshot diff, without ever
    re-reading either full snapshot: state is hash-bucketed on the
    id, a batch rewrites only the buckets its CHANGED ids live in
    (same layout/write-amplification contract as
    :func:`scd2_apply_batch`).

    ``tombstones`` (optional, id rows) is the deletion feed an
    upsert stream cannot express on its own (absence from a batch is
    not deletion): each tombstoned id PRESENT in state emits a
    ``removed`` change row (carrying the last stored hash) and its
    state row is deleted through the same bucketed rewrite (in the
    delete set, not the payload). A tombstone for an unknown id is a
    no-op; an id both upserted and tombstoned in one batch resolves
    to REMOVED (the tombstone wins — deterministic, so replay can't
    flip it). Without a tombstone feed, removals fall back to the
    offline q96 diff.

    Replay idempotency (changes land BEFORE state, both guarded):
    - crash before the state write → replay reclassifies against the
      unchanged state and dynamic-overwrites the same per-batch
      changes partition with identical bytes (tombstoned ids are
      still in state, so `removed` rows reproduce too), then writes
      state;
    - crash after the state write is impossible here (state is the
      last action), but a FULL replay after success re-classifies
      every row as unchanged — and every tombstoned id as unknown —
      so the per-batch changes partition overwrite has nothing to
      rewrite (dynamic mode leaves the landed partition intact) and
      the state rewrite recomputes identical buckets.

    The state is read through :func:`_read_parquet_if_present`'s
    missing-path rule."""
    spark = batch_df.sparkSession

    # one row per id per batch (an upsert stream's contract; ties
    # resolve deterministically on the hash so replay can't flip).
    # NULL text hashes to NULL — kept null-SAFE below so a doc whose
    # text becomes (or starts) NULL still classifies correctly.
    batch = (
        batch_df.select(
            F.col(id_col), F.md5(F.col(text_col)).alias("content_hash")
        )
        .groupBy(id_col)
        .agg(F.max("content_hash").alias("content_hash"))
        .localCheckpoint()
    )
    tomb = None
    if tombstones is not None:
        tomb = tombstones.select(F.col(id_col)).distinct().localCheckpoint()
        if tomb.isEmpty():
            tomb = None
        else:
            # in-batch conflict rule: the tombstone wins
            batch = batch.join(tomb, id_col, "left_anti")
    if batch.isEmpty() and tomb is None:
        return
    state = _read_parquet_if_present(spark, state_path)

    if state is not None:
        # membership marker column — NOT hash nullness: a stored NULL
        # hash is a real state row, so 'added' must key off the join
        # marker and 'changed' off a null-safe hash comparison
        prev = state.select(
            F.col(id_col),
            F.col("content_hash").alias("__prev"),
            F.lit(True).alias("__seen"),
        )
        classified = (
            batch.join(prev, id_col, "left")
            .withColumn(
                "status",
                F.when(F.col("__seen").isNull(), F.lit("added")).when(
                    ~F.col("__prev").eqNullSafe(F.col("content_hash")),
                    F.lit("changed"),
                ),
            )
            .where(F.col("status").isNotNull())
            .select(id_col, "content_hash", "status")
        )
    else:
        classified = batch.select(
            id_col, "content_hash", F.lit("added").alias("status")
        )
    if tomb is not None and state is not None:
        # removals: tombstoned ids that exist in state; the emitted
        # row carries the LAST STORED hash (the content being
        # removed) — ids unknown to state emit nothing
        removed = state.join(tomb, id_col, "left_semi").select(
            F.col(id_col),
            F.col("content_hash"),
            F.lit("removed").alias("status"),
        )
        classified = classified.unionByName(removed)
    # freeze the classification: both writes below must see the SAME
    # rows even though the second one mutates the state they derive
    # from
    classified = classified.localCheckpoint(eager=True)

    (
        classified.withColumn("__batch", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__batch")
        .parquet(changes_path)
    )

    _rewrite_affected_buckets(
        state,
        # removed ids are in the delete set (affected_keys) but NOT
        # the payload — the bucketed rewrite drops their state rows
        classified.where(F.col("status") != "removed").select(
            id_col, "content_hash"
        ),
        classified.select(id_col),
        id_col,
        state_path,
        n_buckets,
        may_delete=tomb is not None,
    )


def streaming_change_capture(
    stream_docs: DataFrame,
    state_path: str,
    changes_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    op_col: str | None = None,
):
    """Continuous change-data-capture over an upserting document
    stream: per micro-batch, emit (id, content_hash, status ∈
    added|changed|removed) against the persisted content-hash state
    and upsert the state (:func:`change_capture_batch`). Returns the
    started StreamingQuery (availableNow-compatible).

    ``op_col`` names an optional operation column in the feed (the
    Debezium-style shape a real CDC source emits): rows whose op is
    the literal ``'delete'`` become the batch's tombstone feed (ids
    only, text ignored); every other row — any other op value or
    NULL — is an upsert. Without ``op_col`` the stream is pure
    upserts and ``removed`` stays unobservable (offline q96 diff is
    the fallback)."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        tomb = None
        docs = batch_df
        if op_col is not None:
            tomb = batch_df.where(F.col(op_col) == "delete").select(id_col)
            docs = batch_df.where(
                F.col(op_col).isNull() | (F.col(op_col) != "delete")
            )
        change_capture_batch(
            docs,
            batch_id,
            state_path=state_path,
            changes_path=changes_path,
            id_col=id_col,
            text_col=text_col,
            tombstones=tomb,
        )

    return _run_batches(stream_docs, checkpoint, handle)


def streaming_pq_index_append(
    stream_vecs: DataFrame,
    codebooks_path: str,
    codes_path: str,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> StreamingQuery:
    """Index maintenance for the PQ/IVF-PQ serving stack
    (operators/pq.py): continuously encode arriving vectors against
    the PERSISTED codebooks and append their codes to the codes lake
    through the keyed sink (:func:`_append_absent` on the id).
    Codebooks retrain offline and rarely (a quantizer is stable under
    corpus growth); codes stay fresh per micro-batch — the same
    build-rarely/serve-continuously split as the near-dup index
    ingest (:func:`streaming_neardup_ingest`).

    The codebooks re-read per batch, so an offline retrain is picked
    up at the next micro-batch without restarting the stream; a
    missing CODEBOOKS path aborts the batch — encoding against
    nothing is not a recoverable state."""
    from ..operators.pq import pq_encode

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        books = batch_df.sparkSession.read.parquet(codebooks_path)
        _append_absent(
            pq_encode(batch_df, books, id_col, vec_col), codes_path, [id_col]
        )

    return _run_batches(stream_vecs, checkpoint, handle)


def streaming_daily_count_partials(
    event_stream: DataFrame,
    partials_path: str,
    checkpoint: str,
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> StreamingQuery:
    """Continuous maintenance of the q137 anomaly tripwire's input:
    per-micro-batch (event_type, day) count PARTIALS, landed through
    :func:`_overwrite_batch_dir`; the serving aggregate
    (:func:`daily_anomaly_snapshot`) sums partials across batch dirs.
    This is the map-side-combine shape pushed into the stream: the
    state per batch is |types|·|days touched| rows, never raw
    events."""

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.col(type_col).alias("event_type"), F.to_date(ts_col).alias("d")
        ).agg(F.count(F.lit(1)).alias("c"))

    return _stream_partials(event_stream, partials_path, checkpoint, partials)


def daily_anomaly_snapshot(
    spark: SparkSession, partials_path: str, z_threshold: int = 2
) -> DataFrame:
    """The q137 anomaly report served from streamed count partials:
    sum the per-batch (event_type, day) partials, then apply the
    same exact-BIGINT |z| gate — (n·c − s)² > z²·(n·q − s²) — and
    report z from one IEEE sqrt + division. Column-for-column the
    batch query's twin (asserted in tests), so a migration from
    batch recompute to streaming maintenance changes no consumer —
    the gate IS the batch query's implementation
    (operators/groupstats.py:daily_count_anomaly), not a copy."""
    from ..operators.groupstats import daily_count_anomaly

    part = spark.read.parquet(partials_path)
    daily = part.groupBy("event_type", "d").agg(F.sum("c").alias("c"))
    return daily_count_anomaly(daily, z_threshold=z_threshold)


def _corpus_ingest(
    spark: SparkSession,
    path: str,
    schema,
    required: tuple[str, ...],
    max_files_per_trigger: int | None,
    parse,
    split,
    clean_path: str,
    quarantine_path: str,
    checkpoint: str,
) -> StreamingQuery:
    """The body shared by the JSONL and CSV corpus ingests: text
    lines → ``parse`` → per micro-batch ``split`` into (clean,
    quarantine), each landed through :func:`_overwrite_batch_dir`.
    Both sinks fork from one materialization — unpersisted, each
    write would re-read and re-parse the batch's files."""
    from ..sources.jsonl import check_required

    # fail BEFORE .start(): a bad required name inside the first
    # micro-batch would surface as a StreamingQueryException with
    # the checkpoint already created
    check_required(schema, required)
    if "batch" in schema.fieldNames():
        raise ValueError(
            "schema field 'batch' collides with the sink's batch=<id> "
            "partition directories (hive discovery would see a "
            "duplicate column) — rename it"
        )
    reader = spark.readStream
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            clean, quar = split(batch_df)
            _overwrite_batch_dir(clean, clean_path, batch_id)
            _overwrite_batch_dir(quar, quarantine_path, batch_id)
        finally:
            batch_df.unpersist()

    return _run_batches(parse(reader.text(path)), checkpoint, handle)


def streaming_jsonl_corpus_ingest(
    spark: SparkSession,
    path: str,
    schema,
    clean_path: str,
    quarantine_path: str,
    checkpoint: str,
    required: tuple[str, ...] = (),
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Continuous JSONL corpus landing with quarantine routing — the
    streaming twin of :func:`sources.jsonl.read_jsonl_corpus`: as
    corpus dump files arrive, every line is routed to the clean lake
    or the quarantine feed with a machine-readable reason. The
    routing IS the batch loader's (:func:`sources.jsonl.split_jsonl`
    applied per micro-batch), so batch backfills and the live stream
    accept/reject identical lines by construction. Both outputs land
    through :func:`_overwrite_batch_dir`, so a schema field named
    ``batch`` is rejected before the stream starts."""
    from ..sources.jsonl import parse_lines, split_jsonl

    return _corpus_ingest(
        spark,
        path,
        schema,
        required,
        max_files_per_trigger,
        lambda text: parse_lines(text, schema),
        lambda batch_df: split_jsonl(batch_df, schema, required),
        clean_path,
        quarantine_path,
        checkpoint,
    )


def streaming_dsir_feature_partials(
    doc_stream: DataFrame,
    partials_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    buckets: int = 256,
) -> StreamingQuery:
    """Continuous maintenance of the DSIR importance model's input
    (operators/importance.py — the q172 kernels): per micro-batch,
    the (f, rc, tc) hashed-bigram feature-count PARTIALS of the
    arriving documents, landed through :func:`_overwrite_batch_dir`.
    Per-batch state is ``buckets`` rows, never documents."""
    from ..operators.importance import (
        bigram_feature_counts,
        per_feature_counts,
    )

    def partials(df: DataFrame) -> DataFrame:
        counts = bigram_feature_counts(
            df, text_col, id_col, lang_col, buckets
        )
        return per_feature_counts(counts, lang_col)

    return _stream_partials(doc_stream, partials_path, checkpoint, partials)


def dsir_lambda_snapshot(
    spark: SparkSession, partials_path: str, buckets: int = 256
) -> DataFrame:
    """The (f, lam5) importance model served from streamed feature
    partials: sum the per-batch (f, rc, tc) partials — additive by
    construction — then apply the SAME pinned-integer lambda kernel
    as the batch query (operators/importance.py:lambda_table, not a
    copy), so a corpus ingested in any micro-batch slicing yields
    the bit-identical model the batch recompute would (asserted in
    tests). The 'retrain' of the build-rarely/serve-continuously
    split: cheap (``buckets``-row input), run on whatever cadence
    drift tolerance allows."""
    from ..operators.importance import lambda_table

    part = spark.read.parquet(partials_path)
    per_f = part.groupBy("f").agg(
        F.sum("rc").alias("rc"), F.sum("tc").alias("tc")
    )
    return lambda_table(per_f, buckets)


def streaming_dsir_score_append(
    doc_stream: DataFrame,
    lambda_path: str,
    scores_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    buckets: int = 256,
) -> StreamingQuery:
    """Serve side of the DSIR split: score arriving documents
    against the PERSISTED lambda model and append (doc_id, n_grams,
    dsir_score) to the scores lake through the keyed sink
    (:func:`_append_absent` on the doc id) — the importance weights a
    downstream resampler consumes. The model re-reads per batch, so
    a lambda refresh (dsir_lambda_snapshot written to
    ``lambda_path``) is picked up at the next micro-batch without a
    stream restart — exactly the PQ-codebook posture
    (:func:`streaming_pq_index_append`); a missing MODEL aborts the
    batch — scoring against nothing is not a recoverable state."""
    from ..operators.importance import bigram_feature_counts, dsir_scores

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        lam = batch_df.sparkSession.read.parquet(lambda_path)
        docf = bigram_feature_counts(
            batch_df, text_col, id_col, lang_col, buckets
        )
        _append_absent(dsir_scores(docf, lam, id_col), scores_path, [id_col])

    return _run_batches(doc_stream, checkpoint, handle)


def streaming_value_count_partials(
    stream: DataFrame,
    partials_path: str,
    checkpoint: str,
    val_col: str,
) -> StreamingQuery:
    """Continuous maintenance of a drift monitor's live side
    (operators/drift.py): per micro-batch, the (v, c) value-count
    PARTIALS of the arriving rows, landed through
    :func:`_overwrite_batch_dir`. Per-batch state is bounded by the
    batch's value cardinality, never its row count."""
    from ..operators.drift import value_counts

    return _stream_partials(
        stream, partials_path, checkpoint, lambda df: value_counts(df, val_col)
    )


def _live_counts(spark: SparkSession, partials_path: str) -> DataFrame:
    """The live (v, c) count table every drift/DP snapshot reads:
    the streamed value-count partials summed per value — additive,
    so the same under any micro-batch slicing."""
    return (
        spark.read.parquet(partials_path)
        .groupBy("v")
        .agg(F.sum("c").alias("c"))
    )


def ks_drift_snapshot(
    spark: SparkSession, reference_path: str, partials_path: str
) -> DataFrame:
    """The drift verdict served from streamed partials: run the SAME
    exact-BIGINT KS kernel as the batch q177 on the live counts
    (:func:`_live_counts`) against the frozen reference count table
    at ``reference_path`` (written once when the reference snapshot
    was blessed). One row (n1, n2, ks_num, ks_stat); bit-identical to
    a batch recompute over the same rows regardless of micro-batch
    slicing (asserted in tests). Alert on ks_stat crossing the
    critical value for (n1, n2) — that policy stays with the
    caller."""
    from ..operators.drift import ks_from_counts

    return ks_from_counts(
        spark.read.parquet(reference_path), _live_counts(spark, partials_path)
    )


def psi_drift_snapshot(
    spark: SparkSession,
    reference_path: str,
    partials_path: str,
    bins: int = 10,
) -> DataFrame:
    """PSI verdict from the SAME live counts the KS snapshot reads
    (one partials lake serves every drift statistic): the shared
    quantile-binned PSI kernel against the frozen reference counts.
    Per-bin rows localize WHICH reference deciles gained or lost
    mass; the last bin's psi_cum is the PSI (q182's batch
    contract, bit-identical under any micro-batch slicing)."""
    from ..operators.drift import psi_from_counts

    return psi_from_counts(
        spark.read.parquet(reference_path),
        _live_counts(spark, partials_path),
        bins,
    )


def kl_drift_snapshot(
    spark: SparkSession, reference_path: str, partials_path: str
) -> DataFrame:
    """KL(live ‖ ref) served from the SAME live counts the KS/PSI
    snapshots read: the shared pinned-integer KL kernel against the
    frozen reference counts — the categorical/token-distribution
    verdict (q192's batch contract; for a token monitor the producer
    simply streams explode(split(text)) through
    streaming_value_count_partials). Bit-identical to the batch
    recompute under any micro-batch slicing — additive counts into a
    kernel whose only float op is one final division."""
    from ..operators.drift import kl_from_counts

    return kl_from_counts(
        spark.read.parquet(reference_path), _live_counts(spark, partials_path)
    )


def streaming_cms_partials(
    stream: DataFrame,
    partials_path: str,
    checkpoint: str,
    key_col: str,
    depth: int = 5,
    width: int = 16384,
    weight_col: str | None = None,
) -> StreamingQuery:
    """Continuous count-min sketch maintenance: per micro-batch, the
    batch's (d, b, c) cell-table partial (operators/sketches.py:
    cms_partials) landed through :func:`_overwrite_batch_dir` (cell
    counts are additive, so partials from any micro-batch slicing
    sum to the batch-built sketch). Per-batch state is bounded by
    min(depth·width, batch rows), never the key cardinality —
    which is the whole point of the sketch at 10⁹⁺ keys."""
    from ..operators.sketches import cms_partials

    return _stream_partials(
        stream,
        partials_path,
        checkpoint,
        lambda df: cms_partials(df, key_col, depth, width, weight_col),
    )


def cms_snapshot(spark: SparkSession, partials_path: str) -> DataFrame:
    """The merged sketch served from streamed cell partials: one
    cell-wise re-aggregate — cheap (≤ depth·width·batches rows) —
    yielding a table identical to a batch cms_partials over the
    same rows (asserted in tests). Feed it to cms_estimate /
    the cms_topk candidate probe unchanged."""
    return (
        spark.read.parquet(partials_path)
        .groupBy("d", "b")
        .agg(F.sum("c").alias("c"))
    )


def streaming_csv_corpus_ingest(
    spark: SparkSession,
    path: str,
    schema,
    clean_path: str,
    quarantine_path: str,
    checkpoint: str,
    required: tuple[str, ...] = (),
    sep: str = ",",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Continuous CSV corpus landing — the streaming twin of
    :func:`sources.csvfile.read_csv_corpus`, with the exact
    contract of :func:`streaming_jsonl_corpus_ingest` (one shared
    body, :func:`_corpus_ingest`); only the parser and reason
    taxonomy differ, and both of those live in the shared batch
    module so the stream cannot drift from backfills."""
    from ..sources.csvfile import parse_csv_lines, split_csv

    return _corpus_ingest(
        spark,
        path,
        schema,
        required,
        max_files_per_trigger,
        lambda text: parse_csv_lines(text, schema, sep),
        lambda batch_df: split_csv(batch_df, schema, required, sep),
        clean_path,
        quarantine_path,
        checkpoint,
    )


def dp_release_snapshot(
    spark: SparkSession,
    partials_path: str,
    epsilon: float = 0.5,
    seed: str = "dp-v1",
) -> DataFrame:
    """The ε-DP noisy count release served from STREAMED value-count
    partials (the q212-q214 partials-lake posture applied to the
    privacy plane): the live counts (:func:`_live_counts`) are the
    exact per-group counts; apply the SAME seeded Laplace mechanism
    as the batch release (operators/sampling.laplace_ln5: md5-lottery
    deviate keyed on seed+group, 1e-5-pinned inverse-CDF ln). Because
    the noise is a pure function of (seed, group), the streaming
    release is BIT-IDENTICAL to a batch recompute over the same rows
    — the exact property a privacy audit needs (re-slicing the
    stream must not re-roll the noise, or repeated snapshots would
    average it away). Output matches q230: (source, n_true,
    noisy_n)."""
    from ..operators.sampling import laplace_ln5

    b = 1.0 / float(epsilon)
    agg = _live_counts(spark, partials_path).select(
        F.col("v").alias("source"), F.col("c").cast("bigint").alias("n_true")
    )
    cdev, ln5 = laplace_ln5(F.col("source"), seed)
    noise = F.round(
        -F.signum(cdev) * F.lit(b) * ln5.cast("double") / F.lit(100000.0)
    ).cast("bigint")
    return agg.select(
        "source", "n_true", (F.col("n_true") + noise).alias("noisy_n")
    )


def streaming_url_domain_partials(
    doc_stream: DataFrame,
    partials_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> StreamingQuery:
    """Continuous maintenance of the q258 URL→domain census input:
    per-micro-batch (doc, registrable domain) URL-count partials
    (``textstats.url_doc_domains`` applied per batch — the SAME
    extraction chain as the batch census, so stream and backfill
    agree by construction), landed through
    :func:`_overwrite_batch_dir`. ``n_urls`` is additive and each
    document arrives once in an append stream, so the per-doc grain
    unions into the exact census. Per-batch state is |docs in
    batch|·|domains per doc| rows, never raw text."""
    from ..operators.textstats import url_doc_domains

    return _stream_partials(
        doc_stream,
        partials_path,
        checkpoint,
        lambda df: url_doc_domains(df, text_col, id_col),
    )


def url_domain_snapshot(
    spark: SparkSession, partials_path: str, id_col: str = "doc_id"
) -> DataFrame:
    """The q258 census served from streamed per-doc partials: sum
    URL counts and count distinct documents per domain across batch
    directories — column-for-column the batch
    ``url_domain_census`` (asserted in tests), so migrating the
    census from batch recompute to streaming maintenance changes no
    consumer."""
    part = spark.read.parquet(partials_path)
    return part.groupBy("domain").agg(
        F.sum("n_urls").cast("long").alias("n_urls"),
        F.countDistinct(F.col(id_col)).cast("long").alias("n_docs"),
    )
