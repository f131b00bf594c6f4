"""Structured Streaming: watermarked stateful dedup + idempotent
foreachBatch sink, windowed/sessionized aggregates — the §2.8
re-expression of the reference's incremental load."""

import os

from pyspark.sql import functions as F

from cr_data_pipeline_project_spark.streaming.incremental import (
    sessionized_event_counts,
    stream_battlelog_json,
    streaming_match_load,
    windowed_event_counts,
)

from helpers import battle, few_partitions, write_battlelog_json


def _run_stream(spark, src_dir, lake_dir, ckpt):
    with few_partitions(spark):
        q = streaming_match_load(
            stream_battlelog_json(spark, src_dir), lake_dir, ckpt
        )
        q.awaitTermination(120)


def test_streaming_dedup_across_batches(spark, tmp_path):
    src = os.path.join(str(tmp_path), "in")
    lake = os.path.join(str(tmp_path), "matches")
    ckpt = os.path.join(str(tmp_path), "ckpt")
    os.makedirs(src)

    write_battlelog_json(
        os.path.join(src, "b1.json"),
        [("#ME", [battle(), battle()])],  # in-batch duplicate
    )
    _run_stream(spark, src, lake, ckpt)
    assert spark.read.parquet(lake).count() == 1

    # second micro-batch: same battle again + a new one → only the
    # new one lands (checkpointed dedup state + anti-join sink)
    write_battlelog_json(
        os.path.join(src, "b2.json"),
        [("#ME", [battle(), battle(battle_time="20250113T120000.000Z")])],
    )
    _run_stream(spark, src, lake, ckpt)
    got = spark.read.parquet(lake)
    assert got.count() == 2
    assert got.select("match_key").distinct().count() == 2


def test_match_load_into_lake_without_match_key_fails(spark, tmp_path):
    """A lake whose parquet has no ``match_key`` is not a missing
    lake: the batch fails and nothing is appended past the gate."""
    import pytest
    from pyspark.errors import StreamingQueryException

    src = os.path.join(str(tmp_path), "in")
    lake = os.path.join(str(tmp_path), "matches")
    ckpt = os.path.join(str(tmp_path), "ckpt")
    os.makedirs(src)
    spark.range(3).write.parquet(lake)
    before = sorted(os.listdir(lake))

    write_battlelog_json(os.path.join(src, "b1.json"), [("#ME", [battle()])])
    with pytest.raises(StreamingQueryException, match="match_key"):
        _run_stream(spark, src, lake, ckpt)
    assert sorted(os.listdir(lake)) == before
    assert spark.read.parquet(lake).columns == ["id"]
    assert spark.read.parquet(lake).count() == 3


def test_windowed_event_counts_stream(spark, tmp_path):
    src = os.path.join(str(tmp_path), "events")
    os.makedirs(src)
    import json

    out_dir = os.path.join(str(tmp_path), "win_out")

    def run_batch():
        with few_partitions(spark):
            stream = spark.readStream.schema(
                "ts timestamp, event_type string"
            ).json(src)
            q = (
                windowed_event_counts(stream)
                .writeStream.format("parquet")
                .option("path", out_dir)
                .outputMode("append")
                .option("checkpointLocation", os.path.join(str(tmp_path), "ckpt_w"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

    with open(os.path.join(src, "e1.json"), "w") as f:
        for ts, et in [
            ("2024-01-01 00:10:00", "click"),
            ("2024-01-01 00:20:00", "click"),
            ("2024-01-01 01:05:00", "view"),
        ]:
            f.write(json.dumps({"ts": ts, "event_type": et}) + "\n")
    run_batch()  # advances the watermark to 00:35 (01:05 - 30m)

    with open(os.path.join(src, "e2.json"), "w") as f:
        f.write(json.dumps({"ts": "2024-01-01 02:00:00", "event_type": "view"}) + "\n")
    run_batch()  # batch 2 emits the now-finalized 00:00 window

    got = {
        (str(r["window_start"]), r["event_type"]): r["n"]
        for r in spark.read.parquet(out_dir).collect()
    }
    assert got.get(("2024-01-01 00:00:00", "click")) == 2


def test_sessionized_stream_builds(spark, tmp_path):
    """session_window streaming aggregation: plan must be streamable
    (state format support); executed with availableNow."""
    src = os.path.join(str(tmp_path), "sess")
    os.makedirs(src)
    import json

    with open(os.path.join(src, "e.json"), "w") as f:
        for minute in (0, 5, 50):
            f.write(
                json.dumps(
                    {"ts": f"2024-01-01 00:{minute:02d}:00", "user_id": 1}
                )
                + "\n"
            )
        f.write(json.dumps({"ts": "2024-01-01 03:00:00", "user_id": 2}) + "\n")
    with few_partitions(spark):
        stream = spark.readStream.schema("ts timestamp, user_id long").json(src)
        out = sessionized_event_counts(stream)
        q = (
            out.writeStream.format("memory")
            .queryName("sessions")
            .outputMode("append")
            .option("checkpointLocation", os.path.join(str(tmp_path), "ckpt_s"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    rows = spark.sql("select * from sessions where user_id = 1").collect()
    # events at :00/:05 merge into one session; :50 starts another
    assert {r["n_events"] for r in rows} == {2, 1}


def test_stream_stream_attribution_join(spark, tmp_path):
    """Two watermarked file streams, time-bounded inner join: the
    purchase within the window attributes, the late one doesn't."""
    import json

    from cr_data_pipeline_project_spark.streaming.incremental import (
        stream_stream_attribution_join,
    )

    vdir = os.path.join(str(tmp_path), "views")
    pdir = os.path.join(str(tmp_path), "purch")
    os.makedirs(vdir)
    os.makedirs(pdir)
    with open(os.path.join(vdir, "v.json"), "w") as f:
        f.write(json.dumps({"ts": "2024-01-01 10:00:00", "user_id": 1}) + "\n")
        f.write(json.dumps({"ts": "2024-01-01 10:00:00", "user_id": 2}) + "\n")
    with open(os.path.join(pdir, "p.json"), "w") as f:
        # u1 buys 30m after the view (inside 1h window); u2 buys 3h
        # later (outside) — only u1 attributes
        f.write(
            json.dumps(
                {"ts": "2024-01-01 10:30:00", "user_id": 1, "value": 9.5}
            )
            + "\n"
        )
        f.write(
            json.dumps(
                {"ts": "2024-01-01 13:00:00", "user_id": 2, "value": 1.0}
            )
            + "\n"
        )

    views = spark.readStream.schema("ts timestamp, user_id long").json(vdir)
    purchases = spark.readStream.schema(
        "ts timestamp, user_id long, value double"
    ).json(pdir)
    out = stream_stream_attribution_join(views, purchases)
    with few_partitions(spark):
        q = (
            out.writeStream.format("memory")
            .queryName("attrib")
            .outputMode("append")
            .option("checkpointLocation", os.path.join(str(tmp_path), "ckpt_j"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    rows = spark.sql("select * from attrib").collect()
    assert len(rows) == 1
    assert rows[0]["user_id"] == 1
    assert rows[0]["purchase_value"] == 9.5


def test_stream_static_enrichment(spark, tmp_path):
    """Stream-static join is stateless and re-reads the static side
    each micro-batch: a dim row updated between batches enriches the
    next batch with the NEW value."""
    import json

    from cr_data_pipeline_project_spark.streaming.incremental import (
        stream_static_enrichment,
    )

    src = os.path.join(str(tmp_path), "ev")
    dim_dir = os.path.join(str(tmp_path), "dim")
    out = os.path.join(str(tmp_path), "enriched")
    ckpt = os.path.join(str(tmp_path), "ckpt_e")
    os.makedirs(src)
    spark.createDataFrame(
        [(1, "bronze")], "user_id long, tier string"
    ).write.parquet(dim_dir)

    def run_batch():
        with few_partitions(spark):
            stream = spark.readStream.schema("ts timestamp, user_id long").json(src)
            dim = spark.read.parquet(dim_dir)
            q = (
                stream_static_enrichment(stream, dim)
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

    with open(os.path.join(src, "e1.json"), "w") as f:
        f.write(json.dumps({"ts": "2024-01-01 00:10:00", "user_id": 1}) + "\n")
    run_batch()
    # dim updated between batches -> next batch sees the new tier
    spark.createDataFrame(
        [(1, "gold")], "user_id long, tier string"
    ).write.mode("overwrite").parquet(dim_dir)
    with open(os.path.join(src, "e2.json"), "w") as f:
        f.write(json.dumps({"ts": "2024-01-01 00:20:00", "user_id": 1}) + "\n")
    run_batch()
    tiers = sorted(r["tier"] for r in spark.read.parquet(out).collect())
    assert tiers == ["bronze", "gold"]

    import pytest as _pytest

    with _pytest.raises(ValueError):
        stream_static_enrichment(
            spark.readStream.schema("ts timestamp, user_id long").json(src),
            spark.read.parquet(dim_dir),
            how="full",
        )


def test_streaming_neardup_ingest(spark, tmp_path):
    """Two micro-batches through the curation ingest: within-batch
    near-dups collapse, cross-batch near-dups quarantine against the
    growing index, fresh docs land with their index rows."""
    import json

    from cr_data_pipeline_project_spark.streaming.incremental import (
        streaming_neardup_ingest,
    )

    src = os.path.join(str(tmp_path), "docs_in")
    idx = os.path.join(str(tmp_path), "nd_index")
    acc = os.path.join(str(tmp_path), "accepted")
    dup = os.path.join(str(tmp_path), "dup_log")
    ckpt = os.path.join(str(tmp_path), "ckpt_nd")
    os.makedirs(src)

    base = " ".join(f"tok{i}" for i in range(40))
    other = " ".join(f"oth{i}" for i in range(40))
    fresh = " ".join(f"new{i}" for i in range(40))

    def run_batch():
        with few_partitions(spark):
            stream = spark.readStream.schema(
                "doc_id long, text string"
            ).json(src)
            q = streaming_neardup_ingest(stream, idx, acc, dup, ckpt)
            q.awaitTermination(180)

    with open(os.path.join(src, "b1.json"), "w") as f:
        f.write(json.dumps({"doc_id": 1, "text": base}) + "\n")
        f.write(json.dumps({"doc_id": 2, "text": other}) + "\n")
    run_batch()
    assert {r["doc_id"] for r in spark.read.parquet(acc).collect()} == {1, 2}

    with open(os.path.join(src, "b2.json"), "w") as f:
        # near-dup of doc 1 (cross-batch), a fresh doc, and a
        # within-batch near-dup of that fresh doc
        f.write(json.dumps({"doc_id": 10, "text": base + " tail"}) + "\n")
        f.write(json.dumps({"doc_id": 11, "text": fresh}) + "\n")
        f.write(json.dumps({"doc_id": 12, "text": fresh + " x"}) + "\n")
    run_batch()

    accepted = {r["doc_id"] for r in spark.read.parquet(acc).collect()}
    assert accepted == {1, 2, 11}  # 10 quarantined, 12 collapsed in-batch
    dups = {(r["new_id"], r["index_id"]) for r in spark.read.parquet(dup).collect()}
    assert (10, 1) in dups
    # the index grew by exactly the accepted docs
    assert {r["doc_id"] for r in spark.read.parquet(idx).collect()} == {1, 2, 11}


def _docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_neardup_ingest_corrupt_index_aborts(spark, tmp_path):
    """A corrupt (unreadable, non-missing) index must FAIL the batch,
    not silently skip near-dup probing and land duplicates — the
    round-3 verdict's 'What's wrong #2'. Only PATH_NOT_FOUND skips
    the gate (first batch)."""
    import pytest

    from cr_data_pipeline_project_spark.streaming.incremental import (
        neardup_ingest_batch,
    )

    idx = os.path.join(str(tmp_path), "nd_index")
    acc = os.path.join(str(tmp_path), "accepted")
    dup = os.path.join(str(tmp_path), "dup_log")
    os.makedirs(idx)
    with open(os.path.join(idx, "part-00000.parquet"), "w") as f:
        f.write("not a parquet footer")

    text = " ".join(f"tok{i}" for i in range(40))
    with few_partitions(spark):
        with pytest.raises(Exception, match="(?i)parquet|footer|FAILED_READ"):
            neardup_ingest_batch(
                _docs_df(spark, [(1, text)]),
                0,
                index_path=idx,
                accepted_path=acc,
                dup_log_path=dup,
            )
    # the batch aborted before any write
    assert not os.path.exists(acc)


def test_neardup_ingest_replay_completes_index(spark, tmp_path):
    """Crash between the accepted-docs append and the index append:
    on foreachBatch replay the landed docs must not double-ingest AND
    the missing index rows must still be written (advisor round 3 —
    the previous all-or-nothing replay guard skipped the index append
    forever, so future near-dups of those docs were admitted)."""
    from cr_data_pipeline_project_spark.streaming.incremental import (
        neardup_ingest_batch,
    )

    idx = os.path.join(str(tmp_path), "nd_index")
    acc = os.path.join(str(tmp_path), "accepted")
    dup = os.path.join(str(tmp_path), "dup_log")

    text = " ".join(f"tok{i}" for i in range(40))
    batch = _docs_df(spark, [(1, text)])
    with few_partitions(spark):
        # simulate the partial commit: docs landed, index write lost
        batch.write.parquet(acc)
        neardup_ingest_batch(
            batch, 0, index_path=idx, accepted_path=acc, dup_log_path=dup
        )
        assert spark.read.parquet(acc).count() == 1  # no double-ingest
        assert {r["doc_id"] for r in spark.read.parquet(idx).collect()} == {1}

        # and a near-dup in the NEXT batch is now caught by the index
        neardup_ingest_batch(
            _docs_df(spark, [(10, text + " tail")]),
            1,
            index_path=idx,
            accepted_path=acc,
            dup_log_path=dup,
        )
        assert {r["doc_id"] for r in spark.read.parquet(acc).collect()} == {1}
        pairs = {
            (r["new_id"], r["index_id"])
            for r in spark.read.parquet(dup).collect()
        }
        assert pairs == {(10, 1)}


def test_neardup_ingest_duplog_replay_idempotent(spark, tmp_path):
    """Replaying a micro-batch (same batch_id, as Spark does after a
    crash) must not double-append quarantine entries: the dup log is
    partitioned by batch_id and dynamically overwritten."""
    from cr_data_pipeline_project_spark.streaming.incremental import (
        neardup_ingest_batch,
    )

    idx = os.path.join(str(tmp_path), "nd_index")
    acc = os.path.join(str(tmp_path), "accepted")
    dup = os.path.join(str(tmp_path), "dup_log")

    base = " ".join(f"tok{i}" for i in range(40))
    fresh = " ".join(f"new{i}" for i in range(40))
    with few_partitions(spark):
        neardup_ingest_batch(
            _docs_df(spark, [(1, base)]),
            0,
            index_path=idx,
            accepted_path=acc,
            dup_log_path=dup,
        )
        b1 = _docs_df(spark, [(10, base + " tail"), (11, fresh)])
        for _ in range(2):  # second call = the replay
            neardup_ingest_batch(
                b1, 1, index_path=idx, accepted_path=acc, dup_log_path=dup
            )
        dups = [
            (r["new_id"], r["index_id"], r["batch_id"])
            for r in spark.read.parquet(dup).collect()
        ]
        assert dups == [(10, 1, 1)]  # exactly once, despite the replay
        accepted = [r["doc_id"] for r in spark.read.parquet(acc).collect()]
        assert sorted(accepted) == [1, 11]  # no double rows either
        assert {r["doc_id"] for r in spark.read.parquet(idx).collect()} == {1, 11}


def test_neardup_ingest_over_crashed_write_lands_rows(spark, tmp_path):
    """Keyed sinks whose directories hold only a crashed write's
    ``_temporary/0/`` hold no data: the batch completes and lands
    its rows instead of failing every retry on schema inference. The
    crashed write's committed task output (rows for the same ids)
    must not be merged into the sink by the replay's job commit: each
    id lands exactly once."""
    import glob
    import shutil

    from cr_data_pipeline_project_spark.operators.dedup import (
        build_neardup_index_frame,
    )
    from cr_data_pipeline_project_spark.streaming.incremental import (
        neardup_ingest_batch,
    )

    idx = os.path.join(str(tmp_path), "nd_index")
    acc = os.path.join(str(tmp_path), "accepted")
    dup = os.path.join(str(tmp_path), "dup_log")

    def crashed_append(df, path):
        # what an append that died after its task commit leaves behind
        staged = path + "_staged"
        df.coalesce(1).write.parquet(staged)
        task = os.path.join(
            path, "_temporary", "0", "task_202601010000_0000_m_000000"
        )
        os.makedirs(task)
        for part in glob.glob(os.path.join(staged, "part-*.parquet")):
            shutil.move(part, task)

    base = " ".join(f"tok{i}" for i in range(40))
    other = " ".join(f"oth{i}" for i in range(40))
    with few_partitions(spark):
        docs = _docs_df(spark, [(1, base), (2, other)])
        index_rows = build_neardup_index_frame(docs, "text", "doc_id")
        crashed_append(docs, acc)
        crashed_append(index_rows, idx)
        neardup_ingest_batch(
            docs, 0, index_path=idx, accepted_path=acc, dup_log_path=dup
        )
        landed = spark.read.parquet(acc).collect()
        assert sorted(r["doc_id"] for r in landed) == [1, 2]
        indexed = spark.read.parquet(idx).collect()
        assert sorted(r["doc_id"] for r in indexed) == sorted(
            r["doc_id"] for r in index_rows.collect()
        )


def test_read_parquet_if_present_missing_path_rule(spark, tmp_path):
    """None only for a path holding no data files (missing, empty,
    or only ``_``/``.``-prefixed entries); any other unreadable
    directory raises."""
    import pytest
    from pyspark.errors import AnalysisException

    from cr_data_pipeline_project_spark.streaming import incremental as inc

    def at(name):
        return os.path.join(str(tmp_path), name)

    os.makedirs(at("empty"))
    os.makedirs(os.path.join(at("crashed"), "_temporary", "0"))
    os.makedirs(at("markers"))
    for marker in ("_SUCCESS", ".part-0.crc"):
        open(os.path.join(at("markers"), marker), "w").close()
    for name in ("missing", "empty", "crashed", "markers"):
        assert inc._read_parquet_if_present(spark, at(name)) is None, name

    spark.range(2).write.parquet(at("data"))
    assert inc._read_parquet_if_present(spark, at("data")).count() == 2

    os.makedirs(os.path.join(at("unreadable"), "batch=0"))
    with pytest.raises(AnalysisException):
        inc._read_parquet_if_present(spark, at("unreadable"))


def test_incremental_has_one_runner_two_sinks_one_missing_path_rule():
    """``streaming/incremental.py`` starts every stream through one
    runner, writes every ``batch=<id>`` directory through one sink,
    and only the missing-path rule catches ``AnalysisException``."""
    import ast

    from cr_data_pipeline_project_spark.streaming import incremental as inc

    with open(inc.__file__) as f:
        src = f.read()
    tree = ast.parse(src)
    attrs = [n.attr for n in ast.walk(tree) if isinstance(n, ast.Attribute)]
    assert attrs.count("writeStream") == 1
    assert src.count(".foreachBatch(") == 1
    assert src.count('f"batch={batch_id}"') == 1

    broad = {"AnalysisException", "Exception", "BaseException", "PySparkException"}

    def catches(handler):
        if handler.type is None:
            return True
        names = {
            n.id if isinstance(n, ast.Name) else n.attr
            for n in ast.walk(handler.type)
            if isinstance(n, (ast.Name, ast.Attribute))
        }
        return bool(names & broad)

    sites = [
        fn.name
        for fn in tree.body
        if isinstance(fn, ast.FunctionDef)
        for node in ast.walk(fn)
        if isinstance(node, ast.ExceptHandler) and catches(node)
    ]
    module_level = [
        node
        for stmt in tree.body
        if not isinstance(stmt, ast.FunctionDef)
        for node in ast.walk(stmt)
        if isinstance(node, ast.ExceptHandler) and catches(node)
    ]
    assert sites == ["_read_parquet_if_present"] and not module_level


# ------------------------------------------------------------------ #
# streaming SCD-2 dimension maintenance                               #
# ------------------------------------------------------------------ #


def _scd_rows(spark, path):
    return sorted(
        (r.user_id, r.state, str(r.valid_from), r.valid_to and str(r.valid_to))
        for r in spark.read.parquet(path)
        .select("user_id", "state", "valid_from", "valid_to")
        .collect()
    )


def test_scd2_batch_split_invariant(spark, tmp_path):
    """Applying a change feed in two micro-batches must equal the
    one-shot scd2_intervals over the whole feed."""
    import json

    from cr_data_pipeline_project_spark.operators.scd import scd2_intervals
    from cr_data_pipeline_project_spark.streaming.incremental import (
        streaming_scd2_ingest,
    )

    events = [
        (1, "free", "2024-01-01T00:00:00"),
        (1, "free", "2024-01-02T00:00:00"),
        (1, "pro", "2024-01-03T00:00:00"),
        (2, "pro", "2024-01-01T12:00:00"),
        # --- batch boundary ---
        (1, "pro", "2024-01-04T00:00:00"),
        (1, "free", "2024-01-05T00:00:00"),
        (2, "free", "2024-01-06T00:00:00"),
        (3, "trial", "2024-01-04T06:00:00"),  # within batch-1 watermark horizon
    ]
    src = os.path.join(str(tmp_path), "in")
    hist = os.path.join(str(tmp_path), "hist")
    ckpt = os.path.join(str(tmp_path), "ckpt")
    os.makedirs(src)

    def land(name, rows):
        with open(os.path.join(src, name), "w") as f:
            for u, s, t in rows:
                f.write(json.dumps({"user_id": u, "state": s, "ts": t}) + "\n")

    def run():
        with few_partitions(spark):
            stream = spark.readStream.schema(
                "user_id long, state string, ts timestamp"
            ).json(src)
            q = streaming_scd2_ingest(
                stream, hist, ckpt, "user_id", "state", "ts"
            )
            q.awaitTermination(120)

    land("b0.json", events[:4])
    run()
    land("b1.json", events[4:])
    run()

    full = spark.createDataFrame(
        [(u, s, f"{t}") for u, s, t in events],
        "user_id long, state string, ts string",
    ).select("user_id", "state", F.col("ts").cast("timestamp").alias("ts"))
    want = sorted(
        (r.user_id, r.state, str(r.valid_from), r.valid_to and str(r.valid_to))
        for r in scd2_intervals(full, "user_id", "state", "ts").collect()
    )
    assert _scd_rows(spark, hist) == want


def test_scd2_replay_idempotent_and_stale_dropped(spark, tmp_path):
    from cr_data_pipeline_project_spark.streaming.incremental import (
        scd2_apply_batch,
    )

    hist = os.path.join(str(tmp_path), "hist")

    def batch(rows):
        return spark.createDataFrame(
            rows, "user_id long, state string, ts string"
        ).select(
            "user_id", "state", F.col("ts").cast("timestamp").alias("ts")
        )

    b1 = batch([(1, "free", "2024-01-01T00:00:00"), (1, "pro", "2024-01-03T00:00:00")])
    scd2_apply_batch(b1, hist, "user_id", "state", "ts")
    after_first = _scd_rows(spark, hist)
    # exact replay of the same batch → byte-identical history
    scd2_apply_batch(b1, hist, "user_id", "state", "ts")
    assert _scd_rows(spark, hist) == after_first
    # a straggler older than the open run's start is a documented no-op
    stale = batch([(1, "trial", "2024-01-02T00:00:00")])
    scd2_apply_batch(stale, hist, "user_id", "state", "ts")
    assert _scd_rows(spark, hist) == after_first


def test_scd2_inside_run_late_event_is_dropped(spark, tmp_path):
    """A late event landing INSIDE the open run's absorbed span must
    not rewrite history (frontier guard, not valid_from guard)."""
    from cr_data_pipeline_project_spark.streaming.incremental import (
        scd2_apply_batch,
    )

    hist = os.path.join(str(tmp_path), "hist")

    def batch(rows):
        return spark.createDataFrame(
            rows, "user_id long, state string, ts string"
        ).select(
            "user_id", "state", F.col("ts").cast("timestamp").alias("ts")
        )

    # run 'free' absorbed Jan1 AND Jan4 (no state change at Jan4,
    # but the frontier advances to Jan4)
    b1 = batch(
        [(1, "free", "2024-01-01T00:00:00"), (1, "free", "2024-01-04T00:00:00")]
    )
    scd2_apply_batch(b1, hist, "user_id", "state", "ts")
    before = _scd_rows(spark, hist)
    assert before == [(1, "free", "2024-01-01 00:00:00", None)]
    # Jan2 'pro' is > valid_from but ≤ the absorbed frontier (Jan4):
    # applying it would erase the run's later extent — must be a no-op
    late = batch([(1, "pro", "2024-01-02T00:00:00")])
    scd2_apply_batch(late, hist, "user_id", "state", "ts")
    assert _scd_rows(spark, hist) == before
    # and a genuinely-new event past the frontier still applies
    b2 = batch([(1, "pro", "2024-01-05T00:00:00")])
    scd2_apply_batch(b2, hist, "user_id", "state", "ts")
    assert _scd_rows(spark, hist) == [
        (1, "free", "2024-01-01 00:00:00", "2024-01-05 00:00:00"),
        (1, "pro", "2024-01-05 00:00:00", None),
    ]


def _cdc_state(spark, path):
    return sorted(
        (r[0], r[1])
        for r in spark.read.parquet(path).select("doc_id", "content_hash").collect()
    )


def _cdc_changes(spark, path):
    return sorted(
        (r["__batch"], r["doc_id"], r["status"])
        for r in spark.read.parquet(path).collect()
    )


def test_streaming_change_capture_classifies_batches(spark, tmp_path):
    """Two micro-batches through the CDC sink: batch 0 is all 'added';
    batch 1 re-sends one doc unchanged (emits nothing), edits one
    ('changed'), and introduces one ('added')."""
    import json

    from cr_data_pipeline_project_spark.streaming.incremental import (
        streaming_change_capture,
    )

    src = os.path.join(str(tmp_path), "in")
    state = os.path.join(str(tmp_path), "state")
    changes = os.path.join(str(tmp_path), "changes")
    ckpt = os.path.join(str(tmp_path), "ckpt")
    os.makedirs(src)

    def land(name, rows):
        with open(os.path.join(src, name), "w") as f:
            for d, t in rows:
                f.write(json.dumps({"doc_id": d, "text": t}) + "\n")

    def run():
        with few_partitions(spark):
            stream = spark.readStream.schema("doc_id long, text string").json(
                src
            )
            q = streaming_change_capture(stream, state, changes, ckpt)
            q.awaitTermination(120)

    land("b0.json", [(1, "alpha"), (2, "beta")])
    run()
    assert [c for _, c, _ in _cdc_changes(spark, changes)] == [1, 2]
    land("b1.json", [(1, "alpha"), (2, "beta v2"), (3, "gamma")])
    run()
    got = _cdc_changes(spark, changes)
    by_batch1 = sorted((d, s) for b, d, s in got if b == 1)
    assert by_batch1 == [(2, "changed"), (3, "added")]
    # state holds the latest hash per id, exactly one row per id
    assert [d for d, _ in _cdc_state(spark, state)] == [1, 2, 3]


def test_change_capture_replay_idempotent(spark, tmp_path):
    """A full foreachBatch replay after success must leave both sinks
    byte-identical: reclassification sees only unchanged rows, the
    per-batch changes partition is not rewritten, the state buckets
    recompute identical rows."""
    from cr_data_pipeline_project_spark.streaming.incremental import (
        change_capture_batch,
    )

    state = os.path.join(str(tmp_path), "state")
    changes = os.path.join(str(tmp_path), "changes")

    def batch(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    b0 = batch([(1, "alpha"), (2, "beta")])
    change_capture_batch(
        b0, 0, state_path=state, changes_path=changes
    )
    s0, c0 = _cdc_state(spark, state), _cdc_changes(spark, changes)
    change_capture_batch(  # replay
        b0, 0, state_path=state, changes_path=changes
    )
    assert _cdc_state(spark, state) == s0
    assert _cdc_changes(spark, changes) == c0
    # a genuine edit after the replay still lands
    change_capture_batch(
        batch([(2, "beta v2")]), 1, state_path=state, changes_path=changes
    )
    assert (1, 2, "changed") in _cdc_changes(spark, changes)


def test_change_capture_null_text_is_null_safe(spark, tmp_path):
    """NULL text must classify correctly in both directions: a doc
    whose text BECOMES null emits 'changed' once; a doc that STARTS
    null is 'added' once and never re-emitted (membership comes from
    the join marker, not hash nullness)."""
    from cr_data_pipeline_project_spark.streaming.incremental import (
        change_capture_batch,
    )

    state = os.path.join(str(tmp_path), "state")
    changes = os.path.join(str(tmp_path), "changes")

    def batch(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    change_capture_batch(
        batch([(1, "alpha"), (2, None)]), 0, state_path=state, changes_path=changes
    )
    assert sorted((d, s) for _, d, s in _cdc_changes(spark, changes)) == [
        (1, "added"),
        (2, "added"),
    ]
    # doc 1 text becomes NULL -> changed; doc 2 resent as NULL -> nothing
    change_capture_batch(
        batch([(1, None), (2, None)]), 1, state_path=state, changes_path=changes
    )
    b1 = sorted((d, s) for b, d, s in _cdc_changes(spark, changes) if b == 1)
    assert b1 == [(1, "changed")]
    # doc 2 gains text -> changed (null -> value direction)
    change_capture_batch(
        batch([(2, "beta")]), 2, state_path=state, changes_path=changes
    )
    b2 = sorted((d, s) for b, d, s in _cdc_changes(spark, changes) if b == 2)
    assert b2 == [(2, "changed")]


def test_change_capture_tombstones_remove_and_delete_state(spark, tmp_path):
    """Tombstone feed (round-4 verdict #4): a tombstoned id present in
    state emits 'removed' (carrying the last stored hash) and its
    state row is deleted via the bucketed rewrite; an unknown id is a
    no-op; an id both upserted and tombstoned in one batch resolves
    to removed (the tombstone wins)."""
    from cr_data_pipeline_project_spark.streaming.incremental import (
        change_capture_batch,
    )

    state = os.path.join(str(tmp_path), "state")
    changes = os.path.join(str(tmp_path), "changes")

    def batch(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def tomb(ids):
        return spark.createDataFrame([(i,) for i in ids], "doc_id long")

    change_capture_batch(
        batch([(1, "alpha"), (2, "beta"), (3, "gamma")]),
        0, state_path=state, changes_path=changes,
    )
    # batch 1: delete 2; delete unknown 99; upsert+tombstone 3 -> removed
    change_capture_batch(
        batch([(3, "gamma v2"), (4, "delta")]),
        1, state_path=state, changes_path=changes,
        tombstones=tomb([2, 3, 99]),
    )
    b1 = sorted((d, s) for b, d, s in _cdc_changes(spark, changes) if b == 1)
    assert b1 == [(2, "removed"), (3, "removed"), (4, "added")]
    assert [d for d, _ in _cdc_state(spark, state)] == [1, 4]
    # the removed rows carry the LAST STORED hash (of 'beta'/'gamma')
    import hashlib

    got = {
        (r["doc_id"], r["content_hash"])
        for r in spark.read.parquet(changes).where("status = 'removed'").collect()
    }
    assert got == {
        (2, hashlib.md5(b"beta").hexdigest()),
        (3, hashlib.md5(b"gamma").hexdigest()),
    }
    # re-adding a removed id is a fresh 'added'
    change_capture_batch(
        batch([(2, "beta back")]), 2, state_path=state, changes_path=changes
    )
    b2 = sorted((d, s) for b, d, s in _cdc_changes(spark, changes) if b == 2)
    assert b2 == [(2, "added")]


def test_change_capture_tombstone_replay_idempotent(spark, tmp_path, monkeypatch):
    """Replay safety for the tombstone path: (a) a crash BETWEEN the
    changes write and the state write replays to byte-identical sinks
    (state still holds the tombstoned id, so 'removed' reproduces);
    (b) a full replay after success emits nothing new (the id is gone
    from state, so the tombstone is a no-op and the landed partition
    survives untouched)."""
    from cr_data_pipeline_project_spark.streaming import incremental as inc

    state = os.path.join(str(tmp_path), "state")
    changes = os.path.join(str(tmp_path), "changes")

    def batch(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    tomb = spark.createDataFrame([(1,)], "doc_id long")
    inc.change_capture_batch(
        batch([(1, "alpha"), (2, "beta")]), 0,
        state_path=state, changes_path=changes,
    )

    # (a) crash between writes: state rewrite raises AFTER changes land
    real = inc._rewrite_affected_buckets
    calls = {"n": 0}

    def crashing(*a, **kw):
        calls["n"] += 1
        raise RuntimeError("simulated crash before state write")

    monkeypatch.setattr(inc, "_rewrite_affected_buckets", crashing)
    try:
        inc.change_capture_batch(
            batch([(2, "beta v2")]), 1,
            state_path=state, changes_path=changes, tombstones=tomb,
        )
    except RuntimeError:
        pass
    assert calls["n"] == 1
    monkeypatch.setattr(inc, "_rewrite_affected_buckets", real)
    mid_changes = _cdc_changes(spark, changes)  # changes landed, state stale
    assert (1, 1, "removed") in mid_changes and (1, 2, "changed") in mid_changes
    assert [d for d, _ in _cdc_state(spark, state)] == [1, 2]  # state untouched

    inc.change_capture_batch(  # replay completes the batch
        batch([(2, "beta v2")]), 1,
        state_path=state, changes_path=changes, tombstones=tomb,
    )
    s1, c1 = _cdc_state(spark, state), _cdc_changes(spark, changes)
    assert c1 == mid_changes  # identical classification bytes
    assert [d for d, _ in s1] == [2]

    # (b) full replay after success: nothing changes
    inc.change_capture_batch(
        batch([(2, "beta v2")]), 1,
        state_path=state, changes_path=changes, tombstones=tomb,
    )
    assert _cdc_state(spark, state) == s1
    assert _cdc_changes(spark, changes) == c1


def test_change_capture_tombstone_q96_equivalence(spark, tmp_path):
    """A batch+tombstone feed derived from two snapshots must emit
    exactly the offline q96 snapshot diff: upserts = the new
    snapshot's rows, tombstones = ids absent from it — the CDC
    changes for that batch partition into the same
    added/changed/removed sets."""
    from cr_data_pipeline_project_spark.streaming.incremental import (
        change_capture_batch,
    )

    state = os.path.join(str(tmp_path), "state")
    changes = os.path.join(str(tmp_path), "changes")

    old = {1: "alpha", 2: "beta", 3: "gamma", 4: "delta"}
    new = {2: "beta", 3: "gamma v2", 5: "epsilon"}
    expected = sorted(
        [(i, "added") for i in new.keys() - old.keys()]
        + [(i, "removed") for i in old.keys() - new.keys()]
        + [(i, "changed") for i in new.keys() & old.keys() if new[i] != old[i]]
    )

    def batch(d):
        return spark.createDataFrame(list(d.items()), "doc_id long, text string")

    change_capture_batch(
        batch(old), 0, state_path=state, changes_path=changes
    )
    tomb = spark.createDataFrame(
        [(i,) for i in old.keys() - new.keys()], "doc_id long"
    )
    change_capture_batch(
        batch(new), 1, state_path=state, changes_path=changes, tombstones=tomb
    )
    b1 = sorted((d, s) for b, d, s in _cdc_changes(spark, changes) if b == 1)
    assert b1 == expected
    # final state ids == the new snapshot's ids
    assert [d for d, _ in _cdc_state(spark, state)] == sorted(new)


def test_streaming_change_capture_op_column_deletes(spark, tmp_path):
    """The Debezium-style single-feed shape: rows with op='delete'
    become tombstones, every other op (or NULL) upserts."""
    import json

    from cr_data_pipeline_project_spark.streaming.incremental import (
        streaming_change_capture,
    )

    src = os.path.join(str(tmp_path), "in")
    state = os.path.join(str(tmp_path), "state")
    changes = os.path.join(str(tmp_path), "changes")
    ckpt = os.path.join(str(tmp_path), "ckpt")
    os.makedirs(src)

    def land(name, rows):
        with open(os.path.join(src, name), "w") as f:
            for d, t, op in rows:
                f.write(json.dumps({"doc_id": d, "text": t, "op": op}) + "\n")

    def run():
        with few_partitions(spark):
            stream = spark.readStream.schema(
                "doc_id long, text string, op string"
            ).json(src)
            q = streaming_change_capture(
                stream, state, changes, ckpt, op_col="op"
            )
            q.awaitTermination(120)

    land("b0.json", [(1, "alpha", None), (2, "beta", "upsert")])
    run()
    land("b1.json", [(1, None, "delete"), (3, "gamma", None)])
    run()
    got = _cdc_changes(spark, changes)
    b1 = sorted((d, s) for b, d, s in got if b == 1)
    assert b1 == [(1, "removed"), (3, "added")]
    assert [d for d, _ in _cdc_state(spark, state)] == [2, 3]


def _scd_real_rows(spark, path):
    """History rows excluding frontier-tombstone markers (state NULL,
    empty interval)."""
    return sorted(
        (r.user_id, r.state, str(r.valid_from), r.valid_to and str(r.valid_to))
        for r in spark.read.parquet(path)
        .where(
            F.col("state").isNotNull()
            | F.col("valid_to").isNull()
            | (F.col("valid_to") != F.col("valid_from"))
        )
        .collect()
    )


def test_scd2_delete_batch_split_invariant(spark, tmp_path):
    """A delete-carrying feed applied in two batches must equal the
    one-shot delete-aware scd2_intervals over the whole feed (modulo
    the frontier tombstone markers, which the one-shot derivation has
    no need for)."""
    from cr_data_pipeline_project_spark.operators.scd import scd2_intervals
    from cr_data_pipeline_project_spark.streaming.incremental import (
        scd2_apply_batch,
    )

    events = [
        (1, "free", False, "2024-01-01T00:00:00"),
        (1, "pro", False, "2024-01-03T00:00:00"),
        (2, "pro", False, "2024-01-02T00:00:00"),
        # --- batch boundary ---
        (1, None, True, "2024-01-05T00:00:00"),   # delete 1
        (1, "free", False, "2024-01-07T00:00:00"),  # re-add 1
        (2, None, True, "2024-01-06T00:00:00"),   # delete 2, stays gone
        (3, None, True, "2024-01-04T00:00:00"),   # delete absent key
    ]
    hist = os.path.join(str(tmp_path), "hist")

    def batch(rows):
        return spark.createDataFrame(
            rows, "user_id long, state string, is_del boolean, ts string"
        ).select(
            "user_id", "state", "is_del",
            F.col("ts").cast("timestamp").alias("ts"),
        )

    scd2_apply_batch(
        batch(events[:3]), hist, "user_id", "state", "ts",
        delete_col="is_del",
    )
    scd2_apply_batch(
        batch(events[3:]), hist, "user_id", "state", "ts",
        delete_col="is_del",
    )
    want = sorted(
        (r.user_id, r.state, str(r.valid_from), r.valid_to and str(r.valid_to))
        for r in scd2_intervals(
            batch(events), "user_id", "state", "ts", delete_col="is_del"
        ).collect()
    )
    assert _scd_real_rows(spark, hist) == want
    # key 2 ends deleted: a tombstone marker holds its frontier
    tombs = (
        spark.read.parquet(hist)
        .where(F.col("state").isNull() & (F.col("valid_to") == F.col("valid_from")))
        .collect()
    )
    # ...including the absent-key delete (3): its frontier keeps any
    # later-arriving stale upsert dropped, same straggler policy as
    # live keys
    assert sorted((r.user_id, str(r.last_ts)) for r in tombs) == [
        (2, "2024-01-06 00:00:00"),
        (3, "2024-01-04 00:00:00"),
    ]
    # current rows: only key 1 (re-added)
    current = spark.read.parquet(hist).where(F.col("valid_to").isNull()).collect()
    assert [(r.user_id, r.state) for r in current] == [(1, "free")]


def test_scd2_delete_replay_and_stale_after_delete(spark, tmp_path):
    """Replay of a delete-carrying batch is byte-identical; a straggler
    with ts <= the deletion frontier must NOT resurrect the key (the
    tombstone carries the frontier); a genuinely newer upsert does."""
    from cr_data_pipeline_project_spark.streaming.incremental import (
        scd2_apply_batch,
    )

    hist = os.path.join(str(tmp_path), "hist")

    def batch(rows):
        return spark.createDataFrame(
            rows, "user_id long, state string, is_del boolean, ts string"
        ).select(
            "user_id", "state", "is_del",
            F.col("ts").cast("timestamp").alias("ts"),
        )

    def rows():
        # None-safe twin of _scd_rows (tombstones carry state NULL)
        return sorted(
            (r.user_id, r.state or "", str(r.valid_from),
             (r.valid_to and str(r.valid_to)) or "")
            for r in spark.read.parquet(hist)
            .select("user_id", "state", "valid_from", "valid_to")
            .collect()
        )

    b0 = batch([
        (1, "free", False, "2024-01-01T00:00:00"),
        (1, None, True, "2024-01-03T00:00:00"),
    ])
    scd2_apply_batch(b0, hist, "user_id", "state", "ts", delete_col="is_del")
    after = rows()
    scd2_apply_batch(b0, hist, "user_id", "state", "ts", delete_col="is_del")
    assert rows() == after  # replay: identical incl. tombstone

    stale = batch([(1, "zombie", False, "2024-01-02T00:00:00")])
    scd2_apply_batch(stale, hist, "user_id", "state", "ts", delete_col="is_del")
    assert rows() == after  # dropped at the frontier

    newer = batch([(1, "back", False, "2024-01-04T00:00:00")])
    scd2_apply_batch(newer, hist, "user_id", "state", "ts", delete_col="is_del")
    rows = spark.read.parquet(hist)
    assert [(r.user_id, r.state) for r in rows.where(F.col("valid_to").isNull()).collect()] == [(1, "back")]
    # the tombstone marker is gone once the key is re-added
    assert rows.where(F.col("state").isNull() & (F.col("valid_to") == F.col("valid_from"))).count() == 0


def test_scd2_tombstone_invisible_to_state_at(spark, tmp_path):
    """The empty-interval tombstone must match no as-of lookup."""
    from cr_data_pipeline_project_spark.operators.scd import state_at
    from cr_data_pipeline_project_spark.streaming.incremental import (
        scd2_apply_batch,
    )

    hist = os.path.join(str(tmp_path), "hist")
    b = spark.createDataFrame(
        [
            (1, "free", False, "2024-01-01T00:00:00"),
            (1, None, True, "2024-01-03T00:00:00"),
        ],
        "user_id long, state string, is_del boolean, ts string",
    ).select(
        "user_id", "state", "is_del", F.col("ts").cast("timestamp").alias("ts")
    )
    scd2_apply_batch(b, hist, "user_id", "state", "ts", delete_col="is_del")
    facts = spark.createDataFrame(
        [(1, "2024-01-02T00:00:00"), (1, "2024-01-04T00:00:00")],
        "user_id long, ts string",
    ).select("user_id", F.col("ts").cast("timestamp").alias("ts"))
    got = state_at(
        facts, spark.read.parquet(hist), "user_id", "ts", how="left"
    ).collect()
    by_ts = {str(r.ts): r.state for r in got}
    assert by_ts["2024-01-02 00:00:00"] == "free"   # inside the closed run
    assert by_ts["2024-01-04 00:00:00"] is None     # after deletion: no state


def test_streaming_windowed_heavy_hitters(spark, tmp_path):
    """q116's streaming twin: windowed counts stream through
    foreachBatch, a per-window rank lands the top-k — the batch and
    streaming paths must agree on the same events."""
    import json

    from pyspark.sql.window import Window

    from cr_data_pipeline_project_spark.streaming.incremental import (
        windowed_event_counts,
    )

    src = os.path.join(str(tmp_path), "in")
    sink = os.path.join(str(tmp_path), "out")
    ckpt = os.path.join(str(tmp_path), "ckpt")
    os.makedirs(src)

    events = [
        (i, f"2024-01-01T10:{i % 50:02d}:00", t)
        for i, t in enumerate(
            ["view"] * 9 + ["click"] * 6 + ["buy"] * 3 + ["scroll"] * 1
        )
    ] + [
        (100 + i, f"2024-01-01T11:{i % 50:02d}:00", t)
        for i, t in enumerate(["click"] * 5 + ["view"] * 2)
    ]
    with open(os.path.join(src, "b0.json"), "w") as f:
        for eid, ts, typ in events:
            f.write(json.dumps({"event_id": eid, "ts": ts, "event_type": typ}) + "\n")

    def rank_and_land(batch_df, batch_id):
        w = Window.partitionBy("window_start").orderBy(
            F.desc("n"), F.col("event_type")
        )
        (
            batch_df.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= 3)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("window_start")
            .parquet(sink)
        )

    with few_partitions(spark):
        stream = spark.readStream.schema(
            "event_id long, ts timestamp, event_type string"
        ).json(src)
        q = (
            windowed_event_counts(stream, watermark="10 minutes")
            .writeStream.outputMode("complete")
            .option("checkpointLocation", ckpt)
            .foreachBatch(rank_and_land)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    got = sorted(
        (str(r.window_start), r.rnk, r.event_type, r.n)
        for r in spark.read.parquet(sink).collect()
    )
    assert got == [
        ("2024-01-01 10:00:00", 1, "view", 9),
        ("2024-01-01 10:00:00", 2, "click", 6),
        ("2024-01-01 10:00:00", 3, "buy", 3),
        ("2024-01-01 11:00:00", 1, "click", 5),
        ("2024-01-01 11:00:00", 2, "view", 2),
    ]


def test_scd2_upsert_only_apply_preserves_tombstone_markers(spark, tmp_path):
    """A later caller running scd2_apply_batch WITHOUT delete_col on a
    delete-aware history must not drop another caller's tombstone
    markers: a stale event for the deleted key leaves the marker (and
    its straggler guard) intact; a genuinely newer upsert replaces it
    with a fresh open run."""
    from cr_data_pipeline_project_spark.streaming.incremental import (
        scd2_apply_batch,
    )

    hist = os.path.join(str(tmp_path), "hist")

    def dbatch(rows):
        return spark.createDataFrame(
            rows, "user_id long, state string, is_del boolean, ts string"
        ).select(
            "user_id", "state", "is_del",
            F.col("ts").cast("timestamp").alias("ts"),
        )

    def ubatch(rows):
        return spark.createDataFrame(
            rows, "user_id long, state string, ts string"
        ).select(
            "user_id", "state", F.col("ts").cast("timestamp").alias("ts")
        )

    scd2_apply_batch(
        dbatch([
            (1, "free", False, "2024-01-01T00:00:00"),
            (1, None, True, "2024-01-03T00:00:00"),
        ]),
        hist, "user_id", "state", "ts", delete_col="is_del",
    )

    def marker_rows():
        return (
            spark.read.parquet(hist)
            .where(
                F.col("state").isNull()
                & (F.col("valid_to") == F.col("valid_from"))
            )
            .collect()
        )

    assert len(marker_rows()) == 1
    # upsert-only apply with a STALE event: marker must survive
    scd2_apply_batch(
        ubatch([(1, "zombie", "2024-01-02T00:00:00")]),
        hist, "user_id", "state", "ts",
    )
    assert len(marker_rows()) == 1
    assert (
        spark.read.parquet(hist).where(F.col("valid_to").isNull()).count()
        == 0
    )
    # upsert-only apply with a NEWER event: marker replaced by a run
    scd2_apply_batch(
        ubatch([(1, "back", "2024-01-04T00:00:00")]),
        hist, "user_id", "state", "ts",
    )
    assert len(marker_rows()) == 0
    cur = spark.read.parquet(hist).where(F.col("valid_to").isNull()).collect()
    assert [(r.user_id, r.state) for r in cur] == [(1, "back")]


def test_streaming_pq_index_append(spark, tmp_path):
    """PQ index maintenance: arriving vectors encode against the
    persisted codebooks per micro-batch; codes accumulate, replays
    don't double-append, and the streamed codes equal the batch
    pq_encode of the same vectors."""
    import json
    import random

    from cr_data_pipeline_project_spark.operators import pq
    from cr_data_pipeline_project_spark.streaming.incremental import (
        streaming_pq_index_append,
    )

    src = os.path.join(str(tmp_path), "in")
    books_path = os.path.join(str(tmp_path), "books")
    codes_path = os.path.join(str(tmp_path), "codes")
    ckpt = os.path.join(str(tmp_path), "ckpt")
    os.makedirs(src)

    rng = random.Random(17)

    def vec():
        return [rng.gauss(0, 1) for _ in range(64)]

    base = [(i, vec()) for i in range(40)]
    fit_df = spark.createDataFrame(base, "vec_id long, embedding array<double>")
    pq.pq_fit(fit_df, m=8, k=8, n_iter=1).write.parquet(books_path)

    def land(name, rows):
        with open(os.path.join(src, name), "w") as f:
            for i, v in rows:
                f.write(json.dumps({"vec_id": i, "embedding": v}) + "\n")

    def run():
        with few_partitions(spark):
            stream = spark.readStream.schema(
                "vec_id long, embedding array<double>"
            ).json(src)
            q = streaming_pq_index_append(
                stream, books_path, codes_path, ckpt
            )
            q.awaitTermination(120)

    land("b0.json", base[:25])
    run()
    land("b1.json", base[25:])
    run()
    run()  # no new files: replay-shaped no-op

    got = {
        r.vec_id: list(r.codes) for r in spark.read.parquet(codes_path).collect()
    }
    assert sorted(got) == list(range(40))  # all present, none doubled
    books = spark.read.parquet(books_path)
    want = {
        r.vec_id: list(r.codes)
        for r in pq.pq_encode(fit_df, books).collect()
    }
    assert got == want


def test_streaming_pq_index_serves_ivfpq_equal_to_batch(spark, tmp_path):
    """The consume side of PQ index maintenance: after EACH
    micro-batch, an ivfpq_topk search over the streamed codes lake
    must equal the answer from a batch-built index over the same
    vectors — the streamed index is not just complete, it SERVES
    identically at every point in time."""
    import json
    import random

    from pyspark.sql import functions as F

    from cr_data_pipeline_project_spark.operators import clustering, pq
    from cr_data_pipeline_project_spark.streaming.incremental import (
        streaming_pq_index_append,
    )

    src = os.path.join(str(tmp_path), "in")
    books_path = os.path.join(str(tmp_path), "books")
    codes_path = os.path.join(str(tmp_path), "codes")
    ckpt = os.path.join(str(tmp_path), "ckpt")
    os.makedirs(src)

    rng = random.Random(29)

    def vec():
        return [rng.gauss(0, 1) for _ in range(64)]

    base = [(i, vec()) for i in range(60)]
    fit_df = spark.createDataFrame(base, "vec_id long, embedding array<double>")
    # offline artifacts: PQ codebooks + coarse cells, both persisted
    pq.pq_fit(fit_df, m=8, k=8, n_iter=1).write.parquet(books_path)
    cells = clustering.kmeans_fit(fit_df, 4, "vec_id", "embedding", n_iter=2)
    cells = cells.localCheckpoint(eager=True)
    assigned = clustering.kmeans_assign(
        fit_df, cells, "vec_id", "embedding"
    ).withColumnRenamed("cluster_id", "cell").localCheckpoint(eager=True)
    queries = fit_df.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    books = spark.read.parquet(books_path)

    def land(name, rows):
        with open(os.path.join(src, name), "w") as f:
            for i, v in rows:
                f.write(json.dumps({"vec_id": i, "embedding": v}) + "\n")

    def run():
        with few_partitions(spark):
            stream = spark.readStream.schema(
                "vec_id long, embedding array<double>"
            ).json(src)
            q = streaming_pq_index_append(stream, books_path, codes_path, ckpt)
            q.awaitTermination(120)

    def serve_answers(codes_df):
        out = pq.ivfpq_topk(
            codes_df.join(assigned.select("vec_id", "cell"), "vec_id"),
            books, cells, queries,
            query_id_col="query_id", k=5, nprobe=2,
        )
        return sorted(
            (r.query_id, r.neighbor_id, r.rank, r.adist)
            for r in out.collect()
        )

    for batch_rows in (base[:35], base[35:]):
        land(f"b{len(batch_rows)}.json", batch_rows)
        run()
        streamed = spark.read.parquet(codes_path)
        seen_ids = [r.vec_id for r in streamed.select("vec_id").collect()]
        batch_index = pq.pq_encode(
            fit_df.where(F.col("vec_id").isin(seen_ids)), books
        )
        assert serve_answers(streamed) == serve_answers(batch_index)


def test_streaming_daily_anomaly_matches_batch(spark, tmp_path, sf_dir):
    """Streamed count partials -> anomaly snapshot equals the batch
    q137 report on the same events, and a replayed batch (overwrite
    of its own partial dir) changes nothing."""
    from cr_data_pipeline_project_spark.catalog import table
    from cr_data_pipeline_project_spark.plans import all_queries
    from cr_data_pipeline_project_spark.streaming.incremental import (
        daily_anomaly_snapshot,
        streaming_daily_count_partials,
    )

    ev = table(spark, "events", sf_dir).select("event_id", "ts", "event_type")
    src = os.path.join(str(tmp_path), "anom_src")
    # several files -> several micro-batches with maxFilesPerTrigger
    ev.repartition(4).write.parquet(src)
    partials = os.path.join(str(tmp_path), "anom_partials")

    with few_partitions(spark):
        stream = (
            spark.readStream.schema("event_id long, ts timestamp, event_type string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = streaming_daily_count_partials(
            stream, partials, os.path.join(str(tmp_path), "anom_ckpt")
        )
        q.awaitTermination(120)

    batch_dirs = [d for d in os.listdir(partials) if d.startswith("batch=")]
    assert len(batch_dirs) >= 2, "expected multiple micro-batches"

    got = [tuple(r) for r in daily_anomaly_snapshot(spark, partials).collect()]
    want = [
        tuple(r)
        for r in all_queries()["q137_daily_event_anomaly"](spark, sf_dir).collect()
    ]
    assert got == want and len(want) >= 1

    # replay: re-writing one batch's partials (same content, same
    # dir) must not change the snapshot — overwrite, not append
    replay_dir = os.path.join(partials, batch_dirs[0])
    stash = os.path.join(str(tmp_path), "replay_stash")  # OUTSIDE partials
    spark.read.parquet(replay_dir).write.mode("overwrite").parquet(stash)
    spark.read.parquet(stash).write.mode("overwrite").parquet(replay_dir)
    got2 = [tuple(r) for r in daily_anomaly_snapshot(spark, partials).collect()]
    assert got2 == want


def test_streaming_jsonl_ingest_matches_batch_loader(spark, tmp_path):
    """Streamed JSONL landing routes every line exactly as the batch
    loader does (shared split_jsonl core), conserves line counts
    across clean+quarantine, and a replayed batch directory changes
    nothing (overwrite posture)."""
    import json

    from pyspark.sql import types as T

    from cr_data_pipeline_project_spark.sources.jsonl import (
        quarantine_report,
        read_jsonl_corpus,
    )
    from cr_data_pipeline_project_spark.streaming.incremental import (
        streaming_jsonl_corpus_ingest,
    )

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    src = tmp_path / "dumps"
    src.mkdir()
    files = {
        "a.jsonl": [
            json.dumps({"doc_id": 1, "text": "one"}),
            '{"doc_id": 2, "text": "broken',
        ],
        "b.jsonl": [
            json.dumps({"doc_id": 3, "text": "three"}),
            json.dumps({"doc_id": None, "text": "no id"}),
            "",
        ],
        "c.jsonl": [json.dumps({"doc_id": 4, "text": "four"})],
    }
    n_lines = 0
    for name, lines in files.items():
        (src / name).write_text("\n".join(lines) + "\n")
        n_lines += len(lines)

    clean_path = str(tmp_path / "clean")
    quar_path = str(tmp_path / "quar")
    with few_partitions(spark):
        q = streaming_jsonl_corpus_ingest(
            spark,
            str(src),
            schema,
            clean_path,
            quar_path,
            str(tmp_path / "ckpt"),
            required=("doc_id",),
            max_files_per_trigger=1,
        )
        q.awaitTermination(120)

    batch_dirs = [d for d in os.listdir(clean_path) if d.startswith("batch=")]
    assert len(batch_dirs) >= 2, "expected multiple micro-batches"

    clean = spark.read.parquet(clean_path)
    quar = spark.read.parquet(quar_path)
    assert clean.count() + quar.count() == n_lines

    # the batch loader over the same directory routes identically
    bclean, bquar = read_jsonl_corpus(
        spark, str(src), schema, required=("doc_id",)
    )
    assert sorted(
        (r["doc_id"], r["text"]) for r in clean.collect()
    ) == sorted((r["doc_id"], r["text"]) for r in bclean.collect())
    srep = {
        (os.path.basename(r["src_file"]), r["reason"]): r["n_lines"]
        for r in quarantine_report(quar.drop("batch")).collect()
    }
    brep = {
        (os.path.basename(r["src_file"]), r["reason"]): r["n_lines"]
        for r in quarantine_report(bquar).collect()
    }
    assert srep == brep
    assert srep[("a.jsonl", "malformed_json")] == 1
    assert srep[("b.jsonl", "missing_required:doc_id")] == 1

    # misconfiguration fails BEFORE .start(), not inside batch 0
    import pytest as _pytest

    with _pytest.raises(ValueError, match="typo_col"):
        streaming_jsonl_corpus_ingest(
            spark, str(src), schema, clean_path, quar_path,
            str(tmp_path / "ckpt2"), required=("typo_col",),
        )
    bad = T.StructType(
        [*schema.fields, T.StructField("batch", T.LongType())]
    )
    with _pytest.raises(ValueError, match="batch"):
        streaming_jsonl_corpus_ingest(
            spark, str(src), bad, clean_path, quar_path,
            str(tmp_path / "ckpt3"),
        )

    # replay: rewriting one batch's output dirs (same content) must
    # not change either side — overwrite, not append
    replay = os.path.join(clean_path, batch_dirs[0])
    stash = str(tmp_path / "stash")
    n_clean = clean.count()
    spark.read.parquet(replay).write.mode("overwrite").parquet(stash)
    spark.read.parquet(stash).write.mode("overwrite").parquet(replay)
    spark.catalog.refreshByPath(clean_path)  # drop stale file listing
    assert spark.read.parquet(clean_path).count() == n_clean


def test_streaming_dsir_model_and_scores_match_batch(spark, tmp_path, sf_dir):
    """Build-rarely/serve-continuously DSIR split: (1) feature
    partials streamed over any micro-batch slicing sum to the
    bit-identical lambda model the batch kernel computes; (2) docs
    scored by the serve stream against that persisted model carry
    exactly the batch q172 scores; (3) a replayed partial batch
    (overwrite posture) changes nothing."""
    from cr_data_pipeline_project_spark.catalog import table
    from cr_data_pipeline_project_spark.operators import importance
    from cr_data_pipeline_project_spark.streaming.incremental import (
        dsir_lambda_snapshot,
        streaming_dsir_feature_partials,
        streaming_dsir_score_append,
    )

    docs = table(spark, "documents", sf_dir).select(
        "doc_id", "text", "lang"
    )
    src = os.path.join(str(tmp_path), "dsir_src")
    docs.repartition(4).write.parquet(src)
    partials = os.path.join(str(tmp_path), "dsir_partials")
    schema = "doc_id long, text string, lang string"

    with few_partitions(spark):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = streaming_dsir_feature_partials(
            stream, partials, os.path.join(str(tmp_path), "dsir_ckpt1")
        )
        q.awaitTermination(120)

    batch_dirs = [d for d in os.listdir(partials) if d.startswith("batch=")]
    assert len(batch_dirs) >= 2, "expected multiple micro-batches"

    # (1) streamed model == batch model, bit-identical
    want_lam = sorted(
        tuple(r)
        for r in importance.lambda_table(
            importance.per_feature_counts(
                importance.bigram_feature_counts(docs)
            )
        ).collect()
    )
    got_lam = sorted(
        tuple(r) for r in dsir_lambda_snapshot(spark, partials).collect()
    )
    assert got_lam == want_lam and len(want_lam) > 0

    # persist the model, then run the serve stream against it
    lam_path = os.path.join(str(tmp_path), "dsir_lambda")
    dsir_lambda_snapshot(spark, partials).write.parquet(lam_path)
    scores_path = os.path.join(str(tmp_path), "dsir_scores")
    with few_partitions(spark):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(src)
        )
        q = streaming_dsir_score_append(
            stream, lam_path, scores_path,
            os.path.join(str(tmp_path), "dsir_ckpt2"),
        )
        q.awaitTermination(120)

    # (2) streamed scores == the batch kernels' scores for ALL docs
    docf = importance.bigram_feature_counts(docs)
    lam = spark.read.parquet(lam_path)
    want_scores = sorted(
        tuple(r) for r in importance.dsir_scores(docf, lam).collect()
    )
    got_scores = sorted(
        tuple(r) for r in spark.read.parquet(scores_path).collect()
    )
    assert got_scores == want_scores and len(want_scores) > 0

    # (3) replay one partial batch dir: overwrite, not double-count
    replay_dir = os.path.join(partials, batch_dirs[0])
    stash = os.path.join(str(tmp_path), "dsir_stash")
    spark.read.parquet(replay_dir).write.mode("overwrite").parquet(stash)
    spark.read.parquet(stash).write.mode("overwrite").parquet(replay_dir)
    got_lam2 = sorted(
        tuple(r) for r in dsir_lambda_snapshot(spark, partials).collect()
    )
    assert got_lam2 == want_lam


def test_streaming_dsir_serve_replay_and_unseen_buckets(spark, tmp_path, sf_dir):
    """Two review-flagged gaps: (1) re-delivering already-scored
    docs through the serve stream must not double-append
    (insert-if-absent actually exercised, not just a no-op);
    (2) docs whose bigrams hash to buckets the fitted model never
    observed must still score — the dense lambda table carries the
    add-1-smoothing default for unseen buckets."""
    from cr_data_pipeline_project_spark.catalog import table
    from cr_data_pipeline_project_spark.operators import importance
    from cr_data_pipeline_project_spark.streaming.incremental import (
        streaming_dsir_score_append,
    )

    docs = table(spark, "documents", sf_dir).select("doc_id", "text", "lang")

    # fit the model on a tiny slice so most buckets stay unobserved
    fit = docs.limit(3)
    lam = importance.lambda_table(
        importance.per_feature_counts(
            importance.bigram_feature_counts(fit)
        )
    )
    assert lam.count() == 256  # dense: every bucket present
    lam_path = os.path.join(str(tmp_path), "lam")
    lam.write.parquet(lam_path)

    src = os.path.join(str(tmp_path), "serve_src")
    docs.repartition(2).write.parquet(src)
    scores_path = os.path.join(str(tmp_path), "scores")
    schema = "doc_id long, text string, lang string"

    def run(ckpt):
        with few_partitions(spark):
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            q = streaming_dsir_score_append(
                stream, lam_path, scores_path,
                os.path.join(str(tmp_path), ckpt),
            )
            q.awaitTermination(120)

    run("ckpt_a")
    first = sorted(
        tuple(r) for r in spark.read.parquet(scores_path).collect()
    )
    # (2) EVERY doc scored, including those hitting unseen buckets
    assert len(first) == docs.count()

    # (1) full re-delivery with a FRESH checkpoint: same docs stream
    # again, insert-if-absent must drop every one of them
    run("ckpt_b")
    second = sorted(
        tuple(r) for r in spark.read.parquet(scores_path).collect()
    )
    assert second == first


def test_streaming_ks_drift_matches_batch(spark, tmp_path, sf_dir):
    """Streamed value-count partials -> KS snapshot equals the batch
    q177 statistic on the same rows (shared ks kernel), under any
    micro-batch slicing; a replayed partial batch changes nothing."""
    from cr_data_pipeline_project_spark.catalog import table
    from cr_data_pipeline_project_spark.operators.drift import value_counts
    from cr_data_pipeline_project_spark.plans import all_queries
    from cr_data_pipeline_project_spark.streaming.incremental import (
        ks_drift_snapshot,
        streaming_value_count_partials,
    )

    docs = table(spark, "documents", sf_dir)
    # freeze the reference side: src0's value counts
    ref_path = os.path.join(str(tmp_path), "ks_ref")
    value_counts(
        docs.where(F.col("source") == "src0"), "n_chars"
    ).write.parquet(ref_path)

    # stream the live side: src1 documents
    src = os.path.join(str(tmp_path), "ks_src")
    docs.where(F.col("source") == "src1").select(
        "doc_id", "n_chars"
    ).repartition(3).write.parquet(src)
    partials = os.path.join(str(tmp_path), "ks_partials")

    with few_partitions(spark):
        stream = (
            spark.readStream.schema("doc_id long, n_chars long")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = streaming_value_count_partials(
            stream, partials, os.path.join(str(tmp_path), "ks_ckpt"),
            "n_chars",
        )
        q.awaitTermination(120)

    batch_dirs = [d for d in os.listdir(partials) if d.startswith("batch=")]
    assert len(batch_dirs) >= 2, "expected multiple micro-batches"

    got = [
        tuple(r) for r in ks_drift_snapshot(spark, ref_path, partials).collect()
    ]
    want = [
        tuple(r)
        for r in all_queries()["q177_ks_source_drift"](spark, sf_dir).collect()
    ]
    assert got == want and len(want) == 1

    # replay: overwrite posture, not append
    replay_dir = os.path.join(partials, batch_dirs[0])
    stash = os.path.join(str(tmp_path), "ks_stash")
    spark.read.parquet(replay_dir).write.mode("overwrite").parquet(stash)
    spark.read.parquet(stash).write.mode("overwrite").parquet(replay_dir)
    got2 = [
        tuple(r) for r in ks_drift_snapshot(spark, ref_path, partials).collect()
    ]
    assert got2 == want

    # the SAME partials lake serves the PSI verdict: snapshot equals
    # a batch psi_from_counts over the same count tables
    from cr_data_pipeline_project_spark.operators.drift import (
        psi_from_counts,
    )
    from cr_data_pipeline_project_spark.streaming.incremental import (
        psi_drift_snapshot,
    )

    live_batch = value_counts(
        docs.where(F.col("source") == "src1"), "n_chars"
    )
    want_psi = [
        tuple(r)
        for r in psi_from_counts(
            spark.read.parquet(ref_path), live_batch
        ).collect()
    ]
    got_psi = [
        tuple(r)
        for r in psi_drift_snapshot(spark, ref_path, partials).collect()
    ]
    assert got_psi == want_psi and len(want_psi) == 10


def test_streaming_token_kl_matches_batch(spark, tmp_path, sf_dir):
    """Token drift: a stream of src1 documents exploded into words
    feeds the SAME value-count partials writer the KS/PSI monitor
    uses; the KL snapshot against frozen src0 word counts equals
    the batch q192 kernel on the same rows, under any micro-batch
    slicing."""
    from cr_data_pipeline_project_spark.catalog import table
    from cr_data_pipeline_project_spark.operators.drift import value_counts
    from cr_data_pipeline_project_spark.plans import all_queries
    from cr_data_pipeline_project_spark.streaming.incremental import (
        kl_drift_snapshot,
        streaming_value_count_partials,
    )

    docs = table(spark, "documents", sf_dir)
    word = lambda df: df.select(
        F.explode(F.split("text", " ")).alias("w")
    )
    ref_path = os.path.join(str(tmp_path), "kl_ref")
    value_counts(
        word(docs.where(F.col("source") == "src0")), "w"
    ).write.parquet(ref_path)

    src = os.path.join(str(tmp_path), "kl_src")
    docs.where(F.col("source") == "src1").select(
        "doc_id", "text"
    ).repartition(3).write.parquet(src)
    partials = os.path.join(str(tmp_path), "kl_partials")

    with few_partitions(spark):
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = streaming_value_count_partials(
            word(stream),
            partials,
            os.path.join(str(tmp_path), "kl_ckpt"),
            "w",
        )
        q.awaitTermination(120)

    assert (
        len([d for d in os.listdir(partials) if d.startswith("batch=")])
        >= 2
    ), "expected multiple micro-batches"

    got = [
        tuple(r)
        for r in kl_drift_snapshot(spark, ref_path, partials).collect()
    ]
    want = [
        tuple(r)
        for r in all_queries()["q192_token_kl_drift"](spark, sf_dir).collect()
    ]
    assert got == want and len(want) == 1


def test_streaming_cms_equals_batch_sketch(spark, tmp_path, sf_dir):
    """Micro-batch cell partials merge to the EXACT batch-built
    sketch (cell-wise additivity), and estimates served from the
    snapshot equal batch estimates for every key."""
    from cr_data_pipeline_project_spark.catalog import table
    from cr_data_pipeline_project_spark.operators.sketches import (
        cms_estimate,
        cms_partials,
    )
    from cr_data_pipeline_project_spark.streaming.incremental import (
        cms_snapshot,
        streaming_cms_partials,
    )

    ev = table(spark, "events", sf_dir).select("event_id", "user_id")
    src = os.path.join(str(tmp_path), "cms_src")
    ev.repartition(3).write.parquet(src)
    partials = os.path.join(str(tmp_path), "cms_partials")

    with few_partitions(spark):
        stream = (
            spark.readStream.schema("event_id long, user_id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = streaming_cms_partials(
            stream,
            partials,
            os.path.join(str(tmp_path), "cms_ckpt"),
            "user_id",
            depth=4,
            width=256,
        )
        q.awaitTermination(120)

    assert (
        len([d for d in os.listdir(partials) if d.startswith("batch=")])
        >= 2
    ), "expected multiple micro-batches"

    cells = lambda rows: {(r["d"], r["b"]): r["c"] for r in rows}
    merged = cells(cms_snapshot(spark, partials).collect())
    batch = cells(cms_partials(ev, "user_id", 4, 256).collect())
    assert merged == batch

    est = lambda part: {
        r["user_id"]: r["est"]
        for r in cms_estimate(
            part, ev.select("user_id"), "user_id", 4, 256
        ).collect()
    }
    assert est(cms_snapshot(spark, partials)) == est(
        cms_partials(ev, "user_id", 4, 256)
    )


def test_dp_release_snapshot_slicing_invariant(spark, tmp_path):
    """The streamed DP release must be bit-identical under different
    micro-batch slicings AND equal to the batch mechanism — noise is
    a pure function of (seed, source), never of arrival order."""
    from pyspark.sql import functions as F

    from cr_data_pipeline_project_spark.operators.sampling import (
        dp_noisy_counts,
    )
    from cr_data_pipeline_project_spark.streaming.incremental import (
        dp_release_snapshot,
        streaming_value_count_partials,
    )

    rows = spark.createDataFrame(
        [(i, f"s{i % 5}") for i in range(300)], "doc_id long, source string"
    )
    batch = {
        (r.source, r.n_true, r.noisy_n)
        for r in dp_noisy_counts(rows, "source", epsilon=0.5).collect()
    }
    for nfiles in (1, 4):
        src = str(tmp_path / f"rows_{nfiles}")
        rows.repartition(nfiles).write.parquet(src)
        out = str(tmp_path / f"partials_{nfiles}")
        streaming_value_count_partials(
            spark.readStream.schema("doc_id long, source string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            out,
            str(tmp_path / f"ckpt_{nfiles}"),
            "source",
        ).awaitTermination(120)
        got = {
            (r.source, r.n_true, r.noisy_n)
            for r in dp_release_snapshot(spark, out, epsilon=0.5).collect()
        }
        assert got == batch, nfiles


def test_streaming_url_domain_census_matches_batch(spark, tmp_path, sf_dir):
    """Streamed per-doc URL partials -> domain snapshot equals the
    batch url_domain_census on the same synthesized pages, and a
    replayed batch directory changes nothing (overwrite posture)."""
    from pyspark.sql import functions as F

    from cr_data_pipeline_project_spark.catalog import table
    from cr_data_pipeline_project_spark.operators.textstats import (
        url_domain_census,
    )
    from cr_data_pipeline_project_spark.streaming.incremental import (
        streaming_url_domain_partials,
        url_domain_snapshot,
    )

    i = F.col("doc_id")
    page = F.concat(
        F.col("text"),
        F.lit(" (see https://WWW.src"), i % 7,
        F.lit(".Example.COM/p/"), i, F.lit(")."),
        F.lit(" http://cdn-"), i % 4, F.lit(".assets.net/x/"), i,
    )
    docs = (
        table(spark, "documents", sf_dir)
        .select("doc_id", page.alias("page"))
    )
    src = os.path.join(str(tmp_path), "url_src")
    docs.repartition(3).write.parquet(src)
    partials = os.path.join(str(tmp_path), "url_partials")

    with few_partitions(spark):
        stream = (
            spark.readStream.schema("doc_id long, page string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = streaming_url_domain_partials(
            stream, partials, os.path.join(str(tmp_path), "url_ckpt"),
            text_col="page",
        )
        q.awaitTermination(120)

    batch_dirs = [d for d in os.listdir(partials) if d.startswith("batch=")]
    assert len(batch_dirs) >= 2, "expected multiple micro-batches"

    want = sorted(
        tuple(r)
        for r in url_domain_census(docs, text_col="page").collect()
    )
    got = sorted(
        tuple(r) for r in url_domain_snapshot(spark, partials).collect()
    )
    assert got == want and len(want) >= 2

    # replay one batch dir (same content) — snapshot unchanged
    replay_dir = os.path.join(partials, batch_dirs[0])
    stash = os.path.join(str(tmp_path), "url_replay_stash")
    spark.read.parquet(replay_dir).write.mode("overwrite").parquet(stash)
    spark.read.parquet(stash).write.mode("overwrite").parquet(replay_dir)
    got2 = sorted(
        tuple(r) for r in url_domain_snapshot(spark, partials).collect()
    )
    assert got2 == want
