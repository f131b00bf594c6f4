"""Atomic snapshot commit for rewritten tables: a crash at ANY point
before the pointer rename leaves the previous snapshot readable
(matching the transactionality of the reference's DB-side MERGE,
src/db_ops.py:62-149)."""

import os

import pytest

from cr_data_pipeline_project_spark import pipeline, schemas

from helpers import player_row


@pytest.fixture()
def lake(spark, tmp_path):
    return pipeline.Lake(spark, os.path.join(str(tmp_path), "lake"))


def _dim(spark, rows):
    """``players`` rows from (player_id, road_trophies) pairs."""
    return spark.createDataFrame(
        [player_row(pid, road_trophies=t) for pid, t in rows], schemas.PLAYERS
    )


def test_overwrite_roundtrip_and_gc(spark, lake):
    lake.overwrite("players", _dim(spark, [("#A", 1)]))
    lake.overwrite("players", _dim(spark, [("#A", 2), ("#B", 3)]))
    got = {r["player_id"]: r["road_trophies"] for r in lake.read("players").collect()}
    assert got == {"#A": 2, "#B": 3}
    # superseded snapshot GC'd, only v2 + pointer remain
    entries = sorted(os.listdir(lake.path("players")))
    assert entries == ["_VERSION", "v2"]


def test_crash_before_commit_leaves_old_snapshot(spark, lake, monkeypatch):
    lake.overwrite("players", _dim(spark, [("#A", 1)]))

    def boom(src, dst):
        raise OSError("injected crash between stage and commit")

    monkeypatch.setattr(os, "replace", boom)
    with pytest.raises(OSError, match="injected"):
        lake.overwrite("players", _dim(spark, [("#A", 999)]))
    monkeypatch.undo()

    # old snapshot fully readable; orphaned stage is invisible
    got = {r["player_id"]: r["road_trophies"] for r in lake.read("players").collect()}
    assert got == {"#A": 1}

    # a re-run restages over the orphan and commits cleanly
    lake.overwrite("players", _dim(spark, [("#A", 7)]))
    got = {r["player_id"]: r["road_trophies"] for r in lake.read("players").collect()}
    assert got == {"#A": 7}


def test_crash_during_stage_write_leaves_old_snapshot(spark, lake):
    lake.overwrite("players", _dim(spark, [("#A", 1)]))

    class Exploding:
        """DataFrame stand-in whose write fails mid-stage."""

        def __init__(self, df):
            self.write = _ExplodingWriter()

    class _ExplodingWriter:
        def mode(self, m):
            return self

        def partitionBy(self, *c):
            return self

        def parquet(self, path):
            os.makedirs(path, exist_ok=True)  # partial files appear
            with open(os.path.join(path, "part-00000.parquet"), "wb") as f:
                f.write(b"torn write")
            raise OSError("injected executor loss mid-write")

    with pytest.raises(OSError, match="mid-write"):
        lake.overwrite("players", Exploding(None))
    got = {r["player_id"]: r["road_trophies"] for r in lake.read("players").collect()}
    assert got == {"#A": 1}


def test_legacy_flat_table_migrates_on_first_overwrite(spark, lake):
    """Tables born via append (flat layout) become versioned on their
    first rewrite; the flat files are GC'd after commit."""
    lake.append("players", _dim(spark, [("#A", 1), ("#B", 2)]))
    assert lake.current_version("players") == 0
    purged = lake.read("players").where("player_id <> '#B'")
    lake.overwrite("players", purged)
    assert lake.current_version("players") == 1
    got = [r["player_id"] for r in lake.read("players").collect()]
    assert got == ["#A"]
    assert sorted(os.listdir(lake.path("players"))) == ["_VERSION", "v1"]


def test_append_lands_in_current_snapshot(spark, lake):
    lake.overwrite("players", _dim(spark, [("#A", 1)]))
    lake.append("players", _dim(spark, [("#B", 2)]))
    got = sorted(r["player_id"] for r in lake.read("players").collect())
    assert got == ["#A", "#B"]


def test_time_travel_read_with_retention(spark, tmp_path):
    lk = pipeline.Lake(
        spark, os.path.join(str(tmp_path), "lake_tt"), retain_versions=2
    )
    lk.overwrite("players", _dim(spark, [("#A", 1)]))
    lk.overwrite("players", _dim(spark, [("#A", 2), ("#B", 3)]))
    lk.overwrite("players", _dim(spark, [("#A", 4)]))
    assert lk.versions("players") == [2, 3]
    assert lk.read("players").count() == 1
    old = {
        r["player_id"]: r["road_trophies"]
        for r in lk.read("players", version=2).collect()
    }
    assert old == {"#A": 2, "#B": 3}
    with pytest.raises(ValueError):
        lk.read("players", version=1)  # GC'd past the retention window
    with pytest.raises(ValueError):
        lk.read("players", version=9)  # never committed
