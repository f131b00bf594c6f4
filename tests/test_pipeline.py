"""End-to-end pipeline runs on a scratch lake: idempotency of the
incremental gates, MERGE update semantics, cascade purge, the
8-per-deck invariant, and a clean audit — the behaviors the reference
enforces via DB constraints + log invariants (SURVEY.md §5).

The five-run lifecycle (first load → incremental re-run → dim rename
→ new player → purge) executes ONCE in a module-scoped fixture; tests
assert on the recorded stats and final lake state.  Two standalone
runs cover the cards null-coercion path and the run log (stage order
and start offsets, with and without a purge, and per-stage job counts
that add up to the run's jobs), and a repeated run on a restored lake
compiles no generated class.  The stage DAG is pinned
on a restored lake where every stage writes: writes become visible in
FK order (the purge child first), every job stays in the caller's job
group under its stage's description and each stage starts a pinned
number of jobs, and a failed stage commits none of its dependents; a
thread-contention test drives the commit gate alone. The new-matches
delta is pinned too: a battle listed twice lands once, and the new
match_cards equal the reference flatten of the new keys.  Further
tests pin the mechanics: declared-schema reads start no job and widen
``int`` ids, skip-empty appends add no file, the files hold
``match_view_id`` as INT64, and the one-action audit labels each
violation kind.
"""

import datetime as dt
import functools
import glob
import os
import re
import shutil
import sys
import threading
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cr_data_pipeline_project_spark import analytics, pipeline, schemas
from cr_data_pipeline_project_spark.operators import quality
from cr_data_pipeline_project_spark.sources.battlelog import (
    flatten_match_cards,
    read_battlelog_json,
)

from helpers import (
    battle,
    card_row,
    clan_row,
    compile_count,
    in_group,
    player_row,
    write_battlelog_json,
)


def _inputs(spark, base, *, tag="#ME", with_second_battle=False, player_name="alice"):
    battles = [battle()]
    if with_second_battle:
        battles.append(battle(battle_time="20250114T093000.000Z", crowns=0, opp_crowns=3))
    p = os.path.join(str(base), f"bl_{len(battles)}_{player_name}_{tag.strip('#')}.json")
    write_battlelog_json(p, [(tag, battles)])
    return dict(
        rankings=spark.createDataFrame(
            [(tag, "2025-01", 1, 2000)], schemas.SEASON_RANKINGS
        ),
        players=spark.createDataFrame(
            [player_row(tag, player_name, "#CLAN")], schemas.PLAYERS
        ),
        clans=spark.createDataFrame([clan_row("#CLAN")], schemas.CLANS),
        cards=spark.createDataFrame(
            [card_row(i) for i in range(1, 9)], schemas.CARDS
        ),
        battlelogs=read_battlelog_json(spark, p),
    )


CAL = dict(calendar_from="2025-01-01", calendar_months=3)


def _parquet_files(lake, name):
    return sorted(
        glob.glob(os.path.join(lake.path(name), "**", "*.parquet"), recursive=True)
    )


@pytest.fixture(scope="module")
def lifecycle(spark, tmp_path_factory):
    """Five chained run_etl calls on one lake; returns (lake, stats list,
    snapshots dict) for read-only assertions."""
    base = tmp_path_factory.mktemp("pipeline_lifecycle")
    lake = pipeline.Lake(spark, os.path.join(str(base), "lake"))
    stats = []
    snapshots = {}

    # run 1: first load
    stats.append(pipeline.run_etl(spark, lake, **_inputs(spark, base), **CAL))
    snapshots["after_first"] = {
        "matches": lake.read("matches").collect(),
        "files": {n: _parquet_files(lake, n) for n in ("seasons", "season_rankings")},
    }
    # run 2: same battle again + one new battle → incremental
    stats.append(
        pipeline.run_etl(
            spark, lake, **_inputs(spark, base, with_second_battle=True), **CAL
        )
    )
    snapshots["audit_after_two"] = pipeline.audit(spark, lake)
    snapshots["after_second"] = {
        "matches": lake.read("matches").collect(),
        "files": {n: _parquet_files(lake, n) for n in ("seasons", "season_rankings")},
    }
    # run 3: dim rename → MERGE update, no new facts
    stats.append(
        pipeline.run_etl(
            spark, lake, **_inputs(spark, base, player_name="alice-renamed"), **CAL
        )
    )
    snapshots["players_after_rename"] = lake.read("players").collect()
    # run 4: second player appears
    stats.append(
        pipeline.run_etl(
            spark, lake, **_inputs(spark, base, tag="#GONE", player_name="bob"), **CAL
        )
    )
    snapshots["players_after_bob"] = lake.read("players").collect()
    # run 5: #GONE fails to fetch → cascade purge child-first
    stats.append(
        pipeline.run_etl(
            spark, lake, **_inputs(spark, base), failed_players=["#GONE"], **CAL
        )
    )
    snapshots["final_audit"] = pipeline.audit(spark, lake)
    return lake, stats, snapshots


def test_first_run_loads_everything(lifecycle):
    _, stats, snapshots = lifecycle
    assert stats[0]["seasons_inserted"] == 3
    assert stats[0]["matches_inserted"] == 1
    assert stats[0]["match_cards_inserted"] == 8
    m = snapshots["after_first"]["matches"][0]
    assert m["season_id"] == "2025-01" and m["match_view_id"] == 1


def test_second_run_is_incremental_and_idempotent(lifecycle):
    _, stats, snapshots = lifecycle
    assert stats[1]["seasons_inserted"] == 0  # already present
    assert stats[1]["matches_inserted"] == 1  # only the new battle
    assert stats[1]["match_cards_inserted"] == 8
    rows = snapshots["after_second"]["matches"]
    assert len(rows) == 2
    # surrogate ids continue from the existing max (M6)
    assert sorted(r["match_view_id"] for r in rows) == [1, 2]
    assert snapshots["audit_after_two"]["dup_match_keys"] == 0


def test_merge_updates_dims(lifecycle):
    _, stats, snapshots = lifecycle
    assert stats[2]["players_total"] == 1
    assert snapshots["players_after_rename"][0]["player_name"] == "alice-renamed"


def test_purge_cascades_child_first(spark, lifecycle):
    lake, _, snapshots = lifecycle
    assert len(snapshots["players_after_bob"]) == 2
    assert lake.read("players").where(F.col("player_id") == "#GONE").count() == 0
    assert lake.read("matches").where(F.col("player_id") == "#GONE").count() == 0
    assert lake.read("match_cards").where(F.col("player_id") == "#GONE").count() == 0


def test_audit_clean_after_runs(lifecycle):
    _, _, snapshots = lifecycle
    counts = snapshots["final_audit"]
    assert counts == {k: 0 for k in counts}


# run_etl's return value for the five lifecycle runs, key for key
STATS = [
    {"seasons_inserted": 3, "clans_total": 1, "players_total": 1,
     "rankings_inserted": 1, "cards_total": 8, "matches_inserted": 1,
     "match_cards_inserted": 8},
    {"seasons_inserted": 0, "clans_total": 1, "players_total": 1,
     "rankings_inserted": 0, "cards_total": 8, "matches_inserted": 1,
     "match_cards_inserted": 8},
    {"seasons_inserted": 0, "clans_total": 1, "players_total": 1,
     "rankings_inserted": 0, "cards_total": 8, "matches_inserted": 0,
     "match_cards_inserted": 0},
    {"seasons_inserted": 0, "clans_total": 1, "players_total": 2,
     "rankings_inserted": 0, "cards_total": 8, "matches_inserted": 1,
     "match_cards_inserted": 8},
    {"seasons_inserted": 0, "clans_total": 1, "players_total": 2,
     "rankings_inserted": 0, "players_purged": 1, "cards_total": 8,
     "matches_inserted": 0, "match_cards_inserted": 0},
]


def test_stats_dicts_are_exact(lifecycle):
    _, stats, _ = lifecycle
    assert stats == STATS


def test_present_seasons_and_rankings_add_no_file(lifecycle):
    """Run 2's seasons and rankings are already in the lake: the
    skip-empty rule writes nothing (an empty flat append would still
    add a schema-only file)."""
    _, stats, snapshots = lifecycle
    assert stats[1]["seasons_inserted"] == stats[1]["rankings_inserted"] == 0
    assert snapshots["after_second"]["files"] == snapshots["after_first"]["files"]


def test_written_match_view_id_is_int64(lifecycle):
    lake, _, _ = lifecycle
    for name in ("matches", "match_cards"):
        files = _parquet_files(lake, name)
        assert files
        for f in files:
            assert pq.read_schema(f).field("match_view_id").type == pa.int64(), f


def test_read_starts_no_job(spark, lifecycle):
    lake, _, _ = lifecycle

    def read_all():
        frames = [lake.read(n) for n in pipeline.FACTS + pipeline.DIMS]
        frames.append(lake.read("players", version=lake.current_version("players")))
        return frames

    frames, jobs = in_group(spark, "lake-read-probe", read_all)
    assert jobs == []
    # declared columns, partition column last
    want = [f.name for f in schemas.MATCHES if f.name != "season_id"]
    assert frames[0].columns == want + ["season_id"]


def test_warm_run_etl_compiles_nothing(spark, tmp_path):
    """A repeated ``run_etl`` (purge included) + ``audit`` on a
    restored lake reuses every generated class: the codegen cache
    holds the cycle's classes and their names carry no stage id
    (``session.py``), so the second cycle compiles none."""
    seed = os.path.join(str(tmp_path), "seed")
    root = os.path.join(str(tmp_path), "lake")
    pipeline.run_etl(spark, pipeline.Lake(spark, seed), **_inputs(spark, tmp_path), **CAL)
    lake = pipeline.Lake(spark, root)
    ins = _inputs(spark, tmp_path, with_second_battle=True)

    def cycle():
        shutil.rmtree(root, ignore_errors=True)
        shutil.copytree(seed, root)
        before = compile_count(spark)
        stats = pipeline.run_etl(spark, lake, failed_players=["#GONE"], **ins, **CAL)
        counts = pipeline.audit(spark, lake)
        return compile_count(spark) - before, stats, counts

    _, stats, counts = cycle()
    assert stats["players_purged"] == 1 and not any(counts.values())
    assert cycle() == (0, stats, counts)


def _stage_lines(log):
    """``{stage: (start_s, wall_s, rows, jobs)}`` from a run log, in log
    order."""
    out = {}
    for ln in open(log):
        m = re.search(
            r"run_etl stage=(\S+) start_s=(\S+) wall_s=(\S+) rows=(\d+)"
            r" jobs=(\d+)",
            ln,
        )
        if m:
            out[m[1]] = (float(m[2]), float(m[3]), int(m[4]), int(m[5]))
    return out


def test_cards_null_elixir_coerced(spark, tmp_path):
    lake = pipeline.Lake(spark, os.path.join(str(tmp_path), "lake"))
    ins = _inputs(spark, tmp_path)
    ins["cards"] = spark.createDataFrame(
        [("99", "mystery", "epic", None, True)], schemas.CARDS
    )
    log_dir = os.path.join(str(tmp_path), "logs")
    _, run_jobs = in_group(
        spark, "run-log-probe",
        lambda: pipeline.run_etl(spark, lake, **ins, **CAL, log_dir=log_dir),
    )
    row = lake.read("cards").where(F.col("card_id") == "99").collect()[0]
    assert row["elixir_cost"] == 0  # db_ops.py:129 null→0
    (log,) = glob.glob(os.path.join(log_dir, "etl_log_*.log"))
    stages = _stage_lines(log)
    assert list(stages) == [
        "seasons", "clans", "players", "season_rankings", "cards", "matches",
        "match_cards",
    ]
    assert stages["cards"][2] == 1  # the one card
    assert all(start >= 0 and wall > 0 for start, wall, _, _ in stages.values())
    # match_cards starts once the matches stage has ended (ms rounding)
    start, wall, _, _ = stages["matches"]
    assert stages["match_cards"][0] >= start + wall - 0.002
    # each stage's jobs, and no other job, are the run's jobs
    assert all(jobs > 0 for *_, jobs in stages.values())
    assert sum(jobs for *_, jobs in stages.values()) == len(run_jobs)

    # a purge run logs a purge line, after the stages it reads
    _, run_jobs = in_group(
        spark, "run-log-probe-purge",
        lambda: pipeline.run_etl(
            spark, lake, **ins, failed_players=["#GONE"], **CAL, log_dir=log_dir
        ),
    )
    log = sorted(glob.glob(os.path.join(log_dir, "etl_log_*.log")))[-1]
    stages = _stage_lines(log)
    assert list(stages) == [
        "seasons", "clans", "players", "season_rankings", "purge", "cards",
        "matches", "match_cards",
    ]
    assert stages["purge"][2] == 1
    for read in ("players", "season_rankings"):
        start, wall, _, _ = stages[read]
        assert stages["purge"][0] >= start + wall - 0.002
    assert sum(jobs for *_, jobs in stages.values()) == len(run_jobs)


# ---- the stage DAG: FK commit order, job group, failure -------------


def _batch(spark, base, name, records, rank_season):
    """``run_etl`` inputs for players #ME and #GONE of clan #CLAN;
    ``records`` are the (player tag, battles) pairs of the battlelog."""
    path = os.path.join(str(base), f"{name}.json")
    write_battlelog_json(path, records)
    tags = ("#ME", "#GONE")
    return dict(
        rankings=spark.createDataFrame(
            [(t, rank_season, i + 1, 2000 - i) for i, t in enumerate(tags)],
            schemas.SEASON_RANKINGS,
        ),
        players=spark.createDataFrame(
            [player_row(t, t.strip("#").lower(), "#CLAN") for t in tags],
            schemas.PLAYERS,
        ),
        clans=spark.createDataFrame([clan_row("#CLAN")], schemas.CLANS),
        cards=spark.createDataFrame(
            [card_row(i) for i in range(1, 9)], schemas.CARDS
        ),
        battlelogs=read_battlelog_json(spark, path),
    )


@pytest.fixture(scope="module")
def dag_seed(spark, tmp_path_factory):
    """A lake after one load of #ME and #GONE, and the inputs of a run
    in which every stage writes: a new season, a new rankings season,
    a new battle, and #GONE purged."""
    base = tmp_path_factory.mktemp("dag_seed")
    root = os.path.join(str(base), "lake")
    first = _batch(
        spark, base, "first", [("#ME", [battle()]), ("#GONE", [battle()])],
        "2025-01",
    )
    pipeline.run_etl(spark, pipeline.Lake(spark, root), **first, **CAL)
    second = _batch(
        spark, base, "second",
        [("#ME", [battle(), battle(battle_time="20250214T093000.000Z")])],
        "2025-02",
    )
    return root, dict(
        second, failed_players=["#GONE"], calendar_from="2025-01-01",
        calendar_months=4,
    )


def _restored(spark, dag_seed, tmp_path):
    root, inputs = dag_seed
    dst = os.path.join(str(tmp_path), "lake")
    shutil.copytree(root, dst)
    return pipeline.Lake(spark, dst), dict(inputs)


DAG_STATS = {
    "seasons_inserted": 1, "clans_total": 1, "players_total": 2,
    "rankings_inserted": 2, "players_purged": 1, "cards_total": 8,
    "matches_inserted": 1, "match_cards_inserted": 8,
}
# Jobs each stage of that run starts. Each stage computes its delta
# once, so a recount, a second battlelog read or a purge join shows up
# here as a higher number.
DAG_STAGE_JOBS = {
    "seasons": 4, "clans": 2, "players": 2, "season_rankings": 4,
    "purge": 4, "cards": 2, "matches": 7, "match_cards": 1,
}
# (parent, child) for the 8 FKs of the reference DDL
FK_EDGES = [
    ("clans", "players"),
    ("seasons", "season_rankings"), ("players", "season_rankings"),
    ("seasons", "matches"), ("players", "matches"),
    ("matches", "match_cards"), ("players", "match_cards"),
    ("cards", "match_cards"),
]


def test_commits_follow_fk_order(spark, dag_seed, tmp_path, monkeypatch):
    """Each write is recorded when it becomes visible: the pointer swap
    of an overwrite, the return of an append. Inserts land parent
    first; the purge lands child first, after the writes it reads and
    before the appends that follow it."""
    lake, inputs = _restored(spark, dag_seed, tmp_path)
    seen = []
    replace, append = os.replace, pipeline.Lake.append

    def hold(label):
        # Hold back every write some later write must follow, so a
        # missing wait shows up as a reordering.
        last = ("append season_rankings", "append match_cards")
        if label not in last and not (
            label == "swap players" and "swap season_rankings" in seen
        ):
            time.sleep(0.25)

    def swap(src, dst):
        label = "swap " + os.path.basename(os.path.dirname(dst))
        hold(label)
        replace(src, dst)
        seen.append(label)

    def appended(self, name, df):
        hold(f"append {name}")
        append(self, name, df)
        seen.append(f"append {name}")

    monkeypatch.setattr(os, "replace", swap)
    monkeypatch.setattr(pipeline.Lake, "append", appended)
    stats = pipeline.run_etl(spark, lake, **inputs)
    monkeypatch.undo()

    assert stats == DAG_STATS
    at = {}
    for i, label in enumerate(seen):
        at.setdefault(label, []).append(i)
    assert {k: len(v) for k, v in at.items()} == {
        "append seasons": 1, "swap clans": 1, "swap players": 2,
        "append season_rankings": 1, "swap match_cards": 1,
        "swap matches": 1, "swap season_rankings": 1, "swap cards": 1,
        "append matches": 1, "append match_cards": 1,
    }
    insert = {
        "seasons": at["append seasons"][0],
        "clans": at["swap clans"][0],
        "players": at["swap players"][0],
        "season_rankings": at["append season_rankings"][0],
        "cards": at["swap cards"][0],
        "matches": at["append matches"][0],
        "match_cards": at["append match_cards"][0],
    }
    for parent, child in FK_EDGES:
        assert insert[parent] < insert[child], (parent, child, seen)
    purge = [at["swap match_cards"][0], at["swap matches"][0],
             at["swap season_rankings"][0], at["swap players"][1]]
    assert purge == sorted(purge), seen
    assert insert["players"] < purge[0] and insert["season_rankings"] < purge[0]
    assert purge[1] < insert["matches"] and purge[0] < insert["match_cards"]


def test_jobs_run_in_callers_group(spark, dag_seed, tmp_path):
    """Every job a run starts carries the caller's job group, so
    ``cancelJobGroup`` stops the whole run, and the description of the
    stage that started it; each stage starts ``DAG_STAGE_JOBS`` jobs."""
    lake, inputs = _restored(spark, dag_seed, tmp_path)
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()

    def jobs():
        got = store.jobsList(None)
        return [got.apply(i) for i in range(got.size())]

    def opt(o):
        return o.get() if o.isDefined() else None

    seen_before = {j.jobId() for j in jobs()}
    sc.setJobGroup("etl-probe", "run_etl under a caller's group")
    try:
        pipeline.run_etl(spark, lake, **inputs)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    run = [
        (opt(j.jobGroup()), opt(j.description()))
        for j in jobs() if j.jobId() not in seen_before
    ]
    assert run and {group for group, _ in run} == {"etl-probe"}
    assert {desc for _, desc in run} == {
        f"run_etl {s}" for s in (
            "seasons", "clans", "players", "season_rankings", "purge",
            "cards", "matches", "match_cards",
        )
    }
    per_stage = {s: 0 for s in DAG_STAGE_JOBS}
    for _, desc in run:
        per_stage[desc.removeprefix("run_etl ")] += 1
    assert per_stage == DAG_STAGE_JOBS


def test_failed_stage_commits_no_dependent(spark, dag_seed, tmp_path):
    """A clans batch without a declared column fails the clans stage.
    ``run_etl`` re-raises that error once every stage thread has
    ended; the stages that wait on clans, directly or not, commit
    nothing and leave no staged snapshot."""
    lake, inputs = _restored(spark, dag_seed, tmp_path)
    inputs["clans"] = inputs["clans"].drop("members")
    held = ("players", "season_rankings", "matches", "match_cards")

    def state():
        return {n: (lake.current_version(n), _parquet_files(lake, n)) for n in held}

    before = state()
    threads = set(threading.enumerate())
    with pytest.raises(AnalysisException, match="members"):
        pipeline.run_etl(spark, lake, **inputs)
    assert set(threading.enumerate()) <= threads
    assert list(spark.sparkContext.statusTracker().getActiveJobsIds()) == []
    assert state() == before


def test_commit_chain_holds_under_thread_contention(spark):
    """More threads than cores, started last-first, each waiting for the
    one before it, with a short switch interval: the chain completes in
    order; a failure half-way cancels the rest, and the first error is
    re-raised once every thread has ended."""
    n = 24

    def chain(fail_at=None):
        commits, done = pipeline._Commits(), []

        def link(i):
            if i:
                commits.wait(f"k{i - 1}")
            if i == fail_at:
                raise ValueError(f"link {i}")
            done.append(i)
            commits.mark(f"k{i}")

        targets = [functools.partial(link, i) for i in reversed(range(n))]
        errors = []

        def run():
            try:
                pipeline._run_all(spark, commits, targets)
            except ValueError as exc:
                errors.append(exc)

        t = threading.Thread(target=run)
        t.start()
        t.join(timeout=60)
        assert not t.is_alive()
        return done, errors

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        assert chain() == (list(range(n)), [])
        done, errors = chain(fail_at=n // 2)
    finally:
        sys.setswitchinterval(interval)
    assert done == list(range(n // 2))
    assert [str(e) for e in errors] == [f"link {n // 2}"]


# ---- the new-matches delta: dedup and the deck handoff ----------------


def test_battle_listed_twice_lands_once(spark, tmp_path):
    """A battlelog that lists one battle three times (twice in one
    record, once more in a retried fetch's record with another global
    rank) inserts one match view and its 8 cards (uq_match_key). The
    copy kept is the one whose columns sort first: the lower rank."""
    lake = pipeline.Lake(spark, os.path.join(str(tmp_path), "lake"))
    ins = _inputs(spark, tmp_path)
    path = os.path.join(str(tmp_path), "twice.json")
    write_battlelog_json(path, [
        ("#ME", [battle(), battle()]),
        ("#ME", [battle(global_rank=40)]),
    ])
    ins["battlelogs"] = read_battlelog_json(spark, path)
    stats = pipeline.run_etl(spark, lake, **ins, **CAL)
    assert (stats["matches_inserted"], stats["match_cards_inserted"]) == (1, 8)
    (row,) = lake.read("matches").collect()
    assert (row["match_view_id"], row["current_global_rank"]) == (1, 40)
    counts = pipeline.audit(spark, lake)
    assert counts == {k: 0 for k in counts}


def test_new_match_cards_equal_reference_flatten(spark, tmp_path):
    """The match_cards a run appends are ``flatten_match_cards`` of its
    battlelog semi-joined to the keys it inserted, each under its
    match's id, over a battle already in the lake, one not
    pathOfLegend, one with a NULL team and one with an empty deck."""
    lake = pipeline.Lake(spark, os.path.join(str(tmp_path), "lake"))
    pipeline.run_etl(spark, lake, **_inputs(spark, tmp_path), **CAL)
    no_team = battle(battle_time="20250115T100000.000Z")
    no_team["team"] = None
    path = os.path.join(str(tmp_path), "mixed.json")
    write_battlelog_json(path, [("#ME", [
        battle(),  # loaded by the first run
        battle(btype="casual2v2", battle_time="20250114T100000.000Z"),
        no_team,
        battle(battle_time="20250116T100000.000Z", cards=[]),
        battle(battle_time="20250117T100000.000Z", cards=range(11, 19)),
    ])])
    ins = dict(_inputs(spark, tmp_path), battlelogs=read_battlelog_json(spark, path))
    stats = pipeline.run_etl(spark, lake, **ins, **CAL)
    new = lake.read("matches").where(F.col("match_view_id") > 1)
    assert stats["matches_inserted"] == new.count() == 3
    want = flatten_match_cards(ins["battlelogs"]).join(
        new.select("match_key"), "match_key", "left_semi"
    )
    got = lake.read("match_cards").where(F.col("match_view_id") > 1)
    cols = ["match_key", "player_id", "card_id"]
    assert sorted(got.select(*cols).collect()) == sorted(want.select(*cols).collect())
    assert stats["match_cards_inserted"] == want.count() == 8
    ids = {r["match_key"]: r["match_view_id"] for r in new.collect()}
    assert all(ids[r["match_key"]] == r["match_view_id"] for r in got.collect())


# ---- a lake whose history holds match_view_id as int ------------------


def _match(key, player, season, *, view_id, crowns=2):
    """A ``schemas.MATCHES`` row."""
    t = dt.datetime(2025, 1, 13, 10, 15)
    return (view_id, key, t, crowns > 1, 7, player, "#OPP", season,
            50, 1800, 25, crowns, 1, 5000, 1000, 2000, None)


def _as_int(schema):
    return T.StructType([
        T.StructField(f.name, T.IntegerType(), f.nullable)
        if f.name == "match_view_id" else f
        for f in schema.fields
    ])


def test_int_history_plus_bigint_appends_read_back(spark, tmp_path):
    """History written with an ``int`` match_view_id (as run_etl wrote
    it before the cast) next to ``bigint`` appends: the declared-schema
    read widens the old files instead of failing on the mix."""
    lake = pipeline.Lake(spark, os.path.join(str(tmp_path), "lake"))
    lake.append("cards", spark.createDataFrame(
        [card_row(1, name="hog")], schemas.CARDS))
    history = [(1, "K1", "#A", "2024-12"), (2, "K2", "#A", "2024-12")]
    new = [(2**31 + 5, "K3", "#A", "2025-01")]
    for rows, schema in ((history, _as_int(schemas.MATCHES)), (new, schemas.MATCHES)):
        lake.append("matches", spark.createDataFrame(
            [_match(k, p, s, view_id=v) for v, k, p, s in rows], schema))
    for rows, schema in (
        (history, _as_int(schemas.MATCH_CARDS)), (new, schemas.MATCH_CARDS)
    ):
        lake.append("match_cards", spark.createDataFrame(
            [(v, k, p, "1") for v, k, p, _ in rows], schema))

    got = sorted(r["match_view_id"] for r in lake.read("matches").collect())
    assert got == [1, 2, 2**31 + 5]
    assert lake.read("match_cards").schema["match_view_id"].dataType == T.LongType()
    usage = {
        season: [(r["card_name"], float(r["usage_rate"]))
                 for r in analytics.usp_card_usage_wins(lake, "hog", season).collect()]
        for season in ("2024-12", "2025-01")
    }
    assert usage == {"2024-12": [("hog", 100.0)], "2025-01": [("hog", 100.0)]}


# ---- the audit counts each violation kind under its own label --------


def test_audit_counts_one_violation_of_each_kind(spark, tmp_path):
    lake = pipeline.Lake(spark, os.path.join(str(tmp_path), "lake"))
    jan, feb = dt.datetime(2025, 1, 1), dt.datetime(2025, 2, 1)
    lake.append("seasons", spark.createDataFrame(
        [("2025-01", jan, feb), ("2025-01", jan, feb),  # duplicate id
         ("2025-02", feb, jan)],  # start after end
        schemas.SEASONS))
    lake.append("players", spark.createDataFrame(
        [player_row("#A")], schemas.PLAYERS))
    lake.append("matches", spark.createDataFrame(
        [_match("K1", "#A", "2025-01", view_id=1),
         _match("K1", "#A", "2025-01", view_id=2),  # duplicate key
         _match("K2", "#NOBODY", "2025-01", view_id=3),  # orphan player
         _match("K3", "#A", "2025-01", view_id=4, crowns=5)],  # crowns > 3
        schemas.MATCHES))
    lake.append("match_cards", spark.createDataFrame(
        [(1, "K1", "#A", str(c)) for c in range(8)]
        + [(4, "K3", "#A", str(c)) for c in range(7)],  # 7-card deck
        schemas.MATCH_CARDS))
    assert pipeline.audit(spark, lake) == {
        "dup_match_keys": 1,
        "dup_season_ids": 1,
        "orphan_match_players": 1,
        "bad_crowns": 1,
        "bad_decks": 1,
        "season_date_violations": 1,
    }


def test_violation_counts_keeps_each_label_with_its_count(spark):
    """Distinct counts per check, so a label swapped inside the one
    action shows up (the audit lake above has 1 everywhere)."""
    frames = {
        name: spark.range(n).withColumnRenamed("id", "k")
        for name, n in (("none", 0), ("one", 1), ("two", 2), ("three", 3))
    }
    rows = quality.violation_counts(frames).collect()
    assert [(r["check_name"], r["n_violations"]) for r in rows] == [
        ("none", 0), ("one", 1), ("two", 2), ("three", 3)
    ]

