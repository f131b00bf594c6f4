"""Synthetic reference-domain fixtures (FIXTURES.md §A), including
the invariants worth violating on purpose: dup match_keys across
batches, failed players, re-appearing entities with changed
attributes, unparseable battle times, short tower arrays,
non-pathOfLegend battle types."""

import json


def battle(
    battle_time="20250113T101500.000Z",
    btype="pathOfLegend",
    league=7,
    crowns=2,
    opp_crowns=1,
    towers=(1000, 2000),
    cards=range(1, 9),
    opp_tag="#OPP",
    global_rank=50,
    starting=1800,
    change=25,
    elixir=3.5,
):
    return {
        "battleTime": battle_time,
        "type": btype,
        "leagueNumber": league,
        "team": [
            {
                "tag": "#ME",
                "globalRank": global_rank,
                "startingTrophies": starting,
                "trophyChange": change,
                "crowns": crowns,
                "kingTowerHitPoints": 5000,
                "princessTowersHitPoints": list(towers),
                "elixirLeaked": elixir,
                "cards": [{"id": int(c), "name": f"card{c}"} for c in cards],
            }
        ],
        "opponent": [{"tag": opp_tag, "crowns": opp_crowns}],
    }


def write_battlelog_json(path, records):
    """records: list of (player_tag, [battle dicts])"""
    with open(path, "w") as f:
        for tag, battles in records:
            f.write(json.dumps({"player_tag": tag, "battles": battles}) + "\n")


def player_row(pid, name="p", clan_id=None, road_trophies=1500):
    return (pid, name, 10, road_trophies, 1600, 100, 80, 200, 5, clan_id,
            pid.replace("#", "%23"))


def clan_row(cid, name="c", members=30):
    return (cid, name, "open", "123", 50000, 2000, "Earth", 1000, members,
            cid.replace("#", "%23"))


def card_row(cid, name="card", elixir=3):
    return (str(cid), name, "common", elixir, False)


import contextlib


@contextlib.contextmanager
def few_partitions(spark, n=2):
    """Temporarily drop shuffle partitions. Streaming state-store
    partition count is fixed at first query start from
    ``spark.sql.shuffle.partitions``; 8 state partitions (each a
    task, and for applyInPandasWithState a Python worker round-trip)
    over 3-row fixtures is pure per-micro-batch overhead."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def compile_count(spark):
    """Classes Janino has compiled in this JVM so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def in_group(spark, group, fn):
    """Run ``fn()`` under job group ``group``; return its result and the
    ids of the jobs the group started, read once the listener bus has
    drained."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))
