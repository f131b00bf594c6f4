"""Battlelog JSON ingest + flatten — the reference's core transform
(S5 + P1-P16; /root/reference/src/api_extract.py:162-252) as a single
declarative DataFrame program.

The reference walks nested dicts row-by-row in Python; here the raw
document lands as ``ArrayType(StructType)`` and flattening is
``explode``/``getField``/``element_at`` — all JVM-side, fully
code-generated, no UDFs (SURVEY.md §2.9: zero UDFs needed).

Input shape (one record per tracked player):
    {"player_tag": "#ABC", "battles": [ <battlelog match doc>, ... ]}

Scale notes (100 TB of battlelog JSON)
--------------------------------------
- ``spark.read.json`` with an explicit schema never samples/infers —
  single pass, predictable types, corrupt rows → nulls.
- The transform is narrow (explode + projections): zero shuffles
  until the optional season range join (broadcast, still
  shuffle-free) — scales linearly with input splits.
- match_cards explodes 8× rows; project to (match_key, player_id,
  card_id) FIRST so the 8× blow-up carries three thin columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from .. import schemas
from ..functions.scalar import (
    BATTLE_TIME_FMT,
    is_win,
    parse_battle_time,
    synth_match_key,
    tower_hp,
)
from ..operators.rangejoin import interval_join

PLAYER_BATTLELOG = T.StructType(
    [
        T.StructField("player_tag", T.StringType(), False),
        T.StructField("battles", T.ArrayType(schemas.BATTLELOG_MATCH), True),
    ]
)


def read_battlelog_json(spark: SparkSession, path: str) -> DataFrame:
    """Land raw battlelog JSON lines with the explicit schema."""
    return spark.read.schema(PLAYER_BATTLELOG).json(path)


def _match_views(raw: DataFrame, seasons: DataFrame | None = None) -> DataFrame:
    """Raw battlelog → one row per match view: the ``matches`` columns
    plus ``deck``, the tracked player's card ids as ``array<string>``
    (P14, api_extract.py:249). Both public flattens derive from this
    one walk, so the pathOfLegend filter and the key synthesis have a
    single copy.

    Applies, in reference order: explode (nested array iteration),
    pathOfLegend filter (P4, :217, :250), strict timestamp parse with
    null-coercion (P12, :213-214), is_win derivation (P9, :212),
    match_key synthesis (P10, :216), tower-HP array defaults (P13,
    :218-219), and — when a ``seasons`` calendar is given — the
    broadcast range join replacing the per-row season lookup (J7,
    helper_functions.py:76-85)."""
    m = raw.select(
        F.col("player_tag").alias("player_id"),
        F.explode("battles").alias("b"),
    )
    team0 = F.try_element_at(F.col("b.team"), F.lit(1))
    opp0 = F.try_element_at(F.col("b.opponent"), F.lit(1))
    flat = (
        m.where(F.col("b.type") == "pathOfLegend")
        .select(
            "player_id",
            parse_battle_time(F.col("b.battleTime")).alias("battle_time"),
            F.col("b.leagueNumber").alias("league"),
            team0.alias("t0"),
            opp0.alias("o0"),
        )
        .where(F.col("battle_time").isNotNull())
    )
    out = flat.select(
        synth_match_key(F.col("battle_time"), F.col("player_id")).alias("match_key"),
        "battle_time",
        is_win(F.col("t0.crowns"), F.col("o0.crowns")).alias("is_win"),
        "league",
        "player_id",
        F.col("o0.tag").alias("opponent_id"),
        F.col("t0.globalRank").alias("current_global_rank"),
        F.col("t0.startingTrophies").alias("starting_rating"),
        F.col("t0.trophyChange").alias("rating_change"),
        F.col("t0.crowns").alias("crowns"),
        F.col("o0.crowns").alias("opp_crowns"),
        F.col("t0.kingTowerHitPoints").alias("king_tower_hp"),
        tower_hp(F.col("t0.princessTowersHitPoints"), 0).alias("princess_tower1_hp"),
        tower_hp(F.col("t0.princessTowersHitPoints"), 1).alias("princess_tower2_hp"),
        F.col("t0.elixirLeaked").cast("decimal(5,2)").alias("elixir_leaked"),
        F.col("t0.cards.id").cast("array<string>").alias("deck"),
    )
    if seasons is not None:
        out = interval_join(out, seasons, "battle_time", how="left").drop(
            "sn_start_date", "sn_end_date"
        )
    return out


def flatten_matches(raw: DataFrame, seasons: DataFrame | None = None) -> DataFrame:
    """Raw battlelog → ``matches`` rows (api_extract.py:176-227): the
    match views without their deck."""
    return _match_views(raw, seasons).drop("deck")


def flatten_match_cards(raw: DataFrame) -> DataFrame:
    """Raw battlelog → ``match_cards`` rows: exactly the 8 deck cards
    of the tracked player's perspective (api_extract.py:230-252),
    keyed by the natural ``match_key`` (no IDENTITY round-trip —
    SURVEY.md M6 option (a))."""
    return _match_views(raw).select(
        "match_key", "player_id", F.explode("deck").alias("card_id")
    )
