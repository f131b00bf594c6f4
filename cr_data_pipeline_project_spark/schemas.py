"""Explicit schemas — never infer.

Two groups:

- ``DOMAIN``: the reference's 7-table star schema, derived from
  ``/root/reference/sql/db_creation_script.sql:22-117`` and the extract
  functions in ``/root/reference/src/api_extract.py`` (see SURVEY.md
  §1). Used by the reference-parity ingest/mutation operators and
  their tests.
- ``FIXTURE``: the driver's synthetic TPC-H-ish tables
  (``/root/testdata/sf*/``), used by the ``queries()`` surface.

Spark has no enforced PK/FK/CHECK constraints; the DDL's integrity
rules become data-quality assertion operators
(:mod:`..operators.quality`).
"""

from __future__ import annotations

from pyspark.sql import types as T

# --------------------------------------------------------------------
# Reference domain schema (db_creation_script.sql:22-117)
# --------------------------------------------------------------------

SEASONS = T.StructType(
    [
        T.StructField("season_id", T.StringType(), False),  # PK 'yyyy-MM'
        T.StructField("sn_start_date", T.TimestampType(), False),
        T.StructField("sn_end_date", T.TimestampType(), False),
    ]
)

PLAYERS = T.StructType(
    [
        T.StructField("player_id", T.StringType(), False),  # PK '#TAG'
        T.StructField("player_name", T.StringType(), True),
        T.StructField("exp_lvl", T.IntegerType(), True),  # CHECK <= 70
        T.StructField("road_trophies", T.IntegerType(), True),
        T.StructField("best_road_trophies", T.IntegerType(), True),
        T.StructField("wins", T.IntegerType(), True),
        T.StructField("losses", T.IntegerType(), True),
        T.StructField("life_time_battles", T.IntegerType(), True),
        T.StructField("max_challenge_wins", T.IntegerType(), True),  # CHECK <= 20
        T.StructField("clan_id", T.StringType(), True),  # FK clans, nullable
        T.StructField("url_encoded_pid", T.StringType(), True),  # UNIQUE
    ]
)

CLANS = T.StructType(
    [
        T.StructField("clan_id", T.StringType(), False),  # PK
        T.StructField("clan_name", T.StringType(), True),
        T.StructField("clan_type", T.StringType(), True),
        T.StructField("badge_id", T.StringType(), True),  # numeric-as-string
        T.StructField("clan_score", T.IntegerType(), True),
        T.StructField("clan_war_trophies", T.IntegerType(), True),
        T.StructField("clan_location", T.StringType(), True),
        T.StructField("required_trophies", T.IntegerType(), True),
        T.StructField("members", T.IntegerType(), True),  # CHECK <= 50
        T.StructField("url_encoded_cid", T.StringType(), True),
    ]
)

CARDS = T.StructType(
    [
        T.StructField("card_id", T.StringType(), False),  # PK numeric-as-string
        T.StructField("card_name", T.StringType(), True),
        T.StructField("rarity", T.StringType(), True),
        T.StructField("elixir_cost", T.IntegerType(), True),  # CHECK 0-10, nullable
        T.StructField("evo_status", T.BooleanType(), True),
    ]
)

SEASON_RANKINGS = T.StructType(
    [
        T.StructField("player_id", T.StringType(), False),  # composite PK
        T.StructField("season_id", T.StringType(), False),  # composite PK
        T.StructField("rank", T.IntegerType(), True),  # 1-100
        T.StructField("rating", T.IntegerType(), True),
    ]
)

MATCHES = T.StructType(
    [
        T.StructField("match_view_id", T.LongType(), True),  # surrogate (derived)
        T.StructField("match_key", T.StringType(), False),  # UNIQUE natural key
        T.StructField("battle_time", T.TimestampType(), False),
        T.StructField("is_win", T.BooleanType(), True),
        T.StructField("league", T.IntegerType(), True),
        T.StructField("player_id", T.StringType(), False),
        T.StructField("opponent_id", T.StringType(), True),
        T.StructField("season_id", T.StringType(), True),
        T.StructField("current_global_rank", T.IntegerType(), True),
        T.StructField("starting_rating", T.IntegerType(), True),
        T.StructField("rating_change", T.IntegerType(), True),
        T.StructField("crowns", T.IntegerType(), True),
        T.StructField("opp_crowns", T.IntegerType(), True),
        T.StructField("king_tower_hp", T.IntegerType(), True),
        T.StructField("princess_tower1_hp", T.IntegerType(), True),
        T.StructField("princess_tower2_hp", T.IntegerType(), True),
        T.StructField("elixir_leaked", T.DecimalType(5, 2), True),
    ]
)

MATCH_CARDS = T.StructType(
    [
        T.StructField("match_view_id", T.LongType(), True),
        T.StructField("match_key", T.StringType(), False),
        T.StructField("player_id", T.StringType(), False),
        T.StructField("card_id", T.StringType(), False),
    ]
)

# Raw battlelog document as returned by the API (api_extract.py:169-196,
# 230-239) — array of nested match docs; used by the ingest/flatten path.
BATTLELOG_CARD = T.StructType(
    [
        T.StructField("id", T.LongType(), True),
        T.StructField("name", T.StringType(), True),
    ]
)
BATTLELOG_TEAMMATE = T.StructType(
    [
        T.StructField("tag", T.StringType(), True),
        T.StructField("globalRank", T.IntegerType(), True),
        T.StructField("startingTrophies", T.IntegerType(), True),
        T.StructField("trophyChange", T.IntegerType(), True),
        T.StructField("crowns", T.IntegerType(), True),
        T.StructField("kingTowerHitPoints", T.IntegerType(), True),
        T.StructField(
            "princessTowersHitPoints", T.ArrayType(T.IntegerType()), True
        ),
        T.StructField("elixirLeaked", T.DoubleType(), True),
        T.StructField("cards", T.ArrayType(BATTLELOG_CARD), True),
    ]
)
BATTLELOG_OPPONENT = T.StructType(
    [
        T.StructField("tag", T.StringType(), True),
        T.StructField("crowns", T.IntegerType(), True),
    ]
)
BATTLELOG_MATCH = T.StructType(
    [
        T.StructField("battleTime", T.StringType(), True),  # yyyyMMdd'T'HHmmss.SSS'Z'
        T.StructField("type", T.StringType(), True),
        T.StructField("leagueNumber", T.IntegerType(), True),
        T.StructField("team", T.ArrayType(BATTLELOG_TEAMMATE), True),
        T.StructField("opponent", T.ArrayType(BATTLELOG_OPPONENT), True),
    ]
)

DOMAIN: dict[str, T.StructType] = {
    "seasons": SEASONS,
    "players": PLAYERS,
    "clans": CLANS,
    "cards": CARDS,
    "season_rankings": SEASON_RANKINGS,
    "matches": MATCHES,
    "match_cards": MATCH_CARDS,
}

# The DDL's 8 foreign keys (db_creation_script.sql:122-159) as
# (child table, column, parent table). Unenforced: ``pipeline.run_etl``
# commits a child's inserts only after its parents' writes.
FOREIGN_KEYS: tuple[tuple[str, str, str], ...] = (
    ("players", "clan_id", "clans"),
    ("season_rankings", "season_id", "seasons"),
    ("season_rankings", "player_id", "players"),
    ("matches", "season_id", "seasons"),
    ("matches", "player_id", "players"),
    ("match_cards", "match_view_id", "matches"),
    ("match_cards", "player_id", "players"),
    ("match_cards", "card_id", "cards"),
)

# --------------------------------------------------------------------
# Driver fixture tables (/root/testdata/sf*/ — see FIXTURES.md §B)
# --------------------------------------------------------------------

REGION = T.StructType(
    [
        T.StructField("r_regionkey", T.IntegerType(), True),
        T.StructField("r_name", T.StringType(), True),
    ]
)
NATION = T.StructType(
    [
        T.StructField("n_nationkey", T.IntegerType(), True),
        T.StructField("n_name", T.StringType(), True),
        T.StructField("n_regionkey", T.IntegerType(), True),
    ]
)
CUSTOMER = T.StructType(
    [
        T.StructField("c_custkey", T.LongType(), True),
        T.StructField("c_name", T.StringType(), True),
        T.StructField("c_nationkey", T.IntegerType(), True),
        T.StructField("c_acctbal", T.DoubleType(), True),
        T.StructField("c_mktsegment", T.StringType(), True),
    ]
)
SUPPLIER = T.StructType(
    [
        T.StructField("s_suppkey", T.LongType(), True),
        T.StructField("s_name", T.StringType(), True),
        T.StructField("s_nationkey", T.IntegerType(), True),
        T.StructField("s_acctbal", T.DoubleType(), True),
    ]
)
PART = T.StructType(
    [
        T.StructField("p_partkey", T.LongType(), True),
        T.StructField("p_name", T.StringType(), True),
        T.StructField("p_brand", T.StringType(), True),
        T.StructField("p_type", T.StringType(), True),
        T.StructField("p_size", T.IntegerType(), True),
        T.StructField("p_retailprice", T.DoubleType(), True),
    ]
)
ORDERS = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType(), True),
        T.StructField("o_custkey", T.LongType(), True),
        T.StructField("o_orderstatus", T.StringType(), True),
        T.StructField("o_totalprice", T.DoubleType(), True),
        T.StructField("o_orderdate", T.TimestampType(), True),
        T.StructField("o_orderpriority", T.StringType(), True),
    ]
)
LINEITEM = T.StructType(
    [
        T.StructField("l_orderkey", T.LongType(), True),
        T.StructField("l_partkey", T.LongType(), True),
        T.StructField("l_suppkey", T.LongType(), True),
        T.StructField("l_linenumber", T.IntegerType(), True),
        T.StructField("l_quantity", T.DoubleType(), True),
        T.StructField("l_extendedprice", T.DoubleType(), True),
        T.StructField("l_discount", T.DoubleType(), True),
        T.StructField("l_tax", T.DoubleType(), True),
        T.StructField("l_returnflag", T.StringType(), True),
        T.StructField("l_linestatus", T.StringType(), True),
        T.StructField("l_shipdate", T.TimestampType(), True),
    ]
)
EVENTS = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),  # post-catalog-fixup
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),  # JSON
    ]
)
DOCUMENTS = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("n_chars", T.LongType(), True),
    ]
)
EMBEDDINGS = T.StructType(
    [
        T.StructField("vec_id", T.LongType(), True),
        T.StructField("embedding", T.ArrayType(T.FloatType()), True),
        T.StructField("label", T.IntegerType(), True),
    ]
)

FIXTURE: dict[str, T.StructType] = {
    "region": REGION,
    "nation": NATION,
    "customer": CUSTOMER,
    "supplier": SUPPLIER,
    "part": PART,
    "orders": ORDERS,
    "lineitem": LINEITEM,
    "events": EVENTS,
    "documents": DOCUMENTS,
    "embeddings": EMBEDDINGS,
}

FIXTURE_TABLES = tuple(FIXTURE)
