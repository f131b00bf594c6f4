"""Output checks of the benchmark's ops, all run outside timed windows.

Oracled queries are compared with their DuckDB twin (``plans.
all_oracles()``) by ``tools/check_oracle.compare``, the repository's
parity gate: same row count, same column names, same canonical dtypes,
and exact, order-insensitive value equality after normalisation.
Rows-only queries get a schema and row-count check (plus a recall check
for q74). The E1 BI reads are compared with DuckDB over the lake's own
parquet files.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd

from tools.check_oracle import TABLES, compare


def fixture_oracle(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def check_rows_only(got: pd.DataFrame, columns: list[str], rows: int) -> list[str]:
    problems = []
    if sorted(got.columns) != sorted(columns):
        problems.append(f"columns {sorted(got.columns)} != {sorted(columns)}")
    if len(got) != rows:
        problems.append(f"row count {len(got)} != {rows}")
    return problems


def exact_topk(sf_dir: str, query_ids: list[int], k: int) -> set[tuple[int, int]]:
    """Exact cosine top-``k`` neighbours (self excluded) of each query
    vector, by brute force in numpy."""
    emb = pd.read_parquet(os.path.join(sf_dir, "embeddings.parquet"))
    ids = emb["vec_id"].to_numpy()
    x = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    out = set()
    for q in query_ids:
        sims = x @ x[ids == q][0]
        sims[ids == q] = -np.inf
        out |= {(q, int(ids[j])) for j in np.argsort(-sims, kind="stable")[:k]}
    return out


# ---------------------------------------------------------------- E1 --

def lake_oracle(lake) -> duckdb.DuckDBPyConnection:
    """DuckDB views over the lake's current parquet snapshots."""
    con = duckdb.connect()
    for name in ("players", "clans", "cards", "season_rankings", "match_cards",
                 "matches"):
        glob = os.path.join(lake.data_dir(name), "**", "*.parquet")
        opts = (", hive_partitioning = true, hive_types = {'season_id': VARCHAR}"
                if name in lake.PARTITIONING else "")
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{glob}'{opts})"
        )
    return con


def bi_oracle_sql(probe_player: str, probe_card: str, season: str) -> dict[str, str]:
    """DuckDB twins of the four ``analytics`` reads (the reference's two
    views and two procs). The usage rate is rounded half-up in exact
    integer arithmetic, as Spark's decimal cast does."""
    return {
        "vw_recent_rankings": """
            SELECT sr.player_id, p.player_name, sr.season_id, sr.rank, sr.rating
            FROM season_rankings sr JOIN players p USING (player_id)
            WHERE sr.season_id = (SELECT max(season_id) FROM season_rankings)
            ORDER BY sr.rank, sr.player_id LIMIT 100""",
        "vw_player_clan": """
            SELECT p.player_id, p.player_name, c.clan_name, c.clan_score, c.members
            FROM players p JOIN clans c USING (clan_id)""",
        "usp_player_win_rate": f"""
            SELECT player_id,
                   round(sum(is_win::DOUBLE) / count(match_view_id) * 100, 2)
                       AS win_rate
            FROM matches
            WHERE player_id = '{probe_player}' AND season_id = '{season}'
            GROUP BY player_id""",
        "usp_card_usage_wins": f"""
            WITH tot AS (SELECT count(match_view_id) AS n FROM matches
                         WHERE season_id = '{season}'),
            j AS (SELECT c.card_id, c.card_name, m.match_view_id, m.is_win
                  FROM match_cards mc
                  JOIN cards c ON mc.card_id = c.card_id
                  JOIN matches m ON mc.match_view_id = m.match_view_id
                  WHERE c.card_name = '{probe_card}' AND m.season_id = '{season}')
            SELECT card_id, card_name,
                   ((count(match_view_id) * 20000 + any_value(tot.n))
                       // (2 * any_value(tot.n)))::DOUBLE / 100 AS usage_rate,
                   round(sum(is_win::DOUBLE) / count(match_view_id) * 100, 2)
                       AS win_rate
            FROM j, tot GROUP BY card_id, card_name""",
    }


def check_bi(con, name: str, sql: str, got: pd.DataFrame) -> list[str]:
    """Decimal columns come back from DuckDB as floats, so compare values
    (decimals normalise to their float repr) without the dtype rule."""
    return [p for p in compare(name, got, con.execute(sql).df())
            if not p.startswith("dtype[")]
