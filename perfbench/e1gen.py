"""Seeded generator of one E1 ETL run's inputs and its expected results.

It stands in for the REST extraction the reference performs twice a
day (``sources.rest`` in the engine): ranked players, tracked players,
clans, cards and one battlelog document per tracked player, plus a lake
history that earlier runs would have loaded. The default figures are
the reference's logged traffic (BASELINE.md): about 260 tracked players
with their last 30 battles each, of which about 5 per player are new,
600 clans, 120 cards, 100 ranked players and 3 players whose fetch
failed. Those three are purged from the lake by cascade and appear in
neither the players batch nor the battlelog batch, as in the reference.

Everything here is plain Python driven by one ``random.Random(seed)``:
the same seed gives byte-identical inputs, and the expected
``run_etl`` stats follow from the generated sets alone.
"""

from __future__ import annotations

import datetime as dt
import json
import random
from dataclasses import dataclass
from decimal import Decimal

CALENDAR_FROM = "2025-01-01"
CALENDAR_MONTHS = 6
HISTORY_SEASONS = 5  # seasons an earlier run already loaded
TRACKED_PLAYERS = 260
BATTLES_PER_LOG = 30
NEW_PER_PLAYER = (3, 7)  # inclusive range, mean 5
OTHER_MODE_PER_LOG = (0, 2)  # non-pathOfLegend battles
CLANS = 600
HISTORY_CLANS = 550
HISTORY_CLAN_OFFSET = 50  # batch clans = [offset, offset + CLANS)
CARDS = 120
HISTORY_CARDS = 110
RANKED_PLAYERS = 100
FAILED_PLAYERS = 3
FORMER_PLAYERS = 20  # in the lake history, no longer tracked
HISTORY_VIEWS = 10_000
TAG_CHARS = "0289PYLQGRJCUV"
CARD_ID_BASE = 26_000_000
CARD_NAMES = (
    "Knight Archers Goblins Giant Pekka Minions Balloon Witch Barbarians "
    "Golem Skeletons Valkyrie Musketeer Prince Dragon Hog Wizard Miner "
    "Sparky Bowler Lumberjack Bandit Princess Rascals Log Zap Arrows "
    "Fireball Rocket Tornado"
).split()
RARITIES = ("common", "rare", "epic", "legendary", "champion")


@dataclass
class E1Inputs:
    calendar_from: str
    calendar_months: int
    history: dict[str, list[tuple]]
    rankings: list[tuple]
    players: list[tuple]
    clans: list[tuple]
    cards: list[tuple]
    battlelog_lines: list[str]
    failed_players: list[str]
    expected_stats: dict[str, int]
    probe_player: str
    probe_card: str
    probe_season: str


def first_monday_0905(year: int, month: int) -> dt.datetime:
    d = dt.date(year, month, 1)
    d += dt.timedelta(days=(7 - d.weekday()) % 7)
    return dt.datetime(d.year, d.month, d.day, 9, 5)


def season_rows(start_year: int, start_month: int, n: int) -> list[tuple]:
    """(season_id, sn_start_date, sn_end_date) for ``n`` seasons."""
    out = []
    y, m = start_year, start_month
    for _ in range(n):
        ny, nm = (y + 1, 1) if m == 12 else (y, m + 1)
        start = first_monday_0905(y, m)
        end = first_monday_0905(ny, nm) - dt.timedelta(seconds=1)
        out.append((f"{y:04d}-{m:02d}", start, end))
        y, m = ny, nm
    return out


def match_key(battle_time: dt.datetime, player_id: str) -> str:
    """The reference's natural key: ``str(battle_time) + '_' + tag``."""
    return battle_time.strftime("%Y-%m-%d %H:%M:%S") + "_" + player_id


def _tags(rng: random.Random, n: int, taken: set[str]) -> list[str]:
    out = []
    while len(out) < n:
        t = "#" + "".join(rng.choice(TAG_CHARS) for _ in range(9))
        if t not in taken:
            taken.add(t)
            out.append(t)
    return out


def _battle_times(
    rng: random.Random, month: int, n: int, taken: set[dt.datetime]
) -> list[dt.datetime]:
    """``n`` distinct battle times on days 8-28 of 2025-``month``, which
    lie inside that month's season whatever weekday the month starts."""
    out = []
    while len(out) < n:
        t = dt.datetime(2025, month, rng.randint(8, 28)) + dt.timedelta(
            seconds=rng.randrange(86400)
        )
        if t not in taken:
            taken.add(t)
            out.append(t)
    return sorted(out)


class _Battle:
    __slots__ = (
        "time", "pol", "league", "opp", "rank", "start", "change", "crowns",
        "opp_crowns", "king", "towers", "elixir", "deck",
    )

    def __init__(self, rng: random.Random, time: dt.datetime, pol: bool,
                 opp: str, deck: list[int]):
        self.time = time
        self.pol = pol
        self.league = rng.randint(1, 7)
        self.opp = opp
        self.rank = rng.randint(1, 5000)
        self.start = rng.randint(4000, 9000)
        self.change = rng.randint(-40, 40)
        self.crowns = rng.randint(0, 3)
        self.opp_crowns = rng.randint(0, 3)
        self.king = rng.randint(0, 6408)
        self.towers = [rng.randint(0, 4000) for _ in range(rng.choice((1, 2, 2)))]
        self.elixir = round(rng.uniform(0, 20), 2)
        self.deck = deck

    def doc(self, tag: str, card_names: dict[int, str]) -> dict:
        return {
            "battleTime": self.time.strftime("%Y%m%dT%H%M%S.000Z"),
            "type": "pathOfLegend" if self.pol else "PvP",
            "leagueNumber": self.league,
            "team": [{
                "tag": tag,
                "globalRank": self.rank,
                "startingTrophies": self.start,
                "trophyChange": self.change,
                "crowns": self.crowns,
                "kingTowerHitPoints": self.king,
                "princessTowersHitPoints": self.towers,
                "elixirLeaked": self.elixir,
                "cards": [{"id": c, "name": card_names[c]} for c in self.deck],
            }],
            "opponent": [{"tag": self.opp, "crowns": self.opp_crowns}],
        }

    def match_row(self, view_id: int, tag: str, season: str) -> tuple:
        return (
            view_id, match_key(self.time, tag), self.time,
            self.crowns > self.opp_crowns, self.league, tag, self.opp, season,
            self.rank, self.start, self.change, self.crowns, self.opp_crowns,
            self.king, self.towers[0] if self.towers else 0,
            self.towers[1] if len(self.towers) > 1 else 0,
            Decimal(f"{self.elixir:.2f}"),
        )


def _player_row(rng: random.Random, tag: str, clan: str | None) -> tuple:
    wins, losses = rng.randint(0, 5000), rng.randint(0, 5000)
    trophies = rng.randint(4000, 9000)
    return (
        tag, f"player_{tag[1:].lower()}", rng.randint(1, 70), trophies,
        trophies + rng.randint(0, 500), wins, losses,
        wins + losses + rng.randint(0, 100), rng.randint(0, 20), clan,
        tag.replace("#", "%23"),
    )


def _clan_row(rng: random.Random, i: int) -> tuple:
    cid = f"#C{i:06d}"
    return (
        cid, f"clan_{i}", rng.choice(("open", "inviteOnly", "closed")),
        str(16_000_000 + rng.randint(0, 200)), rng.randint(0, 100_000),
        rng.randint(0, 5000), rng.choice(("International", "Earth", "France")),
        rng.choice((0, 1000, 2000, 4000)), rng.randint(1, 50),
        cid.replace("#", "%23"),
    )


def _card_row(rng: random.Random, i: int) -> tuple:
    elixir = None if rng.random() < 0.05 else rng.randint(1, 9)
    return (
        str(CARD_ID_BASE + i), CARD_NAMES[i % len(CARD_NAMES)],
        rng.choice(RARITIES), elixir, rng.random() < 0.2,
    )


def generate(seed: int) -> E1Inputs:
    rng = random.Random(seed)
    seasons = season_rows(2025, 1, CALENDAR_MONTHS)
    hist_seasons = seasons[:HISTORY_SEASONS]
    new_month = HISTORY_SEASONS + 1  # month number of the run's season
    new_season = seasons[HISTORY_SEASONS][0]
    old_season = hist_seasons[-1][0]

    taken: set[str] = set()
    tracked = _tags(rng, TRACKED_PLAYERS + FAILED_PLAYERS, taken)
    failed = tracked[TRACKED_PLAYERS:]
    active = tracked[:TRACKED_PLAYERS]
    former = _tags(rng, FORMER_PLAYERS, taken)

    hist_clan_ids = range(HISTORY_CLANS)
    batch_clan_ids = range(HISTORY_CLAN_OFFSET, HISTORY_CLAN_OFFSET + CLANS)
    hist_clans = [_clan_row(rng, i) for i in hist_clan_ids]
    batch_clans = [_clan_row(rng, i) for i in batch_clan_ids]
    clan_pick = [r[0] for r in batch_clans]

    hist_cards = [_card_row(rng, i) for i in range(1, HISTORY_CARDS + 1)]
    batch_cards = [_card_row(rng, i) for i in range(1, CARDS + 1)]
    card_ids = [CARD_ID_BASE + i for i in range(1, CARDS + 1)]
    card_names = {CARD_ID_BASE + i: CARD_NAMES[i % len(CARD_NAMES)]
                  for i in range(1, CARDS + 1)}

    def clan_of() -> str | None:
        return None if rng.random() < 0.1 else rng.choice(clan_pick)

    hist_players = [_player_row(rng, t, clan_of()) for t in tracked + former]
    batch_players = [_player_row(rng, t, clan_of()) for t in active]

    def battle(t: dt.datetime, pol: bool = True) -> _Battle:
        opp = (rng.choice(tracked) if rng.random() < 0.1
               else "#" + "".join(rng.choices(TAG_CHARS, k=9)))
        return _Battle(rng, t, pol, opp, rng.sample(card_ids, 8))

    # Battlelogs: the last 30 battles of every tracked player that
    # fetched; the older ones were loaded by the previous run.
    history_battles: list[tuple[str, _Battle, str]] = []
    battlelog_lines = []
    new_views = 0
    probe_player, probe_new = active[0], -1
    for tag in tracked:
        times: set[dt.datetime] = set()
        n_new = rng.randint(*NEW_PER_PLAYER)
        n_other = rng.randint(*OTHER_MODE_PER_LOG)
        n_old = BATTLES_PER_LOG - n_new - n_other
        new = [battle(t) for t in _battle_times(rng, new_month, n_new, times)]
        other = [battle(t, pol=False)
                 for t in _battle_times(rng, new_month, n_other, times)]
        old = [battle(t)
               for t in _battle_times(rng, HISTORY_SEASONS, n_old, times)]
        history_battles += [(tag, b, old_season) for b in old]
        if tag in failed:
            continue
        new_views += n_new
        if n_new > probe_new:
            probe_player, probe_new = tag, n_new
        log = sorted(new + other + old, key=lambda b: b.time, reverse=True)
        battlelog_lines.append(json.dumps(
            {"player_tag": tag,
             "battles": [b.doc(tag, card_names) for b in log]},
            separators=(",", ":"),
        ))

    # Older history up to HISTORY_VIEWS match views.
    owners = tracked + former
    extra = max(0, HISTORY_VIEWS - len(history_battles))
    per_owner = [extra // len(owners)] * len(owners)
    for i in range(extra % len(owners)):
        per_owner[i] += 1
    for tag, n in zip(owners, per_owner):
        times: set[dt.datetime] = set()
        for k in range(n):
            month = 1 + k % (HISTORY_SEASONS - 1)
            t = _battle_times(rng, month, 1, times)[0]
            history_battles.append((tag, battle(t), hist_seasons[month - 1][0]))

    matches, match_cards = [], []
    for view_id, (tag, b, season) in enumerate(history_battles, start=1):
        row = b.match_row(view_id, tag, season)
        matches.append(row)
        match_cards += [(view_id, row[1], tag, str(c)) for c in b.deck]

    hist_rankings = [
        (tag, sid, rank, 3000 - rank)
        for sid, _, _ in hist_seasons
        for rank, tag in enumerate(rng.sample(tracked, RANKED_PLAYERS), 1)
    ]
    batch_rankings = [
        (tag, new_season, rank, 3000 - rank)
        for rank, tag in enumerate(rng.sample(active, RANKED_PLAYERS), 1)
    ]

    history = {
        "seasons": hist_seasons,
        "clans": hist_clans,
        "players": hist_players,
        "cards": hist_cards,
        "season_rankings": hist_rankings,
        "matches": matches,
        "match_cards": match_cards,
    }
    inputs = E1Inputs(
        calendar_from=CALENDAR_FROM,
        calendar_months=CALENDAR_MONTHS,
        history=history,
        rankings=batch_rankings,
        players=batch_players,
        clans=batch_clans,
        cards=batch_cards,
        battlelog_lines=battlelog_lines,
        failed_players=failed,
        expected_stats={},
        probe_player=probe_player,
        probe_card=card_names[card_ids[0]],
        probe_season=new_season,
    )
    inputs.expected_stats = expected_stats(inputs, new_views)
    return inputs


def expected_stats(inputs: E1Inputs, new_views: int) -> dict[str, int]:
    """The ``run_etl`` stats dict this input set must produce."""
    h = inputs.history

    def union(hist: list[tuple], batch: list[tuple]) -> int:
        return len({r[0] for r in hist} | {r[0] for r in batch})

    hist_rank_seasons = {r[1] for r in h["season_rankings"]}
    return {
        "seasons_inserted": inputs.calendar_months - len(h["seasons"]),
        "clans_total": union(h["clans"], inputs.clans),
        "players_total": union(h["players"], inputs.players),
        "rankings_inserted": sum(
            1 for r in inputs.rankings if r[1] not in hist_rank_seasons
        ),
        "players_purged": len(inputs.failed_players),
        "cards_total": union(h["cards"], inputs.cards),
        "matches_inserted": new_views,
        "match_cards_inserted": 8 * new_views,
    }
