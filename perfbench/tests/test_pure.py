"""Tests of the benchmark's pure parts (no Spark, no JVM).

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import e1gen  # noqa: E402
import stats  # noqa: E402


# -- tail percentile support rule ------------------------------------

@pytest.mark.parametrize("n", [0, 1, 10, 19, 20])
def test_tail_needs_more_than_twenty_samples(n):
    assert stats.tail_percentile([1.0] * n) is None


@pytest.mark.parametrize("n, p", [(21, 52), (32, 68), (40, 75), (100, 90), (1000, 99)])
def test_tail_is_highest_percentile_with_ten_beyond(n, p):
    values = [float(i) for i in range(n)]
    got_p, value, beyond = stats.tail_percentile(values)
    assert got_p == p
    assert beyond >= 10
    # one percentile higher would leave fewer than ten samples beyond
    assert n - -(-(p + 1) * n // 100) < 10 or p == 99
    assert value == sorted(values)[n - beyond - 1]


def test_tail_value_is_a_sample_and_order_free():
    values = [0.5, 0.1, 0.9, 0.3] * 10
    p, value, beyond = stats.tail_percentile(values)
    assert value in values
    assert stats.tail_percentile(sorted(values)) == (p, value, beyond)


# -- error-rate accounting -------------------------------------------

def test_error_rate_counts_failed_over_attempted():
    assert stats.error_rate(40, 0) == 0.0
    assert stats.error_rate(40, 10) == 0.25


@pytest.mark.parametrize("attempted, failed", [(0, 0), (5, 6), (5, -1)])
def test_error_rate_rejects_impossible_counts(attempted, failed):
    with pytest.raises(ValueError):
        stats.error_rate(attempted, failed)


def test_union_length_merges_and_clips():
    iv = [(0.0, 2.0), (1.0, 3.0), (5.0, 6.0), (9.0, 12.0)]
    assert stats.union_length(iv, 0.0, 10.0) == pytest.approx(3.0 + 1.0 + 1.0)
    assert stats.union_length(iv, 2.5, 5.5) == pytest.approx(1.0)
    assert stats.union_length([], 0.0, 1.0) == 0.0


# -- E1 generator ----------------------------------------------------

def test_same_seed_gives_byte_identical_inputs():
    a, b = e1gen.generate(7), e1gen.generate(7)
    assert "\n".join(a.battlelog_lines) == "\n".join(b.battlelog_lines)
    assert a.history == b.history
    assert (a.players, a.clans, a.cards, a.rankings) == (b.players, b.clans, b.cards, b.rankings)


def test_other_seed_gives_other_inputs():
    a, b = e1gen.generate(7), e1gen.generate(8)
    assert a.battlelog_lines != b.battlelog_lines


def test_reference_traffic_by_default():
    inp = e1gen.generate(3)
    st = inp.expected_stats
    assert len(inp.battlelog_lines) == 260
    assert 1100 <= st["matches_inserted"] <= 1500  # ~5 new views per player
    assert st["match_cards_inserted"] == 8 * st["matches_inserted"]
    assert st["players_purged"] == 3
    assert len(inp.clans) == 600 and len(inp.cards) == 120
    assert len(inp.rankings) == 100


def _views(inp):
    import json

    out = []
    for line in inp.battlelog_lines:
        doc = json.loads(line)
        for b in doc["battles"]:
            out.append((doc["player_tag"], b))
    return out


def test_expected_stats_follow_from_the_generated_sets():
    inp = e1gen.generate(11)
    h = inp.history
    loaded = {r[1] for r in h["matches"]}
    new = [
        (tag, b) for tag, b in _views(inp)
        if b["type"] == "pathOfLegend"
        and e1gen.match_key(_bt(b["battleTime"]), tag) not in loaded
    ]
    st = inp.expected_stats
    assert st["matches_inserted"] == len(new)
    assert st["match_cards_inserted"] == sum(len(b["team"][0]["cards"]) for _, b in new)
    assert st["players_total"] == len({r[0] for r in h["players"]} | {r[0] for r in inp.players})
    assert st["clans_total"] == len({r[0] for r in h["clans"]} | {r[0] for r in inp.clans})
    assert st["cards_total"] == len({r[0] for r in h["cards"]} | {r[0] for r in inp.cards})
    assert st["seasons_inserted"] == inp.calendar_months - len(h["seasons"])
    assert st["rankings_inserted"] == len(inp.rankings)
    assert st["players_purged"] == len(inp.failed_players)


def _bt(s):
    import datetime as dt

    return dt.datetime.strptime(s, "%Y%m%dT%H%M%S.000Z")


def test_failed_players_are_only_in_history():
    inp = e1gen.generate(5)
    failed = set(inp.failed_players)
    assert failed
    assert not failed & {r[0] for r in inp.players}
    assert not failed & {tag for tag, _ in _views(inp)}
    assert failed <= {r[0] for r in inp.history["players"]}
    assert failed <= {r[5] for r in inp.history["matches"]}


def test_history_satisfies_the_audit_rules():
    inp = e1gen.generate(9)
    h = inp.history
    keys = [r[1] for r in h["matches"]]
    assert len(keys) == len(set(keys))  # dup_match_keys
    players = {r[0] for r in h["players"]}
    assert {r[5] for r in h["matches"]} <= players  # orphan_match_players
    assert all(0 <= r[11] <= 3 for r in h["matches"])  # bad_crowns
    decks: dict = {}
    for r in h["match_cards"]:
        decks.setdefault((r[1], r[2]), set()).add(r[3])
    assert all(len(d) == 8 for d in decks.values())  # bad_decks
    assert all(s < e for _, s, e in h["seasons"])  # season_date_violations


def test_new_battles_fall_in_the_new_season():
    inp = e1gen.generate(4)
    start, end = e1gen.season_rows(2025, 1, inp.calendar_months)[-1][1:]
    loaded = {r[1] for r in inp.history["matches"]}
    for tag, b in _views(inp):
        t = _bt(b["battleTime"])
        if e1gen.match_key(t, tag) not in loaded:
            assert start <= t <= end
