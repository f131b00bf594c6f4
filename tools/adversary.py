"""Data-shape adversaries: seeded rewrites of a fixture directory into
shapes the clean fixtures never produce.

Hash-exact oracle parity must hold on any input, not only on the
benign one the generator happens to emit. Each adversary below copies
every table of ``--src`` into ``--dst`` (single-file parquet, row
groups re-chunked to ~1/3 of the table so physical layout moves too)
and rewrites a few columns:

- ``shuffle``   permutes every table's rows (order luck);
- ``skew``      gives ~30% of events / lineitem / documents one hot
                key, and the hot documents a shared boilerplate prefix;
- ``nullify``   nulls ~5% of optional attribute and label columns;
- ``extreme``   plants exact power-of-two outliers and shifts one
                event_type group by 2^16 (magnitude luck);
- ``tstie``     ties events.ts within users, on midnights and at one
                hot instant;
- ``unitext``   appends Unicode packs and splices NBSP / CRLF / ZWSP
                into documents.text;
- ``const``     flattens one event_type, one day and one source to a
                single value (zero variance);
- ``singleton`` plants one-row groups for event_type, day, source,
                segment and priority (zero sample size);
- ``zero_norm`` sets ~5% of embeddings to all-zero vectors;
- ``empty_embeddings`` empties the embeddings table.

Run the full oracle sweep on one adversary:

    python tools/adversary.py skew --src <fixtures>/sf0.001 --dst /tmp/sf0.001_skew
    python tools/check_oracle.py --sf /tmp/sf0.001_skew

``tests/test_adversary_invariance.py`` runs each adversary's prone
query subset on every suite run. docs/SCALE.md records what each
adversary caught.
"""

from __future__ import annotations

import argparse
import collections
import datetime
import os
import sys
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.check_oracle import TABLES

# (table, rng, info) -> table; info collects the counts `expect` checks
Transform = Callable[[pa.Table, np.random.Generator, dict], pa.Table]


@dataclass(frozen=True)
class Adversary:
    tables: dict[str, Transform]
    # info key -> minimum count: the adversary must be real
    expect: dict[str, int]
    seed: int = 0


def _modal(values) -> object:
    return collections.Counter(v for v in values if v is not None).most_common(1)[0][0]


def _set(tab: pa.Table, col: str, values) -> pa.Table:
    f = tab.schema.field(col)
    return tab.set_column(tab.schema.get_field_index(col), f, pa.array(values, f.type))


def _with_text(tab: pa.Table, texts) -> pa.Table:
    """Set documents.text and keep n_chars == len(text) (code points)."""
    tab = _set(tab, "text", texts)
    return _set(tab, "n_chars", [None if x is None else len(x) for x in texts])


def _midnight(ts: datetime.datetime) -> datetime.datetime:
    return ts.replace(hour=0, minute=0, second=0, microsecond=0)


# -- shuffle ---------------------------------------------------------


def _permute(tab, rng, info):
    perm = rng.permutation(tab.num_rows)
    info["moved"] = info.get("moved", 0) + int((perm != np.arange(len(perm))).sum())
    return tab.take(perm)


# -- skew ------------------------------------------------------------

BOILERPLATE = (
    "Subscribe to our newsletter for weekly updates. "
    "All rights reserved. Terms of service apply. "
)


def _skew(tab, col, rng, info):
    """Reassign ~30% of `col` to its modal value; returns the mask too."""
    mask = rng.random(tab.num_rows) < 0.30
    vals = tab[col].to_pylist()
    hot = _modal(vals)
    info[col] = int(mask.sum())
    return _set(tab, col, [hot if m else v for v, m in zip(vals, mask)]), mask


def _hot(col: str) -> Transform:
    return lambda tab, rng, info: _skew(tab, col, rng, info)[0]


def _hot_source(tab, rng, info):
    """The hot source's rows also share a boilerplate prefix: a hot
    token for the shingle / minhash band caps."""
    tab, mask = _skew(tab, "source", rng, info)
    texts = [
        (BOILERPLATE + v) if (m and v is not None) else v
        for v, m in zip(tab["text"].to_pylist(), mask)
    ]
    return _with_text(tab, texts)


# -- nullify ---------------------------------------------------------


def _nulls(*cols: str) -> Transform:
    """Null ~5% of each of `cols`."""

    def fn(tab, rng, info):
        for col in cols:
            mask = rng.random(tab.num_rows) < 0.05
            vals = tab[col].to_pylist()
            tab = _set(tab, col, [None if m else v for v, m in zip(vals, mask)])
            info[col] = int(mask.sum())
        return tab

    return fn


# -- extreme ---------------------------------------------------------

# Exact powers of two: bit-exact as double AND under decimal(38,6).
OUTLIERS = (
    1048576.0,  # 2^20
    8388608.0,  # 2^23
    16777216.0,  # 2^24
    -524288.0,  # -2^19
    -2097152.0,  # -2^21
)
GROUP_SHIFT = 65536.0  # 2^16 — mean >> spread for one event_type


def _outliers(col: str) -> Transform:
    """Overwrite ~2% of `col` with OUTLIERS."""

    def fn(tab, rng, info):
        vals = tab[col].to_pylist()
        if col == "value":
            # shift the modal event_type first (v + 2^16 is exact for
            # |v| < 2^37), then overlay the outliers
            types = tab["event_type"].to_pylist()
            shift = _modal(types)
            info["shifted"] = sum(1 for v, ty in zip(vals, types) if ty == shift and v is not None)
            vals = [
                (v + GROUP_SHIFT) if (ty == shift and v is not None) else v
                for v, ty in zip(vals, types)
            ]
        mask = rng.random(len(vals)) < 0.02
        # at tiny SF the mask may miss every non-null row (a 10-row
        # supplier table): force one seeded hit
        if not any(m and v is not None for v, m in zip(vals, mask)):
            live = [i for i, v in enumerate(vals) if v is not None]
            if live:
                mask = list(mask)
                mask[live[int(rng.integers(0, len(live)))]] = True
        picks = rng.integers(0, len(OUTLIERS), size=len(vals))
        hit = [bool(m) and v is not None for v, m in zip(vals, mask)]
        info[col] = sum(hit)
        return _set(tab, col, [OUTLIERS[p] if h else v for v, h, p in zip(vals, hit, picks)])

    return fn


# -- tstie -----------------------------------------------------------


def _ties(tab, rng, info):
    """Three tie shapes on events.ts: ~10% within-user copies of a
    peer's ts, ~3% midnight snaps onto day boundaries, and ~1% on one
    hot midnight shared across all users."""
    ts = tab["ts"].to_pylist()
    users = tab["user_id"].to_pylist()
    n = len(ts)
    before = len(set(ts))
    by_user = collections.defaultdict(list)
    for i, u in enumerate(users):
        by_user[u].append(i)

    u_mask = rng.random(n) < 0.10
    info["user_ties"] = 0
    for i in np.flatnonzero(u_mask).tolist():
        peers = by_user[users[i]]
        if len(peers) < 2:
            continue
        j = peers[int(rng.integers(0, len(peers)))]
        if j == i:
            j = peers[(peers.index(i) + 1) % len(peers)]
        ts[i] = ts[j]
        info["user_ties"] += 1

    m_mask = (rng.random(n) < 0.03) & ~u_mask
    for i in np.flatnonzero(m_mask).tolist():
        ts[i] = _midnight(ts[i])
    info["midnight"] = int(m_mask.sum())

    # the midnight of the median day stays inside the fixture's range
    hot = sorted(_midnight(x) for x in ts)[n // 2]
    h_mask = rng.random(n) < 0.01
    for i in np.flatnonzero(h_mask).tolist():
        ts[i] = hot
    info["hot"] = int(h_mask.sum())
    info["distinct_lost"] = before - len(set(ts))
    return _set(tab, "ts", ts)


# -- unitext ---------------------------------------------------------

# Appended verbatim to a victim document; comments give each attack.
PACKS = (
    # NFC accents (each accented letter = 1 code point)
    "caf\u00e9 na\u00efve r\u00e9sum\u00e9",
    # NFD: same words, e + COMBINING ACUTE (U+0301) = 2 code points
    "cafe\u0301 re\u0301sume\u0301",
    # CJK run, no spaces (whitespace tokenizers see one token)
    "\u65e5\u672c\u8a9e\u30c6\u30ad\u30b9\u30c8\u51e6\u7406",
    # Cyrillic
    "\u0434\u0430\u043d\u043d\u044b\u0435 \u043f\u043e\u0442\u043e\u043a",
    # non-BMP emoji (UTF-16 surrogate pairs; 1 code point each)
    "\U0001f916\U0001f680 \U0001f9e0",
    # Turkish dotted capital I (U+0130) + German sharp s case traps
    "\u0130stanbul STRASSE stra\u00dfe",
    # fullwidth ABC + fi ligature (U+FB01)
    "\uff21\uff22\uff23 \ufb01le",
    # RTL Arabic + Hebrew
    "\u0645\u0631\u062d\u0628\u0627 \u05e9\u05dc\u05d5\u05dd",
    # mojibake: UTF-8 bytes re-decoded as Latin-1 + U+FFFD
    "\u00c3\u00a9t\u00c3\u00a9 \u00e2\u20ac\u2122 \ufffd",
)
NBSP = "\u00a0"  # no-break space: not ASCII \s on either engine
ZWSP = "\u200b"  # zero-width space: invisible word splitter


def _unicode(tab, rng, info):
    """~10% of docs get a PACKS entry appended, ~2% one inner space
    swapped to NBSP, ~2% to CRLF, ~1% a ZWSP spliced into a word."""
    texts = tab["text"].to_pylist()
    n = len(texts)

    pk_mask = rng.random(n) < 0.10
    picks = rng.integers(0, len(PACKS), size=n)
    info["pack"] = 0
    for i in range(n):
        if pk_mask[i] and texts[i] is not None:
            texts[i] = texts[i] + " " + PACKS[picks[i]]
            info["pack"] += 1

    # swap one inner space of a victim doc to NBSP, then to CRLF
    for key, repl in (("nbsp", NBSP), ("crlf", "\r\n")):
        mask = rng.random(n) < 0.02
        info[key] = 0
        for i in range(n):
            if not (mask[i] and texts[i]):
                continue
            sp = [k for k, ch in enumerate(texts[i]) if ch == " "]
            if not sp:
                continue
            k = sp[int(rng.integers(0, len(sp)))]
            texts[i] = texts[i][:k] + repl + texts[i][k + 1 :]
            info[key] += 1

    z_mask = rng.random(n) < 0.01
    info["zwsp"] = 0
    for i in range(n):
        if z_mask[i] and texts[i] and len(texts[i]) > 4:
            k = int(rng.integers(2, len(texts[i]) - 2))
            texts[i] = texts[i][:k] + ZWSP + texts[i][k:]
            info["zwsp"] += 1
    info["nonascii"] = sum(1 for x in texts if x and any(ord(c) > 127 for c in x))
    return _with_text(tab, texts)


# -- const -----------------------------------------------------------

FLAT_TYPE_VALUE = 42.0
FLAT_DAY_VALUE = 16.0
MIRROR_TEXT = (
    "the mirrored source uploads the same boilerplate sentence "
    "every time the crawler returns"
)


def _flat_values(tab, rng, info):
    """The modal event_type's values become 42.0; the rest of the
    modal day's values become 16.0."""
    vals = tab["value"].to_pylist()
    types = tab["event_type"].to_pylist()
    days = [x.date() if x is not None else None for x in tab["ts"].to_pylist()]
    flat_type, flat_day = _modal(types), _modal(days)
    info["flat_type"] = info["flat_day"] = 0
    for i, v in enumerate(vals):
        if v is None:
            continue
        if types[i] == flat_type:
            vals[i] = FLAT_TYPE_VALUE
            info["flat_type"] += 1
        elif days[i] == flat_day:
            vals[i] = FLAT_DAY_VALUE
            info["flat_day"] += 1
    return _set(tab, "value", vals)


def _mirror_source(tab, rng, info):
    """Every text of the modal source becomes MIRROR_TEXT."""
    sources, texts = tab["source"].to_pylist(), tab["text"].to_pylist()
    mirror = _modal(sources)
    hit = [s == mirror and x is not None for s, x in zip(sources, texts)]
    info["mirrored"] = sum(hit)
    return _with_text(tab, [MIRROR_TEXT if h else x for h, x in zip(hit, texts)])


# -- singleton -------------------------------------------------------


def _relabel_last(key: str, col: str, label: str) -> Transform:
    """Relabel the max-`key` row's `col` to a fresh one-row label."""

    def fn(tab, rng, info):
        if not tab.num_rows:
            return tab
        ids = tab[key].to_pylist()
        i = max(range(len(ids)), key=ids.__getitem__)
        vals = tab[col].to_pylist()
        vals[i] = label
        info[col] = 1
        return _set(tab, col, vals)

    return fn


def _singleton_event(tab, rng, info):
    """The last event gets a one-row event_type and moves to the
    midnight 3 days after the max ts: a gap, then a one-event day."""
    if not tab.num_rows:
        return tab
    ids = tab["event_id"].to_pylist()
    i = max(range(len(ids)), key=ids.__getitem__)
    types, ts = tab["event_type"].to_pylist(), tab["ts"].to_pylist()
    types[i] = "singleton_type"
    ts[i] = _midnight(max(x for x in ts if x is not None) + datetime.timedelta(days=3))
    info["event_type"] = info["ts"] = 1
    return _set(_set(tab, "event_type", types), "ts", ts)


# -- embeddings ------------------------------------------------------


def _zero_vectors(tab, rng, info):
    """Set ~5% of the vectors to all-zero, keeping their length."""
    mask = rng.random(tab.num_rows) < 0.05
    vecs = tab["embedding"].to_pylist()
    out = [[0.0] * len(v) if (m and v is not None) else v for v, m in zip(vecs, mask)]
    info["zero_vectors"] = sum(1 for v, m in zip(vecs, mask) if m and v is not None)
    return _set(tab, "embedding", out)


def _drop_rows(tab, rng, info):
    info["dropped"] = tab.num_rows
    return tab.slice(0, 0)


ADVERSARIES: dict[str, Adversary] = {
    "shuffle": Adversary({t: _permute for t in TABLES}, {"moved": 1}, seed=1009),
    "skew": Adversary(
        {
            "lineitem": _hot("l_partkey"),
            "events": _hot("user_id"),
            "documents": _hot_source,
        },
        {"l_partkey": 1, "user_id": 1, "source": 1},
        seed=2027,
    ),
    "nullify": Adversary(
        {
            "customer": _nulls("c_acctbal", "c_mktsegment"),
            "supplier": _nulls("s_acctbal"),
            "part": _nulls("p_size"),
            "orders": _nulls("o_orderpriority"),
            "events": _nulls("value", "props", "event_type"),
            "documents": _nulls("lang", "source"),
        },
        {
            "c_acctbal": 1,
            "p_size": 1,
            "o_orderpriority": 1,
            "value": 1,
            "event_type": 1,
            "lang": 1,
            "source": 1,
        },
        seed=3301,
    ),
    "extreme": Adversary(
        {
            "customer": _outliers("c_acctbal"),
            "supplier": _outliers("s_acctbal"),
            "events": _outliers("value"),
        },
        {"c_acctbal": 1, "s_acctbal": 1, "value": 1, "shifted": 1},
        seed=2029,
    ),
    "tstie": Adversary(
        {"events": _ties},
        {"user_ties": 1, "midnight": 1, "hot": 1, "distinct_lost": 1},
        seed=2031,
    ),
    "unitext": Adversary(
        {"documents": _unicode},
        {"pack": 1, "nbsp": 1, "crlf": 1, "zwsp": 1, "nonascii": 1},
        seed=2033,
    ),
    "const": Adversary(
        {"events": _flat_values, "documents": _mirror_source},
        {"flat_type": 2, "flat_day": 2, "mirrored": 2},
    ),
    "singleton": Adversary(
        {
            "customer": _relabel_last("c_custkey", "c_mktsegment", "SINGLETON"),
            "orders": _relabel_last("o_orderkey", "o_orderpriority", "9-SINGLETON"),
            "events": _singleton_event,
            "documents": _relabel_last("doc_id", "source", "src_singleton"),
        },
        {"c_mktsegment": 1, "o_orderpriority": 1, "event_type": 1, "ts": 1, "source": 1},
    ),
    "zero_norm": Adversary({"embeddings": _zero_vectors}, {"zero_vectors": 1}, seed=2046),
    "empty_embeddings": Adversary({"embeddings": _drop_rows}, {"dropped": 1}),
}


def write(name: str, src: str, dst: str) -> dict:
    """Write adversary `name`'s copy of `src` into `dst`; returns the
    counts its transforms recorded (see ``Adversary.expect``)."""
    adv = ADVERSARIES[name]
    os.makedirs(dst, exist_ok=True)
    rng = np.random.default_rng(adv.seed)
    info: dict = {}
    for t in TABLES:
        p = os.path.join(src, f"{t}.parquet")
        if not os.path.exists(p):
            continue
        tab = pq.read_table(p)
        n = tab.num_rows
        if t in adv.tables:
            tab = adv.tables[t](tab, rng, info)
        pq.write_table(
            tab, os.path.join(dst, f"{t}.parquet"), row_group_size=max(1, n // 3 + 1)
        )
    return info


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("name", choices=sorted(ADVERSARIES))
    ap.add_argument("--src", required=True)
    ap.add_argument("--dst", required=True)
    args = ap.parse_args()
    info = write(args.name, args.src, args.dst)
    print(f"{args.name}: {args.src} -> {args.dst}: {info}")


if __name__ == "__main__":
    main()
