"""Seeded input generators. Every input the program sees comes from here;
the same seed gives the same inputs.

The tables have the row counts of the repository's sf0.01 test corpus,
the one its correctness gate runs on, and mirror its distributions
(31-word vocabulary, 10-100 words per document, five languages, 64-dim
unit embeddings, TPC-H-like relational tables), so the query surface
behaves as it does in the conformance suite.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = np.array(
    """a agg batch big column customer data dup fast filter group hash join
    key line merge order part query row scan slow small sort spark stream
    table the value vector window""".split()
)
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = np.array([0.40, 0.15, 0.15, 0.15, 0.15])
EVENT_TYPES = np.array(["click", "purchase", "error", "signup", "view"])
DIM = 64
DUP_SHARE = 0.01  # planted near-duplicate share of documents and vectors

# ---------------------------------------------------------------- tsdb

# One 3-tier policy shared by every metric: 1 min for 2 days, 1 h for 30
# days, 1 d for a year.
POLICY = [(60, 2880), (3600, 720), (86400, 365)]
XFF = 0.5
N_METRICS = 32
HISTORY_S = 12 * 3600
BACKFILL_BATCHES = 2
TICK_S = 600  # simulated clock advance per loop iteration
RECENT_S = 3600
WIDE_S = 30 * 86400


def metric_names() -> list[str]:
    return [f"m{i:02d}" for i in range(N_METRICS)]


def tsdb_start(seed: int) -> int:
    """Simulated wall clock at the end of the backfilled history: a seeded
    day, 12:10 to 12:50 UTC, so that for every seed the history and the
    loop's windows fall in one date partition."""
    rng = np.random.default_rng([seed, 1])
    day = 18_000 + int(rng.integers(0, 1000))
    return day * 86_400 + 12 * 3600 + int(rng.integers(600, 3000))


def history(seed: int, start: int, end: int) -> list[tuple]:
    """``(metric, ts, value)`` rows, at most one per metric per minute in
    ``[start, end)``, sub-minute jitter on ``ts``. Each metric keeps 90 %
    of its minutes, except two seeded hours that keep 30 % so the rollup
    xff gate rejects them."""
    rng = np.random.default_rng([seed, 2])
    minutes = np.arange(start - start % 60, end - end % 60, 60)
    hours = np.unique(minutes - minutes % 3600)
    rows = []
    for m in metric_names():
        gap_hours = set(rng.choice(hours, size=min(2, len(hours)), replace=False))
        keep = np.where(
            np.isin(minutes - minutes % 3600, list(gap_hours)), 0.3, 0.9
        )
        mask = rng.random(len(minutes)) < keep
        jitter = rng.integers(0, 60, size=len(minutes))
        values = rng.integers(0, 1000, size=len(minutes))
        rows.extend(
            (m, int(t + j), float(v))
            for t, j, v, k in zip(minutes, jitter, values, mask)
            if k and start <= t + j < end
        )
    return rows


def backfill(seed: int, now: int) -> list[list[tuple]]:
    """``HISTORY_S`` of history before ``now``, split by time into
    ``BACKFILL_BATCHES`` equal spans, each a multi-metric batch."""
    span = HISTORY_S // BACKFILL_BATCHES
    start = now - HISTORY_S
    rows = history(seed, start, now)
    return [
        [r for r in rows if start + b * span <= r[1] < start + (b + 1) * span]
        for b in range(BACKFILL_BATCHES)
    ]


class TsdbLoop:
    """The closed loop's inputs, one iteration at a time: a 10-point
    ``update_many`` flush to one metric on a simulated clock, the seeded
    order of the recent single-series fetches of every metric, one
    8-series ``fetch_many`` and one 30-day fetch. Two points of a flush may rewrite
    buckets of that metric's previous flush, so last-write-wins across
    calls is used."""

    def __init__(self, seed: int, now: int):
        self.rng = np.random.default_rng([seed, 3])
        self.now = now
        self.last_flush: dict[str, list[int]] = {}

    def next(self) -> dict:
        rng, names = self.rng, metric_names()
        prev, self.now = self.now, self.now + TICK_S
        metric = str(rng.choice(names))
        ts = sorted(int(t) for t in rng.integers(prev + 1, self.now + 1, size=10))
        old = self.last_flush.get(metric)
        if old:
            ts[:2] = [int(t) for t in rng.choice(old, size=2)]
        points = [(t, float(v)) for t, v in zip(ts, rng.integers(0, 1000, size=10))]
        order = rng.permutation(len(points))
        self.last_flush[metric] = ts
        return {
            "now": self.now,
            "metric": metric,
            "points": [points[i] for i in order],
            "fetch": [str(m) for m in rng.permutation(names)],
            "fetch_many": sorted(str(m) for m in rng.choice(names, 8, replace=False)),
            "wide": str(rng.choice(names)),
        }


# --------------------------------------------------------- documents


def documents(seed: int, n: int) -> dict:
    """``doc_id, text, lang, source, n_chars``. ``DUP_SHARE`` of the later
    docs are near-duplicates of earlier ones (3 token edits), and as many
    again are contained slices of earlier ones."""
    rng = np.random.default_rng([seed, 4])
    lens = rng.integers(10, 101, size=n)
    texts = [" ".join(VOCAB[rng.integers(0, len(VOCAB), size=k)]) for k in lens]
    k = max(1, int(n * DUP_SHARE))
    later = rng.choice(np.arange(n // 2, n), 2 * k, replace=False)
    for i in later[:k]:
        toks = texts[int(rng.integers(0, n // 2))].split()
        for _ in range(3):
            toks[int(rng.integers(0, len(toks)))] = str(rng.choice(VOCAB))
        texts[int(i)] = " ".join(toks)
    for i in later[k:]:
        toks = texts[int(rng.integers(0, n // 2))].split()
        lo = int(rng.integers(0, len(toks) // 3 + 1))
        texts[int(i)] = " ".join(toks[lo : lo + max(6, 2 * len(toks) // 3)])
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, size=n, p=LANG_P),
        "source": np.char.add("src", rng.integers(0, 20, size=n).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def embeddings(seed: int, n: int) -> dict:
    """``vec_id, embedding, label``: unit vectors, ``DUP_SHARE`` of the
    later ones perturbed copies of earlier ones."""
    rng = np.random.default_rng([seed, 5])
    vecs = rng.standard_normal((n, DIM))
    k = max(1, int(n * DUP_SHARE))
    for i in rng.choice(np.arange(n // 2, n), k, replace=False):
        vecs[i] = vecs[int(rng.integers(0, n // 2))] + 0.05 * rng.standard_normal(DIM)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": [v for v in vecs.astype(np.float32)],
        "label": rng.integers(0, 10, size=n).astype(np.int32),
    }


def micro_batches(seed: int, n: int, k: int) -> list[np.ndarray]:
    """Row ids ``0..n-1`` split by a seeded permutation into ``k`` equal
    micro-batches."""
    perm = np.random.default_rng([seed, 6]).permutation(n)
    return [np.sort(part) for part in np.array_split(perm, k)]


# ---------------------------------------------------- analytics tables

N_DOCS, N_VECS = 500, 500
N_EVENTS, N_USERS = 10_000, 150
N_CUST, N_SUPP, N_PART, N_ORDERS, N_LINES = 1500, 100, 2000, 15_000, 60_000
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "HOUSEHOLD", "MACHINERY", "FURNITURE"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_P_TYPES = ["ECONOMY", "MEDIUM", "SMALL", "PROMO", "LARGE", "STANDARD"]
_ADJ = "large hot blue red green small cold dim shiny matte".split()
_NOUN = "ring bolt nut gear cog pin rod cap disk plate".split()
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _days(rng, lo: str, hi: str, size: int) -> np.ndarray:
    a = np.datetime64(lo, "D")
    span = (np.datetime64(hi, "D") - a) // np.timedelta64(1, "D") + 1
    return (a + rng.integers(0, int(span), size=size)).astype("datetime64[us]")


def _money(rng, lo, hi, size):
    return np.round(rng.uniform(lo, hi, size=size), 2)


def tables(seed: int) -> dict[str, pa.Table]:
    """The ten tables the query surface reads."""
    rng = np.random.default_rng([seed, 7])
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(
        rng.integers(0, 30 * 86400 * 1_000_000, size=N_EVENTS)
    ).astype("timedelta64[us]")
    emb = embeddings(seed, N_VECS)
    return {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": _REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(N_CUST), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(N_CUST)],
            "c_nationkey": pa.array(rng.integers(0, 25, N_CUST), pa.int32()),
            "c_acctbal": _money(rng, -1000, 10000, N_CUST),
            "c_mktsegment": rng.choice(_SEGMENTS, N_CUST),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(N_SUPP), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPP)],
            "s_nationkey": pa.array(rng.integers(0, 25, N_SUPP), pa.int32()),
            "s_acctbal": _money(rng, -1000, 10000, N_SUPP),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(N_PART), pa.int64()),
            "p_name": [
                f"{_ADJ[a]} {_NOUN[b]}"
                for a, b in rng.integers(0, 10, size=(N_PART, 2))
            ],
            "p_brand": np.char.add("Brand#", rng.integers(0, 25, N_PART).astype(str)),
            "p_type": rng.choice(_P_TYPES, N_PART),
            "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
            "p_retailprice": _money(rng, 900, 1000, N_PART),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, N_CUST, N_ORDERS), pa.int64()),
            "o_orderstatus": rng.choice(["O", "P", "F"], N_ORDERS),
            "o_totalprice": _money(rng, 1000, 500000, N_ORDERS),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", N_ORDERS),
            "o_orderpriority": rng.choice(_PRIORITIES, N_ORDERS),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, N_ORDERS, N_LINES), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, N_PART, N_LINES), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, N_SUPP, N_LINES), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, N_LINES), pa.int32()),
            "l_quantity": rng.integers(1, 51, N_LINES).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, N_LINES),
            "l_discount": np.round(rng.integers(0, 11, N_LINES) * 0.01, 2),
            "l_tax": np.round(rng.integers(0, 9, N_LINES) * 0.01, 2),
            "l_returnflag": rng.choice(["R", "N", "A"], N_LINES),
            "l_linestatus": rng.choice(["O", "F"], N_LINES),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", N_LINES),
        }),
        "events": pa.table({
            "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
            "ts": pa.array(ts),
            "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, N_EVENTS),
            "value": _money(rng, 0, 330, N_EVENTS),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
        }),
        "documents": pa.table(documents(seed, N_DOCS)),
        "embeddings": pa.table({
            "vec_id": pa.array(emb["vec_id"], pa.int64()),
            "embedding": pa.array(emb["embedding"], pa.list_(pa.float32())),
            "label": pa.array(emb["label"], pa.int32()),
        }),
    }


def write_tables(seed: int, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables(seed).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
