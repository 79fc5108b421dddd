"""Seeded input generators for the engine benchmark.

Everything the engine reads during a benchmark run comes from here, made
from the run's ``--seed`` before any clock starts: the same seed gives
byte-identical inputs.

- ``write_tables`` lands the ten fixture tables (``sources.TABLES``) as one
  parquet file each, in the fixture schema and value domains the DuckDB
  oracles were written against (money to the cent, dates at midnight,
  word-soup documents with ~5% near-duplicates, unit-norm float32
  embeddings).
- ``write_arrivals`` lands the reference consumer's input: arrival files of
  ``BATCH_SIZE`` events each (the reference's ``get_records(1000)``), with
  Zipf-skewed users, event time advancing per arrival, a late tail hours
  behind, a few null ids and crash-replay re-deliveries. It returns the
  truth the sink must equal.
"""

from __future__ import annotations

import os
from collections import Counter
from dataclasses import dataclass, field
from datetime import datetime, timezone
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The reference consumer's stream. Values with a source in the repository
# say where they come from; the others are assumptions, marked as such.
BATCH_SIZE = 1000  # the reference's get_records(Limit=1000) (BASELINE.md)
# Event time advances at the rate of the fixture ``events`` table, the
# repository's stand-in for the reference's records: 100,000 events over
# 30 days at sf0.1 (TESTDATA.md), so one arrival spans 7.2 hours.
ARRIVAL_SPAN_US = BATCH_SIZE * 30 * 86_400_000_000 // 100_000
USERS = 1500  # the fixture events table's user count at sf0.1 (15,000 x sf)
LATE_SHARE = 0.05  # "~5% late events" (FIXTURES.md, streaming-test construction)
DUP_SHARE = 0.05  # "~5% exact duplicates of earlier event_ids" (same)
ZIPF_S = 1.1  # assumption: the reference records no user skew
LATE_HOURS = (1, 6)  # assumption: how far behind a late event is
NULL_ID_SHARE = 0.005  # assumption: the reference's event_id is nullable (SURVEY.md), share unrecorded
REPLAY_EVENTS = (100, 300)  # assumption: events one crash-replay re-delivers
# Arrivals that open with a re-delivery, so that DUP_SHARE of all events
# are duplicates: 0.05 * 1000 / 200 = a quarter of arrivals.
REPLAY_SHARE = DUP_SHARE * BATCH_SIZE / (sum(REPLAY_EVENTS) / 2)

EVENT_TYPES = ("click", "purchase", "error", "signup", "view")
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: np.datetime64, span: int, n: int) -> np.ndarray:
    return start + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _write(out: Path, name: str, cols: dict) -> int:
    table = pa.table(cols)
    pq.write_table(table, out / f"{name}.parquet")
    return table.num_rows


def _documents(rng: np.random.Generator, n: int) -> dict:
    """Word soup over a 30-word vocabulary; ~5% of documents are an earlier
    document with one or two ``dup`` tokens appended (near-duplicates)."""
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            base = texts[int(rng.integers(0, i))]
            texts.append(base + " dup" * int(rng.integers(1, 3)))
        else:
            k = int(rng.integers(8, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": [LANGS[j] for j in rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> dict:
    x = rng.standard_normal((n, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    flat = pa.array(x.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * dim, dim, dtype=np.int32))
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": rng.integers(0, 10, n).astype(np.int32),
    }


def write_tables(out: Path, seed: int, sf: float, text_sf: float) -> dict[str, int]:
    """Land the ten fixture tables at scale ``sf`` (row counts as the
    test fixtures in TESTDATA.md: lineitem 6M x sf, events 1M x sf, ...). ``text_sf``
    scales ``documents`` and ``embeddings`` separately, so a curation
    workload can read sf0.1 text beside small relational tables. Returns
    rows per table."""
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    rows: dict[str, int] = {}

    rows["region"] = _write(out, "region", {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    rows["nation"] = _write(out, "nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": np.arange(25, dtype=np.int32) % 5,
    })
    segments = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    rows["customer"] = _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [segments[j] for j in rng.integers(0, 5, n_cust)],
    })
    rows["supplier"] = _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    colors = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    types = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
    pk = np.arange(n_part, dtype=np.int64)
    rows["part"] = _write(out, "part", {
        "p_partkey": pk,
        "p_name": [f"{colors[a]} {nouns[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, n_part)],
        "p_type": [types[j] for j in rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 2),
    })
    prio = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    rows["orders"] = _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, max(n_cust, 1), n_ord).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _days(rng, _EPOCH_1995, 2403, n_ord),
        "o_orderpriority": [prio[j] for j in rng.integers(0, 5, n_ord)],
    })
    rows["lineitem"] = _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, max(n_ord, 1), n_li).astype(np.int64),
        "l_partkey": rng.integers(0, max(n_part, 1), n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, max(n_supp, 1), n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": np.round(rng.uniform(1, 50, n_li)),
        "l_extendedprice": _money(rng, 900, 105_000, n_li),
        "l_discount": np.round(rng.uniform(0, 0.1, n_li), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_li), 2),
        "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[j] for j in rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, _EPOCH_1995 + np.timedelta64(1, "D"), 2498, n_li),
    })
    ts = _EPOCH_2024 + np.sort(rng.integers(0, 30 * _US_PER_DAY, n_ev)).astype("timedelta64[us]")
    rows["events"] = _write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, max(int(15_000 * sf), 1), n_ev).astype(np.int64),
        "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, n_ev)],
        "value": np.maximum(np.round(rng.exponential(50, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    rows["documents"] = _write(out, "documents", _documents(rng, int(50_000 * text_sf)))
    rows["embeddings"] = _write(
        out, "embeddings", _embeddings(rng, min(int(50_000 * text_sf), 2000))
    )
    return rows


@dataclass
class StreamTruth:
    """What the sink must hold after the drain: each distinct non-null
    event once, in its event-time y/m/d/h directory."""

    input_rows: int = 0
    replayed_rows: int = 0
    per_hour: Counter = field(default_factory=Counter)
    ids: set = field(default_factory=set)


def hour_key(us: int) -> tuple[int, int, int, int]:
    t = datetime.fromtimestamp(us / 1e6, tz=timezone.utc)
    return (t.year, t.month, t.day, t.hour)


def write_arrivals(stage: Path, seed: int, n_arrivals: int) -> StreamTruth:
    """Land ``n_arrivals`` parquet files of ``BATCH_SIZE`` events in the
    fixture ``events`` schema, oldest first (the file source orders by
    modification time, which is set explicitly). Arrival ``i`` carries
    event time in ``[2024-03-01 + i*span, + span)``; a ``LATE_SHARE`` tail
    is ``LATE_HOURS`` behind that. With probability ``REPLAY_SHARE`` an
    arrival opens with a re-delivery of the previous arrival's last
    ``REPLAY_EVENTS`` events (the reference's crash-replay mode)."""
    stage.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(seed)
    rank_p = 1.0 / np.arange(1, USERS + 1) ** ZIPF_S
    rank_p /= rank_p.sum()
    user_of_rank = rng.permutation(USERS).astype(np.int64)
    base = np.datetime64("2024-03-01", "us").astype(np.int64)
    hour = 3_600_000_000
    truth = StreamTruth()
    next_id = 0
    prev: pa.Table | None = None
    mtime = 1_700_000_000
    for i in range(n_arrivals):
        replay = 0
        if prev is not None and rng.random() < REPLAY_SHARE:
            replay = int(rng.integers(REPLAY_EVENTS[0], REPLAY_EVENTS[1] + 1))
        n = BATCH_SIZE - replay
        ids = np.arange(next_id, next_id + n, dtype=np.int64)
        next_id += n
        ts = base + i * ARRIVAL_SPAN_US + rng.integers(0, ARRIVAL_SPAN_US, n)
        late = rng.random(n) < LATE_SHARE
        ts[late] -= rng.integers(LATE_HOURS[0] * hour, LATE_HOURS[1] * hour, int(late.sum()))
        null = rng.random(n) < NULL_ID_SHARE
        fresh = pa.table({
            "event_id": pa.array(ids, mask=null),
            "ts": pa.array(ts.astype("datetime64[us]")),
            "user_id": user_of_rank[rng.choice(USERS, n, p=rank_p)],
            "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, n)],
            "value": np.maximum(np.round(rng.exponential(50, n), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        })
        for eid, t in zip(ids[~null].tolist(), ts[~null].tolist()):
            truth.ids.add(eid)
            truth.per_hour[hour_key(t)] += 1
        table = pa.concat_tables([prev.slice(prev.num_rows - replay), fresh]) if replay else fresh
        path = stage / f"arrival_{i:05d}.parquet"
        pq.write_table(table, path)
        os.utime(path, (mtime + i, mtime + i))
        truth.input_rows += table.num_rows
        truth.replayed_rows += replay
        prev = table
    return truth
