"""Standing pin for the TIMESTAMP-EXTREMES adversarial corpus (EDGES.md).

Schema-legal but extreme timestamps — deep pre-epoch (1950), pre-epoch
by one microsecond (1969-12-31 23:59:59.999999), the exact epoch, and
far-future (2200) — are planted into events.ts (plus a 1950 l_shipdate
and a 2199 o_orderdate), and every key the ts probe ever flagged is
re-run through the driver's own oracle gate.

The class exists because the fixture generator emits a single dense
month of 2024 timestamps, so epoch-sign and bucket-origin behavior
stays invisible:

  * epoch milliseconds: Spark unix_millis FLOORS (-1 for -0.000001s)
    where DuckDB epoch_ms TRUNCATES toward zero (0) — they disagree on
    every pre-epoch sub-second value, and DuckDB's `//` truncates too
    (the portable floor is time_bucket to the millisecond first)
  * bucket origins: Spark window('1 week') aligns to the epoch
    (Thursday) while DuckDB time_bucket(INTERVAL '1 week') aligns to
    2000-01-03 (Monday) — any key pairing those constructs diverges on
    EVERY row; keys must derive week buckets the same way on both sides
  * far-future rows move MAX(ts): streaming rigs that place sentinels
    or cutoffs relative to the data's max event time must still ignore
    sentinels OUT-OF-BAND when real data sits in 2200
  * agreements we RELY on (probed, both engines): day/hour buckets
    floor correctly pre-epoch, date_format/strftime agree 1950-2200,
    floor(epoch_ms/N) agrees for negative epochs once the ms agree

The full-surface sweep lives in tools/battery.py --class ts_extremes (which imports
``plant_ts_extremes`` from here — one source of truth for the corpus);
this test pins the keys that ever diverged.
"""

from __future__ import annotations

import datetime as dt
import shutil
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from kinesis_test_spark.oracle import check_query

SF_SRC = "/root/testdata/sf0.001"

TS_ROWS = [
    (95000001, dt.datetime(1950, 3, 15, 7, 30, 0), "view", 1.0),
    (95000002, dt.datetime(1969, 12, 31, 23, 59, 59, 999999), "click", 2.0),
    (95000003, dt.datetime(1970, 1, 1, 0, 0, 0), "purchase", 3.5),
    (95000004, dt.datetime(2200, 6, 1, 12, 0, 0), "view", 4.25),
]


def plant_ts_extremes(src: str, dest: Path) -> None:
    """Restage ``src`` into ``dest`` with planted extreme timestamps.
    The planted events reuse existing user_ids/props so join paths stay
    live; values are small and finite so only the TIME dimension is
    dirty. The parquet ts encoding follows the source schema (the
    normalize_ts dispatch is pinned separately in test_ts_encoding)."""
    dest.mkdir(parents=True, exist_ok=True)
    for f in Path(src).glob("*.parquet"):
        shutil.copy(f, dest / f.name)

    ev = pq.read_table(dest / "events.parquet")
    h = ev.slice(0, len(TS_ROWS)).to_pydict()
    extra = pa.table(
        {
            "event_id": [r[0] for r in TS_ROWS],
            "ts": [r[1] for r in TS_ROWS],
            "user_id": h["user_id"],
            "event_type": [r[2] for r in TS_ROWS],
            "value": [r[3] for r in TS_ROWS],
            "props": h["props"],
        },
        schema=ev.schema,
    )
    pq.write_table(pa.concat_tables([ev, extra]), dest / "events.parquet")

    li = pq.read_table(dest / "lineitem.parquet")
    lh = li.slice(0, 1).to_pydict()
    ld = {n: list(lh[n]) for n in li.schema.names}
    ld["l_linenumber"] = [97]
    ld["l_shipdate"] = [dt.datetime(1950, 6, 1)]
    pq.write_table(
        pa.concat_tables([li, pa.table(ld, schema=li.schema)]),
        dest / "lineitem.parquet",
    )

    orders = pq.read_table(dest / "orders.parquet")
    oh = orders.slice(0, 1).to_pydict()
    od = {n: list(oh[n]) for n in orders.schema.names}
    od["o_orderkey"] = [95000001]
    od["o_orderdate"] = [dt.datetime(2199, 12, 31)]
    pq.write_table(
        pa.concat_tables([orders, pa.table(od, schema=orders.schema)]),
        dest / "orders.parquet",
    )


@pytest.fixture(scope="module")
def ts_sf_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("ts_sf")
    plant_ts_extremes(SF_SRC, d)
    return str(d)


# Every key the round-8 ts-extremes probe flagged (9/263 at first sweep),
# grouped by the divergence each exposed:
TS_EDGE_KEYS = [
    # epoch-ms conversion: Spark unix_millis FLOOR-divides micros while
    # DuckDB epoch_ms truncates toward zero — off by 1ms on every
    # pre-epoch sub-second value. DuckDB has no integer floor division
    # (`//` truncates too), so oracles state
    # epoch_us(time_bucket(INTERVAL '1 millisecond', x)) // 1000
    # (time_bucket floors exactly; the bucket is divisible by 1000)
    "q_attribution",
    "q_fn_date",
    "q_join_nearest",
    "q_time_weighted_avg",
    "q_window_lag",
    "q_window_range_frame",
    # watermark epoch floor: Spark's event-time watermark starts at the
    # epoch, so watermark-consuming operators silently treat pre-epoch
    # rows as late in the first batch — the domain is now declared
    # strictly post-epoch on BOTH engines (pipeline.post_epoch)
    "s_dedup_watermarked",
    "s_state_ttl",
    "s_stream_join",
]


@pytest.mark.parametrize("name", TS_EDGE_KEYS)
def test_ts_extremes_corpus_parity(spark, ts_sf_dir, name):
    problems = check_query(spark, ts_sf_dir, name)
    assert not problems, f"{name}: " + "; ".join(problems)
