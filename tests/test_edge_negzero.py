"""SEVENTEENTH adversarial class: NEGATIVE ZERO.

IEEE -0.0 compares EQUAL to +0.0 (sorting, grouping, joins agree on both
engines) but renders distinctly (repr/hash: '-0.0' != '0.0'), so any
operator that returns a zero it COMPUTED — rather than a zero it picked
from storage — can surface either sign, engine-arbitrarily:

  * interpolation arithmetic: Spark's percentile evaluates
    (1-g)*a + g*b, and 1*(-0.0) + 0*b = +0.0, where DuckDB's
    quantile_cont returns the -0.0 element itself (the divergence the
    round-9 LATE corpus tripped by planting `-1.5 * 0`);
  * rank-picking over an equal class: min/max/first over {-0.0, 0.0}
    return an arbitrary representative;
  * sums: (-0.0) + (-0.0) = -0.0 but the decimal-exact aggregation route
    (CAST → SUM → CAST) normalizes to +0.0 on both engines.

Contract: keys whose output column can carry a COMPUTED zero normalize
the sign at the output boundary (`x + 0.0` — the IEEE identity that maps
-0.0 to +0.0 and is a no-op on every other value including NULL/NaN/Inf,
mirrored verbatim in SQL). Keys that return stored values as-is are
symmetric by construction (both engines return the stored bits).

The corpus plants -0.0 into events.value (a whole user, plus mixed
-0.0/+0.0 frames), lineitem monetary doubles, and embedding components.
Swept over the whole surface by tools/battery.py --class negzero.
"""

from __future__ import annotations

import shutil
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from edge_rig import EVENT_COLS, append_events
from kinesis_test_spark.oracle import check_query

SF_SRC = "/root/testdata/sf0.001"

_JAN1_US = 1_704_067_200_000_000


def plant_negzero(src: str, dest: Path) -> None:
    dest.mkdir(parents=True, exist_ok=True)
    for f in Path(src).glob("*.parquet"):
        shutil.copy(f, dest / f.name)

    types = ["click", "view", "purchase", "signup", "error"]
    rows = {k: [] for k in EVENT_COLS}

    def add(eid, ts_us, uid, etype, value):
        rows["event_id"].append(eid)
        rows["ts"].append(ts_us)
        rows["user_id"].append(uid)
        rows["event_type"].append(etype)
        rows["value"].append(value)
        rows["props"].append('{"k": 1}')

    # user 60: ALL -0.0 (every frame/aggregate over it is a computed zero)
    for i in range(12):
        add(6000 + i, _JAN1_US + (2 * 24 + i) * 3_600_000_000, 60,
            types[i % 5], -0.0)
    # user 61: mixed -0.0 / +0.0 / small values (interpolation frames
    # straddle the equal class)
    vals = [-0.0, 0.0, -0.0, 1.5, -0.0, 0.0, -2.5, -0.0, 0.0, -0.0]
    for i, v in enumerate(vals):
        add(6100 + i, _JAN1_US + (5 * 24 + i) * 3_600_000_000, 61,
            types[(i + 1) % 5], v)

    append_events(dest, rows)

    # lineitem: -0.0 in the monetary doubles of a few rows, plus genuinely
    # NEGATIVE quantity/price (rows 6-7) — the sqrt/ln domain edge where
    # DuckDB RAISES (OutOfRange) and Spark yields NaN/NULL; both guards
    # must state the domain on BOTH sides (q_fn_math)
    li = pq.read_table(dest / "lineitem.parquet")
    n = li.num_rows
    cols = {}
    for field in li.schema:
        arr = li.column(field.name)
        if field.name in ("l_quantity", "l_extendedprice", "l_discount", "l_tax"):
            vals = arr.to_pylist()
            for j in range(0, min(6, n)):
                vals[j] = -0.0
            if n > 7:
                vals[6] = -4.0 if field.name == "l_quantity" else vals[6]
                vals[7] = -100.0 if field.name == "l_extendedprice" else vals[7]
            cols[field.name] = pa.array(vals, type=field.type)
        else:
            cols[field.name] = arr
    pq.write_table(pa.table(cols, schema=li.schema), dest / "lineitem.parquet")

    # embeddings: one vector with -0.0 components, one mixed
    em = pq.read_table(dest / "embeddings.parquet")
    dim = len(em.column("embedding")[0].as_py())
    extra_em = pa.table(
        {
            "vec_id": pa.array([960001, 960002], type=em.schema.field("vec_id").type),
            "embedding": pa.array(
                [[-0.0] * dim, [(-0.0 if i % 2 else 0.25) for i in range(dim)]],
                type=em.schema.field("embedding").type,
            ),
            "label": pa.array([0, 1], type=em.schema.field("label").type),
        },
        schema=em.schema,
    )
    pq.write_table(pa.concat_tables([em, extra_em]), dest / "embeddings.parquet")


# Keys that compute zeros over the planted frames (the class's standing
# in-suite pins; the full surface is swept by tools/battery.py --class negzero).
NEGZERO_KEYS = [
    "q_window_rolling_median",  # the key the LATE corpus originally tripped
    "q_agg_group",
    "q_window_frame",
    "q_agg_stats",
    "q_grouped_map",
    "q_sim_search",
    "q_emb_normalize",
]


@pytest.fixture(scope="module")
def negzero_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("negzero_sf")
    plant_negzero(SF_SRC, d)
    return str(d)


@pytest.mark.parametrize("key", NEGZERO_KEYS)
def test_negzero_parity(spark, negzero_dir, key):
    assert check_query(spark, negzero_dir, key) == []
