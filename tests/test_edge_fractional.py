"""Standing pin for the FRACTIONAL / SUB-GRAIN adversarial corpus
(EDGES.md class 23, opened round 13).

Every prior corpus's monetary doubles were exact 2-decimals and every
quantity an integer — so the decimal-quantization step of the exact
aggregation route was never exercised on a value that actually needs
ROUNDING. That step turned out to be ENGINE-AMBIGUOUS: Spark's
double→DECIMAL(p,s) cast goes through Java's BigDecimal.valueOf (HALF_UP
on the double's SHORTEST decimal repr) while DuckDB scales the BINARY
value, and the two disagree on schema-legal doubles within an ULP of the
.{s}5 boundary, in BOTH directions:

  * 1048576.005 (shortest repr ON the boundary, binary just below):
    Spark 1048576.01 / DuckDB 1048576.00;
  * 7.5649999999999995 (shortest repr below, scaled binary rounds up):
    Spark 7.56 / DuckDB 7.57.

A scan of n.xx5-shaped doubles found 102 divergers across ten magnitude
bases — dense near power-of-two magnitudes, where the double grid is
coarse relative to the cent grid. Fix (functions/exact.py, r13): the
route quantizes via ROUND(x·10^s) — one shared IEEE multiply, an
integer ROUND with no repr-vs-binary gap (a shortest repr of exactly
k.5 round-trips only when the double IS exactly k.5) and an agreeing
away-from-zero tie rule, then sums DECIMAL(p,0) "cents". Bit-identical
to the old form on exact s-decimal inputs (all clean fixtures).

The corpus plants both diverger shapes plus a genuine cents tie
(0.125·100 = 12.5 exactly) in events.value, lineitem monetary columns,
and o_totalprice, and a FRACTIONAL quantity 19.5 (the q_sql_script CEIL
bucket class — the loop's qty <= k admits 19.5 from k = 20, not 19).

Full-surface sweep: tools/battery.py --class fractional. In-suite pins gate the
dsum/davg consumers the class exists for.
"""

from __future__ import annotations

import shutil
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from kinesis_test_spark.oracle import check_query

SF_SRC = "/root/testdata/sf0.001"

# the proven divergers (both directions) + an exact cents tie
BOUNDARY_UP = 1048576.005          # shortest repr on the .005 boundary
BOUNDARY_DOWN = 7.5649999999999995  # scaled binary crosses, repr doesn't
CENTS_TIE = 0.125                   # x*100 == 12.5 exactly (tie, exact double)


def plant_fractional(src: str, dest: Path) -> None:
    """Restage ``src`` with sub-grain doubles in every monetary column."""
    dest.mkdir(parents=True, exist_ok=True)
    for f in Path(src).glob("*.parquet"):
        shutil.copy(f, dest / f.name)

    ev = pq.read_table(dest / "events.parquet")
    h = ev.slice(0, 4).to_pydict()
    extra = pa.table(
        {
            "event_id": [96100001, 96100002, 96100003, 96100004],
            "ts": h["ts"],
            "user_id": h["user_id"],
            "event_type": ["purchase", "purchase", "click", "purchase"],
            "value": [BOUNDARY_UP, BOUNDARY_DOWN, CENTS_TIE, -BOUNDARY_UP],
            "props": h["props"],
        },
        schema=ev.schema,
    )
    pq.write_table(pa.concat_tables([ev, extra]), dest / "events.parquet")

    li = pq.read_table(dest / "lineitem.parquet")
    lh = li.slice(0, 3).to_pydict()
    ld = {n: list(lh[n]) for n in li.schema.names}
    ld["l_linenumber"] = [91, 92, 93]
    ld["l_extendedprice"] = [BOUNDARY_UP, BOUNDARY_DOWN, CENTS_TIE]
    ld["l_quantity"] = [19.5, 1.5, 0.5]  # fractional quantities
    ld["l_discount"] = [0.0, 0.0, 0.0]   # pass planted prices through 1-disc
    pq.write_table(
        pa.concat_tables([li, pa.table(ld, schema=li.schema)]),
        dest / "lineitem.parquet",
    )

    orders = pq.read_table(dest / "orders.parquet")
    oh = orders.slice(0, 2).to_pydict()
    od = {n: list(oh[n]) for n in orders.schema.names}
    od["o_orderkey"] = [96200001, 96200002]
    od["o_totalprice"] = [BOUNDARY_UP, BOUNDARY_DOWN]
    pq.write_table(
        pa.concat_tables([orders, pa.table(od, schema=orders.schema)]),
        dest / "orders.parquet",
    )


@pytest.fixture(scope="module")
def fractional_sf_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("fractional_sf")
    plant_fractional(SF_SRC, d)
    return str(d)


# dsum/davg consumers over the planted columns + the fractional-quantity
# script (probe-then-pin: extend with whatever the full sweep flags).
FRACTIONAL_KEYS = [
    "q_agg_group",        # events.value dsum
    "q_agg_global",
    "q_flagship",
    "q_tpch_q1",          # lineitem (25,2)/(25,6)/(18,4) routes
    "q_tpch_q6",          # SQL-string API: sql_dsum text runs on BOTH engines
    "q_tpch_q3",
    "q_tpch_q5",
    "q_tpch_q18",         # quantity sums + HAVING over fractional qty
    "q_time_weighted_avg",
    "q_revenue_share",
    "q_sql_script",       # fractional quantity: CEIL bucket contract
    "q_cohort_ltv",
    "q_rollup_incremental",
    "s_tumbling",
    "q_window_frame",
]


@pytest.mark.parametrize("name", FRACTIONAL_KEYS)
def test_fractional_parity(spark, fractional_sf_dir, name):
    from kinesis_test_spark import registry

    registry.load_all()
    if name not in registry.QUERIES:
        pytest.skip(f"{name} not registered in this build")
    problems = check_query(spark, fractional_sf_dir, name)
    assert not problems, problems
