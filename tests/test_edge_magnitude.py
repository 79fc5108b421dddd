"""Standing pin for the EXTREME-MAGNITUDE double adversarial corpus.

Schema-legal but decimal-unrepresentable magnitudes (±1e20 in
events.value / lineitem.l_extendedprice / orders.o_totalprice, a 1e30
component in an embedding vector) are planted into a restaged sf0.001 and
every key the magnitude probe ever flagged is re-run through the driver's
own oracle gate.  The class completes the non-finite contract
(test_edge_nonfinite): the decimal-exact route CAST(x AS DECIMAL(p,s))
can only represent |x| < 10^(p-s), and on an out-of-range FINITE value
the engines split exactly like they do on NaN/Inf — Spark's cast yields
NULL (the sum silently drops the row) while DuckDB raises a
ConversionException even through TRY_CAST.  The chosen semantics: a value
the route cannot represent is quarantined exactly like a non-finite one,
via the same guard (`abs(x) < bound` subsumes NaN/±Inf on both engines —
NaN compares greater than everything in Spark AND DuckDB, so
abs(NaN) < b is FALSE in both).

The full-surface sweep lives in tools/battery.py --class magnitude (imports
``plant_magnitude`` from here); this test pins the keys that ever
diverged.
"""

from __future__ import annotations

import shutil
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from kinesis_test_spark.oracle import check_query

SF_SRC = "/root/testdata/sf0.001"

BIG = 1e20


def plant_magnitude(src: str, dest: Path) -> None:
    """Restage ``src`` with planted finite-but-huge doubles on existing
    join keys (events users, lineitem order/part/supp keys)."""
    dest.mkdir(parents=True, exist_ok=True)
    for f in Path(src).glob("*.parquet"):
        shutil.copy(f, dest / f.name)

    # MID sits BETWEEN the default 1e12 domain and the wider per-route
    # bounds (10^(p-s)): a (18,6) route quarantines it while a (18,2)
    # route accepts it — planted to prove every Spark/oracle guard PAIR
    # carries the same bound (a pair mismatch diverges only on this band)
    MID = 5e13
    ev = pq.read_table(dest / "events.parquet")
    h = ev.slice(0, 3).to_pydict()
    extra = pa.table(
        {
            "event_id": [97000001, 97000002, 97000003],
            "ts": h["ts"],
            "user_id": h["user_id"],
            "event_type": ["purchase", "click", "purchase"],
            "value": [BIG, -BIG, MID],
            "props": h["props"],
        },
        schema=ev.schema,
    )
    pq.write_table(pa.concat_tables([ev, extra]), dest / "events.parquet")

    li = pq.read_table(dest / "lineitem.parquet")
    lh = li.slice(0, 2).to_pydict()
    ld = {n: list(lh[n]) for n in li.schema.names}
    ld["l_linenumber"] = [95, 96]
    ld["l_extendedprice"] = [BIG, 5e17]  # 5e17: (25,6) accepts, (18,x) rejects
    pq.write_table(
        pa.concat_tables([li, pa.table(ld, schema=li.schema)]),
        dest / "lineitem.parquet",
    )

    orders = pq.read_table(dest / "orders.parquet")
    oh = orders.slice(0, 2).to_pydict()
    od = {n: list(oh[n]) for n in orders.schema.names}
    od["o_orderkey"] = [98000001, 98000002]
    od["o_totalprice"] = [-BIG, MID]
    pq.write_table(
        pa.concat_tables([orders, pa.table(od, schema=orders.schema)]),
        dest / "orders.parquet",
    )

    emb = pq.read_table(dest / "embeddings.parquet")
    eh = emb.slice(0, 1).to_pydict()
    dim = len(eh["embedding"][0])
    big_vec = [0.1] * dim
    big_vec[0] = 1e30
    ex = pa.table(
        {"vec_id": [99000001], "embedding": [big_vec], "label": eh["label"]},
        schema=emb.schema,
    )
    pq.write_table(pa.concat_tables([emb, ex]), dest / "embeddings.parquet")


@pytest.fixture(scope="module")
def mag_sf_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("mag_sf")
    plant_magnitude(SF_SRC, d)
    return str(d)


# Every key the round-8 magnitude probe flagged (42/263 on the first
# sweep — the non-finite guards' isnan/Inf predicate passed 1e20 straight
# into the decimal route; 0/263 after the guards were rewritten to the
# single bounded form `abs(x) < 1e12`, which subsumes NaN/±Inf/huge):
MAGNITUDE_EDGE_KEYS = [
    "q_ab_test",
    "q_agg_global",
    "q_agg_group",
    "q_agg_gsets",
    "q_bootstrap_ci",
    "q_cohort_ltv",
    "q_cte",
    "q_emb_centroid",
    "q_emb_drift",
    # rendering: raw CAST(double AS VARCHAR) is formatter-defined (Spark
    # picks the SHORTER of plain/scientific per value, DuckDB stays plain
    # to 1e16 — even 1.25e7 diverges) — and %.6f is repr-vs-binary
    # ambiguous too (r14 class 24), so both keys render exact cents
    # within |v| < 1e12 and quarantine outside (scalar._RENDER6_SQL)
    "q_explode_dq",
    "q_fn_cast",  # + the int route is range-guarded at 2^31, not 1e12
    "q_feature_snapshot",
    "q_flagship",
    "q_fn_math",
    "q_join_broadcast",
    "q_join_left",
    # a finite 1e30 embedding component overflowed the DECIMAL(28,16)
    # centroid route (Spark ANSI NUMERIC_VALUE_OUT_OF_RANGE) — vec_valid
    # now bounds components to the exact domain
    "q_kmeans",
    "q_kmeans_step",
    "q_outliers",
    "q_revenue_share",
    "q_rfm",
    "q_rollup_incremental",
    "q_source_avro_py",
    "q_source_csv",
    "q_source_orc",
    "q_source_xml",
    "q_subquery_scalar",
    "q_table_compact",
    "q_table_evolve",
    "q_table_gdpr",
    "q_table_snapshot",
    "q_table_time_travel",
    "q_time_rollup",
    "q_time_weighted_avg",
    "q_tpch_q1",
    "q_window_frame",
    "q_window_range_frame",
    "s_avro_ingest",
    "s_json_ingest",
    "s_observe",
    "s_static_join",
    "s_table_stream",
]


@pytest.mark.parametrize("name", MAGNITUDE_EDGE_KEYS)
def test_magnitude_corpus_parity(spark, mag_sf_dir, name):
    problems = check_query(spark, mag_sf_dir, name)
    assert not problems, f"{name}: " + "; ".join(problems)
