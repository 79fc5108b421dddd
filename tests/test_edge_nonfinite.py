"""Standing pin for the NON-FINITE float adversarial corpus (EDGES.md).

Schema-legal NaN / +Inf / -Inf doubles are planted into events.value,
embedding vectors, lineitem's quantity/price/discount/tax (on existing
join keys, so every TPC-H path carries the dirt) and orders.o_totalprice
of a restaged sf0.001, and every key the non-finite probe ever flagged is
re-run through the driver's own oracle gate.  The
class exists because double columns admit non-finite values but the fixture
generator never emits them, so each engine's WILDLY different non-finite
handling stays invisible:

  * decimal-exact aggregation (the repo's own determinism rule): Spark
    CAST(NaN/Inf AS DECIMAL) yields NULL — the sum SILENTLY DROPS the row —
    while DuckDB raises InvalidInput even through TRY_CAST.  The contract
    is explicit symmetric exclusion: non-finite values are quarantined out
    of exact sums/avgs on BOTH engines (functions/exact.finite + sql_finite)
  * moment statistics: stddev/var/corr over a NaN input return NaN in
    Spark but raise OutOfRange in DuckDB — same explicit exclusion
  * narrowing casts: TRY_CAST(NaN AS BIGINT) is NULL in Spark, raises in
    DuckDB — oracles guard before the cast
  * agreements we RELY on (probed, both engines): NaN > 0 is TRUE, NaN
    sorts greater than +Inf, min/max propagate NaN, round(NaN,6)=NaN,
    plain double avg/sum propagate NaN

All quarantine guards are bounded predicates abs(x) < 10^exp — FALSE for
NaN/±Inf in both engines (NaN compares greater than any bound) and for
finite out-of-range magnitudes, the sibling class test_edge_magnitude
covers. Bounds are route-derived: min(10^(p-s), 1e15) next to a
DECIMAL(p,s) cast (functions/exact.finite/sql_finite), the default 1e12
(functions/exact.EXACT_MAX) for statistics/rendering guards.

The full-surface sweep lives in tools/battery.py --class nonfinite (which imports
``plant_nonfinite`` from here — one source of truth for the corpus); this
test pins the keys that ever diverged.
"""

from __future__ import annotations

import math
import shutil
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from kinesis_test_spark.oracle import check_query

SF_SRC = "/root/testdata/sf0.001"

NAN = float("nan")
INF = float("inf")


def plant_nonfinite(src: str, dest: Path) -> None:
    """Restage ``src`` into ``dest`` with planted non-finite doubles.

    events: one NaN / +Inf / -Inf value row per high-traffic event_type
    (purchase rows feed every revenue aggregate), on EXISTING users so the
    rows flow through joins and sessionization; embeddings: one vector with
    a NaN component and one with +Inf (norms, dot products, quantizers)."""
    dest.mkdir(parents=True, exist_ok=True)
    for f in Path(src).glob("*.parquet"):
        shutil.copy(f, dest / f.name)

    ev = pq.read_table(dest / "events.parquet")
    h = ev.slice(0, 4).to_pydict()
    extra = pa.table(
        {
            "event_id": [94000001, 94000002, 94000003, 94000004],
            "ts": h["ts"],
            "user_id": h["user_id"],
            "event_type": ["purchase", "click", "view", "purchase"],
            "value": [NAN, INF, -INF, INF],
            "props": h["props"],
        },
        schema=ev.schema,
    )
    pq.write_table(pa.concat_tables([ev, extra]), dest / "events.parquet")

    emb = pq.read_table(dest / "embeddings.parquet")
    eh = emb.slice(0, 1).to_pydict()
    dim = len(eh["embedding"][0])
    nan_vec = [0.1] * dim
    nan_vec[1] = NAN
    inf_vec = [0.1] * dim
    inf_vec[2] = INF
    ex = pa.table(
        {
            "vec_id": [95000001, 95000002],
            "embedding": [nan_vec, inf_vec],
            "label": eh["label"] * 2,
        },
        schema=emb.schema,
    )
    pq.write_table(pa.concat_tables([emb, ex]), dest / "embeddings.parquet")

    # phase 2: monetary doubles. Rows reference EXISTING order/part/supp
    # keys (head rows) so every TPC-H join path carries the dirt; the
    # derived-partsupp CTE (tpch._ps) propagates a NaN l_extendedprice
    # into ps_supplycost, stressing Q2/Q11/Q16/Q20 as well.
    li = pq.read_table(dest / "lineitem.parquet")
    lh = li.slice(0, 4).to_pydict()
    lx = pa.table(
        {
            "l_orderkey": lh["l_orderkey"],
            "l_partkey": lh["l_partkey"],
            "l_suppkey": lh["l_suppkey"],
            "l_linenumber": [91, 92, 93, 94],
            "l_quantity": [lh["l_quantity"][0], NAN, 5.0, 7.0],
            "l_extendedprice": [NAN, 100.0, INF, 200.0],
            "l_discount": [0.05, 0.05, 0.05, NAN],
            "l_tax": [0.02, INF, 0.02, 0.02],
            "l_returnflag": lh["l_returnflag"],
            "l_linestatus": lh["l_linestatus"],
            "l_shipdate": lh["l_shipdate"],
        },
        schema=li.schema,
    )
    pq.write_table(pa.concat_tables([li, lx]), dest / "lineitem.parquet")

    orders = pq.read_table(dest / "orders.parquet")
    oh = orders.slice(0, 2).to_pydict()
    names = orders.schema.names
    od = {n: list(oh[n]) for n in names}
    od["o_orderkey"] = [96000001, 96000002]
    od["o_totalprice"] = [NAN, INF]
    ox = pa.table(od, schema=orders.schema)
    pq.write_table(pa.concat_tables([orders, ox]), dest / "orders.parquet")


@pytest.fixture(scope="module")
def nonfinite_sf_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("nonfinite_sf")
    plant_nonfinite(SF_SRC, d)
    return str(d)


# Every key the round-8 non-finite probe flagged (44/263 on the first
# sweep; 0/263 after the fixes), grouped by the divergence each exposed:
NONFINITE_EDGE_KEYS = [
    # decimal-exact aggregation: Spark CAST(NaN/Inf AS DECIMAL) silently
    # NULLs (the sum DROPS the row) while DuckDB raises even via TRY_CAST
    # — now explicit symmetric exclusion (exact.finite / sql_finite and
    # the inline CASE guards)
    "q_flagship",
    "q_time_rollup",
    "q_rollup_incremental",
    "q_cohort_ltv",
    "q_ab_test",
    "q_bootstrap_ci",
    "q_rfm",
    "q_feature_snapshot",  # conditional-sum form (CASE ... THEN value)
    "q_window_frame",
    "q_window_range_frame",
    "q_time_weighted_avg",
    "q_source_csv",
    "q_source_orc",
    "q_source_xml",
    "q_source_avro_py",
    "q_table_snapshot",
    "q_table_time_travel",
    "q_table_compact",
    "q_table_gdpr",
    "q_table_evolve",
    "s_json_ingest",
    "s_avro_ingest",
    "s_observe",
    "s_static_join",
    "s_table_stream",
    # moment statistics: DuckDB stddev/var/corr RAISE OutOfRange on NaN,
    # Spark returns NaN — finite-guarded inputs on both sides
    "q_agg_stats",
    "q_outliers",
    "q_grouped_map",
    "q_udaf_weighted",  # + pandas .sum() skips NaN but SUMS Inf
    # windowed percentile: Spark counts NaN as the greatest frame value,
    # DuckDB NULLs the frame
    "q_window_rolling_median",
    # double→string rendering: Spark 'NaN'/'Infinity' vs DuckDB
    # 'nan'/'inf' — Spark's spelling is the contract
    "q_fn_cast",  # + non-finite→int cast is range-guarded NULL
    "q_explode_dq",
    # vector validity: a NaN cosine sorts to the TOP of Spark's DESC
    # rankings (NaN is greatest) and poisons centroid assignment — vectors
    # with any non-finite component are quarantined (similarity.vec_valid
    # / _SQL_VEC_VALID: e IS NULL, cosine -1.0 sentinel / SQL NULL)
    "q_sim_search",
    "q_sim_search_ivf",
    "q_sim_search_ivf_multiprobe",
    "q_sim_lsh",
    "q_ann_batch",
    "q_ann_recall",
    "q_kmeans_step",
    "q_emb_centroid",
    "q_emb_drift",
    "q_dedup_embedding",
    "q_dedup_embedding_cells",
    # custom stateful max: pandas float64 cannot tell NULL from NaN, so
    # both sides quarantine non-finite out of the running max
    "s_custom_state",
    # --- phase 2: lineitem/orders monetary doubles (10/263 on the first
    # extended sweep — the dsum/sql_dsum plumbing had already covered the
    # rest of TPC-H transitively; these were the inline-oracle stragglers)
    "q_agg_histogram",  # non-finite price -> NULL (invalid) bucket
    "q_cte",
    "q_subquery_scalar",
    "q_sql_script",  # NULL quantity bin sorts after every finite cutoff
    "q_fn_math",  # decimal/int routes guarded; ln/sqrt/greatest stay raw
    "q_revenue_share",
    "q_tpch_q11",
    "q_tpch_q18",
    "q_tpch_q20",
    # DuckDB's parquet zone-map pushdown DROPS a NaN row from a bare
    # range predicate even though nan > 1.0 is TRUE in its executor —
    # the range check states isnan() explicitly on both engines (and a
    # NaN discount IS a violation)
    "q_dq_checks",
]


@pytest.mark.parametrize("name", NONFINITE_EDGE_KEYS)
def test_nonfinite_corpus_parity(spark, nonfinite_sf_dir, name):
    problems = check_query(spark, nonfinite_sf_dir, name)
    assert not problems, f"{name}: " + "; ".join(problems)


def test_corpus_actually_plants_nonfinite(nonfinite_sf_dir):
    """Guard the rig itself: parquet round-trips NaN/Inf intact."""
    vals = pq.read_table(f"{nonfinite_sf_dir}/events.parquet")["value"].to_pylist()
    assert any(v is not None and math.isnan(v) for v in vals)
    assert any(v == INF for v in vals) and any(v == -INF for v in vals)
