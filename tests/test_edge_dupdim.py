"""EDGE CLASS 20 — DIRTY DIMENSIONS (duplicate / NULL primary keys).

Every relational operator in the surface assumes the TPC-H dimension
tables carry unique, non-NULL primary keys — an assumption real
upstreams break constantly (un-deduplicated CDC feeds, replayed dim
loads, half-applied SCD merges). This corpus plants BOTH corruptions in
every dimension:

  * DUPLICATE keys with DIFFERENT payloads: a second customer row under
    an existing c_custkey (different segment/balance/nation), a second
    part row under an existing p_partkey (different type/brand/price), a
    second supplier under an existing s_suppkey, a second nation under an
    existing n_nationkey, and a second orders row under an existing
    o_orderkey (different status/price/priority/date) — the "which row
    is the truth?" ambiguity. Joins through such a key FAN OUT (both
    engines multiply matches identically — parity must hold); argmax /
    rank / SCD-style picks over dim attributes must carry tie-breaks
    complete enough that the two engines pick the same row.
  * NULL keys: a customer row with NULL c_custkey, a part with NULL
    p_partkey, an orders row with NULL o_orderkey (NULL o_custkey too) —
    equi-joins drop them symmetrically, but any dropDuplicates /
    groupBy-over-dim-key path collapses NULLs into one group (Spark)
    where row-level handling may differ.

First sweep (round 11): 2/278 diverged, both real, both fixed:

  * q_fn_string CRASHED (totality, not parity): `element_at(split(
    c_name, '#'), 2)` raises under Spark 4 ANSI when a dim row's name
    carries no '#' where DuckDB's split_part returns '' — all three
    cases now stated explicitly (missing delimiter → '', NULL name →
    NULL, present → element).
  * q_join_asof_union emitted one row per orders ROW where the shared
    oracle's PARTITION BY o_orderkey emits one row per order IDENTITY
    (duplicate keys collapse) — the merge form now ends in a
    deterministic struct argmax on the key, and the shared oracle +
    q_join_asof's window gained the COMPLETE tie-break (o_custkey,
    o_orderdate vary inside a duplicate-key partition). The review of
    that fix found two LATENT siblings in the merge shape: NULL-user
    events shared the NULL merge partition with NULL-custkey orders
    (the join form's predicate never matches NULLs — exclusion now
    stated), and two separate last(ignorenulls) calls could carry a
    MIXED row (ts from a NULL-id event, id from an older event) — the
    pair is now carried atomically as one struct.

Everything else holds: the surface never argmaxes over dimension
attributes without a complete tie-break, never dropDuplicates a dim key
asymmetrically, and every scalar-subquery key aggregates (single row by
construction, not by PK assumption). The pins below keep the corpus
exercised and additionally pin the fan-out CONTRACTS: a dup-key dim
join multiplies matching fact rows on both engines, and NULL-key dim
rows never join.
"""

from __future__ import annotations

import shutil
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from kinesis_test_spark.oracle import check_query
from kinesis_test_spark.streaming.pipeline import local_rows

pytestmark = pytest.mark.slow


def _mutated(table: pa.Table, row_idx: int, mutations: dict) -> pa.Table:
    """One-row table: row ``row_idx`` of ``table`` with ``mutations``
    applied (None values become typed NULLs via the preserved schema)."""
    row = table.slice(row_idx, 1).to_pydict()
    for k, v in mutations.items():
        row[k] = [v]
    return pa.table(row, schema=table.schema)


def plant_dupdim(src: str, dest: Path) -> None:
    dest.mkdir(parents=True, exist_ok=True)
    for f in Path(src).glob("*.parquet"):
        shutil.copy(f, dest / f.name)

    def extend(name: str, extras: list[pa.Table]) -> None:
        t = pq.read_table(dest / f"{name}.parquet")
        pq.write_table(pa.concat_tables([t] + extras), dest / f"{name}.parquet")

    cust = pq.read_table(dest / "customer.parquet")
    extend(
        "customer",
        [
            _mutated(cust, 0, {"c_name": "dup-payload-a", "c_acctbal": 9999.25,
                               "c_mktsegment": "BUILDING", "c_nationkey": 3}),
            _mutated(cust, 0, {"c_name": "dup-payload-b", "c_acctbal": -1.5,
                               "c_mktsegment": "MACHINERY"}),
            _mutated(cust, 1, {"c_custkey": None, "c_name": "keyless customer"}),
        ],
    )
    part = pq.read_table(dest / "part.parquet")
    extend(
        "part",
        [
            _mutated(part, 0, {"p_name": "dup part", "p_type": "EDGE BRUSHED DUP",
                               "p_brand": "Brand#99", "p_retailprice": 0.25}),
            _mutated(part, 1, {"p_partkey": None, "p_name": "keyless part"}),
        ],
    )
    supp = pq.read_table(dest / "supplier.parquet")
    extend(
        "supplier",
        [_mutated(supp, 0, {"s_name": "dup supplier", "s_acctbal": -42.75,
                            "s_nationkey": 7})],
    )
    nation = pq.read_table(dest / "nation.parquet")
    extend(
        "nation",
        [_mutated(nation, 0, {"n_name": "DUPLICATIA", "n_regionkey": 2})],
    )
    orders = pq.read_table(dest / "orders.parquet")
    extend(
        "orders",
        [
            _mutated(orders, 0, {"o_orderstatus": "X", "o_totalprice": 1.75,
                                 "o_orderpriority": "5-LOW"}),
            _mutated(orders, 1, {"o_orderkey": None, "o_custkey": None,
                                 "o_orderstatus": "N"}),
        ],
    )


@pytest.fixture(scope="module")
def dupdim_dir(spark, sf_dir, tmp_path_factory):
    d = tmp_path_factory.mktemp("dupdim_sf")
    plant_dupdim(sf_dir, d)
    return str(d)


# The keys whose shape is most exposed to dim-PK assumptions: the full
# TPC-H suite picks/aggregates through every planted dim; the join family
# fans out through the dup keys; SCD2/argmax picks need complete
# tie-breaks; q_dq_checks/q_fk_orphans are the integrity measurers.
PIN_KEYS = [
    "q_join_inner",
    "q_join_broadcast",
    "q_join_left",
    "q_join_semi",
    "q_join_anti",
    "q_join_bloom",
    "q_subquery_scalar",
    "q_subquery_in",
    "q_scd2_intervals",
    "q_agg_argmax",
    "q_fk_orphans",
    "q_dq_checks",
    "q_revenue_share",
    "q_tpch_q2",
    "q_tpch_q3",
    "q_tpch_q5",
    "q_tpch_q10",
    "q_tpch_q13",
    "q_tpch_q15",
    "q_tpch_q18",
    "q_tpch_q21",
    "q_graph_triangles",
    "q_cohort_ltv",
    "q_rfm",
]


@pytest.mark.parametrize("name", PIN_KEYS)
def test_dupdim_parity(spark, dupdim_dir, name):
    assert check_query(spark, dupdim_dir, name) == []


def test_dup_key_join_fans_out(spark, dupdim_dir):
    """CONTRACT: an equi-join through a duplicated dim key multiplies the
    matching fact rows by the number of dim rows — silently, on both
    engines. The planted c_custkey now has 3 customer rows, so every
    order of that customer appears exactly 3× in a plain join."""
    from pyspark.sql import functions as F

    cust = spark.read.parquet(f"{dupdim_dir}/customer.parquet")
    orders = spark.read.parquet(f"{dupdim_dir}/orders.parquet")
    dup_key = (
        cust.groupBy("c_custkey").count().filter("count = 3 AND c_custkey IS NOT NULL"
        ).collect()
    )
    assert len(dup_key) == 1
    k = dup_key[0]["c_custkey"]
    n_orders = orders.filter(F.col("o_custkey") == k).count()
    joined = orders.join(cust, orders.o_custkey == cust.c_custkey).filter(
        F.col("c_custkey") == k
    )
    assert joined.count() == 3 * n_orders


def test_null_key_dim_rows_never_join(spark, dupdim_dir):
    """CONTRACT: NULL-key dim rows match nothing in an equi-join (and the
    NULL-custkey order matches no customer) — dirt stays out of join
    results without any explicit filter."""
    cust = spark.read.parquet(f"{dupdim_dir}/customer.parquet")
    orders = spark.read.parquet(f"{dupdim_dir}/orders.parquet")
    joined = orders.join(cust, orders.o_custkey == cust.c_custkey)
    assert joined.filter("c_custkey IS NULL OR o_custkey IS NULL").count() == 0


def test_struct_max_places_null_fields_smallest(spark):
    """INVARIANT the as-of grain collapse relies on: Spark's max() over a
    struct orders NULL field values SMALLEST at every position — exactly
    the oracle's `(k IS NOT NULL) DESC, COALESCE(k, const) DESC` encoding,
    so the struct argmax and the rn=1 window pick the same row. If a Spark
    upgrade changed struct-ordering NULL placement, this pin fails before
    any corpus does."""
    from pyspark.sql import functions as F

    rows = [(1, None, 7), (1, 5, None), (1, 5, 3)]
    df = local_rows(spark, rows, "k int, a int, b int")
    got = (
        df.groupBy("k")
        .agg(F.max(F.struct("a", "b")).alias("r"))
        .select("r.a", "r.b")
        .collect()[0]
    )
    # max prefers non-NULL a (5 > NULL), then non-NULL b (3 > NULL)
    assert (got["a"], got["b"]) == (5, 3)
