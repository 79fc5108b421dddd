"""Exact means divide by the population they sum.

Every exact mean sums the finite-guarded value (``functions/exact.finite``:
NULL, NaN, ±Inf and out-of-route magnitudes drop out), so its denominator
must count the same guarded value (``davg``/``sql_davg``), not ``COUNT(*)``.
A ``COUNT(*)`` denominator pulls the mean toward 0 by every NULL or
non-finite row in the group, while the matching spread statistics
(``stddev_samp``/``var_samp`` over finite values) keep the true population.

One NULL and one NaN ``value`` are planted into one group of a restaged
fixture, and each mean is checked against that group's finite values
computed independently in pandas, then against the DuckDB oracle.
"""

from __future__ import annotations

import math
import shutil
from pathlib import Path

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from kinesis_test_spark import registry
from kinesis_test_spark.oracle import check_query

KEYS = ["q_outliers", "q_ab_test", "q_bootstrap_ci", "q_subquery_scalar"]


def _restage(src: str, dest: Path) -> None:
    dest.mkdir(parents=True, exist_ok=True)
    for f in Path(src).glob("*.parquet"):
        shutil.copy(f, dest / f.name)


def _add_control_purchases(dest: Path, values: list) -> None:
    """Append one purchase per value on an even (control-variant) user."""
    ev = pq.read_table(dest / "events.parquet")
    head = ev.to_pandas()
    row = head[(head.event_type == "purchase") & (head.user_id % 2 == 0)].iloc[0]
    n = len(values)
    extra = pa.table(
        {
            "event_id": [97000001 + i for i in range(n)],
            "ts": [row.ts.to_pydatetime()] * n,
            "user_id": [int(row.user_id)] * n,
            "event_type": ["purchase"] * n,
            "value": values,
            "props": [row.props] * n,
        },
        schema=ev.schema,
    )
    pq.write_table(pa.concat_tables([ev, extra]), dest / "events.parquet")


def plant_mean_population(src: str, dest: Path) -> None:
    """Restage ``src`` into ``dest``: a NULL and a NaN purchase value on an
    even (control-variant) user, a NULL and a NaN ``o_totalprice``, and one
    order priced at 1.5x the clean mean price. That order lies strictly
    between the finite-population threshold and the ``COUNT(*)`` one
    (which counts the two dirty orders), so q_subquery_scalar returns it
    only under the wrong denominator."""
    _restage(src, dest)
    _add_control_purchases(dest, [None, float("nan")])

    orders = pq.read_table(dest / "orders.parquet")
    price = orders.column("o_totalprice").to_pandas()
    od = {n: list(orders.slice(0, 3).column(n).to_pylist()) for n in orders.schema.names}
    od["o_orderkey"] = [97000001, 97000002, 97000003]
    od["o_totalprice"] = [None, float("nan"), round(1.5 * price.mean(), 2)]
    pq.write_table(
        pa.concat_tables([orders, pa.table(od, schema=orders.schema)]),
        dest / "orders.parquet",
    )


@pytest.fixture(scope="module")
def planted(tmp_path_factory, sf_dir):
    d = tmp_path_factory.mktemp("mean_population_sf")
    plant_mean_population(sf_dir, d)
    ev = pd.read_parquet(d / "events.parquet")
    orders = pd.read_parquet(d / "orders.parquet")
    return str(d), ev, orders


def _finite(s: pd.Series) -> pd.Series:
    return s[s.notna() & s.abs().lt(math.inf)]


def test_means_count_the_finite_population(spark, planted):
    d, ev, orders = planted
    purchase = ev[ev.event_type == "purchase"]
    control = _finite(purchase[purchase.user_id % 2 == 0].value)
    # the planted group really carries the dirt
    assert purchase.value.isna().sum() == 2

    registry.load_all()
    q = registry.QUERIES

    ab = q["q_ab_test"](spark, d).collect()[0]
    assert ab["n_c"] == len(control)
    assert ab["mean_control"] == pytest.approx(round(control.mean(), 6), abs=1.5e-6)

    boot = q["q_bootstrap_ci"](spark, d).collect()[0]
    fp = _finite(purchase.value)
    assert boot["mean_value"] == pytest.approx(round(fp.mean(), 6), abs=1.5e-6)

    mu, sigma = fp.mean(), round(fp.std(ddof=1), 6)
    out = q["q_outliers"](spark, d).toPandas()
    got = out[(out.event_type == "purchase") & out.value.abs().lt(math.inf)]  # NaN z > 2.5 too
    z = ((fp - mu) / sigma).round(4)
    want = purchase.loc[z[z.abs() > 2.5].index]
    assert sorted(got.event_id) == sorted(want.event_id)
    zs = dict(zip(got.event_id, got.z))
    for eid, zz in zip(want.event_id, z[z.abs() > 2.5]):
        assert zs[eid] == pytest.approx(zz, abs=1.5e-4)

    price = _finite(orders.o_totalprice)
    sub = q["q_subquery_scalar"](spark, d).toPandas()
    sub = sub[sub.o_totalprice.abs().lt(math.inf)]  # NaN > x holds in both engines
    want = orders.o_orderkey[price.index[price > 1.5 * price.mean()]]
    assert sorted(sub.o_orderkey) == sorted(want)
    assert 97000003 not in set(sub.o_orderkey)


@pytest.mark.parametrize("key", KEYS)
def test_mean_population_oracle_parity(spark, planted, key):
    problems = check_query(spark, planted[0], key)
    assert not problems, "; ".join(problems)


# Inside the (18,2) route's 1e15 guard, outside the 1e12 statistics default.
ROUTE_MAGNITUDE = 5e13


@pytest.fixture(scope="module")
def planted_magnitude(tmp_path_factory, sf_dir):
    d = tmp_path_factory.mktemp("mean_population_magnitude_sf")
    _restage(sf_dir, d)
    _add_control_purchases(d, [ROUTE_MAGNITUDE])
    return str(d), pd.read_parquet(d / "events.parquet")


def test_ab_test_variance_counts_the_route_population(spark, planted_magnitude):
    """q_ab_test's n, mean and variance count one population, the (18,2)
    route's: a value in [1e12, 1e15) counted in n and the mean but not in
    var_control leaves the Welch t over two different samples."""
    d, ev = planted_magnitude
    purchase = ev[ev.event_type == "purchase"]
    in_route = purchase[purchase.value.abs().lt(1e15)]
    c = in_route[in_route.user_id % 2 == 0].value
    tr = in_route[in_route.user_id % 2 == 1].value
    assert ROUTE_MAGNITUDE in set(c)

    registry.load_all()
    ab = registry.QUERIES["q_ab_test"](spark, d).collect()[0]
    assert ab["n_c"] == len(c) and ab["n_t"] == len(tr)
    assert ab["mean_control"] == pytest.approx(c.mean(), rel=1e-12)
    assert ab["lift"] == pytest.approx(tr.mean() - c.mean(), rel=1e-12)
    var_c, var_t = round(c.var(ddof=1), 6), round(tr.var(ddof=1), 6)
    welch = (tr.mean() - c.mean()) / math.sqrt(var_c / len(c) + var_t / len(tr))
    assert ab["t_statistic"] == pytest.approx(round(welch, 6), abs=1.5e-6)


def test_ab_test_magnitude_oracle_parity(spark, planted_magnitude):
    problems = check_query(spark, planted_magnitude[0], "q_ab_test")
    assert not problems, "; ".join(problems)
