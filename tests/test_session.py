"""The driver-contract wrappers give any session the engine's SQL
settings, and get_spark sizes the driver heap from the host.

``__spark_entry__.entry`` and every ``queries()`` wrapper run on a session
the caller built. Both apply ``session.sql_confs`` to it, so a vanilla
session plans like the one ``get_spark`` builds: same shuffle-partition
rule, AQE, Arrow, broadcast threshold, state store and checkpoint manager.
"""

from __future__ import annotations

from pathlib import Path

import pytest

import __spark_entry__ as E
from kinesis_test_spark import registry
from kinesis_test_spark.session import driver_memory, sql_confs


def _bare(spark):
    """A session sharing ``spark``'s context with every engine conf unset."""
    bare = spark.newSession()
    for key in sql_confs(1):
        bare.conf.unset(key)
    return bare


def _assert_engine_confs(session):
    want = sql_confs(session.sparkContext.defaultParallelism)
    got = {key: session.conf.get(key) for key in want}
    assert got == want


def test_query_wrapper_applies_every_sql_conf(spark, sf_dir):
    bare = _bare(spark)
    # unset really unset: the 200-partition default is back
    assert bare.conf.get("spark.sql.shuffle.partitions") == "200"
    E.queries()["q_dedup_exact"](bare, sf_dir)
    _assert_engine_confs(bare)


def test_entry_applies_every_sql_conf(spark, monkeypatch):
    bare = _bare(spark)
    monkeypatch.setitem(registry.QUERIES, "q_flagship", lambda s, sf: None)
    E.entry(bare)
    _assert_engine_confs(bare)


@pytest.mark.skipif(not Path("/proc/meminfo").exists(), reason="needs Linux /proc/meminfo")
def test_default_driver_heap_is_below_memtotal(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    meminfo = Path("/proc/meminfo").read_text().splitlines()
    mem_total = int(next(x for x in meminfo if x.startswith("MemTotal:")).split()[1]) << 10
    heap = driver_memory()
    assert heap.endswith("m") and 0 < int(heap[:-1]) << 20 < mem_total, (heap, mem_total)
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert driver_memory() == "3g"
