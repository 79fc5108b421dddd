"""Standing pin for the EMPTY-input adversarial corpus (EDGES.md).

Every table restaged with ZERO rows (schema preserved). At 100 TB an
empty partition, table, or day is routine — a new tenant, a quiet shard,
a backfill gap — and the reference dies on it implicitly (its consumer
loop assumes records exist). The engine's contract: every key is TOTAL
on empty input and matches the oracle's SQL semantics (empty result, or
the SQL-defined aggregate over zero rows — COUNT()=0, SUM()=NULL).

The classes this corpus hides:
  * driver-side scalars from `.first()[0]` / `.collect()[0]` on an empty
    relation (None arithmetic, IndexError)
  * max/min over an empty python list in a staging rig
  * vocab / centroid / codebook construction from zero rows
  * global-total denominators that were only NULL-guarded, not
    empty-guarded

The full-surface sweep lives in tools/battery.py --class empty (which imports
``plant_empty`` from here); this test pins the keys that ever diverged.
"""

from __future__ import annotations

from pathlib import Path

import pyarrow.parquet as pq
import pytest

from kinesis_test_spark.oracle import check_query

SF_SRC = "/root/testdata/sf0.001"


def plant_empty(src: str, dest: Path) -> None:
    """Restage ``src`` into ``dest`` with every table emptied (zero rows,
    schema byte-preserved)."""
    dest.mkdir(parents=True, exist_ok=True)
    for f in Path(src).glob("*.parquet"):
        t = pq.read_table(f)
        pq.write_table(t.slice(0, 0), dest / f.name)


@pytest.fixture(scope="module")
def empty_sf_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("empty_sf")
    plant_empty(SF_SRC, d)
    return str(d)


# Every key the empty-input probe ever flagged (the round-8 campaign's
# 16/263 first sweep; see tools/battery.py --class empty — 0/263 after the fixes).
# Failure classes: Spark emits no grand-total row over an empty relation
# while SQL emits one (the 4 grouping-set keys — oracles pin Spark's
# choice via HAVING COUNT(*)>0); .first()[0] None arithmetic in staging
# rigs (s_checkpoint/s_matview/s_watermark/s_state_ttl/q_table_gdpr);
# ANSI divide-by-zero on a zero denominator (q_funnel_timeboxed);
# schema inference over an empty read-back (q_sink_python,
# q_text_shard_export, s_checkpoint, s_state_ttl, s_stream_join_left);
# report-shape contracts on empty input (q_dedup_eval's per-dial rows,
# s_observe's row-carrying batch count, q_sql_script's COALESCE).
EMPTY_EDGE_KEYS: list[str] = [
    "q_agg_cube",
    "q_agg_gid",
    "q_agg_gsets",
    "q_agg_rollup",
    "q_dedup_eval",
    "q_funnel_timeboxed",
    "q_sink_python",
    "q_sql_script",
    "q_table_gdpr",
    "q_text_shard_export",
    "s_checkpoint",
    "s_matview",
    "s_observe",
    "s_state_ttl",
    "s_stream_join_left",
    "s_watermark",
]


@pytest.mark.parametrize("name", EMPTY_EDGE_KEYS)
def test_empty_corpus_parity(spark, empty_sf_dir, name):
    problems = check_query(spark, empty_sf_dir, name)
    assert not problems, f"{name}: " + "; ".join(problems)
