"""Standing pin for the NULL-TIMESTAMP adversarial corpus (EDGES.md).

Two events rows with NULL ts — the one events column no corpus had ever
nulled, and THE ordering/bucketing column everywhere — are planted into
a restaged sf0.001, and every key the nullts probe ever flagged is
re-run through the driver's own oracle gate.

The class exists because ts drives every window ORDER BY, time bucket,
session, and partition key, and the engines disagree on each:

  * ORDER BY position: Spark asc sorts NULL ts FIRST, DuckDB defaults
    NULLS LAST — every oracle ordering on ts states NULLS FIRST (the
    same rule the identity-NULL sub-class set for event_id tie-breaks)
  * time-grain operators: Spark's window()/session_window() DROP a
    NULL-ts row (no window can be assigned) while SQL GROUP BY
    time_bucket(NULL) keeps a NULL-bucket group — time-grain operators
    quarantine timeless rows identically on both engines (windows,
    sessions, cohort weeks, as-of/attribution matches, 'clicks before')
  * derived keys: format_string renders a NULL argument as the text
    'null' (partition keys are now gated to NULL); one NaT in a pandas
    batch FLOATS the whole datetime-part column, stamping 'y=2024.0'
    on every other row (the s3-key UDF goes through nullable Int64)
  * Python totality: int(None.timestamp()) crashed the table-arg UDTF —
    its walk now mirrors the oracle's three-valued logic exactly (a
    NULL lag ts is a session start; a NULL current ts never is, unless
    the lag is NULL)

The full-surface sweep lives in tools/battery.py --class nullts (which imports
``plant_nullts`` from here — one source of truth for the corpus); this
test pins the keys that ever diverged.
"""

from __future__ import annotations

import shutil
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from kinesis_test_spark.oracle import check_query

SF_SRC = "/root/testdata/sf0.001"


def plant_nullts(src: str, dest: Path) -> None:
    """Restage ``src`` into ``dest`` with two NULL-ts events (a click and
    a purchase on existing users, ids well clear of the fixture range)."""
    dest.mkdir(parents=True, exist_ok=True)
    for f in Path(src).glob("*.parquet"):
        shutil.copy(f, dest / f.name)

    ev = pq.read_table(dest / "events.parquet")
    h = ev.slice(0, 2).to_pydict()
    extra = pa.table(
        {
            "event_id": [92000001, 92000002],
            "ts": pa.array([None, None], type=ev.schema.field("ts").type),
            "user_id": h["user_id"],
            "event_type": ["click", "purchase"],
            "value": [3.25, 4.5],
            "props": h["props"],
        },
        schema=ev.schema,
    )
    pq.write_table(pa.concat_tables([ev, extra]), dest / "events.parquet")


@pytest.fixture(scope="module")
def nullts_sf_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("nullts_sf")
    plant_nullts(SF_SRC, d)
    return str(d)


# Every key the round-8 nullts probe flagged (21/263 at first sweep),
# grouped by the divergence each exposed:
NULLTS_EDGE_KEYS = [
    # ORDER BY ts NULL position (NULLS FIRST stated in oracles)
    "q_window_lag",
    "q_window_frame",
    "q_window_rolling_median",
    "q_event_transitions",
    "q_scd2_intervals",
    "q_time_weighted_avg",
    "q_attribution",
    # time-grain quarantine: a timeless row cannot enter a window /
    # session / cohort week / as-of match / before-count
    "s_tumbling",
    "s_sliding",
    "s_window_users",
    "s_session",
    "s_session_dynamic",
    "q_session_native",
    "q_session_dynamic",
    "q_sessionize",
    "q_cohort_ltv",
    "q_cogroup_clickcount",
    "q_join_asof_union",
    # derived partition keys gated to NULL; pandas NaT dtype drift
    "q_time_partition_key",
    "q_udf_s3key",
    # Python totality: the table-arg UDTF's three-valued session walk
    "q_udtf_table_arg",
    # DuckDB 1.0 window ORDER BY over a NULL-bearing key WITHOUT an
    # explicit NULLS clause places the NULL row NONDETERMINISTICALLY
    # (observed first, mid-partition, and last across identical runs —
    # the parallel window sort), so an unspecced oracle can PASS a sweep
    # by luck: q_wow_change's NULL-week lag flagged on the third sweep
    # only. Every window/top-k ordering term that can be NULL now
    # states Spark's default explicitly (ASC NULLS FIRST / DESC NULLS
    # LAST) — 21 sites batch-audited via the OVER(...ORDER BY...) scan.
    "q_wow_change",
    "q_agg_argmax",
    "q_cumulative",
]


@pytest.mark.parametrize("name", NULLTS_EDGE_KEYS)
def test_nullts_corpus_parity(spark, nullts_sf_dir, name):
    problems = check_query(spark, nullts_sf_dir, name)
    assert not problems, f"{name}: " + "; ".join(problems)
