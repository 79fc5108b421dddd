"""User-defined function surface: Pandas UDF, grouped Pandas UDAF, UDTF.

UDFs are the engine's slow path by policy: everything expressible with
built-ins stays JVM-side (see functions/scalar.py). These operators exist
to prove the extension points work with Arrow-vectorized transfer — the
pattern any custom operator at 100 TB must follow (batch-at-a-time, never
row-at-a-time Python).

`q_udf_s3key` is the parity proof for the reference's one pure function
`event_time_to_s3_key` (/root/reference/consumer.py:221-232, golden case
test/consumer_test.py:10-12): the same value computed twice — Pandas UDF vs
pure built-ins — must agree row-for-row.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType, StringType

from kinesis_test_spark.functions.exact import sql_finite, sql_ms
from kinesis_test_spark.registry import query
from kinesis_test_spark.sources import t, views


@pandas_udf(StringType())
def _s3_key_udf(ts: pd.Series) -> pd.Series:
    """y=YYYY/m=M/d=D/h=H — month/day/hour NOT zero-padded, exactly the
    reference's layout (consumer.py:226-232). A NULL ts yields a NULL
    key — and the datetime parts go through nullable Int64: with a NaT
    anywhere in the batch, plain .astype(str) would FLOAT the whole
    year/month column and stamp 'y=2024.0' on every OTHER row too (the
    pandas NULL-dtype-drift class, edge corpus)."""
    out = (
        "y=" + ts.dt.year.astype("Int64").astype("string")
        + "/m=" + ts.dt.month.astype("Int64").astype("string")
        + "/d=" + ts.dt.day.astype("Int64").astype("string")
        + "/h=" + ts.dt.hour.astype("Int64").astype("string")
    )
    return out.astype(object).where(ts.notna(), None)


@query(
    "q_udf_s3key",
    oracle="""
SELECT event_id,
       'y=' || CAST(year(ts) AS VARCHAR) || '/m=' || CAST(month(ts) AS VARCHAR)
       || '/d=' || CAST(day(ts) AS VARCHAR) || '/h=' || CAST(hour(ts) AS VARCHAR) AS key_udf,
       'y=' || CAST(year(ts) AS VARCHAR) || '/m=' || CAST(month(ts) AS VARCHAR)
       || '/d=' || CAST(day(ts) AS VARCHAR) || '/h=' || CAST(hour(ts) AS VARCHAR) AS key_builtin,
       CASE WHEN ts IS NOT NULL THEN TRUE END AS keys_agree
FROM events
""",
)
def q_udf_s3key(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    # gated: format_string renders a NULL argument as the text 'null'
    # instead of propagating NULL — a NULL ts must yield a NULL key
    builtin = F.when(
        F.col("ts").isNotNull(),
        F.format_string(
            "y=%d/m=%d/d=%d/h=%d",
            F.year("ts"), F.month("ts"), F.dayofmonth("ts"), F.hour("ts"),
        ),
    )
    return ev.select(
        "event_id",
        _s3_key_udf("ts").alias("key_udf"),
        builtin.alias("key_builtin"),
        (_s3_key_udf("ts") == builtin).alias("keys_agree"),
    )


@pandas_udf(DoubleType())
def _weighted_mean(v: pd.Series, w: pd.Series) -> float:
    # non-finite quarantine (edge_nonfinite): pandas .sum() skips NaN but
    # SUMS Inf — mask both value-and-weight to finite values, like the
    # oracle's CASE guard; an empty/zero-weight residue is NULL not 0/0
    m = np.abs(v.astype(float)) < 1e12  # exact-domain mask: drops NaN/Inf/huge
    den = float(w[m].sum())
    if den == 0.0:
        return None
    return round(float((v[m] * w[m]).sum() / den), 6)


@query(
    "q_udaf_weighted",
    oracle="""
SELECT event_type,
       ROUND(SUM(CASE WHEN abs(value) < 1.0e12
                  THEN value * (event_id % 10 + 1) END)
             / NULLIF(SUM(CASE WHEN abs(value) < 1.0e12
                          THEN event_id % 10 + 1 END), 0), 6) AS wmean
FROM events GROUP BY event_type
""",
)
def q_udaf_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-agg Pandas UDAF (Arrow batches): weighted mean per group.
    Rounded — pandas and SQL accumulate doubles in different orders."""
    ev = t(spark, sf_dir, "events")
    w = (F.col("event_id") % 10 + 1).cast("double")
    return ev.groupBy("event_type").agg(
        _weighted_mean(F.col("value"), w).alias("wmean")
    )


@query(
    "q_udtf_expand",
    oracle="""
WITH nums AS (SELECT unnest(generate_series(1, 64)) AS i)
SELECT r_name, CAST(i AS INT) AS i
FROM region, nums WHERE i <= r_regionkey + 1
""",
)
def q_udtf_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (one row → many rows) via LATERAL join — the reference's
    shard-list expansion shape (consumer.py:105-112: one stream → N shards)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="i int")
    class Expand:
        def eval(self, n: int):
            for i in range(1, n + 1):
                yield (i,)

    spark.udtf.register("expand_udtf", Expand)
    views(spark, sf_dir)
    return spark.sql(
        "SELECT r_name, e.i AS i FROM region, LATERAL expand_udtf(r_regionkey + 1) e"
    )


@query(
    "q_grouped_map",
    oracle=f"""
SELECT event_id, event_type,
       -- z over the GUARDED value: a 1e20 input's z is pure float-division
       -- noise (pandas and SQL disagree in the last ULP at e18 magnitude,
       -- beyond ROUND's reach), so out-of-domain rows score NULL; NaN/±Inf
       -- z still propagates from fv=NULL -> NULL identically
       -- zero-SPREAD groups (max == min) score NULL by contract, stated
       -- via min/max — NOT via stddev == 0: DuckDB's stable stddev gives
       -- exactly 0.0 on a constant group while pandas' two-pass std gives
       -- ~1e-15 cancellation noise, turning z into O(1) NOISE instead of
       -- a divide-by-zero anyone would notice (zero-variance edge corpus)
       CASE WHEN MAX(fv) OVER (PARTITION BY event_type)
               > MIN(fv) OVER (PARTITION BY event_type)
            THEN ROUND((fv - AVG(fv) OVER (PARTITION BY event_type))
                       / stddev_samp(fv) OVER (PARTITION BY event_type), 4)
       END AS value_z
FROM (SELECT event_id, event_type, value,
             {sql_finite("value")} AS fv
      FROM events)
""",
)
def q_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas: per-group z-score normalization — the
    whole-group-in-memory extension point (each group becomes one pandas
    frame). Rounded: pandas and SQL accumulate moments in different orders.
    At scale the constraint is |group| fits an executor — here groups are
    event types; for per-user groups the same code shards naturally."""
    ev = t(spark, sf_dir, "events")

    def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
        # moments AND the scored value go through the exact-domain mask
        # (edge_nonfinite/magnitude): .mean() skips NaN but an Inf poisons
        # it, and a 1e20 input's z is float-ULP noise the oracle can't
        # reproduce — out-of-domain rows score NaN (-> NULL in the compare)
        v = pdf["value"].astype(float)
        fvs = v.where(np.abs(v) < 1e12)
        mu = fvs.mean()
        sd = fvs.std(ddof=1)
        # zero-SPREAD contract (zero-variance edge corpus): a constant
        # group's z is NULL, detected by exact max == min — pandas'
        # two-pass std on a constant group is ~1e-15 cancellation noise
        # (not 0), which would score every row as O(1) noise instead
        z = (fvs - mu) / sd if fvs.max() != fvs.min() else fvs * np.nan
        return pd.DataFrame(
            {
                "event_id": pdf["event_id"],
                "event_type": pdf["event_type"],
                "value_z": z.round(4),
            }
        )

    return ev.select("event_id", "event_type", "value").groupBy("event_type").applyInPandas(
        normalize, schema="event_id bigint, event_type string, value_z double"
    )


@query(
    "q_udtf_table_arg",
    oracle=f"""
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR {sql_ms("ts")} - {sql_ms("lag(ts) OVER w")} > 1800000
              THEN 1 ELSE 0 END AS is_start
  FROM events
  -- placement-independent NULLS FIRST encoding (DuckDB 1.0 misplaces NULL
  -- window-sort keys even with an explicit NULLS clause — r9 verdict): the
  -- UDTF's three-valued walk depends on the NULL-ts block leading the
  -- partition, so the oracle must pin that placement NULL-free
  WINDOW w AS (PARTITION BY user_id
               ORDER BY (ts IS NOT NULL) ASC, COALESCE(ts, TIMESTAMP '1970-01-01') ASC,
                        (event_id IS NOT NULL) ASC, COALESCE(event_id, 0) ASC)
)
SELECT user_id, CAST(SUM(is_start) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
FROM flagged GROUP BY user_id
""",
)
def q_udtf_table_arg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF over a TABLE argument (Spark 4 polymorphic table
    function): the engine hands the UDTF each user's rows partitioned and
    time-ordered; the UDTF walks them once, counting 30-minute-gap
    sessions, and emits one summary row per partition from terminate().
    The imperative-looking per-key walk stays fully distributed — the
    PARTITION BY/ORDER BY is planned by Catalyst like any other shuffle."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="user_id bigint, n_sessions bigint, n_events bigint")
    class SessionCounter:
        GAP_MS = 30 * 60 * 1000

        def __init__(self):
            self.user = None
            self.seen = False  # NULL user_id is a real partition — "did we
            # get rows" must not be inferred from the key (probe_nulls
            # class 3: `is not None` on the key silently dropped it)
            self.prev_ms = None
            self.sessions = 0
            self.events = 0

        def eval(self, row):
            # NULL-ts totality (edge corpus): mirror the oracle's
            # three-valued walk exactly — a row is a session start iff
            # there is no previous ROW, the previous row's ts was NULL
            # (lag(ts) IS NULL), or the ms gap is KNOWN to exceed GAP
            # (a NULL on either side makes the comparison unknown → no
            # start). int(None.timestamp()) crashing here was the bug.
            ts = row["ts"]
            ms = None if ts is None or ts != ts else int(ts.timestamp() * 1000)
            self.user = row["user_id"]
            if (
                not self.seen
                or self.prev_ms is None
                or (ms is not None and ms - self.prev_ms > self.GAP_MS)
            ):
                self.sessions += 1
            self.seen = True
            self.prev_ms = ms
            self.events += 1

        def terminate(self):
            if self.seen:
                yield (self.user, self.sessions, self.events)

    spark.udtf.register("session_counter", SessionCounter)
    views(spark, sf_dir)
    return spark.sql(
        """
        SELECT * FROM session_counter(
          TABLE(SELECT user_id, ts, event_id FROM events)
          PARTITION BY user_id ORDER BY (ts, event_id))
        """
    )


COGROUP_SCHEMA = "p_id bigint, user_id bigint, n_clicks_before bigint"


def _clicks_before(clicks: "pd.DataFrame", purchases: "pd.DataFrame") -> "pd.DataFrame":
    """Per-user pandas merge: for each purchase, how many of the user's
    clicks happened strictly before it (vectorized searchsorted — no
    per-row Python)."""
    import numpy as np
    import pandas as pd

    if purchases.empty:
        return pd.DataFrame({"p_id": [], "user_id": [], "n_clicks_before": []}).astype(
            {"p_id": "int64", "user_id": "int64", "n_clicks_before": "int64"}
        )
    click_ts = np.sort(clicks["ts"].to_numpy()) if not clicks.empty else np.array([], "datetime64[us]")
    n = np.searchsorted(click_ts, purchases["ts"].to_numpy(), side="left")
    return pd.DataFrame(
        {
            "p_id": purchases["event_id"].to_numpy(),
            "user_id": purchases["user_id"].to_numpy(),
            "n_clicks_before": n.astype("int64"),
        }
    )


@query(
    "q_cogroup_clickcount",
    oracle="""
SELECT p.event_id AS p_id, p.user_id,
       CAST(COUNT(c.ts) AS BIGINT) AS n_clicks_before
FROM (SELECT DISTINCT event_id, user_id, ts FROM events
      WHERE event_type = 'purchase' AND event_id IS NOT NULL
        AND ts IS NOT NULL) p
LEFT JOIN events c
  ON c.user_id = p.user_id AND c.event_type = 'click'
 AND c.ts IS NOT NULL AND c.ts < p.ts
GROUP BY p.event_id, p.user_id
""",
)
def q_cogroup_clickcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped applyInPandas (the remaining pandas extension point after
    scalar/grouped-agg/grouped-map/mapInPandas/mapInArrow/state): clicks
    and purchases each grouped on user_id, cogrouped into one pandas
    function per key — Spark co-shuffles both sides once and the pandas
    body does a vectorized searchsorted instead of a per-user SQL
    correlated count. The shape for custom two-sided per-key merges
    (as-of variants, interval matching) that SQL can't express cleanly."""
    from kinesis_test_spark.sources import t as load_t

    ev = load_t(spark, sf_dir, "events")
    # 'clicks BEFORE a purchase' is a TIME question: NULL-ts rows are
    # quarantined on both sides (pandas searchsorted on NaT and SQL's
    # NULL comparison disagree; edge corpus)
    clicks = (
        ev.filter((F.col("event_type") == "click") & F.col("ts").isNotNull())
        .select("user_id", "ts")
    )
    # identity grain: the output is keyed by p_id, so redelivered purchase
    # copies collapse and identity-less purchases are quarantined — clicks
    # stay raw (they are counted DATA, not keys; a NULL-id click still
    # counts as click activity). tests/test_edge_dupkeys.py.
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .filter(F.col("event_id").isNotNull() & F.col("ts").isNotNull())
        .select("user_id", "event_id", "ts")
        .dropDuplicates(["event_id"])
    )
    return (
        clicks.groupBy("user_id")
        .cogroup(purchases.groupBy("user_id"))
        .applyInPandas(_clicks_before, schema=COGROUP_SCHEMA)
    )


@query(
    "q_udtf_polymorphic",
    oracle="""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents
           WHERE doc_id < 50)
SELECT doc_id, words[1] AS w1, words[2] AS w2, words[3] AS w3
FROM w WHERE len(words) >= 3
""",
)
def q_udtf_polymorphic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polymorphic Python UDTF: the output SCHEMA is computed at plan time
    by analyze() from a constant argument — leading_words(text, 3) returns
    columns (w1, w2, w3); change the constant and the relation changes
    shape with no code edit. This is the Spark-4 UDTF capability the
    static returnType form (q_udtf_expand) can't express; the analyze
    phase runs once on the driver, execution stays row-batched on
    executors."""
    from pyspark.sql.functions import lit, udtf
    from pyspark.sql.types import StringType, StructType
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    class LeadingWords:
        @staticmethod
        def analyze(text: AnalyzeArgument, n: AnalyzeArgument) -> AnalyzeResult:
            k = int(n.value)
            schema = StructType()
            for i in range(1, k + 1):
                schema = schema.add(f"w{i}", StringType())
            return AnalyzeResult(schema=schema)

        def eval(self, text: str, n: int):
            words = (text or "").split(" ")
            if len(words) >= n:
                yield tuple(words[:n])

    fn = udtf(LeadingWords)
    spark.udtf.register("leading_words", fn)
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    d.createOrReplaceTempView("_poly_docs")
    return spark.sql(
        "SELECT d.doc_id, lw.* FROM _poly_docs d, "
        "LATERAL leading_words(d.text, 3) lw"
    )
