"""Scalar function families: string / url / date / math / array / map / json,
plus the reference's nested-schema shapes (flatten, explode of audit arrays).

Grounding (SURVEY.md §2B): user-agent & page_name parsing (event.py:12,22),
URL-encoded query strings (event.py:23, record.json:15), the datetime
partition-key function (consumer.py:221-232), decimal checkpoint arithmetic
(consumer.py:189), array fields (event.py:27-37), JSON payload decode
(consumer.py:123), nested→flat projection (event.py:10-26 vs record.json:3).

Everything here is built-in `pyspark.sql.functions` — JVM-side, inside
WholeStageCodegen; no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_test_spark.functions.exact import (
    cents_term, finite, sql_cents_mag, sql_cents_term, sql_finite, sql_ms
)
from kinesis_test_spark.functions.porthash import ascii_lower, sql_ascii_lower
from kinesis_test_spark.registry import query
from kinesis_test_spark.sources import t


@query(
    "q_fn_string",
    oracle=f"""
SELECT c_custkey,
       {sql_ascii_lower("c_name")} AS lname,
       substr(c_name, 10, 9) AS numpart,
       CAST(length(c_name) AS INT) AS name_len,
       split_part(c_name, '#', 2) AS after_hash,
       TRY_CAST(NULLIF(regexp_extract(c_name, '([0-9]+)', 1), '') AS BIGINT) AS name_num,
       concat(c_mktsegment, '-', CAST(c_nationkey AS VARCHAR)) AS seg_nation,
       replace(c_name, 'Customer', 'cust') AS renamed,
       trim(lpad(CAST(c_custkey AS VARCHAR), 8, '0')) AS padded,
       CASE WHEN c_name LIKE 'Customer#%' THEN 1 ELSE 0 END AS is_cust
FROM customer
""",
)
def q_fn_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String family (reference parses page names / user agents, event.py:12,22).

    Case folding is the portable ASCII-only translate (porthash.ascii_lower):
    full Unicode lower() is engine-specific (Java full mappings vs utf8proc
    simple — tests/test_edge_unicode.py), and the numeric extract goes
    through try_cast because a regex miss yields '' (raises on a plain CAST
    in both engines)."""
    c = t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        ascii_lower("c_name").alias("lname"),
        F.substring("c_name", 10, 9).alias("numpart"),
        F.length("c_name").alias("name_len"),
        # split_part(_, '#', 2) in DuckDB returns '' when the delimiter is
        # absent and NULL on NULL input — Spark's element_at RAISES under
        # ANSI on the missing index (edge_dupdim: a dim row whose name
        # carries no '#'), so state all three cases explicitly
        F.when(
            F.col("c_name").isNotNull(),
            F.coalesce(
                F.try_element_at(F.split("c_name", "#"), F.lit(2)), F.lit("")
            ),
        ).alias("after_hash"),
        F.nullif(F.regexp_extract("c_name", r"([0-9]+)", 1), F.lit(""))
        .try_cast("bigint")
        .alias("name_num"),
        F.concat_ws("-", "c_mktsegment", F.col("c_nationkey").cast("string")).alias("seg_nation"),
        F.regexp_replace("c_name", "Customer", "cust").alias("renamed"),
        F.trim(F.lpad(F.col("c_custkey").cast("string"), 8, "0")).alias("padded"),
        F.when(F.col("c_name").like("Customer#%"), 1).otherwise(0).alias("is_cust"),
    )


@query(
    "q_fn_url",
    oracle="""
SELECT event_id,
       CASE WHEN ok THEN 'example.com' END AS host,
       CASE WHEN ok THEN '/search' END AS path,
       CASE WHEN ok THEN CAST(user_id AS VARCHAR) END AS uid_param,
       CASE WHEN ok THEN event_type END AS type_param,
       CASE WHEN ok THEN
         'uid=' || CAST(user_id AS VARCHAR) || '&type=' || event_type
       END AS qstring
FROM (SELECT *, user_id IS NOT NULL AND event_type IS NOT NULL AS ok
      FROM events)
""",
)
def q_fn_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parsing (reference carries URL-encoded query strings,
    event.py:23-31 / record.json:15). The engine builds a URL then proves
    parse_url/str_to_map recover the parts the oracle states directly.
    NULL semantics (probe_nulls class 2): a NULL user_id or event_type
    nulls the CONCATENATED URL, so every parsed part is NULL — the oracle
    gates each stated part on the same condition."""
    ev = t(spark, sf_dir, "events")
    url = F.concat(
        F.lit("https://example.com/search?uid="),
        F.col("user_id").cast("string"),
        F.lit("&type="),
        F.col("event_type"),
    )
    q = F.parse_url(url, F.lit("QUERY"))
    return ev.select(
        "event_id",
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.element_at(F.str_to_map(q, F.lit("&"), F.lit("=")), "uid").alias("uid_param"),
        F.parse_url(url, F.lit("QUERY"), F.lit("type")).alias("type_param"),
        q.alias("qstring"),
    )


@query(
    "q_fn_date",
    oracle=f"""
SELECT event_id,
       CAST(year(ts) AS INT) AS yy, CAST(month(ts) AS INT) AS mm,
       CAST(day(ts) AS INT) AS dd, CAST(hour(ts) AS INT) AS hh,
       CAST(minute(ts) AS INT) AS mi,
       CAST(dayofweek(ts) + 1 AS INT) AS dow,
       date_trunc('day', ts) AS day_start,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS formatted,
       {sql_ms("ts")} AS ms,
       make_timestamp({sql_ms("ts")} * 1000) AS from_ms,
       datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS days_since,
       strftime(CAST(ts AS DATE) + 7, '%Y-%m-%d') AS week_later
FROM events
""",
)
def q_fn_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datetime family (reference: parse+format+extract, consumer.py:221-232;
    epoch-millis event_time, event.py:6)."""
    ev = t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.year("ts").alias("yy"),
        F.month("ts").alias("mm"),
        F.dayofmonth("ts").alias("dd"),
        F.hour("ts").alias("hh"),
        F.minute("ts").alias("mi"),
        F.dayofweek("ts").alias("dow"),
        F.date_trunc("day", "ts").alias("day_start"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("formatted"),
        F.unix_millis("ts").alias("ms"),
        F.timestamp_millis(F.unix_millis("ts")).alias("from_ms"),
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")).alias("days_since"),
        # stringified: DATE columns round-trip as midnight timestamps through
        # pandas on the DuckDB side, so date-typed outputs are never returned
        F.date_format(F.date_add(F.to_date("ts"), 7), "yyyy-MM-dd").alias("week_later"),
    )


@query(
    "q_fn_math",
    oracle=f"""
SELECT l_orderkey, l_linenumber,
       -- integer-space two-step round (r13 fractional class): the direct
       -- double->DECIMAL cast and ROUND(double, n) are both engine-
       -- ambiguous within an ULP of the half boundary; cents-form steps
       -- (shared IEEE multiply + integer ROUND) are not
       ROUND(ROUND(fprice * 1.0e4) / 1.0e2) / 1.0e2 + 0.0 AS price_r2,
       abs(l_discount - 0.05) AS disc_dev,
       CAST(ceil(fqty) AS BIGINT) AS qty_ceil,
       CAST(floor(fqty) AS BIGINT) AS qty_floor,
       -- math domains stated explicitly (edge_negzero): DuckDB RAISES on
       -- ln(0) and on sqrt(negative) — and a planted -0.0 passes every
       -- sign-based guard since -0.0 > 0 and -0.0 < 0 are both FALSE —
       -- where Spark's log NULLs the whole x <= 0 half-line and sqrt
       -- yields NaN. Guards: ln over x > 0, sqrt over x >= 0 (admits
       -- -0.0: Spark sqrt(-0.0) = -0.0 but DuckDB returns +0.0, so the
       -- + 0.0 computed-zero normalization reconciles them; NaN >= 0 is
       -- TRUE on both engines — NaN stays raw through sqrt as before).
       ROUND(CASE WHEN l_extendedprice > 0 THEN ln(l_extendedprice) END, 6)
         AS log_price,
       ROUND(CASE WHEN l_quantity >= 0 THEN sqrt(l_quantity) END, 6) + 0.0
         AS qty_sqrt,
       l_orderkey % 7 AS key_mod,
       greatest(l_discount, l_tax) AS max_rate,
       least(l_discount, l_tax) AS min_rate,
       -- product route domain (r14 self-review): the DECIMAL product
       -- leaves as DOUBLE, and that conversion is engine-agreeing only
       -- below 2^53 — so the PRODUCT (not just each factor) is guarded:
       -- |p·q| < 1e11 keeps product cents < ~1e15 with 9x margin.
       CASE WHEN abs(fprice * fqty) < 1.0e11 THEN
       CAST({sql_cents_term("fprice", guard=False)}
            * {sql_cents_term("fqty", guard=False)} AS DOUBLE) / 1.0e4
       END AS exact_product
FROM (SELECT *,
             -- the decimal/int routes are range-guarded NULL on non-finite
             -- input (edge_nonfinite); ln/sqrt/greatest/least propagate
             -- NaN identically on both engines and stay raw
             {sql_finite("l_extendedprice")} AS fprice,
             {sql_finite("l_quantity")} AS fqty
      FROM lineitem)
""",
)
def q_fn_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math family incl. exact decimal arithmetic (the reference does decimal
    checkpoint-counter arithmetic, consumer.py:189)."""
    li = t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (
            F.round(F.round(finite("l_extendedprice") * F.lit(10000.0)) / F.lit(100.0))
            / F.lit(100.0)
            + F.lit(0.0)  # computed-zero normalization (negzero rule):
            # the all-double path would hand DuckDB's -0.0 through
        ).alias("price_r2"),
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        F.ceil(finite("l_quantity")).alias("qty_ceil"),
        F.floor(finite("l_quantity")).alias("qty_floor"),
        # explicit ln/sqrt domains + computed-zero normalization (see oracle)
        F.round(
            F.when(F.col("l_extendedprice") > 0, F.log("l_extendedprice")), 6
        ).alias("log_price"),
        (
            F.round(F.when(F.col("l_quantity") >= 0, F.sqrt("l_quantity")), 6)
            + F.lit(0.0)
        ).alias("qty_sqrt"),
        (F.col("l_orderkey") % 7).alias("key_mod"),
        F.greatest("l_discount", "l_tax").alias("max_rate"),
        F.least("l_discount", "l_tax").alias("min_rate"),
        F.when(
            # product-route guard (see the oracle comment): the decimal
            # product's DOUBLE conversion is deterministic only < 2^53
            F.abs(finite("l_extendedprice") * finite("l_quantity")) < F.lit(1.0e11),
            (
                cents_term(finite("l_extendedprice"), guard=False)
                * cents_term(finite("l_quantity"), guard=False)
            ).cast("double")
            / F.lit(10000.0),
        ).alias("exact_product"),
    )


@query(
    "q_fn_cond",
    oracle="""
SELECT o_orderkey,
       CASE WHEN o_totalprice > 300000 THEN 'high'
            WHEN o_totalprice > 100000 THEN 'mid' ELSE 'low' END AS price_band,
       COALESCE(NULLIF(o_orderstatus, 'O'), 'OPEN') AS status_label,
       CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice END AS urgent_price,
       IF(o_orderstatus = 'F', 1, 0) AS is_final
FROM orders
""",
)
def q_fn_cond(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional family: CASE/COALESCE/NULLIF/IF."""
    o = t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") > 300000, "high")
        .when(F.col("o_totalprice") > 100000, "mid")
        .otherwise("low")
        .alias("price_band"),
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("OPEN")).alias(
            "status_label"
        ),
        F.when(F.col("o_orderpriority") == "1-URGENT", F.col("o_totalprice")).alias(
            "urgent_price"
        ),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("is_final"),
    )


# Cross-engine 6-decimal rendering (r14, EDGES class 24): even
# printf('%.6f') is engine-ambiguous — Spark's format_string rounds the
# double's SHORTEST repr (Java FloatingDecimal digits, zero-padded) while
# DuckDB's printf rounds the EXACT binary expansion (fmt), so they split
# wherever the two disagree at the 7th fractional digit (probed:
# 1024.7775725 → .777573/.777572, 1e10+0.05 → .050000/.049999, and 1e30's
# binary junk digits vs repr zeros — the r8 "printf agrees for every
# finite double" claim only held on round corpus values). The agreeing
# form renders from the exact floor-LONG cents integer: sign + a div 1e6
# + '.' + %06d(a mod 1e6) — pure integer formatting on both engines.
# Domain |v| < 1e12 (cents-safe); outside it no agreeing rendering of an
# arbitrary double exists, so the value quarantines to NULL. Non-finite
# spells Spark-style; a -0.0 renders unsigned (computed-zero rule).
_RENDER6_SQL = f"""CASE WHEN isnan(value) THEN 'NaN'
            WHEN value = CAST('Infinity' AS DOUBLE) THEN 'Infinity'
            WHEN value = CAST('-Infinity' AS DOUBLE) THEN '-Infinity'
            WHEN abs(value) < 1.0e12 THEN
              (CASE WHEN value < 0 THEN '-' ELSE '' END)
              || CAST(CAST({sql_cents_mag("value", 6)} AS BIGINT) // 1000000 AS VARCHAR)
              || '.'
              || printf('%06d', CAST({sql_cents_mag("value", 6)} AS BIGINT) % 1000000)
            END"""

_RENDER6_PY = (
    "CASE WHEN isnan(value) THEN 'NaN' "
    "WHEN value = double('Infinity') THEN 'Infinity' "
    "WHEN value = double('-Infinity') THEN '-Infinity' "
    "WHEN abs(value) < 1.0e12 THEN "
    "concat(CASE WHEN value < 0 THEN '-' ELSE '' END, "
    f"CAST({sql_cents_mag('value', 6)} div 1000000 AS STRING), '.', "
    f"format_string('%06d', {sql_cents_mag('value', 6)} % 1000000)) "
    "END"
)


@query(
    "q_fn_cast",
    oracle=f"""
SELECT event_id,
       -- exact-cents rendering (see _RENDER6_SQL rationale above)
       {_RENDER6_SQL} AS value_str,
       -- Spark CAST truncates; DuckDB rounds — and the int route is
       -- range-guarded NULL outside int32 (Spark's CAST(double AS INT)
       -- ANSI-raises past 2^31 where TRUNC->BIGINT would still fit)
       CAST(TRUNC(CASE WHEN abs(value) < 2147483648.0
                  THEN value END) AS BIGINT) AS value_int,
       TRY_CAST(event_type AS DOUBLE) AS bad_cast,
       CAST(CASE WHEN user_id BETWEEN -32768 AND 32767
                 THEN CAST(user_id AS SMALLINT) END AS BIGINT) AS uid_small,
       CAST(value > 1.0 AS BOOLEAN) AS above_one
FROM events
""",
)
def q_fn_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Casts incl. TRY_CAST null-on-failure (the engine's PERMISSIVE stance
    vs the reference's crash-on-bad-key, SURVEY.md §1.3). The narrowing
    cast is RANGE-GUARDED on both engines (edge_negatives corpus): an
    out-of-int16 id yields NULL rather than wrapping (Spark) or raising
    (DuckDB) — and the now-nullable column goes BIGINT per the dtype rule."""
    ev = t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.expr(_RENDER6_PY).alias("value_str"),  # exact-cents rendering (r14)
        F.when(F.abs("value") < F.lit(2147483648.0), F.col("value"))
        .cast("int")
        .cast("bigint")
        .alias("value_int"),
        F.col("event_type").try_cast("double").alias("bad_cast"),
        F.when(
            F.col("user_id").between(-32768, 32767), F.col("user_id").cast("smallint")
        )
        .cast("bigint")
        .alias("uid_small"),
        (F.col("value") > 1.0).alias("above_one"),
    )


@query(
    "q_fn_array",
    oracle="""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       string_split(text, ' ')[1] AS first_token,
       string_split(text, ' ')[-1] AS last_token,
       list_contains(string_split(text, ' '), 'the') AS has_the,
       CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_unique,
       COALESCE(array_to_string(list_sort(string_split(text, ' '))[1:3], ','),
                '') AS first3_sorted
FROM documents
""",
)
def q_fn_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array family (reference arrays: message_event_types event.py:32,
    data_quality event.py:33-37). NULL semantics (probe_nulls class 2):
    Spark's concat_ws NEVER returns NULL (empty string on a NULL array) —
    the oracle COALESCEs array_to_string to '' to match; every other
    column NULL-propagates identically on both engines."""
    d = t(spark, sf_dir, "documents")
    tokens = F.split("text", " ")
    return d.select(
        "doc_id",
        # bigint: nullable under NULL text (CLAUDE.md nullable-int rule)
        F.size(tokens).cast("bigint").alias("n_tokens"),
        F.element_at(tokens, 1).alias("first_token"),
        F.element_at(tokens, -1).alias("last_token"),
        F.array_contains(tokens, "the").alias("has_the"),
        F.size(F.array_distinct(tokens)).cast("bigint").alias("n_unique"),
        F.concat_ws(",", F.slice(F.array_sort(tokens), 1, 3)).alias("first3_sorted"),
    )


@query(
    "q_fn_map",
    oracle="""
SELECT event_id,
       CASE WHEN ok THEN CAST(user_id AS VARCHAR) END AS uid_from_map,
       CASE WHEN ok THEN event_type END AS type_from_map,
       CASE WHEN ok THEN 'type,uid' ELSE '' END AS keys_sorted,
       CASE WHEN ok THEN CAST(2 AS BIGINT) END AS n_keys
FROM (SELECT *, user_id IS NOT NULL AND event_type IS NOT NULL AS ok
      FROM events)
""",
)
def q_fn_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map family — kv-array→map is the reference's query_string_array shape
    (record.json:15: [["catalogId","12975"],...] → map). NULL semantics
    (probe_nulls classes 2+6): a NULL user_id/event_type nulls the
    concatenated kv string, so the map and its lookups are NULL — except
    keys_sorted, where Spark's concat_ws yields '' (never NULL); n_keys
    is a nullable count, so it goes BIGINT on both sides."""
    ev = t(spark, sf_dir, "events")
    kv = F.str_to_map(
        F.concat(
            F.lit("uid:"), F.col("user_id").cast("string"), F.lit(",type:"), F.col("event_type")
        ),
        F.lit(","),
        F.lit(":"),
    )
    return ev.select(
        "event_id",
        F.element_at(kv, "uid").alias("uid_from_map"),
        F.element_at(kv, "type").alias("type_from_map"),
        F.concat_ws(",", F.array_sort(F.map_keys(kv))).alias("keys_sorted"),
        F.size(kv).cast("bigint").alias("n_keys"),
    )


@query(
    "q_fn_json",
    oracle="""
SELECT event_id,
       CASE WHEN json_valid(props) THEN props->>'$.k' END AS k_str,
       TRY_CAST(NULLIF(regexp_extract(
           CASE WHEN json_valid(props) THEN trim(props->>'$.k') END,
           '^[+-]?[0-9]+$'), '') AS BIGINT) AS k,
       CAST(NULL AS VARCHAR) AS missing,
       -- to_json OMITS every null struct field (probe_nulls class 2),
       -- including a NULL event_id (edge_dupkeys identity-NULL rows)
       '{' ||
       CASE WHEN event_id IS NULL THEN ''
            ELSE '"event_id":' || CAST(event_id AS VARCHAR) END ||
       CASE WHEN event_type IS NULL THEN ''
            WHEN event_id IS NULL THEN '"event_type":"' || event_type || '"'
            ELSE ',"event_type":"' || event_type || '"' END ||
       '}' AS reencoded
FROM events
""",
)
def q_fn_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON family (reference: json.loads per record, consumer.py:123;
    re-encode mirrors its json.dumps sink, consumer.py:241). Total on
    dirty input: get_json_object is lenient (malformed → NULL) and the
    numeric cast is try_cast (a non-numeric k yields NULL, not an ANSI
    error); the oracle guards with json_valid + TRY_CAST to match.
    NULL semantics (probe_nulls class 2): Spark's to_json OMITS null
    struct fields, so a NULL event_type re-encodes to
    '{"event_id":N}' — the oracle's concatenation branches the same way."""
    ev = t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        F.expr("try_cast(get_json_object(props, '$.k') as bigint)").alias("k"),
        F.get_json_object("props", "$.missing").alias("missing"),
        F.to_json(F.struct("event_id", "event_type")).alias("reencoded"),
    )


@query(
    "q_flatten",
    oracle="""
SELECT event_id,
       CAST(user_id AS VARCHAR) AS visit_device_user_user_id,
       'ua-' || event_type AS visit_device_useragent,
       CAST(user_id % 100 AS VARCHAR) || '-sess' AS visit_tealium_session_id
FROM events
""",
)
def q_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-struct flatten to `_`-joined columns — the reference's two views
    of one event: nested wire form (record.json:3) vs flattened projection
    (event.py:10-26, e.g. visit.device.user.user_id →
    visit_device_user_user_id). Build the nested form, then flatten."""
    ev = t(spark, sf_dir, "events")
    nested = ev.select(
        "event_id",
        F.struct(
            F.struct(
                F.struct(F.col("user_id").cast("string").alias("user_id")).alias("user"),
                F.concat(F.lit("ua-"), F.col("event_type")).alias("useragent"),
            ).alias("device"),
            F.concat((F.col("user_id") % 100).cast("string"), F.lit("-sess")).alias(
                "tealium_session_id"
            ),
        ).alias("visit"),
    )
    return nested.select(
        "event_id",
        F.col("visit.device.user.user_id").alias("visit_device_user_user_id"),
        F.col("visit.device.useragent").alias("visit_device_useragent"),
        F.col("visit.tealium_session_id").alias("visit_tealium_session_id"),
    )


@query(
    "q_explode_dq",
    oracle=f"""
SELECT event_id, issue_name, issue_value FROM (
  -- vstr renders via the exact-cents form (q_fn_cast's _RENDER6_SQL
  -- rationale: even printf('%.6f') splits the engines on repr-vs-binary
  -- boundary values), non-finite spells Spark-style; NaN > 250 is TRUE
  -- on both engines, so NaN/+Inf land in value_high
  WITH vs AS (
    SELECT event_id, user_id, value,
           {_RENDER6_SQL} AS vstr
    FROM events)
  SELECT event_id, 'value_high' AS issue_name, vstr AS issue_value
  FROM vs WHERE value > 250
  UNION ALL
  SELECT event_id, 'check_user', CAST(user_id AS VARCHAR) FROM vs WHERE value > 250
  UNION ALL
  SELECT event_id, 'value_mid', vstr
  FROM vs WHERE value > 100 AND value <= 250
  UNION ALL
  SELECT event_id, NULL, NULL FROM vs WHERE value <= 100 OR value IS NULL
)
""",
)
def q_explode_dq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode_outer of an array-of-structs — the reference's `data_quality`
    audit rows (event.py:33-37; empty array at record.json:11 must still
    yield a row, hence OUTER). NULL semantics (probe_nulls class 2): a
    NULL value fails every WHEN, lands in the empty-array branch, and the
    OUTER explode still emits the event's audit row — the oracle's
    catch-all branch carries `OR value IS NULL` to match."""
    ev = t(spark, sf_dir, "events")
    issue = lambda name, val: F.struct(  # noqa: E731
        F.lit(name).alias("issue_name"), val.cast("string").alias("issue_value")
    )
    # doubles render via the exact-cents form (the r14 rendering rule —
    # see _RENDER6_SQL; raw %.6f is repr-vs-binary ambiguous)
    vstr = F.expr(_RENDER6_PY)
    dq = (
        F.when(
            F.col("value") > 250,
            F.array(issue("value_high", vstr), issue("check_user", F.col("user_id"))),
        )
        .when(F.col("value") > 100, F.array(issue("value_mid", vstr)))
        .otherwise(F.array().cast("array<struct<issue_name:string,issue_value:string>>"))
    )
    exploded = ev.select("event_id", F.explode_outer(dq).alias("issue"))
    return exploded.select(
        "event_id",
        F.col("issue.issue_name").alias("issue_name"),
        F.col("issue.issue_value").alias("issue_value"),
    )


@query(
    "q_fn_hash",
    oracle="""
SELECT doc_id,
       md5(text) AS text_md5,
       sha256(text) AS text_sha256,
       substr(md5(text), 1, 8) AS short_fp
FROM documents
""",
)
def q_fn_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cryptographic-hash family (content fingerprints for dedup keys and
    cache addressing): md5 / sha-256, hex-encoded identically cross-engine."""
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5("text").alias("text_md5"),
        F.sha2("text", 256).alias("text_sha256"),
        F.substring(F.md5("text"), 1, 8).alias("short_fp"),
    )


@query(
    "q_fn_bitwise",
    oracle="""
SELECT event_id,
       event_id & 255 AS low_byte,
       event_id | 4096 AS with_flag,
       xor(event_id, user_id) AS x,
       CAST(event_id * 16 AS BIGINT) AS shifted_l,
       -- arithmetic shift right = FLOOR division by 2^k; DuckDB's // (and
       -- integer /) truncates toward zero, so -1 // 4 = 0 while Spark's
       -- shiftright(-1, 2) = -1 — subtract pmod first for an exact floor
       CAST((event_id - ((event_id % 4) + 4) % 4) // 4 AS BIGINT) AS shifted_r
FROM events
""",
)
def q_fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise family (flag fields, shard routing, hash mixing). Negative
    operands (edge_negatives corpus): Spark's shiftright is ARITHMETIC
    (sign-extending), stated in the oracle as exact floor division."""
    ev = t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.col("event_id").bitwiseAND(F.lit(255)).alias("low_byte"),
        F.col("event_id").bitwiseOR(F.lit(4096)).alias("with_flag"),
        F.col("event_id").bitwiseXOR(F.col("user_id")).alias("x"),
        F.shiftleft("event_id", 4).alias("shifted_l"),
        F.shiftright("event_id", 2).alias("shifted_r"),
    )


@query(
    "q_fn_timezone",
    oracle="""
SELECT event_id,
       strftime(ts AT TIME ZONE 'UTC' AT TIME ZONE 'America/New_York',
                '%Y-%m-%d %H:%M:%S') AS ny_time,
       strftime(ts AT TIME ZONE 'UTC' AT TIME ZONE 'Asia/Tokyo',
                '%Y-%m-%d %H:%M:%S') AS tokyo_time
FROM events
""",
)
def q_fn_timezone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timezone conversion (the reference's arrival timestamps carry
    tzlocal(), record.json:2) — rendered as strings so the comparison is
    wall-clock, not instant-typed."""
    ev = t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.date_format(
            F.convert_timezone(F.lit("UTC"), F.lit("America/New_York"), F.col("ts")),
            "yyyy-MM-dd HH:mm:ss",
        ).alias("ny_time"),
        F.date_format(
            F.convert_timezone(F.lit("UTC"), F.lit("Asia/Tokyo"), F.col("ts")),
            "yyyy-MM-dd HH:mm:ss",
        ).alias("tokyo_time"),
    )


@query(
    "q_fn_scrub",
    oracle="""
SELECT c_custkey,
       regexp_replace(c_name, '[0-9]+', '<ID>', 'g') AS scrubbed,
       CAST(len(regexp_extract_all(c_name, '[0-9]+')) AS INT) AS n_redactions
FROM customer
""",
)
def q_fn_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redaction scrubbing (the PII-removal shape of a training pipeline):
    digit runs replaced with a placeholder, redaction count reported —
    regexp_replace is global in Spark, per-first-match in DuckDB without
    the 'g' flag (stated explicitly in the oracle)."""
    c = t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.regexp_replace("c_name", "[0-9]+", "<ID>").alias("scrubbed"),
        F.size(F.regexp_extract_all("c_name", F.lit("[0-9]+"), 0)).alias("n_redactions"),
    )


@query(
    "q_variant",
    oracle="""
WITH kv AS (
  SELECT json_type(j, '$.k') AS t, j->>'$.k' AS ks
  FROM (SELECT CASE WHEN json_valid(props) THEN props END AS j
        FROM events)),
kx AS (
  SELECT CASE
           WHEN t = 'BOOLEAN' THEN CASE WHEN ks = 'true' THEN 1 ELSE 0 END
           WHEN t IN ('BIGINT', 'UBIGINT') THEN TRY_CAST(ks AS BIGINT)
           WHEN t = 'DOUBLE' THEN
             TRY_CAST(trunc(TRY_CAST(ks AS DOUBLE)) AS BIGINT)
           WHEN t = 'VARCHAR' THEN
             TRY_CAST(NULLIF(regexp_extract(trim(ks), '^[+-]?[0-9]+$'), '')
                      AS BIGINT)
           ELSE NULL
         END AS k
  FROM kv)
SELECT CAST(k % 10 AS BIGINT) AS k_bucket,
       COUNT(*) AS n,
       TRY_CAST(SUM(k) AS BIGINT) AS sum_k
FROM kx
GROUP BY 1 ORDER BY k_bucket
""",
)
def q_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured ingestion through Spark 4's VARIANT type: the JSON
    props column is parsed ONCE into the binary variant encoding
    (parse_json), then fields are extracted with variant_get — the
    schema-on-read path for payloads whose shape drifts too fast for an
    explicit struct schema (the reference's records carry exactly such a
    bag, record.json). Extraction is JVM-side on the binary form — no
    per-row re-parse per accessed field, which is the cost model that
    matters when a 100 TB table has 40 optional fields. Oracle: DuckDB's
    JSON extraction over the same column. Total on dirty input: the
    try_ variants turn malformed JSON or an uncastable k into a NULL
    (grouped under the NULL bucket) instead of an ANSI error — a poison
    payload cannot kill a 100 TB scan. The oracle dispatches on
    json_type to mirror VARIANT cast semantics exactly: double k
    truncates toward zero (5.7 -> 5) and nulls on int64 overflow
    (TRY_CAST both hops), integer k stays exact past 2^53 (direct
    string->BIGINT, never through DOUBLE), boolean casts to 0/1, a
    STRING k follows strict string->bigint rules ('5.7' -> NULL)."""
    ev = t(spark, sf_dir, "events")
    k = F.expr("try_variant_get(try_parse_json(props), '$.k', 'bigint')")
    return (
        ev.select(k.alias("k"))
        .groupBy((F.col("k") % 10).cast("bigint").alias("k_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            # sum in DECIMAL(38,0) (order-safe, never overflows at these
            # magnitudes) and NULL the result iff it exceeds int64 — a
            # legal near-int64-max k must not ANSI-kill the aggregate;
            # DuckDB mirrors via its INT128 SUM + TRY_CAST
            F.expr("try_cast(sum(cast(k as decimal(38,0))) as bigint)").alias("sum_k"),
        )
        .orderBy("k_bucket")
    )
