"""The engine's query catalog (driver contract, SURVEY.md §2).

Each entry pairs a Spark DataFrame program with an ANSI-SQL oracle
that DuckDB runs on the same parquet views. Conventions that make the
order-insensitive value-hash comparison deterministic:

- every computed column is aliased identically on both sides;
- floating aggregates are ``round()``-ed (2 dp for money sums, 6 dp
  for ratios/averages) so partial-aggregation order cannot flip a ULP
  into a hash mismatch;
- timestamps that reach the output are formatted to strings, so
  engine timestamp precision (µs vs ns) and session timezones can't
  leak into values;
- all hashes derive from md5 (``functions.scalars.hash64``) — DuckDB
  replays signatures bit-for-bit;
- every top-k has a total-order tiebreak.

Reference parity is noted per query as (SURVEY §2 operator ids).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dbm_nca_ph_etl_spark.functions.scalars import coerce_double, floor_div_sql, hash64
from dbm_nca_ph_etl_spark.operators import asof as A
from dbm_nca_ph_etl_spark.operators import spatial as SP
from dbm_nca_ph_etl_spark.operators import dedup as D
from dbm_nca_ph_etl_spark.operators import similarity as S
from dbm_nca_ph_etl_spark.operators import text_analysis as T
from dbm_nca_ph_etl_spark.operators import integrity as IG
from dbm_nca_ph_etl_spark.operators import windows as W
from dbm_nca_ph_etl_spark.session import session_memo
from dbm_nca_ph_etl_spark.sources.catalog import load_table


@dataclass
class Query:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


QUERIES: dict[str, Query] = {}


def register(name: str, oracle: str | None, doc: str = "", tags: tuple[str, ...] = ()):
    def deco(fn):
        # fail LOUDLY on a name collision: a silent overwrite shadows
        # a query (dead code the gate still reports green under the
        # survivor's semantics) — exactly what happened to the r?
        # double-registered event_funnel, caught in r8.
        if name in QUERIES:
            raise ValueError(
                f"catalog query name {name!r} registered twice; "
                "rename one — a silent overwrite shadows the first "
                "implementation"
            )
        QUERIES[name] = Query(name, fn, oracle, doc, tags)
        return fn

    return deco


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


# Tie-proof 6-dp rounding for integer-ratio columns (see
# functions/scalars.round6): SQL twin is
# floor((x) * 1000000.0 + 0.5) / 1000000.0, spelled inline in the
# oracle strings.
from dbm_nca_ph_etl_spark.functions.scalars import round6 as _round6


# ---------------------------------------------------------------------------
# Phase 1 — core relational kernel (SURVEY §2.2, §2.4-2.6, §2.8)
# ---------------------------------------------------------------------------

@register(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                   AS sum_qty,
           round(sum(l_extendedprice), 2)                              AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)           AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 6)                                   AS avg_qty,
           round(avg(l_extendedprice), 6)                              AS avg_price,
           round(avg(l_discount), 6)                                   AS avg_disc,
           count(*)                                                    AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1 shape: scan→filter→hash-agg (A1/A4, P4, F10 casts). "
    "Map-side partial aggregation; filter+projection pushed to parquet.",
    tags=("relational", "bench"),
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "filter_project_orders",
    """
    SELECT o_orderkey, o_custkey, o_totalprice,
           year(o_orderdate)::INT                 AS o_year,
           split_part(o_orderpriority, '-', 2)    AS priority_name
    FROM orders
    WHERE o_orderstatus = 'O' AND o_totalprice > 100000
    """,
    doc="Projection+predicate pushdown (P2/P4/P8, F5/F7). The parquet "
    "scan must show PushedFilters on status+price and a 5-column ReadSchema.",
    tags=("relational",),
)
def filter_project_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.where((F.col("o_orderstatus") == "O") & (F.col("o_totalprice") > 100000)).select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.year("o_orderdate").alias("o_year"),
        F.element_at(F.split("o_orderpriority", "-"), 2).alias("priority_name"),
    )


@register(
    "top_revenue_orders",
    """
    WITH rev AS (
      SELECT l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT o.o_orderkey, o.o_custkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS order_date, rev.revenue
    FROM rev JOIN orders o ON rev.l_orderkey = o.o_orderkey
    ORDER BY rev.revenue DESC, o.o_orderkey
    LIMIT 10
    """,
    doc="agg→join→top-k (A1, J-pattern, O1-O3). Rounded revenue + "
    "orderkey tiebreak give a total order.",
    tags=("relational", "bench"),
)
def top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    rev = li.groupBy("l_orderkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")
    )
    return (
        rev.join(o, rev.l_orderkey == o.o_orderkey)
        .select(
            "o_orderkey",
            "o_custkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "revenue",
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@register(
    "revenue_by_nation",
    """
    SELECT r.r_name, n.n_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           count(DISTINCT c.c_custkey)                            AS n_customers
    FROM customer c
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY r.r_name, n.n_name
    """,
    doc="Flagship rollup (NCA 'amount per department/agency' analog, "
    "A1+J2): fact-fact shuffle join lineitem⋈orders, broadcast dims. "
    "This is entry()'s query.",
    tags=("relational", "bench", "flagship"),
)
def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    n = F.broadcast(_t(spark, sf_dir, "nation"))
    r = F.broadcast(_t(spark, sf_dir, "region"))
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.countDistinct("c_custkey").alias("n_customers"),
        )
    )


@register(
    "customers_no_orders",
    """
    SELECT c_custkey, c_name, c_acctbal
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    doc="Left-anti join (J1's 'missing in DB ⇒ new' branch).",
    tags=("relational",),
)
def customers_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_acctbal"
    )


@register(
    "big_spender_semi",
    """
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000
    )
    """,
    doc="Left-semi join (J1's 'present ⇒ compare' branch).",
    tags=("relational",),
)
def big_spender_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 200000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@register(
    "incremental_change_detect",
    """
    WITH db AS (
      SELECT c_custkey AS id, round(c_acctbal, 0) AS meta
      FROM customer WHERE c_custkey % 7 <> 0
    ),
    scraped AS (
      SELECT c_custkey AS id,
             round(c_acctbal, 0) + CASE WHEN c_custkey % 5 = 0 THEN 1 ELSE 0 END AS meta
      FROM customer
    )
    SELECT s.id,
           CASE WHEN db.id IS NULL THEN 'insert'
                WHEN db.meta <> s.meta THEN 'update'
                ELSE 'skip' END AS action
    FROM scraped s LEFT JOIN db ON s.id = db.id
    """,
    doc="J1 decision ladder (releases_scraper.py:101-124): left join a "
    "'DB snapshot' vs a 'scraped snapshot', classify insert/update/skip "
    "from null-ness and metadata drift.",
    tags=("relational",),
)
def incremental_change_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    db = cust.where(F.col("c_custkey") % 7 != 0).select(
        F.col("c_custkey").alias("id"), F.round("c_acctbal", 0).alias("meta")
    )
    scraped = cust.select(
        F.col("c_custkey").alias("id"),
        (
            F.round("c_acctbal", 0)
            + F.when(F.col("c_custkey") % 5 == 0, 1).otherwise(0)
        ).alias("meta"),
    )
    j = scraped.alias("s").join(db.alias("db"), on="id", how="left")
    return j.select(
        "id",
        F.when(F.col("db.meta").isNull(), "insert")
        .when(F.col("db.meta") != F.col("s.meta"), "update")
        .otherwise("skip")
        .alias("action"),
    )


@register(
    "first_order_per_customer",
    """
    SELECT o_custkey, o_orderkey AS first_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS first_order_date
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders
    ) WHERE rn = 1
    """,
    doc="Deterministic dropDuplicates (A2): survivor pinned by "
    "(orderdate, orderkey) — Spark's dropDuplicates alone is "
    "partition-order-dependent, so the engine's dedup is a window.",
    tags=("relational", "window"),
)
def first_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("first_orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("first_order_date"),
        )
    )


@register(
    "token_frequency",
    """
    SELECT tok, count(*) AS n
    FROM (
      SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                x -> x <> '')) AS tok
      FROM documents
    )
    WHERE length(tok) > 3
    GROUP BY tok
    ORDER BY n DESC, tok
    LIMIT 25
    """,
    doc="Explode+agg+top-k (A3 explode analog, F1/F7): the unnest path "
    "the NCA allocation explode uses, over document tokens.",
    tags=("relational", "text"),
)
def token_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(D.tokens(F.col("text"))).alias("tok"))
        .where(F.length("tok") > 3)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("tok"))
        .limit(25)
    )


@register(
    "scalar_kitchen_sink",
    """
    SELECT p_partkey,
           lower(p_name)                                   AS name_lower,
           replace(lower(p_brand), '#', '_')               AS brand_norm,
           split_part(p_type, ' ', 1)                      AS type_first,
           split_part(p_type, ' ', -1)                     AS type_last,
           contains(p_type, 'BRASS')                       AS has_brass,
           regexp_extract(p_brand, '([0-9]+)', 1)          AS brand_digits,
           concat_ws('-', p_brand, p_size::VARCHAR)        AS brand_size,
           CAST(round(p_retailprice * 100, 0) AS BIGINT)   AS price_cents
    FROM part
    """,
    doc="Scalar function kernel in one projection (F1-F8, F10/F11): "
    "lower/replace/split/regexp/concat/casts — all codegen, no UDF.",
    tags=("relational", "functions"),
)
def scalar_kitchen_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.lower("p_name").alias("name_lower"),
        F.regexp_replace(F.lower("p_brand"), "#", "_").alias("brand_norm"),
        F.element_at(F.split("p_type", " "), 1).alias("type_first"),
        F.element_at(F.split("p_type", " "), -1).alias("type_last"),
        F.col("p_type").contains("BRASS").alias("has_brass"),
        F.regexp_extract("p_brand", "([0-9]+)", 1).alias("brand_digits"),
        F.concat_ws("-", F.col("p_brand"), F.col("p_size").cast("string")).alias("brand_size"),
        F.round(F.col("p_retailprice") * 100, 0).cast("bigint").alias("price_cents"),
    )


@register(
    "json_extract_events",
    """
    SELECT TRY_CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_bucket,
           count(*)             AS n,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY 1
    """,
    doc="JSON decode (F12, the SQS message-body round-trip): "
    "get_json_object → typed bucket → agg.",
    tags=("relational", "functions"),
)
def json_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").try_cast("int")
    return (
        e.select((k % 10).alias("k_bucket"), "value")
        .groupBy("k_bucket")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    )


@register(
    "date_parse_roundtrip",
    """
    SELECT event_id, date_str,
           strftime(try_strptime(date_str, '%m/%d/%Y'), '%Y-%m-%dT%H:%M:%S') AS iso_ts
    FROM (
      SELECT event_id,
             CASE WHEN event_id % 13 = 0 THEN 'not a date'
                  ELSE strftime(ts, '%m/%d/%Y') END AS date_str
      FROM events
    )
    WHERE event_id < 2000
    """,
    doc="Date coerce round-trip (F9, pd_data_cleaner.py:135-137): "
    "format → parse-with-coerce (junk → null) → ISO re-serialize.",
    tags=("relational", "functions"),
)
def date_parse_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").where(F.col("event_id") < 2000)
    date_str = F.when(F.col("event_id") % 13 == 0, F.lit("not a date")).otherwise(
        F.date_format("ts", "MM/dd/yyyy")
    )
    parsed = F.try_to_timestamp(F.col("date_str"), F.lit("MM/dd/yyyy"))
    return e.select("event_id", date_str.alias("date_str")).select(
        "event_id",
        "date_str",
        F.date_format(parsed, "yyyy-MM-dd'T'HH:mm:ss").alias("iso_ts"),
    )

@register(
    "numeric_coerce",
    """
    SELECT p_partkey,
           TRY_CAST(replace(
             CASE WHEN p_partkey % 3 = 0 THEN p_partkey::VARCHAR || ',999.25'
                  WHEN p_partkey % 3 = 1 THEN 'N/A'
                  ELSE p_retailprice::VARCHAR END, ',', '') AS DOUBLE) AS amount
    FROM part
    """,
    doc="Numeric coerce (F10, pd_data_cleaner.py:169-172): comma-strip "
    "+ try_cast, junk → null — the allocation amount parse.",
    tags=("relational", "functions"),
)
def numeric_coerce(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    raw = (
        F.when(F.col("p_partkey") % 3 == 0, F.concat(F.col("p_partkey").cast("string"), F.lit(",999.25")))
        .when(F.col("p_partkey") % 3 == 1, F.lit("N/A"))
        .otherwise(F.col("p_retailprice").cast("string"))
    )
    return p.select("p_partkey", coerce_double(raw).alias("amount"))


@register(
    "rollup_revenue",
    """
    SELECT r_name, n_name,
           grouping(r_name)::INT AS g_region, grouping(n_name)::INT AS g_nation,
           round(sum(o_totalprice), 2) AS revenue
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY ROLLUP(r_name, n_name)
    """,
    doc="Hierarchical rollup (region→nation→grand total) with grouping "
    "flags — beyond-reference agg surface (SURVEY §2.4 note).",
    tags=("relational",),
)
def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    n = F.broadcast(_t(spark, sf_dir, "nation"))
    r = F.broadcast(_t(spark, sf_dir, "region"))
    o = _t(spark, sf_dir, "orders")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            F.grouping("r_name").cast("int").alias("g_region"),
            F.grouping("n_name").cast("int").alias("g_nation"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .select("r_name", "n_name", "g_region", "g_nation", "revenue")
    )


# ---------------------------------------------------------------------------
# Phase 2 — ordered/window kernel (SURVEY §2.3, W1-W4)
# ---------------------------------------------------------------------------

@register(
    "ffill_events",
    """
    SELECT event_id, user_id,
           round(last_value(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS value_ffill
    FROM (
      SELECT event_id, user_id, ts,
             CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
      FROM events
    )
    """,
    doc="W1 forward-fill (pd_data_cleaner.py:31-32): error events "
    "nullify the metric; last non-null above wins. Single window pass, "
    "explicit (ts, event_id) order — partition-invariant.",
    tags=("window", "bench"),
)
def ffill_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").withColumn(
        "v", F.when(F.col("event_type") == "error", None).otherwise(F.col("value"))
    )
    filled = W.forward_fill(
        e, "v", partition_by=["user_id"], order_by=["ts_us", "event_id"], out_col="value_ffill"
    )
    return filled.select("event_id", "user_id", F.round("value_ffill", 2).alias("value_ffill"))


@register(
    "sessionize_events",
    """
    WITH flagged AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                       OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ),
    sessions AS (
      SELECT user_id, event_id, value, ts,
             sum(new_session) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS session_id
      FROM flagged
    )
    SELECT user_id, session_id,
           count(*) AS n_events,
           (max(epoch_us(ts)) - min(epoch_us(ts))) // 1000000 AS duration_sec,
           round(sum(value), 2) AS sum_value
    FROM sessions
    GROUP BY user_id, session_id
    """,
    doc="W2 change-point sessionization (the spacer-insertion semantics "
    "of pd_data_cleaner.py:70-97 generalized to 30-min event-time gaps): "
    "lag → boundary flag → running sum → per-session agg.",
    tags=("window", "bench"),
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    s = W.sessionize(
        e, "ts_us", partition_by=["user_id"], gap=1800 * 1_000_000,
        order_by=["ts_us", "event_id"],
    )
    return s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        ((F.max("ts_us") - F.min("ts_us")) / 1000000).cast("long").alias("duration_sec"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


@register(
    "leading_run_events",
    """
    WITH r AS (
      SELECT user_id,
             CASE WHEN event_type = 'error' THEN '' ELSE event_type END AS t,
             row_number() OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS rn
      FROM events
    ),
    fe AS (
      SELECT user_id, min(rn) AS first_empty FROM r WHERE t = '' GROUP BY user_id
    )
    SELECT r.user_id,
           coalesce(string_agg(t, ' ' ORDER BY rn)
                      FILTER (WHERE rn < coalesce(first_empty, 9223372036854775807)),
                    '') AS leading_types
    FROM r LEFT JOIN fe ON r.user_id = fe.user_id
    GROUP BY r.user_id
    """,
    doc="W3 leading-run join (_join_col_to_str, pd_data_cleaner.py:120-132): "
    "space-join values per group but STOP at the first empty — trailing "
    "runs are dropped, not skipped. Ordered collect + array HOFs.",
    tags=("window",),
)
def leading_run_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").withColumn(
        "t", F.when(F.col("event_type") == "error", "").otherwise(F.col("event_type"))
    )
    order_key = F.col("ts_us") * 100000 + F.col("event_id") % 100000
    grouped = e.groupBy("user_id").agg(
        W.ordered_collect(F.col("t"), F.struct(F.col("ts_us"), F.col("event_id"))).alias("arr")
    )
    return grouped.select(
        "user_id", W.leading_run_concat(F.col("arr")).alias("leading_types")
    )


@register(
    "segment_reassembly",
    """
    WITH r AS (
      SELECT user_id, event_type, value,
             CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS boundary,
             row_number() OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS rn
      FROM events
    ),
    seg AS (
      SELECT user_id, event_type, value, boundary, rn,
             sum(boundary) OVER (
               PARTITION BY user_id ORDER BY rn
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS segment_id
      FROM r
    )
    SELECT user_id, segment_id,
           string_agg(event_type, ' ' ORDER BY rn) AS types_joined,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM seg
    WHERE boundary = 0
    GROUP BY user_id, segment_id
    """,
    doc="W4 stateful reassembly (pd_data_cleaner.py:152-163): boundary "
    "rows split segments; within a segment values string-append in "
    "document order. lag/cumsum segmentation + ordered collect — no "
    "iterrows, no driver loop.",
    tags=("window", "bench"),
)
def segment_reassembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    seg = W.segment_by_flag(
        e,
        (F.col("event_type") == "error"),
        partition_by=["user_id"],
        order_by=["ts_us", "event_id"],
    )
    return (
        seg.where(F.col("event_type") != "error")
        .groupBy("user_id", "segment_id")
        .agg(
            F.concat_ws(
                " ",
                W.ordered_collect(
                    F.col("event_type"), F.struct(F.col("ts_us"), F.col("event_id"))
                ),
            ).alias("types_joined"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


@register(
    "hourly_rollup",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_bucket,
           event_type,
           count(*) AS n,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="Tumbling-window rollup (T1/T2 batch analog; Structured "
    "Streaming runs the identical plan incrementally via window(ts)).",
    tags=("window", "streaming", "bench"),
)
def hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias(
                "hour_bucket"
            ),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    )


# ---------------------------------------------------------------------------
# Phase 3 — LLM-data-pipeline extensions (SURVEY §2.11, north star)
# ---------------------------------------------------------------------------

# DuckDB twins of operators/dedup.py's tokenizer + shingler, spliced
# into several oracles below.
_SQL_TOKENS = "list_filter(string_split_regex(lower({t}), '\\s+'), x -> x <> '')"
_SQL_SHINGLES = f"""
    CASE WHEN len({_SQL_TOKENS.format(t='{t}')}) >= 3 THEN
      list_distinct(list_transform(
        generate_series(0, len({_SQL_TOKENS.format(t='{t}')}) - 3),
        i -> array_to_string(({_SQL_TOKENS.format(t='{t}')})[i+1:i+3], ' ')))
    ELSE [array_to_string({_SQL_TOKENS.format(t='{t}')}, ' ')] END
"""


@register(
    "dedup_exact",
    """
    SELECT d.doc_id, d.lang, d.source, d.n_chars
    FROM documents d
    JOIN (SELECT md5(text) AS content_hash, min(doc_id) AS doc_id
          FROM documents GROUP BY md5(text)) keep
      ON d.doc_id = keep.doc_id
    """,
    doc="Exact dedup via content digest (extension; generalizes A2): "
    "groupBy(min) on md5 + semi-join back. Uniform hash key — no skew "
    "at any scale.",
    tags=("dedup", "bench"),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return D.exact_dedup(d).select("doc_id", "lang", "source", "n_chars")


@register(
    "minhash_signatures",
    f"""
    WITH shingled AS (
      SELECT doc_id, unnest({_SQL_SHINGLES.format(t='text')}) AS shingle
      FROM documents WHERE doc_id < 100
    ),
    pre AS (
      SELECT doc_id, ('0x' || substr(md5(shingle), 1, 12))::BIGINT AS x FROM shingled
    ),
    hashed AS (
      SELECT doc_id, h::INT AS h,
             ([2557, 21041, 27717, 22863, 845, 29229, 30923, 19617, 21031, 18641, 30861, 30047, 14075, 20097, 17409, 24897][h+1]::BIGINT * x
              + [654583775, 229283573, 1051550459, 794471793, 803550167, 370913197, 1381971571, 2121308585, 996984527, 1343235941, 1511588075, 2103497953, 956612807, 1588911645, 33727075, 88489753][h+1]::BIGINT) % 2305843009213693951 AS hv
      FROM pre CROSS JOIN generate_series(0, 15) AS t(h)
    )
    SELECT doc_id, h, min(hv) AS minhash
    FROM hashed GROUP BY doc_id, h
    """,
    doc="MinHash signatures (16 hashes over distinct 3-word shingles). "
    "md5-derived hash family so the oracle replays bits exactly. "
    "One md5 per shingle + affine family, array-HOF mins — no shuffle.",
    tags=("dedup",),
)
def minhash_signatures_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    return D.minhash_signatures(d)


def _docs_with_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ a perturbed copy of every 25th doc (id+100000,
    one token appended) — guarantees near-dup pairs exist at any SF so
    the LSH pipeline's output is non-trivially checkable."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dups = (
        d.where(F.col("doc_id") % 25 == 0)
        .select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" zzduplicatemarker")).alias("text"),
        )
    )
    return d.unionByName(dups)


_SQL_NEAR_DUP_BASE = """
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000 AS doc_id, text || ' zzduplicatemarker' AS text
      FROM documents WHERE doc_id % 25 = 0
"""


@register(
    "minhash_lsh_pairs",
    f"""
    WITH docs2 AS ({_SQL_NEAR_DUP_BASE}),
    shingled AS (
      SELECT doc_id, unnest({_SQL_SHINGLES.format(t='text')}) AS shingle FROM docs2
    ),
    pre AS (
      SELECT doc_id, ('0x' || substr(md5(shingle), 1, 12))::BIGINT AS x FROM shingled
    ),
    hashed AS (
      SELECT doc_id, h::INT AS h,
             ([2557, 21041, 27717, 22863, 845, 29229, 30923, 19617, 21031, 18641, 30861, 30047, 14075, 20097, 17409, 24897][h+1]::BIGINT * x
              + [654583775, 229283573, 1051550459, 794471793, 803550167, 370913197, 1381971571, 2121308585, 996984527, 1343235941, 1511588075, 2103497953, 956612807, 1588911645, 33727075, 88489753][h+1]::BIGINT) % 2305843009213693951 AS hv
      FROM pre CROSS JOIN generate_series(0, 15) AS t(h)
    ),
    sigs AS (
      SELECT doc_id, h, min(hv) AS minhash FROM hashed GROUP BY doc_id, h
    ),
    buckets AS (
      SELECT doc_id, h // 4 AS band,
             md5(string_agg(minhash::VARCHAR, ',' ORDER BY h)) AS bucket
      FROM sigs GROUP BY doc_id, h // 4
    )
    SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
    FROM buckets a JOIN buckets b
      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    """,
    doc="MinHash-LSH banding (16 hashes, 4 bands × 4 rows): candidate "
    "pairs share ≥1 band bucket; the self-join runs per bucket — "
    "Σ bucket², never N². Input salted with known near-dups.",
    tags=("dedup", "bench"),
)
def minhash_lsh_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.minhash_lsh_pairs(_docs_with_near_dups(spark, sf_dir))


@register(
    "ngram_jaccard_pairs",
    f"""
    WITH docs2 AS ({_SQL_NEAR_DUP_BASE}),
    shingled AS (
      SELECT doc_id, unnest({_SQL_SHINGLES.format(t='text')}) AS shingle FROM docs2
    ),
    pre AS (
      SELECT doc_id, ('0x' || substr(md5(shingle), 1, 12))::BIGINT AS x FROM shingled
    ),
    hashed AS (
      SELECT doc_id, h::INT AS h,
             ([2557, 21041, 27717, 22863, 845, 29229, 30923, 19617, 21031, 18641, 30861, 30047, 14075, 20097, 17409, 24897][h+1]::BIGINT * x
              + [654583775, 229283573, 1051550459, 794471793, 803550167, 370913197, 1381971571, 2121308585, 996984527, 1343235941, 1511588075, 2103497953, 956612807, 1588911645, 33727075, 88489753][h+1]::BIGINT) % 2305843009213693951 AS hv
      FROM pre CROSS JOIN generate_series(0, 15) AS t(h)
    ),
    sigs AS (
      SELECT doc_id, h, min(hv) AS minhash FROM hashed GROUP BY doc_id, h
    ),
    buckets AS (
      SELECT doc_id, h // 4 AS band,
             md5(string_agg(minhash::VARCHAR, ',' ORDER BY h)) AS bucket
      FROM sigs GROUP BY doc_id, h // 4
    ),
    cands AS (
      SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
      FROM buckets a JOIN buckets b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    sh AS (SELECT doc_id, {_SQL_SHINGLES.format(t='text')} AS s FROM docs2)
    SELECT c.a, c.b,
           floor((len(list_intersect(sa.s, sb.s))::DOUBLE
                  / len(list_distinct(sa.s || sb.s))::DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS jaccard
    FROM cands c JOIN sh sa ON c.a = sa.doc_id JOIN sh sb ON c.b = sb.doc_id
    """,
    doc="Exact n-gram Jaccard verification of LSH candidates (the "
    "verify stage of near-dup dedup): array_intersect/union sizes on "
    "distinct shingle sets.",
    tags=("dedup",),
)
def ngram_jaccard_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs2 = _docs_with_near_dups(spark, sf_dir)
    cands = D.minhash_lsh_pairs(docs2)
    return D.ngram_jaccard_pairs(cands, docs2)


@register(
    "simhash_docs",
    """
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                x -> x <> '')) AS tok
      FROM documents
    ),
    h AS (
      SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS hv FROM toks
    ),
    votes AS (
      SELECT doc_id, b,
             sum(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
      FROM h CROSS JOIN generate_series(0, 31) AS t(b)
      GROUP BY doc_id, b
    ),
    packed AS (
      SELECT doc_id,
             sum(CASE WHEN vote > 0 THEN CAST(power(2, b) AS BIGINT) ELSE 0 END)::BIGINT AS simhash32
      FROM votes GROUP BY doc_id
    )
    SELECT d.doc_id, coalesce(p.simhash32, 0)::BIGINT AS simhash32
    FROM documents d LEFT JOIN packed p ON d.doc_id = p.doc_id
    """,
    doc="SimHash fingerprints (32-bit, token-multiplicity votes): "
    "near-dups differ in few bits. Spark side is one codegen'd "
    "aggregate HOF per row — no explode, no shuffle at all.",
    tags=("dedup",),
)
def simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", D.simhash(F.col("text"), bits=32).alias("simhash32"))


@register(
    "ann_cosine_topk",
    """
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < 10
    ),
    c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
    scored AS (
      SELECT query_id, neighbor_id,
             round(list_dot_product(qv, cv)
                   / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))),
                   6) AS cos_sim
      FROM q CROSS JOIN c WHERE query_id <> neighbor_id
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id)::INT AS rank
      FROM scored
    ) WHERE rank <= 10
    """,
    doc="Brute-force exact cosine top-k (extension): broadcast query "
    "set × corpus, array-HOF dot products (JVM, no UDF), per-query "
    "window rank. The correctness baseline for the LSH variant.",
    tags=("similarity", "bench"),
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return S.cosine_topk(emb, emb.where(F.col("vec_id") < 10), k=10)


_SQL_EXACT_KTH = """
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < 10
    ),
    c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
    scored AS (
      SELECT query_id, neighbor_id,
             round(list_dot_product(qv, cv)
                   / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))),
                   6) AS cos_sim
      FROM q CROSS JOIN c WHERE query_id <> neighbor_id
    )
    SELECT query_id, cos_sim AS exact_kth_sim, true AS recall_ok FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id)::INT AS rank
      FROM scored
    ) WHERE rank = 10
"""


def _ann_recall_audit(appr: DataFrame, exact: DataFrame, floor_hits: int) -> DataFrame:
    """Recall-bound audit for an approximate ANN result (the pattern
    that turns approximate operators driver-checkable): one row per
    query carrying the exact k-th similarity (numerically verified by
    the SQL oracle on both engines) plus ``recall_ok`` — whether the
    approximate top-k recovered at least ``floor_hits`` of the exact
    top-k across all queries. The oracle asserts ``true``; an LSH/IVF
    regression (bad seeds, broken bucketing, lost candidates) drops
    hits below the floor and flips the verdict → hash mismatch.
    Floors are set at ~½ the measured minimum across sf0.01/sf0.1 so
    they trip on regressions, not on data-scale variance.

    Each pair-set lineage is consumed EXACTLY ONCE: the old
    hits-intersection + kth-row shape referenced ``exact`` twice, so
    Catalyst expanded the brute-force query×corpus scoring subtree —
    the most expensive lineage in every ANN audit — 2×. One left
    join marks which exact neighbors the approximate top-k
    recovered, a per-query aggregate carries the k-th similarity and
    the per-query hit count together, and the global hit total comes
    from an unpartitioned window over that ≤|queries|-row aggregate
    (bounded at any corpus size — the single partition holds ~10
    rows, never data)."""
    j = exact.join(
        appr.select("query_id", "neighbor_id").withColumn("_a", F.lit(1)),
        ["query_id", "neighbor_id"],
        "left",
    )
    per_q = j.groupBy("query_id").agg(
        F.max(F.when(F.col("rank") == 10, F.col("cos_sim"))).alias(
            "exact_kth_sim"
        ),
        F.count("_a").alias("_hits_q"),
    )
    total_hits = F.sum("_hits_q").over(Window.partitionBy())
    return (
        per_q.select(
            "query_id",
            "exact_kth_sim",
            (total_hits >= floor_hits).alias("recall_ok"),
        )
        # the window runs BEFORE this filter, so the hit total counts
        # every intersected pair exactly like the old global
        # intersection count — including hits of a query that lacks a
        # rank-k row (possible only on a sub-k corpus)
        .where(F.col("exact_kth_sim").isNotNull())
    )


@register(
    "ann_lsh_topk",
    _SQL_EXACT_KTH,
    doc="Random-hyperplane LSH ANN (extension, scale path) as a "
    "recall-bound audit: bucket-join on sign signatures + exact "
    "re-rank, intersected with the exact top-10 (broadcast brute "
    "force, the map-only baseline). Output per query: the exact "
    "k-th similarity (hash-verified vs DuckDB) and recall_ok "
    "(total hits ≥ 40/100; measured 68-71). The raw approximate "
    "top-k remains available as operators/similarity.lsh_bucket_topk.",
    tags=("similarity",),
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    return _ann_recall_audit(
        S.lsh_bucket_topk(emb, q, k=10), S.cosine_topk(emb, q, k=10), floor_hits=40
    )


@register(
    "ann_rp_topk",
    _SQL_EXACT_KTH,
    doc="Johnson–Lindenstrauss random-projection ANN (extension, the "
    "index-COMPRESSION leg next to int8/PQ): corpus and queries "
    "project through a deterministic 64→32 matrix (same LCG planes "
    "as LSH — no RNG), candidates are scored in the projected space "
    "(half the scan bytes/FLOPs; 768-dim real embeddings compress "
    "12×), the top-100 per query re-rank by exact full-dim cosine. "
    "Recall-bound audit: exact k-th similarity hash-verified vs "
    "DuckDB + recall_ok (hits ≥ 20/100; measured 71 at sf0.01, 50 "
    "at sf0.1 — the synthetic near-isotropic vectors are the JL "
    "worst case). Projection is one Arrow matmul per batch; at "
    "100 TB the projected corpus is the persisted index and the "
    "full-dim table is touched only for n_cand rows per query.",
    tags=("similarity", "llm"),
)
def ann_rp_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    return _ann_recall_audit(
        S.rp_topk(emb, q, k=10, r=32, n_cand=100),
        S.cosine_topk(emb, q, k=10),
        floor_hits=20,
    )


_SQL_STOP_EN = "['the','and','of','to','a','in','is','it','that','for']"
_SQL_STOP_ES = "['el','la','de','que','y','en','un','los','se','por']"
_SQL_STOP_FR = "['le','la','de','et','les','des','un','une','du','que']"
_SQL_STOP_DE = "['der','die','das','und','ist','von','den','im','ein','mit']"


@register(
    "text_stats",
    f"""
    WITH base AS (
      SELECT doc_id, text, {_SQL_TOKENS.format(t='text')} AS toks,
             length(regexp_replace(text, '\\s', '', 'g')) AS nonspace,
             length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS punct
      FROM documents
    ),
    m AS (
      SELECT doc_id,
             length(text)::INT AS n_chars_actual,
             len(toks)::INT AS n_tokens,
             len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\\s]'))::INT AS n_subtokens,
             CASE WHEN nonspace > 0 THEN punct::DOUBLE / nonspace::DOUBLE ELSE 0.0 END AS pr,
             CASE WHEN len(toks) > 0 THEN
               len(list_filter(toks, x -> list_contains({_SQL_STOP_EN}, x)))::DOUBLE
                 / len(toks)::DOUBLE ELSE 0.0 END AS swr,
             len(toks)::DOUBLE AS tc
      FROM base
    )
    SELECT doc_id, n_chars_actual, n_tokens, n_subtokens,
           floor(pr * 1000000.0 + 0.5) / 1000000.0 AS punct_ratio,
           floor(swr * 1000000.0 + 0.5) / 1000000.0 AS stopword_ratio_en,
           floor(((least(tc / 100.0, 1.0)
                   + greatest(1.0 - pr * 5.0, 0.0)
                   + least(swr * 5.0, 1.0)) / 3.0)
                 * 1000000.0 + 0.5) / 1000000.0 AS quality
    FROM m
    """,
    doc="Text quality metrics (extension): char/token/subtoken counts, "
    "punctuation + stopword ratios, composite quality score — one "
    "codegen'd projection over the corpus.",
    tags=("text", "bench"),
)
def text_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    t = F.col("text")
    # Staged let-binding (the shape the DuckDB twin already has): the
    # flat one-select form repeated the tokenize subtree 6× and each
    # regexp_replace 2-4× per row — HOF lambdas carry fresh variable
    # ids, so codegen subexpression elimination can't unify them, and
    # the corpus paid 6 tokenize passes in one Project. Two stacked
    # Projects share the arrays/lengths as local variables inside one
    # WholeStageCodegen span; CollapseProject keeps them apart because
    # the aliases are non-cheap and multiply referenced. Arithmetic
    # (and therefore every emitted value) is unchanged.
    from dbm_nca_ph_etl_spark.operators.dedup import tokens as _tokens

    sw = F.array(*[F.lit(w) for w in T.STOPWORDS["en"]])
    base = d.select(
        "doc_id",
        F.length(t).alias("n_chars_actual"),
        _tokens(t).alias("_toks"),
        F.length(F.regexp_replace(t, r"\s", "")).alias("_nonspace"),
        F.length(F.regexp_replace(t, r"[a-zA-Z0-9\s]", "")).alias("_punct"),
        F.size(
            F.regexp_extract_all(F.lower(t), F.lit(r"[a-z0-9]+|[^a-z0-9\s]"), 0)
        ).alias("n_subtokens"),
    )
    ntok = F.size(F.col("_toks"))
    hits = F.size(F.filter(F.col("_toks"), lambda x: F.array_contains(sw, x)))
    m = base.select(
        "doc_id",
        "n_chars_actual",
        "n_subtokens",
        ntok.alias("n_tokens"),
        F.when(
            F.col("_nonspace") > 0,
            F.col("_punct").cast("double") / F.col("_nonspace").cast("double"),
        )
        .otherwise(0.0)
        .alias("_pr"),
        F.when(
            ntok > 0, hits.cast("double") / ntok.cast("double")
        )
        .otherwise(0.0)
        .alias("_swr"),
    )
    quality = _round6(
        (
            F.least(F.col("n_tokens").cast("double") / F.lit(100.0), F.lit(1.0))
            + F.greatest(F.lit(1.0) - F.col("_pr") * 5.0, F.lit(0.0))
            + F.least(F.col("_swr") * 5.0, F.lit(1.0))
        )
        / 3.0
    )
    return m.select(
        "doc_id",
        "n_chars_actual",
        "n_tokens",
        "n_subtokens",
        _round6(F.col("_pr")).alias("punct_ratio"),
        _round6(F.col("_swr")).alias("stopword_ratio_en"),
        quality.alias("quality"),
    )


@register(
    "lang_id_confusion",
    f"""
    WITH scored AS (
      SELECT lang,
             len(list_filter(toks, x -> list_contains({_SQL_STOP_EN}, x))) AS s_en,
             len(list_filter(toks, x -> list_contains({_SQL_STOP_ES}, x))) AS s_es,
             len(list_filter(toks, x -> list_contains({_SQL_STOP_FR}, x))) AS s_fr,
             len(list_filter(toks, x -> list_contains({_SQL_STOP_DE}, x))) AS s_de
      FROM (SELECT lang, {_SQL_TOKENS.format(t='text')} AS toks FROM documents)
    )
    SELECT lang,
           CASE WHEN greatest(s_en, s_es, s_fr, s_de) = 0 THEN 'und'
                WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de THEN 'en'
                WHEN s_es >= s_fr AND s_es >= s_de THEN 'es'
                WHEN s_fr >= s_de THEN 'fr'
                ELSE 'de' END AS lang_pred,
           count(*) AS n
    FROM scored GROUP BY 1, 2
    """,
    doc="Heuristic language ID (stopword argmax, en>es>fr>de tie "
    "order) × true label — the confusion matrix of the lang_id "
    "operator.",
    tags=("text",),
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbm_nca_ph_etl_spark.operators.dedup import tokens as _tokens

    d = _t(spark, sf_dir, "documents")
    # let-bind the token array so the 4 per-language stopword filters
    # share ONE tokenization (inlined, the HOF re-evaluated 4×/row)
    toksed = d.select("lang", _tokens(F.col("text")).alias("_toks"))
    return (
        toksed.select(
            "lang",
            T.lang_id(F.col("_toks"), toks=F.col("_toks")).alias("lang_pred"),
        )
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "doc_fingerprints",
    """
    SELECT doc_id,
           ('0x' || substr(md5(trim(regexp_replace(
              regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),
              '\\s+', ' ', 'g'))), 1, 15))::BIGINT AS fingerprint
    FROM documents
    """,
    doc="Document fingerprint (extension): 60-bit md5 of "
    "normalization(lower, strip punct, collapse ws) — stable under "
    "formatting noise; the dedup/incremental-load join key.",
    tags=("text", "dedup"),
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", T.fingerprint(F.col("text")).alias("fingerprint"))


# ---------------------------------------------------------------------------
# Phase 4 — the NCA cleaner itself, oracle-checked end-to-end
# ---------------------------------------------------------------------------

from dbm_nca_ph_etl_spark.plans import nca_queries as _nca  # noqa: E402

register(
    "nca_clean_records",
    _nca.NCA_RECORDS_ORACLE,
    doc="FULL NCA cleaner (records side) vs an independent SQL "
    "replication: synthesize a release document from orders+lineitem, "
    "run nca/cleaner.py on Spark, replicate spacer/ffill/leading-run/"
    "header-removal semantics in DuckDB. One hash match = whole "
    "pipeline parity (pd_data_cleaner.py:22-60).",
    tags=("nca", "window", "bench"),
)(_nca.nca_clean_records)

register(
    "nca_clean_allocations",
    _nca.NCA_ALLOCATIONS_ORACLE,
    doc="FULL NCA cleaner (allocations side): explode + segment "
    "reassembly + coerce/drop semantics (pd_data_cleaner.py:143-173) "
    "vs the SQL replication.",
    tags=("nca", "window", "bench"),
)(_nca.nca_clean_allocations)


# ---------------------------------------------------------------------------
# Phase 4b — ingestion edge (SURVEY §2.1 S1/S2, §2.9 T2/F13)
# ---------------------------------------------------------------------------

from dbm_nca_ph_etl_spark.sources.releases import (  # noqa: E402
    derive_releases,
    plan_page_batches,
)


@register(
    "release_derivation",
    """
    WITH links AS (
      SELECT 'part ' || p_partkey::VARCHAR AS title,
             'https://dbm.example/files/' ||
             CASE p_partkey % 5
               WHEN 0 THEN 'NCA_' || (2020 + p_partkey % 8)::VARCHAR || '.pdf'
               WHEN 1 THEN 'UPDATED_NCA_' || p_partkey::VARCHAR || '.PDF'
               WHEN 2 THEN 'NCA_notes.pdf'
               WHEN 3 THEN 'budget_' || (2020 + p_partkey % 8)::VARCHAR || '.pdf'
               ELSE 'NCA_' || (2020 + p_partkey % 8)::VARCHAR || '.html'
             END AS url
      FROM part
    ),
    matched AS (
      SELECT title, url,
             regexp_extract(url, '/([^/]*)$', 1) AS filename
      FROM links
      WHERE regexp_matches(url, '(?i).*NCA.*\\.pdf$')
    ),
    derived AS (
      SELECT title, url, filename,
             CASE WHEN upper(filename) LIKE '%UPDATED%' THEN 2026
                  WHEN regexp_extract(filename, '(\\d{4})', 1) <> ''
                  THEN regexp_extract(filename, '(\\d{4})', 1)::INT
             END AS year
      FROM matched
    )
    SELECT title, url, filename, year, 'id_' || year::VARCHAR AS id
    FROM derived
    WHERE year IS NOT NULL AND year >= 2024
    """,
    doc="S1/S2 release derivation as one codegen'd projection+filter: "
    "regex link filter, filename split, year extract, UPDATED→current "
    "year, id synthesis, null-year drop, oldest-year predicate "
    "(bs4_scraper.py:18-63). Links synthesized from `part`.",
    tags=("ingest",),
)
def release_derivation(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    url = F.concat(
        F.lit("https://dbm.example/files/"),
        F.when(F.col("p_partkey") % 5 == 0,
               F.concat(F.lit("NCA_"), (2020 + F.col("p_partkey") % 8).cast("string"), F.lit(".pdf")))
        .when(F.col("p_partkey") % 5 == 1,
              F.concat(F.lit("UPDATED_NCA_"), F.col("p_partkey").cast("string"), F.lit(".PDF")))
        .when(F.col("p_partkey") % 5 == 2, F.lit("NCA_notes.pdf"))
        .when(F.col("p_partkey") % 5 == 3,
              F.concat(F.lit("budget_"), (2020 + F.col("p_partkey") % 8).cast("string"), F.lit(".pdf")))
        .otherwise(
            F.concat(F.lit("NCA_"), (2020 + F.col("p_partkey") % 8).cast("string"), F.lit(".html"))),
    )
    links = p.select(
        F.concat(F.lit("part "), F.col("p_partkey").cast("string")).alias("title"),
        url.alias("url"),
    )
    return derive_releases(links, current_year=2026, oldest_year=2024)


@register(
    "page_batch_plan",
    """
    WITH rel AS (
      SELECT 'id_' || p_partkey::VARCHAR AS id, p_size AS page_count
      FROM part WHERE p_partkey % 11 = 0
    ),
    exploded AS (
      SELECT id, page_count,
             unnest(range(1, page_count + 1, 10)) AS start_page_num
      FROM rel WHERE page_count >= 1
    )
    SELECT id, page_count, start_page_num,
           least(start_page_num + 9, page_count) AS end_page_num,
           ((start_page_num - 1) // 10 + 1) AS batch_num
    FROM exploded
    """,
    doc="T2/F13 page-batch fan-out plan (release_batcher.py:21-31): "
    "explode(sequence) into (start,end,batch_num) page ranges — the "
    "reference's SQS fan-out as partition fan-out.",
    tags=("ingest",),
)
def page_batch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part").where(F.col("p_partkey") % 11 == 0)
    rel = p.select(
        F.concat(F.lit("id_"), F.col("p_partkey").cast("string")).alias("id"),
        F.col("p_size").alias("page_count"),
    )
    return plan_page_batches(rel, batch_size=10)


# ---------------------------------------------------------------------------
# Phase 6 — event-time window operators (streaming/events.py; batch
# mode here so DuckDB can replay them — the streaming plan is
# identical plus a watermark)
# ---------------------------------------------------------------------------

from dbm_nca_ph_etl_spark.streaming import events as EV  # noqa: E402


@register(
    "tumbling_window_counts",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="window(ts, '1 hour') fixed windows — the native streaming "
    "twin of hourly_rollup's date_trunc; epoch-aligned on NTZ so the "
    "driver session timezone cannot shift buckets.",
    tags=("window", "streaming"),
)
def tumbling_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return EV.tumbling_window_counts(_t(spark, sf_dir, "events"))


@register(
    "sliding_window_counts",
    """
    WITH ks AS (SELECT unnest(range(4)) AS k),
    expanded AS (
      SELECT event_type,
             make_timestamp(((epoch_us(ts) // 900000000) - k) * 900000000)
               AS window_start_ts
      FROM events, ks
    )
    SELECT strftime(window_start_ts, '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           count(*) AS n_events
    FROM expanded
    GROUP BY 1, 2
    """,
    doc="window(ts, '1 hour', '15 minutes') sliding windows: each "
    "event expands into width/slide=4 overlapping windows JVM-side "
    "(no self-join); oracle replays the expansion with a range cross "
    "join.",
    tags=("window", "streaming"),
)
def sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return EV.sliding_window_counts(_t(spark, sf_dir, "events"))


@register(
    "session_window_stats",
    """
    WITH flagged AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                       OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ),
    sessions AS (
      SELECT user_id, value, ts,
             sum(new_session) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM flagged
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM sessions
    GROUP BY user_id, session_id
    """,
    doc="session_window(ts, '30 minutes') gap sessions — the "
    "streaming-native twin of the batch lag/cumsum sessionizer "
    "(merging state incrementally instead of re-sorting history); "
    "session end = last event + gap, boundary exclusive.",
    tags=("window", "streaming", "bench"),
)
def session_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return EV.session_window_stats(_t(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# Phase 7 — multimodal binary columns (operators/multimodal.py).
# Assets are synthesized deterministically from documents.text, so the
# DuckDB oracle can replay byte-exact semantics via ord(substr(...))
# (the corpus is pure ASCII: byte == code point).
# ---------------------------------------------------------------------------

from dbm_nca_ph_etl_spark.operators import multimodal as M  # noqa: E402


def _assets(spark, sf_dir):
    return M.synthesize_assets(_t(spark, sf_dir, "documents"))


@register(
    "multimodal_byte_stats",
    """
    WITH chars AS (
      SELECT doc_id, ord(substr(text, p.p, 1)) AS b
      FROM documents, LATERAL unnest(range(1, length(text) + 1)) AS p(p)
    )
    SELECT doc_id AS asset_id,
           count(*) AS n_bytes,
           ((sum(b) * 1000000) // count(*))::BIGINT AS mean_byte_micro,
           max(b) AS max_byte,
           count(DISTINCT b) AS n_distinct_bytes
    FROM chars
    GROUP BY doc_id
    """,
    doc="Binary-column feature extraction: Arrow-batched numpy stats "
    "per blob (mapInPandas, map-only — blobs never shuffle). Oracle "
    "unrolls the blob char-by-char. Means are exact integer "
    "micro-units (sum*1e6 // n): power-of-two blob lengths make "
    "round(x,6) .5-ties routine, and half-even vs half-up flipped a "
    "ULP at sf0.1 — integer floor division is engine-invariant.",
    tags=("multimodal", "bench"),
)
def multimodal_byte_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return M.byte_stats(_assets(spark, sf_dir))


@register(
    "video_frame_sample",
    """
    WITH v AS (
      SELECT doc_id, text, length(text) AS n,
             greatest(length(text) // 64, 1) AS n_frames
      FROM documents WHERE doc_id % 3 = 2
    ),
    f AS (
      SELECT doc_id, text, n // n_frames AS fs,
             unnest(range(0, n_frames, 4)) AS frame_idx
      FROM v WHERE n // n_frames >= 1
    ),
    b AS (
      SELECT doc_id, frame_idx,
             ord(substr(text, frame_idx * fs + p.p + 1, 1)) AS byte
      FROM f, LATERAL unnest(range(0, fs)) AS p(p)
    )
    SELECT doc_id AS asset_id, frame_idx,
           count(*) AS n_frame_bytes,
           ((sum(byte) * 1000000) // count(*))::BIGINT AS frame_mean_micro
    FROM b
    GROUP BY doc_id, frame_idx
    """,
    doc="Video frame sampling: blob → n_frames equal frames, keep "
    "every 4th, per-frame stats. Fan-out after sampling so dropped "
    "frames never materialize.",
    tags=("multimodal",),
)
def video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return M.sample_frames(_assets(spark, sf_dir), every_n=4)


@register(
    "image_resize_stats",
    """
    WITH v AS (
      SELECT doc_id, text, length(text) AS n,
             greatest(length(text) // 16, 1) AS h
      FROM documents WHERE doc_id % 3 = 0
    ),
    grid AS (
      SELECT doc_id, text, n, h,
             unnest(range(0, 8)) AS r
      FROM v
    ),
    cells AS (
      SELECT doc_id, text, n, h, r, unnest(range(0, 8)) AS c
      FROM grid
    ),
    px AS (
      SELECT doc_id,
             CASE WHEN (r * h // 8) * 16 + c * 2 < n
                  THEN ord(substr(text, (r * h // 8) * 16 + c * 2 + 1, 1))
                  ELSE 0 END AS byte
      FROM cells
    )
    SELECT doc_id AS asset_id,
           count(*) AS n_bytes,
           ((sum(byte) * 1000000) // count(*))::BIGINT AS mean_byte_micro,
           max(byte) AS max_byte,
           count(DISTINCT byte) AS n_distinct_bytes
    FROM px
    GROUP BY doc_id
    """,
    doc="decode → nearest-neighbor resize to 8x8 → stats, all inside "
    "one Arrow pass (FakeGrayscaleDecoder: blob as 16-wide grayscale "
    "grid). Oracle replays the index grid arithmetic exactly.",
    tags=("multimodal",),
)
def image_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return M.byte_stats(
        M.resize_images(_assets(spark, sf_dir), out_w=8, out_h=8)
    )


# ---------------------------------------------------------------------------
# Phase 7b — embedding near-dup + IVF ANN (operators/similarity.py)
# ---------------------------------------------------------------------------


@register(
    "embedding_near_dup_pairs",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             round(list_dot_product(a.v, b.v)
                   / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
                   6) AS cos_sim
      FROM e a JOIN e b ON a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, cos_sim FROM pairs WHERE cos_sim >= 0.4
    """,
    doc="Embedding-cosine near-duplicate pairs, exact all-(i<j) "
    "baseline (dedup extension). The LSH variant is the scale path; "
    "this is its recall oracle.",
    tags=("similarity", "dedup"),
)
def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.cosine_near_dup_pairs(_t(spark, sf_dir, "embeddings"), threshold=0.4)


def _signed_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized LSH signature index — at 100 TB written once
    per corpus snapshot (build_lsh_index) and read by every pass."""
    emb = _t(spark, sf_dir, "embeddings")
    return session_memo(
        spark, ("signed_index", sf_dir), emb.inputFiles(),
        lambda: S._signed(emb, "vec_id", "embedding", 6, 6, 64, 42),
    )


@register(
    "embedding_near_dup_lsh",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             round(list_dot_product(a.v, b.v)
                   / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
                   6) AS cos_sim
      FROM e a JOIN e b
        ON a.vec_id < b.vec_id
       AND ((a.vec_id % 7 = 0 AND a.vec_id < 7000)
            OR (b.vec_id % 7 = 0 AND b.vec_id < 7000))
    )
    SELECT count(*)::BIGINT AS n_exact_pairs,
           true AS precision_ok, true AS recall_ok
    FROM pairs WHERE cos_sim >= 0.4
    """,
    doc="LSH-bucketed near-dup pairs (multi-table hyperplane buckets "
    "→ candidate pairs → exact cosine filter) as a precision/recall "
    "audit against a PROBE-restricted exact baseline: exact pairs "
    "touching the bounded probe set (vec_id%7==0, vec_id<7000 — "
    "≤1000 probes at ANY corpus size) come from "
    "operators/similarity.probe_near_dup_pairs: Arrow-matmul "
    "candidate generation with an epsilon guard, exact JVM-fold "
    "re-check — O(n) work, never the O(n²) cross join. n_exact_pairs "
    "is hash-verified vs DuckDB; precision_ok asserts every sampled "
    "LSH pair is a true pair (precision 1.0 by construction); "
    "recall_ok asserts sampled recall ≥ 0.2 (measured 0.37-0.53). "
    "Raw pairs remain operators/similarity.lsh_near_dup_pairs.",
    tags=("similarity", "dedup", "bench"),
)
def embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    # ONE full-outer join of the two id-pair sets yields all three
    # audit numbers (|exact|, |lsh ∩ exact|, |lsh \ exact|) in a
    # single agg — each expensive pair-set lineage (probe matmul,
    # 6-branch LSH candidate join) is consumed exactly once, so no
    # checkpoint and no per-branch re-derivation (the previous
    # count/semi/anti 3-branch shape measured 6.0 s vs 2.4 s for
    # this one in the same session, identical result).
    exact = S.probe_near_dup_pairs(
        emb, threshold=0.4, probe_mod=7, probe_cap=7000
    ).select("id_a", "id_b")
    lsh = S.lsh_near_dup_pairs(
        emb, threshold=0.4, signed=_signed_index(spark, sf_dir)
    ).select("id_a", "id_b")
    in_probe = lambda c: (F.col(c) % 7 == 0) & (F.col(c) < 7000)  # noqa: E731
    lsh_sampled = lsh.where(in_probe("id_a") | in_probe("id_b"))
    j = exact.withColumn("_e", F.lit(1)).join(
        lsh_sampled.withColumn("_l", F.lit(1)), ["id_a", "id_b"], "full_outer"
    )
    # coalesce(sum, 0): over an empty/all-null frame sum() is NULL,
    # which would turn n_exact_pairs and recall_ok into NULLs on the
    # empty-exact-set edge; the audit's contract is 0 and true there
    # (nothing to recall), matching the old count-based shape.
    n_exact = F.coalesce(F.sum("_e"), F.lit(0))
    return j.agg(
        n_exact.cast("bigint").alias("n_exact_pairs"),
        (
            F.count(F.when(F.col("_l").isNotNull() & F.col("_e").isNull(), 1)) == 0
        ).alias("precision_ok"),
        (
            F.count(F.when(F.col("_l").isNotNull() & F.col("_e").isNotNull(), 1)) * 5
            >= n_exact
        ).alias("recall_ok"),
    )


@register(
    "ann_ivf_topk",
    _SQL_EXACT_KTH,
    doc="IVF ANN top-k (deterministic coarse codebook, corpus "
    "partitioned by nearest cell, queries probe 4/16 cells, exact "
    "re-rank) as a recall-bound audit vs the exact top-10: per query "
    "the exact k-th similarity (hash-verified) plus recall_ok (total "
    "hits ≥ 25/100; measured 44-45). n_probe=n_centroids degrades to "
    "brute force (test invariant tests/test_similarity.py); raw "
    "top-k remains operators/similarity.ivf_topk.",
    tags=("similarity",),
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    return _ann_recall_audit(
        S.ivf_topk(emb, q, k=10, n_centroids=16, n_probe=4),
        S.cosine_topk(emb, q, k=10),
        floor_hits=25,
    )


# ---------------------------------------------------------------------------
# Relational breadth: set operations + grouping sets (SURVEY §2.7 —
# absent from the reference, free from Spark; exercised so the SQL
# surface is demonstrably complete)
# ---------------------------------------------------------------------------


@register(
    "cube_revenue",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    doc="CUBE grouping sets over the pricing dimensions — one pass, "
    "partial-agg per grouping set (Expand + hash agg).",
    tags=("relational",),
)
def cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "customers_retained",
    """
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
    INTERSECT
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
    """,
    doc="INTERSECT (set semantics — dedups both sides): customers "
    "ordering in both years.",
    tags=("relational",),
)
def customers_retained(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    y95 = o.where(F.year("o_orderdate") == 1995).select("o_custkey")
    y96 = o.where(F.year("o_orderdate") == 1996).select("o_custkey")
    return y95.intersect(y96)


@register(
    "customers_churned",
    """
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
    EXCEPT
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
    """,
    doc="EXCEPT: customers who ordered in 1995 but not 1996 — the "
    "left-anti shape the incremental sync uses, as a set op.",
    tags=("relational",),
)
def customers_churned(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    y95 = o.where(F.year("o_orderdate") == 1995).select("o_custkey")
    y96 = o.where(F.year("o_orderdate") == 1996).select("o_custkey")
    return y95.subtract(y96)


# ---------------------------------------------------------------------------
# As-of + range joins (north-star extensions; operators/asof.py).
# DuckDB's native ASOF JOIN is the oracle for the point-in-time join.
# ---------------------------------------------------------------------------


@register(
    "asof_join_events",
    """
    SELECT c.event_id, c.user_id,
           e.event_id AS asof_event_id,
           CASE WHEN e.event_id IS NOT NULL
                THEN (epoch_us(c.ts) - epoch_us(e.ts)) // 1000000 END
             AS staleness_sec
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
      ON c.user_id = e.user_id AND epoch_us(c.ts) >= epoch_us(e.ts)
    """,
    doc="Point-in-time join: each click gets the most recent "
    "at-or-before error of the same user (operators/asof.py — union "
    "+ one keyed window, not a range join; oracle is DuckDB's native "
    "ASOF JOIN).",
    tags=("join", "events", "bench"),
)
def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts_us"
    )
    errors = ev.where(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts_us"
    )
    j = A.asof_join(
        clicks, errors, on=["user_id"], ts_col="ts_us", payload_cols=["event_id"]
    )
    return j.select(
        "event_id",
        "user_id",
        F.col("asof_event_id"),
        F.floor((F.col("ts_us") - F.col("asof_ts")) / F.lit(1000000))
        .cast("long")
        .alias("staleness_sec"),
    )


@register(
    "range_join_events",
    """
    WITH err AS (
      SELECT event_id AS error_id, user_id,
             epoch_us(ts) AS start_us, epoch_us(ts) + 21600000000 AS end_us
      FROM events WHERE event_type = 'error'
    ),
    clk AS (
      SELECT user_id, epoch_us(ts) AS ts_us, value
      FROM events WHERE event_type = 'click'
    )
    SELECT e.error_id, e.user_id,
           count(*) AS n_clicks,
           round(sum(c.value), 2) AS click_value
    FROM err e JOIN clk c
      ON c.user_id = e.user_id AND c.ts_us BETWEEN e.start_us AND e.end_us
    GROUP BY e.error_id, e.user_id
    """,
    doc="Interval join: clicks within 6 h after each error, "
    "per user (operators/asof.range_join — clicks binned at 6 h, each "
    "error window replicated to the 2 bins it covers, an equi-join "
    "on (user, bin) before the exact BETWEEN, never "
    "|events|x|intervals| per key).",
    tags=("join", "events"),
)
def range_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    err = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        "user_id",
        F.col("ts_us").alias("start_us"),
        (F.col("ts_us") + F.lit(21_600_000_000)).alias("end_us"),
    )
    clk = ev.where(F.col("event_type") == "click").select("user_id", "ts_us", "value")
    j = A.range_join(
        clk, err, ["user_id"], [("ts_us", "start_us", "end_us", 21_600_000_000)]
    )
    return j.groupBy("error_id", "user_id").agg(
        F.count(F.lit(1)).alias("n_clicks"),
        F.round(F.sum("value"), 2).alias("click_value"),
    )


# ---------------------------------------------------------------------------
# Relational breadth II: pivot, per-group top-k, rolling windows,
# ntile, multi-distinct aggregates, exact percentiles, edit distance.
# None exist in the reference (SURVEY §2.4/§2.6 note their absence);
# they round out the SQL surface a reference user would expect from a
# general engine, each with a DuckDB oracle.
# ---------------------------------------------------------------------------

_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


@register(
    "pivot_priority_revenue",
    """
    SELECT year(o_orderdate)::INT AS o_year,
           round(sum(o_totalprice) FILTER (WHERE o_orderpriority = '1-URGENT'), 2)        AS urgent,
           round(sum(o_totalprice) FILTER (WHERE o_orderpriority = '2-HIGH'), 2)          AS high,
           round(sum(o_totalprice) FILTER (WHERE o_orderpriority = '3-MEDIUM'), 2)        AS medium,
           round(sum(o_totalprice) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED'), 2) AS not_specified,
           round(sum(o_totalprice) FILTER (WHERE o_orderpriority = '5-LOW'), 2)           AS low
    FROM orders
    GROUP BY 1
    """,
    doc="Pivot (long→wide) on order priority. Values are passed "
    "EXPLICITLY to .pivot() — omitting them costs an extra collect "
    "job to discover distinct keys, a silent scale bug at 100 TB. "
    "Compiles to a single hash aggregate (no extra shuffle vs the "
    "conditional-agg formulation the oracle uses).",
    tags=("relational",),
)
def pivot_priority_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    wide = (
        o.groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .pivot("o_orderpriority", _PRIORITIES)
        .agg(F.round(F.sum("o_totalprice"), 2))
    )
    names = ["urgent", "high", "medium", "not_specified", "low"]
    return wide.select(
        "o_year", *[F.col(f"`{p}`").alias(n) for p, n in zip(_PRIORITIES, names)]
    )


@register(
    "top_parts_per_supplier",
    """
    SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice
    FROM (
      SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
             row_number() OVER (
               PARTITION BY l_suppkey
               ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber,
                        l_partkey) AS rn
      FROM lineitem
    ) WHERE rn <= 3
    """,
    doc="Per-group top-k (row_number window, total-order tiebreak). "
    "One shuffle on the group key; rank filter is evaluated before "
    "any wide materialization — at 100 TB prefer a partial top-k "
    "(groupBy + min_by/max_by or an agg of a bounded heap) when k is "
    "small and groups are huge; here groups are ~600 rows so the "
    "window is the right plan.",
    tags=("relational", "window"),
)
def top_parts_per_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    # (orderkey, linenumber) is NOT unique in the synthetic data —
    # l_partkey completes the total order (same hazard as the
    # triangle query's co-order edges)
    w = Window.partitionBy("l_suppkey").orderBy(
        F.col("l_extendedprice").desc(), "l_orderkey", "l_linenumber", "l_partkey"
    )
    return (
        li.select(
            "l_suppkey", "l_orderkey", "l_linenumber", "l_extendedprice", "l_partkey"
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .drop("rn", "l_partkey")
    )


@register(
    "rolling_customer_spend",
    """
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER w, 2) AS spend_3,
           round(avg(o_totalprice) OVER w, 6) AS avg_3
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    """,
    doc="Rolling 3-order window per customer (ROWS BETWEEN frame). "
    "Frame order is total (date + key tiebreak) so the floating sum "
    "is bit-deterministic on both engines. One shuffle on o_custkey.",
    tags=("relational", "window"),
)
def rolling_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, 0)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("spend_3"),
        F.round(F.avg("o_totalprice").over(w), 6).alias("avg_3"),
    )


@register(
    "acctbal_quartiles",
    """
    SELECT c_mktsegment, quartile, count(*) AS n,
           round(min(c_acctbal), 2) AS lo, round(max(c_acctbal), 2) AS hi
    FROM (
      SELECT c_mktsegment, c_acctbal,
             ntile(4) OVER (PARTITION BY c_mktsegment
                            ORDER BY c_acctbal, c_custkey) AS quartile
      FROM customer
    )
    GROUP BY c_mktsegment, quartile
    """,
    doc="ntile(4) bucketing per market segment + per-bucket stats. "
    "Total order (acctbal + custkey) pins tie assignment so both "
    "engines bucket identically.",
    tags=("relational", "window"),
)
def acctbal_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return (
        c.select("c_mktsegment", "c_acctbal", F.ntile(4).over(w).alias("quartile"))
        .groupBy("c_mktsegment", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("c_acctbal"), 2).alias("lo"),
            F.round(F.max("c_acctbal"), 2).alias("hi"),
        )
    )


@register(
    "multi_distinct_order_stats",
    """
    SELECT o_orderstatus,
           count(DISTINCT o_custkey)             AS n_customers,
           count(DISTINCT year(o_orderdate))     AS n_years,
           round(sum(o_totalprice), 2)           AS revenue,
           count(*)                              AS n_orders
    FROM orders
    GROUP BY o_orderstatus
    """,
    doc="Multiple COUNT(DISTINCT) in one aggregate — Catalyst plans "
    "this via Expand (one row per distinct-column set) + two-phase "
    "agg, keeping a single shuffle instead of self-joining per "
    "distinct column.",
    tags=("relational",),
)
def multi_distinct_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.count_distinct("o_custkey").alias("n_customers"),
        F.count_distinct(F.year("o_orderdate")).alias("n_years"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@register(
    "quantity_quartiles",
    """
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.25), 6) AS q25,
           round(quantile_cont(l_quantity, 0.50), 6) AS q50,
           round(quantile_cont(l_quantity, 0.75), 6) AS q75
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Exact percentiles (percentile_cont semantics: linear "
    "interpolation; Spark `percentile` == DuckDB `quantile_cont`). "
    "Exact percentile sorts per group — at 100 TB swap in "
    "approx_percentile (t-digest, mergeable, one pass) and accept "
    "the documented error bound.",
    tags=("relational",),
)
def quantity_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        *[
            F.round(F.percentile("l_quantity", F.lit(p)), 6).alias(n)
            for p, n in [(0.25, "q25"), (0.50, "q50"), (0.75, "q75")]
        ]
    )


@register(
    "nation_name_distance",
    """
    SELECT a.n_name AS name_a, b.n_name AS name_b,
           levenshtein(a.n_name, b.n_name) AS dist
    FROM nation a JOIN nation b ON a.n_nationkey < b.n_nationkey
    WHERE levenshtein(a.n_name, b.n_name) <= 1
    """,
    doc="Edit-distance pairing (levenshtein is JVM-built-in — no "
    "UDF). All-pairs is fine on a 25-row dim; at scale the same "
    "predicate runs AFTER an LSH/length-bucket prefilter "
    "(operators/dedup.py) so the cross product never materializes.",
    tags=("relational", "text"),
)
def nation_name_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _t(spark, sf_dir, "nation")
    a = n.select(F.col("n_nationkey").alias("key_a"), F.col("n_name").alias("name_a"))
    b = n.select(F.col("n_nationkey").alias("key_b"), F.col("n_name").alias("name_b"))
    dist = F.levenshtein("name_a", "name_b")
    return (
        a.join(F.broadcast(b), F.col("key_a") < F.col("key_b"))
        .where(dist <= 1)
        .select("name_a", "name_b", dist.alias("dist"))
    )


# ---------------------------------------------------------------------------
# Relational breadth, round 2 — grouping sets, ordered string-agg,
# lead/lag gaps, rank distributions, profiling histograms, conditional
# aggregates, scalar subqueries, UNION ALL, array HOFs, approx aggs.
# ---------------------------------------------------------------------------


@register(
    "grouping_sets_revenue",
    """
    SELECT GROUPING(o_orderstatus)::INT   AS g_status,
           GROUPING(o_orderpriority)::INT AS g_priority,
           o_orderstatus, o_orderpriority,
           round(sum(o_totalprice), 2) AS revenue,
           count(*)                    AS n_orders
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
    """,
    doc="GROUPING SETS beyond rollup/cube (SURVEY §2.4 extension): "
    "three explicit grouping levels in ONE shuffle (Spark Expand + "
    "single hash-agg, not three scans + union). grouping() flags "
    "disambiguate real NULL keys from subtotal rows.",
    tags=("relational",),
)
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupingSets(
            [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_priority"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .select(
            "g_status", "g_priority", "o_orderstatus", "o_orderpriority",
            "revenue", "n_orders",
        )
    )


@register(
    "order_priorities_csv",
    """
    SELECT o_orderstatus,
           string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority)
             AS priorities_csv,
           count(DISTINCT o_orderpriority)::INT AS n_priorities
    FROM orders
    GROUP BY o_orderstatus
    """,
    doc="Ordered string aggregation (listagg pattern). Spark has no "
    "ordered string_agg, so the engine convention applies: "
    "collect_set → array_sort → array_join, which is deterministic "
    "under any partitioning (SURVEY §4 ordered-collect convention).",
    tags=("relational",),
)
def order_priorities_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    prios = F.array_sort(F.collect_set("o_orderpriority"))
    return o.groupBy("o_orderstatus").agg(
        F.array_join(prios, ",").alias("priorities_csv"),
        F.size(prios).alias("n_priorities"),
    )


@register(
    "order_gap_days",
    """
    WITH gaps AS (
      SELECT o_custkey,
             date_diff('day',
                       lag(o_orderdate) OVER (PARTITION BY o_custkey
                                              ORDER BY o_orderdate, o_orderkey),
                       o_orderdate) AS gap
      FROM orders
    )
    SELECT o_custkey,
           count(*)::INT              AS n_orders,
           ((sum(gap) * 1000000) // count(gap))::BIGINT AS avg_gap_micro,
           max(gap)::INT              AS max_gap_days
    FROM gaps GROUP BY o_custkey HAVING count(gap) >= 1
    """,
    doc="Inter-event gap analysis via lag() (W1-family ordered "
    "window, SURVEY §2.3): one shuffle on the partition key serves "
    "both the window and the downstream agg (no re-shuffle — same "
    "key). Tie-broken ordering keeps it deterministic. The mean gap "
    "is exact integer micro-days (sum·1e6 // n, the multimodal "
    "convention): integer sums over a power-of-two group size land "
    "round(x,6) on half-way ties that engines break differently.",
    tags=("relational", "window"),
)
def order_gap_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = o.select(
        "o_custkey",
        F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w)).alias("gap"),
    )
    return (
        gaps.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_orders"),
            F.expr("(sum(gap) * 1000000L) div count(gap)").alias("avg_gap_micro"),
            F.max("gap").cast("int").alias("max_gap_days"),
            F.count("gap").alias("_n_gaps"),
        )
        .where(F.col("_n_gaps") >= 1)
        .drop("_n_gaps")
    )


@register(
    "top_percentile_customers",
    """
    SELECT n_name, c_custkey, c_acctbal,
           floor(pr * 1000000.0 + 0.5) / 1000000.0 AS pct_rank,
           floor(cd * 1000000.0 + 0.5) / 1000000.0 AS cume_d
    FROM (
      SELECT n_name, c_custkey, c_acctbal,
             percent_rank() OVER (PARTITION BY n_name ORDER BY c_acctbal) AS pr,
             cume_dist()    OVER (PARTITION BY n_name ORDER BY c_acctbal) AS cd
      FROM customer JOIN nation ON c_nationkey = n_nationkey
    ) WHERE pr >= 0.95
    """,
    doc="Rank-distribution windows (percent_rank / cume_dist): top-5% "
    "account balances per nation. Broadcast dim join, then one "
    "window shuffle on the nation key; value ties share a rank so "
    "the result is partitioning-independent.",
    tags=("relational", "window"),
)
def top_percentile_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    w = Window.partitionBy("n_name").orderBy("c_acctbal")
    return (
        c.join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            "n_name", "c_custkey", "c_acctbal",
            F.percent_rank().over(w).alias("pr"),
            F.cume_dist().over(w).alias("cd"),
        )
        .where(F.col("pr") >= 0.95)
        .select(
            "n_name", "c_custkey", "c_acctbal",
            _round6(F.col("pr")).alias("pct_rank"),
            _round6(F.col("cd")).alias("cume_d"),
        )
    )


@register(
    "totalprice_histogram",
    """
    SELECT least(floor(o_totalprice / 50000), 9)::INT AS bucket,
           count(*)                 AS n_orders,
           round(min(o_totalprice), 2) AS min_price,
           round(max(o_totalprice), 2) AS max_price,
           round(sum(o_totalprice), 2) AS sum_price
    FROM orders GROUP BY 1
    """,
    doc="Fixed-width histogram profiling (data-quality primitive for "
    "the training-data pipeline): pure column arithmetic bucket key, "
    "single map-side-combined agg — a one-pass profile at any scale.",
    tags=("relational",),
)
def totalprice_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    bucket = F.least(F.floor(F.col("o_totalprice") / 50000), F.lit(9)).cast("int")
    return o.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


@register(
    "conditional_order_stats",
    """
    SELECT year(o_orderdate)::INT AS o_year,
           count(*)                                            AS n_total,
           count(*) FILTER (WHERE o_orderstatus = 'O')         AS n_open,
           count(*) FILTER (WHERE o_orderpriority LIKE '1-%')  AS n_urgent,
           round(sum(o_totalprice) FILTER (WHERE o_orderstatus = 'F'), 2)
                                                               AS revenue_finished,
           round(avg(CASE WHEN o_orderstatus = 'O'
                          THEN o_totalprice END), 6)           AS avg_open_price
    FROM orders GROUP BY 1
    """,
    doc="Conditional aggregation (count_if / FILTER clause semantics) "
    "— many predicates in ONE scan+agg instead of N filtered scans. "
    "count_if and when() both fold into the same partial agg.",
    tags=("relational",),
)
def conditional_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    is_f = F.col("o_orderstatus") == "F"
    is_o = F.col("o_orderstatus") == "O"
    return o.groupBy(F.year("o_orderdate").cast("int").alias("o_year")).agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count_if(is_o).alias("n_open"),
        F.count_if(F.col("o_orderpriority").like("1-%")).alias("n_urgent"),
        F.round(F.sum(F.when(is_f, F.col("o_totalprice")).otherwise(0.0)), 2).alias(
            "revenue_finished"
        ),
        F.round(F.avg(F.when(is_o, F.col("o_totalprice"))), 6).alias("avg_open_price"),
    )


@register(
    "brands_above_avg_retail",
    """
    SELECT p_brand,
           count(*)                     AS n_parts,
           round(avg(p_retailprice), 6) AS avg_brand_price
    FROM part
    WHERE p_retailprice > 1.04 * (SELECT avg(p_retailprice) FROM part)
    GROUP BY p_brand
    """,
    doc="Uncorrelated scalar subquery: the global average is a "
    "1-row aggregate broadcast into the filter (crossJoin of a "
    "broadcast singleton — no shuffle of the fact side beyond the "
    "final agg). The pattern that replaces driver-side collect() of "
    "a scalar.",
    tags=("relational",),
)
def brands_above_avg_retail(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    avg_price = p.agg(F.avg("p_retailprice").alias("_gavg"))
    return (
        p.crossJoin(F.broadcast(avg_price))
        .where(F.col("p_retailprice") > 1.04 * F.col("_gavg"))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.round(F.avg("p_retailprice"), 6).alias("avg_brand_price"),
        )
    )


@register(
    "nation_parties_union",
    """
    SELECT n_name, party_kind, count(*) AS n
    FROM (
      SELECT c_nationkey AS nk, 'customer' AS party_kind FROM customer
      UNION ALL
      SELECT s_nationkey, 'supplier' FROM supplier
    ) p JOIN nation ON p.nk = n_nationkey
    GROUP BY n_name, party_kind
    """,
    doc="UNION ALL over heterogenous sources (SURVEY §2.7 — the "
    "reference's page-table concatenation generalized): unionByName "
    "is a zero-shuffle plan node; the single agg after the broadcast "
    "dim join is the only exchange.",
    tags=("relational",),
)
def nation_parties_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    parties = c.select(
        F.col("c_nationkey").alias("nk"), F.lit("customer").alias("party_kind")
    ).unionByName(
        s.select(F.col("s_nationkey").alias("nk"), F.lit("supplier").alias("party_kind"))
    )
    return (
        parties.join(F.broadcast(n), F.col("nk") == F.col("n_nationkey"))
        .groupBy("n_name", "party_kind")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "embedding_array_stats",
    """
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
               WHERE vec_id < 200)
    SELECT vec_id,
           len(e)::INT                                    AS dim,
           round(sqrt(list_dot_product(e, e)), 4)         AS l2_norm,
           round(list_sum(e[1:8]) / 8.0, 6)               AS mean_first8,
           round(list_max(e), 6)                          AS max_val,
           round(list_min(e), 6)                          AS min_val,
           len(list_filter(e, x -> x > 0))::INT           AS n_positive
    FROM v
    """,
    doc="Array higher-order-function kitchen sink over the embedding "
    "column: aggregate/slice/filter/min/max stay inside codegen (no "
    "Python), the access pattern every vector operator in "
    "operators/similarity.py builds on.",
    tags=("similarity", "relational"),
)
def embedding_array_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 200)
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    sumsq = F.aggregate(e, F.lit(0.0), lambda a, x: a + x * x)
    first8 = F.aggregate(F.slice(e, 1, 8), F.lit(0.0), lambda a, x: a + x)
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(F.sqrt(sumsq), 4).alias("l2_norm"),
        F.round(first8 / 8.0, 6).alias("mean_first8"),
        F.round(F.array_max(e), 6).alias("max_val"),
        F.round(F.array_min(e), 6).alias("min_val"),
        F.size(F.filter(e, lambda x: x > 0)).alias("n_positive"),
    )


@register(
    "approx_user_stats",
    """
    SELECT event_type, count(*)::BIGINT AS n_events,
           true AS hll_ok, true AS q50_ok, true AS q90_ok, true AS q99_ok
    FROM events GROUP BY event_type
    """,
    doc="Sketch aggregates for 100 TB profiling as an error-bound "
    "audit: approx_count_distinct (HyperLogLog++, mergeable, O(1) "
    "memory) must land within 2% of the exact distinct count "
    "(measured ≤0.7%), and each percentile_approx quantile must lie "
    "inside the exact ±0.05-quantile bracket. n_events is "
    "hash-verified vs DuckDB; the sketch checks flip their verdict "
    "columns on regression. Sketch values themselves are "
    "implementation-defined, hence verified by bound not by value "
    "(tests/test_plans.py asserts the same bounds).",
    tags=("relational",),
)
def approx_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.01).alias("_a"),
        F.countDistinct("user_id").alias("_e"),
        F.percentile_approx("value", [0.5, 0.9, 0.99], 10000).alias("_aq"),
        F.expr(
            "percentile(value, array(0.45,0.55, 0.85,0.95, 0.985,0.995))"
        ).alias("_eq"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return agg.select(
        "event_type",
        "n_events",
        (F.abs(F.col("_a") - F.col("_e")) <= F.col("_e") * 0.02).alias("hll_ok"),
        (
            (F.element_at("_eq", 1) <= F.element_at("_aq", 1))
            & (F.element_at("_aq", 1) <= F.element_at("_eq", 2))
        ).alias("q50_ok"),
        (
            (F.element_at("_eq", 3) <= F.element_at("_aq", 2))
            & (F.element_at("_aq", 2) <= F.element_at("_eq", 4))
        ).alias("q90_ok"),
        (
            (F.element_at("_eq", 5) <= F.element_at("_aq", 3))
            & (F.element_at("_aq", 3) <= F.element_at("_eq", 6))
        ).alias("q99_ok"),
    )


@register(
    "chunk_documents",
    """
    WITH idx AS (
      SELECT doc_id, text,
             unnest(generate_series(0, greatest((length(text) - 1) // 150, 0))) AS i
      FROM documents
    )
    SELECT doc_id, i::INT AS chunk_idx,
           substring(text, 1 + i * 150, 200) AS chunk,
           length(substring(text, 1 + i * 150, 200))::INT AS chunk_len
    FROM idx
    """,
    doc="Sliding-window chunking for LLM shard prep (extension): "
    "200-char windows, 150-char stride, sequence+transform+posexplode "
    "— one codegen'd generate per doc, no Python, no shuffle.",
    tags=("text", "bench"),
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.chunk_text(_t(spark, sf_dir, "documents"))


@register(
    "pii_scrub_stats",
    f"""
    WITH aug AS (
      SELECT doc_id,
             text || ' Contact user' || doc_id::VARCHAR ||
             '@example.com or 0917-555-' ||
             lpad((doc_id % 10000)::VARCHAR, 4, '0') || '.' AS text
      FROM documents
    ),
    red AS (
      SELECT doc_id, text,
             regexp_replace(
               regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}',
                 '<EMAIL>', 'g'),
               '\\d{{4}}-\\d{{3}}-\\d{{4}}', '<PHONE>', 'g') AS redacted
      FROM aug
    )
    SELECT doc_id,
           len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}'))::INT AS n_emails,
           len(regexp_extract_all(text, '\\d{{4}}-\\d{{3}}-\\d{{4}}'))::INT AS n_phones,
           length(redacted)::INT AS redacted_len,
           ('0x' || substring(md5(redacted), 1, 15))::BIGINT AS redacted_fp
    FROM red
    """,
    doc="PII scrubbing (extension): deterministic synthetic email+phone "
    "appended per doc, then regex redaction to typed tags; counts + "
    "md5 fingerprint of the redacted text prove byte-exact parity "
    "with the oracle. Single projection — corpus-scale scrubbing is "
    "one pass.",
    tags=("text",),
)
def pii_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" Contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 0917-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit("."),
        ).alias("text"),
    )
    return T.pii_stats(aug)


@register(
    "forecast_revenue_filter",
    """
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
           count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1995-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    doc="TPC-H Q6 shape: pure filter+agg with every predicate pushed "
    "to the parquet scan (range on shipdate, between on discount, "
    "bound on quantity) — the canonical 'scan only what you need' "
    "query; at 100 TB this is I/O-bound and prunes both row groups "
    "and columns.",
    tags=("relational", "bench"),
)
def forecast_revenue_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1994-01-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1995-01-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "late_shipment_priorities",
    """
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey
        AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
    )
    GROUP BY o_orderpriority
    """,
    doc="TPC-H Q4 shape: correlated EXISTS as a LEFT SEMI join with a "
    "non-equi residual (shipdate > orderdate + 60d). The equi key "
    "(orderkey) carries the join; the interval predicate is the "
    "residual filter — one shuffle pair, no row explosion from "
    "multi-match orders.",
    tags=("relational",),
)
def late_shipment_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    late = o.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n_orders"))


@register(
    "customer_order_profile",
    """
    SELECT c_custkey,
           count(o_orderkey)::INT             AS n_orders,
           round(coalesce(sum(o_totalprice), 0.0), 2) AS total_spend
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
    doc="LEFT OUTER join with zero-extension (customers with no "
    "orders keep a 0-count row): count(col) skips the null-extended "
    "side, coalesce pins the sum. The outer-join complement to the "
    "anti-join (customers_no_orders) and semi-join queries.",
    tags=("relational",),
)
def customer_order_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").cast("int").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias(
                "total_spend"
            ),
        )
    )


@register(
    "shipping_priority_topk",
    """
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d')                 AS orderdate
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1997-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1997-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    doc="TPC-H Q3 shape: dim-filter semi-reduction (customer segment) "
    "→ fact-fact join → hash agg → global top-k. The customer side is "
    "broadcast after its filter; TakeOrderedAndProject replaces a full "
    "sort. Ordered by the ROUNDED revenue + orderkey tiebreak so the "
    "limit frontier is engine-invariant.",
    tags=("relational",),
)
def shipping_priority_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1997-03-15 00:00:00").cast("timestamp_ntz")
    )
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1997-03-15 00:00:00").cast("timestamp_ntz")
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@register(
    "nation_volume_trade",
    """
    SELECT n1.n_name                                         AS supp_nation,
           n2.n_name                                         AS cust_nation,
           year(l_shipdate)::INT                             AS l_year,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM supplier
    JOIN lineitem  ON s_suppkey = l_suppkey
    JOIN orders    ON o_orderkey = l_orderkey
    JOIN customer  ON c_custkey = o_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    GROUP BY supp_nation, cust_nation, l_year
    """,
    doc="TPC-H Q7 shape: bidirectional nation-pair trade volume. Two "
    "aliased scans of the same dim (nation) broadcast onto the fact "
    "spine; the OR-of-pairs predicate is evaluated post-join but the "
    "per-side IN('NATION_1','NATION_2') implied filters are pushed "
    "into each broadcast so the spine shrinks before the shuffle agg.",
    tags=("relational",),
)
def nation_volume_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    pair = ["NATION_1", "NATION_2"]
    n1 = (
        _t(spark, sf_dir, "nation")
        .where(F.col("n_name").isin(pair))
        .select(F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation"))
    )
    n2 = (
        _t(spark, sf_dir, "nation")
        .where(F.col("n_name").isin(pair))
        .select(F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation"))
    )
    s = _t(spark, sf_dir, "supplier").join(
        F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey")
    )
    c = _t(spark, sf_dir, "customer").join(
        F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey")
    )
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    return (
        li.join(F.broadcast(s.select("s_suppkey", "supp_nation")), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c.select("c_custkey", "cust_nation"), F.col("c_custkey") == F.col("o_custkey"))
        .where(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@register(
    "returned_item_revenue",
    """
    SELECT c_custkey, c_name,
           round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2)::DOUBLE
             AS revenue,
           n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    doc="TPC-H Q10 shape: returned-item revenue ranking. Quarter "
    "window pushed to the orders scan, returnflag to lineitem; "
    "customer+nation broadcast; top-20 on the rounded measure with a "
    "key tiebreak (deterministic limit frontier). The per-line product "
    "is fixed to DECIMAL(18,4) before summing: decimal addition is "
    "exact and associative, so partial-agg order (which differs "
    "between engines and across cluster sizes) cannot move the sum "
    "across a 2dp rounding boundary.",
    tags=("relational",),
)
def returned_item_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-04-01 00:00:00").cast("timestamp_ntz"))
    )
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,4)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@register(
    "promo_revenue_share",
    """
    SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_share_pct,
           count(*)                                            AS n_lines
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-02-01 00:00:00'
    """,
    doc="TPC-H Q14 shape: conditional-share ratio over a broadcast "
    "dim join. Month predicate pushed to the lineitem scan; part is "
    "broadcast; both sums fold into ONE hash aggregate (no second "
    "pass for the denominator).",
    tags=("relational",),
)
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-02-01 00:00:00").cast("timestamp_ntz"))
    )
    p = _t(spark, sf_dir, "part")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", disc).otherwise(F.lit(0.0)))
                / F.sum(disc),
                4,
            ).alias("promo_share_pct"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "brand_quantity_revenue",
    """
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*)                                          AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 21)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
           AND l_quantity BETWEEN 10 AND 30)
       OR (p_brand = 'Brand#3'  AND p_size BETWEEN 1 AND 35
           AND l_quantity BETWEEN 20 AND 40)
    """,
    doc="TPC-H Q19 shape: disjunction of conjunctive brand/size/"
    "quantity clauses across BOTH join sides. Catalyst derives the "
    "per-side implied filters — p_brand IN (...) AND p_size<=35 onto "
    "the part scan, l_quantity BETWEEN 1 AND 40 onto lineitem — so "
    "the OR does not defeat pushdown; residual evaluated post-join.",
    tags=("relational",),
)
def brand_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
    clause = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 21)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 40)
        )
    )
    return j.where(clause).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "idle_rich_customers",
    """
    SELECT c_nationkey::INT          AS nationkey,
           count(*)                  AS n_custs,
           round(sum(c_acctbal), 2)  AS total_bal
    FROM customer
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
    GROUP BY c_nationkey
    """,
    doc="TPC-H Q22 shape: scalar-subquery threshold (global positive-"
    "balance average, broadcast as a 1-row cross join) + NOT EXISTS "
    "as a LEFT ANTI join against recent orders (dormant since 1999), "
    "then per-nation rollup. The date predicate pushes to the orders "
    "scan BEFORE the anti join; the probe reads only o_custkey + "
    "o_orderdate (column-pruned).",
    tags=("relational",),
)
def idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    avg_bal = c.where(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("_avg_bal")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("_avg_bal"))
        .join(
            o.where(
                F.col("o_orderdate")
                >= F.lit("1999-01-01 00:00:00").cast("timestamp_ntz")
            ),
            F.col("o_custkey") == F.col("c_custkey"),
            "left_anti",
        )
        .groupBy(F.col("c_nationkey").cast("int").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
    )


@register(
    "supplier_nation_yearly_revenue",
    """
    SELECT n_name,
           year(o_orderdate)::INT                            AS o_year,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN part     ON p_partkey = l_partkey
    WHERE p_type = 'ECONOMY'
    GROUP BY n_name, o_year
    """,
    doc="TPC-H Q9 shape (sans partsupp): per-nation, per-year revenue "
    "for one part class. Part filter applied before its broadcast so "
    "the 5-way join reduces the spine early; single shuffle at the "
    "final (nation, year) agg.",
    tags=("relational",),
)
def supplier_nation_yearly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    p = _t(spark, sf_dir, "part").where(F.col("p_type") == "ECONOMY")
    return (
        li.join(F.broadcast(p.select("p_partkey")), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@register(
    "weekly_order_stats",
    """
    SELECT strftime(date_trunc('week', o_orderdate), '%Y-%m-%d') AS week_start,
           count(*)                                              AS n_orders,
           round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2)::DOUBLE AS total,
           floor((sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100)::DOUBLE
                 / count(*))::BIGINT AS avg_price_cents
    FROM orders
    GROUP BY week_start
    """,
    doc="Calendar rollup on ISO week boundaries (date_trunc 'week' is "
    "Monday-based in both engines). The truncation is a pure column "
    "expression, so the agg is one shuffle keyed by ~350 weeks — at "
    "100 TB the same plan holds with partial map-side aggregation "
    "collapsing each scan partition to <=n_weeks rows. Money flows "
    "through DECIMAL (exact, order-independent sums); the average is "
    "reported in integer cents via floor, which no engine's float "
    "rounding mode can flip (round(x, n) CAN: a quotient landing on "
    "the half-way digit splits Java shortest-repr vs binary rounding).",
    tags=("relational",),
)
def weekly_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.date_format(F.date_trunc("week", F.col("o_orderdate")), "yyyy-MM-dd").alias(
                "week_start"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("total"),
            F.floor(
                (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100).cast(
                    "double"
                )
                / F.count(F.lit(1))
            ).alias("avg_price_cents"),
        )
    )


@register(
    "train_val_test_split",
    """
    SELECT doc_id,
           CASE WHEN nib < 12 THEN 'train'
                WHEN nib < 14 THEN 'val'
                ELSE 'test' END AS split
    FROM (
      SELECT doc_id,
             instr('0123456789abcdef', substr(md5(doc_id::VARCHAR), 1, 1)) - 1 AS nib
      FROM documents
    )
    """,
    doc="Deterministic 75/12.5/12.5 train/val/test split by hashing "
    "the stable document key (md5 first nibble) — the standard "
    "leakage-free dataset split for LLM training corpora. Pure column "
    "expression: no shuffle, no sampling nondeterminism, identical "
    "assignment on any cluster size or row order; new documents land "
    "in a stable split forever (no reshuffling on incremental loads).",
    tags=("llm", "text"),
)
def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    nib = F.expr(
        "instr('0123456789abcdef', substring(md5(cast(doc_id as string)), 1, 1)) - 1"
    )
    return d.select(
        "doc_id",
        F.when(nib < 12, "train").when(nib < 14, "val").otherwise("test").alias("split"),
    )


@register(
    "referential_integrity_audit",
    """
    SELECT 'lineitem->orders' AS fk, count(*) AS n_orphans FROM lineitem
      WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
    UNION ALL
    SELECT 'lineitem->part', count(*) FROM lineitem
      WHERE NOT EXISTS (SELECT 1 FROM part WHERE p_partkey = l_partkey)
    UNION ALL
    SELECT 'lineitem->supplier', count(*) FROM lineitem
      WHERE NOT EXISTS (SELECT 1 FROM supplier WHERE s_suppkey = l_suppkey)
    UNION ALL
    SELECT 'orders->customer', count(*) FROM orders
      WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey)
    UNION ALL
    SELECT 'customer->nation', count(*) FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM nation WHERE n_nationkey = c_nationkey)
    UNION ALL
    SELECT 'supplier->nation', count(*) FROM supplier
      WHERE NOT EXISTS (SELECT 1 FROM nation WHERE n_nationkey = s_nationkey)
    UNION ALL
    SELECT 'nation->region', count(*) FROM nation
      WHERE NOT EXISTS (SELECT 1 FROM region WHERE r_regionkey = n_regionkey)
    """,
    doc="Data-quality audit: orphan-count per FK edge of the star "
    "schema (SURVEY J2 — the reference delegates referential "
    "integrity to Postgres FK constraints; a lake engine must check "
    "it explicitly). Each edge is a LEFT ANTI join probing only the "
    "parent key column; dim-sided probes broadcast, the two fact-"
    "sided ones shuffle once each.",
    tags=("relational", "quality"),
)
def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    def orphans(label, child, child_key, parent, parent_key):
        ch = _t(spark, sf_dir, child).select(child_key)
        pa = _t(spark, sf_dir, parent).select(parent_key)
        small_parent = parent in ("nation", "region", "part", "supplier", "customer")
        pa = F.broadcast(pa) if small_parent else pa
        return (
            ch.join(pa, F.col(child_key) == F.col(parent_key), "left_anti")
            .agg(F.count(F.lit(1)).alias("n_orphans"))
            .select(F.lit(label).alias("fk"), "n_orphans")
        )

    edges = [
        orphans("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        orphans("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
        orphans("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        orphans("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
        orphans("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
        orphans("supplier->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
        orphans("nation->region", "nation", "n_regionkey", "region", "r_regionkey"),
    ]
    out = edges[0]
    for e in edges[1:]:
        out = out.unionByName(e)
    return out


@register(
    "tfidf_top_terms",
    """
    WITH tok AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, count(*) AS tf FROM tok WHERE term <> ''
      GROUP BY doc_id, term
    ),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    n  AS (SELECT count(*) AS n_docs FROM documents),
    ranked AS (
      SELECT tf.doc_id, tf.term, tf.tf, df.df,
             round(tf.tf * ln(n.n_docs::DOUBLE / df.df), 4) AS tfidf,
             row_number() OVER (PARTITION BY tf.doc_id
                                ORDER BY tf.tf DESC, df.df ASC, tf.term ASC) AS rk
      FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf::BIGINT AS tf, df::BIGINT AS df, tfidf
    FROM ranked WHERE rk <= 3
    """,
    doc="TF-IDF top-3 terms per document — the classic corpus "
    "keyword/relevance operator for LLM data curation. Tokenize "
    "(ascii-alnum runs) → per-doc term counts → document frequency → "
    "tf*ln(N/df). Ranking uses the integer (tf DESC, df ASC, term) "
    "order, never the float score, so cross-engine ln() ULP noise "
    "cannot flip the frontier. Two shuffles (doc-term agg, term df "
    "agg joined back); df table broadcast; N is a 1-row cross join — "
    "at 100 TB the df side is the only wide state and it is "
    "vocabulary-sized, not corpus-sized.",
    tags=("llm", "text"),
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), "[^a-z0-9]+")).alias("term"),
    ).where(F.col("term") != "")
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tf"), F.asc("df"), F.asc("term")
    )
    return (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 4
            ),
        )
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("doc_id", "term", "tf", "df", "tfidf")
    )


@register(
    "unpivot_part_measures",
    """
    SELECT p_partkey, 'retailprice' AS measure, p_retailprice AS value FROM part
    UNION ALL
    SELECT p_partkey, 'size', p_size::DOUBLE FROM part
    """,
    doc="UNPIVOT / melt (wide→long reshaping — the inverse of "
    "pivot_priority_revenue): one row per (key, measure). Spark's "
    "native unpivot lowers to Expand (each input row emitted k times "
    "in-place), so there is NO shuffle and NO re-scan per measure — "
    "the UNION ALL oracle formulation would scan the table k times.",
    tags=("relational",),
)
def unpivot_part_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_retailprice").alias("retailprice"),
        F.col("p_size").cast("double").alias("size"),
    )
    return p.unpivot(
        ids=["p_partkey"],
        values=["retailprice", "size"],
        variableColumnName="measure",
        valueColumnName="value",
    )


@register(
    "nation_revenue_share",
    """
    WITH rev AS (
      SELECT n_name,
             sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS r
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      GROUP BY n_name
    )
    SELECT n_name,
           round(r, 2)::DOUBLE AS revenue,
           floor(r::DOUBLE * 1000000 / (sum(r) OVER ())::DOUBLE)::BIGINT
             AS share_ppm
    FROM rev
    """,
    doc="Percent-of-total (ratio_to_report): per-nation revenue and "
    "its share of the global total via an unpartitioned window over "
    "the 25-row aggregate — the window runs on the POST-agg rows, so "
    "the single-partition exchange moves n_nations rows, not the "
    "fact table. Share reported as floor parts-per-million over "
    "decimal-exact sums (engine-invariant; round() on a float ratio "
    "is not).",
    tags=("relational", "window"),
)
def nation_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    rev = (
        li.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            ).alias("r")
        )
    )
    w = Window.partitionBy()
    return rev.select(
        "n_name",
        F.round("r", 2).cast("double").alias("revenue"),
        F.floor(
            F.col("r").cast("double") * 1000000 / F.sum("r").over(w).cast("double")
        ).alias("share_ppm"),
    )


@register(
    "snapshot_diff",
    """
    WITH old AS (SELECT c_custkey, c_acctbal FROM customer),
    new AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 100.0
                  ELSE c_acctbal END AS c_acctbal
      FROM customer WHERE c_custkey % 97 <> 0
      UNION ALL
      SELECT c_custkey + 1000000, c_acctbal + 50.25
      FROM customer WHERE c_custkey % 31 = 0
    )
    SELECT coalesce(old.c_custkey, new.c_custkey) AS c_custkey,
           CASE WHEN old.c_custkey IS NULL THEN 'added'
                WHEN new.c_custkey IS NULL THEN 'removed'
                ELSE 'changed' END AS change_type,
           old.c_acctbal AS old_acctbal,
           new.c_acctbal AS new_acctbal
    FROM old FULL OUTER JOIN new ON old.c_custkey = new.c_custkey
    WHERE old.c_custkey IS NULL OR new.c_custkey IS NULL
       OR old.c_acctbal <> new.c_acctbal
    """,
    doc="Snapshot diff / table-version comparison — the ETL "
    "regression primitive (what changed between yesterday's load and "
    "today's?): FULL OUTER join on the key, classify added/removed/"
    "changed, drop the unchanged majority. One shuffle pair co-"
    "partitions both snapshots; at 100 TB both sides hash-partition "
    "by key and the unchanged rows never leave the join stage. The "
    "'new' snapshot is synthesized deterministically (drops %97, "
    "perturbs %5, adds %31 keys).",
    tags=("relational", "etl"),
)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    old = c.select("c_custkey", "c_acctbal")
    new = (
        c.where(F.col("c_custkey") % 97 != 0)
        .select(
            "c_custkey",
            F.when(F.col("c_custkey") % 5 == 0, F.col("c_acctbal") + 100.0)
            .otherwise(F.col("c_acctbal"))
            .alias("c_acctbal"),
        )
        .unionByName(
            c.where(F.col("c_custkey") % 31 == 0).select(
                (F.col("c_custkey") + 1000000).alias("c_custkey"),
                (F.col("c_acctbal") + 50.25).alias("c_acctbal"),
            )
        )
    )
    o, nw = old.alias("o"), new.alias("nw")
    j = o.join(nw, F.col("o.c_custkey") == F.col("nw.c_custkey"), "full_outer")
    return j.where(
        F.col("o.c_custkey").isNull()
        | F.col("nw.c_custkey").isNull()
        | (F.col("o.c_acctbal") != F.col("nw.c_acctbal"))
    ).select(
        F.coalesce(F.col("o.c_custkey"), F.col("nw.c_custkey")).alias("c_custkey"),
        F.when(F.col("o.c_custkey").isNull(), "added")
        .when(F.col("nw.c_custkey").isNull(), "removed")
        .otherwise("changed")
        .alias("change_type"),
        F.col("o.c_acctbal").alias("old_acctbal"),
        F.col("nw.c_acctbal").alias("new_acctbal"),
    )




@register(
    "scd2_purchase_history",
    """
    SELECT user_id,
           epoch_us(ts)                        AS valid_from_us,
           lead(epoch_us(ts)) OVER (
             PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS valid_to_us,
           CASE WHEN lead(epoch_us(ts)) OVER (
             PARTITION BY user_id ORDER BY epoch_us(ts), event_id) IS NULL
             THEN 1 ELSE 0 END                 AS is_current,
           round(value, 2)                     AS value
    FROM events
    WHERE event_type = 'purchase'
    """,
    doc="SCD Type-2 history derivation: each change event becomes a "
    "validity interval [valid_from, valid_to) with an is_current "
    "flag — the standard dimension-versioning transform an ETL "
    "engine must provide (the reference's upsert sink overwrites; "
    "this keeps history). One window pass (lead over user, time); "
    "type filter pushed to the scan.",
    tags=("window", "etl"),
)
def scd2_purchase_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    valid_to = F.lead("ts_us").over(w)
    return e.select(
        "user_id",
        F.col("ts_us").alias("valid_from_us"),
        valid_to.alias("valid_to_us"),
        F.when(valid_to.isNull(), 1).otherwise(0).alias("is_current"),
        F.round("value", 2).alias("value"),
    )


_SQL_LSH_CANDS = """
    shingled AS (
      SELECT doc_id, unnest({sh}) AS shingle FROM docs2
    ),
    pre AS (
      SELECT doc_id, ('0x' || substr(md5(shingle), 1, 12))::BIGINT AS x FROM shingled
    ),
    hashed AS (
      SELECT doc_id, h::INT AS h,
             ([2557, 21041, 27717, 22863, 845, 29229, 30923, 19617, 21031, 18641, 30861, 30047, 14075, 20097, 17409, 24897][h+1]::BIGINT * x
              + [654583775, 229283573, 1051550459, 794471793, 803550167, 370913197, 1381971571, 2121308585, 996984527, 1343235941, 1511588075, 2103497953, 956612807, 1588911645, 33727075, 88489753][h+1]::BIGINT) % 2305843009213693951 AS hv
      FROM pre CROSS JOIN generate_series(0, 15) AS t(h)
    ),
    sigs AS (
      SELECT doc_id, h, min(hv) AS minhash FROM hashed GROUP BY doc_id, h
    ),
    buckets AS (
      SELECT doc_id, h // 4 AS band,
             md5(string_agg(minhash::VARCHAR, ',' ORDER BY h)) AS bucket
      FROM sigs GROUP BY doc_id, h // 4
    ),
    cands AS (
      SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
      FROM buckets a JOIN buckets b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    )
"""


@register(
    "dedup_clusters",
    f"""
    WITH RECURSIVE docs2 AS ({_SQL_NEAR_DUP_BASE}),
    {_SQL_LSH_CANDS.format(sh=_SQL_SHINGLES.format(t='text'))},
    edges AS (SELECT a, b FROM cands UNION SELECT b, a FROM cands),
    nodes AS (SELECT DISTINCT a AS id FROM edges),
    reach AS (
      SELECT id, id AS x FROM nodes
      UNION
      SELECT r.id, e.b AS x FROM reach r JOIN edges e ON e.a = r.x
    )
    SELECT id AS doc_id, min(x) AS cluster_id,
           CASE WHEN id = min(x) THEN 1 ELSE 0 END AS is_canonical
    FROM reach GROUP BY id
    """,
    doc="Near-dup CLUSTERING: connected components over the MinHash-"
    "LSH candidate pairs (transitive closure — pair output alone "
    "cannot dedup chains a~b~c). Spark side is iterative min-label "
    "propagation (operators/dedup.connected_components: one shuffle "
    "per round, localCheckpoint lineage cuts, converges in diameter "
    "rounds); the oracle is DuckDB's recursive CTE computing the same "
    "components exactly. cluster_id = min doc_id of the component "
    "(the canonical survivor).",
    tags=("dedup",),
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs2 = _docs_with_near_dups(spark, sf_dir)
    pairs = D.minhash_lsh_pairs(docs2)
    comp = D.connected_components(pairs)
    return comp.select(
        F.col("id").alias("doc_id"),
        "cluster_id",
        F.when(F.col("id") == F.col("cluster_id"), 1).otherwise(0).alias(
            "is_canonical"
        ),
    )


@register(
    "dedup_keep_canonical",
    f"""
    WITH RECURSIVE docs2 AS ({_SQL_NEAR_DUP_BASE}),
    {_SQL_LSH_CANDS.format(sh=_SQL_SHINGLES.format(t='text'))},
    edges AS (SELECT a, b FROM cands UNION SELECT b, a FROM cands),
    nodes AS (SELECT DISTINCT a AS id FROM edges),
    reach AS (
      SELECT id, id AS x FROM nodes
      UNION
      SELECT r.id, e.b AS x FROM reach r JOIN edges e ON e.a = r.x
    ),
    clusters AS (SELECT id, min(x) AS cluster_id FROM reach GROUP BY id)
    SELECT d.doc_id, d.n_chars
    FROM (SELECT doc_id, length(text) AS n_chars FROM docs2) d
    LEFT JOIN clusters c ON d.doc_id = c.id
    WHERE c.id IS NULL OR c.cluster_id = d.doc_id
    """,
    doc="End-to-end dedup materialization: the corpus minus every "
    "non-canonical near-dup cluster member (docs untouched by any "
    "pair survive unconditionally). Composition of LSH pairs → "
    "components → LEFT ANTI on losers — the full production dedup "
    "pipeline as one query.",
    tags=("dedup",),
)
def dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs2 = _docs_with_near_dups(spark, sf_dir)
    pairs = D.minhash_lsh_pairs(docs2)
    comp = D.connected_components(pairs)
    losers = comp.where(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias("_loser")
    )
    return (
        docs2.join(
            F.broadcast(losers), docs2.doc_id == F.col("_loser"), "left_anti"
        ).select("doc_id", F.length("text").alias("n_chars"))
    )


@register(
    "ann_ivf_trained_topk",
    _SQL_EXACT_KTH,
    doc="IVF ANN over a TRAINED codebook as a recall-bound audit: 3 "
    "Lloyd iterations of spherical k-means (operators/similarity."
    "kmeans_train — one distributed assign+aggregate pass per "
    "iteration, only k×(dim+2) model rows ever reach the driver), "
    "then the standard IVF probe, intersected with the exact top-10. "
    "Per query: exact k-th similarity (hash-verified) + recall_ok "
    "(total hits ≥ 25/100; measured 52-54 — trained cells beat the "
    "seeded-random codebook at the same n_probe).",
    tags=("similarity",),
)
def ann_ivf_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    cents, _ = S.kmeans_train(emb, k=16, iters=3)
    return _ann_recall_audit(
        S.ivf_topk(emb, q, k=10, n_probe=4, centroids=cents),
        S.cosine_topk(emb, q, k=10),
        floor_hits=25,
    )


@register(
    "peak_concurrency",
    """
    WITH pts AS (
      SELECT o_orderdate AS t, 1 AS delta FROM orders
      UNION ALL
      SELECT o_orderdate + INTERVAL 30 DAY, -1 FROM orders
    ),
    swept AS (SELECT t, sum(delta) AS d FROM pts GROUP BY t),
    run AS (
      SELECT t, sum(d) OVER (ORDER BY t
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS concurrent
      FROM swept
    )
    SELECT max(concurrent)::BIGINT AS peak,
           strftime(min(CASE WHEN concurrent =
             (SELECT max(concurrent) FROM run) THEN t END),
             '%Y-%m-%d') AS first_peak_date
    FROM run
    """,
    doc="Interval sweep-line: max simultaneous open intervals (order "
    "active = [orderdate, orderdate+30d)). Classic +1/-1 delta "
    "encoding → per-instant net → running prefix sum → argmax with "
    "first-instant tiebreak. The running sum windows over the "
    "PRE-AGGREGATED distinct instants (~2.4k rows), not the fact "
    "table — at 100 TB the delta agg stays distributed and only the "
    "instant spine passes through the single-partition prefix scan "
    "(or a two-pass range-partitioned prefix sum if the spine itself "
    "is huge). All-integer arithmetic: engine-invariant.",
    tags=("relational", "window"),
)
def peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    pts = o.select(F.col("o_orderdate").alias("t"), F.lit(1).alias("delta")).unionByName(
        o.select(
            (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("t"),
            F.lit(-1).alias("delta"),
        )
    )
    swept = pts.groupBy("t").agg(F.sum("delta").alias("d"))
    w = (
        Window.partitionBy()
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = swept.select("t", F.sum("d").over(w).alias("concurrent"))
    wall = Window.partitionBy()
    run2 = run.withColumn("_mx", F.max("concurrent").over(wall))
    return run2.agg(
        F.max("concurrent").alias("peak"),
        F.date_format(
            F.min(F.when(F.col("concurrent") == F.col("_mx"), F.col("t"))),
            "yyyy-MM-dd",
        ).alias("first_peak_date"),
    )


_SQL_SUPPLIER_RANK = """
    WITH srev AS (
      SELECT s_nationkey AS nk, s_name,
             CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                                 AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      GROUP BY s_nationkey, s_name
    ),
    ranked AS (
      SELECT n_name, s_name, revenue,
             CAST(rank() OVER (PARTITION BY n_name
                               ORDER BY revenue DESC, s_name) AS INT) AS rnk
      FROM srev JOIN nation ON nk = n_nationkey
    )
    SELECT n_name, s_name, revenue, rnk FROM ranked WHERE rnk <= 3
"""


@register(
    "sql_supplier_rank",
    _SQL_SUPPLIER_RANK,
    doc="The engine's SQL front end: this query is executed VERBATIM "
    "by both engines — spark.sql() over the registered catalog views "
    "(sources/catalog.register_views) and DuckDB as its own oracle. "
    "Proves the full declarative surface (CTEs, joins, window rank, "
    "decimal casts) parses and plans identically to the DataFrame "
    "API: Catalyst lowers it to the same broadcast-join + two-phase "
    "agg physical plan as the equivalent DataFrame program.",
    tags=("relational", "sql"),
)
def sql_supplier_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbm_nca_ph_etl_spark.sources.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SQL_SUPPLIER_RANK)


@register(
    "label_embedding_centroid",
    """
    SELECT label,
           g.pos - 1 AS dim,
           floor((sum(CAST(embedding[g.pos] AS DECIMAL(18,9))) * 1000000)::DOUBLE
                 / count(*))::BIGINT AS centroid_e6
    FROM embeddings CROSS JOIN generate_series(1, 64) AS g(pos)
    GROUP BY label, dim
    """,
    doc="Per-class embedding centroid (the class-prototype vector for "
    "retrieval/classification pipelines): element-wise mean over an "
    "array column via posexplode → (label, dim) hash agg — one "
    "shuffle keyed by n_labels × dim (tiny), partial map-side sums. "
    "Element sums go through DECIMAL(18,9) (exact, order-independent "
    "— float addition across 1000 executors is not) and the mean is "
    "reported floor-scaled ×1e6.",
    tags=("llm", "similarity"),
)
def label_embedding_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("dim", "x"))
        .groupBy("label", "dim")
        .agg(
            F.floor(
                (F.sum(F.col("x").cast("decimal(18,9)")) * 1000000).cast("double")
                / F.count(F.lit(1))
            ).alias("centroid_e6")
        )
    )


@register(
    "hourly_grid_ffill",
    """
    WITH e AS (SELECT user_id, epoch_us(ts) AS t, value FROM events),
    hr AS (
      SELECT user_id, t - t % 3600000000 AS hour_us,
             CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS sum_e6
      FROM e GROUP BY user_id, t - t % 3600000000
    ),
    span AS (
      SELECT user_id, min(hour_us) AS h0, max(hour_us) AS h1 FROM hr GROUP BY user_id
    ),
    grid AS (
      SELECT user_id,
             unnest(generate_series(h0, h1, 3600000000)) AS hour_us
      FROM span
    ),
    joined AS (
      SELECT g.user_id, g.hour_us, hr.sum_e6,
             CASE WHEN hr.sum_e6 IS NULL THEN 0 ELSE 1 END AS observed
      FROM grid g LEFT JOIN hr ON g.user_id = hr.user_id AND g.hour_us = hr.hour_us
    )
    SELECT user_id, hour_us,
           last_value(sum_e6 IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY hour_us
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_sum_e6,
           observed
    FROM joined
    """,
    doc="Time-series resampling: snap events to a dense per-user "
    "hourly grid (sequence + explode — no calendar table needed), "
    "LEFT JOIN the observed hourly aggregates, forward-fill the gaps "
    "(W1 over the grid). The missing piece between raw events and "
    "windowed aggs: rollups only emit hours that HAVE events; "
    "downstream models need the empty hours too. All-integer (µs "
    "epochs, decimal-exact sums scaled 1e6) — engine-invariant. "
    "Scale: grid explode is per-user-bounded, the join and window "
    "share the user_id partitioning — two shuffles total.",
    tags=("window", "events"),
)
def hourly_grid_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    HOUR = 3600000000
    e = _t(spark, sf_dir, "events")
    hr = (
        e.withColumn("hour_us", F.col("ts_us") - F.col("ts_us") % HOUR)
        .groupBy("user_id", "hour_us")
        .agg(
            (F.sum(F.col("value").cast("decimal(18,6)")) * 1000000)
            .cast("bigint")
            .alias("sum_e6")
        )
    )
    grid = (
        hr.groupBy("user_id")
        .agg(F.min("hour_us").alias("h0"), F.max("hour_us").alias("h1"))
        .select(
            "user_id",
            F.explode(F.sequence("h0", "h1", F.lit(HOUR).cast("long"))).alias(
                "hour_us"
            ),
        )
    )
    joined = grid.join(hr, ["user_id", "hour_us"], "left").withColumn(
        "observed", F.when(F.col("sum_e6").isNull(), 0).otherwise(1)
    )
    filled = W.forward_fill(
        joined,
        "sum_e6",
        partition_by=["user_id"],
        order_by=["hour_us"],
        out_col="value_sum_e6",
    )
    return filled.select("user_id", "hour_us", "value_sum_e6", "observed")


@register(
    "repetition_stats",
    """
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS ws
      FROM documents
    ),
    hof AS (
      SELECT doc_id,
             len(ws) AS n_words,
             len(list_distinct(ws)) AS n_distinct_words,
             CASE WHEN len(ws) >= 2
                  THEN len(ws) - 1 - len(list_distinct(
                         list_transform(range(len(ws)-1),
                                        i -> ws[i+1] || ' ' || ws[i+2])))
                  ELSE 0 END AS dup_bigrams
      FROM w
    ),
    tf AS (
      SELECT doc_id, unnest(ws) AS word FROM w
    ),
    counts AS (
      SELECT doc_id, word, count(*) AS c FROM tf GROUP BY doc_id, word
    ),
    top AS (SELECT doc_id, max(c) AS top_word_count FROM counts GROUP BY doc_id)
    SELECT h.doc_id, h.n_words, h.n_distinct_words, h.dup_bigrams,
           coalesce(t.top_word_count, 0) AS top_word_count
    FROM hof h LEFT JOIN top t ON h.doc_id = t.doc_id
    """,
    doc="Gopher/C4-style repetition quality signals per document: "
    "word count, distinct-word count, duplicate-bigram count and the "
    "most-repeated word's frequency — the inputs to the standard "
    "'excessive repetition' corpus filters. Distinct/bigram metrics "
    "are pure array HOFs (narrow, no shuffle, whole-stage codegen); "
    "only the top-word frequency needs the explode → (doc, word) agg "
    "path, joined back broadcast. All-integer outputs.",
    tags=("llm", "text"),
)
def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    ws = F.filter(F.split(F.lower(F.col("text")), "\\s+"), lambda x: x != "")
    n = F.size("ws")
    bigrams = F.zip_with(
        F.slice("ws", 1, n - 1),
        F.slice("ws", 2, n - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    hof = d.select("doc_id", ws.alias("ws")).select(
        "doc_id",
        "ws",
        n.alias("n_words"),
        F.size(F.array_distinct("ws")).alias("n_distinct_words"),
        F.when(n >= 2, n - 1 - F.size(F.array_distinct(bigrams)))
        .otherwise(0)
        .alias("dup_bigrams"),
    )
    top = (
        hof.select("doc_id", F.explode("ws").alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_word_count"))
    )
    return (
        hof.drop("ws")
        .join(F.broadcast(top), "doc_id", "left")
        .select(
            "doc_id",
            "n_words",
            "n_distinct_words",
            "dup_bigrams",
            F.coalesce("top_word_count", F.lit(0)).alias("top_word_count"),
        )
    )


@register(
    "small_quantity_part_revenue",
    """
    SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly,
           count(*)                             AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#23'
      AND l_quantity < (
        SELECT 0.2 * avg(l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = p_partkey
      )
    """,
    doc="TPC-H Q17 shape: correlated scalar-aggregate subquery "
    "(per-part 20%-of-average quantity threshold). Catalyst "
    "decorrelates it into a per-part aggregate joined back onto the "
    "fact — no per-row re-execution of the subquery. The threshold "
    "compare is deterministic cross-engine: quantity sums are exact "
    "small-integer doubles, so avg*0.2 is bit-identical. The "
    "brand filter pushes to the part scan BEFORE its broadcast; the "
    "per-part avg aggregates the unfiltered lineitem (semantics!) "
    "but only (partkey, quantity) columns move.",
    tags=("relational",),
)
def small_quantity_part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#23")
    thresholds = li.groupBy(F.col("l_partkey").alias("_tp")).agg(
        (0.2 * F.avg("l_quantity")).alias("_thresh")
    )
    return (
        li.join(F.broadcast(p.select("p_partkey")), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(thresholds), F.col("l_partkey") == F.col("_tp"))
        .where(F.col("l_quantity") < F.col("_thresh"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "large_quantity_orders",
    """
    SELECT c_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           o_totalprice,
           sum(l_quantity) AS total_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING sum(l_quantity) > 180
    )
    GROUP BY c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
    doc="TPC-H Q18 shape: the IN-subquery with HAVING plans as a "
    "LEFT SEMI join against the pre-aggregated order quantities — "
    "the fact reduces BEFORE the customer join, so the expensive "
    "3-way join only sees qualifying orders. Quantity sums are exact "
    "integer-valued doubles; top-20 orders by (totalprice, orderkey) "
    "is a TakeOrderedAndProject.",
    tags=("relational",),
)
def large_quantity_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_q"))
        .where(F.col("_q") > 180)
        .select("l_orderkey")
    )
    return (
        o.join(big.withColumnRenamed("l_orderkey", "_bk"), F.col("o_orderkey") == F.col("_bk"), "left_semi")
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .select(
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_totalprice",
            "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(20)
    )


@register(
    "audio_frame_energy",
    """
    WITH a AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 1),
    chars AS (
      SELECT doc_id, p.p - 1 AS idx, ord(substr(text, p.p, 1)) AS b
      FROM a, LATERAL unnest(range(1, length(text) + 1)) AS p(p)
    )
    SELECT doc_id AS asset_id,
           (idx // 64)::INT AS frame_idx,
           count(*)::INT AS n_samples,
           sum((b - 128) * (b - 128))::BIGINT AS energy
    FROM chars GROUP BY doc_id, idx // 64
    """,
    doc="Audio leg of the multimodal pattern: 8-bit PCM blobs decoded "
    "zero-copy (numpy frombuffer in Arrow-batched mapInPandas), "
    "windowed into 64-sample frames, per-frame DC-centred energy as "
    "exact int64. The oracle recomputes the same sums from the "
    "generator text char-by-char — a true independent check of the "
    "binary round trip, not of a stubbed decode.",
    tags=("multimodal",),
)
def audio_frame_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbm_nca_ph_etl_spark.operators import multimodal as M2

    return M2.pcm_window_energy(_assets(spark, sf_dir))


@register(
    "local_supplier_revenue",
    """
    SELECT n_name,
           round(sum(CAST(l_extendedprice * (1 - l_discount)
                          AS DECIMAL(18,4))), 2)::DOUBLE AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    """,
    doc="TPC-H Q5 proper — the cyclic join: supplier joins on BOTH "
    "the lineitem FK and c_nationkey = s_nationkey (local-supplier "
    "constraint), closing a cycle customer→orders→lineitem→supplier→"
    "customer. The nation residual rides the broadcast supplier join; "
    "region/nation prune the supplier side before broadcast; year "
    "predicate pushes to the orders scan. Decimal-exact revenue.",
    tags=("relational",),
)
def local_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
    )
    li = _t(spark, sf_dir, "lineitem")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    s = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(s),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,4)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
    )


@register(
    "cohort_retention",
    """
    WITH fo AS (
      SELECT o_custkey,
             min(year(o_orderdate) * 12 + month(o_orderdate)) AS m0
      FROM orders GROUP BY o_custkey
    ),
    act AS (
      SELECT DISTINCT o_custkey,
             year(o_orderdate) * 12 + month(o_orderdate) AS m
      FROM orders
    )
    SELECT CAST(fo.m0 AS INT) AS cohort_month_idx,
           CAST(act.m - fo.m0 AS INT) AS month_offset,
           count(*) AS n_customers
    FROM act JOIN fo ON act.o_custkey = fo.o_custkey
    GROUP BY cohort_month_idx, month_offset
    """,
    doc="Cohort retention matrix — the standard growth-analytics "
    "rollup: customers bucketed by first-order month, counted per "
    "months-since-cohort offset. Month index is the integer "
    "year*12+month (no float months_between). Two aggs share the "
    "custkey partitioning: min-month and distinct-activity both hash "
    "on o_custkey, then one broadcast-joined rollup keyed by the "
    "~80×80 (cohort, offset) matrix.",
    tags=("relational", "window"),
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    midx = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("m")
    fo = o.select("o_custkey", midx).groupBy("o_custkey").agg(F.min("m").alias("m0"))
    act = o.select("o_custkey", midx).distinct()
    return (
        act.join(fo, "o_custkey")
        .groupBy(
            F.col("m0").cast("int").alias("cohort_month_idx"),
            (F.col("m") - F.col("m0")).cast("int").alias("month_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@register(
    "stratified_sample",
    """
    SELECT lang, doc_id
    FROM (
      SELECT lang, doc_id,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(doc_id::VARCHAR), doc_id) AS rk
      FROM documents
    )
    WHERE rk <= 20
    """,
    doc="Deterministic stratified sampling: exactly k docs per "
    "stratum (lang), chosen by ranking on the key's md5 — uniform "
    "like a random reservoir but reproducible on any cluster size, "
    "row order, or rerun (the property corpus pipelines need: the "
    "same sample ships to eval every time). WindowGroupLimit prunes "
    "to k rows per stratum per map task before the single shuffle.",
    tags=("llm", "text"),
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        d.select("lang", "doc_id", F.row_number().over(w).alias("rk"))
        .where(F.col("rk") <= 20)
        .select("lang", "doc_id")
    )


@register(
    "price_trend_by_nation",
    """
    WITH pts AS (
      SELECT c_nationkey AS nk,
             CAST(o_orderdate AS DATE) - DATE '1995-01-01' AS x,
             CAST(o_totalprice AS DECIMAL(18,2)) AS y
      FROM orders JOIN customer ON o_custkey = c_custkey
    ),
    sums AS (
      SELECT nk, count(*) AS n,
             sum(x)::BIGINT AS sx, sum(x * x)::BIGINT AS sxx,
             sum(y) AS sy, sum(x * y) AS sxy
      FROM pts GROUP BY nk
    )
    SELECT CAST(nk AS INT) AS nationkey, n,
           floor(1000000.0 * (n * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
                 / (n * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE))::BIGINT
             AS slope_e6
    FROM sums
    """,
    doc="Per-group OLS trend (regr_slope semantics) made "
    "engine-invariant: the four moment sums accumulate EXACTLY "
    "(integer day offsets; decimal prices), so the closed-form slope "
    "(nΣxy−ΣxΣy)/(nΣxx−ΣxΣx) divides identical doubles on every "
    "engine; reported floor-scaled 1e6. One shuffle (per-nation "
    "moments via map-side partial sums) — the pattern for any "
    "group-wise regression at 100 TB: ship moments, not points.",
    tags=("relational",),
)
def price_trend_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    pts = o.join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey")).select(
        F.col("c_nationkey").alias("nk"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")).alias("x"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("y"),
    )
    sums = pts.groupBy("nk").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n, sx, sxx = F.col("n"), F.col("sx").cast("double"), F.col("sxx").cast("double")
    sy, sxy = F.col("sy").cast("double"), F.col("sxy").cast("double")
    return sums.select(
        F.col("nk").cast("int").alias("nationkey"),
        "n",
        F.floor(1000000.0 * (n * sxy - sx * sy) / (n * sxx - sx * sx)).alias(
            "slope_e6"
        ),
    )


@register(
    "order_count_distribution",
    """
    SELECT c_count, count(*) AS custdist
    FROM (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    )
    GROUP BY c_count
    """,
    doc="TPC-H Q13 shape — customer order-count distribution: an "
    "outer join whose ON clause carries an extra filter (the filter "
    "must ride the join condition, NOT a WHERE — a WHERE would turn "
    "the outer join inner and drop zero-order customers), a per-key "
    "count that must include the zero groups, then a second tiny "
    "rollup keyed by the count itself. Two shuffles: hash(custkey) "
    "for the join+first agg (shared partitioning), then the ~40-key "
    "distribution agg. Reference parity: J1 anti-semantics + A4.",
    tags=("relational",),
)
def order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "top_revenue_supplier",
    """
    WITH rev AS (
      SELECT l_suppkey,
             sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
               AS rev_d
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, round(rev_d, 2)::DOUBLE AS total_revenue
    FROM supplier JOIN rev ON s_suppkey = l_suppkey
    WHERE rev_d = (SELECT max(rev_d) FROM rev)
    """,
    doc="TPC-H Q15 shape — top supplier by quarterly revenue: an "
    "aggregated 'view' filtered by its own global max (scalar "
    "subquery). The max comparison runs on the EXACT decimal sum, "
    "never the rounded double, so ties and near-ties are engine-"
    "invariant. Spark takes the max via an empty-frame window over "
    "the post-agg frame (~10k rows), avoiding a second scan of "
    "lineitem that the naive self-referencing subquery would cost.",
    tags=("relational",),
)
def top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    rev = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp_ntz"))
        )
        .groupBy("l_suppkey")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            ).alias("rev_d")
        )
    )
    top = rev.withColumn("mx", F.max("rev_d").over(Window.partitionBy())).where(
        F.col("rev_d") == F.col("mx")
    )
    return (
        F.broadcast(top)
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.round("rev_d", 2).cast("double").alias("total_revenue"),
        )
    )


@register(
    "sole_supplier_orders",
    """
    WITH per_order AS (
      SELECT l_orderkey, count(*) AS n_lines,
             min(l_suppkey) AS lo, max(l_suppkey) AS hi
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT s_name, count(*) AS n_orders
    FROM per_order JOIN supplier ON lo = s_suppkey
    WHERE n_lines >= 2 AND lo = hi
    GROUP BY s_name
    ORDER BY n_orders DESC, s_name
    LIMIT 10
    """,
    doc="TPC-H Q21 shape — EXISTS(same supplier) AND NOT EXISTS"
    "(other supplier) over lineitem, decorrelated: per-order min/max "
    "suppkey equality detects 'sole supplier' in ONE hash-agg pass "
    "(one shuffle), where the textbook count(DISTINCT l_suppkey) "
    "formulation would cost a second expand shuffle and the literal "
    "double-correlated-subquery plan would self-join lineitem twice. "
    "Supplier names ride a broadcast; top-k via TakeOrderedAndProject.",
    tags=("relational",),
)
def sole_supplier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    per_order = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.min("l_suppkey").alias("lo"),
        F.max("l_suppkey").alias("hi"),
    )
    return (
        per_order.where((F.col("n_lines") >= 2) & (F.col("lo") == F.col("hi")))
        .join(F.broadcast(s), F.col("lo") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.col("n_orders").desc(), "s_name")
        .limit(10)
    )


@register(
    "nation_market_share",
    """
    SELECT o_year,
           floor(1000000.0 * nat_rev / total_rev)::BIGINT AS share_ppm
    FROM (
      SELECT year(o_orderdate)::INT AS o_year,
             sum(CASE WHEN n_name = 'NATION_7'
                      THEN CAST(l_extendedprice * (1 - l_discount)
                                AS DECIMAL(18,4))
                      ELSE CAST(0 AS DECIMAL(18,4)) END)   AS nat_rev,
             sum(CAST(l_extendedprice * (1 - l_discount)
                      AS DECIMAL(18,4)))                   AS total_rev
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      GROUP BY o_year
    )
    """,
    doc="TPC-H Q8 shape — market share: one nation's fraction of "
    "total supplier revenue per order-year, computed as a single "
    "conditional aggregate (numerator = CASE inside sum) rather than "
    "two passes + a join. Decimal-exact sums; the ratio divides "
    "identical doubles on both engines, reported floor-ppm. One "
    "shuffle on the ~7 year keys; supplier→nation rides a broadcast.",
    tags=("relational",),
)
def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    zero = F.lit(0).cast("decimal(18,4)")
    sn = s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")).select(
        "s_suppkey", "n_name"
    )
    agg = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(sn), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            F.sum(F.when(F.col("n_name") == "NATION_7", vol).otherwise(zero)).alias(
                "nat_rev"
            ),
            F.sum(vol).alias("total_rev"),
        )
    )
    return agg.select(
        "o_year",
        F.floor(
            1000000.0 * F.col("nat_rev").cast("double") / F.col("total_rev").cast("double")
        ).alias("share_ppm"),
    )


@register(
    "median_quantity_by_flag",
    """
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
           round(quantile_cont(l_quantity, 0.9), 6) AS p90_qty,
           round(quantile_cont(l_extendedprice, 0.5), 6) AS median_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Exact interpolated percentiles (median / p90) per group — "
    "the sort-based aggregate Spark's `percentile` implements "
    "(quantile_cont in DuckDB): both engines interpolate linearly "
    "between the two adjacent order statistics, so results match to "
    "rounding. Exact medians need the full per-group value multiset "
    "(unlike sum/avg there is no lossless partial) — at 100 TB the "
    "play is approx_percentile with a bounded sketch; this exact "
    "variant is the oracle-checkable ground truth the sketch is "
    "judged against.",
    tags=("relational", "window"),
)
def median_quantity_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_quantity", F.lit(0.5)), 6).alias("median_qty"),
        F.round(F.percentile("l_quantity", F.lit(0.9)), 6).alias("p90_qty"),
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 6).alias("median_price"),
    )


@register(
    "monthly_revenue_growth",
    """
    WITH m AS (
      SELECT year(o_orderdate) * 12 + month(o_orderdate) AS month_idx,
             sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY month_idx
    )
    SELECT CAST(month_idx AS INT) AS month_idx,
           round(rev, 2)::DOUBLE AS revenue,
           floor(1000000.0
                 * (CAST(rev AS DOUBLE)
                    - CAST(lag(rev) OVER (ORDER BY month_idx) AS DOUBLE))
                 / CAST(lag(rev) OVER (ORDER BY month_idx) AS DOUBLE)
                )::BIGINT AS growth_ppm
    FROM m
    """,
    doc="Month-over-month growth: time-bucketed decimal-exact revenue "
    "series, then lag() over the global month order. The unpartitioned "
    "window runs AFTER aggregation, on ~80 rows — a single-partition "
    "exchange of a tiny frame, which is the correct 100 TB shape "
    "(never window the raw fact table globally). First month's growth "
    "is NULL by construction on both engines. The ppm expression is "
    "cast-tree-ALIGNED: both engines cast the exact decimal sums to "
    "double first, then evaluate the identical "
    "floor(1e6*(rev-prev)/prev) double expression — so a cancellation "
    "near an integer floor boundary lands on the same side in both "
    "(verified at sf0.01 and sf0.1).",
    tags=("relational", "window"),
)
def monthly_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    m = o.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("month_idx")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
    w = Window.partitionBy().orderBy("month_idx")
    prev = F.lag("rev").over(w)
    return m.select(
        F.col("month_idx").cast("int").alias("month_idx"),
        F.round("rev", 2).cast("double").alias("revenue"),
        F.floor(
            1000000.0
            * (F.col("rev").cast("double") - prev.cast("double"))
            / prev.cast("double")
        ).alias("growth_ppm"),
    )


@register(
    "column_profile",
    """
    SELECT 'o_orderkey' AS column_name,
           count(o_orderkey) AS n_nonnull,
           count(DISTINCT o_orderkey) AS n_distinct,
           CAST(min(o_orderkey) AS VARCHAR) AS min_value,
           CAST(max(o_orderkey) AS VARCHAR) AS max_value
    FROM orders
    UNION ALL
    SELECT 'o_custkey', count(o_custkey), count(DISTINCT o_custkey),
           CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', count(o_orderstatus),
           count(DISTINCT o_orderstatus),
           min(o_orderstatus), max(o_orderstatus)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', count(o_totalprice),
           count(DISTINCT o_totalprice),
           CAST(CAST(min(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR),
           CAST(CAST(max(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderdate', count(o_orderdate),
           count(DISTINCT o_orderdate),
           strftime(min(o_orderdate), '%Y-%m-%d %H:%M:%S'),
           strftime(max(o_orderdate), '%Y-%m-%d %H:%M:%S')
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', count(o_orderpriority),
           count(DISTINCT o_orderpriority),
           min(o_orderpriority), max(o_orderpriority)
    FROM orders
    """,
    doc="Whole-table data-quality profile (ANALYZE-style): per column "
    "non-null count, exact distinct count, min and max — the audit a "
    "training-data pipeline runs before trusting a new drop. ONE scan "
    "computes all 24 aggregates (the multi-distinct Expand multiplies "
    "rows 6x map-side but keeps a single shuffle), then `stack` "
    "unpivots 1 row x 24 cols into the 6-row profile with no extra "
    "exchange — vs the oracle's naive 6-scan UNION ALL. min/max "
    "normalize through type-stable string forms (decimal cents for "
    "doubles, second-precision strftime for timestamps) so engine "
    "float-repr and timestamp-precision differences can't leak in. "
    "At 100 TB swap count(DISTINCT) for approx_count_distinct and "
    "this same plan profiles any table in one pass.",
    tags=("relational", "profiling"),
)
def column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    dec_s = lambda c: F.col(c).cast("decimal(18,2)").cast("string")
    ts_s = lambda c: F.date_format(F.col(c), "yyyy-MM-dd HH:mm:ss")
    raw_s = lambda c: F.col(c).cast("string")
    specs = [
        ("o_orderkey", raw_s),
        ("o_custkey", raw_s),
        ("o_orderstatus", lambda c: F.col(c)),
        ("o_totalprice", dec_s),
        ("o_orderdate", ts_s),
        ("o_orderpriority", lambda c: F.col(c)),
    ]
    # min/max aggregate the raw column; stringification happens after
    # the agg so the conversion runs once on 1 row, not per input row
    wide = o.agg(
        *[
            a
            for c, _ in specs
            for a in (
                F.count(F.col(c)).alias(f"nn_{c}"),
                F.count_distinct(F.col(c)).alias(f"nd_{c}"),
                F.min(F.col(c)).alias(f"min_{c}"),
                F.max(F.col(c)).alias(f"max_{c}"),
            )
        ]
    )
    converted = wide.select(
        "*",
        *[conv(f"min_{c}").alias(f"mins_{c}") for c, conv in specs],
        *[conv(f"max_{c}").alias(f"maxs_{c}") for c, conv in specs],
    )
    stack_args = ", ".join(
        f"'{c}', nn_{c}, nd_{c}, mins_{c}, maxs_{c}" for c, _ in specs
    )
    return converted.select(
        F.expr(
            f"stack({len(specs)}, {stack_args})"
            " AS (column_name, n_nonnull, n_distinct, min_value, max_value)"
        )
    )


@register(
    "event_transitions",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    )
    SELECT prev_type, event_type AS curr_type, count(*) AS n
    FROM seq
    WHERE prev_type IS NOT NULL
    GROUP BY prev_type, curr_type
    """,
    doc="Event-type transition matrix (first-order Markov counts): "
    "lag() over each user's time-ordered stream pairs every event "
    "with its predecessor, then a global rollup counts each "
    "(prev → curr) edge. Total order inside a user ((ts, event_id) "
    "tiebreak) makes the pairing deterministic. One shuffle on "
    "user_id for the window; the transition rollup reduces to "
    "|types|² rows so its exchange is negligible. The sessionize/"
    "funnel family's missing piece: funnels test ONE path, this "
    "materializes the whole graph.",
    tags=("events", "window"),
)
def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.select(
            "user_id",
            "event_type",
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("curr_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "order_value_zscore",
    """
    WITH m AS (
      SELECT o_custkey,
             count(*) AS n,
             sum(CAST(o_totalprice AS DECIMAL(18,2)))  AS s1,
             sum(CAST(o_totalprice AS DECIMAL(18,2))
                 * CAST(o_totalprice AS DECIMAL(18,2))) AS s2
      FROM orders GROUP BY o_custkey HAVING count(*) >= 5
    )
    SELECT o_orderkey, o.o_custkey,
           floor(1000000.0 * (o_totalprice - CAST(s1 AS DOUBLE) / n)
                 / sqrt(CAST(s2 AS DOUBLE) / n
                        - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)))
             ::BIGINT AS z_ppm
    FROM orders o JOIN m ON o.o_custkey = m.o_custkey
    WHERE CAST(s2 AS DOUBLE) / n
          - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) > 1e-9
      AND abs(o_totalprice - CAST(s1 AS DOUBLE) / n)
          > 1.5 * sqrt(CAST(s2 AS DOUBLE) / n
                       - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
    """,
    doc="Per-group z-score outlier flagging (population moments): "
    "customers with ≥5 orders get mean/variance from EXACT decimal "
    "sums (s1, s2 — both lossless partial aggregates, so the 100 TB "
    "map-side combine is free), then each order's |x−μ| > 1.5σ "
    "outliers surface with a floor-ppm z-score. Decimal→double "
    "conversion is deterministic (nearest double), and both engines "
    "evaluate the identical expression tree after it, so no partial-sum "
    "ordering can flip a ULP. One shuffle on o_custkey shared by the "
    "agg and the join-back; the moments frame is ~customer-count "
    "rows. The normalization primitive feature pipelines standardize "
    "with.",
    tags=("relational", "profiling"),
)
def order_value_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    p = F.col("o_totalprice").cast("decimal(18,2)")
    m = (
        o.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(p).alias("s1"),
            F.sum(p * p).alias("s2"),
        )
        .where(F.col("n") >= 5)
    )
    mean = F.col("s1").cast("double") / F.col("n")
    var = F.col("s2").cast("double") / F.col("n") - mean * mean
    return (
        o.join(m, "o_custkey")
        .where(
            (var > 1e-9)
            & (F.abs(F.col("o_totalprice") - mean) > 1.5 * F.sqrt(var))
        )
        .select(
            "o_orderkey",
            "o_custkey",
            F.floor(
                1000000.0 * (F.col("o_totalprice") - mean) / F.sqrt(var)
            ).alias("z_ppm"),
        )
    )


@register(
    "trailing_spend_30d",
    """
    SELECT o_custkey, o_orderkey,
           round(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w, 2)::DOUBLE
             AS spend_30d,
           count(*) OVER w AS n_orders_30d
    FROM (SELECT *, datediff('day', DATE '1970-01-01',
                             CAST(o_orderdate AS DATE)) AS day_idx
          FROM orders)
    WINDOW w AS (PARTITION BY o_custkey ORDER BY day_idx
                 RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)
    """,
    doc="Trailing 30-day spend per customer — a RANGE frame over a "
    "day index, the time-based sibling of rolling_customer_spend's "
    "ROWS frame: the window widens to however many orders landed in "
    "the last 30 days (same-day orders are frame peers in both "
    "engines, so no tiebreak ambiguity — peers enter the frame "
    "together by definition of RANGE). Decimal-exact running sum. "
    "One shuffle on o_custkey; per-customer sort on the ~10-order "
    "frame is trivial. At 100 TB this is the feature-engineering "
    "workhorse (trailing activity windows) and the frame bound "
    "pushes into a single pass — no self-join explosion.",
    tags=("relational", "window"),
)
def trailing_spend_30d(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").withColumn(
        "day_idx",
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")),
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("day_idx")
        .rangeBetween(-29, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w), 2)
        .cast("double")
        .alias("spend_30d"),
        F.count(F.lit(1)).over(w).alias("n_orders_30d"),
    )


# ---------------------------------------------------------------------------
# Round 3 — training-data curation pack: decontamination, shard packing,
# boilerplate filtering, deterministic weighted sampling
# ---------------------------------------------------------------------------

_TOKEN_SPLIT = "[^a-z0-9]+"


def _token_array(col: str = "text"):
    """Lower-cased ascii-alnum token array (same tokenizer as
    tfidf_top_terms; DuckDB twin: list_filter(string_split_regex(
    lower(text), '[^a-z0-9]+'), x -> x <> ''))."""
    return F.filter(
        F.split(F.lower(F.col(col)), _TOKEN_SPLIT), lambda x: x != ""
    )


def _word_ngrams(ws, n: int):
    """All order-n word n-grams of token array ``ws`` as space-joined
    strings; empty array when the doc has fewer than n tokens."""
    return F.when(
        F.size(ws) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(ws) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(ws, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


@register(
    "benchmark_decontamination",
    """
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS ws
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             unnest(CASE WHEN len(ws) >= 8
                         THEN list_transform(range(len(ws) - 7),
                                             i -> array_to_string(ws[i+1:i+8], ' '))
                         ELSE CAST([] AS VARCHAR[]) END) AS gram
      FROM w
    ),
    ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 10 = 0),
    tr AS (SELECT doc_id, gram FROM g WHERE doc_id % 10 <> 0)
    SELECT tr.doc_id, count(DISTINCT tr.gram) AS n_hit
    FROM tr JOIN ev USING (gram)
    GROUP BY tr.doc_id
    """,
    doc="Benchmark decontamination — the standard pre-training hygiene "
    "pass: flag training documents that share any 8-word-gram with a "
    "held-out eval set (here the doc_id%10==0 slice stands in for the "
    "benchmark corpus). Train docs explode to positional 8-grams; the "
    "eval side reduces to a DISTINCT gram set that is benchmark-sized "
    "(MMLU/GSM8K ~10^6 grams), so it BROADCASTS — the 100 TB train "
    "side never shuffles on gram, each task probes a hash set. Output "
    "is per-doc distinct-hit counts; a removal pass is a left_anti on "
    "the hit doc_ids. 8 is the n-gram order used by GPT-3/PaLM-style "
    "decontamination.",
    tags=("llm", "text"),
)
def benchmark_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    g = d.select(
        "doc_id", F.explode(_word_ngrams(_token_array(), 8)).alias("gram")
    )
    ev = g.where(F.col("doc_id") % 10 == 0).select("gram").distinct()
    tr = g.where(F.col("doc_id") % 10 != 0)
    return (
        tr.join(F.broadcast(ev), "gram")
        .groupBy("doc_id")
        .agg(F.count_distinct(F.col("gram")).alias("n_hit"))
    )


@register(
    "shard_packing",
    """
    WITH t AS (
      SELECT doc_id,
             len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                             x -> x <> '')) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens,
             sum(n_tokens) OVER (ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW)
               - n_tokens AS cum_before
      FROM t
    )
    SELECT CAST(cum_before // 4096 AS BIGINT) AS shard_id,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS shard_tokens,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
    FROM c GROUP BY shard_id
    """,
    doc="Token-budget shard packing — assign documents to contiguous "
    "~4096-token output shards by exclusive prefix sum of token "
    "counts: shard_id = floor(tokens_before / budget). The oracle's "
    "global window is the semantic spec; the engine runs "
    "operators/windows.prefix_sum — range-partition + partition-local "
    "running sums + a metadata-sized offset frame — so NO single task "
    "ever sees the whole table (the naive global window funnels 100 TB "
    "through one reducer; this shape is why the operator exists). "
    "Deterministic: doc_id is a total order. Per-shard stats verify "
    "every shard lands within one doc of the budget.",
    tags=("llm", "text", "scale"),
)
def shard_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    t = d.select("doc_id", F.size(_token_array()).cast("long").alias("n_tokens"))
    c = W.prefix_sum(t, "n_tokens", ["doc_id"], out_col="cum_before")
    return (
        c.withColumn("shard_id", F.expr("cum_before div 4096"))
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("shard_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


@register(
    "boilerplate_ngram_stats",
    """
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS ws
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             unnest(CASE WHEN len(ws) >= 5
                         THEN list_transform(range(len(ws) - 4),
                                             i -> array_to_string(ws[i+1:i+5], ' '))
                         ELSE CAST([] AS VARCHAR[]) END) AS gram
      FROM w
    ),
    top AS (
      SELECT gram FROM (
        SELECT gram, count(*) AS c FROM g GROUP BY gram
        ORDER BY c DESC, gram ASC LIMIT 100)
    ),
    per AS (
      SELECT g.doc_id, count(*) AS n_grams, count(t.gram) AS n_boiler
      FROM g LEFT JOIN top t USING (gram)
      GROUP BY g.doc_id
    )
    SELECT doc_id, n_grams, n_boiler,
           CAST((1000000 * n_boiler) // n_grams AS BIGINT) AS boiler_ppm
    FROM per
    """,
    doc="Inter-document boilerplate detection (C4/RefinedWeb-style): "
    "corpus-global top-100 5-grams by frequency (nav bars, cookie "
    "banners, license headers), then each document's fraction of "
    "positions covered by them. Complements repetition_stats (INTRA-"
    "doc repetition) with the CROSS-doc signal. Gram counts partial-"
    "aggregate map-side; the top-100 frontier uses the integer "
    "(count DESC, gram ASC) total order — ties at the boundary "
    "resolve identically on both engines — and broadcasts back as a "
    "vocabulary-independent 100-row set. boiler_ppm is exact integer "
    "division: no float ratio can drift. At 100 TB swap the exact "
    "top-k for a count-min/heavy-hitters sketch; the join shape stays.",
    tags=("llm", "text"),
)
def boilerplate_ngram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    g = d.select(
        "doc_id", F.explode(_word_ngrams(_token_array(), 5)).alias("gram")
    )
    cnt = g.groupBy("gram").agg(F.count(F.lit(1)).alias("c"))
    wtop = Window.orderBy(F.desc("c"), F.asc("gram"))
    top = (
        cnt.withColumn("rk", F.row_number().over(wtop))
        .where(F.col("rk") <= 100)
        .select(F.col("gram").alias("top_gram"))
    )
    per = (
        g.join(F.broadcast(top), g["gram"] == top["top_gram"], "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("top_gram").alias("n_boiler"),
        )
    )
    return per.select(
        "doc_id",
        "n_grams",
        "n_boiler",
        F.expr("(1000000 * n_boiler) div n_grams").alias("boiler_ppm"),
    )


def _knuth_u32(key: Column) -> Column:
    """Knuth multiplicative-hash uniform draw ``(key·2654435761) mod
    2^32`` computed in DECIMAL(38,0), so the multiply cannot overflow
    int64 (it would at key ≳ 3.5e9 — ANSI Spark throws, non-ANSI
    wraps while DuckDB errors, silently diverging the engines exactly
    at the advertised 100 TB scale). DECIMAL(38,0) holds the full
    ~10^29 product exactly; the DuckDB oracles mirror it with
    HUGEINT. Callers must keep downstream comparisons in decimal too
    (cast the other side)."""
    return (key.cast("decimal(38,0)") * F.lit(2654435761)) % F.lit(4294967296)


@register(
    "weighted_doc_sample",
    """
    WITH m AS (SELECT max(n_chars) AS mx FROM documents)
    SELECT doc_id, n_chars FROM documents, m
    WHERE ((doc_id::HUGEINT * 2654435761) % 4294967296) * mx * 2
          < n_chars::HUGEINT * 4294967296
    """,
    doc="Deterministic length-weighted Bernoulli sampling: keep each "
    "document with probability 0.5 * n_chars / max(n_chars) — longer "
    "docs (more tokens) are proportionally more likely to survive, "
    "the standard importance-weighting when token budget, not doc "
    "count, is the constraint. The uniform draw is a Knuth "
    "multiplicative hash of the stable key ((doc_id * 2654435761) "
    "mod 2^32), NOT rand(): the decision is a pure column predicate, "
    "identical on every engine, cluster size, row order and rerun — "
    "resampling a 100 TB corpus is a metadata-only filter, and "
    "incremental loads keep prior keep/drop decisions. All "
    "arithmetic runs in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) so "
    "neither the hash multiply (overflows int64 at doc_id ≳ 3.5e9 — "
    "ANSI mode would throw exactly at advertised scale) nor the "
    "weight comparison can overflow, and there is no float rounding "
    "at the keep/drop boundary; max(n_chars) is a 1-row broadcast.",
    tags=("llm", "sampling"),
)
def weighted_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    m = d.agg(F.max("n_chars").alias("mx"))
    return (
        d.crossJoin(F.broadcast(m))
        .where(
            _knuth_u32(F.col("doc_id")) * F.col("mx") * 2
            < F.col("n_chars").cast("decimal(38,0)") * 4294967296
        )
        .select("doc_id", "n_chars")
    )


@register(
    "lang_balanced_sample",
    """
    WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
    m AS (SELECT min(cnt) AS mn FROM c)
    SELECT d.doc_id, d.lang
    FROM documents d JOIN c USING (lang), m
    WHERE ((d.doc_id::HUGEINT * 2654435761) % 4294967296) * c.cnt
          < m.mn::HUGEINT * 4294967296
    """,
    doc="Corpus mixture rebalancing — downsample every language to "
    "the size of the rarest one (rate = min_count/count per lang), "
    "the data-mixing step that keeps a multilingual pre-training mix "
    "from being swamped by the head language. Per-doc keep decisions "
    "reuse the weighted_doc_sample multiplicative-hash uniform: pure "
    "integer column predicate, identical across engines/cluster "
    "sizes/reruns, and a new document's fate never changes as the "
    "corpus grows a batch (rates drift only as counts do). The "
    "per-lang count table is lang-cardinality-sized → broadcast; the "
    "100 TB scan never shuffles. Generalizes to arbitrary target "
    "mixtures by replacing mn with a per-lang target column.",
    tags=("llm", "sampling"),
)
def lang_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    c = d.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt"))
    m = c.agg(F.min("cnt").alias("mn"))
    return (
        d.join(F.broadcast(c), "lang")
        .crossJoin(F.broadcast(m))
        .where(
            _knuth_u32(F.col("doc_id")) * F.col("cnt")
            < F.col("mn").cast("decimal(38,0)") * 4294967296
        )
        .select("doc_id", "lang")
    )


@register(
    "salted_hot_key_rollup",
    """
    WITH dim AS (
      SELECT event_type, count(*) AS type_count FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           count(*)::BIGINT AS n_events,
           CAST(sum(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
           max(d.type_count)::BIGINT AS type_count
    FROM events e JOIN dim d USING (event_type)
    GROUP BY e.event_type
    """,
    doc="Hot-key join + rollup through the salting operators "
    "(operators/skew.py): the fact side joins its low-cardinality "
    "skewed key against a derived dim via salted_join (small side "
    "replicated salt_n times, hot key scattered over salt_n "
    "reducers — the broadcast-ineligible hot-build case AQE cannot "
    "fix), then salted_agg two-phases the skewed group key. Salting "
    "is semantics-neutral, so the oracle is the plain join+group — "
    "a hash match proves the scatter/gather loses and duplicates "
    "nothing. Sums run in DECIMAL so the salt-dependent addition "
    "order cannot flip a double bit (salting must not change "
    "results, bit-for-bit). Plan shape pinned by test_skew.",
    tags=("relational", "scale"),
)
def salted_hot_key_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbm_nca_ph_etl_spark.operators.skew import salted_agg, salted_join

    ev = _t(spark, sf_dir, "events").select("event_type", "event_id", "value")
    dim = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("type_count"))
    joined = salted_join(
        ev, dim, on=["event_type"], salt_n=8, salt_src="event_id"
    ).withColumn("value_dec", F.col("value").cast("decimal(18,6)"))
    out = salted_agg(
        joined,
        ["event_type"],
        {
            "n_events": "count(*)",
            "total_value_dec": "sum(value_dec)",
            "type_count": "max(type_count)",
        },
        salt_n=8,
    )
    return out.select(
        "event_type",
        "n_events",
        F.col("total_value_dec").cast("double").alias("total_value"),
        "type_count",
    )


@register(
    "corpus_curation_e2e",
    f"""
    WITH q AS (
      SELECT doc_id, lang, text,
             len({_SQL_TOKENS.format(t='text')}) AS n_tokens
      FROM documents
      WHERE len({_SQL_TOKENS.format(t='text')}) >= 5
        AND (CASE WHEN length(regexp_replace(text, '\\s', '', 'g')) > 0
                  THEN length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g'))::DOUBLE
                       / length(regexp_replace(text, '\\s', '', 'g'))::DOUBLE
                  ELSE 0.0 END) <= 0.3
    ),
    deduped AS (
      SELECT q.* FROM q
      JOIN (SELECT md5(text) AS h, min(doc_id) AS doc_id
            FROM q GROUP BY md5(text)) keep
        ON q.doc_id = keep.doc_id
    ),
    c AS (SELECT lang, count(*) AS cnt FROM deduped GROUP BY lang),
    m AS (SELECT min(cnt) AS mn FROM c),
    balanced AS (
      SELECT d.* FROM deduped d JOIN c USING (lang), m
      WHERE ((d.doc_id::HUGEINT * 2654435761) % 4294967296) * c.cnt
            < m.mn::HUGEINT * 4294967296
    )
    SELECT lang, count(*)::BIGINT AS n_docs,
           sum(n_tokens)::BIGINT AS total_tokens,
           min(doc_id) AS first_doc
    FROM balanced GROUP BY lang
    """,
    doc="End-to-end corpus curation, the composed LLM-data pipeline "
    "as ONE declarative plan: quality gate (token floor + punctuation "
    "cap) → exact content dedup (md5 groupBy(min) + semi-join) → "
    "language rebalance (deterministic Knuth-hash downsample to the "
    "rarest language) → per-language audit rollup. Every stage is "
    "individually oracle-proven (text_stats, dedup_exact, "
    "lang_balanced_sample); this entry proves the COMPOSITION hashes "
    "out. The quality gate fuses into the dedup scan; the dedup "
    "groupBy+semi pair moves combined (digest,id) pairs plus the "
    "surviving rows; the lang-count/min sides are "
    "lang-cardinality-sized broadcasts — no exchange ever moves the "
    "raw corpus more than the dedup itself needs (budget pinned in "
    "tests/test_plans.py). The deduped stream feeds both the "
    "lang-count side and the rebalance filter; AQE reuses the "
    "exchange where plans align, and a production 100 TB run would "
    "materialize the survivor set to the lake between stages anyway "
    "(each stage is independently restartable — the same reason the "
    "reference checkpoints to S3 between Lambdas).",
    tags=("llm", "dedup", "sampling"),
)
def corpus_curation_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    t = F.col("text")
    q = d.select(
        "doc_id", "lang", "text", T.token_count(t).alias("n_tokens")
    ).where((T.token_count(t) >= 5) & (T.punct_ratio(t) <= 0.3))
    deduped = D.exact_dedup(q)
    c = deduped.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt"))
    m = c.agg(F.min("cnt").alias("mn"))
    balanced = (
        deduped.join(F.broadcast(c), "lang")
        .crossJoin(F.broadcast(m))
        .where(
            _knuth_u32(F.col("doc_id")) * F.col("cnt")
            < F.col("mn").cast("decimal(38,0)") * 4294967296
        )
    )
    return balanced.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.min("doc_id").alias("first_doc"),
    )


# ---------------------------------------------------------------------------
# Lake introspection: footer statistics vs the data they describe.
# ---------------------------------------------------------------------------

@register(
    "parquet_footer_audit",
    """
    SELECT 'o_custkey' AS col,
           count(*)::BIGINT                     AS n_values,
           (count(*) - count(o_custkey))::BIGINT AS n_nulls,
           min(o_custkey)::DOUBLE               AS vmin,
           max(o_custkey)::DOUBLE               AS vmax
    FROM orders
    UNION ALL
    SELECT 'o_orderkey', count(*)::BIGINT,
           (count(*) - count(o_orderkey))::BIGINT,
           min(o_orderkey)::DOUBLE, max(o_orderkey)::DOUBLE
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', count(*)::BIGINT,
           (count(*) - count(o_totalprice))::BIGINT,
           min(o_totalprice)::DOUBLE, max(o_totalprice)::DOUBLE
    FROM orders
    """,
    doc="Distributed parquet-footer read (sources/introspect.py: "
    "mapInPandas over the file list, footer-only I/O) aggregated to "
    "per-column counts and min/max — checked against the DATA: the "
    "oracle computes the identical numbers by scanning the rows. A "
    "hash match proves the footer statistics that sort-clustered / "
    "partitioned layouts use for data skipping agree exactly with "
    "the rows they would skip. Extension surface (§2.11); the "
    "reference's storage adapter (s3_storage.py) has no lake "
    "introspection at all.",
    tags=("lake", "introspection"),
)
def parquet_footer_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbm_nca_ph_etl_spark.sources.introspect import footer_column_summary

    return footer_column_summary(
        spark,
        f"{sf_dir}/orders.parquet",
        ["o_orderkey", "o_custkey", "o_totalprice"],
    )


@register(
    "incremental_matview_orders",
    """
    SELECT o_orderpriority,
           count(*)::BIGINT                      AS n_orders,
           round(sum(o_totalprice), 2)           AS total_price,
           round(sum(o_totalprice) / count(*), 6) AS avg_price,
           min(o_totalprice)                     AS min_price,
           max(o_totalprice)                     AS max_price
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="Incremental materialized-view maintenance (sinks/matview.py): "
    "orders arrives as three disjoint batches (o_orderkey % 3), each "
    "reduced to decomposable partials (sum/count/min/max, map-side "
    "combined), folded pairwise through merge_partials — deliberately "
    "in a different association order than arrival — and finalized "
    "with the read-time avg = sum/count. The oracle aggregates the "
    "whole table in one shot; a hash match proves the merge algebra "
    "is exact under any fold order, which is what lets a 100 TB view "
    "refresh shuffle O(groups) rows instead of re-scanning the world. "
    "The persisted versioned/replay-idempotent path is covered by "
    "test_sinks.TestMaterializedAgg.",
    tags=("lake", "incremental"),
)
def incremental_matview_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbm_nca_ph_etl_spark.sinks.matview import (
        Measure,
        derived_avg,
        merge_partials,
        partial_agg,
    )

    o = _t(spark, sf_dir, "orders")
    keys = ["o_orderpriority"]
    measures = [
        Measure("n_orders", "o_orderkey", "count"),
        Measure("sum_price", "o_totalprice", "sum"),
        Measure("min_price", "o_totalprice", "min"),
        Measure("max_price", "o_totalprice", "max"),
    ]
    batches = [
        partial_agg(o.where(F.col("o_orderkey") % 3 == i), keys, measures)
        for i in range(3)
    ]
    # fold in a non-arrival association: (b2 ⊕ b0) ⊕ b1
    folded = merge_partials(
        [merge_partials([batches[2], batches[0]], keys, measures), batches[1]],
        keys,
        measures,
    )
    return folded.select(
        "o_orderpriority",
        "n_orders",
        F.round("sum_price", 2).alias("total_price"),
        derived_avg("sum_price", "n_orders").alias("avg_price"),
        "min_price",
        "max_price",
    )


@register(
    "heavy_hitter_tokens",
    """
    WITH t AS (
      SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                x -> x <> '')) AS tok
      FROM documents
    ),
    n AS (SELECT count(*) AS nn FROM t),
    c AS (SELECT tok, count(*)::BIGINT AS cnt FROM t GROUP BY tok)
    SELECT tok, cnt FROM c, n WHERE cnt * 500 >= nn
    """,
    doc="Exact heavy hitters (operators/frequent.py): tokens with "
    "global share ≥ 1/500, two-pass — partition-local share "
    "candidates (vectorized value_counts; weighted pigeonhole ⇒ no "
    "false negatives) then a broadcast semi-join exact recount with "
    "an in-plan broadcast N. The naive groupBy shuffles the ENTIRE "
    "distinct-token space (billions at 100 TB); this shuffles only "
    "rows matching the model-sized candidate set. Result is exact — "
    "the oracle counts every token and filters, and the hashes must "
    "agree. Integer threshold arithmetic (cnt·500 ≥ N) on both "
    "engines.",
    tags=("llm", "text", "sketch"),
)
def heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbm_nca_ph_etl_spark.operators.frequent import exact_heavy_hitters

    d = _t(spark, sf_dir, "documents")
    toks = d.select(F.explode(D.tokens(F.col("text"))).alias("tok"))
    return exact_heavy_hitters(toks, "tok", phi_denom=500)


@register(
    "conjunctive_token_search",
    """
    WITH posting AS (
      SELECT doc_id, tok, count(*)::BIGINT AS tf
      FROM (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                  x -> x <> '')) AS tok
        FROM documents
      )
      WHERE tok IN ('join', 'hash', 'filter')
      GROUP BY doc_id, tok
    )
    SELECT doc_id, sum(tf)::BIGINT AS score
    FROM posting
    GROUP BY doc_id
    HAVING count(*) = 3
    """,
    doc="Inverted-index conjunctive retrieval (operators/inverted.py): "
    "postings (token, doc, tf) built by explode+groupBy, probed with "
    "an In-pushed term filter, docs matching ALL terms kept by a "
    "match-count having; score = summed TF. Against a token-clustered "
    "postings table the probe is footer-pruned to the query's posting "
    "lists — O(matched postings), never a corpus text scan. The "
    "oracle replays the same index build + probe in SQL; exact hash "
    "match.",
    tags=("llm", "text", "search"),
)
def conjunctive_token_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbm_nca_ph_etl_spark.operators.inverted import (
        build_postings,
        conjunctive_search,
    )

    d = _t(spark, sf_dir, "documents")
    return conjunctive_search(build_postings(d), ["join", "hash", "filter"])


_SQL_POSTINGS = """
      SELECT doc_id, tok AS token, count(*)::BIGINT AS tf
      FROM (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                  x -> x <> '')) AS tok
        FROM documents
      )
      GROUP BY doc_id, tok
"""


@register(
    "bm25_token_search",
    f"""
    WITH posting AS ({_SQL_POSTINGS}),
    dl AS (
      SELECT doc_id,
             len(list_filter(string_split_regex(lower(text), '\\s+'),
                             x -> x <> ''))::BIGINT AS doc_len
      FROM documents
    ),
    stats AS (SELECT count(*)::BIGINT AS n_docs, avg(doc_len) AS avgdl FROM dl),
    probed AS (
      SELECT * FROM posting
      WHERE token IN ('join', 'hash', 'filter', 'window')
    ),
    dfreq AS (SELECT token, count(*)::BIGINT AS df FROM probed GROUP BY token),
    scored AS (
      SELECT p.doc_id,
             round(sum(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                       * tf * 2.2
                       / (tf + 1.2 * (0.25 + 0.75 * doc_len / avgdl))),
                   6) AS score,
             count(*)::INT AS n_matched_terms
      FROM probed p
      JOIN dfreq USING (token)
      JOIN dl USING (doc_id)
      CROSS JOIN stats
      GROUP BY p.doc_id
    )
    SELECT doc_id, score, n_matched_terms,
           row_number() OVER (ORDER BY score DESC, doc_id)::INT AS rank
    FROM scored
    ORDER BY score DESC, doc_id
    LIMIT 20
    """,
    doc="BM25 ranked retrieval (operators/inverted.bm25_search): the "
    "ranking layer over the posting-list index — pushed-down In "
    "probe of the postings, |terms|-row document frequencies and "
    "1-row corpus stats as broadcasts, Lucene-style "
    "ln(1+(N-df+.5)/(df+.5)) idf with k1=1.2 b=0.75 length "
    "normalization, scores rounded before a distributed sort-limit "
    "top-20 (the rank window runs on the 20 surviving rows, never "
    "the matched-doc set). Oracle replays the identical expression "
    "trees in SQL; exact hash match.",
    tags=("llm", "text", "search", "bench"),
)
def bm25_token_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbm_nca_ph_etl_spark.operators.inverted import (
        bm25_search,
        build_postings,
        doc_lengths,
    )

    d = _t(spark, sf_dir, "documents")
    return bm25_search(
        build_postings(d),
        doc_lengths(d),
        ["join", "hash", "filter", "window"],
        topk=20,
    )


@register(
    "unigram_lm_score",
    f"""
    WITH posting AS ({_SQL_POSTINGS}),
    counts AS (SELECT token, sum(tf)::BIGINT AS c FROM posting GROUP BY token),
    totals AS (
      SELECT sum(c)::DOUBLE AS T, count(*)::DOUBLE AS V FROM counts
    )
    SELECT doc_id,
           sum(tf)::BIGINT AS n_tokens,
           round(sum(tf * (-ln((c + 1.0) / (T + V)))) / sum(tf), 6) AS avg_nll
    FROM posting
    JOIN counts USING (token)
    CROSS JOIN totals
    GROUP BY doc_id
    """,
    doc="Unigram LM quality scoring (operators/text_analysis."
    "unigram_nll): the KenLM-perplexity corpus filter's relational "
    "core — train add-one-smoothed p(t) on the corpus, score docs by "
    "tf-weighted average NLL. Token counts are a rollup OF the "
    "posting lists (one tokenization pass serves index + model), "
    "totals a 1-row broadcast, and the score join runs on distinct "
    "(doc, token) pairs rather than token instances. Exact hash "
    "match vs the SQL replica.",
    tags=("llm", "text", "quality"),
)
def unigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return T.unigram_nll(d)


@register(
    "dup_ngram_doc_stats",
    f"""
    WITH sh AS (
      SELECT doc_id, unnest({_SQL_SHINGLES.format(t='text')}) AS shingle
      FROM documents
    ),
    dfreq AS (SELECT shingle, count(*)::BIGINT AS df FROM sh GROUP BY shingle)
    SELECT doc_id,
           count(*)::INT AS n_shingles,
           sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END)::INT AS n_dup,
           floor((sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END)::DOUBLE
                  / count(*)::DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS dup_frac
    FROM sh JOIN dfreq USING (shingle)
    GROUP BY doc_id
    """,
    doc="Cross-document duplicate n-gram fraction (the Gopher/Dolma "
    "quality signal: how much of a document is 3-gram spans that "
    "also appear elsewhere — boilerplate, templates, near-dup "
    "residue). Shingle posting build (explode of the codegen'd "
    "shingle HOF) → per-shingle document frequency → join back and "
    "per-doc aggregate. Posting-shaped: two shuffles on the shingle "
    "key, never an all-pairs compare; at 100 TB the df table is the "
    "same artifact the MinHash pipeline snapshots, and hot shingles "
    "(headers, licenses) are the documented salting case "
    "(operators/skew.py). Deliberate plan choice: a window count over "
    "shingle measures ~1.8x faster at sf0.1 (0.73s vs 1.35s) but "
    "funnels every row of a hot shingle into ONE task with no remedy; "
    "the join form keeps dfreq map-side-combined and lets AQE "
    "skew-split the probe side — the sf0.1 loss buys the 100 TB "
    "survival. Exact hash match vs the SQL replica.",
    tags=("llm", "text", "dedup", "quality", "bench"),
)
def dup_ngram_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    sh = d.select(
        "doc_id", F.explode(D.word_shingles(F.col("text"))).alias("shingle")
    )
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    is_dup = (F.col("df") >= 2).cast("int")
    # dfreq is CORPUS-SIZED (distinct shingles grow ~linearly with
    # tokens) — an auto-broadcast here is a driver OOM waiting for a
    # bigger corpus (the static size estimate of an agg undershoots
    # badly on short strings; at sf10 Spark promoted this join to
    # BroadcastHash and killed an 8 GiB driver building a ~17M-entry
    # map). shuffle_hash pins the scale-safe shape: both sides hash
    # on shingle, the df side builds per-partition maps, no sort, no
    # driver-side build. Costs ~nothing at small SF (the probe side
    # shuffles either way once the build side exceeds the threshold).
    return (
        sh.join(dfreq.hint("shuffle_hash"), "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_shingles"),
            F.sum(is_dup).cast("int").alias("n_dup"),
            _round6(
                F.sum(is_dup).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("dup_frac"),
        )
    )


@register(
    "bpe_merge_candidates",
    f"""
    WITH words AS (
      SELECT tok AS w, count(*)::BIGINT AS wc
      FROM (
        SELECT unnest({_SQL_TOKENS.format(t='text')}) AS tok FROM documents
      )
      GROUP BY tok
    ),
    pairs AS (
      SELECT unnest(list_transform(generate_series(1, length(w) - 1),
                                   i -> substr(w, i, 2))) AS pair,
             wc
      FROM words WHERE length(w) >= 2
    ),
    top AS (
      SELECT pair, sum(wc)::BIGINT AS merge_count
      FROM pairs GROUP BY pair
      ORDER BY merge_count DESC, pair
      LIMIT 30
    )
    SELECT pair, merge_count,
           row_number() OVER (ORDER BY merge_count DESC, pair)::INT AS rank
    FROM top
    """,
    doc="BPE tokenizer induction, first merge iteration: the most "
    "frequent adjacent symbol pairs across the corpus, weighted by "
    "word frequency (Sennrich et al. 2016 — each later merge round "
    "is this same query over the re-segmented vocab). Key move for "
    "scale: pair counting runs over the DISTINCT-WORD table "
    "(vocab-sized) carrying corpus counts, not over the corpus "
    "itself — the explode multiplies Heaps-law vocabulary, not "
    "100 TB of text. Adjacent pairs via a sequence+substr HOF "
    "(codegen, no UDF), distributed sort-limit top-30, rank window "
    "on the 30 survivors. Exact hash match vs the SQL replica.",
    tags=("llm", "text", "tokenizer"),
)
def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(D.tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    pair_arr = F.transform(
        F.sequence(F.lit(1), F.length("w") - 1),
        lambda i: F.col("w").substr(i, F.lit(2)),
    )
    top = (
        words.where(F.length("w") >= 2)
        .select(F.explode(pair_arr).alias("pair"), "wc")
        .groupBy("pair")
        .agg(F.sum("wc").cast("long").alias("merge_count"))
        .orderBy(F.col("merge_count").desc(), "pair")
        .limit(30)
    )
    w = Window.orderBy(F.col("merge_count").desc(), "pair")
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


_BPE_K = 8


def _bpe_oracle_sql(k: int) -> str:
    """k-unrolled DuckDB replica of the iterative BPE loop. Greedy
    non-overlap merge application is expressed relationally: explode
    symbol positions, mark candidate pair-starts, gaps-and-islands
    over consecutive candidates (overlap only happens when lhs ==
    rhs), keep even offsets within each island — exactly the
    semantics of the Spark-side carry fold (bpe_apply_merge)."""
    sql = f"""
    WITH st0 AS (
      SELECT tok AS w, count(*)::BIGINT AS wc, string_split(tok, '') AS syms
      FROM (SELECT unnest({_SQL_TOKENS.format(t='text')}) AS tok FROM documents)
      GROUP BY tok
    )"""
    for i in range(1, k + 1):
        p = i - 1
        sql += f""",
    c{i} AS (
      SELECT syms[q] AS a, syms[q + 1] AS b, sum(wc)::BIGINT AS cnt
      FROM st{p}, unnest(generate_series(1, len(syms) - 1)) AS u{i}(q)
      WHERE len(syms) >= 2
      GROUP BY 1, 2
    ),
    t{i} AS (SELECT a, b, cnt FROM c{i} ORDER BY cnt DESC, a, b LIMIT 1),
    e{i} AS (
      SELECT w, wc, q, syms[q] AS s,
             (q < len(syms) AND syms[q] = t.a AND syms[q + 1] = t.b) AS cand
      FROM st{p} CROSS JOIN t{i} t, unnest(generate_series(1, len(syms))) AS v{i}(q)
    ),
    g{i} AS (
      SELECT *, q - row_number() OVER (PARTITION BY w, cand ORDER BY q) AS isl
      FROM e{i}
    ),
    s{i} AS (
      SELECT *,
             cand AND ((row_number() OVER (PARTITION BY w, cand, isl ORDER BY q) - 1) % 2 = 0) AS mh,
             lead(s) OVER (PARTITION BY w ORDER BY q) AS nxt
      FROM g{i}
    ),
    o{i} AS (
      SELECT w, wc, q,
             CASE WHEN mh THEN s || nxt ELSE s END AS s2,
             coalesce(lag(mh) OVER (PARTITION BY w ORDER BY q), FALSE) AS swallowed
      FROM s{i}
    ),
    st{i} AS (
      SELECT w, min(wc)::BIGINT AS wc, list(s2 ORDER BY q) AS syms
      FROM o{i} WHERE NOT swallowed GROUP BY w
    )"""
    unions = "\n      UNION ALL ".join(
        f"SELECT {i}::INT AS step, a AS lhs, b AS rhs, a || b AS merged, "
        f"cnt AS merge_count FROM t{i}"
        for i in range(1, k + 1)
    )
    return sql + f"\n    {unions}"


def _bpe_encode_oracle_sql(k: int) -> str:
    """Reuse the k-unrolled merge chain, but read out the FINAL vocab
    segmentation (st{k}) and apply it to the corpus: per document,
    word count and post-BPE token count via a tokens→vocab join."""
    with_chain = _bpe_oracle_sql(k)
    with_chain = with_chain[: with_chain.rindex("\n    SELECT 1::INT AS step")]
    return (
        with_chain
        + f""",
    enc AS (SELECT w, len(syms)::BIGINT AS n_syms FROM st{k}),
    dt AS (
      SELECT doc_id, unnest({_SQL_TOKENS.format(t='text')}) AS w FROM documents
    ),
    per_doc AS (
      SELECT doc_id, count(*)::BIGINT AS n_words,
             sum(n_syms)::BIGINT AS n_bpe_tokens
      FROM dt JOIN enc USING (w) GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(p.n_words, 0)::BIGINT AS n_words,
           coalesce(p.n_bpe_tokens, 0)::BIGINT AS n_bpe_tokens,
           d.n_chars::BIGINT AS n_chars
    FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
    """
    )


@register(
    "bpe_merge_k",
    _bpe_oracle_sql(_BPE_K),
    doc="FULL BPE tokenizer induction loop (operators/text_analysis."
    "bpe_train): k=8 iterative merges — count adjacent symbol pairs "
    "over the distinct-word vocab (Heaps-law sized, wc-weighted), "
    "argmax to the driver (k single-row collects, the kmeans/"
    "pagerank iterative pattern), apply the merge as a greedy "
    "left-to-right carry fold (F.aggregate — a shuffle-free "
    "codegen'd projection), recount, repeat. Output is the merge "
    "LIST, i.e. the trained tokenizer artifact. The corpus-sized "
    "work is one tokenize+groupBy; every iteration scales with "
    "vocabulary. Exact hash match vs a k-unrolled DuckDB replica "
    "whose gaps-and-islands windows reproduce the fold's greedy "
    "non-overlap semantics (runs of an identical pair merge at even "
    "offsets: 'aaa' → [aa, a]).",
    tags=("llm", "text", "tokenizer", "iterative"),
)
def bpe_merge_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(D.tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    return T.bpe_train(words, k=_BPE_K)


def _pr_iter_sql(i: int) -> str:
    return f"""
    p{i} AS (
      SELECT e.dst AS node, (1.0 - 0.85) + 0.85 * sum(p.r / deg.d) AS r
      FROM edges e
      JOIN p{i - 1} p ON p.node = e.src
      JOIN deg ON deg.src = e.src
      GROUP BY e.dst
    )"""


@register(
    "pagerank_customer_supplier",
    """
    WITH ce AS (
      SELECT DISTINCT 'c' || o_custkey::VARCHAR AS src,
                      's' || l_suppkey::VARCHAR AS dst
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    edges AS (SELECT src, dst FROM ce UNION ALL SELECT dst, src FROM ce),
    deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
    p0 AS (SELECT DISTINCT src AS node, 1.0 AS r FROM edges),
    """
    + ",".join(_pr_iter_sql(i) for i in range(1, 6))
    + """
    SELECT node, floor(r * 1000000.0 + 0.5) / 1000000.0 AS rank
    FROM p5
    """,
    doc="PageRank, 5 fixed supersteps over the undirected "
    "customer↔supplier trade graph (operators/graph.pagerank) — the "
    "iterative message-passing family (beyond connected components): "
    "per superstep one join-shuffle on src and one agg-shuffle on "
    "dst, localCheckpoint lineage cuts so the driver plan stays "
    "O(1) per iteration, nothing collected. The oracle UNROLLS the "
    "same five supersteps as chained CTEs; literals are spelled "
    "(1.0 - 0.85) on both sides so the constant folds to the "
    "identical double. Fixed iterations (not convergence) keep the "
    "computation deterministic and replayable.",
    tags=("graph", "iterative"),
)
def pagerank_customer_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbm_nca_ph_etl_spark.operators.graph import pagerank

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    ce = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    edges = ce.unionByName(ce.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    pr = pagerank(edges, iterations=5, damping=0.85)
    return pr.select("node", _round6(F.col("rank")).alias("rank"))


def _bfs_iter_sql(i: int) -> str:
    return f"""
    d{i} AS (
      SELECT node, min(d)::INT AS d FROM (
        SELECT node, d FROM d{i - 1}
        UNION ALL
        SELECT e.dst AS node, p.d + 1 AS d
        FROM edges e JOIN d{i - 1} p ON p.node = e.src
      ) GROUP BY node
    )"""


@register(
    "bfs_trade_distance",
    """
    WITH ce AS (
      SELECT DISTINCT 'c' || o_custkey::VARCHAR AS src,
                      's' || l_suppkey::VARCHAR AS dst
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    edges AS (SELECT src, dst FROM ce UNION ALL SELECT dst, src FROM ce),
    d0 AS (SELECT 's1' AS node, 0 AS d),
    """
    + ",".join(_bfs_iter_sql(i) for i in range(1, 5))
    + """
    SELECT node, d AS dist FROM d4
    """,
    doc="Bounded-hop BFS shortest paths (operators/graph.bfs_levels) "
    "from supplier s1 over the undirected trade graph: per superstep "
    "one frontier join and one map-side-combinable min-groupBy, "
    "localCheckpoint lineage cuts, 4 hops. The oracle unrolls the "
    "same supersteps; all-INTEGER state makes the hash comparison "
    "exact with no float caveats — the iterative-algorithm twin of "
    "the PageRank entry.",
    tags=("graph", "iterative"),
)
def bfs_trade_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbm_nca_ph_etl_spark.operators.graph import bfs_levels

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    ce = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    edges = ce.unionByName(
        ce.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return bfs_levels(edges, ["s1"], max_hops=4)


@register(
    "triangle_count_parts",
    """
    WITH seq AS (
      -- (orderkey, linenumber) is NOT unique in the synthetic data;
      -- the full (linenumber, partkey, suppkey) key is — lead() must
      -- see a total order or the edge set is engine-dependent
      SELECT l_orderkey, l_partkey,
             lead(l_partkey) OVER (PARTITION BY l_orderkey
                                   ORDER BY l_linenumber, l_partkey,
                                            l_suppkey) AS next_part
      FROM lineitem
    ),
    e AS (
      SELECT DISTINCT least(l_partkey, next_part)    AS a,
                      greatest(l_partkey, next_part) AS b
      FROM seq WHERE next_part IS NOT NULL AND l_partkey <> next_part
    )
    SELECT count(*)::BIGINT AS n_triangles
    FROM e e1
    JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
    JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b
    """,
    doc="Global triangle count (operators/graph.triangle_count) over "
    "the part co-order graph (consecutive lineitems of an order are "
    "edges). The Spark side runs the DEGREE-ORIENTED algorithm — "
    "orient each edge toward the (degree, node)-larger endpoint, "
    "join wedges only at their smallest vertex, close with a "
    "left-semi probe — bounding the wedge join by Σ outdeg² = "
    "O(m^1.5) on ANY degree distribution, while the oracle keeps the "
    "naive a<b<c three-way self-join. Same exact count; the plan "
    "difference IS the 100 TB story (a celebrity node breaks the "
    "naive join, not the oriented one).",
    tags=("graph",),
)
def triangle_count_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbm_nca_ph_etl_spark.operators.graph import triangle_count

    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_partkey", "l_suppkey"
    )
    seq = li.select(
        "l_partkey", F.lead("l_partkey").over(w).alias("next_part")
    ).where(F.col("next_part").isNotNull() & (F.col("l_partkey") != F.col("next_part")))
    return triangle_count(seq, src_col="l_partkey", dst_col="next_part")


@register(
    "udtf_kv_explode",
    """
    SELECT o_orderkey,
           split_part(kv, '=', 1) AS key,
           split_part(kv, '=', 2) AS value
    FROM (
      SELECT o_orderkey,
             unnest(string_split('status=' || o_orderstatus
                                 || ';prio=' || o_orderpriority, ';')) AS kv
      FROM orders WHERE o_orderkey < 500
    )
    """,
    doc="Python UDTF extension point (functions/table_functions.py, "
    "SURVEY §2.10 — the reference's table-valued Protocol plug): "
    "parse_kv registered in the SQL namespace and applied LATERAL to "
    "a synthesized k=v;k=v config column. Deliberately exercised on a "
    "pre-filtered slice (UDTFs are the row-at-a-time slow path); the "
    "oracle IS the codegen expression of the same transform "
    "(split+unnest), and the hash match pins the UDTF's semantics to "
    "the fast path's.",
    tags=("extension", "udtf"),
)
def udtf_kv_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbm_nca_ph_etl_spark.functions.table_functions import (
        register_table_functions,
    )

    register_table_functions(spark)
    o = _t(spark, sf_dir, "orders")
    o.where(F.col("o_orderkey") < 500).select(
        "o_orderkey",
        F.concat(
            F.lit("status="), "o_orderstatus", F.lit(";prio="), "o_orderpriority"
        ).alias("cfg"),
    ).createOrReplaceTempView("_kv_src")
    return spark.sql(
        """
        SELECT s.o_orderkey, t.key, t.value
        FROM _kv_src s, LATERAL parse_kv(s.cfg) t
        """
    )


@register(
    "scd2_asof_snapshot",
    """
    WITH hist AS (
      SELECT user_id, epoch_us(ts) AS valid_from_us, event_id,
             round(value, 2) AS value
      FROM events WHERE event_type = 'purchase'
    ),
    ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY user_id
               ORDER BY valid_from_us DESC, event_id DESC) AS rn
      FROM hist WHERE valid_from_us <= 1705400000000000
    )
    SELECT user_id, valid_from_us, value FROM ranked WHERE rn = 1
    """,
    doc="Point-in-time (as-of) snapshot over the SCD2 history: the "
    "dimension as it stood at T — per key, the version whose "
    "validity interval covers T, i.e. the latest change at-or-before "
    "T (latest-below-threshold window, total-ordered by (ts, "
    "event_id)). Completes the scd2_purchase_history pair: derive "
    "history, then query any past state from it. Timestamp filter "
    "pushes to the scan, one keyed window — same cost shape as any "
    "per-key top-1.",
    tags=("window", "etl"),
)
def scd2_asof_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").where(
        (F.col("event_type") == "purchase")
        & (F.col("ts_us") <= 1705400000000000)
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts_us").desc(), F.col("event_id").desc()
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("ts_us").alias("valid_from_us"),
            F.round("value", 2).alias("value"),
        )
    )


@register(
    "segment_dedup_docs",
    f"""
    WITH toks AS (
      SELECT doc_id, {_SQL_TOKENS.format(t='text')} AS t FROM documents
    ),
    segs AS (
      SELECT doc_id, i AS seg_idx,
             array_to_string(t[i*8+1 : i*8+8], ' ') AS seg
      FROM toks,
           unnest(generate_series(0, CAST(ceil(len(t) / 8.0) AS INT) - 1)) AS u(i)
      WHERE len(t) > 0
    ),
    freq AS (SELECT seg, count(*)::BIGINT AS seg_freq FROM segs GROUP BY seg),
    kept AS (
      SELECT s.doc_id, s.seg_idx, s.seg
      FROM segs s JOIN freq USING (seg) WHERE seg_freq <= 1
    ),
    seg_counts AS (
      SELECT doc_id, count(*)::INT AS n_segments FROM segs GROUP BY doc_id
    ),
    kept_agg AS (
      SELECT doc_id, count(*)::INT AS n_kept,
             string_agg(seg, ' ' ORDER BY seg_idx) AS clean_text
      FROM kept GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(n_segments, 0)::INT AS n_segments,
           coalesce(n_kept, 0)::INT     AS n_kept,
           coalesce(clean_text, '')     AS clean_text
    FROM documents d
    LEFT JOIN seg_counts USING (doc_id)
    LEFT JOIN kept_agg USING (doc_id)
    """,
    doc="Span-level corpus dedup with document reconstruction "
    "(operators/text_analysis.segment_dedup): the CCNet/RefinedWeb "
    "line-dedup pass — drop text spans repeated anywhere in the "
    "corpus (boilerplate, templates, duplicated passages) and stitch "
    "each document back together from its surviving spans in original "
    "order. Posting-shaped like dup_ngram_doc_stats: segment HOF "
    "projection → posexplode → frequency groupBy → join-back filter "
    "→ per-doc struct-collect+array_sort reassembly. Never all-pairs; "
    "hot segments are the AQE skew-split case; the frequency table "
    "is a persistable corpus artifact at 100 TB. Deterministic "
    "drop-all semantics (vs CCNet's order-dependent keep-first) make "
    "it partition-invariant and exactly hash-checkable vs the SQL "
    "replica.",
    tags=("llm", "text", "dedup", "bench"),
)
def segment_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.segment_dedup(_t(spark, sf_dir, "documents"))


_SQL_NOT_IN_ORDERS = """
    SELECT o_orderkey, o_custkey
    FROM orders
    WHERE nullif(o_custkey, 1) NOT IN
          (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
      AND o_totalprice > 250000
"""


@register(
    "orders_notin_debtors",
    _SQL_NOT_IN_ORDERS,
    doc="Null-aware anti join — NOT IN under SQL three-valued logic, "
    "executed VERBATIM by both engines like sql_supplier_rank. This "
    "is a semantic class a plain left_anti join gets WRONG: a NULL "
    "probe key makes the predicate UNKNOWN, so the 10 orders of "
    "customer 1 (probe key nulled via nullif) are excluded even "
    "though no build row matches them — left_anti would keep them. "
    "Catalyst plans the single-column NOT IN as a "
    "BroadcastHashJoin(LeftAnti, isNullAware=true): one broadcast of "
    "the (tiny, filtered) build side, streamed probe, no shuffle — "
    "and a build-side NULL short-circuits the whole probe to empty "
    "by flag, not by scan. tests/test_plans.py pins the NAAJ "
    "physical node so a regression to BroadcastNestedLoopJoin "
    "(the O(n·m) fallback) fails loudly.",
    tags=("relational", "sql", "join"),
)
def orders_notin_debtors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbm_nca_ph_etl_spark.sources.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SQL_NOT_IN_ORDERS)


@register(
    "hll_matview_users",
    """
    SELECT event_type,
           count(*)::BIGINT AS n_events,
           true AS hll_ok, true AS merge_invariant
    FROM events GROUP BY event_type
    """,
    doc="Mergeable distinct-count materialized view (sinks/matview.py "
    "kind='hll'): COUNT DISTINCT is the aggregate that breaks naive "
    "incremental views — per-batch distinct counts double-count on "
    "merge — so the view stores DataSketches HLL partials "
    "(hll_sketch_agg) and refreshes by hll_union_agg, a register-max "
    "lattice join: associative, commutative, idempotent. The query "
    "folds events through TWO different batchings (event_id % 3 and "
    "% 2) and asserts in-plan that (a) both merged estimates agree "
    "exactly — merge-path invariance, the property that makes the "
    "view deterministic under out-of-order/replayed feeds — and (b) "
    "the estimate lands within 2% of the exact distinct count "
    "(lgConfigK=14 ⇒ ±~0.8% rsd). n_events is hash-verified vs "
    "DuckDB; the verdict columns flip on regression. At 100 TB the "
    "refresh shuffles O(groups) 16 KiB sketches, never re-scanning "
    "raw events — the persisted path is "
    "test_sinks.TestMaterializedAgg.",
    tags=("lake", "incremental", "sketch"),
)
def hll_matview_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbm_nca_ph_etl_spark.sinks.matview import (
        Measure,
        derived_distinct,
        merge_partials,
        partial_agg,
    )

    ev = _t(spark, sf_dir, "events")
    keys = ["event_type"]
    measures = [
        Measure("n_events", "event_id", "count"),
        Measure("users_hll", "user_id", "hll"),
    ]
    m3 = merge_partials(
        [
            partial_agg(ev.where(F.col("event_id") % 3 == i), keys, measures)
            for i in range(3)
        ],
        keys,
        measures,
    )
    m2 = merge_partials(
        [
            partial_agg(ev.where(F.col("event_id") % 2 == i), keys, measures)
            for i in range(2)
        ],
        keys,
        measures,
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("_e")
    )
    est3 = derived_distinct("users_hll")
    return (
        m3.join(m2.select("event_type", est3.alias("_est2")), "event_type")
        .join(exact, "event_type")
        .select(
            "event_type",
            "n_events",
            (F.abs(est3 - F.col("_e")) <= F.col("_e") * 0.02).alias("hll_ok"),
            (est3 == F.col("_est2")).alias("merge_invariant"),
        )
    )


@register(
    "semantic_dedup_keep",
    """
    WITH RECURSIVE e AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
    ),
    cands AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM e a JOIN e b ON a.vec_id < b.vec_id
      WHERE round(list_dot_product(a.v, b.v)
            / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
            6) >= 0.4
    ),
    edges AS (SELECT id_a AS a, id_b AS b FROM cands
              UNION SELECT id_b, id_a FROM cands),
    nodes AS (SELECT DISTINCT a AS id FROM edges),
    reach AS (
      SELECT id, id AS x FROM nodes
      UNION
      SELECT r.id, e2.b AS x FROM reach r JOIN edges e2 ON e2.a = r.x
    ),
    clusters AS (SELECT id, min(x) AS cluster_id FROM reach GROUP BY id)
    SELECT e.vec_id, e.label
    FROM e LEFT JOIN clusters c ON e.vec_id = c.id
    WHERE c.id IS NULL OR c.cluster_id = e.vec_id
    """,
    doc="Semantic deduplication end-to-end (the SemDeDup shape, "
    "Abbas et al. 2023): embedding-space near-duplicates — "
    "paraphrases, re-encodes, boilerplate variants that string "
    "dedup can't see — clustered by cosine similarity, one canonical "
    "survivor kept per cluster. Composition: cosine pair generation "
    "→ connected components (transitive closure; pairwise pruning "
    "alone leaks b,c of a chain a~b~c) → broadcast anti-join of the "
    "losers against the corpus. This catalog entry runs the EXACT "
    "pair baseline (labeled O(n²) correctness oracle, like "
    "embedding_near_dup_pairs); the 100 TB path swaps in "
    "lsh_near_dup_pairs over the persisted signature index — "
    "clustering and anti-join stages are identical. Oracle replays "
    "the full pipeline as a recursive CTE — exact hash match.",
    tags=("similarity", "dedup", "llm"),
)
def semantic_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    pairs = S.cosine_near_dup_pairs(emb, threshold=0.4)
    comp = D.connected_components(
        pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    )
    losers = comp.where(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias("_loser")
    )
    return emb.join(
        F.broadcast(losers), emb.vec_id == F.col("_loser"), "left_anti"
    ).select("vec_id", "label")


@register(
    "hashed_linear_score",
    f"""
    WITH posting AS ({_SQL_POSTINGS}),
    feat AS (
      SELECT doc_id, tf,
             (('0x' || substr(md5('w#' ||
                 ((('0x' || substr(md5(token), 1, 12))::BIGINT) % 4096)::VARCHAR
               ), 1, 12))::BIGINT % 2000001 - 1000000) AS w_e6
      FROM posting
    ),
    scored AS (
      SELECT doc_id, sum(tf)::BIGINT AS n_tokens,
             floor(sum(tf * w_e6)::DOUBLE / sum(tf))::BIGINT AS score_e6
      FROM feat GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, score_e6, score_e6 >= 0 AS keep
    FROM scored
    """,
    doc="Hashed linear classifier inference as relational algebra "
    "(operators/text_analysis.hashed_linear_score) — the fastText-"
    "style quality-filter core of CCNet/DCLM corpus gating: token → "
    "hashing-trick feature bucket (4096 dims, no vocabulary table) → "
    "bucket weight → tf-weighted mean score → keep/drop gate. The "
    "weight table never materializes (weights derive from the md5 "
    "hash family, uniform micro-units in [-1e6,1e6]); a trained model "
    "drops in as a dim-row broadcast join with the same plan shape. "
    "Integer arithmetic to the last floor-division keeps every engine "
    "on the identical bigint — full classifier inference, exactly "
    "hash-checked. Posting-shaped: one tokenize pass, two map-side-"
    "combined shuffles, no UDF — scoring 100 TB is a corpus scan.",
    tags=("llm", "text", "quality", "bench"),
)
def hashed_linear_score_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.hashed_linear_score(_t(spark, sf_dir, "documents"))


@register(
    "embedding_int8_quantize",
    """
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
      FROM embeddings
    ),
    sc AS (
      SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
      FROM e
    ),
    qt AS (
      SELECT vec_id, v, scale,
             CASE WHEN scale > 0
                  THEN list_transform(
                         v, x -> CAST(floor(x / scale + 0.5) AS INT))
                  ELSE list_transform(v, x -> 0) END AS q
      FROM sc
    )
    SELECT vec_id,
           floor(scale * 1000000000.0 + 0.5)::BIGINT AS scale_e9,
           list_sum(list_transform(q, x -> abs(x)))::BIGINT AS q_l1,
           list_sum(list_transform(generate_series(1, len(q)),
                                   i -> q[i]::BIGINT * i))::BIGINT AS q_checksum,
           len(list_filter(q, x -> x = 127 OR x = -127))::INT AS n_saturated,
           list_sum(list_transform(generate_series(1, len(v)),
                                   i -> (v[i] - q[i] * scale) ^ 2))
             <= 0.0001 * list_sum(list_transform(v, x -> x * x)) AS recon_ok
    FROM qt
    """,
    doc="Int8 scalar quantization of the embedding table with an "
    "in-plan reconstruction audit (operators/similarity."
    "quantize_int8_audit): the SQ8 compression step that fits 4× "
    "more vectors per executor for the ANN probes. All-integer "
    "outputs (nano-unit scale, L1 mass, index-weighted checksum, "
    "saturation count) hash-match DuckDB exactly; the float "
    "reconstruction error only surfaces as a wide-margin boolean "
    "bound. Map-only single projection — no shuffle, no UDF; "
    "vector/scale/quantized-array are let-bound so each evaluates "
    "once per row, and every float fold is a sequential array "
    "aggregate, never a cross-partition double sum.",
    tags=("similarity", "llm"),
)
def embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.quantize_int8_audit(_t(spark, sf_dir, "embeddings"))


@register(
    "ann_int8_topk",
    _SQL_EXACT_KTH,
    doc="Quantized retrieval audit: top-10 cosine over int8-compressed "
    "vectors (operators/similarity.int8_topk — integer dot products, "
    "scales cancel) intersected with the float-exact top-10. Output "
    "per query: the exact k-th similarity (hash-verified vs DuckDB) "
    "and recall_ok (total hits ≥ 90/100; int8 noise ~1e-3 on cosine "
    "costs at most a few boundary neighbors — measured 100/100 at "
    "both sf0.01 and sf0.1). "
    "Closes the compression loop: embedding_int8_quantize proves the "
    "representation, this proves retrieval quality survives it.",
    tags=("similarity", "llm"),
)
def ann_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    return _ann_recall_audit(
        S.int8_topk(emb, q, k=10), S.cosine_topk(emb, q, k=10), floor_hits=90
    )


def _band_index(spark: SparkSession, sf_dir: str, corpus: DataFrame) -> DataFrame:
    """Session-memoized corpus band index (dedup.band_buckets) — the
    build-once artifact of the incremental-dedup story. The bench then
    measures what production runs per delivery: sign the BATCH, probe
    the index — not an index rebuild per invocation."""
    return session_memo(
        spark, ("band_index", sf_dir), corpus.inputFiles(),
        lambda: D.band_buckets(corpus).localCheckpoint(eager=True),
    )


@register(
    "incremental_dedup_probe",
    f"""
    WITH corpus AS (
      -- bounded id space so the +100000/+200000 batch ids are
      -- disjoint from corpus ids at ANY scale factor
      SELECT doc_id, text FROM documents WHERE doc_id < 100000
    ),
    batch AS (
      SELECT doc_id + 100000 AS doc_id, text || ' zzduplicatemarker' AS text
      FROM corpus WHERE doc_id % 25 = 0
      UNION ALL
      SELECT doc_id + 200000 AS doc_id,
             'fresh unseen content block ' || doc_id::VARCHAR ||
             ' entirely novel tokens stream' AS text
      FROM corpus WHERE doc_id % 25 = 1
    ),
    docs2 AS (SELECT * FROM corpus UNION ALL SELECT * FROM batch),
    shingled AS (
      SELECT doc_id, unnest({{sh}}) AS shingle FROM docs2
    ),
    pre AS (
      SELECT doc_id, ('0x' || substr(md5(shingle), 1, 12))::BIGINT AS x FROM shingled
    ),
    hashed AS (
      SELECT doc_id, h::INT AS h,
             ([2557, 21041, 27717, 22863, 845, 29229, 30923, 19617, 21031, 18641, 30861, 30047, 14075, 20097, 17409, 24897][h+1]::BIGINT * x
              + [654583775, 229283573, 1051550459, 794471793, 803550167, 370913197, 1381971571, 2121308585, 996984527, 1343235941, 1511588075, 2103497953, 956612807, 1588911645, 33727075, 88489753][h+1]::BIGINT) % 2305843009213693951 AS hv
      FROM pre CROSS JOIN generate_series(0, 15) AS t(h)
    ),
    sigs AS (
      SELECT doc_id, h, min(hv) AS minhash FROM hashed GROUP BY doc_id, h
    ),
    buckets AS (
      SELECT doc_id, h // 4 AS band,
             md5(string_agg(minhash::VARCHAR, ',' ORDER BY h)) AS bucket
      FROM sigs GROUP BY doc_id, h // 4
    ),
    cand AS (
      SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
      FROM buckets n JOIN buckets o ON n.band = o.band AND n.bucket = o.bucket
      WHERE n.doc_id >= 100000 AND o.doc_id < 100000
    ),
    szs AS (SELECT doc_id, count(*) AS n FROM shingled GROUP BY doc_id),
    inter AS (
      SELECT c.new_id, c.old_id, count(*) AS i
      FROM cand c
      JOIN shingled a ON a.doc_id = c.new_id
      JOIN shingled b ON b.doc_id = c.old_id AND b.shingle = a.shingle
      GROUP BY c.new_id, c.old_id
    ),
    hits AS (
      SELECT c.new_id AS doc_id, min(c.old_id) AS matched_doc
      FROM cand c
      JOIN szs sa ON sa.doc_id = c.new_id
      JOIN szs sb ON sb.doc_id = c.old_id
      LEFT JOIN inter i ON i.new_id = c.new_id AND i.old_id = c.old_id
      WHERE coalesce(i.i, 0)::DOUBLE
              / (sa.n + sb.n - coalesce(i.i, 0)) >= 0.5
      GROUP BY c.new_id
    )
    SELECT b.doc_id, h.matched_doc, h.matched_doc IS NOT NULL AS is_dup
    FROM batch b LEFT JOIN hits h ON b.doc_id = h.doc_id
    """.format(sh=_SQL_SHINGLES.format(t='text')),
    doc="Incremental near-dup dedup (operators/dedup.lsh_probe_new): "
    "an arriving batch — perturbed copies of corpus docs plus "
    "genuinely fresh ones — probes the corpus's banded MinHash index "
    "instead of re-deduping the world. The corpus index "
    "(dedup.band_buckets) is the build-once artifact — session-"
    "memoized + persisted here (_band_index), so repeat invocations "
    "measure the probe, not an index rebuild; per delivery, "
    "cost scales with the batch: sign the batch, one hash join on "
    "(band, bucket) against the index, min-collision per doc, and "
    "every raw band collision is verified with exact n-gram Jaccard "
    "≥ 0.5 before a doc is marked is_dup — a coincidental bucket "
    "collision never poisons a novel document. This "
    "is the production daily-ingest shape at 100 TB — the all-pairs "
    "self-join (minhash_lsh_pairs) runs once per corpus snapshot, "
    "this runs per batch. Exact hash match vs the full SQL replica "
    "of the banding-plus-verification pipeline.",
    tags=("dedup", "llm", "incremental", "bench"),
)
def incremental_dedup_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .where(F.col("doc_id") < 100000)  # keep batch id space disjoint at any SF
    )
    # one scan for both batch halves (a filter-union would read the
    # text column twice); CASE picks the perturbed-dup vs fresh shape
    batch_derived = corpus.where(F.col("doc_id") % 25 < 2).select(
        F.when(
            F.col("doc_id") % 25 == 0, F.col("doc_id") + 100000
        ).otherwise(F.col("doc_id") + 200000).alias("doc_id"),
        F.when(
            F.col("doc_id") % 25 == 0,
            F.concat("text", F.lit(" zzduplicatemarker")),
        ).otherwise(
            F.concat(
                F.lit("fresh unseen content block "),
                F.col("doc_id").cast("string"),
                F.lit(" entirely novel tokens stream"),
            )
        ).alias("text"),
    )
    # Materialize the synthetic delivery once (lazy, run-scoped): the
    # probe consumes the batch three times (signature pipeline,
    # shingle sets for Jaccard verification, the final 1:1 left
    # join), and each reference re-derived it from a full documents
    # scan — a fixture artifact. In production the arriving batch IS
    # a materialized input file; this keeps the benched cost the
    # operator's real per-delivery cost (3 corpus scans → 1).
    batch = batch_derived.localCheckpoint(eager=True)
    return D.lsh_probe_new(
        corpus,
        batch,
        index=_band_index(spark, sf_dir, corpus),
    )


@register(
    "chunk_documents_tokens",
    f"""
    WITH toks AS (
      SELECT doc_id, {_SQL_TOKENS.format(t='text')} AS t FROM documents
    ),
    win AS (
      SELECT doc_id, i AS chunk_idx, t[i*48+1 : i*48+64] AS w
      FROM toks,
           unnest(generate_series(0, greatest((len(t) - 16 - 1) // 48, 0))) AS u(i)
      WHERE len(t) > 0
    )
    SELECT doc_id, chunk_idx::INT AS chunk_idx,
           len(w)::INT AS n_tokens,
           array_to_string(w, ' ') AS chunk_text
    FROM win
    """,
    doc="Token-window chunking with overlap (operators/text_analysis."
    "chunk_tokens): 64-token windows every 48 tokens (16-token "
    "overlap) — the context-window shard-prep convention, sibling of "
    "the char-based chunk_documents. One let-bound tokenize + "
    "sequence/slice HOFs + posexplode per doc: a single codegen'd "
    "generate, no shuffle, no UDF; emits per-chunk token counts so "
    "shard packing budgets without re-tokenizing. Exact hash match "
    "vs the SQL replica.",
    tags=("llm", "text"),
)
def chunk_documents_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.chunk_tokens(_t(spark, sf_dir, "documents"))


@register(
    "dq_expectations_report",
    """
    WITH o AS (
      SELECT count(*)::BIGINT AS n,
             sum(CASE WHEN o_totalprice IS NULL OR o_totalprice <= 0
                      THEN 1 ELSE 0 END)::BIGINT AS v1,
             sum(CASE WHEN o_orderdate IS NULL
                       OR year(o_orderdate) NOT BETWEEN 1992 AND 2001
                      THEN 1 ELSE 0 END)::BIGINT AS v2,
             sum(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
                       OR o_orderstatus IS NULL
                      THEN 1 ELSE 0 END)::BIGINT AS v3,
             sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS v4
      FROM orders
    ),
    l AS (
      SELECT count(*)::BIGINT AS n,
             sum(CASE WHEN l_discount IS NULL
                       OR l_discount < 0 OR l_discount > 0.1
                      THEN 1 ELSE 0 END)::BIGINT AS v1,
             sum(CASE WHEN l_quantity IS NULL
                       OR l_quantity < 1 OR l_quantity > 50
                      THEN 1 ELSE 0 END)::BIGINT AS v2,
             sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)::BIGINT AS v3,
             sum(CASE WHEN l_extendedprice IS NULL OR l_extendedprice <= 0
                      THEN 1 ELSE 0 END)::BIGINT AS v4
      FROM lineitem
    )
    SELECT * FROM (
      SELECT 'orders.totalprice_positive' AS rule, n, v1 AS n_violations, v1 = 0 AS pass FROM o
      UNION ALL SELECT 'orders.orderdate_in_range', n, v2, v2 = 0 FROM o
      UNION ALL SELECT 'orders.status_in_domain', n, v3, v3 = 0 FROM o
      UNION ALL SELECT 'orders.orderkey_not_null', n, v4, v4 = 0 FROM o
      UNION ALL SELECT 'lineitem.discount_in_range', n, v1, v1 = 0 FROM l
      UNION ALL SELECT 'lineitem.quantity_in_range', n, v2, v2 = 0 FROM l
      UNION ALL SELECT 'lineitem.shipdate_not_null', n, v3, v3 = 0 FROM l
      UNION ALL SELECT 'lineitem.extendedprice_positive', n, v4, v4 = 0 FROM l
    )
    """,
    doc="Data-quality expectation suite as one query (the "
    "Great-Expectations-shaped gate a pipeline runs before letting a "
    "delivery into the lake): null checks, range checks, and domain "
    "checks for orders and lineitem, each reported as (rule, rows, "
    "violations, pass). Execution shape: ONE conditional-aggregation "
    "scan per table — eight rules cost two passes total, not eight — "
    "then the 2-row aggregate unpivots into the 8-row report via a "
    "stack (Expand on aggregated rows, no shuffle). Violation counts "
    "are exact integers, hash-checked; at 100 TB the report costs "
    "the same two scans any single metric would.",
    tags=("relational", "etl", "quality"),
)
def dq_expectations_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")

    def viol(cond: Column) -> Column:
        return F.sum(cond.cast("int")).cast("long")

    o_agg = o.agg(
        F.count(F.lit(1)).alias("n"),
        viol(F.col("o_totalprice").isNull() | (F.col("o_totalprice") <= 0)).alias("v1"),
        viol(
            F.col("o_orderdate").isNull()
            | ~F.year("o_orderdate").between(1992, 2001)
        ).alias("v2"),
        viol(
            F.col("o_orderstatus").isNull()
            | ~F.col("o_orderstatus").isin("O", "F", "P")
        ).alias("v3"),
        viol(F.col("o_orderkey").isNull()).alias("v4"),
    )
    l_agg = li.agg(
        F.count(F.lit(1)).alias("n"),
        viol(
            F.col("l_discount").isNull()
            | (F.col("l_discount") < 0)
            | (F.col("l_discount") > 0.1)
        ).alias("v1"),
        viol(
            F.col("l_quantity").isNull()
            | (F.col("l_quantity") < 1)
            | (F.col("l_quantity") > 50)
        ).alias("v2"),
        viol(F.col("l_shipdate").isNull()).alias("v3"),
        viol(
            F.col("l_extendedprice").isNull() | (F.col("l_extendedprice") <= 0)
        ).alias("v4"),
    )

    def report(agg: DataFrame, rules: list[tuple[str, str]]) -> DataFrame:
        pairs = ", ".join(f"'{name}', {col}" for name, col in rules)
        return agg.selectExpr(
            f"stack({len(rules)}, {pairs}) AS (rule, n_violations)", "n"
        ).select("rule", "n", "n_violations", (F.col("n_violations") == 0).alias("pass"))

    return report(
        o_agg,
        [
            ("orders.totalprice_positive", "v1"),
            ("orders.orderdate_in_range", "v2"),
            ("orders.status_in_domain", "v3"),
            ("orders.orderkey_not_null", "v4"),
        ],
    ).unionByName(
        report(
            l_agg,
            [
                ("lineitem.discount_in_range", "v1"),
                ("lineitem.quantity_in_range", "v2"),
                ("lineitem.shipdate_not_null", "v3"),
                ("lineitem.extendedprice_positive", "v4"),
            ],
        )
    )


@register(
    "trimmed_price_by_priority",
    """
    WITH ranked AS (
      SELECT o_orderpriority, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice, o_orderkey) AS r,
             count(*) OVER (PARTITION BY o_orderpriority) AS n
      FROM orders
    ),
    kept AS (
      SELECT * FROM ranked
      WHERE r > floor(n * 0.05) AND r <= n - floor(n * 0.05)
    )
    SELECT o_orderpriority,
           min(n)::BIGINT AS n_total,
           count(*)::BIGINT AS n_kept,
           round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2)::DOUBLE
             AS kept_sum,
           floor((sum(CAST(o_totalprice AS DECIMAL(18,2))) * 1000000)::DOUBLE
                 / count(*))::BIGINT AS trimmed_mean_e6
    FROM kept
    GROUP BY o_orderpriority
    """,
    doc="Exact 5% two-sided trimmed mean per group — the robust "
    "aggregate for outlier-resistant reporting (a winsorized variant "
    "is the same plan with a clamp instead of a filter). Total-order "
    "rank (price, orderkey tiebreak) + per-group count in ONE window "
    "pass sharing a single hash partitioning; the trim bound is pure "
    "arithmetic on (r, n); sums run in DECIMAL so 1000-executor "
    "partial-aggregation order can't move a cent, and the mean is "
    "floor-scaled micro-units (engine-tie-proof). One shuffle on the "
    "group key end to end.",
    tags=("relational", "window", "quality"),
)
def trimmed_price_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    wn = Window.partitionBy("o_orderpriority")
    ranked = o.select(
        "o_orderpriority",
        "o_totalprice",
        F.row_number().over(w).alias("r"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    trim = F.floor(F.col("n") * 0.05)
    kept = ranked.where((F.col("r") > trim) & (F.col("r") <= F.col("n") - trim))
    dec = F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
    return kept.groupBy("o_orderpriority").agg(
        F.min("n").cast("long").alias("n_total"),
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.round(dec, 2).cast("double").alias("kept_sum"),
        F.floor((dec * 1000000).cast("double") / F.count(F.lit(1)))
        .cast("long")
        .alias("trimmed_mean_e6"),
    )


@register(
    "benford_first_digit",
    """
    WITH cents AS (
      SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS c FROM orders
      WHERE o_totalprice > 0
    ),
    digits AS (
      SELECT substr(c::VARCHAR, 1, 1) AS digit FROM cents
    ),
    counts AS (SELECT digit, count(*)::BIGINT AS n FROM digits GROUP BY digit),
    total AS (SELECT sum(n)::BIGINT AS t FROM counts)
    SELECT digit, n,
           floor(n * 1000000.0 / t)::BIGINT AS share_ppm
    FROM counts CROSS JOIN total
    """,
    doc="Benford first-significant-digit audit — the classic "
    "financial-data anomaly screen (fabricated amounts drift from "
    "the log distribution; here the synthetic uniform-ish prices "
    "measurably DON'T follow Benford, which is itself the signal "
    "the report exists to surface). Digit extraction goes through "
    "exact integer cents (floor(x*100) — cast of double to bigint "
    "ROUNDS in some engines and truncates in others, so the floor is "
    "spelled explicitly) and string slicing of a bigint, never "
    "float log10. One map-side-combined groupBy to ≤9 rows + a "
    "1-row broadcast total. Exact hash match at both SFs.",
    tags=("relational", "quality"),
)
def benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 0)
    digits = o.select(
        F.substring(
            F.floor(F.col("o_totalprice") * 100).cast("long").cast("string"), 1, 1
        ).alias("digit")
    )
    counts = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(F.sum("n").alias("t"))
    return counts.crossJoin(F.broadcast(total)).select(
        "digit",
        "n",
        F.floor(F.col("n") * 1000000.0 / F.col("t")).cast("long").alias("share_ppm"),
    )


@register(
    "mixture_design_report",
    f"""
    WITH base AS (
      SELECT lang, source, {_SQL_TOKENS.format(t='text')} AS toks,
             length(regexp_replace(text, '\\s', '', 'g')) AS nonspace,
             length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS punct
      FROM documents
    ),
    m AS (
      SELECT lang, source,
             len(toks)::BIGINT AS n_tokens,
             CAST(floor(((least(len(toks)::DOUBLE / 100.0, 1.0)
               + greatest(1.0 - (CASE WHEN nonspace > 0
                   THEN punct::DOUBLE / nonspace::DOUBLE ELSE 0.0 END) * 5.0, 0.0)
               + least((CASE WHEN len(toks) > 0 THEN
                   len(list_filter(toks, x -> list_contains({_SQL_STOP_EN}, x)))::DOUBLE
                     / len(toks)::DOUBLE ELSE 0.0 END) * 5.0, 1.0)) / 3.0)
               * 1000000.0 + 0.5) AS BIGINT) AS q_e6
      FROM base
    ),
    total AS (SELECT sum(n_tokens)::BIGINT AS t FROM m),
    cells AS (
      -- GROUPING() distinguishes a rollup subtotal row from a genuine
      -- NULL lang/source value; the two must not share a sentinel
      SELECT CASE WHEN GROUPING(lang) = 1 THEN '<all>'
                  ELSE coalesce(lang, '<null>') END AS lang,
             CASE WHEN GROUPING(source) = 1 THEN '<all>'
                  ELSE coalesce(source, '<null>') END AS source,
             count(*)::BIGINT AS n_docs,
             sum(n_tokens)::BIGINT AS sum_tokens,
             sum(q_e6)::BIGINT AS sum_q
      FROM m GROUP BY ROLLUP(lang, source)
    )
    SELECT lang, source, n_docs, sum_tokens,
           floor(sum_tokens * 1000000.0 / t)::BIGINT AS token_share_ppm,
           floor(sum_q::DOUBLE / n_docs)::BIGINT AS mean_quality_e6
    FROM cells CROSS JOIN total
    """,
    doc="Corpus mixture design report — the dashboard you actually "
    "stare at when weighting a pre-training mix: per (lang, source) "
    "ROLLUP cell, document count, token mass, token share of the "
    "whole corpus (floor-ppm off a 1-row broadcast total), and mean "
    "quality. Quality flows as exact integer micro-units per doc "
    "(the 6dp-rounded double of text_stats made summable — float "
    "sums across 1000 executors are order-dependent, int64 sums are "
    "not). One tokenize pass, one rollup aggregation (Expand: cell + "
    "lang + grand-total rows from a single shuffle). Exact hash "
    "match vs the SQL replica.",
    tags=("llm", "text", "quality"),
)
def mixture_design_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    t = F.col("text")
    tc = T.token_count(t).cast("double")
    q = (
        F.least(tc / 100.0, F.lit(1.0))
        + F.greatest(1.0 - T.punct_ratio(t) * 5.0, F.lit(0.0))
        + F.least(T.stopword_ratio(t) * 5.0, F.lit(1.0))
    ) / 3.0
    m = d.select(
        "lang",
        "source",
        T.token_count(t).cast("long").alias("n_tokens"),
        F.floor(q * 1000000.0 + 0.5).cast("long").alias("q_e6"),
    )
    total = m.agg(F.sum("n_tokens").alias("t"))
    cells = (
        m.rollup("lang", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("sum_tokens"),
            F.sum("q_e6").cast("long").alias("sum_q"),
            F.grouping("lang").alias("_gl"),
            F.grouping("source").alias("_gs"),
        )
        # grouping() tags a rollup subtotal row; a genuine NULL value
        # gets its own sentinel so the two never conflate
        .select(
            F.when(F.col("_gl") == 1, F.lit("<all>"))
            .otherwise(F.coalesce("lang", F.lit("<null>")))
            .alias("lang"),
            F.when(F.col("_gs") == 1, F.lit("<all>"))
            .otherwise(F.coalesce("source", F.lit("<null>")))
            .alias("source"),
            "n_docs",
            "sum_tokens",
            "sum_q",
        )
    )
    return cells.crossJoin(F.broadcast(total)).select(
        "lang",
        "source",
        "n_docs",
        "sum_tokens",
        F.floor(F.col("sum_tokens") * 1000000.0 / F.col("t"))
        .cast("long")
        .alias("token_share_ppm"),
        F.floor(F.col("sum_q").cast("double") / F.col("n_docs"))
        .cast("long")
        .alias("mean_quality_e6"),
    )


@register(
    "equidepth_price_histogram",
    """
    WITH ranked AS (
      SELECT o_totalprice,
             ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
      FROM orders
    )
    SELECT bucket,
           count(*)::BIGINT AS n,
           min(o_totalprice) AS lo,
           max(o_totalprice) AS hi,
           round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2)::DOUBLE AS bucket_sum
    FROM ranked GROUP BY bucket
    """,
    doc="Equi-DEPTH decile histogram (the optimizer-statistics / "
    "data-profiling twin of the equi-width totalprice_histogram): "
    "ntile over a total order (price, orderkey tiebreak — ntile on a "
    "non-unique key is partition-dependent, the determinism gate's "
    "bread and butter) then per-bucket count/bounds/decimal sum. The "
    "global sort is one range exchange; bucket bounds are exactly "
    "the decile fences a cost model or a visual profiler wants. At "
    "100 TB the same result comes cheaper from approx_percentile "
    "fences + a bucketed agg — this is the exact reference "
    "implementation those fences are audited against.",
    tags=("relational", "window", "quality"),
)
def equidepth_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = Window.orderBy("o_totalprice", "o_orderkey")
    return (
        o.select("o_totalprice", F.ntile(10).over(w).alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("bucket_sum"),
        )
    )


@register(
    "corpus_quota_sample",
    f"""
    WITH base AS (
      SELECT doc_id, lang, source,
             len({_SQL_TOKENS.format(t='text')})::BIGINT AS n_tokens,
             md5('qs:' || doc_id::VARCHAR) AS h
      FROM documents
    ),
    cum AS (
      SELECT *, coalesce(sum(n_tokens) OVER (
               PARTITION BY lang, source ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
      FROM base
    )
    SELECT lang, source,
           count(*)::BIGINT AS n_docs_kept,
           sum(n_tokens)::BIGINT AS n_tokens_kept,
           min(h) AS first_pick_hash
    FROM cum WHERE cum_before < 2000
    GROUP BY lang, source
    """,
    doc="Budgeted mixture sampling — the step that turns a mixture "
    "DESIGN (mixture_design_report) into an actual training shard "
    "list: per (lang, source) cell, take documents in a "
    "DETERMINISTIC pseudo-random order (md5 of a salted doc_id — no "
    "RNG, identical on any cluster size, re-runnable byte-for-byte) "
    "until the cell's token budget (2000 here) is reached; a doc is "
    "kept iff the tokens BEFORE it are under budget, so every cell "
    "lands within one document of its quota. One shuffle (the "
    "per-cell window); cells are the unit of parallelism, and at "
    "100 TB a giant cell swaps in the two-phase prefix_sum for the "
    "same exclusive-cumsum semantics. Output is the per-cell "
    "sampling ledger (kept docs, kept tokens, first pick). Exact "
    "hash match vs the SQL replica.",
    tags=("llm", "sampling", "quality"),
)
def corpus_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        "lang",
        "source",
        T.token_count(F.col("text")).cast("long").alias("n_tokens"),
        F.md5(F.concat(F.lit("qs:"), F.col("doc_id").cast("string"))).alias("h"),
    )
    w = (
        Window.partitionBy("lang", "source")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        base.withColumn("cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
        .where(F.col("cum_before") < 2000)
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs_kept"),
            F.sum("n_tokens").cast("long").alias("n_tokens_kept"),
            F.min("h").alias("first_pick_hash"),
        )
    )


@register(
    "bpe_encode_stats",
    _bpe_encode_oracle_sql(_BPE_K),
    doc="Apply the TRAINED tokenizer (the other half of the BPE "
    "loop): bpe_train(..., return_state=True) hands back the final "
    "vocab segmentation (w → syms) alongside the merge list; "
    "encoding the corpus is then a tokens→vocab hash join — no "
    "merge ever re-runs against a document, which is the whole "
    "point of training on the DISTINCT-word table. Output per doc: "
    "word count, post-BPE token count, chars (the compression "
    "ledger a tokenizer-throughput dashboard wants); docs with no "
    "tokens surface as zeros via the left join. At 100 TB the "
    "encoder table is vocab-sized → broadcast, so the corpus-side "
    "cost is one tokenize+explode pass. Exact hash match vs the "
    "k-unrolled replica reading st_k.",
    tags=("llm", "text", "tokenizer"),
)
def bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(D.tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    _, state = T.bpe_train(words, k=_BPE_K, return_state=True)
    enc = state.select("w", F.size("syms").cast("long").alias("n_syms"))
    toks = d.select("doc_id", F.explode(D.tokens(F.col("text"))).alias("w"))
    per_doc = (
        toks.join(F.broadcast(enc), "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_syms").cast("long").alias("n_bpe_tokens"),
        )
    )
    return d.select("doc_id", "n_chars").join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_words", F.lit(0)).cast("long").alias("n_words"),
        F.coalesce("n_bpe_tokens", F.lit(0)).cast("long").alias("n_bpe_tokens"),
        F.col("n_chars").cast("long").alias("n_chars"),
    )


_SQL_SHINGLES5 = f"""
    CASE WHEN len({_SQL_TOKENS.format(t='{t}')}) >= 5 THEN
      list_distinct(list_transform(
        generate_series(0, len({_SQL_TOKENS.format(t='{t}')}) - 5),
        i -> array_to_string(({_SQL_TOKENS.format(t='{t}')})[i+1:i+5], ' ')))
    ELSE [array_to_string({_SQL_TOKENS.format(t='{t}')}, ' ')] END
"""


@register(
    "benchmark_contamination",
    f"""
    WITH bench AS (
      SELECT doc_id AS bench_id, unnest({_SQL_SHINGLES5.format(t='text')}) AS sh,
             len({_SQL_SHINGLES5.format(t='text')})::BIGINT AS bench_n
      FROM documents WHERE doc_id % 100 = 7
    ),
    corp AS (
      SELECT doc_id AS corpus_id, unnest({_SQL_SHINGLES5.format(t='text')}) AS sh
      FROM documents WHERE doc_id % 100 <> 7
    ),
    hits AS (
      SELECT b.bench_id, c.corpus_id, min(b.bench_n) AS bench_n,
             count(*)::BIGINT AS n_shared
      FROM bench b JOIN corp c ON b.sh = c.sh
      GROUP BY b.bench_id, c.corpus_id
    )
    SELECT bench_id,
           count(*)::BIGINT AS n_overlapping_docs,
           max(n_shared)::BIGINT AS max_shared,
           sum(CASE WHEN 2 * n_shared >= bench_n THEN 1 ELSE 0 END)::BIGINT
             AS n_half_contaminated
    FROM hits GROUP BY bench_id
    """,
    doc="Benchmark DECONTAMINATION scan — the check every training "
    "corpus runs before a model ships: which corpus documents share "
    "5-word shingles with a held-out benchmark set (here doc_id%100"
    "==7, ~1% at any SF), per benchmark doc: overlapping-doc count, "
    "max shared-shingle count, and how many corpus docs cover ≥half "
    "the benchmark's shingles (the 'verbatim leak' bar). Shape: the "
    "benchmark postings are tiny vs the corpus → broadcast; the "
    "corpus side is ONE shingle-explode pass with a map-side "
    "broadcast join and partial aggregation — no corpus shuffle at "
    "all until the (bench_id, corpus_id) rollup, which is hit-sized. "
    "All-integer output, exact hash match vs the SQL replica.",
    tags=("llm", "dedup", "quality"),
)
def benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    is_bench = F.col("doc_id") % 100 == 7
    sh5 = D.word_shingles(F.col("text"), 5)
    bench = (
        d.where(is_bench)
        .select(
            F.col("doc_id").alias("bench_id"),
            F.explode(sh5).alias("sh"),
            F.size(sh5).cast("long").alias("bench_n"),
        )
    )
    corp = d.where(~is_bench).select(
        F.col("doc_id").alias("corpus_id"), F.explode(sh5).alias("sh")
    )
    hits = (
        corp.join(F.broadcast(bench), "sh")
        .groupBy("bench_id", "corpus_id")
        .agg(
            F.min("bench_n").alias("bench_n"),
            F.count(F.lit(1)).cast("long").alias("n_shared"),
        )
    )
    return hits.groupBy("bench_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_overlapping_docs"),
        F.max("n_shared").cast("long").alias("max_shared"),
        F.sum((2 * F.col("n_shared") >= F.col("bench_n")).cast("int"))
        .cast("long")
        .alias("n_half_contaminated"),
    )


@register(
    "dataset_split_assign",
    f"""
    WITH assigned AS (
      SELECT doc_id, lang,
             len({_SQL_TOKENS.format(t='text')})::BIGINT AS n_tokens,
             CASE
               WHEN ('0x' || substr(md5('split:' || doc_id::VARCHAR), 1, 8))::BIGINT % 100 < 90 THEN 'train'
               WHEN ('0x' || substr(md5('split:' || doc_id::VARCHAR), 1, 8))::BIGINT % 100 < 95 THEN 'val'
               ELSE 'test'
             END AS split
      FROM documents
    )
    SELECT split, lang,
           count(*)::BIGINT AS n_docs,
           sum(n_tokens)::BIGINT AS n_tokens
    FROM assigned GROUP BY split, lang
    """,
    doc="Leakage-proof train/val/test assignment: split = salted-md5 "
    "bucket of the DOCUMENT ID (90/5/5), so membership is a pure "
    "function of identity — stable when the corpus grows, "
    "reshuffles, or re-partitions, and reproducible on any cluster "
    "without an RNG or a persisted assignment table. Output is the "
    "per-(split, lang) ledger. Map-only projection + one rollup "
    "shuffle; the md5-prefix integer trick is the same "
    "engine-portable hash used by the sampling queries. Exact hash "
    "match vs the SQL replica.",
    tags=("llm", "sampling"),
)
def dataset_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        % 100
    )
    split = (
        F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
    )
    return (
        d.select(
            split.alias("split"),
            "lang",
            T.token_count(F.col("text")).cast("long").alias("n_tokens"),
        )
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
    )


@register(
    "zorder_layout_audit",
    """
    WITH base AS (
      SELECT o_custkey,
             (epoch(o_orderdate) // 86400)::BIGINT AS day
      FROM orders
    ),
    stats AS (
      SELECT min(o_custkey)::DOUBLE AS mn_c, max(o_custkey)::DOUBLE AS mx_c,
             min(day)::DOUBLE AS mn_d, max(day)::DOUBLE AS mx_d
      FROM base
    ),
    keyed AS (
      SELECT o_custkey, day,
             list_sum(list_transform(generate_series(0, 7), b ->
               (((least(255, floor((o_custkey - mn_c) / (CASE WHEN mx_c - mn_c = 0 THEN 1 ELSE mx_c - mn_c END) * 256))::BIGINT >> b) & 1) << (b * 2))
               + (((least(255, floor((day - mn_d) / (CASE WHEN mx_d - mn_d = 0 THEN 1 ELSE mx_d - mn_d END) * 256))::BIGINT >> b) & 1) << (b * 2 + 1))
             ))::BIGINT AS z
      FROM base CROSS JOIN stats
    )
    SELECT (z >> 8)::BIGINT AS z_chunk,
           count(*)::BIGINT AS n,
           min(o_custkey)::BIGINT AS min_cust, max(o_custkey)::BIGINT AS max_cust,
           min(day)::BIGINT AS min_day, max(day)::BIGINT AS max_day
    FROM keyed GROUP BY 1
    """,
    doc="Z-ORDER layout audit (sinks/maintenance.zorder_key, the "
    "write path behind write_zorder_parquet): Morton-interleave the "
    "8-bit equi-width buckets of (o_custkey, order day) and roll up "
    "per 256-key z-chunk — each chunk's (cust, day) bounding box is "
    "the min/max a part file's parquet footer would carry, i.e. the "
    "2-D pruning envelope. A contiguous Morton range is a "
    "near-square region, so every chunk spans ~1/16 of EACH "
    "dimension instead of all of one — that is the property that "
    "lets a predicate on either column skip most files at 100 TB. "
    "The interleave is one codegen'd integer fold (no UDF); min/max "
    "scaling constants come from a model-sized driver agg. Exact "
    "hash match vs the SQL replica (all-integer outputs).",
    tags=("relational", "layout"),
)
def zorder_layout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbm_nca_ph_etl_spark.sinks.maintenance import zorder_key

    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.floor(F.unix_timestamp("o_orderdate") / 86400).cast("long").alias("day"),
    )
    keyed, key = zorder_key(o, ["o_custkey", "day"], bits_per_col=8)
    return (
        keyed.groupBy(F.shiftright(F.col(key), 8).cast("long").alias("z_chunk"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("o_custkey").cast("long").alias("min_cust"),
            F.max("o_custkey").cast("long").alias("max_cust"),
            F.min("day").cast("long").alias("min_day"),
            F.max("day").cast("long").alias("max_day"),
        )
    )


@register(
    "hist_matview_price_bins",
    """
    WITH binned AS (
      SELECT o_orderpriority,
             least(31, greatest(0,
               floor(o_totalprice / 600000.0 * 32)))::INT AS bin
      FROM orders
    )
    SELECT o_orderpriority, bin, count(*)::BIGINT AS n
    FROM binned GROUP BY o_orderpriority, bin
    """,
    doc="Mergeable HISTOGRAM sketch matview (sinks/matview.py "
    "kind='hist'): per-priority 32-bin equi-width counts of "
    "o_totalprice, built as three disjoint batches folded through "
    "merge_partials in a non-arrival association order — the "
    "quantile/distribution answer for incremental views, strictly "
    "more algebra than HLL (bin counts are plain sums, so the "
    "sketch is mergeable AND retractable). The partial agg is 32 "
    "conditional sums inside the one shared groupBy; the oracle "
    "aggregates the whole table directly, so the hash match proves "
    "the bin algebra exact under any fold order. Zero-count bins "
    "are dropped at read-out (the stored array keeps them). "
    "Read-time quantile estimation off the same array is "
    "derived_quantile (bin-width error bound, pinned by "
    "test_sinks).",
    tags=("lake", "incremental", "quality"),
)
def hist_matview_price_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbm_nca_ph_etl_spark.sinks.matview import (
        Measure,
        merge_partials,
        partial_agg,
    )

    o = _t(spark, sf_dir, "orders")
    keys = ["o_orderpriority"]
    measures = [
        Measure("price_hist", "o_totalprice", "hist", lo=0.0, hi=600000.0, bins=32)
    ]
    batches = [
        partial_agg(o.where(F.col("o_orderkey") % 3 == i), keys, measures)
        for i in range(3)
    ]
    folded = merge_partials(
        [merge_partials([batches[1], batches[2]], keys, measures), batches[0]],
        keys,
        measures,
    )
    return (
        folded.select(
            "o_orderpriority", F.posexplode("price_hist").alias("bin", "n")
        )
        .where(F.col("n") > 0)
        .select("o_orderpriority", F.col("bin").cast("int"), F.col("n").cast("long"))
    )


@register(
    "hybrid_search_rrf",
    f"""
    WITH posting AS ({{posting}}),
    dl AS (
      SELECT doc_id,
             len(list_filter(string_split_regex(lower(text), '\\s+'),
                             x -> x <> ''))::BIGINT AS doc_len
      FROM documents
    ),
    stats AS (SELECT count(*)::BIGINT AS n_docs, avg(doc_len) AS avgdl FROM dl),
    probed AS (
      SELECT * FROM posting
      WHERE token IN ('join', 'hash', 'filter', 'window')
    ),
    dfreq AS (SELECT token, count(*)::BIGINT AS df FROM probed GROUP BY token),
    lex AS (
      SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r_lex
      FROM (
        SELECT p.doc_id,
               round(sum(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                         * tf * 2.2
                         / (tf + 1.2 * (0.25 + 0.75 * doc_len / avgdl))),
                     6) AS score
        FROM probed p JOIN dfreq USING (token) JOIN dl USING (doc_id)
        CROSS JOIN stats GROUP BY p.doc_id
      ) ORDER BY score DESC, doc_id LIMIT 50
    ),
    q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    sem AS (
      SELECT doc_id, row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS r_sem
      FROM (
        SELECT vec_id AS doc_id,
               round(list_dot_product(qv, embedding::DOUBLE[])
                     / (sqrt(list_dot_product(qv, qv))
                        * sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))),
                     6) AS cos_sim
        FROM embeddings CROSS JOIN q WHERE vec_id <> 0
      ) ORDER BY cos_sim DESC, doc_id LIMIT 50
    )
    SELECT doc_id,
           floor((coalesce(1.0 / (60 + r_lex), 0.0)
                  + coalesce(1.0 / (60 + r_sem), 0.0)) * 1000000000.0 + 0.5)::BIGINT
             AS rrf_e9,
           r_lex::INT AS r_lex, r_sem::INT AS r_sem
    FROM lex FULL OUTER JOIN sem USING (doc_id)
    ORDER BY rrf_e9 DESC, doc_id LIMIT 10
    """.format(posting=_SQL_POSTINGS),
    doc="HYBRID retrieval — reciprocal-rank fusion of the two "
    "retrieval systems the engine already ships: BM25 lexical top-50 "
    "(operators/inverted.bm25_search over the posting index) and "
    "exact cosine semantic top-50 for query vector 0 "
    "(operators/similarity.cosine_topk; swap in the LSH/IVF probes "
    "at scale — ranks are ranks). RRF score = Σ 1/(60+rank), the "
    "standard k=60 fusion that needs no score calibration between "
    "systems; a doc found by only one system contributes one term "
    "(full outer join + coalesce). Fused score carried as floor-e9 "
    "integer so the hash compare is float-free; distributed "
    "sort-limit top-10. Exact hash match vs the SQL replica of both "
    "rankers and the fusion.",
    tags=("llm", "search", "similarity"),
)
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbm_nca_ph_etl_spark.operators.inverted import (
        bm25_search,
        build_postings,
        doc_lengths,
    )

    d = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    lex = bm25_search(
        build_postings(d), doc_lengths(d),
        ["join", "hash", "filter", "window"], topk=50,
    ).select("doc_id", F.col("rank").alias("r_lex"))
    sem = S.cosine_topk(emb, emb.where(F.col("vec_id") == 0), k=50).select(
        F.col("neighbor_id").alias("doc_id"), F.col("rank").alias("r_sem")
    )
    rrf = (
        F.coalesce(1.0 / (60 + F.col("r_lex")), F.lit(0.0))
        + F.coalesce(1.0 / (60 + F.col("r_sem")), F.lit(0.0))
    )
    return (
        lex.join(sem, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.floor(rrf * 1000000000.0 + 0.5).cast("long").alias("rrf_e9"),
            F.col("r_lex").cast("int").alias("r_lex"),
            F.col("r_sem").cast("int").alias("r_sem"),
        )
        .orderBy(F.col("rrf_e9").desc(), "doc_id")
        .limit(10)
    )


@register(
    "event_funnel",
    """
    WITH u1 AS (
      SELECT user_id,
             min(epoch_us(ts)) FILTER (WHERE event_type = 'view') AS s1
      FROM events GROUP BY user_id
    ),
    u2 AS (
      SELECT e.user_id, min(epoch_us(ts)) AS s2
      FROM events e JOIN u1 USING (user_id)
      WHERE event_type = 'click' AND epoch_us(ts) > s1
      GROUP BY e.user_id
    ),
    u3 AS (
      SELECT e.user_id, min(epoch_us(ts)) AS s3
      FROM events e JOIN u2 USING (user_id)
      WHERE event_type = 'purchase' AND epoch_us(ts) > s2
      GROUP BY e.user_id
    )
    SELECT * FROM (
      SELECT 1::INT AS step, 'view' AS event_type,
             count(s1)::BIGINT AS n_users FROM u1
      UNION ALL
      SELECT 2, 'click_after_view', count(*)::BIGINT FROM u2
      UNION ALL
      SELECT 3, 'purchase_after_click', count(*)::BIGINT FROM u3
    )
    """,
    doc="Ordered event-funnel attainment (view → click → purchase, "
    "strictly increasing event time per user) — the sequential-"
    "pattern query every product-analytics engine ships. Each stage "
    "is one conditional-min aggregate keyed by user plus a hash "
    "join back to the (already user-partitioned) event scan, so the "
    "three stages reuse one co-partitioning and every aggregate is "
    "map-side combined; no window over the full event history, no "
    "per-user array materialization. Timestamps compare as exact "
    "epoch-microsecond integers (the catalog loader's ts_us — "
    "session-TZ-proof). Output is the 3-row funnel ledger. Exact "
    "hash match vs the SQL replica.",
    tags=("relational", "events", "window"),
)
def event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts_us")
    u1 = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts_us"))).alias("s1")
    )
    u2 = (
        e.join(u1, "user_id")
        .where((F.col("event_type") == "click") & (F.col("ts_us") > F.col("s1")))
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("s2"))
    )
    u3 = (
        e.join(u2, "user_id")
        .where(
            (F.col("event_type") == "purchase") & (F.col("ts_us") > F.col("s2"))
        )
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("s3"))
    )
    return (
        u1.agg(F.count("s1").cast("long").alias("n_users"))
        .select(F.lit(1).cast("int").alias("step"), F.lit("view").alias("event_type"), "n_users")
        .unionByName(
            u2.agg(F.count(F.lit(1)).cast("long").alias("n_users")).select(
                F.lit(2).cast("int").alias("step"),
                F.lit("click_after_view").alias("event_type"),
                "n_users",
            )
        )
        .unionByName(
            u3.agg(F.count(F.lit(1)).cast("long").alias("n_users")).select(
                F.lit(3).cast("int").alias("step"),
                F.lit("purchase_after_click").alias("event_type"),
                "n_users",
            )
        )
    )


@register(
    "lsh_bucket_stats",
    f"""
    WITH docs2 AS (SELECT doc_id, text FROM documents),
    shingled AS (
      SELECT doc_id, unnest({_SQL_SHINGLES.format(t='text')}) AS shingle FROM docs2
    ),
    pre AS (
      SELECT doc_id, ('0x' || substr(md5(shingle), 1, 12))::BIGINT AS x FROM shingled
    ),
    hashed AS (
      SELECT doc_id, h::INT AS h,
             ([2557, 21041, 27717, 22863, 845, 29229, 30923, 19617, 21031, 18641, 30861, 30047, 14075, 20097, 17409, 24897][h+1]::BIGINT * x
              + [654583775, 229283573, 1051550459, 794471793, 803550167, 370913197, 1381971571, 2121308585, 996984527, 1343235941, 1511588075, 2103497953, 956612807, 1588911645, 33727075, 88489753][h+1]::BIGINT) % 2305843009213693951 AS hv
      FROM pre CROSS JOIN generate_series(0, 15) AS t(h)
    ),
    sigs AS (
      SELECT doc_id, h, min(hv) AS minhash FROM hashed GROUP BY doc_id, h
    ),
    buckets AS (
      SELECT doc_id, h // 4 AS band,
             md5(string_agg(minhash::VARCHAR, ',' ORDER BY h)) AS bucket
      FROM sigs GROUP BY doc_id, h // 4
    ),
    sizes AS (
      SELECT band, bucket, count(*)::BIGINT AS sz
      FROM buckets GROUP BY band, bucket
    )
    SELECT band::INT AS band,
           count(*)::BIGINT AS n_buckets,
           max(sz)::BIGINT AS max_bucket,
           sum(CASE WHEN sz > 1 THEN 1 ELSE 0 END)::BIGINT AS n_colliding,
           sum(sz * (sz - 1) / 2)::BIGINT AS n_candidate_pairs
    FROM sizes GROUP BY band
    """,
    doc="LSH index SKEW AUDIT — the operational dashboard for the "
    "MinHash band index: per band, bucket count, the largest bucket "
    "(a degenerate bucket is boilerplate or a hash pathology, and "
    "its size enters the pair count QUADRATICALLY), how many "
    "buckets collide at all, and Σ sz·(sz−1)/2 — the exact "
    "candidate-pair work the self-join/probe will do. This is the "
    "query you run BEFORE minhash_lsh_pairs on a new corpus: a "
    "max_bucket in the thousands says salt or re-band before "
    "paying the in-bucket pair explosion the SF-scaling harness "
    "exists to catch. Same signature pipeline as the index build "
    "(one tokenize pass, two map-side-combined rollups — the audit "
    "costs a tiny fraction of the pairing it de-risks). Exact hash "
    "match vs the SQL replica.",
    tags=("dedup", "llm", "quality"),
)
def lsh_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    sizes = (
        D.band_buckets(d)
        .groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("sz"))
    )
    return sizes.groupBy(F.col("band").cast("int").alias("band")).agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.max("sz").cast("long").alias("max_bucket"),
        F.sum((F.col("sz") > 1).cast("int")).cast("long").alias("n_colliding"),
        F.sum(F.col("sz") * (F.col("sz") - 1) / 2).cast("long").alias("n_candidate_pairs"),
    )


@register(
    "scd2_customer_history",
    """
    WITH base AS (SELECT c_custkey, c_acctbal FROM customer),
    chg AS (
      SELECT c_custkey, c_acctbal + 100 AS c_acctbal
      FROM base WHERE c_custkey % 10 = 3
      UNION ALL
      SELECT c_custkey, c_acctbal FROM base WHERE c_custkey % 10 = 4
      UNION ALL
      SELECT c_custkey + 1000000, 111.0 FROM base WHERE c_custkey % 200 = 7
    ),
    j AS (
      SELECT b.c_custkey, b.c_acctbal AS oldv, g.c_acctbal AS newv
      FROM base b LEFT JOIN chg g USING (c_custkey)
    )
    SELECT c_custkey, oldv AS c_acctbal,
           0::BIGINT AS valid_from, 1000::BIGINT AS valid_to
    FROM j WHERE newv IS NOT NULL AND newv <> oldv
    UNION ALL
    SELECT c_custkey, oldv, 0::BIGINT, NULL::BIGINT
    FROM j WHERE newv IS NULL OR newv = oldv
    UNION ALL
    SELECT g.c_custkey, g.c_acctbal, 1000::BIGINT, NULL::BIGINT
    FROM chg g LEFT JOIN base b USING (c_custkey)
    WHERE b.c_custkey IS NULL OR g.c_acctbal <> b.c_acctbal
    """,
    doc="SCD Type-2 dimension history (sinks/merge.scd2_apply): a "
    "change batch — real updates (acctbal+100), no-op redeliveries "
    "(identical values, which must NOT version — the T6 idempotence "
    "contract), and brand-new keys — applied to the customer "
    "dimension as validity intervals: changed keys close their "
    "current version at the effective time and append an open one; "
    "history rows never rewrite. Pure relational: two joins that "
    "both BROADCAST the batch side (the dimension is the 100 TB "
    "relation and only streams) + a union — no window over "
    "history. Current snapshot = valid_to IS NULL; as-of-T reads "
    "use the same interval predicate operators/asof.py joins on. "
    "Exact hash match vs the SQL replica.",
    tags=("lake", "incremental", "relational"),
)
def scd2_customer_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbm_nca_ph_etl_spark.sinks.merge import scd2_apply

    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    dim = c.select(
        "c_custkey",
        "c_acctbal",
        F.lit(0).cast("long").alias("valid_from"),
        F.lit(None).cast("long").alias("valid_to"),
    )
    chg = (
        c.where(F.col("c_custkey") % 10 == 3)
        .select("c_custkey", (F.col("c_acctbal") + 100).alias("c_acctbal"))
        .unionByName(
            c.where(F.col("c_custkey") % 10 == 4).select("c_custkey", "c_acctbal")
        )
        .unionByName(
            c.where(F.col("c_custkey") % 200 == 7).select(
                (F.col("c_custkey") + 1000000).alias("c_custkey"),
                F.lit(111.0).alias("c_acctbal"),
            )
        )
    )
    return scd2_apply(dim, chg, ["c_custkey"], effective=1000)


@register(
    "scd2_asof_order_balance",
    """
    WITH base AS (SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey % 10 = 3),
    hist AS (
      SELECT c_custkey, c_acctbal, 0::BIGINT AS vf, 10000::BIGINT AS vt FROM base
      UNION ALL
      SELECT c_custkey, c_acctbal + 100, 10000::BIGINT, NULL::BIGINT FROM base
    ),
    o AS (
      SELECT o_orderkey, o_custkey, (epoch(o_orderdate) // 86400)::BIGINT AS day
      FROM orders WHERE o_custkey % 10 = 3
    )
    SELECT o.o_orderkey, o.o_custkey, o.day,
           h.c_acctbal AS acctbal_asof,
           (o.day >= 10000)::BOOLEAN AS post_change
    FROM o JOIN hist h
      ON o.o_custkey = h.c_custkey
     AND h.vf <= o.day AND (h.vt IS NULL OR h.vt > o.day)
    """,
    doc="Temporal (as-of) fact→dimension join over an SCD-2 history "
    "(the read side of sinks/merge.scd2_apply): every order of a "
    "versioned customer picks the balance valid AT ITS ORDER DAY "
    "via the interval predicate vf <= t < vt — two versions here "
    "(effective day 10000 splits the order date range), so the "
    "query proves each order resolves exactly one version and the "
    "boundary lands on the open side. Planwise this is an EQUI join "
    "on the customer key with the interval as a residual filter — "
    "never a range-only nested loop — so it scales like any "
    "fact-dim join; the history side is per-key-small by "
    "construction. Exact hash match vs the SQL replica "
    "(day arithmetic on the NTZ timestamp is session-TZ-proof).",
    tags=("relational", "lake", "window"),
)
def scd2_asof_order_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_custkey") % 10 == 3)
        .select("c_custkey", "c_acctbal")
    )
    hist = c.select(
        "c_custkey",
        "c_acctbal",
        F.lit(0).cast("long").alias("vf"),
        F.lit(10000).cast("long").alias("vt"),
    ).unionByName(
        c.select(
            "c_custkey",
            (F.col("c_acctbal") + 100).alias("c_acctbal"),
            F.lit(10000).cast("long").alias("vf"),
            F.lit(None).cast("long").alias("vt"),
        )
    )
    o = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_custkey") % 10 == 3)
        .select(
            "o_orderkey",
            "o_custkey",
            F.floor(F.unix_timestamp("o_orderdate") / 86400)
            .cast("long")
            .alias("day"),
        )
    )
    return o.join(
        hist,
        (F.col("o_custkey") == F.col("c_custkey"))
        & (F.col("vf") <= F.col("day"))
        & (F.col("vt").isNull() | (F.col("vt") > F.col("day"))),
    ).select(
        "o_orderkey",
        "o_custkey",
        "day",
        F.col("c_acctbal").alias("acctbal_asof"),
        (F.col("day") >= 10000).alias("post_change"),
    )


@register(
    "corpus_yield_funnel",
    f"""
    WITH base AS (
      SELECT doc_id, text, lang, {_SQL_TOKENS.format(t='text')} AS toks,
             length(regexp_replace(text, '\\s', '', 'g')) AS nonspace,
             length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS punct
      FROM documents
    ),
    m AS (
      SELECT doc_id, text, lang, len(toks)::BIGINT AS n_tokens,
             CAST(floor(((least(len(toks)::DOUBLE / 100.0, 1.0)
               + greatest(1.0 - (CASE WHEN nonspace > 0
                   THEN punct::DOUBLE / nonspace::DOUBLE ELSE 0.0 END) * 5.0, 0.0)
               + least((CASE WHEN len(toks) > 0 THEN
                   len(list_filter(toks, x -> list_contains({_SQL_STOP_EN}, x)))::DOUBLE
                     / len(toks)::DOUBLE ELSE 0.0 END) * 5.0, 1.0)) / 3.0)
               * 1000000.0 + 0.5) AS BIGINT) AS q_e6
      FROM base
    ),
    f AS (
      SELECT doc_id, text, n_tokens,
             n_tokens >= 10 AS f2,
             n_tokens >= 10 AND lang = 'en' AS f3,
             n_tokens >= 10 AND lang = 'en' AND q_e6 >= 500000 AS f4
      FROM m
    ),
    keep AS (
      SELECT doc_id FROM (
        SELECT doc_id, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        FROM f WHERE f4
      ) WHERE rn = 1
    )
    SELECT * FROM (
      SELECT 1::INT AS stage, 'ingested' AS label,
             count(*)::BIGINT AS n_docs, sum(n_tokens)::BIGINT AS n_tokens FROM f
      UNION ALL
      SELECT 2, 'len_ge_10', count(*)::BIGINT, sum(n_tokens)::BIGINT FROM f WHERE f2
      UNION ALL
      SELECT 3, 'lang_en', count(*)::BIGINT, sum(n_tokens)::BIGINT FROM f WHERE f3
      UNION ALL
      SELECT 4, 'quality_ge_0.5', count(*)::BIGINT, sum(n_tokens)::BIGINT FROM f WHERE f4
      UNION ALL
      SELECT 5, 'exact_dedup', count(*)::BIGINT, sum(n_tokens)::BIGINT
      FROM f JOIN keep USING (doc_id)
    )
    """,
    doc="Data-curation YIELD FUNNEL — the per-stage survival ledger "
    "every corpus pipeline dashboard leads with: ingested → length "
    "floor → language gate → quality gate (the same integer-e6 "
    "composite mixture_design_report weights by) → exact dedup "
    "(min-doc_id survivor per text among stage-4 survivors). Doc "
    "and token counts per stage, so the cost of each filter is "
    "visible in tokens, not just documents. One tokenize pass "
    "computes every flag; stages 1-4 are conditional sums of that "
    "single projection, and only the dedup stage adds a shuffle "
    "(text-keyed, survivors only). All-integer output, exact hash "
    "match vs the SQL replica.",
    tags=("llm", "quality", "text"),
)
def corpus_yield_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    t = F.col("text")
    tc = T.token_count(t).cast("double")
    q = (
        F.least(tc / 100.0, F.lit(1.0))
        + F.greatest(1.0 - T.punct_ratio(t) * 5.0, F.lit(0.0))
        + F.least(T.stopword_ratio(t) * 5.0, F.lit(1.0))
    ) / 3.0
    f = d.select(
        "doc_id",
        "text",
        T.token_count(t).cast("long").alias("n_tokens"),
        (T.token_count(t) >= 10).alias("f2"),
        ((T.token_count(t) >= 10) & (F.col("lang") == "en")).alias("f3"),
        (
            (T.token_count(t) >= 10)
            & (F.col("lang") == "en")
            & (F.floor(q * 1000000.0 + 0.5).cast("long") >= 500000)
        ).alias("f4"),
    )
    w = Window.partitionBy("text").orderBy("doc_id")
    keep = (
        f.where("f4")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id")
    )

    def stage(n, label, frame):
        return frame.agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        ).select(
            F.lit(n).cast("int").alias("stage"),
            F.lit(label).alias("label"),
            "n_docs",
            "n_tokens",
        )

    return (
        stage(1, "ingested", f)
        .unionByName(stage(2, "len_ge_10", f.where("f2")))
        .unionByName(stage(3, "lang_en", f.where("f3")))
        .unionByName(stage(4, "quality_ge_0.5", f.where("f4")))
        .unionByName(stage(5, "exact_dedup", f.join(keep, "doc_id")))
    )


# ---------------------------------------------------------------------------
# Phase 12 — round 5: bucket-pruned merge, PQ ANN, mixed-codec assets
# ---------------------------------------------------------------------------

@register(
    "keyed_merge_audit",
    """
    WITH base AS (
      SELECT c_custkey, c_name, c_acctbal FROM customer
      WHERE c_custkey < 10000000
    ),
    batch AS (
      SELECT c_custkey, 'upd_' || c_custkey::VARCHAR AS c_name,
             c_acctbal + 1000 AS c_acctbal
      FROM base WHERE c_custkey % 10 = 3
      UNION ALL
      SELECT c_custkey + 10000000, 'new_' || c_custkey::VARCHAR, 5.0
      FROM base WHERE c_custkey % 10 = 4
    ),
    final AS (
      SELECT * FROM base
      WHERE c_custkey NOT IN (SELECT c_custkey FROM batch)
      UNION ALL SELECT * FROM batch
    ),
    kb AS (
      SELECT ('0x' || substr(md5(c_custkey::VARCHAR), 1, 12))::BIGINT % 16 AS kb,
             c_acctbal FROM final
    ),
    touched AS (
      SELECT DISTINCT
             ('0x' || substr(md5(c_custkey::VARCHAR), 1, 12))::BIGINT % 16 AS kb
      FROM batch
    )
    SELECT k.kb::INT AS kb, count(*) AS n_rows,
           sum(floor(k.c_acctbal * 100 + 0.5))::BIGINT AS acct_cents,
           k.kb IN (SELECT kb FROM touched) AS touched
    FROM kb k GROUP BY k.kb
    """,
    doc="Bucket-pruned keyed merge (sinks/keyed.upsert_keyed) — the "
    "r5 replacement for merge.upsert_parquet's O(table) full rewrite "
    "(reference parity: the keyed upsert of supabase_repository.py:"
    "59-65, re-expressed as a lake layout). The base table is hive-"
    "partitioned on _kb = pmod(hash48(key), 16); an upsert batch "
    "collects its own bucket ids (bounded driver state), PARTITION-"
    "PRUNES the base scan to those directories, left-antis the "
    "broadcast batch keys within them, and dynamic-partition-"
    "overwrites ONLY those directories — write cost per batch is "
    "touched_buckets x bucket_size, not table_size. This audit runs "
    "the real sink end-to-end on a scratch dir (build keyed table "
    "from customer, merge an update+insert batch, read back) and "
    "emits per-bucket row counts, integer-cent balance sums, and "
    "the touched flag; the oracle replays the merge relationally "
    "plus the md5-prefix bucket assignment. Exact hash match.",
    tags=("sink", "merge"),
)
def keyed_merge_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from dbm_nca_ph_etl_spark.sinks.keyed import (
        KB_COL,
        upsert_keyed,
        write_keyed,
    )

    base = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_custkey") < 10_000_000)
        .select("c_custkey", "c_name", "c_acctbal")
    )
    updates = base.where(F.col("c_custkey") % 10 == 3).select(
        "c_custkey",
        F.concat(F.lit("upd_"), F.col("c_custkey").cast("string")).alias("c_name"),
        (F.col("c_acctbal") + 1000).alias("c_acctbal"),
    )
    inserts = base.where(F.col("c_custkey") % 10 == 4).select(
        (F.col("c_custkey") + 10_000_000).alias("c_custkey"),
        F.concat(F.lit("new_"), F.col("c_custkey").cast("string")).alias("c_name"),
        F.lit(5.0).alias("c_acctbal"),
    )
    scratch = tempfile.mkdtemp(prefix="keyed_merge_audit_")
    try:
        path = f"{scratch}/t"
        write_keyed(base, path, ["c_custkey"], 16)
        touched = upsert_keyed(
            spark, updates.unionByName(inserts), path, ["c_custkey"]
        )
        out = (
            spark.read.parquet(path)
            .groupBy(F.col(KB_COL).alias("kb"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.floor(F.col("c_acctbal") * 100 + 0.5))
                .cast("long")
                .alias("acct_cents"),
            )
            .withColumn("touched", F.col("kb").isin([int(t) for t in touched]))
            # materialize before the scratch dir disappears: the
            # caller collects AFTER this function returns
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return out


def _pq_books(spark: SparkSession, sf_dir: str, emb) -> list:
    """Session-memoized PQ codebooks (similarity.pq_train) — the
    train-once model artifact. Training is one bounded sample plus
    driver-side Lloyd, so the memo mostly saves re-collecting it."""
    return session_memo(
        spark, ("pq_books", sf_dir), emb.inputFiles(),
        lambda: S.pq_train(emb, m=32, k=16, iters=10),
    )


@register(
    "ann_pq_topk",
    _SQL_EXACT_KTH,
    doc="Product-quantization ANN (similarity.pq_train / pq_encode / "
    "pq_topk) as a recall-bound audit: 32 two-dim subspace codebooks "
    "(k=16, trained FAISS-style on a bounded id-ordered sample with "
    "driver-side Lloyd — one Spark job, model-sized state), corpus "
    "encoded to 32 small ints + a reconstruction norm (the 100 TB "
    "compression shape: codes instead of floats on the scan side), "
    "asymmetric-distance scoring (query stays float, "
    "python-unrolled dot against the coded centroids — dim "
    "multiply-adds per pair, no HOF, no UDF), intersected with the "
    "float-exact top-10. Output per query: the exact k-th "
    "similarity (hash-verified vs DuckDB) and recall_ok (total hits "
    "≥ 20/100; measured 59 at sf0.01, 46 at sf0.1 — the "
    "near-uniform synthetic embeddings make top-10 gaps ~5e-3, a "
    "hard regime for 8× compression). Completes the vector-"
    "compression ladder: float exact → int8 (4×) → PQ (8× here, "
    "32× at float32/k≤256).",
    tags=("similarity", "llm"),
)
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    books = _pq_books(spark, sf_dir, emb)
    return _ann_recall_audit(
        S.pq_topk(emb, q, books, k=10), S.cosine_topk(emb, q, k=10), floor_hits=20
    )


@register(
    "ann_ivfpq_topk",
    _SQL_EXACT_KTH,
    doc="IVF-PQ composite ANN (similarity.ivfpq_encode / ivfpq_topk) "
    "— the FAISS ``IVFx,PQy`` layout that billion-vector indexes "
    "actually run: a 16-cell coarse quantizer prunes the CANDIDATE "
    "SET (each query explodes into its 8 nearest cells and "
    "hash-joins the cell key — ~n_probe/n_centroids of the corpus "
    "scored, never a cross join) while the 32-subspace PQ codebook "
    "compresses the REPRESENTATION inside probed cells (ADC: "
    "float query against coded centroids, dim multiply-adds per "
    "surviving pair). The two approximations compose orthogonally — "
    "IVF bounds compute, PQ bounds memory/IO; at 100 TB both are "
    "mandatory. The encode artifact (codes + recon norm + cell in "
    "ONE corpus projection, repartitioned by cell) persists "
    "build-once/probe-often. Audit: exact k-th similarity "
    "hash-verified vs DuckDB + recall_ok (hits ≥ 20/100; measured "
    "50 at sf0.01, 40 at sf0.1 — the n_probe=8/16 candidate prune "
    "costs ~9 hits vs plain PQ on these near-uniform synthetics).",
    tags=("similarity", "llm", "bench"),
)
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    books = _pq_books(spark, sf_dir, emb)
    cents = S._centroids(16, 64, 42)
    # the index artifact, built once per corpus snapshot; localCheckpoint
    # cuts the m×k codebook lineage out of every probe plan
    encoded = session_memo(
        spark, ("ivfpq_enc", sf_dir), emb.inputFiles(),
        lambda: S.ivfpq_encode(emb, books, cents).localCheckpoint(eager=True),
    )
    return _ann_recall_audit(
        S.ivfpq_topk(
            emb, q, books, k=10, n_centroids=16, n_probe=8,
            centroids=cents, encoded=encoded,
        ),
        S.cosine_topk(emb, q, k=10),
        floor_hits=20,
    )


@register(
    "mixed_codec_roundtrip",
    """
    WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 5 = 0),
    px AS (
      SELECT doc_id, (y * 16 + x) AS i,
             least((doc_id % 97) + y * 4 + x * 2, 255) AS p
      FROM d, unnest(range(0, 24)) AS t1(y), unnest(range(0, 16)) AS t2(x)
    )
    SELECT doc_id AS asset_id,
           CASE doc_id % 3 WHEN 0 THEN 'bmp' WHEN 1 THEN 'png'
                ELSE 'jpeg' END AS fmt,
           384 AS n_pixels,
           CASE WHEN doc_id % 3 = 2 THEN NULL
                ELSE sum(p * (i + 1)) END::BIGINT AS pix_checksum,
           true AS recon_ok
    FROM px GROUP BY doc_id
    """,
    doc="Mixed-format asset pipeline over all three REAL stdlib "
    "codecs (operators/multimodal BmpDecoder / PngDecoder / "
    "JpegDecoder — the r5 baseline-sequential ITU-T T.81 JFIF "
    "decoder included): per asset, deterministic saturated-gradient "
    "pixels are ENCODED to the doc's format (cycling bmp/png/jpeg), "
    "DECODED back in-engine, and audited — lossless legs emit an "
    "exact position-weighted pixel checksum the oracle replays "
    "arithmetically; the lossy jpeg leg emits a reconstruction "
    "bound verdict (mean |err| ≤ 2 at q90 on smooth content — "
    "measured ~0.4; an IDCT/huffman/marker regression blows it "
    "up immediately). One Arrow-batched mapInPandas pass, map-only, "
    "blobs never shuffle — the multimodal 100 TB contract.",
    tags=("multimodal", "llm"),
)
def mixed_codec_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd  # noqa: F401

    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id")
        .where(F.col("doc_id") % 5 == 0)
    )

    def gen(batches):
        import numpy as np
        import pandas as pd

        from dbm_nca_ph_etl_spark.operators.multimodal import (
            BmpDecoder,
            JpegDecoder,
            PngDecoder,
        )

        codecs = {0: ("bmp", BmpDecoder()), 1: ("png", PngDecoder()),
                  2: ("jpeg", JpegDecoder(quality=90))}
        H, W = 24, 16
        yy, xx = np.mgrid[0:H, 0:W]
        weights = (yy * W + xx + 1).astype(np.int64)
        for b in batches:
            ids, fmts, npx, cks, oks = [], [], [], [], []
            for did in b["doc_id"]:
                did = int(did)
                img = np.minimum((did % 97) + yy * 4 + xx * 2, 255).astype(
                    np.uint8
                )
                fmt, codec = codecs[did % 3]
                dec = codec.decode(codec.encode(img), None)
                err = np.abs(dec.astype(np.int64) - img.astype(np.int64)).mean()
                ids.append(did)
                fmts.append(fmt)
                npx.append(H * W)
                cks.append(
                    None
                    if fmt == "jpeg"
                    else int((dec.astype(np.int64) * weights).sum())
                )
                oks.append(bool(err <= 2.0))
            yield pd.DataFrame(
                {
                    "asset_id": pd.Series(ids, dtype="int64"),
                    "fmt": pd.Series(fmts, dtype="object"),
                    "n_pixels": pd.Series(npx, dtype="int32"),
                    "pix_checksum": pd.Series(cks, dtype="Int64"),
                    "recon_ok": pd.Series(oks, dtype="bool"),
                }
            )

    return docs.mapInPandas(
        gen,
        "asset_id bigint, fmt string, n_pixels int, pix_checksum bigint, "
        "recon_ok boolean",
    )


@register(
    "repeated_span_dedup",
    f"""
    WITH toks AS (
      SELECT doc_id, {_SQL_TOKENS.format(t='text')} AS t FROM documents
    ),
    sh AS (
      SELECT doc_id,
             unnest(generate_series(1, len(t) - 7)) AS pos,
             unnest(list_transform(generate_series(1, len(t) - 7),
                    i -> array_to_string(t[i:i+7], ' '))) AS s
      FROM toks WHERE len(t) >= 8
    ),
    ok AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 16),
    m AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.pos AS pa, b.pos AS pb, a.pos - b.pos AS delta
      FROM sh a JOIN sh b USING (s) JOIN ok USING (s)
      WHERE a.doc_id < b.doc_id
    ),
    runs AS (
      SELECT doc_a, doc_b, delta, pa, pb,
             pa - row_number() OVER (
               PARTITION BY doc_a, doc_b, delta ORDER BY pa) AS grp
      FROM m
    ),
    spans AS (
      SELECT doc_a, doc_b, (count(*) + 7)::INT AS span_tokens,
             min(pa)::BIGINT AS start_a, min(pb)::BIGINT AS start_b
      FROM runs GROUP BY doc_a, doc_b, delta, grp
    )
    SELECT doc_a, doc_b, span_tokens, start_a, start_b FROM (
      SELECT *, row_number() OVER (
        PARTITION BY doc_a, doc_b
        ORDER BY span_tokens DESC, start_a, start_b) AS rn
      FROM spans
    ) WHERE rn = 1 AND span_tokens >= 20
    """,
    doc="Cross-document EXACT repeated-substring dedup "
    "(operators/dedup.repeated_span_pairs) — the suffix-array "
    "'ExactSubstr' criterion of Lee et al. 2022 re-expressed "
    "relationally: a shared token span of length L surfaces as "
    "L-k+1 consecutive k-shingle matches at constant offset, so "
    "longest-common-substring per doc pair = gaps-and-islands over "
    "the positional shingle match table (window row_number minus "
    "position = island key). Posting-shaped with a df<=16 cap "
    "dropping boilerplate shingles BEFORE the self-join (hard "
    "df**2 fan-out bound — the skew guard every real corpus "
    "needs); the islands window and the run aggregate share a "
    "partitioning (no extra shuffle). Output: per near-dup pair "
    "the longest shared span (>= 20 tokens) with 1-based offsets "
    "in both docs — what a train-data pipeline feeds span excision, "
    "vs the doc-level verdicts of MinHash/SemDeDup. Exact hash "
    "match vs the SQL replica at both SFs.",
    tags=("llm", "dedup", "text", "bench"),
)
def repeated_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return D.repeated_span_pairs(d, min_len=20, k=8, df_cap=16)


@register(
    "cms_matview_user_freq",
    """
    WITH rows_r AS (SELECT unnest([0, 1, 2]) AS r),
    cells AS (
      SELECT event_type, r,
             ('0x' || substr(md5(r::VARCHAR || '|' || user_id::VARCHAR), 1, 12))::BIGINT
               % 32 AS b,
             count(*)::BIGINT AS c
      FROM events CROSS JOIN rows_r
      GROUP BY event_type, r, b
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    probes AS (SELECT unnest(range(0, 10)) AS user_id),
    est AS (
      SELECT t.event_type, p.user_id,
             min(coalesce(c.c, 0))::BIGINT AS est_freq
      FROM types t CROSS JOIN probes p CROSS JOIN rows_r r
      LEFT JOIN cells c ON c.event_type = t.event_type AND c.r = r.r
        AND c.b = ('0x' || substr(md5(r.r::VARCHAR || '|' || p.user_id::VARCHAR), 1, 12))::BIGINT % 32
      GROUP BY t.event_type, p.user_id
    ),
    exact AS (
      SELECT event_type, user_id, count(*)::BIGINT AS x
      FROM events WHERE user_id < 10 GROUP BY event_type, user_id
    )
    SELECT e.event_type, e.user_id, e.est_freq,
           coalesce(x.x, 0)::BIGINT AS exact_freq,
           e.est_freq >= coalesce(x.x, 0) AS overcount_ok,
           true AS merge_invariant
    FROM est e LEFT JOIN exact x
      ON x.event_type = e.event_type AND x.user_id = e.user_id
    """,
    doc="Mergeable point-frequency materialized view (sinks/matview.py "
    "kind='cms'): 'how often did item x occur per group?' is the "
    "third sketch axis after distributions (hist) and distinct "
    "counts (hll), and the view stores a count-min sketch — 3×32 "
    "md5-hashed counters per group (Cormode & Muthukrishnan 2005), "
    "a LINEAR sketch: counters add, so partials are mergeable AND "
    "retractable (full negate algebra; hll can't retract at all). "
    "The query folds events through TWO different batchings "
    "(event_id % 3 and % 2) and probes 10 users per event_type: "
    "est_freq (min across hash rows, derived_cms_count) is "
    "hash-verified against a full SQL replay of the sketch "
    "arithmetic — the md5-seeded buckets replay exactly in DuckDB — "
    "while overcount_ok asserts the CMS guarantee (never an "
    "undercount) and merge_invariant asserts both batchings "
    "produced identical counters (linearity ⇒ merge-path "
    "invariance). At 100 TB a refresh shuffles O(groups) 768-byte "
    "counter arrays, never raw events; persisted path shared with "
    "test_sinks.TestMaterializedAgg.",
    tags=("lake", "incremental", "sketch"),
)
def cms_matview_user_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbm_nca_ph_etl_spark.sinks.matview import (
        Measure,
        derived_cms_count,
        merge_partials,
        partial_agg,
    )

    ev = _t(spark, sf_dir, "events")
    keys = ["event_type"]
    m = Measure("user_cms", "user_id", "cms", depth=3, width=32)

    def fold(mod: int) -> DataFrame:
        return merge_partials(
            [
                partial_agg(ev.where(F.col("event_id") % mod == i), keys, [m])
                for i in range(mod)
            ],
            keys,
            [m],
        )

    probe = F.explode(F.array(*[F.lit(i) for i in range(10)])).alias("user_id")
    est3 = fold(3).select("event_type", "user_cms", probe).select(
        "event_type",
        F.col("user_id").cast("long").alias("user_id"),
        derived_cms_count(m, F.col("user_id")).alias("est_freq"),
    )
    est2 = fold(2).select("event_type", "user_cms", probe).select(
        "event_type",
        F.col("user_id").cast("long").alias("user_id"),
        derived_cms_count(m, F.col("user_id")).alias("_est2"),
    )
    exact = (
        ev.where(F.col("user_id") < 10)
        .groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("_x"))
    )
    return (
        est3.join(est2, ["event_type", "user_id"])
        .join(exact, ["event_type", "user_id"], "left")
        .select(
            "event_type",
            "user_id",
            "est_freq",
            F.coalesce(F.col("_x"), F.lit(0)).cast("long").alias("exact_freq"),
            (F.col("est_freq") >= F.coalesce(F.col("_x"), F.lit(0))).alias(
                "overcount_ok"
            ),
            (F.col("est_freq") == F.col("_est2")).alias("merge_invariant"),
        )
    )


@register(
    "audio_clip_match",
    """
    WITH a AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 1),
    chars AS (
      SELECT doc_id, p.p - 1 AS idx, ord(substr(text, p.p, 1)) - 128 AS s
      FROM a, LATERAL unnest(range(1, length(text) + 1)) AS p(p)
      WHERE p.p - 1 < (length(text) // 32) * 32
    ),
    bande AS (
      SELECT doc_id, (idx // 32)::INT AS f, ((idx % 32) // 4)::INT AS b,
             sum(s * s)::BIGINT AS e
      FROM chars GROUP BY doc_id, idx // 32, (idx % 32) // 4
    ),
    d AS (
      SELECT x.doc_id, x.f, x.b, x.e - y.e AS d
      FROM bande x JOIN bande y
        ON x.doc_id = y.doc_id AND x.f = y.f AND y.b = x.b + 1
      WHERE x.b < 7
    ),
    bits AS (
      SELECT doc_id, f, b, d,
             lag(d) OVER (PARTITION BY doc_id, b ORDER BY f) AS pd
      FROM d
    ),
    fp AS (
      SELECT doc_id, f AS frame_idx,
             sum(CASE WHEN d - pd > 0 THEN (1 << b) ELSE 0 END)::BIGINT AS fp
      FROM bits WHERE pd IS NOT NULL GROUP BY doc_id, f
    ),
    bg AS (
      SELECT doc_id, frame_idx, bg FROM (
        SELECT doc_id, frame_idx,
               fp * 128 + lead(fp) OVER (
                 PARTITION BY doc_id ORDER BY frame_idx) AS bg
        FROM fp
      ) WHERE bg IS NOT NULL
    ),
    clip0 AS (
      SELECT doc_id AS clip_id, frame_idx - 2 AS qpos, bg
      FROM bg WHERE doc_id % 30 = 1 AND frame_idx BETWEEN 2 AND 4
    ),
    whole AS (
      SELECT clip_id FROM clip0 GROUP BY clip_id HAVING count(*) = 3
    ),
    clips AS (SELECT c.* FROM clip0 c JOIN whole USING (clip_id)),
    votes AS (
      SELECT c.clip_id, t.doc_id AS track, t.frame_idx - c.qpos AS delta,
             count(*)::BIGINT AS votes
      FROM clips c JOIN bg t USING (bg)
      GROUP BY c.clip_id, t.doc_id, t.frame_idx - c.qpos
    )
    SELECT clip_id, track AS matched_track, votes,
           track = clip_id AS is_correct
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY clip_id ORDER BY votes DESC, track, delta) AS rn
      FROM votes
    ) WHERE rn = 1
    """,
    doc="Content-based audio retrieval over the binary-asset table: "
    "Haitsma–Kalker (2002) robust fingerprinting "
    "(operators/multimodal.audio_band_energy + hk_fingerprints — "
    "integer band energies per 32-sample PCM frame from an "
    "Arrow-batched map-only decode, then sign-of-band-difference-"
    "delta bits via one lag window + a python-unrolled codegen'd "
    "bit fold: gain- and tilt-invariant, all int64). Matching is "
    "the constant-offset vote the span-dedup family uses, over "
    "consecutive-fingerprint BIGRAMS (fp_bigrams — 14-bit keys; "
    "single 7-bit fps gave exp≈1.2 at the sf1 scale audit because "
    "128-value posting lists fan the join out with the corpus; "
    "bigrams cut list length ~128× for one lag window — the "
    "fingerprint-block trick real audio indexes use): 4-frame "
    "query clips (every 10th track) contribute 3 bigrams each, "
    "votes accumulate per (clip, track, frame offset), top vote "
    "wins deterministically. Identifies 13/13 clips at sf0.01, "
    "121/123 at sf0.1 (2 vote ties — replayed bit-for-bit by the "
    "oracle, which recomputes the whole pipeline from generator "
    "text; is_correct flips on any decode/fingerprint/vote "
    "regression). At 100 TB: the bigram index is posting-shaped, "
    "clips probe it like incremental_dedup_probe — batch-sized "
    "work, corpus reduced to its index.",
    tags=("multimodal", "llm", "bench"),
)
def audio_clip_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from dbm_nca_ph_etl_spark.operators import multimodal as M2

    bg = M2.fp_bigrams(
        M2.hk_fingerprints(M2.audio_band_energy(_assets(spark, sf_dir)))
    )
    # Clip side: the same per-asset pipeline over ONLY the 1/30 clip
    # slice. Predicates cannot cross the opaque mapInPandas decode, so
    # filtering bg AFTER the decode (the old shape) re-decoded the
    # whole corpus for the clip branch; taking the slice at the
    # documents scan (asset_id IS doc_id in synthesize_assets) decodes
    # 1/30 of the blobs for identical rows.
    clip_docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 30 == 1)
    bgc = M2.fp_bigrams(
        M2.hk_fingerprints(
            M2.audio_band_energy(M2.synthesize_assets(clip_docs))
        )
    )
    clip0 = bgc.where(F.col("frame_idx").between(2, 4)).select(
        F.col("asset_id").alias("clip_id"),
        (F.col("frame_idx") - 2).alias("qpos"),
        "bg",
    )
    # whole-clip guard via a window count — one reference to the clip
    # lineage instead of the groupBy + self-join (which expanded the
    # clip decode subtree a second time)
    clips = (
        clip0.withColumn(
            "_n", F.count(F.lit(1)).over(Window.partitionBy("clip_id"))
        )
        .where(F.col("_n") == 3)
        .drop("_n")
    )
    votes = (
        clips.join(
            bg.select(F.col("asset_id").alias("track"), "frame_idx", "bg"), "bg"
        )
        .groupBy(
            "clip_id", "track", (F.col("frame_idx") - F.col("qpos")).alias("delta")
        )
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    w = Window.partitionBy("clip_id").orderBy(
        F.desc("votes"), F.col("track").asc(), F.col("delta").asc()
    )
    return (
        votes.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "clip_id",
            F.col("track").alias("matched_track"),
            "votes",
            (F.col("track") == F.col("clip_id")).alias("is_correct"),
        )
    )


@register(
    "view_click_attribution",
    """
    WITH v AS (
      SELECT user_id, ts, event_id FROM events WHERE event_type = 'view'
    ),
    c AS (
      SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'
    )
    SELECT v.user_id, v.event_id AS l_event_id, c.event_id AS r_event_id,
           floor(epoch(c.ts))::BIGINT - floor(epoch(v.ts))::BIGINT
             AS lag_seconds
    FROM v JOIN c ON v.user_id = c.user_id
      AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 30 MINUTE
    """,
    doc="Two-feed interval (attribution) join "
    "(streaming/joins.interval_join): every click landing within 30 "
    "minutes of a same-user view — the canonical stream-stream join "
    "whose Spark contract (watermark on BOTH inputs + a time-RANGE "
    "join predicate) is exactly what bounds state at 100 TB/day: "
    "each side buffers only (watermark + interval) of history, "
    "partitioned by the equality key like any hash join. THIS "
    "catalog entry runs the operator's batch twin (same function, "
    "same plan minus state) so DuckDB hash-verifies the pair set "
    "and integer lag; test_streaming TestIntervalJoin runs the "
    "identical operator as a genuine two-stream join and asserts "
    "stream == batch. lag_seconds uses floor-epoch on both engines "
    "(sub-second event times).",
    tags=("streaming", "relational"),
)
def view_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbm_nca_ph_etl_spark.streaming.joins import interval_join

    ev = _t(spark, sf_dir, "events")
    return interval_join(
        ev.where(F.col("event_type") == "view"),
        ev.where(F.col("event_type") == "click"),
        within="30 minutes",
    )


@register(
    "phrase_search_docs",
    f"""
    WITH toks AS (
      SELECT doc_id, {_SQL_TOKENS.format(t='text')} AS t FROM documents
    ),
    pp AS (
      SELECT doc_id,
             unnest(generate_series(1, len(t))) AS pos,
             unnest(t) AS token
      FROM toks
    ),
    spec AS (SELECT * FROM (VALUES (0, 'table'), (1, 'table')) s(slot, term)),
    matched AS (
      SELECT pp.doc_id, pp.pos - s.slot AS base
      FROM pp JOIN spec s ON pp.token = s.term
    ),
    starts AS (
      SELECT doc_id, base FROM matched
      GROUP BY doc_id, base HAVING count(*) = 2
    )
    SELECT doc_id, count(*)::BIGINT AS n_occurrences,
           min(base)::BIGINT AS first_pos
    FROM starts GROUP BY doc_id
    """,
    doc="Exact phrase search over the positional posting index "
    "(operators/inverted.build_positional_postings + phrase_search): "
    "an occurrence starting at base b is len(phrase) posting rows "
    "(phrase[i], doc, b+i), so matched postings align to candidate "
    "bases (pos - slot, via a slot-array explode that handles the "
    "REPEATED-term phrase searched here — 'table table' — exactly) "
    "and bases where every slot checked in are hits; overlapping "
    "occurrences ('table table table' = 2) all count. The term "
    "filter is a pushed-down In probe of the positional postings — "
    "O(the phrase's posting lists), never the corpus — then one "
    "(doc, base) groupBy and a per-doc rollup; on the token-sort-"
    "clustered layout the probe file-prunes like every other index "
    "lookup. Exact hash match vs the SQL replica at both SFs.",
    tags=("llm", "text"),
)
def phrase_search_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbm_nca_ph_etl_spark.operators.inverted import (
        build_positional_postings,
        phrase_search,
    )

    d = _t(spark, sf_dir, "documents")
    return phrase_search(build_positional_postings(d), ["table", "table"])


@register(
    "video_scene_cuts",
    """
    WITH a AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 3 = 2
    ),
    p AS (
      SELECT doc_id, length(text) AS n,
             greatest(length(text) // 64, 1) AS nf
      FROM a
    ),
    f AS (
      SELECT doc_id, nf, n // nf AS fs FROM p WHERE n // nf > 0 AND nf >= 2
    ),
    sad AS (
      SELECT f.doc_id, b.b AS boundary, any_value(fs) AS fs,
             sum(abs(ord(substr(a.text, b.b * fs + j.j + 1, 1))
                     - ord(substr(a.text, (b.b - 1) * fs + j.j + 1, 1))))::BIGINT
               AS sad
      FROM f JOIN a USING (doc_id),
           LATERAL unnest(range(1, nf)) b(b),
           LATERAL unnest(range(0, fs)) j(j)
      GROUP BY f.doc_id, b.b
    ),
    cuts AS (
      SELECT doc_id, boundary,
             (sad * 1000000 // fs) > 29000000 AS is_cut
      FROM sad
    )
    SELECT doc_id AS asset_id,
           count(*)::INT AS n_boundaries,
           sum(CASE WHEN is_cut THEN 1 ELSE 0 END)::INT AS n_cuts,
           min(CASE WHEN is_cut THEN boundary END)::INT AS first_cut
    FROM cuts GROUP BY doc_id
    """,
    doc="Shot/scene-change detection on the video leg "
    "(operators/multimodal.scene_cut_stats): consecutive equal-size "
    "frames (the sample_frames model) produce an exact int64 SAD "
    "per boundary in one numpy-vectorized map-only pass — blobs "
    "never shuffle — and the CUT POLICY is relational on top "
    "(normalized micro-SAD > 29e6, integer floor math, so any "
    "sensitivity re-thresholds the same decode artifact without "
    "re-decoding; production would persist the SAD table per "
    "corpus snapshot). Per asset: boundary count, cut count, first "
    "cut index (null when no cut — detected shots a frame-sampling "
    "policy would key on). The oracle replays frames, SADs and "
    "threshold from the generator text char-by-char — exact hash "
    "match at both SFs.",
    tags=("multimodal", "llm"),
)
def video_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbm_nca_ph_etl_spark.operators.multimodal import scene_cut_stats

    sad = scene_cut_stats(_assets(spark, sf_dir))
    return (
        sad.select(
            "asset_id",
            "boundary",
            (
                F.floor((F.col("sad") * F.lit(1_000_000)) / F.col("n_frame_bytes"))
                > F.lit(29_000_000)
            ).alias("is_cut"),
        )
        .groupBy("asset_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_boundaries"),
            F.sum(F.when(F.col("is_cut"), 1).otherwise(0))
            .cast("int")
            .alias("n_cuts"),
            F.min(F.when(F.col("is_cut"), F.col("boundary")))
            .cast("int")
            .alias("first_cut"),
        )
    )


@register(
    "mmr_diverse_topk",
    """
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < 8
    ),
    c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
    scored AS (
      SELECT query_id, neighbor_id,
             round(list_dot_product(qv, cv)
                   / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))),
                   6) AS s
      FROM q CROSS JOIN c WHERE query_id <> neighbor_id
    ),
    cand AS (
      SELECT query_id, neighbor_id, round(s * 1000000)::BIGINT AS rel
      FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS rn
        FROM scored
      ) WHERE rn <= 15
    ),
    pv AS (
      SELECT cand.query_id, cand.neighbor_id, c.cv
      FROM cand JOIN c USING (neighbor_id)
    ),
    ps AS (
      SELECT x.query_id, x.neighbor_id AS a, y.neighbor_id AS b,
             round(round(list_dot_product(x.cv, y.cv)
                   / (sqrt(list_dot_product(x.cv, x.cv)) * sqrt(list_dot_product(y.cv, y.cv))),
                   6) * 1000000)::BIGINT AS sim
      FROM pv x JOIN pv y
        ON x.query_id = y.query_id AND x.neighbor_id <> y.neighbor_id
    ),
    s1 AS (
      SELECT query_id, neighbor_id, 1 AS pick FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY rel DESC, neighbor_id) AS rn
        FROM cand
      ) WHERE rn = 1
    ),
    m2 AS (
      SELECT ps.query_id, ps.a, max(ps.sim) AS ms
      FROM ps JOIN s1 sel ON ps.query_id = sel.query_id AND ps.b = sel.neighbor_id
      GROUP BY ps.query_id, ps.a
    ),
    s2 AS (
      SELECT query_id, a AS neighbor_id, 2 AS pick FROM (
        SELECT c2.query_id, c2.neighbor_id AS a, row_number() OVER (
          PARTITION BY c2.query_id
          ORDER BY (c2.rel - m2.ms) DESC, c2.neighbor_id) AS rn
        FROM cand c2 JOIN m2 ON m2.query_id = c2.query_id AND m2.a = c2.neighbor_id
        WHERE NOT EXISTS (SELECT 1 FROM s1 WHERE s1.query_id = c2.query_id
                          AND s1.neighbor_id = c2.neighbor_id)
      ) WHERE rn = 1
    ),
    sel2 AS (SELECT * FROM s1 UNION ALL SELECT * FROM s2),
    m3 AS (
      SELECT ps.query_id, ps.a, max(ps.sim) AS ms
      FROM ps JOIN sel2 sel ON ps.query_id = sel.query_id AND ps.b = sel.neighbor_id
      GROUP BY ps.query_id, ps.a
    ),
    s3 AS (
      SELECT query_id, a AS neighbor_id, 3 AS pick FROM (
        SELECT c2.query_id, c2.neighbor_id AS a, row_number() OVER (
          PARTITION BY c2.query_id
          ORDER BY (c2.rel - m3.ms) DESC, c2.neighbor_id) AS rn
        FROM cand c2 JOIN m3 ON m3.query_id = c2.query_id AND m3.a = c2.neighbor_id
        WHERE NOT EXISTS (SELECT 1 FROM sel2 WHERE sel2.query_id = c2.query_id
                          AND sel2.neighbor_id = c2.neighbor_id)
      ) WHERE rn = 1
    ),
    sel3 AS (SELECT * FROM sel2 UNION ALL SELECT * FROM s3),
    m4 AS (
      SELECT ps.query_id, ps.a, max(ps.sim) AS ms
      FROM ps JOIN sel3 sel ON ps.query_id = sel.query_id AND ps.b = sel.neighbor_id
      GROUP BY ps.query_id, ps.a
    ),
    s4 AS (
      SELECT query_id, a AS neighbor_id, 4 AS pick FROM (
        SELECT c2.query_id, c2.neighbor_id AS a, row_number() OVER (
          PARTITION BY c2.query_id
          ORDER BY (c2.rel - m4.ms) DESC, c2.neighbor_id) AS rn
        FROM cand c2 JOIN m4 ON m4.query_id = c2.query_id AND m4.a = c2.neighbor_id
        WHERE NOT EXISTS (SELECT 1 FROM sel3 WHERE sel3.query_id = c2.query_id
                          AND sel3.neighbor_id = c2.neighbor_id)
      ) WHERE rn = 1
    ),
    sel4 AS (SELECT * FROM sel3 UNION ALL SELECT * FROM s4),
    m5 AS (
      SELECT ps.query_id, ps.a, max(ps.sim) AS ms
      FROM ps JOIN sel4 sel ON ps.query_id = sel.query_id AND ps.b = sel.neighbor_id
      GROUP BY ps.query_id, ps.a
    ),
    s5 AS (
      SELECT query_id, a AS neighbor_id, 5 AS pick FROM (
        SELECT c2.query_id, c2.neighbor_id AS a, row_number() OVER (
          PARTITION BY c2.query_id
          ORDER BY (c2.rel - m5.ms) DESC, c2.neighbor_id) AS rn
        FROM cand c2 JOIN m5 ON m5.query_id = c2.query_id AND m5.a = c2.neighbor_id
        WHERE NOT EXISTS (SELECT 1 FROM sel4 WHERE sel4.query_id = c2.query_id
                          AND sel4.neighbor_id = c2.neighbor_id)
      ) WHERE rn = 1
    )
    SELECT * FROM sel4 UNION ALL SELECT * FROM s5
    """,
    doc="Maximal-Marginal-Relevance diversified retrieval "
    "(operators/similarity.mmr_rerank; Carbonell & Goldstein SIGIR "
    "1998, λ=1/2): greedy top-5 from exact top-15 candidates where "
    "each pick maximizes rel − max-sim-to-already-picked — the "
    "standard RAG diversifier that stops near-duplicate passages "
    "crowding a context window. Each query's candidates are "
    "collected into one row and a single aggregate expression runs "
    "the k greedy steps on it, so the plan is the same for every k "
    "(one grouped pass, zero driver rows). Integer micro-unit "
    "scores + id tiebreaks make selection exactly replayable — the "
    "oracle unrolls the same 5 steps in SQL. At scale the candidate "
    "stage swaps to the LSH/IVF/PQ probes; MMR cost stays "
    "O(k²·N) sim folds per query regardless of corpus size.",
    tags=("similarity", "llm"),
)
def mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 8)
    return S.mmr_rerank(emb, q, k=5, n_cand=15)


@register(
    "context_window_pack",
    """
    WITH t AS (
      SELECT doc_id,
             len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                             x -> x <> ''))::BIGINT AS n
      FROM documents
    ),
    c AS (
      SELECT doc_id, n,
             coalesce(sum(n) OVER (ORDER BY doc_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND 1 PRECEDING), 0)::BIGINT AS s
      FROM t WHERE n > 0
    ),
    e AS (
      SELECT doc_id, n, s, s + n AS fin,
             unnest(generate_series(s // 2048, (s + n - 1) // 2048)) AS window_id
      FROM c
    )
    SELECT window_id,
           count(*)::BIGINT AS n_docs,
           sum(CASE WHEN s >= window_id * 2048 THEN 1 ELSE 0 END)::BIGINT
             AS n_docs_started,
           sum(CASE WHEN s >= window_id * 2048
                     AND fin <= window_id * 2048 + 2048 THEN 1 ELSE 0 END)::BIGINT
             AS n_full_docs,
           sum(least(fin, window_id * 2048 + 2048)
               - greatest(s, window_id * 2048))::BIGINT AS window_tokens,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
    FROM e GROUP BY window_id
    """,
    doc="Fixed-context sequence packing accounting — the GPT-style "
    "pretraining layout: concatenate every document's tokens in "
    "doc_id order and cut the stream every 2048 tokens; a document "
    "whose span straddles a cut contributes a fragment to BOTH "
    "context windows. Per window: docs touching it, docs *starting* "
    "in it (attention-mask reset points), docs fully contained, and "
    "the token fill (exactly 2048 everywhere but the tail — the "
    "packing-efficiency audit). The global token offset comes from "
    "operators/windows.prefix_sum (two-phase block scan — no single "
    "task ever holds the 100 TB total order, unlike the oracle's "
    "one-reducer window which is only the semantic spec), then each "
    "doc explodes to the window range [start div C, (end-1) div C] "
    "it overlaps — output size is corpus_tokens/C windows, and all "
    "arithmetic is integer so the hash match is exact. Complements "
    "shard_packing (whole-doc shard assignment by start offset): "
    "this is the token-exact split layout a dataloader actually "
    "consumes.",
    tags=("llm", "text", "scale"),
)
def context_window_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    C = 2048
    d = _t(spark, sf_dir, "documents")
    t = d.select("doc_id", F.size(_token_array()).cast("long").alias("n")).where(
        F.col("n") > 0
    )
    c = W.prefix_sum(t, "n", ["doc_id"], out_col="s").withColumn(
        "fin", F.col("s") + F.col("n")
    )
    e = c.select(
        "doc_id",
        "s",
        "fin",
        F.explode(
            F.sequence(F.expr(f"s div {C}"), F.expr(f"(fin - 1) div {C}"))
        ).alias("window_id"),
    )
    lo = F.col("window_id") * C
    hi = lo + C
    return e.groupBy("window_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum((F.col("s") >= lo).cast("long")).alias("n_docs_started"),
        F.sum(((F.col("s") >= lo) & (F.col("fin") <= hi)).cast("long")).alias(
            "n_full_docs"
        ),
        F.sum(F.least(F.col("fin"), hi) - F.greatest(F.col("s"), lo)).alias(
            "window_tokens"
        ),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


@register(
    "temperature_mixture_sample",
    """
    WITH base AS (
      SELECT doc_id, lang,
             len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                             x -> x <> ''))::BIGINT AS n,
             md5('tm:' || doc_id::VARCHAR) AS h
      FROM documents
    ),
    tot AS (SELECT lang, sum(n)::BIGINT AS n_l FROM base GROUP BY lang),
    wts AS (SELECT lang, n_l, floor(sqrt(n_l))::BIGINT AS w FROM tot),
    sw AS (SELECT sum(w)::BIGINT AS s_w FROM wts),
    tgt AS (
      SELECT lang, n_l, w, ((20000 * w) // s_w)::BIGINT AS target
      FROM wts, sw
    ),
    cum AS (
      SELECT b.doc_id, b.lang, b.n,
             coalesce(sum(b.n) OVER (PARTITION BY b.lang ORDER BY b.h, b.doc_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                              AND 1 PRECEDING), 0)::BIGINT AS c
      FROM base b
    ),
    kept AS (
      SELECT cum.lang, count(*)::BIGINT AS nd, sum(cum.n)::BIGINT AS nt
      FROM cum JOIN tgt USING (lang)
      WHERE cum.c < tgt.target
      GROUP BY cum.lang
    )
    SELECT t.lang, t.n_l AS n_tokens_total, t.w AS weight,
           t.target AS target_tokens,
           coalesce(k.nd, 0)::BIGINT AS n_docs_kept,
           coalesce(k.nt, 0)::BIGINT AS n_tokens_kept
    FROM tgt t LEFT JOIN kept k USING (lang)
    """,
    doc="Temperature-weighted mixture resampling (the LLaMA/XLM-R "
    "alpha=0.5 rule): per-language sampling weight = n_tokens^alpha, "
    "normalized into an integer token budget (20000 here), then each "
    "language fills its target in a deterministic md5 order — "
    "up-weighting low-resource languages relative to raw frequency "
    "without RNG. sqrt is IEEE-correctly-rounded in both engines and "
    "floor()-ed to an integer weight, the target split is pure "
    "integer arithmetic, and the per-language quota fill reuses the "
    "corpus_quota_sample exclusive-cumsum contract (a doc is kept "
    "iff tokens before it are under target), so every column "
    "hash-matches exactly. Shape at 100 TB: the weight/target table "
    "is languages-sized (broadcast); the corpus sees one tokenize "
    "pass and one per-language window — a giant language swaps in "
    "prefix_sum for the same semantics. Output is the per-language "
    "resampling ledger (raw tokens, weight, target, kept docs/"
    "tokens): the difference between n_tokens_total's distribution "
    "and n_tokens_kept's IS the temperature flattening.",
    tags=("llm", "sampling", "quality", "bench"),
)
def temperature_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        "lang",
        F.size(_token_array()).cast("long").alias("n"),
        F.md5(F.concat(F.lit("tm:"), F.col("doc_id").cast("string"))).alias("h"),
    )
    tot = base.groupBy("lang").agg(F.sum("n").cast("long").alias("n_l"))
    wts = tot.withColumn("w", F.floor(F.sqrt(F.col("n_l"))).cast("long"))
    sw = wts.agg(F.sum("w").cast("long").alias("s_w"))
    tgt = wts.crossJoin(F.broadcast(sw)).withColumn(
        "target", F.expr("(20000 * w) div s_w").cast("long")
    )
    win = (
        Window.partitionBy("lang")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = base.withColumn(
        "c", F.coalesce(F.sum("n").over(win), F.lit(0)).cast("long")
    )
    kept = (
        cum.join(F.broadcast(tgt.select("lang", "target")), "lang")
        .where(F.col("c") < F.col("target"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("nd"),
            F.sum("n").cast("long").alias("nt"),
        )
    )
    return tgt.join(kept, "lang", "left").select(
        "lang",
        F.col("n_l").alias("n_tokens_total"),
        F.col("w").alias("weight"),
        F.col("target").alias("target_tokens"),
        F.coalesce("nd", F.lit(0)).cast("long").alias("n_docs_kept"),
        F.coalesce("nt", F.lit(0)).cast("long").alias("n_tokens_kept"),
    )


@register(
    "bloom_prune_audit",
    """
    WITH build AS (
      SELECT c_custkey FROM customer WHERE c_acctbal > 9000
    ),
    hashes AS (SELECT unnest([0, 1, 2, 3]) AS i),
    pos AS (
      SELECT DISTINCT
        ('0x' || substr(md5('bf' || h.i || ':' || b.c_custkey::VARCHAR),
                        1, 12))::BIGINT % 65536 AS p
      FROM build b CROSS JOIN hashes h
    ),
    ppos AS (
      SELECT o.o_orderkey, o.o_orderpriority, o.o_custkey,
        ('0x' || substr(md5('bf' || h.i || ':' || o.o_custkey::VARCHAR),
                        1, 12))::BIGINT % 65536 AS p
      FROM orders o CROSS JOIN hashes h
    ),
    probed AS (
      SELECT pp.o_orderkey,
             any_value(pp.o_orderpriority) AS o_orderpriority,
             any_value(pp.o_custkey) AS o_custkey,
             (count(pos.p) = 4) AS bloom_hit
      FROM ppos pp LEFT JOIN pos ON pp.p = pos.p
      GROUP BY pp.o_orderkey
    ),
    flagged AS (
      SELECT p.o_orderpriority, p.bloom_hit,
             (b.c_custkey IS NOT NULL) AS exact_member
      FROM probed p LEFT JOIN build b ON p.o_custkey = b.c_custkey
    )
    SELECT o_orderpriority,
           count(*)::BIGINT AS n_orders,
           sum(CASE WHEN exact_member THEN 1 ELSE 0 END)::BIGINT AS n_exact,
           sum(CASE WHEN bloom_hit THEN 1 ELSE 0 END)::BIGINT AS n_bloom_pass,
           sum(CASE WHEN bloom_hit AND NOT exact_member THEN 1 ELSE 0 END)::BIGINT
             AS n_false_pos,
           bool_and(bloom_hit OR NOT exact_member) AS no_false_neg
    FROM flagged GROUP BY o_orderpriority
    """,
    doc="Runtime Bloom-filter join pruning as a driver-checkable "
    "audit (operators/bloom): the selective dimension subset "
    "(customers with acctbal > 9000) builds a 2^16-bit md5-hashed "
    "bitmap — word-packed into a one-row broadcast map — and every "
    "order probes it with 4 JVM-side lookups BEFORE any join "
    "machinery touches the row. Per priority class: probe count, "
    "exact member count, bloom pass count, false positives, and the "
    "no-false-negative invariant (the property that makes pruning "
    "SAFE — a dropped matching row would corrupt the join, a false "
    "positive only wastes a probe). This is the semi-join-reduction "
    "shape engines inject at 100 TB (Spark's runtime bloomFilter "
    "conf does the same with engine-private hashing — which is WHY "
    "this audit hashes with md5: DuckDB replays membership "
    "bit-for-bit, so the pruning decision itself is verified, not "
    "just row counts). The fact side never shuffles: the bitmap "
    "broadcasts, probes are map lookups, and the final rollup is "
    "priority-sized.",
    tags=("relational", "scale", "bench"),
)
def bloom_prune_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbm_nca_ph_etl_spark.operators import bloom as B

    cust = _t(spark, sf_dir, "customer")
    build = cust.where(F.col("c_acctbal") > 9000).select("c_custkey")
    bf = B.bloom_build(build, "c_custkey", m_bits=1 << 16, k=4)
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_custkey"
    )
    probed = orders.crossJoin(F.broadcast(bf)).withColumn(
        "bloom_hit",
        B.bloom_might_contain(F.col("_bf"), F.col("o_custkey"), 1 << 16, 4),
    )
    flagged = probed.join(
        F.broadcast(build.withColumnRenamed("c_custkey", "_bk")),
        probed["o_custkey"] == F.col("_bk"),
        "left",
    ).withColumn("exact_member", F.col("_bk").isNotNull())
    return flagged.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.col("exact_member").cast("long")).alias("n_exact"),
        F.sum(F.col("bloom_hit").cast("long")).alias("n_bloom_pass"),
        F.sum((F.col("bloom_hit") & ~F.col("exact_member")).cast("long")).alias(
            "n_false_pos"
        ),
        F.bool_and(F.col("bloom_hit") | ~F.col("exact_member")).alias(
            "no_false_neg"
        ),
    )


@register(
    "entity_resolution_clusters",
    """
    WITH RECURSIVE cust AS (SELECT c_custkey AS ck FROM customer),
    base AS (
      SELECT ck,
             substr(md5('nm:' || ck::VARCHAR), 1, 10) AS e,
             (ck % 10 + 1)::BIGINT AS dp,
             (ck % 9 + 1)::BIGINT AS tp
      FROM cust
    ),
    recs AS (
      SELECT ck * 10 AS rec_id, ck, e AS nm FROM base
      UNION ALL
      SELECT ck * 10 + 1, ck,
             substr(e, 1, dp - 1) || substr(e, dp + 1, 10)
      FROM base
      UNION ALL
      SELECT ck * 10 + 2, ck,
             substr(e, 1, tp - 1) || substr(e, tp + 1, 1)
               || substr(e, tp, 1) || substr(e, tp + 2, 10)
      FROM base
    ),
    keyed AS (
      SELECT rec_id, ck, nm,
             substr(nm, 1, 4) AS b1,
             substr(nm, length(nm) - 3, 4) AS b2
      FROM recs
    ),
    cands AS (
      SELECT a.rec_id AS ra, b.rec_id AS rb, a.nm AS na, b.nm AS nb
      FROM keyed a JOIN keyed b ON a.b1 = b.b1 AND a.rec_id < b.rec_id
      UNION
      SELECT a.rec_id, b.rec_id, a.nm, b.nm
      FROM keyed a JOIN keyed b ON a.b2 = b.b2 AND a.rec_id < b.rec_id
    ),
    e0 AS (SELECT ra, rb FROM cands WHERE levenshtein(na, nb) <= 2),
    edges AS (SELECT ra AS a, rb AS b FROM e0
              UNION SELECT rb, ra FROM e0),
    nodes AS (SELECT DISTINCT a AS id FROM edges),
    reach AS (
      SELECT id, id AS x FROM nodes
      UNION
      SELECT r.id, e2.b AS x FROM reach r JOIN edges e2 ON e2.a = r.x
    ),
    clusters AS (SELECT id, min(x) AS cluster_id FROM reach GROUP BY id)
    SELECT coalesce(c.cluster_id, k.rec_id) AS cluster_id,
           count(*)::BIGINT AS n_members,
           count(DISTINCT k.ck)::BIGINT AS n_true_entities
    FROM keyed k LEFT JOIN clusters c ON k.rec_id = c.id
    GROUP BY 1
    """,
    doc="Entity resolution / record linkage — the blocking → "
    "pairwise-match → transitive-closure pipeline every curation "
    "stack runs on authors, domains, and source registries. Inputs "
    "are three deterministic records per entity (a clean md5-derived "
    "name, a char-deletion variant, a transposition variant — no "
    "RNG, both engines derive identical dirt). Candidate generation "
    "is MULTI-PASS BLOCKING (name-prefix and name-suffix keys, "
    "unioned): every variant provably shares at least one key with "
    "its clean record, so no true pair needs the O(n²) all-pairs "
    "scan that blocking exists to avoid — pair cost is sum of "
    "block-size squares, and a skewed block salts like any hot key. "
    "Matching is levenshtein <= 2 (identical DP definition in both "
    "engines); clustering reuses operators/dedup.connected_components "
    "(iterative min-label, same as semantic_dedup_keep); the ledger "
    "reports cluster size and n_true_entities — the ground-truth "
    "purity audit (a merge of two entities surfaces as "
    "n_true_entities > 1, never hidden). Oracle replays blocking, "
    "matching, and closure as a recursive CTE — exact hash match.",
    tags=("dedup", "llm", "relational"),
)
def entity_resolution_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("ck"))
    base = cust.select(
        "ck",
        F.substring(
            F.md5(F.concat(F.lit("nm:"), F.col("ck").cast("string")).cast("binary")),
            1,
            10,
        ).alias("e"),
        (F.col("ck") % 10 + 1).cast("long").alias("dp"),
        (F.col("ck") % 9 + 1).cast("long").alias("tp"),
    )
    clean = base.select(
        (F.col("ck") * 10).alias("rec_id"), "ck", F.col("e").alias("nm")
    )
    deleted = base.select(
        (F.col("ck") * 10 + 1).alias("rec_id"),
        "ck",
        F.concat(
            F.expr("substr(e, 1, cast(dp - 1 as int))"),
            F.expr("substr(e, cast(dp + 1 as int), 10)"),
        ).alias("nm"),
    )
    swapped = base.select(
        (F.col("ck") * 10 + 2).alias("rec_id"),
        "ck",
        F.concat(
            F.expr("substr(e, 1, cast(tp - 1 as int))"),
            F.expr("substr(e, cast(tp + 1 as int), 1)"),
            F.expr("substr(e, cast(tp as int), 1)"),
            F.expr("substr(e, cast(tp + 2 as int), 10)"),
        ).alias("nm"),
    )
    keyed = (
        clean.unionByName(deleted)
        .unionByName(swapped)
        .withColumn("b1", F.substring("nm", 1, 4))
        .withColumn("b2", F.expr("substr(nm, length(nm) - 3, 4)"))
    )
    a = keyed.select(
        F.col("rec_id").alias("ra"), F.col("nm").alias("na"),
        F.col("b1").alias("k1"), F.col("b2").alias("k2"),
    )
    b = keyed.select(
        F.col("rec_id").alias("rb"), F.col("nm").alias("nb"),
        F.col("b1").alias("j1"), F.col("b2").alias("j2"),
    )
    cands = (
        a.join(b, (F.col("k1") == F.col("j1")) & (F.col("ra") < F.col("rb")))
        .select("ra", "rb", "na", "nb")
        .unionByName(
            a.join(b, (F.col("k2") == F.col("j2")) & (F.col("ra") < F.col("rb")))
            .select("ra", "rb", "na", "nb")
        )
        .distinct()
    )
    pairs = cands.where(F.levenshtein("na", "nb") <= 2).select(
        F.col("ra").alias("a"), F.col("rb").alias("b")
    )
    comp = D.connected_components(pairs)
    return (
        keyed.join(comp, keyed["rec_id"] == comp["id"], "left")
        .select(
            F.coalesce(F.col("cluster_id"), F.col("rec_id")).alias("cluster_id"),
            "ck",
        )
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.count_distinct("ck").cast("long").alias("n_true_entities"),
        )
    )


@register(
    "span_corruption_pairs",
    f"""
    WITH t AS (
      SELECT doc_id, {_SQL_TOKENS.format(t='text')} AS toks
      FROM documents
    ),
    sized AS (
      SELECT doc_id, toks, len(toks)::BIGINT AS n,
             ('0x' || substr(md5('sc1:' || doc_id::VARCHAR), 1, 12))::BIGINT AS h1,
             ('0x' || substr(md5('sc2:' || doc_id::VARCHAR), 1, 12))::BIGINT AS h2
      FROM t WHERE len(toks) >= 8
    ),
    spans AS (
      SELECT doc_id, toks, n,
             (h1 % (n // 2 - 3) + 1)::BIGINT AS a,
             (n // 2 + 1 + (h2 % (n - n // 2 - 2)))::BIGINT AS b
      FROM sized
    )
    SELECT doc_id, n AS n_tokens,
           array_to_string(list_concat(list_concat(list_concat(list_concat(
             CASE WHEN a > 1 THEN toks[1:a-1] ELSE [] END, ['<x0>']),
             toks[a+3:b-1]), ['<x1>']),
             CASE WHEN b + 3 <= n THEN toks[b+3:n] ELSE [] END), ' ')
             AS model_input,
           array_to_string(list_concat(list_concat(list_concat(
             ['<x0>'], toks[a:a+2]), ['<x1>']), toks[b:b+2]), ' ')
             AS model_target
    FROM spans
    """,
    doc="T5-style span corruption (Raffel et al. 2020) — the "
    "denoising-objective training-pair generator: two 3-token spans "
    "per document (one per half, provably non-overlapping) are "
    "replaced by sentinels in the model input and emitted after "
    "their sentinels as the target. Span starts come from salted "
    "md5 of the doc_id — no RNG, so the corruption is byte-identical "
    "on any cluster size, any partitioning, and every re-run (the "
    "property that makes a training set REPRODUCIBLE); both engines "
    "derive the same spans and the full input/target strings "
    "hash-match. Pure array algebra over one tokenize pass — "
    "tokens materialize once per row (a column, not a re-evaluated "
    "expression), then six slices and two concat_ws; map-only, no "
    "shuffle, embarrassingly parallel at 100 TB. Docs under 8 "
    "tokens are filtered (too short to hold two spans).",
    tags=("llm", "text", "bench"),
)
def span_corruption_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    t = d.select("doc_id", _token_array().alias("toks")).where(
        F.size("toks") >= 8
    )
    from dbm_nca_ph_etl_spark.functions.scalars import hash48

    sized = t.select(
        "doc_id",
        "toks",
        F.size("toks").cast("long").alias("n"),
        hash48(F.concat(F.lit("sc1:"), F.col("doc_id").cast("string"))).alias("h1"),
        hash48(F.concat(F.lit("sc2:"), F.col("doc_id").cast("string"))).alias("h2"),
    )
    spans = sized.select(
        "doc_id",
        "toks",
        "n",
        (F.col("h1") % (F.expr("n div 2") - 3) + 1).cast("long").alias("a"),
        (F.expr("n div 2") + 1 + F.col("h2") % (F.col("n") - F.expr("n div 2") - 2))
        .cast("long")
        .alias("b"),
    )
    # DuckDB t[x:y] is 1-based inclusive == Spark slice(t, x, y-x+1)
    pre = F.when(
        F.col("a") > 1, F.expr("slice(toks, 1, cast(a - 1 as int))")
    ).otherwise(F.array().cast("array<string>"))
    mid = F.expr("slice(toks, cast(a + 3 as int), cast(b - a - 3 as int))")
    post = F.when(
        F.col("b") + 3 <= F.col("n"),
        F.expr("slice(toks, cast(b + 3 as int), cast(n - b - 2 as int))"),
    ).otherwise(F.array().cast("array<string>"))
    span1 = F.expr("slice(toks, cast(a as int), 3)")
    span2 = F.expr("slice(toks, cast(b as int), 3)")
    sent0 = F.array(F.lit("<x0>"))
    sent1 = F.array(F.lit("<x1>"))
    return spans.select(
        "doc_id",
        F.col("n").alias("n_tokens"),
        F.concat_ws(" ", F.concat(pre, sent0, mid, sent1, post)).alias(
            "model_input"
        ),
        F.concat_ws(" ", F.concat(sent0, span1, sent1, span2)).alias(
            "model_target"
        ),
    )


@register(
    "collocation_pmi_topk",
    f"""
    WITH w AS (
      SELECT doc_id, {_SQL_TOKENS.format(t='text')} AS ws FROM documents
    ),
    big AS (
      SELECT unnest(CASE WHEN len(ws) >= 2
                         THEN list_transform(range(len(ws) - 1),
                                             i -> array_to_string(ws[i+1:i+2], ' '))
                         ELSE CAST([] AS VARCHAR[]) END) AS gram
      FROM w
    ),
    uni AS (
      SELECT unnest(ws) AS tok FROM w
    ),
    cu AS (SELECT tok, count(*)::BIGINT AS c FROM uni GROUP BY tok),
    nn AS (SELECT count(*)::BIGINT AS n FROM uni),
    cb AS (
      SELECT split_part(gram, ' ', 1) AS w1, split_part(gram, ' ', 2) AS w2,
             count(*)::BIGINT AS c_xy
      FROM big GROUP BY 1, 2 HAVING count(*) >= 5
    )
    SELECT w1, w2, c_xy,
           ((1000000 * c_xy * nn.n) // (a.c * b.c))::BIGINT AS lift_e6
    FROM cb JOIN cu a ON cb.w1 = a.tok
            JOIN cu b ON cb.w2 = b.tok
            CROSS JOIN nn
    ORDER BY lift_e6 DESC, w1, w2 LIMIT 50
    """,
    doc="Collocation extraction — corpus-global top bigram "
    "associations ranked by PMI lift (Church & Hanks 1990): "
    "lift = N·c(xy)/(c(x)·c(y)), the inside of the PMI log. Ranking "
    "by the INTEGER micro-unit lift instead of the log keeps every "
    "value exact — log is monotone, so the top-k is identical, and "
    "no engine's libm rounding can flip a boundary rank (the repo's "
    "no-float-comparison convention). One tokenize pass feeds both "
    "the bigram counts (map-side partial agg on consecutive-pair "
    "grams) and the unigram counts; the two count joins are "
    "vocabulary-sized, N is one broadcast row, and the min-count "
    "HAVING (>=5) prunes the hapax tail before any join. The "
    "standard phrase-mining / tokenizer-vocab-candidate pass over a "
    "training corpus.",
    tags=("llm", "text"),
)
def collocation_pmi_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    w = d.select(_token_array().alias("ws"))
    big = w.select(F.explode(_word_ngrams(F.col("ws"), 2)).alias("gram"))
    uni = w.select(F.explode("ws").alias("tok"))
    cu = uni.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("c"))
    nn = uni.agg(F.count(F.lit(1)).cast("long").alias("n"))
    cb = (
        big.select(
            F.split_part(F.col("gram"), F.lit(" "), F.lit(1)).alias("w1"),
            F.split_part(F.col("gram"), F.lit(" "), F.lit(2)).alias("w2"),
        )
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c_xy"))
        .where(F.col("c_xy") >= 5)
    )
    a = cu.select(F.col("tok").alias("_t1"), F.col("c").alias("_c1"))
    b = cu.select(F.col("tok").alias("_t2"), F.col("c").alias("_c2"))
    return (
        cb.join(a, cb["w1"] == F.col("_t1"))
        .join(b, cb["w2"] == F.col("_t2"))
        .crossJoin(F.broadcast(nn))
        .select(
            "w1",
            "w2",
            "c_xy",
            F.expr("(1000000 * c_xy * n) div (_c1 * _c2)").cast("long").alias(
                "lift_e6"
            ),
        )
        .orderBy(F.desc("lift_e6"), "w1", "w2")
        .limit(50)
    )


@register(
    "epoch_shuffle_manifest",
    """
    WITH e AS (SELECT unnest([0, 1, 2]) AS epoch),
    r AS (
      SELECT e.epoch, d.doc_id,
             ('0x' || substr(md5('ep' || e.epoch || ':' || d.doc_id::VARCHAR),
                             1, 12))::BIGINT AS h
      FROM documents d CROSS JOIN e
    ),
    rk AS (
      SELECT epoch, doc_id,
             row_number() OVER (PARTITION BY epoch ORDER BY h, doc_id) - 1 AS rnk
      FROM r
    )
    SELECT epoch, (rnk // 100)::BIGINT AS shard_id,
           count(*)::BIGINT AS n_docs,
           sum(doc_id)::BIGINT AS sum_doc_ids
    FROM rk GROUP BY 1, 2
    """,
    doc="Multi-epoch deterministic shuffle manifest — the dataloader "
    "contract for multi-epoch training: every epoch reads the corpus "
    "in a DIFFERENT but fully reproducible order (md5 of an "
    "epoch-salted doc_id — reshuffling without RNG, so a resumed or "
    "re-run job sees byte-identical batches), cut into 100-doc "
    "shards by global rank within the epoch. Rank comes from "
    "operators/windows.prefix_sum over the (hash, doc_id) total "
    "order — the oracle's per-epoch row_number window is the "
    "semantic spec, but a global sort-rank through ONE reducer is "
    "exactly what dies at 100 TB; the two-phase block scan ranks "
    "with no task ever holding an epoch's full order. Epochs are a "
    "literal list (one prefix_sum pass each, unioned). sum_doc_ids "
    "is the shard's permutation fingerprint: identical shard ids "
    "across epochs carry different doc sets, which IS the reshuffle, "
    "and any rank drift anywhere flips some shard's sum.",
    tags=("llm", "sampling", "scale"),
)
def epoch_shuffle_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbm_nca_ph_etl_spark.functions.scalars import hash48

    d = _t(spark, sf_dir, "documents")
    # static block cuts: the order key is a 48-bit md5 value —
    # uniform by construction — so evenly spaced literals balance
    # blocks without prefix_sum's per-call approxQuantile job
    # (any sorted boundary list is CORRECT; see prefix_sum's doc)
    cuts = [i * (1 << 48) / 32 for i in range(1, 32)]
    outs = []
    for e in (0, 1, 2):
        r = d.select(
            "doc_id",
            hash48(
                F.concat(F.lit(f"ep{e}:"), F.col("doc_id").cast("string"))
            ).alias("h"),
            F.lit(1).cast("long").alias("one"),
        )
        c = W.prefix_sum(r, "one", ["h", "doc_id"], out_col="rnk", cuts=cuts)
        outs.append(
            c.select(
                F.lit(e).cast("int").alias("epoch"),
                F.expr("rnk div 100").cast("long").alias("shard_id"),
                "doc_id",
            )
        )
    allep = outs[0]
    for o in outs[1:]:
        allep = allep.unionByName(o)
    return allep.groupBy("epoch", "shard_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("doc_id").cast("long").alias("sum_doc_ids"),
    )


@register(
    "contrastive_negative_sample",
    """
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < 8
    ),
    c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
    scored AS (
      SELECT query_id, neighbor_id,
             round(list_dot_product(qv, cv)
                   / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))),
                   6) AS cos_sim
      FROM q CROSS JOIN c WHERE query_id <> neighbor_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM scored
    ),
    pos AS (
      SELECT query_id, neighbor_id AS pos_id,
             floor(cos_sim * 1000000.0 + 0.5)::BIGINT AS pos_sim_e6
      FROM ranked WHERE rank = 1
    ),
    pool AS (
      SELECT query_id, neighbor_id, cos_sim,
             md5('neg:' || query_id::VARCHAR || ':' || neighbor_id::VARCHAR) AS hp
      FROM ranked WHERE rank > 10 AND rank <= 100
    ),
    negs AS (
      SELECT query_id, neighbor_id AS neg_id,
             floor(cos_sim * 1000000.0 + 0.5)::BIGINT AS neg_sim_e6
      FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY hp, neighbor_id) AS pick
        FROM pool
      ) WHERE pick <= 5
    )
    SELECT p.query_id, p.pos_id, p.pos_sim_e6, n.neg_id, n.neg_sim_e6,
           (p.pos_sim_e6 - n.neg_sim_e6)::BIGINT AS margin_e6
    FROM pos p JOIN negs n ON p.query_id = n.query_id
    """,
    doc="Contrastive training-pair preparation — per anchor: the "
    "positive (exact nearest neighbor) plus 5 deterministic "
    "negatives sampled from the rank-11..100 band. The band is the "
    "FALSE-NEGATIVE EXCLUSION (ranks 2-10 are too likely to be true "
    "matches to train against) and also makes the negatives "
    "semi-hard — the regime contrastive losses learn fastest from. "
    "The 'random' pick inside the band is an md5 order — no RNG, so "
    "the training pairs are byte-identical on any cluster size and "
    "across re-runs (the epoch_shuffle_manifest property, applied "
    "to pair mining). All similarities ship as integer micro-units "
    "and margin_e6 = pos - neg is integer subtraction: nothing "
    "float-compared. Candidate generation is the exact baseline "
    "here (8 anchors, labeled-bounded); at 100 TB the ranked CTE "
    "swaps to the LSH/IVF/PQ probes and the band/pick/margin "
    "algebra is unchanged.",
    tags=("llm", "similarity", "sampling"),
)
def contrastive_negative_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbm_nca_ph_etl_spark.functions.scalars import hash48

    emb = _t(spark, sf_dir, "embeddings")
    anchors = emb.where(F.col("vec_id") < 8)
    ranked = S.cosine_topk(emb, anchors, k=100)
    e6 = lambda c: F.floor(F.col(c) * 1000000.0 + F.lit(0.5)).cast("long")  # noqa: E731
    pos = ranked.where(F.col("rank") == 1).select(
        "query_id",
        F.col("neighbor_id").alias("pos_id"),
        e6("cos_sim").alias("pos_sim_e6"),
    )
    pool = ranked.where((F.col("rank") > 10) & (F.col("rank") <= 100)).withColumn(
        "hp",
        F.md5(
            F.concat(
                F.lit("neg:"),
                F.col("query_id").cast("string"),
                F.lit(":"),
                F.col("neighbor_id").cast("string"),
            ).cast("binary")
        ),
    )
    wp = Window.partitionBy("query_id").orderBy("hp", "neighbor_id")
    negs = (
        pool.withColumn("pick", F.row_number().over(wp))
        .where(F.col("pick") <= 5)
        .select(
            "query_id",
            F.col("neighbor_id").alias("neg_id"),
            e6("cos_sim").alias("neg_sim_e6"),
        )
    )
    return pos.join(negs, "query_id").select(
        "query_id",
        "pos_id",
        "pos_sim_e6",
        "neg_id",
        "neg_sim_e6",
        (F.col("pos_sim_e6") - F.col("neg_sim_e6")).cast("long").alias("margin_e6"),
    )


@register(
    "xml_source_roundtrip",
    """
    WITH sub AS (
      SELECT o_orderkey, o_orderstatus, o_orderpriority,
             floor(o_totalprice * 100 + 0.5)::BIGINT AS price_cents
      FROM orders WHERE o_orderkey % 50 = 0
    )
    SELECT o_orderstatus,
           count(*)::BIGINT AS n_orders,
           sum(price_cents)::BIGINT AS total_cents,
           count(DISTINCT o_orderpriority)::BIGINT AS n_priorities,
           min(o_orderkey) AS first_key, max(o_orderkey) AS last_key
    FROM sub GROUP BY o_orderstatus
    """,
    doc="XML source/sink round trip (sources/xml_source over Spark "
    "4's native XML, the upstreamed spark-xml): a 2% order slice is "
    "written as one <order> element per record and read back with "
    "an EXPLICIT schema — never inference, which costs a full "
    "extra parse pass of the corpus and drifts types between "
    "shards. Money crosses the text format as integer cents "
    "(floor(x*100+0.5) at WRITE time): XML has no binary doubles, "
    "and decimal formatting is not bit-stable across writers, so "
    "nothing float-shaped survives into the file. The aggregate "
    "downstream of the read proves values, keys, and grouping "
    "columns all round-tripped exactly — the oracle computes the "
    "same rollup straight from parquet, so any parse/format defect "
    "breaks the hash. rowTag record splitting keeps even a single "
    "giant XML file task-parallel.",
    tags=("source",),
)
def xml_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from dbm_nca_ph_etl_spark.sources.xml_source import read_xml, write_xml

    sub = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") % 50 == 0)
        .select(
            "o_orderkey",
            "o_orderstatus",
            "o_orderpriority",
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("price_cents"),
        )
    )
    scratch = tempfile.mkdtemp(prefix="xml_roundtrip_")
    try:
        path = f"{scratch}/orders_xml"
        write_xml(sub, path, row_tag="order")
        back = read_xml(
            spark,
            path,
            "o_orderkey bigint, o_orderstatus string, "
            "o_orderpriority string, price_cents bigint",
            row_tag="order",
        )
        out = (
            back.groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_orders"),
                F.sum("price_cents").cast("long").alias("total_cents"),
                F.count_distinct("o_orderpriority")
                .cast("long")
                .alias("n_priorities"),
                F.min("o_orderkey").alias("first_key"),
                F.max("o_orderkey").alias("last_key"),
            )
            # materialize before the scratch dir disappears
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return out


@register(
    "knn_label_eval",
    """
    WITH q AS (
      SELECT vec_id AS query_id, label AS true_label, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < 100
    ),
    c AS (SELECT vec_id AS neighbor_id, label, embedding::DOUBLE[] AS cv
          FROM embeddings),
    scored AS (
      SELECT q.query_id, q.true_label, c.label AS pred_label,
             round(list_dot_product(qv, cv)
                   / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))),
                   6) AS cos_sim,
             c.neighbor_id
      FROM q CROSS JOIN c WHERE q.query_id <> c.neighbor_id
    ),
    nn AS (
      SELECT query_id, true_label, pred_label FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk
        FROM scored
      ) WHERE rk = 1
    )
    SELECT true_label,
           count(*)::BIGINT AS n_queries,
           sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)::BIGINT
             AS n_correct,
           ((1000000 * sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END))
             // count(*))::BIGINT AS accuracy_ppm
    FROM nn GROUP BY true_label
    """,
    doc="Embedding-quality evaluation by leave-one-out 1-NN label "
    "prediction — the standard representation-quality probe run "
    "before embeddings are trusted for retrieval or semantic dedup: "
    "each held-out vector is classified by its exact nearest "
    "neighbor's label, accuracy reported per true class as exact "
    "integer ppm. The probe set is bounded (100 anchors, the "
    "labeled exact-baseline contract); at 100 TB the neighbor stage "
    "swaps to the LSH/IVF/PQ probes and the eval algebra is "
    "unchanged. Near-random accuracy here is a property of the "
    "synthetic near-isotropic vectors, and that is exactly what "
    "this audit exists to DETECT on a real corpus.",
    tags=("similarity", "llm", "quality"),
)
def knn_label_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    anchors = emb.where(F.col("vec_id") < 100)
    nn = S.cosine_topk(emb, anchors, k=1, max_queries=1000)
    labels = emb.select("vec_id", "label")
    joined = (
        nn.join(
            labels.select(
                F.col("vec_id").alias("_qid"), F.col("label").alias("true_label")
            ),
            nn["query_id"] == F.col("_qid"),
        )
        .join(
            labels.select(
                F.col("vec_id").alias("_nid"), F.col("label").alias("pred_label")
            ),
            nn["neighbor_id"] == F.col("_nid"),
        )
    )
    correct = (F.col("pred_label") == F.col("true_label")).cast("long")
    return joined.groupBy("true_label").agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.sum(correct).alias("n_correct"),
        F.expr(
            "(1000000 * sum(case when pred_label = true_label then 1 else 0 end))"
            " div count(*)"
        )
        .cast("long")
        .alias("accuracy_ppm"),
    )


@register(
    "zonemap_skip_audit",
    """
    WITH sub AS (
      SELECT o_orderstatus,
             floor(o_totalprice * 100 + 0.5)::BIGINT AS pc,
             (floor(o_totalprice * 100 + 0.5)::BIGINT // 5000000) AS zb
      FROM orders
    ),
    zones AS (SELECT zb, min(pc) AS zmin, max(pc) AS zmax FROM sub GROUP BY zb),
    audit AS (
      SELECT count(*)::BIGINT AS n_files_total,
             sum(CASE WHEN NOT (zmax < 10000000 OR zmin > 19999999)
                      THEN 1 ELSE 0 END)::BIGINT AS n_files_read
      FROM zones
    )
    SELECT o_orderstatus,
           count(*)::BIGINT AS n_orders,
           sum(pc)::BIGINT AS total_cents,
           a.n_files_read, a.n_files_total
    FROM sub CROSS JOIN audit a
    WHERE pc BETWEEN 10000000 AND 19999999
    GROUP BY o_orderstatus, a.n_files_read, a.n_files_total
    """,
    doc="Zone-map data skipping end-to-end (sinks/zonemap — the "
    "Delta-stats/Iceberg-manifest shape): orders land range-"
    "clustered by integer price into one file per $50k band, a "
    "DISTRIBUTED footer harvest (mapInPandas over the file list, "
    "zero data IO — stats parquet already wrote) persists the "
    "per-file min/max sidecar, and a $100k-200k range predicate "
    "then OPENS only intersecting files — the audit columns carry "
    "files_read/files_total so the pruning ratio itself is "
    "hash-verified, not just the surviving rows (the oracle "
    "re-derives each file's zone as its band's true min/max — the "
    "clustered layout makes file boundaries value-replayable). "
    "Pruning is conservative by construction: the predicate "
    "re-applies to survivors, statless files always read. At 100 TB "
    "this is the difference between opening 3 files and 400k — and "
    "a layout regression (lost clustering) surfaces as a "
    "files_read jump, which is exactly what a lakehouse's stats "
    "audit should catch.",
    tags=("sink", "scale"),
)
def zonemap_skip_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from dbm_nca_ph_etl_spark.sinks.zonemap import pruned_read, write_zonemaps

    sub = _t(spark, sf_dir, "orders").select(
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("price_cents"),
    )
    scratch = tempfile.mkdtemp(prefix="zonemap_audit_")
    try:
        path = f"{scratch}/orders_zoned"
        clustered = sub.withColumn("zb", F.expr("price_cents div 5000000"))
        clustered.repartition(F.col("zb")).write.partitionBy("zb").parquet(path)
        write_zonemaps(spark, path, ["price_cents"])
        rows, n_read, n_total = pruned_read(
            spark, path, "price_cents", 10_000_000, 19_999_999
        )
        out = (
            rows.groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_orders"),
                F.sum("price_cents").cast("long").alias("total_cents"),
            )
            .withColumn("n_files_read", F.lit(n_read).cast("long"))
            .withColumn("n_files_total", F.lit(n_total).cast("long"))
            # materialize before the scratch dir disappears
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return out


@register(
    "var_matview_price_spread",
    """
    WITH p AS (
      SELECT o_orderpriority,
             count(*)::BIGINT AS n,
             sum(CAST(floor(o_totalprice * 1000000 + 0.5) AS DECIMAL(38,0))) AS s,
             sum(CAST(floor((o_totalprice * o_totalprice) * 1000000 + 0.5)
                      AS DECIMAL(38,0))) AS s2
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o_orderpriority,
           n AS n_orders,
           floor((CAST(s AS DOUBLE) / 1000000) / CAST(n AS DOUBLE) * 1000000 + 0.5)
             / 1000000 AS avg_price,
           floor(((CAST(s2 AS DOUBLE) / 1000000)
                  - ((CAST(s AS DOUBLE) / 1000000) * (CAST(s AS DOUBLE) / 1000000))
                    / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) * 1000000 + 0.5)
             / 1000000 AS var_price,
           floor(sqrt(((CAST(s2 AS DOUBLE) / 1000000)
                       - ((CAST(s AS DOUBLE) / 1000000) * (CAST(s AS DOUBLE) / 1000000))
                         / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)) * 1000000 + 0.5)
             / 1000000 AS std_price
    FROM p
    """,
    doc="Mergeable + retractable VARIANCE materialized view "
    "(sinks/matview.py kind='var'): the fourth sketch axis — spread. "
    "The view stores the moment struct (n, Σx, Σx²) with x and x² "
    "quantized per row to 1e-6 integer micro-units and summed as "
    "DECIMAL(38,0), so partials are exact integers: merge order can "
    "never perturb them, and every field is a plain sum ⇒ the full "
    "negate algebra. The query folds orders through three %-batches "
    "in a non-arrival association, then RETRACTS batch 2 and re-adds "
    "it (negate_partial round trip) — the result must still hash-match "
    "the oracle's one-shot aggregate, proving both the merge AND the "
    "retraction algebra. Read-time avg/var/std run identical "
    "double-expression trees in both engines over the exact integer "
    "sums. At 100 TB a refresh shuffles O(groups) 3-field structs, "
    "never raw rows; persisted path shared with "
    "test_sinks.TestMaterializedAgg.",
    tags=("lake", "incremental", "sketch"),
)
def var_matview_price_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbm_nca_ph_etl_spark.sinks.matview import (
        Measure,
        derived_stddev,
        derived_variance,
        merge_partials,
        negate_partial,
        partial_agg,
    )

    o = _t(spark, sf_dir, "orders")
    keys = ["o_orderpriority"]
    m = Measure("price_var", "o_totalprice", "var")
    batches = [
        partial_agg(o.where(F.col("o_orderkey") % 3 == i), keys, [m])
        for i in range(3)
    ]
    # (b1 ⊕ b0) ⊕ b2 ⊕ (−b2) ⊕ b2 — merge in a non-arrival
    # association, retract a batch, re-apply it
    folded = merge_partials(
        [
            merge_partials([batches[1], batches[0]], keys, [m]),
            batches[2],
            negate_partial(batches[2], [m]),
            batches[2],
        ],
        keys,
        [m],
    )
    c = F.col("price_var")
    nd = c.getField("n").cast("double")
    sd = c.getField("s").cast("double") / F.lit(1e6)
    return folded.select(
        "o_orderpriority",
        c.getField("n").alias("n_orders"),
        (F.floor((sd / nd) * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias("avg_price"),
        derived_variance("price_var").alias("var_price"),
        derived_stddev("price_var").alias("std_price"),
    )


@register(
    "more_like_this_docs",
    f"""
    WITH posting AS ({_SQL_POSTINGS}),
    nd AS (SELECT count(DISTINCT doc_id)::BIGINT AS n FROM posting),
    dfq AS (SELECT token, count(*)::BIGINT AS df FROM posting GROUP BY token),
    wts AS (
      SELECT p.doc_id, p.token,
             CAST(floor(CAST(p.tf AS DOUBLE)
                        * ln(1.0 + CAST(n AS DOUBLE) / CAST(df AS DOUBLE))
                        * 1000000 + 0.5) AS DECIMAL(18,0)) AS w
      FROM posting p JOIN dfq USING (token) CROSS JOIN nd
      WHERE df * 1000 <= 500 * n
    ),
    norms AS (
      SELECT doc_id, CAST(sum(w * w) AS DECIMAL(38,0)) AS norm2
      FROM wts GROUP BY doc_id
    ),
    dots AS (
      SELECT q.doc_id AS query_doc, c.doc_id,
             CAST(sum(q.w * c.w) AS DECIMAL(38,0)) AS dot
      FROM wts q JOIN wts c USING (token)
      WHERE q.doc_id IN (0, 1, 2) AND c.doc_id <> q.doc_id
      GROUP BY q.doc_id, c.doc_id
    ),
    scored AS (
      SELECT d.query_doc, d.doc_id,
             CAST(floor(CAST(dot AS DOUBLE)
                        / (sqrt(CAST(qn.norm2 AS DOUBLE))
                           * sqrt(CAST(cn.norm2 AS DOUBLE)))
                        * 1000000 + 0.5) AS BIGINT) AS cos_ppm
      FROM dots d
      JOIN norms qn ON qn.doc_id = d.query_doc
      JOIN norms cn ON cn.doc_id = d.doc_id
    )
    SELECT query_doc, doc_id, cos_ppm, rank FROM (
      SELECT query_doc, doc_id, cos_ppm,
             row_number() OVER (PARTITION BY query_doc
                                ORDER BY cos_ppm DESC, doc_id)::INT AS rank
      FROM scored
    ) WHERE rank <= 10
    """,
    doc="TF-IDF 'more like this' retrieval (operators/inverted."
    "more_like_this): related-document search through the inverted "
    "index with NO embeddings — the Lucene MoreLikeThis shape. "
    "Sparse document vectors are integer micro-unit tf·idf weights "
    "(tfidf_weights; df-capped at 0.5N so stopword-grade posting "
    "lists never join), query vectors broadcast against the "
    "token-keyed weights table, and dot products / norms accumulate "
    "as exact DECIMAL integer sums — bit-stable under any "
    "partitioning, which is what lets the cosine emit as integer "
    "ppm and hash-match a full SQL replay. Candidates are "
    "token-driven (docs sharing a surviving token), never "
    "all-pairs. Top-10 per query doc on the (cos_ppm, doc_id) "
    "total order.",
    tags=("llm", "text", "search", "bench"),
)
def more_like_this_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbm_nca_ph_etl_spark.operators.inverted import build_postings, more_like_this

    d = _t(spark, sf_dir, "documents")
    return more_like_this(build_postings(d), query_ids=[0, 1, 2], topk=10)


@register(
    "winnow_plagiarism_pairs",
    f"""
    WITH toks AS (
      SELECT doc_id, {_SQL_TOKENS.format(t='text')} AS t FROM documents
    ),
    sh AS (
      SELECT doc_id,
             unnest(generate_series(1, len(t) - 4)) AS pos,
             unnest(list_transform(generate_series(1, len(t) - 4),
                    i -> ('0x' || substr(md5(array_to_string(t[i:i+4], ' ')),
                                         1, 12))::BIGINT)) AS h
      FROM toks WHERE len(t) >= 5
    ),
    nk AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    win AS (
      SELECT sh.doc_id, sh.pos, sh.h, sh.pos - off AS w0
      FROM sh JOIN nk USING (doc_id)
      CROSS JOIN (SELECT unnest(range(0, 4)) AS off) o
      WHERE sh.pos - off >= 1 AND sh.pos - off <= n - 3
    ),
    chosen AS (
      SELECT doc_id, pos, h FROM (
        SELECT doc_id, pos, h,
               row_number() OVER (PARTITION BY doc_id, w0
                                  ORDER BY h ASC, pos DESC) AS rn
        FROM win
      ) WHERE rn = 1
    ),
    fps AS (SELECT DISTINCT doc_id, h FROM chosen),
    ok AS (SELECT h FROM fps GROUP BY h HAVING count(*) <= 16),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS n_shared
      FROM fps a JOIN fps b USING (h) JOIN ok USING (h)
      WHERE a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b, n_shared FROM pairs
    ORDER BY n_shared DESC, doc_a, doc_b LIMIT 20
    """,
    doc="Winnowing fingerprint overlap report (operators/dedup."
    "winnow_fingerprints) — the MOSS plagiarism-detection pipeline "
    "(Schleimer et al. 2003): per-window rightmost-minimum k-gram "
    "hashes give a position-covering ~2/(w+1)-density fingerprint "
    "set (any shared run of ≥ w+k-1 tokens MUST share a "
    "fingerprint), localizing overlap where MinHash signatures "
    "can't. Selection is per-document — one let-bound HOF "
    "projection, zero shuffles — so the only data-sized exchanges "
    "are the df-capped fingerprint self-join (bounded posting "
    "lists, the LSH-pairs discipline) and the pair rollup. Exact "
    "hash match vs a full SQL replay of the window argmin "
    "(rightmost-min tiebreak included); top-20 on the "
    "(n_shared, doc_a, doc_b) total order.",
    tags=("llm", "dedup", "bench"),
)
def winnow_plagiarism_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbm_nca_ph_etl_spark.operators.dedup import winnow_fingerprints

    d = _t(spark, sf_dir, "documents")
    # Posting-list form (the minhash_lsh_pairs idiom): the old
    # distinct→df-filter→self-join referenced the fingerprint lineage
    # four times, so Catalyst ran the tokenize+winnow HOF subtree 4×
    # (4 corpus scans, 4 Generates). collect_set per fp dedups
    # (doc_id, fp) map-side AND groups in ONE exchange; the df cap
    # (≤16) becomes a size filter on the posting list, and pairs are
    # an in-list HOF — Σ df² work, identical (doc_a < doc_b, count of
    # shared fps) result, one corpus scan.
    fps = winnow_fingerprints(d, k=5, w=4).select("doc_id", "fp")
    grouped = (
        fps.groupBy("fp")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("ids"))
        .where((F.size("ids") > 1) & (F.size("ids") <= 16))
    )
    pairs_in_list = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    pairs = (
        grouped.select(F.explode(pairs_in_list).alias("p"))
        .groupBy(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    return pairs.orderBy(F.col("n_shared").desc(), "doc_a", "doc_b").limit(20)


@register(
    "bigram_perplexity_topk",
    f"""
    WITH toks AS (
      SELECT doc_id, {_SQL_TOKENS.format(t='text')} AS t FROM documents
    ),
    big AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(t) - 1), i -> t[i])) AS w1,
             unnest(list_transform(generate_series(1, len(t) - 1), i -> t[i+1])) AS w2
      FROM toks WHERE len(t) >= 2
    ),
    occ AS (
      SELECT doc_id, w1, w2, count(*)::BIGINT AS btf
      FROM big GROUP BY doc_id, w1, w2
    ),
    c12 AS (SELECT w1, w2, sum(btf)::BIGINT AS c12 FROM occ GROUP BY w1, w2),
    c1 AS (SELECT w1, sum(c12)::BIGINT AS c1 FROM c12 GROUP BY w1),
    vocab AS (
      SELECT count(*)::BIGINT AS V FROM (
        SELECT w1 AS tok FROM c12 UNION SELECT w2 FROM c12
      )
    ),
    per AS (
      SELECT w1, w2,
             CAST(floor((ln(CAST(c1 + V AS DOUBLE)) - ln(CAST(c12 + 1 AS DOUBLE)))
                        * 1000000 + 0.5) AS BIGINT) AS nm
      FROM c12 JOIN c1 USING (w1) CROSS JOIN vocab
    ),
    scored AS (
      SELECT doc_id, sum(btf)::BIGINT AS n_bigrams,
             sum(btf * nm)::BIGINT AS nll_micro
      FROM occ JOIN per USING (w1, w2) GROUP BY doc_id
    ),
    finalized AS (
      SELECT doc_id, n_bigrams, nll_micro,
             CAST(floor(CAST(nll_micro AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
                        + 0.5) AS BIGINT) AS avg_nll_micro
      FROM scored
    )
    SELECT doc_id, n_bigrams, nll_micro, avg_nll_micro,
           CAST(floor(exp(CAST(avg_nll_micro AS DOUBLE) / 1000000) + 0.5)
                AS BIGINT) AS ppl
    FROM finalized
    ORDER BY avg_nll_micro DESC, doc_id LIMIT 20
    """,
    doc="Bigram language-model perplexity filter (operators/"
    "text_analysis.bigram_nll): order-2 add-one-smoothed "
    "p(w2|w1) trained on the corpus itself, the transition-noise "
    "detector unigram perplexity can't see. Per-bigram-type NLL "
    "quantizes to integer micro-nats so per-doc sums are exact "
    "integers (merge-order-proof); ranking and the top-20 cut run "
    "on the (avg_nll_micro, doc_id) total order. Counts are "
    "rollups of one tokenize pass; the scoring join shuffles "
    "bigram TYPES only. Exact hash match vs the full SQL replay.",
    tags=("llm", "text", "quality"),
)
def bigram_perplexity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbm_nca_ph_etl_spark.operators.text_analysis import bigram_nll

    d = _t(spark, sf_dir, "documents")
    return bigram_nll(d).orderBy(F.col("avg_nll_micro").desc(), "doc_id").limit(20)


_LC_DIM, _LC_ITERS, _LC_LR = 256, 16, 128.0


def _langid_oracle() -> str:
    """Programmatically unrolled k-iteration GD oracle (the pagerank
    CTE-unroll discipline, generated instead of hand-written): each
    iteration is the same 4-CTE block over the previous weight
    table. Iteration 1 needs no special case — w0=0 gives z=0 and
    p=0.5 exactly in both engines."""
    blocks = [
        f"""
    WITH posting AS MATERIALIZED ({_SQL_POSTINGS}),
    feats AS MATERIALIZED (
      SELECT doc_id,
             ('0x' || substr(md5(token), 1, 12))::BIGINT % {_LC_DIM} AS bucket,
             sum(tf)::BIGINT AS btf
      FROM posting GROUP BY doc_id, bucket
    ),
    nt AS (SELECT doc_id, sum(btf)::BIGINT AS n_tokens FROM feats GROUP BY doc_id),
    lab AS (SELECT doc_id, (lang = 'en')::INT AS y FROM documents),
    lf AS MATERIALIZED (
      SELECT f.doc_id, bucket, btf, n_tokens, y
      FROM feats f JOIN nt USING (doc_id) JOIN lab USING (doc_id)
    ),
    nd AS MATERIALIZED (SELECT count(DISTINCT doc_id)::BIGINT AS n_docs FROM lf),
    w0 AS MATERIALIZED (SELECT unnest(range(0, {_LC_DIM})) AS bucket, 0::BIGINT AS w)"""
    ]
    for i in range(1, _LC_ITERS + 1):
        blocks.append(f"""
    s{i} AS MATERIALIZED (
      SELECT doc_id, y, n_tokens, sum(btf * w)::BIGINT AS s
      FROM lf JOIN w{i - 1} USING (bucket) GROUP BY doc_id, y, n_tokens
    ),
    r{i} AS MATERIALIZED (
      SELECT doc_id,
             (1.0 / (1.0 + exp(-(CAST(s AS DOUBLE)
                                 / (CAST(n_tokens AS DOUBLE) * 1000000)))))
               - CAST(y AS DOUBLE) AS r
      FROM s{i}
    ),
    g{i} AS MATERIALIZED (
      SELECT bucket,
             sum(CAST(floor((r * CAST(btf AS DOUBLE) / CAST(n_tokens AS DOUBLE))
                            * 1000000 + 0.5) AS BIGINT))::BIGINT AS g
      FROM lf JOIN r{i} USING (doc_id) GROUP BY bucket
    ),
    w{i} AS MATERIALIZED (
      SELECT w{i - 1}.bucket,
             (w{i - 1}.w - coalesce(CAST(floor({_LC_LR} * CAST(g AS DOUBLE)
                                         / CAST(n_docs AS DOUBLE) + 0.5)
                                    AS BIGINT), 0))::BIGINT AS w
      FROM w{i - 1} LEFT JOIN g{i} USING (bucket) CROSS JOIN nd
    )""")
    k = _LC_ITERS
    tail = f"""
    , se AS (
      SELECT doc_id, y, sum(btf * w)::BIGINT AS s
      FROM lf JOIN w{k} USING (bucket) GROUP BY doc_id, y
    ),
    ev AS (
      SELECT y, count(*)::BIGINT AS n_docs,
             sum((s >= 0)::INT)::BIGINT AS n_pred_en,
             sum(((s >= 0) = (y = 1))::INT)::BIGINT AS n_correct
      FROM se GROUP BY y
    ),
    ws AS (SELECT sum(w)::BIGINT AS w_sum, sum(abs(w))::BIGINT AS w_abs FROM w{k})
    SELECT y, n_docs, n_pred_en, n_correct, w_sum, w_abs
    FROM ev CROSS JOIN ws
    """
    return ",".join(blocks) + tail


@register(
    "train_langid_classifier",
    _langid_oracle(),
    doc="IN-ENGINE classifier TRAINING (operators/text_analysis."
    "linear_classifier_train): 16 full-batch logistic-regression "
    "iterations over hashed bag-of-words features (dim=256, lr=128) "
    "learning lang=='en' from token distributions — the trainable "
    "half of the fastText-style corpus gate whose inference "
    "(hashed_linear_score) already ships. Weights and gradients are "
    "exact integer micro-units (per-row quantize before any "
    "cross-row sum), so the whole loop is bit-reproducible AND "
    "unrolls into a PROGRAMMATICALLY-GENERATED k-block SQL oracle "
    "replaying weights digit-for-digit (w_sum/w_abs checksums) plus "
    "the trained model's per-class confusion counts. Trained "
    "accuracy 60.0% vs the 56.4% majority baseline — the synthetic "
    "corpus's lang labels are only weakly text-separable (~62% "
    "float-GD ceiling, all langs share one 31-token vocabulary); "
    "learnability on separable data is pinned by "
    "test_inverted.TestLinearClassifierTrain. Per iteration: one "
    "dim-row broadcast join + two groupBys; the model never leaves "
    "the cluster (no collect).",
    tags=("llm", "text", "quality", "train"),
)
def train_langid_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbm_nca_ph_etl_spark.operators.text_analysis import (
        hashed_features,
        linear_classifier_train,
    )

    d = _t(spark, sf_dir, "documents")
    feats = hashed_features(d, dim=_LC_DIM).persist()
    labels = d.select("doc_id", (F.col("lang") == "en").cast("int").alias("y"))
    w = linear_classifier_train(
        feats, labels, dim=_LC_DIM, iters=_LC_ITERS, lr=_LC_LR
    )
    scored = (
        feats.join(labels, "doc_id")
        .join(F.broadcast(w), "bucket")
        .groupBy("doc_id", "y")
        .agg(F.sum(F.col("btf") * F.col("w_micro")).cast("long").alias("s"))
    )
    pred = F.col("s") >= 0
    ev = scored.groupBy("y").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(pred.cast("int")).cast("long").alias("n_pred_en"),
        F.sum((pred == (F.col("y") == 1)).cast("int")).cast("long").alias("n_correct"),
    )
    ws = w.agg(
        F.sum("w_micro").cast("long").alias("w_sum"),
        F.sum(F.abs(F.col("w_micro"))).cast("long").alias("w_abs"),
    )
    out = ev.crossJoin(F.broadcast(ws)).select(
        "y", "n_docs", "n_pred_en", "n_correct", "w_sum", "w_abs"
    )
    return out


@register(
    "cdc_chunk_dedup",
    f"""
    WITH toks AS (
      SELECT doc_id, {_SQL_TOKENS.format(t='text')} AS t FROM documents
    ),
    bp AS (
      SELECT doc_id, t,
             list_filter(generate_series(1, len(t)),
                         i -> ('0x' || substr(md5(t[i]), 1, 12))::BIGINT % 32 = 0)
               AS cuts
      FROM toks WHERE len(t) >= 1
    ),
    chunks AS (
      SELECT doc_id,
             unnest(generate_series(1, len(cuts) + 1)) AS j,
             unnest(list_transform(generate_series(1, len(cuts) + 1),
               j -> t[(list_concat([1], list_transform(cuts, p -> p + 1)))[j]
                      : (list_concat(cuts, [len(t)]))[j]])) AS c
      FROM bp
    ),
    ne AS (
      SELECT doc_id, c,
             ('0x' || substr(md5(array_to_string(c, ' ')), 1, 12))::BIGINT AS fp
      FROM chunks WHERE len(c) > 0
    ),
    shared AS (
      SELECT fp FROM (SELECT fp, count(DISTINCT doc_id) AS nd FROM ne GROUP BY fp)
      WHERE nd >= 2
    ),
    per_doc AS (
      SELECT doc_id,
             count(*)::BIGINT AS n_chunks,
             sum(len(c))::BIGINT AS n_tokens,
             max(len(c))::BIGINT AS max_chunk,
             sum((fp IN (SELECT fp FROM shared))::INT)::BIGINT AS n_shared_chunks
      FROM ne GROUP BY doc_id
    )
    SELECT doc_id, n_chunks, n_tokens, max_chunk, n_shared_chunks
    FROM per_doc
    ORDER BY n_shared_chunks DESC, doc_id LIMIT 20
    """,
    doc="Content-defined chunking + chunk-store dedup accounting "
    "(operators/dedup.cdc_chunks): the Rabin/gear-CDC idea at token "
    "level — a token cuts iff hash48(token) %% 32 == 0, so chunk "
    "boundaries are content properties and an edited/prefixed "
    "near-duplicate still shares every chunk after the next cut "
    "(fixed windows shift ALL of them). Chunking is one let-bound "
    "slice-algebra projection per doc — zero shuffles, map-only at "
    "any corpus size; the only exchanges here are the fp rollups "
    "that compute which chunks appear in ≥2 docs (the chunk-store "
    "dedup ratio). Exact hash match vs the full SQL replay of cuts/"
    "slices/fingerprints; top-20 docs on the (n_shared_chunks, "
    "doc_id) total order.",
    tags=("llm", "dedup"),
)
def cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbm_nca_ph_etl_spark.operators.dedup import cdc_chunks

    d = _t(spark, sf_dir, "documents")
    ch = cdc_chunks(d, avg_tokens=32)
    shared = (
        ch.groupBy("fp")
        .agg(F.count_distinct("doc_id").alias("_nd"))
        .where(F.col("_nd") >= 2)
        .select("fp")
    )
    flagged = ch.join(F.broadcast(shared.withColumn("_s", F.lit(1))), "fp", "left")
    per_doc = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.max("n_tokens").cast("long").alias("max_chunk"),
        F.sum(F.coalesce(F.col("_s"), F.lit(0))).cast("long").alias("n_shared_chunks"),
    )
    return per_doc.orderBy(F.col("n_shared_chunks").desc(), "doc_id").limit(20)


@register(
    "margin_mined_pairs",
    """
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < 10
    ),
    c AS MATERIALIZED (
      SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings
    ),
    fwd AS MATERIALIZED (
      SELECT query_id, neighbor_id,
             CAST(floor(cos_sim * 1000000 + 0.5) AS BIGINT) AS cos_e6
      FROM (
        SELECT query_id, neighbor_id,
               round(list_dot_product(qv, cv)
                     / (sqrt(list_dot_product(qv, qv))
                        * sqrt(list_dot_product(cv, cv))), 6) AS cos_sim,
               row_number() OVER (
                 PARTITION BY query_id
                 ORDER BY round(list_dot_product(qv, cv)
                     / (sqrt(list_dot_product(qv, qv))
                        * sqrt(list_dot_product(cv, cv))), 6) DESC,
                 neighbor_id) AS rk
        FROM q CROSS JOIN c WHERE query_id <> neighbor_id
      ) WHERE rk <= 4
    ),
    qsum AS (SELECT query_id, sum(cos_e6)::BIGINT AS qs FROM fwd GROUP BY query_id),
    cand AS (
      SELECT neighbor_id AS bid, cv AS bv
      FROM (SELECT DISTINCT neighbor_id FROM fwd) JOIN c USING (neighbor_id)
    ),
    back AS MATERIALIZED (
      SELECT bid, CAST(floor(cos_sim * 1000000 + 0.5) AS BIGINT) AS cos_e6
      FROM (
        SELECT bid, neighbor_id,
               round(list_dot_product(bv, cv)
                     / (sqrt(list_dot_product(bv, bv))
                        * sqrt(list_dot_product(cv, cv))), 6) AS cos_sim,
               row_number() OVER (
                 PARTITION BY bid
                 ORDER BY round(list_dot_product(bv, cv)
                     / (sqrt(list_dot_product(bv, bv))
                        * sqrt(list_dot_product(cv, cv))), 6) DESC,
                 neighbor_id) AS rk
        FROM cand CROSS JOIN c WHERE bid <> neighbor_id
      ) WHERE rk <= 4
    ),
    nsum AS (SELECT bid, sum(cos_e6)::BIGINT AS ns FROM back GROUP BY bid),
    scored AS (
      SELECT query_id, neighbor_id,
             CAST(floor(8.0 * CAST(cos_e6 AS DOUBLE)
                        / CAST(qs + ns AS DOUBLE) * 1000000 + 0.5)
                  AS BIGINT) AS margin_ppm
      FROM fwd JOIN qsum USING (query_id)
      JOIN nsum ON nsum.bid = fwd.neighbor_id
    )
    SELECT query_id, neighbor_id, margin_ppm, rank FROM (
      SELECT query_id, neighbor_id, margin_ppm,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY margin_ppm DESC, neighbor_id)::INT AS rank
      FROM scored
    ) WHERE rank <= 3
    """,
    doc="Margin-based pair mining (operators/similarity.margin_topk) "
    "— the Artetxe & Schwenk 2019 ratio-margin criterion behind "
    "CCMatrix/LASER bitext mining: score cos(x,y) against the mean "
    "of both endpoints' k-NN cosines, so 'hub' vectors close to "
    "everything need to beat their own background to pair "
    "(hubness correction raw cosine lacks). Forward top-k via the "
    "guarded exact baseline; backward averages only for the "
    "candidate set (≤|Q|·k vectors — bounded, never corpus²). "
    "Cosines → exact e6 integers before any cross-row sum, margin "
    "is one double expr on exact ints as integer ppm; top-3 per "
    "query on the (margin_ppm, neighbor_id) total order. Exact "
    "hash match vs the full SQL replay; LSH/IVF legs swap in at "
    "scale.",
    tags=("similarity", "llm"),
)
def margin_mined_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return S.margin_topk(emb, emb.where(F.col("vec_id") < 10), k=4, m=3)


def _sssp_iter_sql(i: int) -> str:
    return f"""
    sp{i} AS (
      SELECT node, min(d)::BIGINT AS d FROM (
        SELECT node, d FROM sp{i - 1}
        UNION ALL
        SELECT e.dst AS node, p.d + e.w AS d
        FROM wedges e JOIN sp{i - 1} p ON p.node = e.src
      ) GROUP BY node
    )"""


@register(
    "weighted_trade_paths",
    """
    WITH ce AS (
      SELECT 'c' || o_custkey::VARCHAR AS src,
             's' || l_suppkey::VARCHAR AS dst,
             min(CAST(floor(l_quantity) AS BIGINT)) AS w
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY src, dst
    ),
    wedges AS (SELECT src, dst, w FROM ce UNION ALL SELECT dst, src, w FROM ce),
    sp0 AS (SELECT 's1' AS node, 0::BIGINT AS d),
    """
    + ",".join(_sssp_iter_sql(i) for i in range(1, 5))
    + """
    SELECT node, d AS dist FROM sp4
    """,
    doc="WEIGHTED single-source shortest paths (operators/graph."
    "shortest_paths): Bellman-Ford relaxation as 4 bounded "
    "supersteps over the undirected trade graph with integer "
    "min-quantity edge costs — the weighted upgrade of "
    "bfs_trade_distance (Dijkstra's queue is sequential; "
    "join+min-groupBy relaxation is the Pregel SSSP form a cluster "
    "runs). All-INTEGER distances ⇒ exact oracle hash with no "
    "float caveats; negative weights refused by the operator. Per "
    "superstep one frontier join + one map-side-combinable "
    "min-groupBy with localCheckpoint lineage cuts, O(k·|E|).",
    tags=("graph", "iterative"),
)
def weighted_trade_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbm_nca_ph_etl_spark.operators.graph import shortest_paths

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    ce = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .agg(F.min(F.floor(F.col("l_quantity")).cast("long")).alias("w"))
    )
    edges = ce.unionByName(
        ce.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    )
    return shortest_paths(edges, ["s1"], max_hops=4)


@register(
    "data_quality_audit",
    """
    SELECT 'custkey_not_null' AS constraint, 'not_null' AS kind,
           sum((o_custkey IS NULL)::INT)::BIGINT AS n_violations FROM orders
    UNION ALL
    SELECT 'status_accepted', 'accepted_values',
           sum((o_orderstatus IS NOT NULL
                AND o_orderstatus NOT IN ('O', 'F', 'P'))::INT)::BIGINT
    FROM orders
    UNION ALL
    SELECT 'priority_format', 'matches',
           sum((o_orderpriority IS NOT NULL
                AND NOT regexp_matches(o_orderpriority, '^[1-5]-[A-Z ]+$'))::INT)::BIGINT
    FROM orders
    UNION ALL
    SELECT 'price_positive', 'expression',
           sum((NOT coalesce(o_totalprice > 0.0, FALSE))::INT)::BIGINT
    FROM orders
    UNION ALL
    SELECT 'price_under_200k', 'range',
           sum((o_totalprice IS NOT NULL
                AND NOT (o_totalprice BETWEEN 0.0 AND 200000.0))::INT)::BIGINT
    FROM orders
    UNION ALL
    SELECT 'orderkey_unique', 'unique',
           coalesce(sum(n - 1), 0)::BIGINT
    FROM (SELECT o_orderkey, count(*) AS n FROM orders GROUP BY o_orderkey
          HAVING count(*) > 1)
    UNION ALL
    SELECT 'custkey_fk', 'foreign_key', count(*)::BIGINT
    FROM orders WHERE o_custkey IS NOT NULL
      AND o_custkey NOT IN (SELECT c_custkey FROM customer)
    """,
    doc="Declarative data-quality constraint suite (operators/"
    "constraints.check_constraints) — the dbt-tests/Deequ surface "
    "in-engine: 7 rules over orders (not_null, accepted_values, "
    "unanchored-regex format, boolean expression, a deliberately "
    "tight range that FAILS with a real violation count, multi-row "
    "unique, FK to customer). Cost model is the point: all 5 "
    "row-local rules fold into ONE aggregate scan (conditional "
    "sums, map-side combined, no data-row shuffle); unique adds one "
    "output-sized groupBy; the FK is one broadcast left-anti count. "
    "Counting instead of failing fast gives the violation PROFILE a "
    "quarantine decision needs, at the cost of the same scan. Every "
    "result is an exact count — hash-exact vs the SQL replay.",
    tags=("lake", "quality", "bench"),
)
def data_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbm_nca_ph_etl_spark.operators import constraints as C

    o = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    suite = [
        C.not_null("custkey_not_null", "o_custkey"),
        C.accepted_values("status_accepted", "o_orderstatus", "O", "F", "P"),
        C.matches("priority_format", "o_orderpriority", "^[1-5]-[A-Z ]+$"),
        C.expression("price_positive", "o_totalprice > 0.0"),
        C.in_range("price_under_200k", "o_totalprice", 0.0, 200000.0),
        C.unique("orderkey_unique", "o_orderkey"),
        C.foreign_key("custkey_fk", "o_custkey", "customer", "c_custkey"),
    ]
    return C.check_constraints(o, suite, parents={"customer": cust})


@register(
    "watermark_drop_audit",
    """
    WITH t AS (
      SELECT event_type, epoch_us(ts) AS ts_us,
             max(epoch_us(ts)) OVER (
               PARTITION BY event_type ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_max
      FROM events
    )
    SELECT event_type,
           count(*)::BIGINT AS n_events,
           sum((ts_us < run_max - 300000000)::INT)::BIGINT AS n_late,
           coalesce(max(CASE WHEN ts_us < run_max - 300000000
                             THEN (run_max - 300000000 - ts_us) // 1000000
                        END), 0)::BIGINT AS max_late_s
    FROM t GROUP BY event_type
    """,
    doc="Watermark planning audit (the batch twin of streaming/"
    "events.py's watermark policy): replay each source partition in "
    "arrival order (event_id; per-event_type partitions — the "
    "per-Kafka-partition watermark model; Spark's global watermark "
    "is their min) and count the events a 5-minute watermark would "
    "DROP as late, plus how far behind the worst straggler runs. "
    "This is the query you run BEFORE picking a delay: it turns "
    "'10 minutes should be enough' into measured drop counts. One "
    "running max per partition (parallel across types/sources, "
    "never a global single-task order) + one rollup; all integer "
    "microsecond arithmetic — exact hash vs the SQL replay.",
    tags=("streaming", "events"),
)
def watermark_drop_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    t = ev.select("event_type", "event_id", "ts_us").withColumn(
        "run_max", F.max("ts_us").over(w)
    )
    late = F.col("ts_us") < F.col("run_max") - F.lit(300_000_000)
    late_s = F.floor(
        (F.col("run_max") - F.lit(300_000_000) - F.col("ts_us")).cast("double")
        / F.lit(1e6)
    ).cast("long")
    return t.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(late.cast("int")).cast("long").alias("n_late"),
        F.coalesce(F.max(F.when(late, late_s)), F.lit(0))
        .cast("long")
        .alias("max_late_s"),
    )


@register(
    "copurchase_part_pairs",
    """
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    ptot AS (SELECT l_partkey, count(*)::BIGINT AS c FROM li GROUP BY l_partkey),
    n AS (SELECT count(DISTINCT l_orderkey)::BIGINT AS n_orders FROM li),
    pairs AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*)::BIGINT AS support
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY p1, p2 HAVING count(*) >= 2
    )
    SELECT p1, p2, support,
           CAST(floor(CAST(support AS DOUBLE) / CAST(c1.c AS DOUBLE)
                      * 1000000 + 0.5) AS BIGINT) AS conf_ppm,
           CAST(floor(CAST(support * n_orders AS DOUBLE)
                      / CAST(c1.c * c2.c AS DOUBLE) * 1000 + 0.5)
                AS BIGINT) AS lift_milli
    FROM pairs
    JOIN ptot c1 ON c1.l_partkey = p1
    JOIN ptot c2 ON c2.l_partkey = p2
    CROSS JOIN n
    ORDER BY support DESC, p1, p2 LIMIT 25
    """,
    doc="Market-basket co-purchase mining (frequent-itemset pairs — "
    "the association-rule workload): parts appearing in the same "
    "order, support ≥ 2, with integer-ppm confidence and "
    "milli-lift. The pair join is WITHIN-order (self-join on the "
    "order key, p1<p2): fan-out is bounded by basket size — "
    "O(Σ basket²), never parts² — the same in-bucket pair "
    "discipline as LSH. Part totals ride a model-sized broadcast; "
    "the 1-row order count crosses as a broadcast literal. "
    "All-integer ranking on the (support, p1, p2) total order; "
    "exact hash vs the SQL replay.",
    tags=("analytics",),
)
def copurchase_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .dropDuplicates()
    )
    ptot = li.groupBy("l_partkey").agg(F.count(F.lit(1)).cast("long").alias("c"))
    n = li.agg(F.count_distinct("l_orderkey").cast("long").alias("n_orders"))
    a = li.select(F.col("l_orderkey"), F.col("l_partkey").alias("p1"))
    b = li.select(F.col("l_orderkey"), F.col("l_partkey").alias("p2"))
    pairs = (
        a.join(b, "l_orderkey")
        .where(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .where(F.col("support") >= 2)
    )
    conf = F.floor(
        F.col("support").cast("double") / F.col("c1").cast("double")
        * F.lit(1e6)
        + F.lit(0.5)
    ).cast("long")
    lift = F.floor(
        (F.col("support") * F.col("n_orders")).cast("double")
        / (F.col("c1") * F.col("c2")).cast("double")
        * F.lit(1000.0)
        + F.lit(0.5)
    ).cast("long")
    out = (
        pairs.join(
            F.broadcast(ptot.select(F.col("l_partkey").alias("p1"), F.col("c").alias("c1"))),
            "p1",
        )
        .join(
            F.broadcast(ptot.select(F.col("l_partkey").alias("p2"), F.col("c").alias("c2"))),
            "p2",
        )
        .crossJoin(F.broadcast(n))
        .select(
            "p1", "p2", "support", conf.alias("conf_ppm"), lift.alias("lift_milli")
        )
    )
    return out.orderBy(F.col("support").desc(), "p1", "p2").limit(25)


@register(
    "image_dhash_near_dup",
    """
    WITH imgs AS (
      SELECT doc_id AS asset_id, text FROM documents
      WHERE doc_id % 3 = 0 AND length(text) >= 63
    ),
    bits AS (
      SELECT asset_id, r.r * 8 + c.c AS i,
             (ord(substr(text, r.r * 9 + c.c + 1, 1))
              > ord(substr(text, r.r * 9 + c.c + 2, 1)))::BIGINT AS bit
      FROM imgs,
           LATERAL unnest(range(0, 7)) r(r),
           LATERAL unnest(range(0, 8)) c(c)
    ),
    hs AS (
      SELECT asset_id, sum(bit * (1::BIGINT << i))::BIGINT AS dhash
      FROM bits GROUP BY asset_id
    ),
    bandv AS (
      SELECT asset_id, dhash, k.k, (dhash >> (14 * k.k)) & 16383 AS bv
      FROM hs, LATERAL unnest(range(0, 4)) k(k)
    ),
    cand AS (
      SELECT DISTINCT a.asset_id AS asset_a, b.asset_id AS asset_b,
             a.dhash AS ha, b.dhash AS hb
      FROM bandv a JOIN bandv b
        ON a.k = b.k AND a.bv = b.bv AND a.asset_id < b.asset_id
    )
    SELECT asset_a, asset_b, bit_count(xor(ha, hb))::INT AS hamming
    FROM cand WHERE bit_count(xor(ha, hb)) <= 10
    ORDER BY asset_a, asset_b
    """,
    doc="Perceptual image near-dup (operators/multimodal.dhash_images "
    "+ dhash_near_dup): 56-bit difference-hash thumbnails — gradient "
    "SIGNS survive re-encode/brightness shifts — paired by "
    "multi-index banded hamming (Norouzi et al.): 4 × 14-bit "
    "bit-slices, in-band candidates only (never all-pairs; "
    "pigeonhole-complete below hamming 4, LSH-grade recall above), "
    "exact popcount verify ≤ 10. Hashing is map-only Arrow numpy "
    "(blobs never shuffle); pairing shuffles band-sized keys — the "
    "image twin of the MinHash candidates→verify discipline. Oracle "
    "replays bits/pack/bands/popcount from the generator text "
    "byte-for-byte — exact hash both SFs.",
    tags=("multimodal", "llm", "dedup"),
)
def image_dhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbm_nca_ph_etl_spark.operators.multimodal import (
        dhash_images,
        dhash_near_dup,
    )

    hashes = dhash_images(_assets(spark, sf_dir))
    return dhash_near_dup(hashes).orderBy("asset_a", "asset_b")


@register(
    "audience_overlap_audit",
    """
    WITH u AS (SELECT DISTINCT event_type, user_id FROM events),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             count(*)::BIGINT AS exact_overlap
      FROM u a JOIN u b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY type_a, type_b
    )
    SELECT type_a, type_b, exact_overlap, true AS est_ok
    FROM pairs
    """,
    doc="Sketch-based audience overlap (the ad-tech / cohort "
    "intersection question at 100 TB: |users(A) ∩ users(B)| without "
    "joining user sets): per-segment HLL sketches union pairwise "
    "and inclusion-exclusion gives the estimate — segment sketches "
    "are 16 KiB each, so EVERY pairwise overlap costs sketch-level "
    "work after ONE pass over events, where the exact answer needs "
    "a user-level self-join per pair. Audit form (the recall-bound "
    "convention): both engines emit the EXACT overlaps (the oracle "
    "can't replay DataSketches registers), and the Spark side "
    "additionally verdicts its estimate within 2%% + 1 absolute "
    "(measured exactly 0 error at both SFs — lgK=14 is exact at "
    "these cardinalities); est_ok must come back all-true.",
    tags=("events", "sketch"),
)
def audience_overlap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    u = ev.select("event_type", "user_id").distinct()
    exact = (
        u.alias("a")
        .join(
            u.alias("b"),
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("exact_overlap"))
    )
    sk = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id", 14).alias("sk"),
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id", 14)).alias("est"),
    )
    ska = sk.select(
        F.col("event_type").alias("type_a"),
        F.col("sk").alias("ska"),
        F.col("est").alias("est_a"),
    )
    skb = sk.select(
        F.col("event_type").alias("type_b"),
        F.col("sk").alias("skb"),
        F.col("est").alias("est_b"),
    )
    est = (
        ska.crossJoin(F.broadcast(skb))
        .where(F.col("type_a") < F.col("type_b"))
        .select(
            "type_a",
            "type_b",
            (
                F.col("est_a")
                + F.col("est_b")
                - F.hll_sketch_estimate(F.hll_union(F.col("ska"), F.col("skb")))
            ).alias("est_overlap"),
        )
    )
    verdict = (
        F.abs(F.col("est_overlap") - F.col("exact_overlap")) * F.lit(50)
        <= F.col("exact_overlap") + F.lit(50)
    )
    return (
        exact.join(F.broadcast(est), ["type_a", "type_b"])
        .select("type_a", "type_b", "exact_overlap", verdict.alias("est_ok"))
    )


@register(
    "snapshot_diff_orders",
    """
    WITH sim AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice + 1.0
                  ELSE o_totalprice END AS o_totalprice,
             o_orderstatus
      FROM orders WHERE o_orderkey % 113 <> 0
    ),
    lf AS (
      SELECT o_orderkey,
             ('0x' || substr(md5(
                concat_ws(chr(31),
                  coalesce(CAST(o_orderstatus AS VARCHAR), chr(0)),
                  coalesce(CAST(o_totalprice AS VARCHAR), chr(0)))), 1, 12))::BIGINT AS fp
      FROM orders
    ),
    rf AS (
      SELECT o_orderkey,
             ('0x' || substr(md5(
                concat_ws(chr(31),
                  coalesce(CAST(o_orderstatus AS VARCHAR), chr(0)),
                  coalesce(CAST(o_totalprice AS VARCHAR), chr(0)))), 1, 12))::BIGINT AS fp
      FROM sim
    ),
    d AS (
      SELECT coalesce(lf.o_orderkey, rf.o_orderkey) AS o_orderkey,
             CASE WHEN lf.fp IS NULL THEN 'added'
                  WHEN rf.fp IS NULL THEN 'removed'
                  WHEN lf.fp <> rf.fp THEN 'changed' END AS diff_kind
      FROM lf FULL OUTER JOIN rf USING (o_orderkey)
    )
    SELECT diff_kind, count(*)::BIGINT AS n_keys,
           min(o_orderkey)::BIGINT AS min_key, max(o_orderkey)::BIGINT AS max_key
    FROM d WHERE diff_kind IS NOT NULL
    GROUP BY diff_kind
    """,
    doc="Keyed snapshot reconciliation (sinks/merge.table_diff) — the "
    "migration-validation / anti-entropy primitive: diff two table "
    "snapshots by key, classifying added/removed/changed. The right "
    "snapshot is simulated in-query (every 113th order deleted, "
    "every 97th price bumped) so the expected delta is exact. Both "
    "sides reduce to (key, md5-48 row fingerprint) INSIDE their "
    "scans; the full-outer join shuffles ~20 bytes per row, never "
    "the payload — diffing two 100 TB snapshots is a metadata-sized "
    "exchange. Identical keys (the at-scale common case) are "
    "dropped before output. Exact hash vs the SQL replay of the "
    "fingerprint convention.",
    tags=("lake", "quality"),
)
def snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbm_nca_ph_etl_spark.sinks.merge import table_diff

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    sim = o.where(F.col("o_orderkey") % 113 != 0).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 97 == 0, F.col("o_totalprice") + F.lit(1.0)
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        "o_orderstatus",
    )
    d = table_diff(o, sim, keys=["o_orderkey"])
    return d.groupBy("diff_kind").agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.min("o_orderkey").cast("long").alias("min_key"),
        F.max("o_orderkey").cast("long").alias("max_key"),
    )


@register(
    "value_trend_by_type",
    """
    WITH g AS (
      SELECT event_type,
             CAST(floor(epoch_us(ts) / 1000000) AS BIGINT) - 1600000000 AS x,
             CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS y
      FROM events
    ),
    m AS (
      SELECT event_type,
             count(*)::BIGINT AS n,
             CAST(sum(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
             CAST(sum(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
             CAST(sum(CAST(x * y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxy,
             CAST(sum(CAST(x * x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxx
      FROM g GROUP BY event_type
    )
    SELECT event_type, n,
           CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) <> 0.0
                THEN CAST(floor(((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                                * 86400.0 + 0.5) AS BIGINT)
           END AS slope_micro_per_day
    FROM m
    """,
    doc="Per-group OLS trend (grouped linear regression, closed "
    "form): the 'is this metric drifting?' question answered in ONE "
    "map-side-combined aggregate pass — each group reduces to five "
    "exact moments (n, Σx, Σy, Σxy, Σx²; per-row integer quantize "
    "then DECIMAL sums, so the moments are merge-order-proof) and "
    "the slope is one double expression on exact integers, emitted "
    "as integer micro-units/day. No MLlib, no iteration, no "
    "shuffle beyond the group agg — the regression equivalent of "
    "the variance matview's moment trick (and composable with it: "
    "the moments ARE mergeable partials, so the trend can be "
    "maintained incrementally). Exact hash vs the SQL replay.",
    tags=("events", "analytics"),
)
def value_trend_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    x = (
        F.floor(F.col("ts_us").cast("double") / F.lit(1e6)).cast("long")
        - F.lit(1_600_000_000)
    )
    y = F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5)).cast("long")
    g = ev.select("event_type", x.alias("x"), y.alias("y"))
    m = g.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).cast("decimal(38,0)").alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)")).cast("decimal(38,0)").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("sxx"),
    )
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxyd, sxxd = F.col("sxy").cast("double"), F.col("sxx").cast("double")
    den = nd * sxxd - sxd * sxd
    slope = F.floor(
        ((nd * sxyd - sxd * syd) / den) * F.lit(86400.0) + F.lit(0.5)
    ).cast("long")
    return m.select(
        "event_type",
        "n",
        F.when(den != 0.0, slope).alias("slope_micro_per_day"),
    )


@register(
    "exact_jaccard_join",
    f"""
    WITH toksd AS (
      SELECT doc_id, {_SQL_SHINGLES.format(t='text')} AS ts
      FROM documents
      WHERE len({_SQL_SHINGLES.format(t='text')}) > 0
        AND ({_SQL_SHINGLES.format(t='text')})[1] <> ''
    ),
    tok AS (SELECT doc_id, unnest(ts) AS t FROM toksd),
    dfq AS (SELECT t, count(*)::BIGINT AS df FROM tok GROUP BY t),
    wdf AS (
      SELECT doc_id, tok.t, df,
             count(*) OVER (PARTITION BY doc_id) AS n,
             row_number() OVER (PARTITION BY doc_id ORDER BY df, tok.t) AS rn
      FROM tok JOIN dfq ON tok.t = dfq.t
    ),
    pref AS (
      SELECT doc_id, t FROM wdf WHERE rn <= n - ceil(0.6 * n) + 1
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM pref a JOIN pref b ON a.t = b.t AND a.doc_id < b.doc_id
    ),
    ver AS (
      SELECT doc_a, doc_b,
             len(list_intersect(sa.ts, sb.ts))::BIGINT AS i,
             (len(sa.ts) + len(sb.ts)
              - len(list_intersect(sa.ts, sb.ts)))::BIGINT AS u
      FROM cand
      JOIN toksd sa ON sa.doc_id = doc_a
      JOIN toksd sb ON sb.doc_id = doc_b
    )
    SELECT doc_a, doc_b,
           CAST(floor(CAST(i AS DOUBLE) / CAST(u AS DOUBLE) * 1000000 + 0.5)
                AS BIGINT) AS jac_ppm
    FROM ver WHERE i * 1000000 >= 600000 * u
    """,
    doc="EXACT set-similarity self-join with prefix filtering "
    "(operators/dedup.prefix_filter_jaccard_join) — the AllPairs/"
    "PPJoin family (Bayardo 2007, Xiao 2008): every pair with "
    "token-set Jaccard ≥ 0.6, no probabilistic recall — the exact "
    "counterpart of the MinHash pipeline for compliance-grade "
    "dedup. The pruning theorem: with tokens in a global "
    "rarest-first canonical order, J ≥ t pairs MUST share a token "
    "in each other's (n − ⌈t·n⌉ + 1)-prefix, so candidates are "
    "prefix-posting pairs only (rare-token lists — the shortest "
    "available), never corpus². Threshold decided by exact integer "
    "rational compare (inter·1e6 ≥ t_ppm·union), never float "
    "rounding; pytest holds a randomized differential vs brute "
    "force. Exact hash vs the SQL replay of ranking/prefix/verify.",
    tags=("llm", "dedup"),
)
def exact_jaccard_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbm_nca_ph_etl_spark.operators.dedup import prefix_filter_jaccard_join

    d = _t(spark, sf_dir, "documents")
    return prefix_filter_jaccard_join(d, threshold=0.6)


@register(
    "token_drift_report",
    f"""
    WITH posting AS ({_SQL_POSTINGS}),
    halves AS (
      SELECT token, sum(CASE WHEN doc_id % 2 = 0 THEN tf ELSE 0 END)::BIGINT AS c1,
             sum(CASE WHEN doc_id % 2 = 1 THEN tf ELSE 0 END)::BIGINT AS c2
      FROM posting GROUP BY token
    ),
    tot AS (
      SELECT sum(c1)::BIGINT AS t1, sum(c2)::BIGINT AS t2 FROM halves
    ),
    scored AS (
      SELECT token, c1, c2,
             CAST(floor(abs(ln((CAST(c1 + 1 AS DOUBLE) / CAST(t1 + 1 AS DOUBLE))
                              / (CAST(c2 + 1 AS DOUBLE) / CAST(t2 + 1 AS DOUBLE))))
                        * 1000000 + 0.5) AS BIGINT) AS drift_micro
      FROM halves CROSS JOIN tot WHERE c1 + c2 >= 20
    )
    SELECT token, c1, c2, drift_micro FROM scored
    ORDER BY drift_micro DESC, token LIMIT 20
    """,
    doc="Corpus drift report (distribution-shift monitoring between "
    "two corpus slices — the check a training pipeline runs between "
    "crawl snapshots or train/val splits before blaming the model): "
    "per-token add-one-smoothed log frequency ratio between the "
    "doc_id-parity halves, min-support 20, top-20 by absolute drift "
    "in integer micro-nats. One postings pass → vocab-sized rollup; "
    "totals are a 1-row broadcast; ranking on the "
    "(drift_micro, token) total order. Exact hash vs the SQL "
    "replay. Swap the parity split for snapshot ids in production — "
    "the plan is identical.",
    tags=("llm", "text", "quality"),
)
def token_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbm_nca_ph_etl_spark.operators.inverted import build_postings

    p = build_postings(_t(spark, sf_dir, "documents"))
    halves = p.groupBy("token").agg(
        F.sum(F.when(F.col("doc_id") % 2 == 0, F.col("tf")).otherwise(F.lit(0)))
        .cast("long")
        .alias("c1"),
        F.sum(F.when(F.col("doc_id") % 2 == 1, F.col("tf")).otherwise(F.lit(0)))
        .cast("long")
        .alias("c2"),
    )
    tot = halves.agg(
        F.sum("c1").cast("long").alias("t1"), F.sum("c2").cast("long").alias("t2")
    )
    ratio = (
        (F.col("c1") + F.lit(1)).cast("double") / (F.col("t1") + F.lit(1)).cast("double")
    ) / (
        (F.col("c2") + F.lit(1)).cast("double") / (F.col("t2") + F.lit(1)).cast("double")
    )
    drift = F.floor(F.abs(F.log(ratio)) * F.lit(1e6) + F.lit(0.5)).cast("long")
    return (
        halves.crossJoin(F.broadcast(tot))
        .where(F.col("c1") + F.col("c2") >= 20)
        .select("token", "c1", "c2", drift.alias("drift_micro"))
        .orderBy(F.col("drift_micro").desc(), "token")
        .limit(20)
    )


@register(
    "embedding_moment_matrix",
    """
    WITH q AS (
      SELECT vec_id, t.i AS i,
             CAST(floor(list_extract(embedding, t.i + 1) * 1048576.0 + 0.5)
                  AS BIGINT) AS qi
      FROM embeddings, unnest(range(0, 64)) AS t(i)
    ),
    g AS (
      SELECT a.i AS i, b.i AS j, CAST(SUM(a.qi * b.qi) AS BIGINT) AS moment_sum
      FROM q a JOIN q b ON a.vec_id = b.vec_id AND b.i >= a.i
      GROUP BY a.i, b.i
    ),
    m AS (
      SELECT i, -1 AS j, CAST(SUM(qi) AS BIGINT) AS moment_sum FROM q GROUP BY i
    ),
    c AS (
      SELECT -1 AS i, -1 AS j, COUNT(*)::BIGINT AS moment_sum FROM embeddings
    )
    SELECT i, j, moment_sum FROM g
    UNION ALL SELECT i, j, moment_sum FROM m
    UNION ALL SELECT i, j, moment_sum FROM c
    """,
    doc="Exact-integer PCA sufficient statistics (extension — the "
    "stats pass every covariance/whitening/PCA model at 100 TB "
    "starts from): upper-triangle Gram matrix, per-dimension sums "
    "and row count of the 2^-20-quantized embedding table, via ONE "
    "mapInPandas pass emitting ~2.1k partial rows per Arrow batch "
    "(int64-safe by construction) and a decimal(38,0) reduction — "
    "exact at any corpus size, bit-identical under any partitioning; "
    "the vectors themselves never shuffle. DuckDB replays the "
    "quantization digit-for-digit (floor(v·2^20 + 0.5) on an exact "
    "power-of-two scale) so the 2145-row hash is exact. "
    "operators/similarity.gram_sums; pca_train collects these rows "
    "as its model state (kmeans_train contract).",
    tags=("similarity", "llm"),
)
def embedding_moment_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return S.gram_sums(emb, "embedding", dim=64).select(
        "i", "j", F.col("moment_sum").cast("long").alias("moment_sum")
    )


@register(
    "ann_pca_topk",
    _SQL_EXACT_KTH,
    doc="PCA-compressed ANN (extension — the TRAINED twin of "
    "ann_rp_topk's random projection): a one-pass exact-integer "
    "moment matrix (gram_sums) trains the top-16 eigenbasis of the "
    "uncentered second-moment operator — the optimal rank-16 "
    "approximation of the very Gram operator candidate ranking runs "
    "on — then corpus and queries project 64→16 (4× fewer scan "
    "bytes/FLOPs; real 768-dim corpora compress 48×), top-100 "
    "candidates per query re-rank by exact full-dim cosine. Model is "
    "deterministic (exact-integer stats → eigh → sign-canonical "
    "components), so the audit is hash-stable. Recall floor 20/100 "
    "(measured 77 at sf0.01, 52 at sf0.1 — above rp_topk's 71/50 at "
    "HALF the projected dims, the trained-basis dividend) + exact "
    "k-th similarity hash-verified vs DuckDB. At 100 TB the "
    "projected corpus is the persisted index; training is one stats "
    "pass that collects 2.1k rows.",
    tags=("similarity", "llm"),
)
def ann_pca_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    model = session_memo(
        spark, ("pca_model", sf_dir), emb.inputFiles(),
        lambda: S.pca_train(emb, "embedding", dim=64, p=16, center=False),
    )
    return _ann_recall_audit(
        S.pca_topk(emb, q, k=10, p=16, n_cand=100, model=model),
        S.cosine_topk(emb, q, k=10),
        floor_hits=20,
    )


@register(
    "pareto_frontier_parts",
    """
    SELECT a.p_partkey, round(a.p_retailprice, 2) AS retail, a.p_size
    FROM part a
    WHERE NOT EXISTS (
      SELECT 1 FROM part b
      WHERE b.p_retailprice <= a.p_retailprice AND b.p_size >= a.p_size
        AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size)
    )
    """,
    doc="2-D skyline / Pareto frontier (extension — the "
    "multi-criteria shortlist O1-O4's total orders can't express): "
    "parts no other part beats on (cheaper retail, larger size) with "
    "one strict. operators/windows.skyline_2d: distinct value pairs "
    "→ per-partition sort-filter local skylines (one window each) → "
    "global pass over the ~O(log n) survivors → broadcast join back. "
    "No self-join, no cartesian; the oracle replays the NOT EXISTS "
    "definition directly, so the hash check proves the two-phase "
    "window plan equals the quadratic spec.",
    tags=("relational", "extension"),
)
def pareto_frontier_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    return W.skyline_2d(part, "p_retailprice", "p_size").select(
        "p_partkey",
        F.round("p_retailprice", 2).alias("retail"),
        "p_size",
    )


@register(
    "dd_matview_price_quantiles",
    """
    SELECT o_orderpriority,
           round(quantile_cont(o_totalprice, 0.50), 2) AS p50,
           round(quantile_cont(o_totalprice, 0.90), 2) AS p90,
           round(quantile_cont(o_totalprice, 0.99), 2) AS p99,
           true AS dd_ok
    FROM orders GROUP BY o_orderpriority
    """,
    doc="Mergeable RELATIVE-error quantile sketch matview "
    "(sinks/matview.py kind='dd' — DDSketch log buckets, Masson "
    "VLDB'19): per-priority o_totalprice sketched into 512 geometric "
    "buckets over [100, 1e6) (γ≈1.0182, α≈0.9%), built as three "
    "disjoint batches folded through merge_partials. Where the hist "
    "kind bounds quantile error by half a bin WIDTH (hopeless in a "
    "money tail), dd bounds it by α of the VALUE at every quantile "
    "at once — and unlike KLL/t-digest its buckets are plain counts: "
    "mergeable, retractable, bit-identical under any arrival order. "
    "Audit form: exact p50/p90/p99 hash-verified vs DuckDB "
    "quantile_cont + dd_ok — the sketch estimates land within 3α of "
    "exact (3× slack covers disc-vs-cont rank semantics; measured "
    "worst 0.81% < α at both SFs). A regression in bucketing, "
    "merge, or read-out flips dd_ok → hash mismatch.",
    tags=("lake", "incremental", "quality"),
)
def dd_matview_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbm_nca_ph_etl_spark.sinks.matview import (
        Measure,
        dd_alpha,
        derived_dd_quantile,
        merge_partials,
        partial_agg,
    )

    o = _t(spark, sf_dir, "orders")
    keys = ["o_orderpriority"]
    m = Measure("price_dd", "o_totalprice", "dd", lo=100.0, hi=1_000_000.0, bins=512)
    batches = [
        partial_agg(o.where(F.col("o_orderkey") % 3 == i), keys, [m])
        for i in range(3)
    ]
    merged = merge_partials(batches, keys, [m])
    qs = [(0.50, "p50"), (0.90, "p90"), (0.99, "p99")]
    ests = merged.select(
        *keys, *[derived_dd_quantile(m, q).alias(f"_e_{n}") for q, n in qs]
    )
    exact = o.groupBy(*keys).agg(
        *[F.percentile("o_totalprice", F.lit(q)).alias(f"_x_{n}") for q, n in qs]
    )
    tol = 3.0 * dd_alpha(m)
    ok = None
    for _, n in qs:
        c = (
            F.abs(F.col(f"_e_{n}") - F.col(f"_x_{n}"))
            <= F.lit(tol) * F.col(f"_x_{n}")
        )
        ok = c if ok is None else (ok & c)
    return exact.join(F.broadcast(ests), keys).select(
        *keys,
        *[F.round(F.col(f"_x_{n}"), 2).alias(n) for _, n in qs],
        ok.alias("dd_ok"),
    )


@register(
    "kll_matview_quantiles",
    """
    SELECT o_orderpriority,
           round(quantile_cont(o_totalprice, 0.50), 2) AS p50,
           round(quantile_cont(o_totalprice, 0.95), 2) AS p95,
           round(quantile_cont(o_totalprice, 0.99), 2) AS p99,
           true AS q_ok,
           true AS decile_fence_ok
    FROM orders GROUP BY o_orderpriority
    """,
    doc="Mergeable quantile sketch matview with NO pre-known bins "
    "(sinks/matview.py kind='q') — the KLL/t-digest slot in the "
    "sketch lattice: read-time p50/p95/p99 per priority off a sparse "
    "sign-mirrored log-bucket store (DDSketch unbounded shape, "
    "α=1%), built as three disjoint batches folded through "
    "merge_partials. Deliberately NOT a compacting KLL/t-digest: "
    "those depend on merge order in bytes AND estimates and cannot "
    "retract; q buckets are plain counts — merge-path-invariant "
    "bit-for-bit after the canonicalizing fold, and retractable. "
    "Two audits ride the hash check: q_ok = every per-group sketch "
    "estimate within 3α of the exact percentile (3× covers "
    "disc-vs-cont rank semantics, like dd_matview); decile_fence_ok "
    "= the five group sketches FOLDED ONCE MORE into a global "
    "sketch (no re-scan — the cross-partition rollup a 100 TB "
    "dashboard does at read time) reproduce the "
    "equidepth_price_histogram decile fences within 3α. A "
    "regression in keying, canonicalization, merge, or read-out "
    "flips a flag → hash mismatch.",
    tags=("lake", "incremental", "quality"),
)
def kll_matview_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbm_nca_ph_etl_spark.sinks.matview import (
        Measure,
        derived_q_quantile,
        merge_partials,
        partial_agg,
        q_alpha,
    )

    o = _t(spark, sf_dir, "orders")
    keys = ["o_orderpriority"]
    m = Measure("price_q", "o_totalprice", "q", alpha=0.01, min_mag=1.0)
    batches = [
        partial_agg(o.where(F.col("o_orderkey") % 3 == i), keys, [m])
        for i in range(3)
    ]
    # the folded view is O(groups) rows — THE matview; materialize it
    # once (as a real refresh would persist it) so the per-group read
    # and the global rollup don't each re-run the 3-batch pipeline
    merged = merge_partials(batches, keys, [m]).localCheckpoint(eager=True)
    qs = [(0.50, "p50"), (0.95, "p95"), (0.99, "p99")]
    ests = merged.select(
        *keys, *[derived_q_quantile(m, q).alias(f"_e_{n}") for q, n in qs]
    )
    # ONE array-percentile buffer per scan, not one sort-agg per q
    exact = o.groupBy(*keys).agg(
        F.percentile("o_totalprice", F.lit([q for q, _ in qs])).alias("_xs")
    ).select(
        *keys,
        *[F.col("_xs")[i].alias(f"_x_{n}") for i, (_, n) in enumerate(qs)],
    )
    tol = 3.0 * q_alpha(m)
    ok = None
    for _, n in qs:
        c = (
            F.abs(F.col(f"_e_{n}") - F.col(f"_x_{n}"))
            <= F.lit(tol) * F.col(f"_x_{n}")
        )
        ok = c if ok is None else (ok & c)
    # global rollup: fold the per-group sketches once more — the
    # cross-partition merge path, no second scan of orders
    deciles = [i / 10 for i in range(1, 10)]
    gest = merge_partials([merged.select(m.name)], [], [m]).select(
        *[derived_q_quantile(m, d).alias(f"_ge_{i}") for i, d in enumerate(deciles)]
    )
    gx = o.agg(
        F.percentile("o_totalprice", F.lit(deciles)).alias("_gxs")
    ).select(
        *[F.col("_gxs")[i].alias(f"_gx_{i}") for i in range(len(deciles))]
    )
    gok = None
    for i in range(len(deciles)):
        c = (
            F.abs(F.col(f"_ge_{i}") - F.col(f"_gx_{i}"))
            <= F.lit(tol) * F.col(f"_gx_{i}")
        )
        gok = c if gok is None else (gok & c)
    gflag = (
        gest.withColumn("_j", F.lit(1))
        .join(F.broadcast(gx.withColumn("_j", F.lit(1))), "_j")
        .select(F.lit(1).alias("_j"), gok.alias("decile_fence_ok"))
    )
    return (
        exact.join(F.broadcast(ests), keys)
        .withColumn("_j", F.lit(1))
        .join(F.broadcast(gflag), "_j")
        .select(
            *keys,
            *[F.round(F.col(f"_x_{n}"), 2).alias(n) for _, n in qs],
            ok.alias("q_ok"),
            "decile_fence_ok",
        )
    )


@register(
    "hourly_interp_values",
    """
    WITH e AS (SELECT user_id, epoch_us(ts) AS t, value FROM events),
    hr AS (
      SELECT user_id, t - t % 3600000000 AS hour_us,
             CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS v_e6
      FROM e GROUP BY user_id, t - t % 3600000000
    ),
    span AS (
      SELECT user_id, min(hour_us) AS h0, max(hour_us) AS h1 FROM hr GROUP BY user_id
    ),
    grid AS (
      SELECT user_id, unnest(generate_series(h0, h1, 3600000000)) AS hour_us
      FROM span
    ),
    j AS (
      SELECT g.user_id, g.hour_us, hr.v_e6
      FROM grid g LEFT JOIN hr ON g.user_id = hr.user_id AND g.hour_us = hr.hour_us
    ),
    w AS (
      SELECT user_id, hour_us, v_e6,
        last_value(v_e6 IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY hour_us
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v0,
        last_value(CASE WHEN v_e6 IS NOT NULL THEN hour_us END IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY hour_us
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t0,
        first_value(v_e6 IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY hour_us
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v1,
        first_value(CASE WHEN v_e6 IS NOT NULL THEN hour_us END IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY hour_us
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS t1
      FROM j
    )
    SELECT user_id, hour_us,
      CASE WHEN v_e6 IS NOT NULL THEN v_e6
           ELSE CAST(
             (2 * ((v0 + 9223372036854775808)::HUGEINT * (t1 - hour_us)::HUGEINT
                   + (v1 + 9223372036854775808)::HUGEINT * (hour_us - t0)::HUGEINT)
              + (t1 - t0)::HUGEINT)
             // (2 * (t1 - t0))::HUGEINT - 9223372036854775808 AS BIGINT)
      END AS interp,
      CASE WHEN v_e6 IS NOT NULL THEN 1 ELSE 0 END AS observed
    FROM w
    """,
    doc="Dense-grid LINEAR interpolation (extension — the resampling "
    "semantic hourly_grid_ffill's carry-forward can't give: estimate "
    "BETWEEN readings, for continuous signals): per-user hourly "
    "value sums interpolated across empty hours via "
    "operators/windows.time_grid_interpolate. All arithmetic is "
    "decimal(38,0) integers with one final round-half-up spelled as "
    "positive-shifted integer div — Spark `div` and DuckDB `//` "
    "truncate identically on the shifted-positive numerator, so the "
    "hash match is exact (float interpolation would be ULP-hostage "
    "at µs·e6 magnitudes, which overflow int64). Plan: per-user grid "
    "explode + left join + two directional IGNORE NULLS window "
    "passes sharing one (user, hour) sort — the hourly_grid_ffill "
    "shape plus the backward frame.",
    tags=("window", "events"),
)
def hourly_interp_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    HOUR = 3600000000
    e = _t(spark, sf_dir, "events")
    hr = (
        e.withColumn("hour_us", F.col("ts_us") - F.col("ts_us") % HOUR)
        .groupBy("user_id", "hour_us")
        .agg(
            (F.sum(F.col("value").cast("decimal(18,6)")) * 1000000)
            .cast("long")
            .alias("v_e6")
        )
    )
    return W.time_grid_interpolate(hr, ["user_id"], "hour_us", "v_e6", HOUR)


@register(
    "excerpt_containment_pairs",
    f"""
    WITH base AS (SELECT doc_id, text FROM documents),
    corpus AS (
      SELECT doc_id, text FROM base
      UNION ALL
      SELECT doc_id + 10000000 AS doc_id,
             array_to_string(
               ({_SQL_TOKENS.format(t='text')})[
                 1:CAST(ceil(0.6 * len({_SQL_TOKENS.format(t='text')})) AS INT)],
               ' ') AS text
      FROM base
      WHERE doc_id % 7 = 0 AND len({_SQL_TOKENS.format(t='text')}) >= 20
    ),
    toksd AS (
      SELECT doc_id, {_SQL_SHINGLES.format(t='text')} AS ts FROM corpus
      WHERE len({_SQL_SHINGLES.format(t='text')}) > 0
        AND ({_SQL_SHINGLES.format(t='text')})[1] <> ''
    ),
    sized AS (SELECT doc_id, ts FROM toksd WHERE len(ts) >= 5),
    tok AS (SELECT doc_id, unnest(ts) AS t FROM sized),
    dfq AS (SELECT t, count(*)::BIGINT AS df FROM tok GROUP BY t),
    wdf AS (
      SELECT doc_id, tok.t, df,
             count(*) OVER (PARTITION BY doc_id) AS n,
             row_number() OVER (PARTITION BY doc_id ORDER BY df, tok.t) AS rn
      FROM tok JOIN dfq ON tok.t = dfq.t
    ),
    pref AS (SELECT doc_id, t FROM wdf WHERE rn <= n - ceil(0.9 * n) + 1),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM pref a JOIN tok b ON a.t = b.t AND a.doc_id <> b.doc_id
    ),
    ver AS (
      SELECT doc_a, doc_b,
             len(sa.ts)::BIGINT AS size_a,
             len(list_intersect(sa.ts, sb.ts))::BIGINT AS inter
      FROM cand
      JOIN sized sa ON sa.doc_id = doc_a
      JOIN sized sb ON sb.doc_id = doc_b
    )
    SELECT doc_a, doc_b, size_a, inter,
           CAST(floor(CAST(inter AS DOUBLE) / CAST(size_a AS DOUBLE)
                      * 1000000 + 0.5) AS BIGINT) AS cont_ppm
    FROM ver WHERE inter * 1000000 >= 900000 * size_a
    """,
    doc="EXACT directional containment join "
    "(operators/dedup.containment_join — SSJoin prefix pruning, "
    "Chaudhuri 2006): every ordered pair with |A∩B|/|A| ≥ 0.9 over "
    "a corpus where every 7th document plants a 60%-prefix excerpt "
    "(id + 1e7) — the excerpt/quote/boilerplate-inclusion detector "
    "symmetric Jaccard structurally misses (a 50-line excerpt in a "
    "5000-line doc has J≈0.01, C=1.0). Candidates join the contained "
    "side's rarest-first PREFIX postings against FULL postings (only "
    "|A| bounds the miss budget — the asymmetric form of the "
    "AllPairs prefix theorem), verify is exact set intersection with "
    "an integer-rational threshold. The SQL replays construction, "
    "ranking, prefix, and verify digit-for-digit.",
    tags=("llm", "dedup"),
)
def excerpt_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbm_nca_ph_etl_spark.operators.dedup import containment_join, tokens

    base = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = tokens(F.col("text"))
    excerpts = (
        base.where((F.col("doc_id") % 7 == 0) & (F.size(toks) >= 20))
        .select(
            (F.col("doc_id") + 10000000).alias("doc_id"),
            F.concat_ws(
                " ",
                F.slice(
                    toks,
                    1,
                    F.ceil(F.lit(0.6) * F.size(toks).cast("double")).cast("int"),
                ),
            ).alias("text"),
        )
    )
    corpus = base.unionByName(excerpts)
    return containment_join(corpus, threshold=0.9, min_size=5)


@register(
    "incremental_join_view",
    """
    SELECT o.o_orderkey, round(o.o_totalprice, 2) AS total,
           c.c_name, c.c_nationkey
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_totalprice > 400000
    """,
    doc="Incremental JOIN-view maintenance (sinks/joinview.py — the "
    "equi-join half of IVM next to matview's aggregates; delta rule "
    "Δ(R⋈S) = ΔR⋈S_pre ∪ R_pre⋈ΔS ∪ ΔR⋈ΔS, Blakeley 1986): "
    "high-value orders and customers arrive as three interleaved "
    "insert batches (left-only, right-only, both) into key-bucketed "
    "bases; each refresh joins DELTAS against bucket-PRUNED stored "
    "sides (≤|Δkeys| bucket ids of driver state — a day's delta "
    "joins a day's touched buckets, never the table) and appends the "
    "view delta via batch-keyed dynamic overwrite (replay-idempotent "
    "without a commit log). The folded view must hash-match DuckDB's "
    "one-shot join of the complete tables — the algebra proof that "
    "no cross term was lost or double-counted.",
    tags=("sink", "incremental", "lake"),
)
def incremental_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from dbm_nca_ph_etl_spark.sinks.joinview import MaterializedJoin

    o = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_totalprice") > 400000)
        .select(
            F.col("o_custkey").alias("k"),
            "o_orderkey",
            F.round("o_totalprice", 2).alias("total"),
        )
    )
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"), "c_name", "c_nationkey"
    )
    scratch = tempfile.mkdtemp(prefix="incremental_join_view_")
    try:
        v = MaterializedJoin(spark, f"{scratch}/v", ["k"], num_buckets=16)
        v.refresh(1, left_delta=o.where(F.col("o_orderkey") % 3 == 0))
        v.refresh(2, right_delta=c.where(F.col("k") % 3 == 0))
        v.refresh(
            3,
            left_delta=o.where(F.col("o_orderkey") % 3 != 0),
            right_delta=c.where(F.col("k") % 3 != 0),
        )
        out = (
            v.read_view()
            .select("o_orderkey", "total", "c_name", "c_nationkey")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return out


@register(
    "cdc_join_view",
    """
    WITH final_orders AS (
      SELECT o_custkey AS k, o_orderkey,
             CASE WHEN o_orderkey % 5 = 0
                  THEN round(o_totalprice + 1000, 2)
                  ELSE round(o_totalprice, 2) END AS total
      FROM orders
      WHERE o_totalprice > 400000 AND o_orderkey % 5 <> 1
    )
    SELECT o.o_orderkey, o.total, c.c_name
    FROM final_orders o JOIN customer c ON o.k = c.c_custkey
    """,
    doc="CDC through the incremental join view (sinks/joinview.py "
    "signed deltas — differential-dataflow weights): after the "
    "insert batches, an update batch retracts+reinserts every 5th "
    "order with +1000 total and a delete batch retracts the "
    "orderkey%5=1 rows; weights multiply through the delta join "
    "(w(r⋈s)=w(r)·w(s) — deltas join the raw signed history, no "
    "pre-netting) and the read nets the multiset (Σw>0, "
    "multiplicity restored). Must hash-match DuckDB's one-shot join "
    "of the FINAL table state — the proof that update/delete "
    "propagation through the view is exact, not approximately "
    "converging.",
    tags=("sink", "incremental", "lake"),
)
def cdc_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from dbm_nca_ph_etl_spark.sinks.joinview import MaterializedJoin

    o = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_totalprice") > 400000)
        .select(
            F.col("o_custkey").alias("k"),
            "o_orderkey",
            F.round("o_totalprice", 2).alias("total"),
        )
    )
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"), "c_name"
    )
    updates = (
        o.where(F.col("o_orderkey") % 5 == 0)
        .select("k", "o_orderkey", "total", F.lit(-1).alias("w"))
        .unionByName(
            o.where(F.col("o_orderkey") % 5 == 0).select(
                "k",
                "o_orderkey",
                F.round(F.col("total") + 1000, 2).alias("total"),
                F.lit(1).alias("w"),
            )
        )
    )
    deletes = o.where(F.col("o_orderkey") % 5 == 1).select(
        "k", "o_orderkey", "total", F.lit(-1).alias("w")
    )
    scratch = tempfile.mkdtemp(prefix="cdc_join_view_")
    try:
        v = MaterializedJoin(spark, f"{scratch}/v", ["k"], num_buckets=16)
        v.refresh(1, left_delta=o)
        v.refresh(2, right_delta=c)
        v.refresh(3, left_delta=updates.unionByName(deletes), sign_col="w")
        out = (
            v.read_view()
            .select("o_orderkey", "total", "c_name")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return out


@register(
    "incremental_agg_over_join",
    """
    WITH final_orders AS (
      SELECT o_custkey AS k, o_orderkey,
             CASE WHEN o_orderkey % 5 = 0
                  THEN round(o_totalprice + 1000, 2)
                  ELSE round(o_totalprice, 2) END AS total
      FROM orders
      WHERE o_totalprice > 400000 AND o_orderkey % 5 <> 1
    )
    SELECT c.c_nationkey,
           round(sum(o.total), 2) AS revenue,
           count(*)::BIGINT AS n_orders
    FROM final_orders o JOIN customer c ON o.k = c.c_custkey
    GROUP BY c.c_nationkey
    """,
    doc="Aggregate OVER the incremental join view — the two IVM "
    "halves composed (joinview × matview): the CDC batch sequence "
    "of cdc_join_view feeds read_view_signed(), and "
    "revenue-by-nation derives as Σ(_s·total)/Σ(_s) over the SIGNED "
    "rows — plain retraction-native sums, so the rollup needs no "
    "multiset netting and stays fresh at view-delta cost (this is "
    "the 'dashboard over a 100 TB join' shape: neither the join nor "
    "the aggregate ever recomputes from base tables). Hash-matches "
    "DuckDB's one-shot join+group of final state.",
    tags=("sink", "incremental", "lake"),
)
def incremental_agg_over_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from dbm_nca_ph_etl_spark.sinks.joinview import MaterializedJoin

    o = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_totalprice") > 400000)
        .select(
            F.col("o_custkey").alias("k"),
            "o_orderkey",
            F.round("o_totalprice", 2).alias("total"),
        )
    )
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"), "c_nationkey"
    )
    updates = (
        o.where(F.col("o_orderkey") % 5 == 0)
        .select("k", "o_orderkey", "total", F.lit(-1).alias("w"))
        .unionByName(
            o.where(F.col("o_orderkey") % 5 == 0).select(
                "k",
                "o_orderkey",
                F.round(F.col("total") + 1000, 2).alias("total"),
                F.lit(1).alias("w"),
            )
        )
    )
    deletes = o.where(F.col("o_orderkey") % 5 == 1).select(
        "k", "o_orderkey", "total", F.lit(-1).alias("w")
    )
    scratch = tempfile.mkdtemp(prefix="incremental_agg_over_join_")
    try:
        v = MaterializedJoin(spark, f"{scratch}/v", ["k"], num_buckets=16)
        v.refresh(1, left_delta=o)
        v.refresh(2, right_delta=c)
        v.refresh(3, left_delta=updates.unionByName(deletes), sign_col="w")
        out = (
            v.read_view_signed()
            .groupBy("c_nationkey")
            .agg(
                F.round(F.sum(F.col("_s") * F.col("total")), 2).alias("revenue"),
                F.sum("_s").cast("long").alias("n_orders"),
            )
            .where(F.col("n_orders") > 0)
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return out


@register(
    "retrieval_eval_int8",
    """
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
      FROM embeddings
    ),
    qt AS (
      SELECT vec_id,
             CASE WHEN list_max(list_transform(v, x -> abs(x))) > 0
                  THEN list_transform(
                         v, x -> CAST(floor(
                           x / (list_max(list_transform(v, y -> abs(y))) / 127.0)
                           + 0.5) AS BIGINT))
                  ELSE list_transform(v, x -> CAST(0 AS BIGINT)) END AS q
      FROM e
    ),
    qn AS (
      SELECT vec_id, q,
             CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS n2
      FROM qt
    ),
    i8 AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             round(list_dot_product(a.q, b.q)
                   / sqrt(CAST(a.n2 AS DOUBLE) * CAST(b.n2 AS DOUBLE)), 6) AS cs
      FROM qn a JOIN qn b ON a.vec_id < 10 AND a.vec_id <> b.vec_id
    ),
    appr AS (
      SELECT query_id, neighbor_id, rank FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY cs DESC, neighbor_id)::INT AS rank
        FROM i8
      ) WHERE rank <= 10
    ),
    ex AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             round(list_dot_product(a.v, b.v)
                   / (sqrt(list_dot_product(a.v, a.v))
                      * sqrt(list_dot_product(b.v, b.v))), 6) AS cs
      FROM e a JOIN e b ON a.vec_id < 10 AND a.vec_id <> b.vec_id
    ),
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rank
        FROM ex
      ) WHERE rank <= 10
    ),
    hits AS (
      SELECT a.query_id, a.rank
      FROM appr a JOIN exact x
        ON a.query_id = x.query_id AND a.neighbor_id = x.neighbor_id
    ),
    per AS (
      SELECT query_id, count(*)::BIGINT AS hits, min(rank) AS fr,
             CAST(sum(([1000000, 630930, 500000, 430677, 386853, 356207,
                        333333, 315465, 301030, 289065])[rank]) AS BIGINT) AS dcg
      FROM hits GROUP BY query_id
    )
    SELECT s.query_id,
           coalesce(p.hits, 0)::BIGINT AS hits,
           coalesce(([1000000, 500000, 333333, 250000, 200000, 166667,
                      142857, 125000, 111111, 100000])[p.fr], 0)::BIGINT AS mrr_e6,
           coalesce((2 * p.dcg * 1000000 + 4543560) // (2 * 4543560),
                    0)::BIGINT AS ndcg_e6
    FROM (SELECT DISTINCT vec_id AS query_id FROM e WHERE vec_id < 10) s
    LEFT JOIN per p ON s.query_id = p.query_id
    """,
    doc="Retrieval-quality eval harness (operators/similarity."
    "topk_eval — the recall@k / MRR / nDCG scorecard a pipeline runs "
    "before swapping an ANN leg into production, as an operator): "
    "int8-quantized retrieval (the one approximate leg whose FULL "
    "ranking is engine-reproducible — integer dot products, exact "
    "doubles through one sqrt/divide/round) scored per query against "
    "the exact cosine top-10. Metric weights are driver-baked "
    "integer literals (1e6/rank, 1e6/log2(rank+1)) and nDCG is a "
    "shifted integer division, so the scorecard hashes exactly — no "
    "runtime log in either engine. Eval cost is one "
    "candidate-set-sized join; the corpus is never rescanned.",
    tags=("similarity", "llm", "quality"),
)
def retrieval_eval_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    return S.topk_eval(
        S.int8_topk(emb, q, k=10), S.cosine_topk(emb, q, k=10), k=10
    )


@register(
    "sequence_match_events",
    """
    WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_type FROM events),
    s1 AS (
      SELECT user_id, min(t) AS t1 FROM e
      WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, s1.t1, min(e.t) AS t2
      FROM e JOIN s1 ON e.user_id = s1.user_id
        AND e.t > s1.t1 AND e.t <= s1.t1 + 86400000000
      WHERE e.event_type = 'click'
      GROUP BY e.user_id, s1.t1
    ),
    s3 AS (
      SELECT e.user_id, s2.t1, s2.t2, min(e.t) AS t3
      FROM e JOIN s2 ON e.user_id = s2.user_id
        AND e.t > s2.t2 AND e.t <= s2.t2 + 86400000000
      WHERE e.event_type = 'purchase'
      GROUP BY e.user_id, s2.t1, s2.t2
    )
    SELECT user_id, t1, t2, t3 FROM s3
    """,
    doc="Gap-bounded sequence-pattern match (operators/windows."
    "match_sequence — the MATCH_RECOGNIZE shape as relational "
    "algebra): view → click → purchase where each stage lands within "
    "24 h of the previous, greedy-earliest per user, emitting the "
    "matched STAGE TIMESTAMPS (event_funnel's counts can't say when "
    "or which events matched). Per stage, the event fact scans once "
    "with the type predicate pushed down and only user-level "
    "frontiers move (broadcast, time bounds as non-equi residuals) — "
    "no window over the whole stream, no per-key UDF state. "
    "Integer-µs arithmetic; exact hash vs the staged-min SQL replay.",
    tags=("window", "events"),
)
def sequence_match_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    DAY_US = 86400000000
    e = _t(spark, sf_dir, "events")
    return W.match_sequence(
        e,
        [
            F.col("event_type") == "view",
            F.col("event_type") == "click",
            F.col("event_type") == "purchase",
        ],
        gap=DAY_US,
        key_col="user_id",
        ts_col="ts_us",
    )


@register(
    "ann_filtered_topk",
    """
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < 10
    ),
    c AS (
      SELECT vec_id AS neighbor_id, label, embedding::DOUBLE[] AS cv
      FROM embeddings WHERE label % 4 = 1
    ),
    scored AS (
      SELECT query_id, neighbor_id,
             round(list_dot_product(qv, cv)
                   / (sqrt(list_dot_product(qv, qv))
                      * sqrt(list_dot_product(cv, cv))), 6) AS cos_sim
      FROM q CROSS JOIN c WHERE query_id <> neighbor_id
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id)::INT AS rank
      FROM scored
    ) WHERE rank <= 10
    """,
    doc="Metadata-FILTERED vector search (the most common production "
    "vector-store call: 'top-k within label/tenant/language'): the "
    "label predicate composes into the corpus scan BEFORE scoring — "
    "pushed to the parquet reader, so a selective filter shrinks the "
    "candidate set at IO time (pre-filtering; the alternative, "
    "post-filtering an unfiltered ANN, silently under-fills k when "
    "the filter is selective). Exact leg here (hash-verified full "
    "ranking); at scale the same composition applies to the "
    "LSH/IVF/PQ legs by filtering candidates before re-rank with a "
    "widened probe. Scale guard inherited from cosine_topk.",
    tags=("similarity", "llm"),
)
def ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    corpus = emb.where(F.col("label") % 4 == 1)
    return S.cosine_topk(corpus, q, k=10)


# ---------------------------------------------------------------------------
# Round-7 curation additions: content-safety gate, privacy audit,
# corpus novelty, nearest-event fusion, per-domain capping. Each lands
# with its exact-SQL oracle in the same commit (catalog discipline).
# ---------------------------------------------------------------------------


@register(
    "blocklist_token_stats",
    f"""
    WITH toks AS (
      SELECT doc_id, {_SQL_TOKENS.format(t='text')} AS t FROM documents
    ),
    h AS (
      SELECT doc_id, len(t)::INT AS n_tokens,
             len(list_filter(
               t, x -> list_contains(['crash', 'error', 'null', 'slow'], x)
             ))::INT AS n_hits
      FROM toks
    )
    SELECT doc_id, n_tokens, n_hits,
           CASE WHEN n_tokens > 0
                THEN (n_hits::BIGINT * 1000000) // n_tokens
                ELSE 0 END AS hit_ppm,
           (CASE WHEN n_tokens > 0
                 THEN (n_hits::BIGINT * 1000000) // n_tokens
                 ELSE 0 END) >= 10000 AS flagged
    FROM h
    """,
    doc="Multi-term blocklist content gate "
    "(operators/text_analysis.blocklist_hits) — the C4-badwords / "
    "term-exclusion pass a crawl pipeline runs first: per-doc token "
    "count, blocklisted-token hits, exact integer-ppm hit rate and "
    "the drop decision. ONE map-only codegen projection: blocklist "
    "as a literal array, token array let-bound (tokenize once per "
    "row), hit_ppm by integer `div` so no float ratio can drift. At "
    "a 100k-term production blocklist swap the literal for a "
    "broadcast join on exploded tokens or a bloom filter.",
    tags=("llm", "text"),
)
def blocklist_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.blocklist_hits(
        _t(spark, sf_dir, "documents"),
        ["crash", "error", "null", "slow"],
        threshold_ppm=10_000,
    )


@register(
    "kanonymity_audit",
    """
    WITH g AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal / 1000) AS INT) AS acctbal_band,
             count(*)::BIGINT AS group_size
      FROM customer
      GROUP BY 1, 2, 3
    )
    SELECT count(*)::BIGINT AS n_groups,
           sum(CASE WHEN group_size < 5 THEN 1 ELSE 0 END)::BIGINT
             AS n_risky_groups,
           sum(CASE WHEN group_size < 5 THEN group_size ELSE 0 END)::BIGINT
             AS n_risky_rows,
           min(group_size)::BIGINT AS k_anonymity
    FROM g
    """,
    doc="k-anonymity privacy audit over the quasi-identifier tuple "
    "(nation, market segment, $1000 account-balance band): group "
    "sizes under the QI projection, the count of groups/rows below "
    "k=5 (re-identifiable under linkage), and the dataset's actual "
    "k (min group size). The pre-release check for any dataset "
    "carrying demographic columns. ONE map-side-combined groupBy on "
    "the QI key + a one-row fold — no row data leaves the "
    "aggregation, which is the point of an audit that may itself "
    "not exfiltrate rows. Scales as group-count, not row-count.",
    tags=("quality",),
)
def kanonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    g = c.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("int").alias("acctbal_band"),
    ).agg(F.count(F.lit(1)).alias("group_size"))
    risky = F.col("group_size") < 5
    return g.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum(risky.cast("int")).cast("bigint").alias("n_risky_groups"),
        F.sum(F.when(risky, F.col("group_size")).otherwise(0))
        .cast("bigint")
        .alias("n_risky_rows"),
        F.min("group_size").cast("bigint").alias("k_anonymity"),
    )


@register(
    "ngram_novelty_curve",
    f"""
    WITH sh AS (
      SELECT doc_id, unnest({_SQL_SHINGLES.format(t='text')}) AS shingle
      FROM documents
    ),
    firsts AS (
      SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY shingle
    ),
    per_doc AS (
      SELECT s.doc_id,
             count(*)::INT AS n_shingles,
             sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)::INT
               AS n_novel
      FROM sh s JOIN firsts f USING (shingle)
      GROUP BY s.doc_id
    )
    SELECT doc_id, n_shingles, n_novel,
           (n_novel::BIGINT * 1000000) // n_shingles AS novelty_ppm
    FROM per_doc
    """,
    doc="Corpus novelty curve: per document (in doc_id ingest order), "
    "the fraction of its distinct 3-gram shingles never seen in any "
    "earlier document — the diminishing-returns signal that tells a "
    "crawl pipeline when a source is exhausted (novelty_ppm decays "
    "toward boilerplate-only) and which documents actually add "
    "content. Posting-shaped like dup_ngram_doc_stats: shingle HOF "
    "projection → min(doc_id) per shingle (map-side combined) → "
    "join-back → per-doc integer fold; novelty_ppm is exact integer "
    "division. Never all-pairs; the firsts table is the persistable "
    "corpus artifact at 100 TB (new batches probe it incrementally, "
    "the dedup-index discipline).",
    tags=("llm", "text", "dedup"),
)
def ngram_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id", F.explode(D.word_shingles(F.col("text"), 3)).alias("shingle")
    )
    firsts = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        sh.join(firsts, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_shingles"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("int"))
            .cast("int")
            .alias("n_novel"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_shingles",
        "n_novel",
        F.expr("cast(n_novel as bigint) * 1000000 div n_shingles").alias(
            "novelty_ppm"
        ),
    )


@register(
    "nearest_event_join",
    """
    WITH ev AS (
      SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
      FROM events WHERE event_type IN ('error', 'click')
    ),
    w AS (
      SELECT *,
        last_value(CASE WHEN event_type = 'click' THEN ts_us END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_ts,
        last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_id,
        first_value(CASE WHEN event_type = 'click' THEN ts_us END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_ts,
        first_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_id
      FROM ev
    )
    SELECT event_id, user_id,
      CASE
        WHEN prev_ts IS NULL AND next_ts IS NULL THEN NULL
        WHEN next_ts IS NULL THEN prev_id
        WHEN prev_ts IS NULL THEN next_id
        WHEN ts_us - prev_ts <= next_ts - ts_us THEN prev_id
        ELSE next_id END AS click_event_id,
      CASE
        WHEN prev_ts IS NULL AND next_ts IS NULL THEN NULL
        WHEN next_ts IS NULL THEN ts_us - prev_ts
        WHEN prev_ts IS NULL THEN next_ts - ts_us
        WHEN ts_us - prev_ts <= next_ts - ts_us THEN ts_us - prev_ts
        ELSE next_ts - ts_us END AS gap_us
    FROM w WHERE event_type = 'error'
    """,
    doc="Nearest-event join (sensor-fusion / attribution variant of "
    "as-of): each error event pairs with the NEAREST click of the "
    "same user by absolute time distance, looking BOTH directions — "
    "ties break toward the earlier click, errors with no click keep "
    "NULLs (left semantics). Where asof_join_events is "
    "backward-only, this is the bidirectional nearest. ONE keyed "
    "sort-window over the unioned stream (two frame-bounded "
    "last/first IGNORE NULLS passes) — no range join, no "
    "self-join, no per-row search: the same single-shuffle shape as "
    "the asof operator, exactly mirrored by the SQL window spec so "
    "the tie rule is hash-checkable.",
    tags=("join", "events"),
)
def nearest_event_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("event_type").isin("error", "click"))
        .select("event_id", "user_id", "event_type", "ts_us")
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    click_ts = F.when(F.col("event_type") == "click", F.col("ts_us"))
    click_id = F.when(F.col("event_type") == "click", F.col("event_id"))
    before = w.rowsBetween(Window.unboundedPreceding, -1)
    after = w.rowsBetween(1, Window.unboundedFollowing)
    j = ev.select(
        "event_id",
        "user_id",
        "event_type",
        "ts_us",
        F.last(click_ts, ignorenulls=True).over(before).alias("prev_ts"),
        F.last(click_id, ignorenulls=True).over(before).alias("prev_id"),
        F.first(click_ts, ignorenulls=True).over(after).alias("next_ts"),
        F.first(click_id, ignorenulls=True).over(after).alias("next_id"),
    ).where(F.col("event_type") == "error")
    prev_gap = F.col("ts_us") - F.col("prev_ts")
    next_gap = F.col("next_ts") - F.col("ts_us")
    pick_prev = F.col("next_ts").isNull() | (
        F.col("prev_ts").isNotNull() & (prev_gap <= next_gap)
    )
    return j.select(
        "event_id",
        "user_id",
        F.when(pick_prev, F.col("prev_id"))
        .otherwise(F.col("next_id"))
        .alias("click_event_id"),
        F.when(pick_prev, prev_gap).otherwise(next_gap).alias("gap_us"),
    )


@register(
    "domain_cap_sample",
    """
    SELECT doc_id, source, rk FROM (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT,
                        doc_id
             ) AS rk
      FROM documents
    ) WHERE rk <= 15
    """,
    doc="Per-domain document capping — the anti-domination sampler "
    "every crawl mix needs (one mega-site must not become 40% of the "
    "corpus): keep at most 15 documents per source, chosen by "
    "deterministic md5 order (functions/scalars.hash64 — replayable "
    "in any engine, unlike a seeded RNG) with doc_id as total-order "
    "tiebreak. ONE hash-partitioned window (rank + filter), no "
    "collect, no skew: the md5 sort key is uniform within each "
    "domain regardless of doc_id clustering. At 100 TB this is the "
    "same shape at any cap; a skewed mega-domain is the AQE "
    "skew-split case.",
    tags=("llm", "sampling"),
)
def domain_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbm_nca_ph_etl_spark.functions.scalars import hash64

    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        hash64(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.select("doc_id", "source", F.row_number().over(w).alias("rk"))
        .where(F.col("rk") <= 15)
    )


# ---------------------------------------------------------------------------
# Round-7 additions #2: sequential statistics (CUSUM drift, interval
# union, TWAP, OHLC), content integrity (Merkle digest), and fuzzy
# string near-dup (blocked Levenshtein). Each lands with its
# exact-SQL oracle in the same commit (catalog discipline).
# ---------------------------------------------------------------------------

# Engine-neutral canonicalizations shared by the event queries below:
# money doubles → integer cents via the same double expression tree
# (floor(v*100 + 0.5)) on both engines; timestamps → exact integer
# epoch-µs (Spark unix_micros ≡ DuckDB epoch_us). All downstream
# arithmetic is then integer-exact — no float boundary can flip a
# comparison or hash differently across engines.
_SQL_CENTS = "CAST(floor({v} * 100 + 0.5) AS BIGINT)"

# Sign-safe integer FLOOR division, identical on both engines for ALL
# operand signs (den > 0): subtracting pmod makes the numerator an
# exact multiple of den, so truncating and flooring division agree —
# which makes the form invariant to the engines' native semantics
# (Spark `div` truncates; DuckDB `//` truncates on ints in 1.0 but
# floors from 1.1). Stays int64 end-to-end: exact above 2^53, where
# any double-division form is off by ±1. The Spark twin is
# ``functions.scalars.floor_div_sql``. Used wherever the numerator's
# sign is not provably non-negative (e.g. a cents value column the
# moment refunds/adjustments enter the domain).
_SQL_FLOOR_DIV = "((({n}) - ((({n}) % ({d}) + ({d})) % ({d}))) // ({d}))"


def _cents(col):
    """Spark twin of ``_SQL_CENTS`` — the two expression trees MUST
    stay identical (same double math, same cast) or the cross-engine
    hash-match breaks for exactly the queries that drift."""
    return F.floor(col * 100 + F.lit(0.5)).cast("long")


@register(
    "cusum_drift_events",
    f"""
    WITH base AS (
      SELECT event_type, user_id, event_id,
             epoch_us(ts) AS ts_us,
             {_SQL_CENTS.format(v='value')} AS v_cents
      FROM events
    ),
    q AS (
      SELECT event_type, user_id, ts_us, event_id,
             sum(v_cents - 5000) OVER w AS q
      FROM base
      WINDOW w AS (PARTITION BY event_type, user_id
                   ORDER BY ts_us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    s AS (
      SELECT event_type, user_id,
             q - least(0, min(q) OVER w) AS cusum
      FROM q
      WINDOW w AS (PARTITION BY event_type, user_id
                   ORDER BY ts_us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    peaks AS (
      SELECT event_type, user_id, max(cusum) AS peak
      FROM s GROUP BY event_type, user_id
    )
    SELECT event_type,
           count(*)::BIGINT AS n_keys,
           sum(CASE WHEN peak >= 30000 THEN 1 ELSE 0 END)::BIGINT
             AS n_drifted,
           max(peak)::BIGINT AS max_peak
    FROM peaks GROUP BY event_type
    """,
    doc="Per-(metric, entity) CUSUM change-point detection (Page "
    "1954) over the event stream: has any user's spend on a metric "
    "drifted above the 50.00 target? The recursive statistic "
    "S_i = max(0, S_{i-1} + (x_i − k)) is rewritten into its closed "
    "prefix form S_i = Q_i − min(0, min_{j≤i} Q_j) — two stacked "
    "associative window scans (operators/windows.cusum_scan), so "
    "the 'inherently sequential' monitor runs as ONE keyed shuffle "
    "in whole-stage codegen, integer-exact in cents. Keys are "
    "user × metric (plentiful, small) — the balanced-window shape "
    "that survives 100 TB; the report is group-count-sized.",
    tags=("window", "events", "bench"),
)
def cusum_drift_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        "user_id",
        "event_id",
        "ts_us",
        _cents(F.col("value")).alias("v_cents"),
    )
    scanned = W.cusum_scan(
        base, "v_cents", 5000, ["event_type", "user_id"], ["ts_us", "event_id"]
    )
    peaks = scanned.groupBy("event_type", "user_id").agg(
        F.max("cusum").alias("peak")
    )
    return peaks.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum((F.col("peak") >= 30000).cast("int")).cast("long").alias("n_drifted"),
        F.max("peak").cast("long").alias("max_peak"),
    )


@register(
    "interval_union_coverage",
    f"""
    WITH iv AS (
      SELECT user_id,
             epoch_us(ts) AS s,
             epoch_us(ts)
               + {_SQL_CENTS.format(v='value')} * 100000000 AS e
      FROM events
    ),
    sw AS (
      SELECT user_id, s, e,
             max(e) OVER (PARTITION BY user_id ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS frontier
      FROM iv
    )
    SELECT user_id,
           sum(greatest(0, e - greatest(s, coalesce(frontier, s))))::BIGINT
             AS covered,
           count(*)::BIGINT AS n_intervals
    FROM sw GROUP BY user_id
    """,
    doc="Union length of overlapping per-user activity intervals "
    "(each event holds value-proportional µs) — the sweep-line "
    "classic as one window pass (operators/windows."
    "interval_union_length): sorted by start, the right frontier is "
    "a running max of end over strictly-preceding rows; new "
    "coverage = max(0, end − max(start, frontier)). No interval "
    "flattening, no unit-step explode, no self-join — the shapes "
    "that die at scale. Integer-exact in epoch-µs. One hash shuffle "
    "on user_id; output is key-count-sized (utilization billing, "
    "uptime SLAs, sensor-coverage audits).",
    tags=("window", "events", "bench"),
)
def interval_union_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    cents = _cents(F.col("value"))
    iv = ev.select(
        "user_id",
        F.col("ts_us").alias("s"),
        (F.col("ts_us") + cents * F.lit(100000000)).alias("e"),
    )
    return W.interval_union_length(iv, "s", "e", ["user_id"])


@register(
    "ohlc_bars_events",
    f"""
    WITH base AS (
      SELECT event_type, event_id,
             epoch_us(ts) AS ts_us,
             epoch_us(ts) // 3600000000 AS bar,
             {_SQL_CENTS.format(v='value')} AS v
      FROM events
    ),
    wv AS (
      SELECT event_type, bar, v,
             first_value(v) OVER w AS o,
             last_value(v) OVER w AS c
      FROM base
      WINDOW w AS (PARTITION BY event_type, bar
                   ORDER BY ts_us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING
                   AND UNBOUNDED FOLLOWING)
    )
    SELECT event_type, bar,
           min(o)::BIGINT AS open_v, max(v)::BIGINT AS high_v,
           min(v)::BIGINT AS low_v, min(c)::BIGINT AS close_v,
           count(*)::BIGINT AS n_obs, sum(v)::BIGINT AS volume
    FROM wv GROUP BY event_type, bar
    """,
    doc="OHLC bar resampling of the irregular event stream into "
    "hourly bars per metric (operators/windows.ohlc_bars): open = "
    "first value by (ts, event_id), close = last, high/low/volume "
    "as plain aggregates — the canonical tick→candle downsample. "
    "first/last over the full per-bar frame then a group-by whose "
    "open/close inputs are already per-bar constants, so agg input "
    "order can't perturb the result; (ts, event_id) ordering makes "
    "equal-timestamp ticks deterministic. One shuffle; bars are "
    "numerous and bounded, the balanced-window shape at 100 TB.",
    tags=("window", "events", "bench"),
)
def ohlc_bars_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        "event_id",
        "ts_us",
        _cents(F.col("value")).alias("v"),
    )
    bars = W.ohlc_bars(
        base,
        "ts_us",
        "v",
        F.expr("ts_us div 3600000000"),
        ["event_type"],
        tiebreak=["event_id"],
    )
    return bars.select(
        "event_type",
        F.col("bar").cast("long").alias("bar"),
        F.col("open").cast("long").alias("open_v"),
        F.col("high").cast("long").alias("high_v"),
        F.col("low").cast("long").alias("low_v"),
        F.col("close").cast("long").alias("close_v"),
        "n_obs",
        "volume",
    )


@register(
    "mad_outlier_events",
    f"""
    WITH base AS (
      SELECT event_type, {_SQL_CENTS.format(v='value')} AS v FROM events
    ),
    med AS (
      SELECT event_type, quantile_cont(v, 0.5) AS med
      FROM base GROUP BY event_type
    ),
    dev AS (
      SELECT b.event_type, abs(b.v - m.med) AS d, m.med
      FROM base b JOIN med m USING (event_type)
    ),
    mad AS (
      SELECT event_type, min(med) AS med, quantile_cont(d, 0.5) AS mad
      FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           round(m.med, 6) AS med_cents,
           round(m.mad, 6) AS mad_cents,
           sum(CASE WHEN d.d > 3 * m.mad THEN 1 ELSE 0 END)::BIGINT
             AS n_outliers,
           round(max(d.d), 6) AS max_dev
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type, m.med, m.mad
    """,
    doc="Robust outlier detection via median absolute deviation per "
    "metric — the resistant alternative to the z-score screen "
    "(order_value_zscore), immune to the outliers it hunts. Values "
    "are integer cents, so the exact interpolated median is a "
    "half-integer, |v − med| a half-integer, the MAD a "
    "quarter-integer — every double below 2^52 is EXACT and the "
    "3·MAD comparison can't straddle an ulp between engines. Two "
    "grouped exact percentiles + two broadcast joins of the "
    "5-row stats frame back to the fact; at 100 TB swap the exact "
    "median for approx_percentile and keep the identical plan "
    "shape (this is the oracle-checkable ground truth).",
    tags=("window", "events", "quality"),
)
def mad_outlier_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        _cents(F.col("value")).alias("v"),
    )
    med = base.groupBy("event_type").agg(
        F.percentile("v", F.lit(0.5)).alias("med")
    )
    dev = base.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("v") - F.col("med")).alias("d"), "med"
    )
    mad = dev.groupBy("event_type").agg(
        F.min("med").alias("med"), F.percentile("d", F.lit(0.5)).alias("mad")
    )
    return (
        dev.select("event_type", "d")
        .join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "med", "mad")
        .agg(
            F.sum((F.col("d") > 3 * F.col("mad")).cast("int"))
            .cast("long")
            .alias("n_outliers"),
            F.round(F.max("d"), 6).alias("max_dev"),
        )
        .select(
            "event_type",
            F.round("med", 6).alias("med_cents"),
            F.round("mad", 6).alias("mad_cents"),
            "n_outliers",
            "max_dev",
        )
    )


@register(
    "time_weighted_avg_events",
    f"""
    WITH base AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             {_SQL_CENTS.format(v='value')} AS v
      FROM events
    ),
    d AS (
      SELECT user_id, v,
             lead(ts_us) OVER (PARTITION BY user_id
                               ORDER BY ts_us, event_id) - ts_us AS dur
      FROM base
    )
    SELECT user_id,
           sum(v * dur)::BIGINT AS twa_num,
           sum(dur)::BIGINT AS twa_den,
           CASE WHEN sum(dur) > 0
                THEN ({_SQL_FLOOR_DIV.format(n='sum(v * dur)',
                                             d='sum(dur)')})::BIGINT
                ELSE NULL END AS twa_value
    FROM d WHERE dur IS NOT NULL
    GROUP BY user_id
    """,
    doc="Time-weighted average value per user over the irregular "
    "event stream (zero-order hold: each observation holds until "
    "the next; the last carries no weight) — the TWAP every "
    "metrics/billing pipeline needs, via operators/windows."
    "time_weighted_avg. Emits the EXACT integer numerator (Σ "
    "cents·µs) and denominator (Σ µs) plus the true-int64 floor "
    "mean via the sign-safe pmod form (_SQL_FLOOR_DIV / "
    "floor_div_sql — identical on both engines for NEGATIVE "
    "numerators too, e.g. refund cents, unlike bare div-vs-//; "
    "numerators here exceed 2^53, where any double-division form "
    "is off by ±1), so no ratio can drift between engines. One "
    "lead() window + one agg = a single shuffle on the key.",
    tags=("window", "events", "bench"),
)
def time_weighted_avg_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        "user_id",
        "event_id",
        "ts_us",
        _cents(F.col("value")).alias("v"),
    )
    return W.time_weighted_avg(
        base, "ts_us", "v", ["user_id"], order_by=["ts_us", "event_id"]
    )


@register(
    "merkle_orders_digest",
    """
    WITH c AS (
      SELECT ((o_orderkey % 64) + 64) % 64 AS bucket,
             [CAST(o_orderkey AS VARCHAR),
              CAST(o_custkey AS VARCHAR),
              o_orderstatus,
              CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                   AS VARCHAR),
              CAST(epoch_us(o_orderdate) AS VARCHAR),
              o_orderpriority] AS fs
      FROM orders
    ),
    r AS (
      SELECT bucket,
             md5(list_aggregate(list_transform(fs, x ->
               CASE WHEN x IS NULL THEN 'N|'
                    ELSE length(x)::VARCHAR || ':' || x || '|' END),
               'string_agg', '')) AS rd
      FROM c
    )
    SELECT bucket, count(*)::BIGINT AS n_rows,
           md5(string_agg(rd, '' ORDER BY rd)) AS digest
    FROM r GROUP BY bucket
    """,
    doc="Bucketed Merkle-style content fingerprint of the orders "
    "table (operators/integrity.table_digest) — the "
    "migration/replication verifier: two engines each digest their "
    "copy, equal 64-row digest tables ⇒ identical content, a "
    "mismatch localizes repair to the differing buckets. Row images "
    "use engine-neutral canonical strings (int64s as decimal, money "
    "as bigint cents, timestamps as epoch-µs — float/date "
    "formatting is banned) in a LENGTH-PREFIXED prefix-free field "
    "encoding (len:value|, NULL→N|) so separator characters inside "
    "values or shifted NULLs cannot forge a colliding row image; "
    "bucket digests fold row-md5s in SORTED "
    "order so scan/shuffle/partition order can't perturb them — "
    "this very query hash-matching DuckDB is the operator "
    "verifying itself. The oracle buckets via ((k % n) + n) % n — "
    "DuckDB's plain % follows the dividend's sign, so only the "
    "pmod-equivalent form matches Spark for negative keys too. "
    "Memory per task = |bucket|·32 B; raise "
    "num_buckets with table size (65536 at 10¹⁰ rows).",
    tags=("relational", "sink", "bench"),
)
def merkle_orders_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    canon = [
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        _cents(F.col("o_totalprice")).cast("string"),
        F.expr(
            "timestampdiff(MICROSECOND, "
            "TIMESTAMP_NTZ '1970-01-01 00:00:00', o_orderdate)"
        ).cast("string"),
        F.col("o_orderpriority"),
    ]
    return IG.table_digest(o, canon, F.col("o_orderkey"), num_buckets=64)


@register(
    "fuzzy_name_pairs",
    """
    WITH v AS (
      SELECT DISTINCT p_name AS s FROM part WHERE p_name IS NOT NULL
    )
    SELECT a.s AS text_a, b.s AS text_b,
           CAST(levenshtein(a.s, b.s) AS INT) AS dist
    FROM v a JOIN v b
      ON a.s < b.s
     AND abs(length(a.s) - length(b.s)) <= 4
    WHERE levenshtein(a.s, b.s) BETWEEN 1 AND 4
    """,
    doc="Fuzzy string near-dup pairs over part names: edit distance "
    "≤ 4 via the length-blocked Levenshtein self-join "
    "(operators/dedup.levenshtein_blocked_pairs) — the typo/OCR/"
    "variant detector set-similarity joins miss because a 1-char "
    "edit inside a token changes the whole shingle. Blocking is "
    "lossless: lev ≥ |len diff|, so the binned range join "
    "(operators/asof.range_join) pairs each string with every string "
    "0-4 characters longer — each range [len, len + 4] covers 2 "
    "length bins of width 4, an equi-join after a 2-element explode, "
    "never a cross join; the DP itself runs JVM-side with the "
    "threshold argument early-exiting at 5. Distinct-first shrinks "
    "the join quadratically for catalogs of repeated names. The "
    "oracle states the same length predicate as a theta join.",
    tags=("dedup", "text", "bench"),
)
def fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    pairs = D.levenshtein_blocked_pairs(p, "p_name", max_dist=4)
    return pairs.select("text_a", "text_b", F.col("dist").cast("int").alias("dist"))


@register(
    "gini_revenue_concentration",
    """
    WITH per_c AS (
      SELECT o_custkey,
             sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS r
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT r, row_number() OVER (ORDER BY r, o_custkey) AS i FROM per_c
    )
    SELECT count(*)::BIGINT AS n_customers,
           sum(r)::BIGINT AS total_cents,
           CAST(CAST(2 * sum(i * r) - (count(*) + 1) * sum(r)
                     AS DECIMAL(38,0)) AS VARCHAR) AS gini_num,
           CAST(CAST(count(*) * sum(r) AS DECIMAL(38,0))
                AS VARCHAR) AS gini_den,
           floor(1000000.0
                 * ((2 * sum(i * r) - (count(*) + 1) * sum(r))::DOUBLE
                    / (count(*) * sum(r))::DOUBLE))::BIGINT AS gini_ppm
    FROM ranked
    """,
    doc="Gini coefficient of per-customer revenue — the "
    "concentration/inequality audit run before mixture design or "
    "quota sampling (a corpus where 1% of sources carry 90% of "
    "tokens needs capping; same statistic, same plan). Uses the "
    "sorted-rank identity G = (2·Σi·rᵢ − (n+1)·Σrᵢ)/(n·Σrᵢ) with "
    "EXACT ≥int64 arithmetic: Σi·rᵢ reaches ~1e18–1e19 at 1.5e7 "
    "customers — ABOVE int64 where non-ANSI Spark wraps silently "
    "while DuckDB promotes to HUGEINT — so Spark splits each "
    "per-row product i·rᵢ (itself int64-safe) into 31-bit (hi,lo) "
    "long partial sums and recombines ONCE in DECIMAL(38,0) on the "
    "1-row aggregate, keeping the hot loop on codegen longs (the "
    "all-DECIMAL sum cost ~27% — r8 bench); both engines emit "
    "num/den as exact decimal "
    "STRINGS (DuckDB's pandas bridge degrades DECIMAL(38,0) to "
    "float64, so the only lossless cross-engine carrier for >2^63 "
    "integers is VARCHAR). Ranks over the (revenue, custkey) total "
    "order come from operators/windows.prefix_sum — the two-phase "
    "distributed scan — because customers are DATA-sized (a naive "
    "global row_number window is one task at 100 TB; contrast "
    "ks_drift_purchase_click, whose grid is domain-bounded and may "
    "window directly). Equal-revenue ties permute ranks only within "
    "equal r, leaving Σi·rᵢ invariant, so the statistic is "
    "deterministic. gini_ppm converts the exact rational by the "
    "SAME exact-integer→double cast tree on both engines.",
    tags=("relational", "quality", "bench"),
)
def gini_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    # checkpoint the per-customer rollup (the rfm discipline): the
    # two-phase prefix_sum consumes it three times (the eager
    # approxQuantile cuts pass + both block branches) and each
    # reference re-ran the orders aggregation — 3 corpus agg passes
    # for one customer-sized artifact (~10× smaller than orders).
    per_c = (
        o.groupBy("o_custkey")
        .agg(
            F.sum(
                _cents(F.col("o_totalprice"))
            ).alias("r")
        )
        .localCheckpoint(eager=True)
    )
    ranked = W.prefix_sum(
        per_c.withColumn("_one", F.lit(1).cast("long")),
        "_one",
        ["r", "o_custkey"],
        out_col="_rank0",
    ).withColumn("i", F.col("_rank0") + 1)
    # Σi·r needs >int64 (wraps near 1e19 in non-ANSI Spark exactly
    # where DuckDB promotes to HUGEINT), but running the whole sum in
    # DECIMAL costs ~27% on this query (r8 measurement): every row
    # pays the Int128 codepath. Exact long-only alternative: each
    # per-row product p = i·r itself fits int64 with wide margin
    # (i ≤ n ~ 1.5e7 customers at 100 TB, r ~ 1e11 max-cents → p ≤
    # ~1e18 < 2^63), so split p = p_hi·2^31 + p_lo per row in plain
    # long arithmetic and only COMBINE the two partial sums in
    # DECIMAL(38,0) on the single output row: Σp_hi ≤ n·(p/2^31) and
    # Σp_lo ≤ n·2^31 both stay far under 2^63. Whole-stage codegen
    # keeps every per-row expression on longs; the decimal cast tree
    # runs once.
    p = F.col("i") * F.col("r")
    agg = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("r").cast("long").alias("total_cents"),
        F.sum(F.shiftrightunsigned(p, 31)).cast("long").alias("_sir_hi"),
        F.sum(p.bitwiseAND(F.lit((1 << 31) - 1))).cast("long").alias("_sir_lo"),
    )
    dec = lambda c: c.cast("decimal(19,0)")  # noqa: E731
    sir = (
        F.lit(1 << 31).cast("decimal(19,0)") * dec(F.col("_sir_hi"))
        + dec(F.col("_sir_lo"))
    ).cast("decimal(38,0)")
    num = (
        F.lit(2).cast("decimal(19,0)") * sir
        - dec(F.col("n_customers") + 1) * dec(F.col("total_cents"))
    ).cast("decimal(38,0)")
    den = (dec(F.col("n_customers")) * dec(F.col("total_cents"))).cast(
        "decimal(38,0)"
    )
    return agg.select(
        "n_customers",
        "total_cents",
        num.cast("string").alias("gini_num"),
        den.cast("string").alias("gini_den"),
        F.floor(
            F.lit(1000000.0) * (num.cast("double") / den.cast("double"))
        ).cast("long").alias("gini_ppm"),
    )


@register(
    "ks_drift_purchase_click",
    f"""
    WITH pooled AS (
      SELECT v, sum(isa)::BIGINT AS ca, sum(isb)::BIGINT AS cb
      FROM (
        SELECT {_SQL_CENTS.format(v='value')} AS v,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS isa,
               CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS isb
        FROM events WHERE event_type IN ('purchase', 'click')
      ) GROUP BY v
    ),
    cum AS (
      SELECT v,
             sum(ca) OVER wc AS cuma, sum(cb) OVER wc AS cumb,
             sum(ca) OVER wa AS n1, sum(cb) OVER wa AS n2
      FROM pooled
      WINDOW wc AS (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wa AS (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING
                    AND UNBOUNDED FOLLOWING)
    ),
    stat AS (
      SELECT v, n1, n2, abs(cuma * n2 - cumb * n1) AS dn,
             max(abs(cuma * n2 - cumb * n1)) OVER () AS mx
      FROM cum
    )
    SELECT min(n1)::BIGINT AS n1, min(n2)::BIGINT AS n2,
           max(dn)::BIGINT AS d_num,
           (min(n1) * min(n2))::BIGINT AS d_den,
           (max(dn) * 1000000 // (min(n1) * min(n2)))::BIGINT AS d_ppm,
           min(CASE WHEN dn = mx THEN v END)::BIGINT AS d_at_v
    FROM stat
    """,
    doc="Two-sample Kolmogorov–Smirnov drift test between the "
    "purchase and click value distributions — the standard "
    "did-the-distribution-shift gate between corpus slices or "
    "ingest windows. D = max|F₁−F₂| is kept as the EXACT integer "
    "rational |cumA·n₂ − cumB·n₁| / (n₁·n₂) — no float CDF "
    "subtraction can drift, and the argmax value (tie → smallest) "
    "is integer-exact too. The cumulative sums run over the "
    "DISTINCT-value grid after aggregation through "
    "operators/windows.grid_cumsums, which ENFORCES the domain "
    "bound in code: a grid within max_window_rows (≤ 49 002 "
    "distinct cents here — metadata-sized at any corpus scale) "
    "uses the direct global window, and a genuinely unbounded "
    "domain is routed through the two-phase prefix_sum scan "
    "automatically instead of funneling one window task. d_ppm "
    "stays int64-exact while n₁·n₂ ≤ 9.2e12.",
    tags=("window", "events", "quality"),
)
def ks_drift_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    cents = _cents(F.col("value"))
    pooled = (
        ev.where(F.col("event_type").isin("purchase", "click"))
        .select(
            cents.alias("v"),
            (F.col("event_type") == "purchase").cast("long").alias("isa"),
            (F.col("event_type") == "click").cast("long").alias("isb"),
        )
        .groupBy("v")
        .agg(F.sum("isa").alias("ca"), F.sum("isb").alias("cb"))
    )
    cum = W.grid_cumsums(pooled, "v", ["ca", "cb"]).select(
        "v",
        F.col("cum_ca").alias("cuma"),
        F.col("cum_cb").alias("cumb"),
        F.col("tot_ca").alias("n1"),
        F.col("tot_cb").alias("n2"),
    )
    dn = F.abs(F.col("cuma") * F.col("n2") - F.col("cumb") * F.col("n1"))
    stat = cum.select("v", "n1", "n2", dn.alias("dn"))
    # argmax with tie -> smallest v as a windowless struct-max:
    # lexicographic max on (dn, -v) picks max dn then min v
    best = F.max(F.struct(F.col("dn").alias("d"), (-F.col("v")).alias("nv")))
    return stat.agg(
        F.min("n1").cast("long").alias("n1"),
        F.min("n2").cast("long").alias("n2"),
        F.max("dn").cast("long").alias("d_num"),
        (F.min("n1") * F.min("n2")).cast("long").alias("d_den"),
        F.expr("(max(dn) * 1000000) div (min(n1) * min(n2))")
        .cast("long")
        .alias("d_ppm"),
        (-best.getField("nv")).cast("long").alias("d_at_v"),
    )


@register(
    "l_diversity_audit",
    """
    WITH g AS (
      SELECT c_nationkey, c_mktsegment,
             count(*)::BIGINT AS group_size,
             count(DISTINCT CAST(floor(c_acctbal / 1000) AS INT))::BIGINT
               AS l_div
      FROM customer GROUP BY c_nationkey, c_mktsegment
    )
    SELECT count(*)::BIGINT AS n_groups,
           min(l_div)::BIGINT AS l_diversity,
           sum(CASE WHEN l_div < 3 THEN 1 ELSE 0 END)::BIGINT
             AS n_risky_groups,
           sum(CASE WHEN l_div < 3 THEN group_size ELSE 0 END)::BIGINT
             AS n_risky_rows
    FROM g
    """,
    doc="l-diversity privacy audit — k-anonymity's necessary "
    "companion (kanonymity_audit): a large group is still "
    "re-identifying if everyone in it SHARES the sensitive value, "
    "so the gate is the minimum count of DISTINCT sensitive values "
    "($1000 balance band) within each quasi-identifier group "
    "(nation × market segment). One grouped distinct-count (map-side "
    "partials on (QI, sensitive) pairs) + a one-row fold; like the "
    "k-audit, only group-level counts leave the aggregation. Scales "
    "as (QI × sensitive)-domain, not rows.",
    tags=("quality",),
)
def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    g = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("group_size"),
        F.countDistinct(
            F.floor(F.col("c_acctbal") / 1000).cast("int")
        ).cast("long").alias("l_div"),
    )
    risky = F.col("l_div") < 3
    return g.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.min("l_div").cast("long").alias("l_diversity"),
        F.sum(risky.cast("int")).cast("long").alias("n_risky_groups"),
        F.sum(F.when(risky, F.col("group_size")).otherwise(0))
        .cast("long")
        .alias("n_risky_rows"),
    )


@register(
    "duplicate_payment_flags",
    f"""
    WITH o AS (
      SELECT event_id, user_id,
             {_SQL_FLOOR_DIV.format(n=_SQL_CENTS.format(v='value'),
                                    d='100')} AS dollars,
             epoch_us(ts) AS ts_us
      FROM events
    ),
    w AS (
      SELECT event_id, user_id, dollars, ts_us,
             lag(ts_us) OVER (PARTITION BY user_id, dollars
                              ORDER BY ts_us, event_id) AS prev
      FROM o
    )
    SELECT event_id, user_id, dollars::BIGINT AS dollars,
           (ts_us - prev)::BIGINT AS gap_us
    FROM w WHERE prev IS NOT NULL AND ts_us - prev <= 86400000000
    """,
    doc="Duplicate-charge detection: events by the same user for the "
    "same dollar amount within 24 h — the double-submit/replayed-"
    "payment screen every billing pipeline runs (and, identically "
    "shaped, near-duplicate ingestion detection keyed on any exact "
    "attribute). ONE window keyed on (user, amount): lag() gives the "
    "previous same-amount charge, the 24 h predicate flags the pair "
    "— no self-join, no range join, integer-exact µs gaps. The "
    "cents→dollars bucketing uses the sign-safe pmod floor form "
    "(_SQL_FLOOR_DIV / floor_div_sql) so negative amounts (refunds) "
    "bucket identically on both engines. Keys are user × amount "
    "(plentiful, tiny groups): the balanced-window shape at 100 TB; "
    "output is flagged-pairs-sized.",
    tags=("window", "events", "quality", "bench"),
)
def duplicate_payment_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    o = ev.select(
        "event_id",
        "user_id",
        floor_div_sql("cast(floor(value * 100 + 0.5) as bigint)", "100").alias(
            "dollars"
        ),
        "ts_us",
    )
    w = Window.partitionBy("user_id", "dollars").orderBy("ts_us", "event_id")
    prev = F.lag("ts_us").over(w)
    return (
        o.withColumn("prev", prev)
        .where(
            F.col("prev").isNotNull()
            & (F.col("ts_us") - F.col("prev") <= F.lit(86400000000))
        )
        .select(
            "event_id",
            "user_id",
            F.col("dollars").cast("long").alias("dollars"),
            (F.col("ts_us") - F.col("prev")).cast("long").alias("gap_us"),
        )
    )


@register(
    "mann_whitney_u_events",
    f"""
    WITH pooled AS (
      SELECT v, sum(isa)::BIGINT AS ca, sum(isb)::BIGINT AS cb
      FROM (
        SELECT {_SQL_CENTS.format(v='value')} AS v,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS isa,
               CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS isb
        FROM events WHERE event_type IN ('purchase', 'click')
      ) GROUP BY v
    ),
    cum AS (
      SELECT v, ca, cb,
             coalesce(sum(ca + cb) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS below,
             sum(ca) OVER (ROWS BETWEEN UNBOUNDED PRECEDING
                           AND UNBOUNDED FOLLOWING) AS n1,
             sum(cb) OVER (ROWS BETWEEN UNBOUNDED PRECEDING
                           AND UNBOUNDED FOLLOWING) AS n2
      FROM pooled
    )
    SELECT min(n1)::BIGINT AS n1, min(n2)::BIGINT AS n2,
           (sum(ca * (2 * below + ca + cb + 1))
            - min(n1) * (min(n1) + 1))::BIGINT AS u1_x2,
           (2 * min(n1) * min(n2)
            - (sum(ca * (2 * below + ca + cb + 1))
               - min(n1) * (min(n1) + 1)))::BIGINT AS u2_x2,
           ((sum(ca * (2 * below + ca + cb + 1))
             - min(n1) * (min(n1) + 1)) * 1000000
            // (2 * min(n1) * min(n2)))::BIGINT AS cles_ppm
    FROM cum
    """,
    doc="Mann–Whitney U rank test between the purchase and click "
    "value distributions — the nonparametric location companion to "
    "ks_drift_purchase_click (KS detects any shape change; U asks "
    "'is one systematically larger?'). Tie handling is the textbook "
    "midrank, kept EXACT by doubling: for a tied value with t "
    "members, 2·midrank = 2·below + t + 1 is an integer, so "
    "U₁×2 = Σ cₐ·(2·below + cₐ + c_b + 1) − n₁(n₁+1) is integer-"
    "exact, U₁×2 + U₂×2 ≡ 2n₁n₂ by construction, and the "
    "common-language effect size P(A>B)+½P(A=B) is an integer-div "
    "ppm. Same domain-bounded distinct-value grid as KS, through "
    "the same operators/windows.grid_cumsums guard: ≤49 002 rows "
    "here windows directly; an unbounded domain would be routed "
    "through the two-phase prefix_sum scan automatically.",
    tags=("window", "events", "quality"),
)
def mann_whitney_u_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    cents = _cents(F.col("value"))
    pooled = (
        ev.where(F.col("event_type").isin("purchase", "click"))
        .select(
            cents.alias("v"),
            (F.col("event_type") == "purchase").cast("long").alias("isa"),
            (F.col("event_type") == "click").cast("long").alias("isb"),
        )
        .groupBy("v")
        .agg(F.sum("isa").alias("ca"), F.sum("isb").alias("cb"))
    )
    graded = pooled.withColumn("t", F.col("ca") + F.col("cb"))
    cum = W.grid_cumsums(
        graded, "v", ["t"], inclusive=False, total_cols=["ca", "cb"]
    ).select(
        "v",
        "ca",
        "cb",
        F.col("cum_t").alias("below"),
        F.col("tot_ca").alias("n1"),
        F.col("tot_cb").alias("n2"),
    )
    r1x2 = F.sum(
        F.col("ca") * (2 * F.col("below") + F.col("ca") + F.col("cb") + 1)
    )
    n1 = F.min("n1")
    n2 = F.min("n2")
    u1x2 = r1x2 - n1 * (n1 + 1)
    return cum.agg(
        n1.cast("long").alias("n1"),
        n2.cast("long").alias("n2"),
        u1x2.cast("long").alias("u1_x2"),
        (2 * n1 * n2 - u1x2).cast("long").alias("u2_x2"),
        F.expr(
            "(sum(ca * (2 * below + ca + cb + 1)) - min(n1) * (min(n1) + 1))"
            " * 1000000 div (2 * min(n1) * min(n2))"
        ).cast("long").alias("cles_ppm"),
    )


# ---------------------------------------------------------------------------
# Phase r8 — product-analytics kernel: cohorts, funnels, attribution,
# windowed point-joins, grid-exact percentiles
# ---------------------------------------------------------------------------

_US_PER_DAY = 86_400_000_000
_US_PER_HOUR = 3_600_000_000


@register(
    "cohort_retention_events",
    """
    WITH d AS (
      SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events
    ),
    f AS (SELECT user_id, min(day) AS cohort_day FROM d GROUP BY user_id),
    g AS (
      SELECT cohort_day, day - cohort_day AS offset_days,
             count(DISTINCT d.user_id)::BIGINT AS n_active
      FROM d JOIN f USING (user_id) GROUP BY 1, 2
    )
    SELECT cohort_day::BIGINT AS cohort_day, offset_days::BIGINT AS offset_days,
           n_active,
           (max(CASE WHEN offset_days = 0 THEN n_active END)
              OVER (PARTITION BY cohort_day))::BIGINT AS cohort_size,
           (n_active * 1000000
              // max(CASE WHEN offset_days = 0 THEN n_active END)
                   OVER (PARTITION BY cohort_day))::BIGINT AS retention_ppm
    FROM g
    """,
    doc="Cohort retention matrix at EVENT grain — daily cohorts "
    "over the event stream with exact ppm retention (the monthly "
    "ORDER-grain matrix is cohort_retention; same discipline, "
    "different fact, grain, and the ppm backfill this one adds): "
    "users grouped by first-activity day, distinct actives counted "
    "at each day offset, retention as an exact integer ppm of "
    "cohort size. Day ids are epoch-microsecond "
    "integer division (TZ-independent, exact; operands non-negative "
    "so Spark div ≡ DuckDB //). Plan: one user-keyed agg for the "
    "cohort day, a user-keyed shuffle join back (both sides "
    "co-partition on user_id), one (cohort, offset) agg with "
    "Spark's two-phase distinct. The cohort_size backfill window "
    "runs POST-AGG over the cohort×offset grid — bounded by "
    "days-in-corpus², metadata-sized at any row scale (the "
    "grid_cumsums discipline). Every user is active on their cohort "
    "day, so offset 0 is always present and cohort_size never null.",
    tags=("relational", "events", "bench"),
)
def cohort_retention_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.expr(f"ts_us div {_US_PER_DAY}").alias("day")
    )
    firsts = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    grid = (
        ev.join(firsts, "user_id")
        .groupBy(
            "cohort_day", (F.col("day") - F.col("cohort_day")).alias("offset_days")
        )
        .agg(F.countDistinct("user_id").cast("long").alias("n_active"))
    )
    w = Window.partitionBy("cohort_day")
    size = F.max(
        F.when(F.col("offset_days") == 0, F.col("n_active"))
    ).over(w)
    return grid.select(
        F.col("cohort_day").cast("long").alias("cohort_day"),
        F.col("offset_days").cast("long").alias("offset_days"),
        "n_active",
        size.cast("long").alias("cohort_size"),
        (F.col("n_active") * 1000000).cast("long").alias("_num"),
    ).select(
        "cohort_day",
        "offset_days",
        "n_active",
        "cohort_size",
        F.expr("_num div cohort_size").cast("long").alias("retention_ppm"),
    )


@register(
    "funnel_conversion_events",
    """
    WITH e AS (
      SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events
    ),
    u AS (SELECT DISTINCT user_id FROM e),
    v AS (SELECT user_id, min(ts_us) AS t_view FROM e
          WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, min(ts_us) AS t_click
          FROM e JOIN v USING (user_id)
          WHERE event_type = 'click' AND ts_us > t_view GROUP BY e.user_id),
    p AS (SELECT e.user_id, min(ts_us) AS t_purchase
          FROM e JOIN c USING (user_id)
          WHERE event_type = 'purchase' AND ts_us > t_click GROUP BY e.user_id)
    SELECT count(*)::BIGINT AS n_users,
           count(t_view)::BIGINT AS n_view,
           count(t_click)::BIGINT AS n_click_after_view,
           count(t_purchase)::BIGINT AS n_purchase_after_click,
           (count(t_view) * 1000000 // count(*))::BIGINT AS view_ppm,
           (count(t_click) * 1000000 // count(*))::BIGINT AS click_ppm,
           (count(t_purchase) * 1000000 // count(*))::BIGINT AS purchase_ppm
    FROM u
    LEFT JOIN v USING (user_id)
    LEFT JOIN c USING (user_id)
    LEFT JOIN p USING (user_id)
    """,
    doc="Conversion-RATE ledger for the ordered funnel view → click "
    "→ purchase (companion to event_funnel, which reports the "
    "per-step attainment rows; this one folds to one row of counts "
    "plus exact ppm rates over the full user base). A user advances "
    "a step only with an event STRICTLY AFTER their previous step's "
    "first completion (the textbook funnel semantics). "
    "Plan: three user-keyed min-aggregations chained by inner joins "
    "(each stage's frame shrinks monotonically), then left joins "
    "off the distinct-user spine folded to ONE row of step counts "
    "and exact ppm conversion rates. Every shuffle is user-keyed — "
    "co-partitioned end to end, no window, no skew pivot (a user's "
    "events bound each min). Counts are non-negative so Spark div "
    "≡ DuckDB // in the ppm columns.",
    tags=("relational", "events", "bench"),
)
def funnel_conversion_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts_us")
    u = e.select("user_id").distinct()
    v = (
        e.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t_view"))
    )
    c = (
        e.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("ts_us") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t_click"))
    )
    p = (
        e.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("ts_us") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t_purchase"))
    )
    spine = (
        u.join(v, "user_id", "left")
        .join(c, "user_id", "left")
        .join(p, "user_id", "left")
    )
    n = F.count(F.lit(1))
    return spine.agg(
        n.cast("long").alias("n_users"),
        F.count("t_view").cast("long").alias("n_view"),
        F.count("t_click").cast("long").alias("n_click_after_view"),
        F.count("t_purchase").cast("long").alias("n_purchase_after_click"),
        F.expr("(count(t_view) * 1000000) div count(1)")
        .cast("long")
        .alias("view_ppm"),
        F.expr("(count(t_click) * 1000000) div count(1)")
        .cast("long")
        .alias("click_ppm"),
        F.expr("(count(t_purchase) * 1000000) div count(1)")
        .cast("long")
        .alias("purchase_ppm"),
    )


@register(
    "attribution_last_touch",
    f"""
    WITH t AS (
      SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type,
             {_SQL_CENTS.format(v='value')} AS cents,
             CASE WHEN event_type IN ('click', 'view')
                  THEN TRY_CAST(json_extract_string(props, '$.k') AS INT) % 10
             END AS camp
      FROM events
    ),
    lt AS (
      SELECT event_type, cents,
             last_value(camp IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS campaign
      FROM t
    )
    SELECT campaign::INT AS campaign,
           count(*)::BIGINT AS n_purchases,
           sum(cents)::BIGINT AS attributed_cents
    FROM lt WHERE event_type = 'purchase'
    GROUP BY campaign
    """,
    doc="Last-touch revenue attribution: each purchase's cents are "
    "credited to the campaign (props.k mod 10) of the SAME user's "
    "most recent click/view at-or-before the purchase; purchases "
    "with no prior touch fall in the NULL campaign bucket. One "
    "running last(ignorenulls) window partitioned by user — the "
    "scale unit is a single user's event stream, never a global "
    "order — with (ts_us, event_id) as the deterministic total "
    "order (DuckDB twin: last_value(x IGNORE NULLS)). Then a "
    "campaign-keyed agg over the ~10-row campaign domain. The "
    "multi-touch/windowed variant is purchase_window_click_join.",
    tags=("window", "events", "bench"),
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    camp = (
        F.get_json_object("props", "$.k").try_cast("int") % 10
    )
    t = ev.select(
        "user_id",
        "ts_us",
        "event_id",
        "event_type",
        _cents(F.col("value")).alias("cents"),
        F.when(F.col("event_type").isin("click", "view"), camp).alias("camp"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    lt = t.select(
        "event_type",
        "cents",
        F.last("camp", ignorenulls=True).over(w).alias("campaign"),
    )
    return (
        lt.where(F.col("event_type") == "purchase")
        .groupBy(F.col("campaign").cast("int").alias("campaign"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            F.sum("cents").cast("long").alias("attributed_cents"),
        )
    )


@register(
    "purchase_window_click_join",
    f"""
    WITH p AS (
      SELECT event_id, user_id, epoch_us(ts) AS t,
             {_SQL_CENTS.format(v='value')} AS cents
      FROM events WHERE event_type = 'purchase'
    ),
    c AS (
      SELECT user_id, epoch_us(ts) AS ct FROM events
      WHERE event_type = 'click'
    ),
    j AS (
      SELECT p.event_id, p.cents, count(c.ct)::BIGINT AS n_clicks
      FROM p LEFT JOIN c
        ON c.user_id = p.user_id
       AND c.ct < p.t AND c.ct >= p.t - 3600000000
      GROUP BY p.event_id, p.cents
    )
    SELECT n_clicks, count(*)::BIGINT AS n_purchases,
           sum(cents)::BIGINT AS sum_cents
    FROM j GROUP BY n_clicks
    """,
    doc="Point-in-window join: for every purchase, count the same "
    "user's clicks in the preceding hour, folded to a histogram "
    "(how many purchases had 0, 1, 2... supporting clicks — the "
    "multi-touch companion to attribution_last_touch). The oracle "
    "states it as a range join (DuckDB's IEJoin eats it); the Spark "
    "plan is the binned range join (operators/asof.range_join): "
    "clicks binned by hour, each purchase's window [t - 1 h, t] "
    "replicated to the 2 hour bins it covers, a pure equi-join on "
    "(user_id, bin) — shuffle-hashable, prunable, no range-predicate "
    "nested loop anywhere — then the exact window filter. A click "
    "has one bin, so no dedup step is needed; unmatched purchases "
    "rejoin with count 0 via the left spine.",
    tags=("relational", "events", "bench"),
)
def purchase_window_click_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    pur = ev.where(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        F.col("ts_us").alias("t"),
        _cents(F.col("value")).alias("cents"),
    )
    clk = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts_us").alias("ct")
    )
    windows = pur.select(
        "event_id", "user_id", "t", (F.col("t") - _US_PER_HOUR).alias("t0")
    )
    hits = (
        A.range_join(clk, windows, ["user_id"], [("ct", "t0", "t", _US_PER_HOUR)])
        .where(F.col("ct") < F.col("t"))
        .groupBy("event_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_clicks"))
    )
    per_purchase = pur.join(hits, "event_id", "left").select(
        F.coalesce(F.col("n_clicks"), F.lit(0)).cast("long").alias("n_clicks"),
        "cents",
    )
    return per_purchase.groupBy("n_clicks").agg(
        F.count(F.lit(1)).cast("long").alias("n_purchases"),
        F.sum("cents").cast("long").alias("sum_cents"),
    )


@register(
    "value_percentiles_by_type",
    f"""
    WITH g AS (
      SELECT event_type, {_SQL_CENTS.format(v='value')} AS v,
             count(*)::BIGINT AS n
      FROM events GROUP BY 1, 2
    ),
    c AS (
      SELECT event_type, v, n,
             sum(n) OVER (PARTITION BY event_type ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             sum(n) OVER (PARTITION BY event_type) AS tot
      FROM g
    )
    SELECT event_type, min(tot)::BIGINT AS n,
           min(CASE WHEN cum >= (tot * 50 + 99) // 100 THEN v END)::BIGINT
             AS p50_cents,
           min(CASE WHEN cum >= (tot * 90 + 99) // 100 THEN v END)::BIGINT
             AS p90_cents,
           min(CASE WHEN cum >= (tot * 99 + 99) // 100 THEN v END)::BIGINT
             AS p99_cents
    FROM c GROUP BY event_type
    """,
    doc="Exact discrete percentiles (p50/p90/p99, nearest-rank "
    "ceil(p·n) — the percentile_disc definition) of the cents value "
    "per event type. NOT a per-type sort of the data: the rows "
    "aggregate to the (type, distinct-cents) GRID first, and the "
    "rank pick is a cumulative count over that grid — the "
    "partitioned window's partition is a type's value grid "
    "(domain-bounded, ≤49 002 rows regardless of corpus size), the "
    "same discipline grid_cumsums enforces for the two-sample "
    "stats. All rank arithmetic is integer-exact ((tot·p+99) div "
    "100 = ceil with non-negative operands, identical on both "
    "engines); ties and duplicate values are handled by "
    "construction since the grid is distinct.",
    tags=("window", "events", "quality", "bench"),
)
def value_percentiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    g = (
        ev.groupBy("event_type", _cents(F.col("value")).alias("v"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    c, pick = W.grid_rank_picks(g, "v", "n", partition_by=["event_type"])
    return c.groupBy("event_type").agg(
        F.min("tot").cast("long").alias("n"),
        pick(50).alias("p50_cents"),
        pick(90).alias("p90_cents"),
        pick(99).alias("p99_cents"),
    )


@register(
    "rolling_dau_7d",
    """
    WITH d AS (
      SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
      FROM events
    ),
    days AS (SELECT DISTINCT day FROM d)
    SELECT t.day::BIGINT AS day,
           count(DISTINCT CASE WHEN d.day = t.day THEN d.user_id END)::BIGINT
             AS dau,
           count(DISTINCT d.user_id)::BIGINT AS dau7,
           (count(DISTINCT CASE WHEN d.day = t.day THEN d.user_id END)
              * 1000000 // count(DISTINCT d.user_id))::BIGINT
             AS stickiness_ppm
    FROM days t JOIN d ON d.day BETWEEN t.day - 6 AND t.day
    GROUP BY t.day
    """,
    doc="Rolling 7-day distinct active users per day, with same-day "
    "DAU and the DAU/WAU stickiness ratio as an exact ppm. The "
    "oracle states the range join directly; the Spark plan uses the "
    "scale form of every sliding-distinct: dedup to the (user, day) "
    "grid first (one exact-distinct shuffle — the only pass over "
    "row-scale data), then EXPLODE each grid cell to the ≤7 target "
    "days it contributes to and run one (day)-keyed distinct-count. "
    "Work is 7×|user-day grid| — bounded by users × days, never by "
    "raw events — and no window ever orders the full stream. "
    "Target days outside the observed corpus window are clipped by "
    "the semi join against the day grid, matching the oracle's "
    "days-grid driving side.",
    tags=("relational", "events", "bench"),
)
def rolling_dau_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.expr(f"ts_us div {_US_PER_DAY}").alias("day")
    )
    ud = ev.distinct()  # (user, day) grid — the only row-scale pass
    contrib = ud.select(
        "user_id",
        F.col("day").alias("src_day"),
        F.explode(
            F.sequence(F.col("day"), F.col("day") + F.lit(6))
        ).alias("day"),
    )
    # Clip to observed days with HAVING dau >= 1 instead of the old
    # semi-join against a distinct-days grid: a target day is
    # observed iff some user has src_day == day, and exactly those
    # users are the ones dau counts — so dau >= 1 ⟺ day observed.
    # The grid subtree was a SECOND full events scan + distinct +
    # exchange (Catalyst re-expands the shared ud lineage); the
    # filter is free (guide §2.4 — remove shuffles outright).
    return (
        contrib.groupBy("day")
        .agg(
            F.countDistinct(
                F.when(F.col("src_day") == F.col("day"), F.col("user_id"))
            ).cast("long").alias("dau"),
            F.countDistinct("user_id").cast("long").alias("dau7"),
        )
        .where(F.col("dau") >= 1)
        .select(
            F.col("day").cast("long").alias("day"),
            "dau",
            "dau7",
            F.expr("(dau * 1000000) div dau7").cast("long").alias(
                "stickiness_ppm"
            ),
        )
    )


@register(
    "ship_latency_sla",
    """
    WITH lat AS (
      SELECT o.o_orderpriority,
             (epoch_us(l.l_shipdate) - epoch_us(o.o_orderdate))
               // 86400000000 AS days
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    g AS (
      SELECT o_orderpriority, days, count(*)::BIGINT AS n
      FROM lat GROUP BY 1, 2
    ),
    c AS (
      SELECT o_orderpriority, days, n,
             sum(n) OVER (PARTITION BY o_orderpriority ORDER BY days
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             sum(n) OVER (PARTITION BY o_orderpriority) AS tot
      FROM g
    )
    SELECT o_orderpriority, min(tot)::BIGINT AS n_lineitems,
           min(CASE WHEN cum >= (tot * 50 + 99) // 100 THEN days END)::BIGINT
             AS p50_days,
           min(CASE WHEN cum >= (tot * 95 + 99) // 100 THEN days END)::BIGINT
             AS p95_days,
           min(CASE WHEN cum >= (tot * 99 + 99) // 100 THEN days END)::BIGINT
             AS p99_days,
           sum(CASE WHEN days > 90 THEN n ELSE 0 END)::BIGINT AS n_breach,
           (sum(CASE WHEN days > 90 THEN n ELSE 0 END) * 1000000
              // min(tot))::BIGINT AS breach_ppm
    FROM c GROUP BY o_orderpriority
    """,
    doc="Order-to-ship latency SLA audit per order priority: exact "
    "nearest-rank p50/p95/p99 of shipping latency in whole days, "
    "plus the >90-day breach count and exact ppm rate. The "
    "fact-fact lineitem⋈orders join shuffles both sides on "
    "orderkey (co-partitioned; at lake scale the keyed layout makes "
    "it co-located). Latency lands on a DAY grid — domain-bounded "
    "(order horizon ≈ years → thousands of distinct day values) — "
    "so the per-priority percentile windows run over a "
    "metadata-sized grid, same discipline as "
    "value_percentiles_by_type, never sorting row-scale data. Day "
    "arithmetic is integer epoch-µs division (non-negative: ships "
    "follow orders).",
    tags=("relational", "quality", "bench"),
)
def ship_latency_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    lat = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "o_orderpriority",
        F.expr(
            "(timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
            " l_shipdate) - timestampdiff(MICROSECOND,"
            " TIMESTAMP_NTZ '1970-01-01 00:00:00', o_orderdate))"
            f" div {_US_PER_DAY}"
        ).alias("days"),
    )
    g = lat.groupBy("o_orderpriority", "days").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    c, pick = W.grid_rank_picks(g, "days", "n", partition_by=["o_orderpriority"])
    breach = F.sum(F.when(F.col("days") > 90, F.col("n")).otherwise(0))
    return c.groupBy("o_orderpriority").agg(
        F.min("tot").cast("long").alias("n_lineitems"),
        pick(50).alias("p50_days"),
        pick(95).alias("p95_days"),
        pick(99).alias("p99_days"),
        breach.cast("long").alias("n_breach"),
        F.expr(
            "(sum(CASE WHEN days > 90 THEN n ELSE 0 END) * 1000000)"
            " div min(tot)"
        ).cast("long").alias("breach_ppm"),
    )




@register(
    "new_vs_returning_revenue",
    f"""
    WITH p AS (
      SELECT user_id, epoch_us(ts) // 86400000000 AS day,
             {_SQL_CENTS.format(v='value')} AS cents
      FROM events WHERE event_type = 'purchase'
    ),
    f AS (SELECT user_id, min(day) AS first_day FROM p GROUP BY user_id)
    SELECT p.day::BIGINT AS day,
           sum(CASE WHEN p.day = f.first_day THEN cents ELSE 0 END)::BIGINT
             AS new_cents,
           sum(CASE WHEN p.day > f.first_day THEN cents ELSE 0 END)::BIGINT
             AS returning_cents,
           count(DISTINCT CASE WHEN p.day = f.first_day
                               THEN p.user_id END)::BIGINT AS new_buyers,
           count(DISTINCT CASE WHEN p.day > f.first_day
                               THEN p.user_id END)::BIGINT AS returning_buyers
    FROM p JOIN f USING (user_id)
    GROUP BY p.day
    """,
    doc="Daily revenue split into NEW (the buyer's first-ever "
    "purchase day) vs RETURNING — the acquisition-vs-retention "
    "ledger next to cohort_retention_events (which tracks activity "
    "decay, not revenue mix). One user-keyed min-agg for the first "
    "purchase day, a co-partitioned join back, one day-keyed agg "
    "with conditional exact-cents sums and two-phase distinct buyer "
    "counts. Day ids are non-negative epoch-µs integer division "
    "(Spark div ≡ DuckDB //).",
    tags=("relational", "events", "bench"),
)
def new_vs_returning_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.expr(f"ts_us div {_US_PER_DAY}").alias("day"),
        _cents(F.col("value")).alias("cents"),
    )
    f = p.groupBy("user_id").agg(F.min("day").alias("first_day"))
    j = p.join(f, "user_id")
    is_new = F.col("day") == F.col("first_day")
    is_ret = F.col("day") > F.col("first_day")
    return j.groupBy(F.col("day").cast("long").alias("day")).agg(
        F.sum(F.when(is_new, F.col("cents")).otherwise(0))
        .cast("long")
        .alias("new_cents"),
        F.sum(F.when(is_ret, F.col("cents")).otherwise(0))
        .cast("long")
        .alias("returning_cents"),
        F.countDistinct(F.when(is_new, F.col("user_id")))
        .cast("long")
        .alias("new_buyers"),
        F.countDistinct(F.when(is_ret, F.col("user_id")))
        .cast("long")
        .alias("returning_buyers"),
    )


@register(
    "pareto_revenue_point",
    """
    WITH per_c AS (
      SELECT o_custkey,
             sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS r
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT r,
             sum(r) OVER (ORDER BY r DESC, o_custkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             row_number() OVER (ORDER BY r DESC, o_custkey) AS i,
             sum(r) OVER () AS tot,
             count(*) OVER () AS n
      FROM per_c
    )
    SELECT min(n)::BIGINT AS n_customers,
           min(tot)::BIGINT AS total_cents,
           min(CASE WHEN cum * 100 >= tot * 80 THEN i END)::BIGINT
             AS n_for_80pct,
           (min(CASE WHEN cum * 100 >= tot * 80 THEN i END) * 1000000
              // min(n))::BIGINT AS share_ppm
    FROM ranked
    """,
    doc="The 80/20 point of revenue concentration: the smallest "
    "count of top customers whose exact-cents revenue reaches 80% "
    "of the total, and that count as a ppm share of all customers — "
    "the actionable companion to gini_revenue_concentration (one "
    "number: 'the top X% carry 80%'). Customers are DATA-sized, so "
    "the descending cumulative revenue comes from "
    "operators/windows.prefix_sum (the two-phase distributed scan — "
    "ranked on (-r, custkey) so the same ascending kernel serves the "
    "descending order; a naive global window is one task at scale; "
    "the oracle may window directly, DuckDB's single node IS one "
    "task). The threshold test cum·100 ≥ tot·80 is integer-exact; "
    "int64 holds to ~9.2e16 total cents (≈ $9.2e14), documented "
    "bound far above the corpus.",
    tags=("relational", "quality", "bench"),
)
def pareto_revenue_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    per_c = o.groupBy("o_custkey").agg(
        F.sum(_cents(F.col("o_totalprice"))).alias("r")
    )
    # descending revenue order via the ascending prefix_sum kernel:
    # order by (-r, o_custkey); exclusive prefix + own r = inclusive
    neg = per_c.withColumn("_nr", -F.col("r")).withColumn(
        "_one", F.lit(1).cast("long")
    ).localCheckpoint(eager=True)
    # sample block boundaries ONCE and share them across both scans
    # (prefix_sum's contract: any sorted cuts are correct)
    n_blk = spark.sparkContext.defaultParallelism
    cuts = neg.stat.approxQuantile(
        "_nr", [i / n_blk for i in range(1, n_blk)], 0.001
    )
    # ONE two-phase scan carries both running sums (cumulative
    # revenue AND rank) — prefix_sums shares the block window and
    # offsets pass across columns, where the old per-column chain
    # re-sorted and re-joined the table for the second sum.
    with_rank = W.prefix_sums(
        neg,
        ["r", "_one"],
        ["_nr", "o_custkey"],
        out_cols=["_cum0", "_rank0"],
        cuts=cuts,
    )
    ranked = with_rank.select(
        (F.col("_cum0") + F.col("r")).alias("cum"),
        (F.col("_rank0") + 1).alias("i"),
    )
    tots = per_c.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("r").cast("long").alias("tot"),
    )
    j = ranked.withColumn("_j", F.lit(1)).join(
        F.broadcast(tots.withColumn("_j", F.lit(1))), "_j"
    )
    hit = F.min(
        F.when(F.col("cum") * 100 >= F.col("tot") * 80, F.col("i"))
    )
    return j.agg(
        F.min("n").cast("long").alias("n_customers"),
        F.min("tot").cast("long").alias("total_cents"),
        hit.cast("long").alias("n_for_80pct"),
        F.expr(
            "(min(CASE WHEN cum * 100 >= tot * 80 THEN i END) * 1000000)"
            " div min(n)"
        ).cast("long").alias("share_ppm"),
    )


# ---------------------------------------------------------------------------
# Phase r9 — behavioral analytics pack (streaks, in-session funnel,
# conversion latency, independence test, RFM, ratio quality bounds)
# ---------------------------------------------------------------------------

@register(
    "user_activity_streaks",
    """
    WITH d AS (
      SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
      FROM events
    ),
    i AS (
      SELECT user_id, day,
             day - row_number() OVER (PARTITION BY user_id ORDER BY day)
               AS island
      FROM d
    ),
    s AS (
      SELECT user_id, count(*) AS len FROM i GROUP BY user_id, island
    ),
    m AS (SELECT user_id, max(len) AS streak_days FROM s GROUP BY user_id)
    SELECT streak_days::BIGINT AS streak_days,
           count(*)::BIGINT AS n_users
    FROM m GROUP BY streak_days
    """,
    doc="Longest consecutive-active-day streak per user, as a "
    "(streak length → user count) distribution — the classic "
    "gaps-and-islands shape: distinct (user, day) grid, island id = "
    "day − per-user day rank (constant within a run of consecutive "
    "days), per-island length, per-user max. Scale: the only "
    "row-scale pass is the exact-distinct shuffle down to the "
    "(user, day) grid; every window after it partitions BY USER over "
    "grid rows (≤ users × days), the same discipline as "
    "rolling_dau_7d. No global window anywhere.",
    tags=("window", "events", "bench"),
)
def user_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ud = (
        _t(spark, sf_dir, "events")
        .select("user_id", F.expr(f"ts_us div {_US_PER_DAY}").alias("day"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day")
    islands = ud.withColumn("island", F.col("day") - F.row_number().over(w))
    streaks = islands.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("len")
    )
    per_user = streaks.groupBy("user_id").agg(
        F.max("len").alias("streak_days")
    )
    return per_user.groupBy("streak_days").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    ).select(F.col("streak_days").cast("long").alias("streak_days"), "n_users")


@register(
    "session_funnel_conversion",
    """
    WITH e AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
      FROM events
    ),
    flagged AS (
      SELECT user_id, event_id, event_type, ts_us,
             CASE WHEN lag(ts_us) OVER w IS NULL
                       OR ts_us - lag(ts_us) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS ns
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    ),
    s AS (
      SELECT user_id, event_type, ts_us,
             sum(ns) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM flagged
    ),
    v AS (
      SELECT user_id, session_id,
             min(CASE WHEN event_type = 'view' THEN ts_us END) AS tv
      FROM s GROUP BY user_id, session_id
    ),
    c AS (
      SELECT s.user_id, s.session_id,
             min(CASE WHEN event_type = 'click' AND ts_us > tv
                      THEN ts_us END) AS tc
      FROM s JOIN v USING (user_id, session_id)
      GROUP BY s.user_id, s.session_id
    ),
    p AS (
      SELECT s.user_id, s.session_id,
             min(CASE WHEN event_type = 'purchase' AND ts_us > tc
                      THEN ts_us END) AS tp
      FROM s JOIN c USING (user_id, session_id)
      GROUP BY s.user_id, s.session_id
    )
    SELECT count(*)::BIGINT AS n_sessions,
           count(tv)::BIGINT AS n_view,
           count(tc)::BIGINT AS n_click_after_view,
           count(tp)::BIGINT AS n_purchase_after_click,
           (count(tp) * 1000000 // count(*))::BIGINT AS conv_ppm
    FROM v JOIN c USING (user_id, session_id) JOIN p USING (user_id, session_id)
    """,
    doc="Ordered view→click→purchase funnel WITHIN a 30-minute "
    "session (funnel_conversion_events is the per-user lifetime "
    "funnel; this is the per-visit one). Sessionize (lag → boundary "
    "flag → running sum, operators/windows.sessionize), then three "
    "session-partitioned window passes chain the stage timestamps: "
    "first view in session, first click strictly after it, first "
    "purchase strictly after that — a NULL earlier stage nulls the "
    "chain (SQL NULL comparison = Spark when() not firing, "
    "semantics identical by construction). Scale: every window "
    "partitions by (user, session) — Catalyst collapses the three "
    "passes onto one sort — and the final count is a 1-row "
    "aggregate. No global window.",
    tags=("window", "events", "bench"),
)
def session_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts_us"
    )
    s = W.sessionize(
        e, "ts_us", partition_by=["user_id"], gap=1800 * 1_000_000,
        order_by=["ts_us", "event_id"],
    )
    w = Window.partitionBy("user_id", "session_id")
    s = s.withColumn(
        "tv",
        F.min(F.when(F.col("event_type") == "view", F.col("ts_us"))).over(w),
    )
    s = s.withColumn(
        "tc",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts_us") > F.col("tv")),
                F.col("ts_us"),
            )
        ).over(w),
    )
    s = s.withColumn(
        "tp",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts_us") > F.col("tc")),
                F.col("ts_us"),
            )
        ).over(w),
    )
    per = s.groupBy("user_id", "session_id").agg(
        F.min("tv").alias("tv"), F.min("tc").alias("tc"), F.min("tp").alias("tp")
    )
    return per.agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.count("tv").cast("long").alias("n_view"),
        F.count("tc").cast("long").alias("n_click_after_view"),
        F.count("tp").cast("long").alias("n_purchase_after_click"),
        F.expr("(count(tp) * 1000000) div count(1)").cast("long").alias(
            "conv_ppm"
        ),
    )


@register(
    "time_to_conversion_hist",
    """
    WITH per AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view'
                      THEN epoch_us(ts) END) AS tv,
             min(CASE WHEN event_type = 'purchase'
                      THEN epoch_us(ts) END) AS tp
      FROM events GROUP BY user_id
    )
    SELECT ((tp - tv) // 86400000000)::BIGINT AS days_to_convert,
           count(*)::BIGINT AS n_users
    FROM per
    WHERE tv IS NOT NULL AND tp IS NOT NULL AND tp >= tv
    GROUP BY days_to_convert
    """,
    doc="Latency from a user's FIRST view to their FIRST purchase, "
    "as a whole-day histogram — the acquisition-lag curve next to "
    "funnel_conversion_events (which counts stages, not time). One "
    "user-keyed conditional-min aggregation (map-side partial "
    "combine), then a day-grid count; users whose first purchase "
    "precedes any view (purchase-led accounts) are excluded "
    "explicitly. Integer epoch-µs floor division on both engines "
    "(tp ≥ tv guaranteed by the filter, so // == div).",
    tags=("relational", "events"),
)
def time_to_conversion_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    per = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.min(
                F.when(F.col("event_type") == "view", F.col("ts_us"))
            ).alias("tv"),
            F.min(
                F.when(F.col("event_type") == "purchase", F.col("ts_us"))
            ).alias("tp"),
        )
    )
    conv = per.where(
        F.col("tv").isNotNull()
        & F.col("tp").isNotNull()
        & (F.col("tp") >= F.col("tv"))
    )
    return (
        conv.select(
            F.expr(f"(tp - tv) div {_US_PER_DAY}").alias("days_to_convert")
        )
        .groupBy("days_to_convert")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .select(
            F.col("days_to_convert").cast("long").alias("days_to_convert"),
            "n_users",
        )
    )


@register(
    "chi2_dow_event_type",
    """
    WITH cell AS (
      SELECT (epoch_us(ts) // 86400000000) % 7 AS dow, event_type,
             count(*)::BIGINT AS n
      FROM events GROUP BY 1, 2
    ),
    tot AS (
      SELECT dow, event_type, n,
             sum(n) OVER (PARTITION BY dow) AS r,
             sum(n) OVER (PARTITION BY event_type) AS c,
             sum(n) OVER () AS g
      FROM cell
    )
    SELECT dow::BIGINT AS dow, event_type, n,
           floor(r::DOUBLE * c::DOUBLE / g::DOUBLE * 1000000.0
                 + 0.5)::BIGINT AS expected_micro,
           floor((n::DOUBLE * g::DOUBLE - r::DOUBLE * c::DOUBLE)
                 * (n::DOUBLE * g::DOUBLE - r::DOUBLE * c::DOUBLE)
                 / (g::DOUBLE * r::DOUBLE * c::DOUBLE)
                 * 1000000.0 + 0.5)::BIGINT AS chi2_micro
    FROM tot
    """,
    doc="Chi-square independence audit of event_type against "
    "day-of-week (epoch-day mod 7 — engine-invariant, no calendar "
    "locale): per-cell observed count, expected count and χ² "
    "contribution in exact micro-units. Joins the drift suite (KS, "
    "Mann–Whitney, CUSUM) as the categorical-vs-categorical member. "
    "Scale: one row-scale hash aggregation down to the ≤ 7×|types| "
    "contingency grid; the marginal windows run over that "
    "metadata-sized grid (the domain-bounded-grid exemption — "
    "contrast gini, whose rank base is data-sized and must "
    "prefix_sum). Per-cell arithmetic: identical exact-int→double "
    "expression trees on both engines — χ² cell = (O·G − R·C)² / "
    "(G·R·C), the E-free form that avoids an intermediate division.",
    tags=("relational", "events", "quality"),
)
def chi2_dow_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    cell = (
        _t(spark, sf_dir, "events")
        .select(
            F.expr(f"pmod(ts_us div {_US_PER_DAY}, 7)").alias("dow"),
            "event_type",
        )
        .groupBy("dow", "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    tot = (
        cell.withColumn("r", F.sum("n").over(Window.partitionBy("dow")))
        .withColumn("c", F.sum("n").over(Window.partitionBy("event_type")))
        .withColumn(
            "g",
            F.sum("n").over(
                Window.partitionBy().rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ),
        )
    )
    d = lambda name: F.col(name).cast("double")  # noqa: E731
    diff = d("n") * d("g") - d("r") * d("c")
    return tot.select(
        F.col("dow").cast("long").alias("dow"),
        "event_type",
        "n",
        F.floor(d("r") * d("c") / d("g") * 1000000.0 + 0.5)
        .cast("long")
        .alias("expected_micro"),
        F.floor(diff * diff / (d("g") * d("r") * d("c")) * 1000000.0 + 0.5)
        .cast("long")
        .alias("chi2_micro"),
    )


@register(
    "rfm_segmentation",
    """
    WITH per AS (
      SELECT o_custkey,
             max(epoch_us(o_orderdate) // 86400000000) AS r_day,
             count(*)::BIGINT AS f,
             sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS m
      FROM orders GROUP BY o_custkey
    ),
    n_all AS (SELECT count(*)::BIGINT AS n FROM per),
    rt AS (
      SELECT min(CASE WHEN i >= (n + 3) // 4 THEN v END) AS t1,
             min(CASE WHEN i >= (2 * n + 3) // 4 THEN v END) AS t2,
             min(CASE WHEN i >= (3 * n + 3) // 4 THEN v END) AS t3
      FROM (SELECT r_day AS v,
                   row_number() OVER (ORDER BY r_day, o_custkey) AS i,
                   (SELECT n FROM n_all) AS n
            FROM per)
    ),
    ft AS (
      SELECT min(CASE WHEN i >= (n + 3) // 4 THEN v END) AS t1,
             min(CASE WHEN i >= (2 * n + 3) // 4 THEN v END) AS t2,
             min(CASE WHEN i >= (3 * n + 3) // 4 THEN v END) AS t3
      FROM (SELECT f AS v,
                   row_number() OVER (ORDER BY f, o_custkey) AS i,
                   (SELECT n FROM n_all) AS n
            FROM per)
    ),
    mt AS (
      SELECT min(CASE WHEN i >= (n + 3) // 4 THEN v END) AS t1,
             min(CASE WHEN i >= (2 * n + 3) // 4 THEN v END) AS t2,
             min(CASE WHEN i >= (3 * n + 3) // 4 THEN v END) AS t3
      FROM (SELECT m AS v,
                   row_number() OVER (ORDER BY m, o_custkey) AS i,
                   (SELECT n FROM n_all) AS n
            FROM per)
    )
    SELECT (1 + (r_day > rt.t1)::INT + (r_day > rt.t2)::INT
              + (r_day > rt.t3)::INT)::BIGINT AS r_score,
           (1 + (f > ft.t1)::INT + (f > ft.t2)::INT
              + (f > ft.t3)::INT)::BIGINT AS f_score,
           (1 + (m > mt.t1)::INT + (m > mt.t2)::INT
              + (m > mt.t3)::INT)::BIGINT AS m_score,
           count(*)::BIGINT AS n_customers,
           sum(m)::BIGINT AS monetary_cents
    FROM per, rt, ft, mt
    GROUP BY r_score, f_score, m_score
    """,
    doc="RFM segmentation: per-customer Recency (last order epoch "
    "day), Frequency (order count), Monetary (exact cents) scored "
    "into quartiles 1–4 by nearest-rank thresholds (t_q = value at "
    "rank ceil(q·n/4) in (value, custkey) order; score = 1 + number "
    "of thresholds strictly exceeded, so TIES land in one segment — "
    "rank-splitting ties by custkey would scatter equal customers "
    "across segments). Scale, by metric shape: Recency and Frequency "
    "live on DOMAIN-BOUNDED grids (epoch days; orders-per-customer), "
    "so their thresholds come from nearest-rank picks over the "
    "metadata-sized value grid (grid_rank_picks — the "
    "value_percentiles discipline); Monetary is DATA-sized (distinct "
    "cent sums grow with customers), so its threshold rank comes "
    "from operators/windows.prefix_sum (two-phase distributed scan — "
    "the oracle windows directly; single-node DuckDB IS one task). "
    "All three collapse to 1-row threshold tuples broadcast back; "
    "the final segment rollup is a ≤64-row aggregate; the cross "
    "joins are 1-row broadcast scalars (the guarded scalar-subquery "
    "pattern).",
    tags=("relational", "bench"),
)
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    per = (
        _t(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            F.expr(
                "timestampdiff(MICROSECOND,"
                " TIMESTAMP_NTZ '1970-01-01 00:00:00', o_orderdate)"
                f" div {_US_PER_DAY}"
            ).alias("r_day_ev"),
            _cents(F.col("o_totalprice")).alias("cents"),
        )
        .groupBy("o_custkey")
        .agg(
            F.max("r_day_ev").alias("r_day"),
            F.count(F.lit(1)).cast("long").alias("f"),
            F.sum("cents").alias("m"),
        )
        .localCheckpoint(eager=True)  # 3 rank scans + final rollup reuse it
    )

    # quartile thresholds via the shared nearest-rank operator —
    # Recency/Frequency are domain-bounded (grid route), Monetary is
    # data-sized (selection route, custkey completes the total order).
    # The three are INDEPENDENT jobs over the checkpointed rollup and
    # the selection route issues eager counts passes, so build them
    # from a small driver thread pool (guide §2.6): the next metric's
    # tasks back-fill executors freed by the previous one's tail
    # instead of serializing three barrier chains.
    from concurrent.futures import ThreadPoolExecutor

    from dbm_nca_ph_etl_spark.session import thread_target

    with ThreadPoolExecutor(max_workers=3) as pool:
        f_rt = pool.submit(
            thread_target(
                spark,
                lambda: W.quantile_thresholds(
                    per, "r_day", (25, 50, 75), bounded=True
                ),
            )
        )
        f_ft = pool.submit(
            thread_target(
                spark,
                lambda: W.quantile_thresholds(per, "f", (25, 50, 75), bounded=True),
            )
        )
        f_mt = pool.submit(
            thread_target(
                spark,
                lambda: W.quantile_thresholds(
                    per, "m", (25, 50, 75), bounded=False, tie_break="o_custkey"
                ),
            )
        )
        rt, ft, mt = f_rt.result(), f_ft.result(), f_mt.result()
    j = (
        per.withColumn("_j", F.lit(1))
        .join(F.broadcast(rt.select(
            F.col("t1").alias("rt1"), F.col("t2").alias("rt2"),
            F.col("t3").alias("rt3")).withColumn("_j", F.lit(1))), "_j")
        .join(F.broadcast(ft.select(
            F.col("t1").alias("ft1"), F.col("t2").alias("ft2"),
            F.col("t3").alias("ft3")).withColumn("_j", F.lit(1))), "_j")
        .join(F.broadcast(mt.select(
            F.col("t1").alias("mt1"), F.col("t2").alias("mt2"),
            F.col("t3").alias("mt3")).withColumn("_j", F.lit(1))), "_j")
    )
    score = lambda v, t: (  # noqa: E731
        F.lit(1)
        + (F.col(v) > F.col(f"{t}1")).cast("int")
        + (F.col(v) > F.col(f"{t}2")).cast("int")
        + (F.col(v) > F.col(f"{t}3")).cast("int")
    ).cast("long")
    return (
        j.select(
            score("r_day", "rt").alias("r_score"),
            score("f", "ft").alias("f_score"),
            score("m", "mt").alias("m_score"),
            "m",
        )
        .groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("m").cast("long").alias("monetary_cents"),
        )
    )


@register(
    "brand_return_wilson",
    """
    WITH b AS (
      SELECT p.p_brand,
             count(*)::BIGINT AS n_items,
             sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)::BIGINT
               AS n_returned
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY p.p_brand
    )
    SELECT p_brand, n_items, n_returned,
           (n_returned * 1000000 // n_items)::BIGINT AS return_ppm,
           floor(
             ((n_returned::DOUBLE / n_items::DOUBLE
               + 1.9208 / n_items::DOUBLE
               - 1.96 * sqrt((n_returned::DOUBLE / n_items::DOUBLE
                              * (1.0 - n_returned::DOUBLE / n_items::DOUBLE)
                              + 0.9604 / n_items::DOUBLE)
                             / n_items::DOUBLE))
              / (1.0 + 3.8416 / n_items::DOUBLE)) * 1000000.0 + 0.5
           )::BIGINT AS wilson_lb_ppm
    FROM b
    """,
    doc="Per-brand return rate with the Wilson score 95% LOWER bound "
    "(z = 1.96; z²/2 = 1.9208, z²/4 = 0.9604, z² = 3.8416 as exact "
    "literals) — the ranking statistic that does not reward "
    "small-sample flukes, the same correction quality-scoring a "
    "training corpus by source needs (a 3-document source with 0 "
    "defects must not outrank a 10k-document source at 0.1%). One "
    "fact-dim join on partkey (no broadcast hint: part is "
    "dim-but-data-sized at 100 TB — AQE picks broadcast when it "
    "fits) into a |brands|-sized aggregate; the Wilson expression is "
    "an identical exact-int→double tree on both engines.",
    tags=("relational", "quality"),
)
def brand_return_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_returnflag")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    b = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.sum(
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
            ).cast("long").alias("n_returned"),
        )
    )
    d = lambda name: F.col(name).cast("double")  # noqa: E731
    phat = d("n_returned") / d("n_items")
    lb = (
        phat
        + F.lit(1.9208) / d("n_items")
        - F.lit(1.96)
        * F.sqrt(
            (phat * (F.lit(1.0) - phat) + F.lit(0.9604) / d("n_items"))
            / d("n_items")
        )
    ) / (F.lit(1.0) + F.lit(3.8416) / d("n_items"))
    return b.select(
        "p_brand",
        "n_items",
        "n_returned",
        F.expr("(n_returned * 1000000) div n_items").cast("long").alias(
            "return_ppm"
        ),
        F.floor(lb * 1000000.0 + 0.5).cast("long").alias("wilson_lb_ppm"),
    )


@register(
    "compaction_audit",
    """
    WITH kb AS (
      SELECT ('0x' || substr(md5(c_custkey::VARCHAR), 1, 12))::BIGINT % 16
               AS kb,
             c_acctbal
      FROM customer
    )
    SELECT kb::INT AS kb, count(*) AS n_rows,
           sum(floor(c_acctbal * 100 + 0.5))::BIGINT AS acct_cents,
           true AS fully_compacted
    FROM kb GROUP BY kb
    """,
    doc="Small-file compaction on the keyed layout "
    "(sinks/keyed.compact_keyed), end-to-end on a scratch dir: build "
    "the keyed table from customer, FRAGMENT it (a non-bucket-aligned "
    "repartition(8) rewrite — the file state wide-parallelism merges "
    "and streamed epochs leave), compact, and read back per-bucket "
    "row counts and integer-cent balance sums. fully_compacted "
    "asserts every bucket directory holds exactly one parquet file "
    "afterwards (seam listing). Content identity is the load-bearing "
    "claim — the oracle replays only the DATA (bucket assignment via "
    "the md5-prefix hash + the sums); a compaction that lost or "
    "duplicated a row hash-mismatches. Scale: candidates from a "
    "metadata-only listing, scan pruned to them, one task per bucket "
    "(repartition on _kb), same dynamic-overwrite commit path as the "
    "merges.",
    tags=("sink", "merge"),
)
def compaction_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from dbm_nca_ph_etl_spark.sinks.keyed import (
        KB_COL,
        compact_keyed,
        write_keyed,
    )
    from dbm_nca_ph_etl_spark.sinks.partitioned import overwrite_partitions

    base = _t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    scratch = tempfile.mkdtemp(prefix="compaction_audit_")
    try:
        path = f"{scratch}/t"
        write_keyed(base, path, ["c_custkey"], 16)
        # fragment: rewrite every bucket from 8 non-aligned tasks
        frag = spark.read.parquet(path).repartition(8).localCheckpoint(
            eager=True
        )
        overwrite_partitions(frag, path, [KB_COL])
        compact_keyed(spark, path)
        ok = all(
            len([x for x in os.listdir(os.path.join(path, d)) if x.endswith(".parquet")]) == 1
            for d in os.listdir(path)
            if d.startswith(f"{KB_COL}=")
        )
        out = (
            spark.read.parquet(path)
            .groupBy(F.col(KB_COL).alias("kb"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.floor(F.col("c_acctbal") * 100 + 0.5))
                .cast("long")
                .alias("acct_cents"),
            )
            .withColumn("fully_compacted", F.lit(bool(ok)))
            # materialize before the scratch dir disappears: the
            # caller collects AFTER this function returns
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return out


@register(
    "order_value_quartile_bands",
    f"""
    WITH p AS (
      SELECT o_orderkey, {_SQL_CENTS.format(v='o_totalprice')} AS cents
      FROM orders
    ),
    r AS (
      SELECT cents,
             row_number() OVER (ORDER BY cents, o_orderkey) AS i,
             count(*) OVER () AS n
      FROM p
    ),
    t AS (
      SELECT min(CASE WHEN i >= (n * 25 + 99) // 100 THEN cents END) AS t1,
             min(CASE WHEN i >= (n * 50 + 99) // 100 THEN cents END) AS t2,
             min(CASE WHEN i >= (n * 75 + 99) // 100 THEN cents END) AS t3
      FROM r
    )
    SELECT (1 + (cents > t.t1)::INT + (cents > t.t2)::INT
              + (cents > t.t3)::INT)::BIGINT AS band,
           count(*)::BIGINT AS n_orders,
           sum(cents)::BIGINT AS revenue_cents,
           min(cents)::BIGINT AS min_cents,
           max(cents)::BIGINT AS max_cents
    FROM p, t
    GROUP BY band
    """,
    doc="Orders bucketed into quartile bands of order value (exact "
    "cents): thresholds are nearest-rank picks t_q = value at rank "
    "ceil(q·n/100) in (cents, orderkey) order — the direct catalog "
    "pin of operators/windows.quantile_thresholds' UNBOUNDED route "
    "(order values are data-sized: distinct cent sums grow with the "
    "corpus, so thresholds come from the blocked k-way SELECTION — "
    "per-block counts locate each rank's block, only those ≤k blocks "
    "get windowed — never a global window or full sort over data "
    "rows; the single-node oracle IS one task, so it windows "
    "directly). The "
    "1-row threshold tuple broadcasts back (guarded scalar-subquery "
    "pattern); the band rollup is a 4-row aggregate. Ties share a "
    "band by construction — band edges compare against one threshold "
    "value, not a rank split.",
    tags=("relational", "window", "bench"),
)
def order_value_quartile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Shared by the rank scan and the band rollup, but NOT
    # checkpointed: at 100 TB an eager localCheckpoint would
    # materialize a table-sized artifact to executor disk just to
    # share a 2-column projection — a second column-pruned parquet
    # scan is cheaper than writing + reading the whole set once.
    p = _t(spark, sf_dir, "orders").select(
        "o_orderkey", _cents(F.col("o_totalprice")).alias("cents")
    )
    t = W.quantile_thresholds(
        p, "cents", (25, 50, 75), bounded=False, tie_break="o_orderkey"
    )
    j = p.withColumn("_j", F.lit(1)).join(
        F.broadcast(t.withColumn("_j", F.lit(1))), "_j"
    )
    band = (
        F.lit(1)
        + (F.col("cents") > F.col("t1")).cast("int")
        + (F.col("cents") > F.col("t2")).cast("int")
        + (F.col("cents") > F.col("t3")).cast("int")
    ).cast("long")
    return (
        j.select(band.alias("band"), "cents")
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("revenue_cents"),
            F.min("cents").cast("long").alias("min_cents"),
            F.max("cents").cast("long").alias("max_cents"),
        )
    )


@register(
    "market_basket_brand_pairs",
    """
    WITH ob AS (
      SELECT DISTINCT l_orderkey AS k, p_brand AS b
      FROM lineitem JOIN part ON l_partkey = p_partkey
    ),
    n AS (SELECT count(DISTINCT k) AS n_orders FROM ob),
    bc AS (SELECT b, count(*) AS nb FROM ob GROUP BY b),
    pairs AS (
      SELECT a.b AS brand_a, c.b AS brand_b, count(*) AS n_ab
      FROM ob a JOIN ob c ON a.k = c.k AND a.b < c.b
      GROUP BY 1, 2
    )
    SELECT pairs.brand_a, pairs.brand_b, pairs.n_ab::BIGINT AS n_ab,
           (pairs.n_ab * 1000000 // n.n_orders)::BIGINT AS support_ppm,
           (pairs.n_ab * 1000000 // x.nb)::BIGINT AS conf_a_to_b_ppm,
           (pairs.n_ab * 1000000 // y.nb)::BIGINT AS conf_b_to_a_ppm
    FROM pairs
    CROSS JOIN n
    JOIN bc x ON pairs.brand_a = x.b
    JOIN bc y ON pairs.brand_b = y.b
    WHERE pairs.n_ab >= 5
    """,
    doc="Market-basket association mining over order baskets at the "
    "BRAND granularity: exact pair co-occurrence counts with support "
    "and both directional confidences as exact ppm. The scale shape "
    "is the a-priori discipline: dedup to the (order, brand) grid "
    "first (one distinct shuffle over row-scale data — baskets are "
    "sets, repeated lineitems of one brand count once), then the "
    "self-join explodes only WITHIN an order key (co-partitioned "
    "equi-join, pairs bounded by C(25,2) per basket since the brand "
    "domain is 25), never across orders. Per-brand counts are a "
    "≤25-row broadcast; the order total is a 1-row broadcast scalar. "
    "Confidences stay in int64 (n_ab·10⁶ ≤ orders·10⁶); lift is "
    "derivable as conf_a_to_b/ (nb_b/n) without materializing the "
    "overflow-prone triple product.",
    tags=("relational", "bench"),
)
def market_basket_brand_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # Posting-list shape: the basket grid's distinct folds into
    # collect_set (map-side dedup, ONE exchange on orderkey), and one
    # explode emits per basket a marker row (null, null), a singleton
    # (b, null) per brand, and every a<b pair — so ONE grid-sized
    # rollup carries n_orders, every nb, and every n_ab at once. The
    # old shape materialized the corpus-sized (k, b) grid to executor
    # disk (eager localCheckpoint) and re-scanned it 3×, with a
    # sort-merge self-join (2 more corpus exchanges) for the pairs.
    # The rollup is ≤ 1 + 25 + C(25,2) = 326 rows (the brand domain
    # is 25 at any corpus size) — THAT is what gets checkpointed now,
    # metadata-sized, so the three derivations below don't re-expand
    # the corpus subtree (the dsir 512-row-rollup discipline).
    baskets = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy(F.col("l_orderkey").alias("k"))
        .agg(F.array_sort(F.collect_set(F.col("p_brand"))).alias("bs"))
    )
    nul = F.lit(None).cast("string")
    entries = F.concat(
        F.array(F.struct(nul.alias("a"), nul.alias("b"))),
        F.transform(
            F.col("bs"), lambda x: F.struct(x.alias("a"), nul.alias("b"))
        ),
        F.flatten(
            F.transform(
                F.col("bs"),
                lambda x, i: F.transform(
                    F.slice(F.col("bs"), i + 2, F.size(F.col("bs"))),
                    lambda y: F.struct(x.alias("a"), y.alias("b")),
                ),
            )
        ),
    )
    rollup = (
        baskets.select(F.explode(entries).alias("e"))
        .groupBy(F.col("e.a").alias("ba"), F.col("e.b").alias("bb"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)  # ≤326 rows at any corpus size
    )
    n = rollup.where(F.col("ba").isNull() & F.col("bb").isNull()).select(
        F.col("cnt").alias("n_orders")
    )
    bc = rollup.where(F.col("ba").isNotNull() & F.col("bb").isNull()).select(
        F.col("ba").alias("b"), F.col("cnt").alias("nb")
    )
    pairs = rollup.where(F.col("bb").isNotNull()).select(
        F.col("ba").alias("brand_a"),
        F.col("bb").alias("brand_b"),
        F.col("cnt").alias("n_ab"),
    ).where(F.col("n_ab") >= 5)
    return (
        pairs.withColumn("_j", F.lit(1))
        .join(F.broadcast(n.withColumn("_j", F.lit(1))), "_j")
        .join(
            F.broadcast(bc.select(F.col("b"), F.col("nb").alias("nb_a"))),
            F.col("brand_a") == F.col("b"),
        )
        .drop("b")
        .join(
            F.broadcast(bc.select(F.col("b"), F.col("nb").alias("nb_b"))),
            F.col("brand_b") == F.col("b"),
        )
        .select(
            "brand_a",
            "brand_b",
            F.col("n_ab").cast("long").alias("n_ab"),
            F.expr("(n_ab * 1000000) div n_orders").cast("long").alias(
                "support_ppm"
            ),
            F.expr("(n_ab * 1000000) div nb_a").cast("long").alias(
                "conf_a_to_b_ppm"
            ),
            F.expr("(n_ab * 1000000) div nb_b").cast("long").alias(
                "conf_b_to_a_ppm"
            ),
        )
    )


@register(
    "event_type_markov_transitions",
    """
    WITH s AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             ) AS next_type
      FROM events
    ),
    p AS (
      SELECT event_type AS from_type, next_type AS to_type,
             count(*) AS n
      FROM s WHERE next_type IS NOT NULL GROUP BY 1, 2
    ),
    f AS (SELECT from_type, sum(n) AS n_from FROM p GROUP BY 1)
    SELECT p.from_type, p.to_type, p.n::BIGINT AS n_transitions,
           (p.n * 1000000 // f.n_from)::BIGINT AS prob_ppm
    FROM p JOIN f USING (from_type)
    """,
    doc="First-order Markov transition matrix of the per-user event "
    "stream: P(next event_type | event_type) as exact ppm, from a "
    "lead() over each user's (ts, event_id)-ordered history — the "
    "tie-break makes the chain deterministic under equal timestamps. "
    "Scale: ONE shuffle (the per-user window's own hash partition — "
    "the sessionize discipline; a user's history is one partition's "
    "worth, never a global order), then the pair rollup lands on the "
    "|event_type|² grid (≤64 rows at any corpus size) and the "
    "row-normalizing denominator join is grid-sized too. The "
    "training-data use is behavior modeling / anomaly screens: "
    "transitions with prob_ppm far from the row prior flag bot-like "
    "repetition.",
    tags=("window", "events", "bench"),
)
def event_type_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts_us", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    s = ev.withColumn("next_type", F.lead("event_type").over(w)).where(
        F.col("next_type").isNotNull()
    )
    p = s.groupBy(
        F.col("event_type").alias("from_type"),
        F.col("next_type").alias("to_type"),
    ).agg(F.count(F.lit(1)).alias("n"))
    f = p.groupBy("from_type").agg(F.sum("n").alias("n_from"))
    return (
        p.join(F.broadcast(f), "from_type")
        .select(
            "from_type",
            "to_type",
            F.col("n").cast("long").alias("n_transitions"),
            F.expr("(n * 1000000) div n_from").cast("long").alias(
                "prob_ppm"
            ),
        )
    )


@register(
    "benford_value_audit",
    f"""
    WITH c AS (
      SELECT event_type, {_SQL_CENTS.format(v='value')} AS cents
      FROM events
    ),
    d AS (
      SELECT event_type,
             CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit,
             count(*) AS n
      FROM c WHERE cents > 0 GROUP BY 1, 2
    ),
    t AS (SELECT event_type, sum(n) AS n_type FROM d GROUP BY 1)
    SELECT d.event_type, d.digit, d.n::BIGINT AS n,
           (d.n * 1000000 // t.n_type)::BIGINT AS share_ppm,
           (CASE d.digit WHEN 1 THEN 301029 WHEN 2 THEN 176091
             WHEN 3 THEN 124938 WHEN 4 THEN 96910 WHEN 5 THEN 79181
             WHEN 6 THEN 66946 WHEN 7 THEN 57991 WHEN 8 THEN 51152
             WHEN 9 THEN 45757 END)::BIGINT AS benford_ppm,
           abs((d.n * 1000000 // t.n_type)
             - CASE d.digit WHEN 1 THEN 301029 WHEN 2 THEN 176091
               WHEN 3 THEN 124938 WHEN 4 THEN 96910 WHEN 5 THEN 79181
               WHEN 6 THEN 66946 WHEN 7 THEN 57991 WHEN 8 THEN 51152
               WHEN 9 THEN 45757 END)::BIGINT AS dev_ppm
    FROM d JOIN t USING (event_type)
    """,
    doc="Benford first-digit audit of the cents value per event type: "
    "observed leading-digit share vs the Benford expectation "
    "floor(log10(1+1/d)·10⁶) (integer LITERALS on both engines — no "
    "runtime log/float), deviation as exact ppm. The leading digit "
    "comes from the decimal STRING of the exact cents integer "
    "(substr(cast,1,1)) — integer-exact on both engines, immune to "
    "the float-log10 boundary flips a pow/log derivation risks at "
    "10^k edges. Fabricated/synthetic value columns are the classic "
    "use (fraud screens, generated-data detection). Scale: one "
    "map-side-combining groupBy onto the (type × 9 digits) grid; "
    "everything downstream is grid-sized.",
    tags=("events", "quality", "bench"),
)
def benford_value_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    _BENFORD = {
        1: 301029, 2: 176091, 3: 124938, 4: 96910, 5: 79181,
        6: 66946, 7: 57991, 8: 51152, 9: 45757,
    }
    bmap = F.create_map(
        *[F.lit(x) for d, p in _BENFORD.items() for x in (d, p)]
    )
    ev = _t(spark, sf_dir, "events").select(
        "event_type", _cents(F.col("value")).alias("cents")
    )
    d = (
        ev.where(F.col("cents") > 0)
        .select(
            "event_type",
            F.substring(F.col("cents").cast("string"), 1, 1)
            .cast("long")
            .alias("digit"),
        )
        .groupBy("event_type", "digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    t = d.groupBy("event_type").agg(F.sum("n").alias("n_type"))
    return (
        d.join(F.broadcast(t), "event_type")
        .withColumn("benford_ppm", bmap[F.col("digit")].cast("long"))
        .select(
            "event_type",
            "digit",
            F.col("n").cast("long").alias("n"),
            F.expr("(n * 1000000) div n_type").cast("long").alias(
                "share_ppm"
            ),
            "benford_ppm",
            F.abs(
                F.expr("(n * 1000000) div n_type") - F.col("benford_ppm")
            ).cast("long").alias("dev_ppm"),
        )
    )


@register(
    "supplier_nation_hhi",
    f"""
    WITH r AS (
      SELECT s_nationkey, l_suppkey,
             sum({_SQL_CENTS.format(v='l_extendedprice * (1 - l_discount)')})
               AS cents
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      GROUP BY 1, 2
    ),
    t AS (
      SELECT s_nationkey, sum(cents) AS tot, count(*) AS n_suppliers,
             max(cents) AS mx
      FROM r GROUP BY 1
    ),
    sh AS (
      SELECT r.s_nationkey, (r.cents * 1000000 // t.tot) AS share_ppm
      FROM r JOIN t USING (s_nationkey)
    )
    SELECT n_name,
           min(t.n_suppliers)::BIGINT AS n_suppliers,
           min(t.tot)::BIGINT AS total_cents,
           (sum(sh.share_ppm * sh.share_ppm) // 1000000)::BIGINT AS hhi_ppm,
           (min(t.mx) * 1000000 // min(t.tot))::BIGINT AS top_share_ppm
    FROM sh
    JOIN t ON sh.s_nationkey = t.s_nationkey
    JOIN nation ON sh.s_nationkey = n_nationkey
    GROUP BY n_name
    """,
    doc="Herfindahl–Hirschman supplier-concentration index per "
    "nation: each supplier's revenue share in exact ppm (row-level "
    "cents via the shared double tree, floor-div shares), HHI = "
    "Σ share_ppm² / 10⁶ — 10⁶·(Σ share²), the antitrust-style "
    "concentration measure; plus the single largest share. Scale: "
    "one shuffle to the (nation, supplier) rollup (map-side "
    "combine over lineitem), nation totals are a ≤25-row broadcast "
    "back, the HHI rollup is supplier-count-sized. Integer bounds: "
    "share_ppm ≤ 10⁶ so each square ≤ 10¹², and cents·10⁶ stays in "
    "int64 through ~10¹² total cents per nation; beyond that the "
    "gini hi/lo-split DECIMAL(38,0) recombination is the documented "
    "upgrade path.",
    tags=("relational", "quality", "bench"),
)
def supplier_nation_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        _cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "c"
        ),
    )
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    r = (
        li.join(sup, li.l_suppkey == sup.s_suppkey)
        .groupBy("s_nationkey", "l_suppkey")
        .agg(F.sum("c").alias("cents"))
    )
    t = r.groupBy("s_nationkey").agg(
        F.sum("cents").alias("tot"),
        F.count(F.lit(1)).alias("n_suppliers"),
        F.max("cents").alias("mx"),
    )
    nation = F.broadcast(
        _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    )
    sh = r.join(F.broadcast(t), "s_nationkey").withColumn(
        "share_ppm", F.expr("(cents * 1000000) div tot")
    )
    return (
        sh.join(nation, sh.s_nationkey == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.min("n_suppliers").cast("long").alias("n_suppliers"),
            F.min("tot").cast("long").alias("total_cents"),
            F.expr("sum(share_ppm * share_ppm) div 1000000")
            .cast("long")
            .alias("hhi_ppm"),
            F.expr("(min(mx) * 1000000) div min(tot)")
            .cast("long")
            .alias("top_share_ppm"),
        )
    )


@register(
    "repeat_purchase_intervals",
    """
    WITH p AS (
      SELECT user_id, epoch_us(ts) // 86400000000 AS day
      FROM events WHERE event_type = 'purchase'
    ),
    gaps AS (
      SELECT day - lag(day) OVER (PARTITION BY user_id ORDER BY day) AS gap
      FROM (SELECT DISTINCT user_id, day FROM p)
    ),
    g AS (
      SELECT gap, count(*) AS n FROM gaps WHERE gap IS NOT NULL GROUP BY gap
    ),
    c AS (
      SELECT gap, n,
             sum(n) OVER (ORDER BY gap
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             sum(n) OVER () AS tot
      FROM g
    )
    SELECT coalesce(min(tot), 0)::BIGINT AS n_gaps,
           min(CASE WHEN cum >= (tot * 50 + 99) // 100 THEN gap END)::BIGINT
             AS p50_days,
           min(CASE WHEN cum >= (tot * 90 + 99) // 100 THEN gap END)::BIGINT
             AS p90_days,
           max(gap)::BIGINT AS max_days
    FROM c
    """,
    doc="Repeat-purchase cadence: exact nearest-rank p50/p90 of the "
    "day gaps between a user's consecutive purchase DAYS (distinct "
    "days first — N same-day purchases are one visit, not N zero "
    "gaps). The gap percentiles are the BOUNDED route of "
    "operators/windows.quantile_thresholds (its catalog pin, beside "
    "order_value_quartile_bands' unbounded route): day gaps live on "
    "a domain-bounded grid (≤ the corpus day span), so thresholds "
    "are rank picks over the metadata-sized (gap, count) grid — the "
    "only row-scale passes are the purchase filter, the (user, day) "
    "distinct, and the per-user lag window (the sessionize "
    "discipline: one hash shuffle, a user's history never globally "
    "ordered).",
    tags=("window", "events", "bench"),
)
def repeat_purchase_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").where(
        F.col("event_type") == "purchase"
    )
    ud = ev.select(
        "user_id", F.expr(f"ts_us div {_US_PER_DAY}").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    gaps = (
        ud.withColumn("gap", F.col("day") - F.lag("day").over(w))
        .where(F.col("gap").isNotNull())
        .select("gap")
        .localCheckpoint(eager=True)  # grid pick + count + max reuse it
    )
    t = W.quantile_thresholds(
        gaps, "gap", (50, 90), bounded=True, names=["p50_days", "p90_days"]
    )
    stats = gaps.agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.max("gap").cast("long").alias("max_days"),
    )
    return (
        stats.withColumn("_j", F.lit(1))
        .join(F.broadcast(t.withColumn("_j", F.lit(1))), "_j")
        .select("n_gaps", "p50_days", "p90_days", "max_days")
    )


# ---------------------------------------------------------------------------
# Round 11 — spatial grid joins, DSIR importance resampling, exact EWMA
# ---------------------------------------------------------------------------

# md5-derived planar coordinates for entity keys (DuckDB twin inline
# in the oracles). A multiplicative-congruential scatter
# (key*const % range) looks uniform but lays SEQUENTIAL keys on a
# lattice whose minimum pair gap exceeded the query radius — zero
# pairs at every SF; the md5 scatter has true collision-scale
# clustering. 100000 x 100000 frame (think: 10 m cells over a city).
_COORD_RANGE = 100000


def _coord(key: Column, salt: str) -> Column:
    return F.pmod(
        hash64(F.concat(key.cast("string"), F.lit(salt))), F.lit(_COORD_RANGE)
    )


_SQL_COORD = (
    "(('0x' || substr(md5({k}::VARCHAR || '{s}'), 1, 15))::BIGINT % 100000)"
)


@register(
    "spatial_neighbor_segments",
    f"""
    WITH pts AS (
      SELECT c_custkey AS k,
             {_SQL_COORD.format(k='c_custkey', s='#x')} AS x,
             {_SQL_COORD.format(k='c_custkey', s='#y')} AS y,
             c_mktsegment AS seg
      FROM customer
    ),
    pairs AS (
      SELECT least(a.seg, b.seg) AS seg_a, greatest(a.seg, b.seg) AS seg_b,
             (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) AS d2
      FROM pts a JOIN pts b ON a.k < b.k
      WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 250000
    )
    SELECT seg_a, seg_b, count(*)::BIGINT AS n_pairs,
           min(d2)::BIGINT AS min_d2, sum(d2)::BIGINT AS sum_d2
    FROM pairs GROUP BY seg_a, seg_b
    """,
    doc="Spatial distance self-join (operators/spatial."
    "self_pairs_within): all customer pairs within radius 500 on an "
    "md5-scattered 100k x 100k integer frame, rolled up by market-"
    "segment pair. The Spark plan is the 2-D binned range join "
    "(operators/asof.range_join) — home cell vs each point's radius "
    "box replicated to its 3x3 cells, each candidate pair generated "
    "EXACTLY once, exact int64 d2 filter, shuffle_hash-pinned (both "
    "sides corpus-sized) — while the DuckDB oracle runs the naive "
    "quadratic join: the hash gate proves the binned plan enumerates "
    "the identical pair set. One shuffle on the (x, y) cell; per-cell "
    "work bounded by local density, never O(n^2) in the corpus; "
    "dense cells are the skew.py case.",
    tags=("spatial", "join", "bench"),
)
def spatial_neighbor_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        _coord(F.col("c_custkey"), "#x").alias("x"),
        _coord(F.col("c_custkey"), "#y").alias("y"),
        F.col("c_mktsegment").alias("seg"),
    )
    pairs = SP.self_pairs_within(c, "k", radius=500, carry=("seg",))
    return (
        pairs.select(
            F.least("seg_a", "seg_b").alias("sa"),
            F.greatest("seg_a", "seg_b").alias("sb"),
            "d2",
        )
        .groupBy("sa", "sb")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.min("d2").cast("long").alias("min_d2"),
            F.sum("d2").cast("long").alias("sum_d2"),
        )
        .select(
            F.col("sa").alias("seg_a"),
            F.col("sb").alias("seg_b"),
            "n_pairs",
            "min_d2",
            "sum_d2",
        )
    )


@register(
    "spatial_nearest_customer",
    f"""
    WITH cp AS (
      SELECT c_custkey AS k,
             {_SQL_COORD.format(k='c_custkey', s='#x')} AS x,
             {_SQL_COORD.format(k='c_custkey', s='#y')} AS y
      FROM customer
    ),
    sp AS (
      SELECT s_suppkey AS k,
             {_SQL_COORD.format(k="'s' || s_suppkey", s='#x')} AS x,
             {_SQL_COORD.format(k="'s' || s_suppkey", s='#y')} AS y
      FROM supplier
    ),
    cand AS (
      SELECT sp.k AS s_suppkey, cp.k AS c_custkey,
             (sp.x-cp.x)*(sp.x-cp.x) + (sp.y-cp.y)*(sp.y-cp.y) AS d2
      FROM sp JOIN cp
        ON (sp.x-cp.x)*(sp.x-cp.x) + (sp.y-cp.y)*(sp.y-cp.y) <= 4000000
    ),
    r AS (
      SELECT s_suppkey, c_custkey, d2,
             row_number() OVER (PARTITION BY s_suppkey
                                ORDER BY d2, c_custkey) AS rn
      FROM cand
    )
    SELECT s_suppkey, c_custkey AS nearest_custkey, d2::BIGINT AS d2
    FROM r WHERE rn = 1
    """,
    doc="Bounded-radius nearest-neighbour join (operators/spatial."
    "join_within): each supplier's closest customer within radius "
    "2000 on the shared md5-scattered frame, ties broken by "
    "customer key, via the 2-D binned range join (operators/asof."
    "range_join). The probe side (suppliers) is replicated to the 9 "
    "cells of its radius box and is BROADCAST — the whole k-NN pass "
    "is map-only over the customer corpus, zero shuffle before the "
    "per-probe top-1 (a probe-count-sized window). Suppliers with no "
    "customer in radius drop out (89/100 match at sf0.01), exactly "
    "like the oracle's inequality join. The naive-quadratic DuckDB "
    "twin hash-checks the candidate discipline.",
    tags=("spatial", "join", "topk", "bench"),
)
def spatial_nearest_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cp = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        _coord(F.col("c_custkey"), "#x").alias("x"),
        _coord(F.col("c_custkey"), "#y").alias("y"),
    )
    sp = _t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        _coord(F.concat(F.lit("s"), F.col("s_suppkey").cast("string")), "#x").alias("x"),
        _coord(F.concat(F.lit("s"), F.col("s_suppkey").cast("string")), "#y").alias("y"),
    )
    cand = SP.join_within(
        sp, cp, "s_suppkey", "c_custkey", radius=2000, broadcast_probes=True
    )
    # argmin as a PACKED-LONG AGGREGATE, not a window: the radius
    # filter guarantees d2 <= 4e6 (< 2^22), so min(d2 * 2^41 +
    # c_custkey) is the lexicographic minimum of (d2, c_custkey) —
    # exactly row_number() over (ORDER BY d2, c_custkey) = 1 — for
    # any c_custkey < 2^41 (max pack 4e6*2^41 + 2^41 < 2^63). The
    # window form sorted the full candidate set twice (map-side
    # WindowGroupLimit sort + post-exchange sort); min(struct(...))
    # falls back to SortAggregate (struct agg buffers aren't
    # hash-mutable); min(long) is a HashAggregate with MAP-SIDE
    # PARTIAL aggregation — one pre-reduced row per (task, supplier)
    # crosses the exchange, O(probes) shuffle rows instead of
    # O(candidates), and nothing is ever sorted (guide §2.3
    # "aggregate before you shuffle", §2.4).
    pack_base = F.lit(1 << 41).cast("long")
    best = F.min(F.col("d2") * pack_base + F.col("c_custkey")).alias("_best")
    return (
        cand.groupBy("s_suppkey")
        .agg(best)
        .select(
            "s_suppkey",
            F.pmod(F.col("_best"), pack_base).alias("nearest_custkey"),
            # integer `div`, NOT `/`: packs exceed 2^53, double
            # division would round the quotient
            F.expr(f"_best div {1 << 41}").cast("long").alias("d2"),
        )
    )


_DSIR_B = 512  # hashed feature buckets (Xie et al. 2023 use 10^4 for
# bigram spaces; 512 keeps the bucket tables printable while the
# plan shape — O(B) broadcast, O(tokens) scan — is scale-identical)


@register(
    "dsir_importance_resample",
    f"""
    WITH toks AS (
      SELECT doc_id, lang,
             unnest(list_filter(string_split_regex(lower(text),
                                '[^a-z0-9]+'), x -> x <> '')) AS tok
      FROM documents
    ),
    b AS (
      SELECT doc_id, lang,
             (('0x' || substr(md5(tok), 1, 15))::BIGINT % {_DSIR_B}) AS bkt
      FROM toks
    ),
    tgt AS (SELECT bkt, count(*)::BIGINT AS tc FROM b
            WHERE lang = 'en' GROUP BY bkt),
    src AS (SELECT bkt, count(*)::BIGINT AS sc FROM b GROUP BY bkt),
    tot AS (SELECT (SELECT sum(tc) FROM tgt)::DOUBLE AS t_total,
                   (SELECT sum(sc) FROM src)::DOUBLE AS s_total),
    lr AS (
      SELECT src.bkt,
             CAST(floor((ln((coalesce(tgt.tc, 0) + 1.0) / (t_total + {_DSIR_B}.0))
                       - ln((src.sc + 1.0) / (s_total + {_DSIR_B}.0)))
                       * 1000000.0 + 0.5) AS BIGINT) AS lw_ppm
      FROM src LEFT JOIN tgt USING (bkt) CROSS JOIN tot
    ),
    dw AS (
      SELECT b.doc_id, sum(lr.lw_ppm)::BIGINT AS logw_ppm,
             count(*)::BIGINT AS n_tokens
      FROM b JOIN lr USING (bkt) GROUP BY b.doc_id
    ),
    g AS (
      SELECT doc_id, n_tokens,
             logw_ppm + CAST(floor(
               -ln(-ln((((doc_id::HUGEINT * 2654435761) % 4294967296)::DOUBLE
                        + 0.5) / 4294967296.0))
               * 1000000.0 + 0.5) AS BIGINT) AS score_ppm
      FROM dw
    )
    SELECT doc_id, n_tokens, score_ppm
    FROM g ORDER BY score_ppm DESC, doc_id LIMIT 100
    """,
    doc="DSIR data selection (Xie et al. 2023, 'Data Selection for "
    "Language Models via Importance Resampling'): score every "
    "document by the log importance weight of a hashed-unigram bag "
    "model — log p_target(f) - log p_source(f) summed over the "
    "doc's features, target = the English slice, source = the whole "
    "corpus, add-one smoothing over 512 hash buckets — then Gumbel "
    "top-k (score + g_i, g_i = -ln(-ln u_i) from the deterministic "
    "Knuth-hash uniform) which IS sampling-without-replacement "
    "proportional to the softmax of the weights. Every arithmetic "
    "step that crosses a summation boundary is ppm-QUANTIZED to "
    "int64 first (per-bucket lw_ppm, per-doc Gumbel), so doc scores "
    "are exact integer sums — identical across engines, partition "
    "counts and fold orders; the only floats live in the 512-row "
    "bucket table and one log per doc. Scale: tokenize exactly "
    "twice (one O(B) bucket rollup carrying both marginals as a "
    "conditional sum, checkpointed at 512 rows; one per-doc weight "
    "pass against the broadcast ratio table — r11 cut the plan from "
    "10 corpus scans to 2), per-doc weight is one shuffle (map-side "
    "combined), top-k is TakeOrderedAndProject — the 100 TB corpus "
    "is never sorted.",
    tags=("llm", "sampling", "bench"),
)
def dsir_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    b = d.select(
        "doc_id",
        "lang",
        F.explode(_token_array("text")).alias("tok"),
    ).select(
        "doc_id",
        "lang",
        F.pmod(hash64(F.col("tok")), F.lit(_DSIR_B)).alias("bkt"),
    )
    # ONE bucket rollup carries both marginals: sc = all tokens,
    # tc = the English slice (conditional sum; a bucket with no en
    # tokens gets NULL tc, exactly the missing-row NULL the old
    # src⟕tgt left join produced). The previous derivation built
    # src and tgt as separate aggregates over `b` and then referenced
    # each twice more (totals + the ratio table) — Catalyst expands
    # every reference, so the tokenize+md5 scan ran ~6× (the plan
    # held 10 parquet scans of documents). The 512-row rollup is
    # localCheckpoint'ed (bounded, metadata-sized at any corpus
    # scale) so totals and ratios derive from it for free, and the
    # corpus is tokenized exactly TWICE: once into this rollup, once
    # in the per-doc weight pass below — the two passes DSIR
    # fundamentally needs.
    sg = (
        b.groupBy("bkt")
        .agg(
            F.count(F.lit(1)).alias("sc"),
            F.sum(
                F.when(F.col("lang") == "en", F.lit(1)).cast("long")
            ).alias("tc"),
        )
        .localCheckpoint(eager=True)
    )
    tot = sg.agg(
        F.sum("sc").cast("double").alias("s_total"),
        F.sum(F.coalesce(F.col("tc"), F.lit(0))).cast("double").alias("t_total"),
    )
    lw = F.log(
        (F.coalesce(F.col("tc"), F.lit(0)) + 1.0)
        / (F.col("t_total") + float(_DSIR_B))
    ) - F.log((F.col("sc") + 1.0) / (F.col("s_total") + float(_DSIR_B)))
    lr = sg.crossJoin(F.broadcast(tot)).select(
        "bkt",
        F.floor(lw * 1000000.0 + 0.5).cast("bigint").alias("lw_ppm"),
    )
    dw = (
        b.join(F.broadcast(lr), "bkt")
        .groupBy("doc_id")
        .agg(
            F.sum("lw_ppm").cast("bigint").alias("logw_ppm"),
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
        )
    )
    u = (_knuth_u32(F.col("doc_id")).cast("double") + 0.5) / 4294967296.0
    gumbel_ppm = F.floor(-F.log(-F.log(u)) * 1000000.0 + 0.5).cast("bigint")
    return (
        dw.select(
            "doc_id",
            "n_tokens",
            (F.col("logw_ppm") + gumbel_ppm).alias("score_ppm"),
        )
        .orderBy(F.col("score_ppm").desc(), "doc_id")
        .limit(100)
    )


@register(
    "ewma_user_value",
    f"""
    WITH p AS (
      SELECT user_id, epoch_us(ts) AS ts_us, event_id,
             {_SQL_CENTS.format(v='value')} AS cents
      FROM events WHERE event_type = 'purchase'
    ),
    s AS (
      SELECT user_id,
             ({' + '.join(f"coalesce(lag(cents, {j}) OVER w, 0) * {1 << (39 - j)}" for j in range(40))})
               AS ewma_scaled,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts_us DESC, event_id DESC) AS rn,
             count(*) OVER (PARTITION BY user_id) AS n_obs
      FROM p
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    )
    SELECT user_id, n_obs::BIGINT AS n_obs,
           ewma_scaled::BIGINT AS ewma_scaled,
           (ewma_scaled // 1099511627776)::BIGINT AS ewma_cents
    FROM s WHERE rn = 1
    """,
    doc="Per-user exponentially-weighted moving average of purchase "
    "value at each user's LAST purchase (operators/windows."
    "ewma_scaled): alpha = 1/2, the anomaly-baseline smoother. The "
    "EWMA recursion is unrolled to its 40-term expansion with "
    "exactly-representable power-of-two weights and computed as a "
    "PURE int64 sum (ewma_scaled = sum x_j * 2^(39-j); divide by "
    "2^40 to read cents) — no floating point, so the fold is "
    "commutative and the result identical on every engine and "
    "partitioning; the truncated tail is < 2^-40 of a cent. Spark "
    "prunes each user to their newest 40 purchases with a "
    "row_number window, pre-weights each row by its rank's power of "
    "two, and SUMs (same partitioning, one shuffle — per-key "
    "aggregation state is one int64 accumulator, never the "
    "history); the oracle spells the same 40 terms as "
    "coalesced lag columns. The div-by-2^40 uses floor semantics on "
    "both engines.",
    tags=("window", "events", "bench"),
)
def ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = (
        _t(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "ts_us",
            "event_id",
            _cents(F.col("value")).alias("cents"),
        )
    )
    e = W.ewma_scaled(p, ["user_id"], ["ts_us", "event_id"], "cents", terms=40)
    return e.select(
        "user_id",
        "n_obs",
        F.col("ewma_scaled").cast("long").alias("ewma_scaled"),
        floor_div_sql("ewma_scaled", str(1 << 40)).cast("long").alias("ewma_cents"),
    )


# Poisson(1) CDF thresholds scaled to 2^32 (exact integer literals on
# both engines; the keep/count decision is u < threshold on the Knuth
# uniform). Multiplicity capped at 7: P(X>7) ~ 8e-5 of 1e-5 tail mass
# beyond the table — the bootstrap is itself an approximation; what
# matters is both engines truncating IDENTICALLY.
_POISSON1_CDF_U32 = (
    1580030168,  # P(X<=0)
    3160060337,
    3950075421,
    4213413783,
    4279248373,
    4292415291,
    4294609777,  # P(X<=6)
)
_BOOT_B = 32


@register(
    "bootstrap_ci_order_value",
    f"""
    WITH o AS (
      SELECT o_orderkey, {_SQL_CENTS.format(v='o_totalprice')} AS cents
      FROM orders
    ),
    u AS (
      SELECT r.b, o.cents,
             (((o.o_orderkey * {_BOOT_B} + r.b)::HUGEINT * 2654435761)
              % 4294967296)::BIGINT AS u
      FROM o CROSS JOIN (SELECT unnest(generate_series(0, {_BOOT_B - 1})) AS b) r
    ),
    m AS (
      SELECT b, cents,
             (CASE {' '.join(f"WHEN u < {c} THEN {k}" for k, c in enumerate(_POISSON1_CDF_U32))} ELSE 7 END) AS m
      FROM u
    ),
    reps AS (
      SELECT b, (sum(m * cents) // sum(m))::BIGINT AS mean_cents
      FROM m GROUP BY b
    ),
    ranked AS (
      SELECT mean_cents,
             row_number() OVER (ORDER BY mean_cents, b) AS rn
      FROM reps
    ),
    ci AS (
      SELECT min(CASE WHEN rn = 2 THEN mean_cents END)::BIGINT AS ci_lo_cents,
             min(CASE WHEN rn = {_BOOT_B - 1} THEN mean_cents END)::BIGINT
               AS ci_hi_cents
      FROM ranked
    )
    SELECT (SELECT count(*) FROM o)::BIGINT AS n_orders,
           (SELECT sum(cents) // count(*) FROM o)::BIGINT AS mean_cents,
           ci_lo_cents, ci_hi_cents
    FROM ci
    """,
    doc="Poisson bootstrap 90% confidence interval for the mean order "
    "value — THE distributed bootstrap (Chamandy et al., Google 2012; "
    "classical resampling needs a global sample-with-replacement pass "
    "per replicate, which cannot shard): each row's multiplicity in "
    "replicate b is an independent-ish Poisson(1) draw computed ROW-"
    "LOCALLY from the Knuth uniform of (orderkey*32+b) against exact "
    "integer CDF thresholds — fully deterministic, no rand(), "
    "identical on every engine/partitioning/rerun. The 32-replicate "
    "explode is map-side; each replicate mean is one map-side-"
    "combined agg to a 32-row table; the CI is nearest-rank (2nd/"
    "31st of 32, ties broken by replicate id) over that 32-row "
    "grid. 100 TB cost: one scan, 32x map amplification of two int "
    "columns, a 32-group shuffle — no global sort, no resample "
    "materialization. Integer bounds: sum(m*cents)*1 stays well "
    "under int64 through ~10^14 total cents; beyond that the gini "
    "hi/lo DECIMAL split is the upgrade path.",
    tags=("stats", "sampling", "bench"),
)
def bootstrap_ci_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", _cents(F.col("o_totalprice")).alias("cents")
    )
    # Two hot-path disciplines, both measured at sf0.1 (4.8M
    # exploded rows):
    # - bind the hash ONCE as its own column: Catalyst does not CSE
    #   a repeated expression across CASE branches, so folding it
    #   into the 8-way multiplicity CASE re-computes it up to 7x per
    #   row (7.0 s with it folded in);
    # - compute (key*2654435761) mod 2^32 in PURE int64 via the
    #   16-bit split identity (C*a) mod 2^32 =
    #   ((C*(a mod 2^16)) + ((C*((a mod 2^32) div 2^16)) mod 2^16)
    #    * 2^16) mod 2^32 — only key mod 2^32 matters, every product
    #   stays under 2^48, so it is overflow-proof for ANY int64 key
    #   and 7.4x faster than the _knuth_u32 DECIMAL(38,0) route
    #   (0.43 s vs 3.2 s) while producing the identical draw. The
    #   decimal form stays right for doc-sized sampler scans; on a
    #   32x-exploded fact scan the decimal ALU cost is the query.
    mult = F.lit(7)
    for k, c in reversed(list(enumerate(_POISSON1_CDF_U32))):
        mult = F.when(F.col("_u") < F.lit(c), F.lit(k)).otherwise(mult)
    key = f"(o_orderkey * {_BOOT_B} + b)"
    u_i64 = (
        f"(( (2654435761 * pmod({key}, 65536))"
        f" + pmod(2654435761 * (pmod({key}, 4294967296) div 65536), 65536)"
        f" * 65536 ) % 4294967296)"
    )
    m = (
        o.withColumn("b", F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))))
        .withColumn("_u", F.expr(u_i64))
        .withColumn("m", mult)
    )
    # Carry the point estimate THROUGH the replicate rollup instead of
    # a second orders scan + broadcast join (r11): within every
    # replicate b, count(*) is exactly n_orders (each order emits one
    # row per b) and sum(cents) is exactly the global cents total, so
    # min() over the 32-row grid recovers both — same values, one
    # scan, one map-side-combined shuffle, no join (guide §2.4).
    reps = (
        m.groupBy("b")
        .agg(
            F.sum(F.col("m") * F.col("cents")).alias("num"),
            F.sum("m").alias("den"),
            F.count(F.lit(1)).alias("cnt"),
            F.sum("cents").alias("tot"),
        )
        .select(
            "b",
            floor_div_sql("num", "den").cast("long").alias("mean_cents"),
            "cnt",
            "tot",
        )
    )
    return reps.agg(
        F.array_sort(
            F.collect_list(F.struct("mean_cents", "b"))
        ).alias("sorted"),
        F.min("cnt").alias("_n"),
        F.min("tot").alias("_tot"),
    ).select(
        F.col("_n").cast("long").alias("n_orders"),
        floor_div_sql("_tot", "_n").cast("long").alias("mean_cents"),
        F.element_at("sorted", 2)["mean_cents"].cast("long").alias("ci_lo_cents"),
        F.element_at("sorted", _BOOT_B - 1)["mean_cents"]
        .cast("long")
        .alias("ci_hi_cents"),
    )


@register(
    "spatial_hotspot_cells",
    f"""
    WITH pts AS (
      SELECT {_SQL_COORD.format(k='c_custkey', s='#x')} AS x,
             {_SQL_COORD.format(k='c_custkey', s='#y')} AS y
      FROM customer
    ),
    cells AS (
      SELECT x // 2000 AS cx, y // 2000 AS cy, count(*) AS n
      FROM pts GROUP BY 1, 2
    ),
    nb AS (
      SELECT a.cx, a.cy, min(a.n)::BIGINT AS n_points,
             sum(b.n)::BIGINT AS nbhd_points
      FROM cells a JOIN cells b
        ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
      GROUP BY a.cx, a.cy
    )
    SELECT cx, cy, n_points, nbhd_points
    FROM nb
    ORDER BY nbhd_points DESC, n_points DESC, cx, cy
    LIMIT 10
    """,
    doc="Spatial hotspot detection (Getis-Ord-style local density): "
    "top-10 occupied 2000-unit grid cells by 3x3-neighbourhood point "
    "count on the customer frame — the raster STENCIL/convolution "
    "pattern done relationally: aggregate points to cells FIRST (one "
    "point-level shuffle with map-side combine), then explode each "
    "occupied CELL's count to its 9 neighbour cells and re-aggregate "
    "— the stencil runs on O(occupied cells) rows, never on points, "
    "so a 100 TB point set costs one rollup plus a cell-count-sized "
    "shuffle. Exact int cell ids (floor div on the non-negative "
    "frame), total-order tiebreak, TakeOrderedAndProject top-k. The "
    "oracle's neighbourhood join (abs<=1 on both axes) replays the "
    "same stencil quadratically over cells.",
    tags=("spatial", "agg", "bench"),
)
def spatial_hotspot_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _t(spark, sf_dir, "customer").select(
        _coord(F.col("c_custkey"), "#x").alias("x"),
        _coord(F.col("c_custkey"), "#y").alias("y"),
    )
    cells = (
        pts.select(
            F.expr("x div 2000").alias("cx"), F.expr("y div 2000").alias("cy")
        )
        .groupBy("cx", "cy")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # stencil: each occupied cell contributes its count to the 9
    # cells of its neighbourhood; is_self tags the home contribution
    # so the re-aggregation recovers both n_points and nbhd_points
    # in ONE pass (and only occupied target cells survive the
    # n_points IS NOT NULL filter, mirroring the oracle's join).
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    sp = cells.select("cx", "cy", "n", F.explode(offsets).alias("o")).select(
        "n",
        (F.col("cx") + F.col("o.dx")).alias("tx"),
        (F.col("cy") + F.col("o.dy")).alias("ty"),
        ((F.col("o.dx") == 0) & (F.col("o.dy") == 0)).alias("is_self"),
    )
    nb = (
        sp.groupBy("tx", "ty")
        .agg(
            F.sum("n").cast("long").alias("nbhd_points"),
            F.max(F.when(F.col("is_self"), F.col("n")))
            .cast("long")
            .alias("n_points"),
        )
        .where(F.col("n_points").isNotNull())
    )
    return (
        nb.select(
            F.col("tx").alias("cx"),
            F.col("ty").alias("cy"),
            "n_points",
            "nbhd_points",
        )
        .orderBy(
            F.col("nbhd_points").desc(), F.col("n_points").desc(), "cx", "cy"
        )
        .limit(10)
    )


@register(
    "nation_monthly_trend",
    f"""
    WITH om AS (
      SELECT c_nationkey AS nk,
             (year(o_orderdate) - 1990) * 12 + month(o_orderdate) - 1 AS mx,
             sum({_SQL_CENTS.format(v='o_totalprice')}) AS y
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1, 2
    ),
    s AS (
      SELECT nk, count(*)::BIGINT AS n, sum(mx)::BIGINT AS sx,
             sum(y)::BIGINT AS sy, sum(mx * y)::BIGINT AS sxy,
             sum(mx * mx)::BIGINT AS sxx
      FROM om GROUP BY nk
    )
    SELECT n_name, n AS n_months, sy AS total_cents,
           (sy // n)::BIGINT AS avg_month_cents,
           (n * sxy - sx * sy)::BIGINT AS slope_num,
           (n * sxx - sx * sx)::BIGINT AS slope_den,
           CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                ELSE (n * sxy - sx * sy) // (n * sxx - sx * sx)
           END::BIGINT AS slope_cents_pm
    FROM s JOIN nation ON nk = n_nationkey
    """,
    doc="Per-nation revenue trend: ordinary-least-squares slope of "
    "monthly revenue over a month index, from EXACT integer "
    "sufficient statistics (n, Sx, Sy, Sxy, Sxx — the "
    "distributed-regression discipline the PCA pass also uses: one "
    "shuffle to nation-month cells with map-side combine, then an "
    "O(nations x months) rollup; no per-row float ever). The slope "
    "is reported as the exact rational (slope_num, slope_den) plus "
    "its truncating quotient in cents/month (Spark div == DuckDB //, "
    "both toward zero — they DIFFER from floor on negative numerators, "
    "which downward trends produce). Month index is anchored at "
    "1990-01 to keep Sxy products small: |slope_num| <= n^2*var(x)*"
    "|slope| ~ 1e13 at sf0.1, int64-safe through ~10^12 total cents "
    "per nation; beyond that the gini hi/lo DECIMAL split is the "
    "upgrade path. Degenerate single-month nations yield NULL slope "
    "on both engines.",
    tags=("relational", "stats", "bench"),
)
def nation_monthly_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        (
            (F.year("o_orderdate") - 1990) * 12 + F.month("o_orderdate") - 1
        ).cast("bigint").alias("mx"),
        _cents(F.col("o_totalprice")).alias("cents"),
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    om = (
        o.join(cust, o.o_custkey == cust.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nk"), "mx")
        .agg(F.sum("cents").alias("y"))
    )
    s = om.groupBy("nk").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("mx").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("mx") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("mx") * F.col("mx")).cast("long").alias("sxx"),
    )
    nation = F.broadcast(
        _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    )
    return (
        s.join(nation, s.nk == F.col("n_nationkey"))
        .select(
            "n_name",
            F.col("n").alias("n_months"),
            F.col("sy").alias("total_cents"),
            floor_div_sql("sy", "n").cast("long").alias("avg_month_cents"),
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            .cast("long")
            .alias("slope_num"),
            (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
            .cast("long")
            .alias("slope_den"),
            # truncating div on BOTH engines (Spark `div` == DuckDB
            # `//`, both toward zero): the numerator goes negative on
            # downward trends, where floor and truncation differ by
            # one — floor_div_sql would floor only the Spark side
            F.when(
                F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx") == 0,
                F.lit(None),
            )
            .otherwise(
                F.expr("(n * sxy - sx * sy) div (n * sxx - sx * sx)")
            )
            .cast("long")
            .alias("slope_cents_pm"),
        )
    )
