"""Query inventory — the engine's declared capability surface.

One entry per operator class from SURVEY.md §2 (the reference's SELECT
surface: scan/project/filter/aggregate/distinct/having/sort/limit/
scalar-functions) plus the Spark-first extensions the reference lacks
(joins, windows, set ops, grouping sets, subqueries — reference
explicitly unsupported per ``/root/reference/vinum/api/table.py:213-218``)
plus the LLM-data-pipeline operators (dedup, similarity, text analysis,
event-stream analytics).

Each entry carries:
- ``fn(spark, sf_dir) -> DataFrame`` — idiomatic DataFrame-API
  implementation (Catalyst plans it; no hand-scheduling);
- ``oracle`` — equivalent DuckDB SQL over the same parquet (None for
  ops whose hash functions aren't portable across engines — those get
  the driver's rows-only check).

Parity conventions (see BASELINE.md): float aggregates rounded in BOTH
engines; no raw timestamp outputs (strings/dates/ints instead); every
LIMIT paired with a unique-key ORDER BY; session timezone forced to UTC.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Dict, List, Optional

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from vinum_spark.operators import dedup as D
from vinum_spark.operators import similarity as S
from vinum_spark.operators import text as X

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


@dataclass
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]
    desc: str


QUERIES: Dict[str, QuerySpec] = {}


def _q(name: str, oracle: Optional[str], desc: str):
    def deco(fn):
        QUERIES[name] = QuerySpec(fn, oracle, desc)
        return fn

    return deco


# Per-session table-plan memo, stored AS AN ATTRIBUTE ON the session
# object so it dies with the session (round-19 ADVICE fix: the previous
# module-level dict keyed on id(session) with a weakref guard was inert
# — a DataFrame strongly references its SparkSession, so the weakref
# could never die while the entry existed, pinning stopped sessions and
# their JVM-side plans until the wholesale clear). Plan/metadata
# memoization ONLY: a DataFrame is a lazy plan — every action still
# scans the parquet files; no rows are ever cached here. Rationale:
# ``spark.read.parquet`` costs ~87 ms of driver work per call
# (DataSource resolution + footer schema read), and the bench/driver
# call each query's builder fresh per timed run — for a 5-table query
# that is ~440 ms of pure per-run driver overhead re-deriving metadata
# that cannot change within a session (guide §5: the driver should do
# almost no data work; §6: file listing is cached per session for the
# same reason).
_TABLE_CACHE_ATTR = "_vinum_table_plan_cache"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Pin the semantics these queries were validated under, whatever the
    # caller's session defaults are (driver sessions may differ). These
    # are deliberately NOT restored: the returned DataFrame is lazy, so
    # the confs must still hold when the caller executes it — a
    # save/restore here would silently flip semantics at collect time.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    cache = getattr(spark, _TABLE_CACHE_ATTR, None)
    if cache is None:
        cache = {}
        setattr(spark, _TABLE_CACHE_ATTR, cache)
    key = (sf_dir, name)
    hit = cache.get(key)
    if hit is not None:
        return hit
    if name == "events":
        # nanosAsLong is a no-op for non-nanos files but lets us read
        # either generation of the events table (see _normalize_events_ts).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _normalize_events_ts(spark.read.parquet(f"{sf_dir}/{name}.parquet"))
    else:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if len(cache) >= 256:  # bound driver memory across many sf_dirs
        cache.clear()
    cache[key] = df
    return df


def _normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to a microsecond TimestampType column.

    The driver-generated events table has shipped with two physical
    layouts for ``ts``: parquet TIMESTAMP(NANOS) (which Spark reads as a
    long under ``nanosAsLong`` — convert ns→us) and plain
    ``timestamp[us]`` (reads as TIMESTAMP_NTZ — cast to session-local
    TIMESTAMP, an identity under the pinned UTC zone). Dispatching on the
    observed type instead of assuming one layout keeps every events
    query working across data regenerations.
    """
    t = df.schema["ts"].dataType
    if isinstance(t, LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


# ===========================================================================
# Reference surface (vinum parity): scan/filter/project/agg/sort/limit
# ===========================================================================


@_q(
    "q01_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                   AS sum_qty,
           round(sum(l_extendedprice), 2)                              AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)           AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 4)                                   AS avg_qty,
           round(avg(l_extendedprice), 4)                              AS avg_price,
           round(avg(l_discount), 4)                                   AS avg_disc,
           count(*)                                                    AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    "Flagship TPC-H Q1-style pricing summary: multi-key hash aggregate "
    "with partial (map-side) aggregation; AQE coalesces the tiny shuffle.",
)
def q01(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@_q(
    "q02_filter_project",
    """
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice * (1 - l_discount), 4) AS revenue,
           round(l_quantity * l_tax, 4)                 AS qty_tax
    FROM lineitem
    WHERE l_returnflag = 'A'
      AND l_quantity BETWEEN 10 AND 40
      AND l_linestatus IN ('F', 'O')
      AND l_discount > 0.02
    ORDER BY revenue DESC, l_orderkey, l_linenumber
    LIMIT 100
    """,
    "Filter + projection with arithmetic: predicates push into the "
    "parquet scan (PushedFilters); top-k fuses to TakeOrderedAndProject.",
)
def q02(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_returnflag") == "A")
            & F.col("l_quantity").between(10, 40)
            & F.col("l_linestatus").isin("F", "O")
            & (F.col("l_discount") > 0.02)
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
                "revenue"
            ),
            F.round(F.col("l_quantity") * F.col("l_tax"), 4).alias("qty_tax"),
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey", "l_linenumber")
        .limit(100)
    )


@_q(
    "q03_global_agg",
    """
    SELECT count(*)                        AS count_star,
           count(l_quantity)               AS count_qty,
           round(min(l_extendedprice), 2)  AS min_price,
           round(max(l_extendedprice), 2)  AS max_price,
           round(sum(l_quantity), 2)       AS sum_qty,
           round(avg(l_discount), 6)       AS avg_disc,
           min(l_returnflag)               AS min_flag,
           max(l_linestatus)               AS max_status
    FROM lineitem
    """,
    "Global (no GROUP BY) aggregate — the reference's OneGroupAggregate; "
    "Spark computes it as partial+final agg with no wide shuffle.",
)
def q03(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("count_star"),
        F.count("l_quantity").alias("count_qty"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        F.min("l_returnflag").alias("min_flag"),
        F.max("l_linestatus").alias("max_status"),
    )


@_q(
    "q04_group_single_key",
    """
    SELECT l_suppkey,
           count(*)                  AS n,
           round(sum(l_quantity), 2) AS sum_qty,
           round(avg(l_extendedprice), 4) AS avg_price
    FROM lineitem
    GROUP BY l_suppkey
    """,
    "Single numeric group key — the reference's "
    "SingleNumericalHashAggregate; hash partial agg in Spark.",
)
def q04(spark, sf_dir):
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        )
    )


@_q(
    "q05_distinct",
    """
    SELECT DISTINCT l_returnflag, l_linestatus, l_linenumber
    FROM lineitem
    """,
    "SELECT DISTINCT — reference rewrites to GROUP BY "
    "(vinum/parser/parser.py:228-231); Catalyst does the same rewrite.",
)
def q05(spark, sf_dir):
    return _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_linenumber"
    ).distinct()


@_q(
    "q06_having",
    """
    SELECT o_custkey, count(*) AS n_orders, round(sum(o_totalprice), 2) AS spend
    FROM orders
    GROUP BY o_custkey
    HAVING count(*) >= 8 AND sum(o_totalprice) > 100000
    """,
    "GROUP BY + HAVING (post-aggregation filter).",
)
def q06(spark, sf_dir):
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("spend"),
            F.sum("o_totalprice").alias("__raw"),
        )
        .filter((F.col("n_orders") >= 8) & (F.col("__raw") > 100000))
        .drop("__raw")
    )


@_q(
    "q07_orderby_limit_offset",
    """
    SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20 OFFSET 10
    """,
    "Multi-key sort + LIMIT/OFFSET — reference SortOperator+SliceOperator; "
    "Spark fuses to a global TakeOrdered of offset+limit rows.",
)
def q07(spark, sf_dir):
    return (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("total"))
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .offset(10)
        .limit(20)
    )


@_q(
    "q08_math_functions",
    """
    SELECT o_orderkey,
           round(abs(-o_totalprice), 2)      AS abs_total,
           round(sqrt(o_totalprice), 6)      AS sqrt_total,
           round(ln(o_totalprice), 6)        AS ln_total,
           round(log10(o_totalprice), 6)     AS log10_total,
           round(power(o_totalprice, 0.25), 6) AS pow_total,
           CAST(o_orderkey % 7 AS BIGINT)    AS mod7
    FROM orders
    ORDER BY o_orderkey
    LIMIT 500
    """,
    "Scalar math functions (reference registry "
    "vinum/core/functions.py:361-369) — all JVM built-ins.",
)
def q08(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.select(
            "o_orderkey",
            F.round(F.abs(-F.col("o_totalprice")), 2).alias("abs_total"),
            F.round(F.sqrt("o_totalprice"), 6).alias("sqrt_total"),
            F.round(F.log("o_totalprice"), 6).alias("ln_total"),
            F.round(F.log10("o_totalprice"), 6).alias("log10_total"),
            F.round(F.pow("o_totalprice", F.lit(0.25)), 6).alias("pow_total"),
            (F.col("o_orderkey") % 7).cast("bigint").alias("mod7"),
        )
        .orderBy("o_orderkey")
        .limit(500)
    )


@_q(
    "q09_string_functions",
    """
    SELECT c_custkey,
           upper(c_mktsegment)                    AS seg_upper,
           lower(c_name)                          AS name_lower,
           substring(c_name, 1, 8)                AS name_prefix,
           length(c_name)                         AS name_len,
           concat(c_mktsegment, '-', CAST(c_nationkey AS VARCHAR)) AS seg_nation
    FROM customer
    WHERE c_name LIKE 'Customer%1%'
    ORDER BY c_custkey
    LIMIT 200
    """,
    "String functions + LIKE (reference: upper/lower/concat "
    "vinum/core/functions.py:250-298; LIKE :301-344).",
)
def q09(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    return (
        c.filter(F.col("c_name").like("Customer%1%"))
        .select(
            "c_custkey",
            F.upper("c_mktsegment").alias("seg_upper"),
            F.lower("c_name").alias("name_lower"),
            F.substring("c_name", 1, 8).alias("name_prefix"),
            F.length("c_name").cast("bigint").alias("name_len"),
            F.concat(
                F.col("c_mktsegment"), F.lit("-"), F.col("c_nationkey").cast("string")
            ).alias("seg_nation"),
        )
        .orderBy("c_custkey")
        .limit(200)
    )


@_q(
    "q10_datetime",
    """
    SELECT CAST(year(o_orderdate) AS INTEGER)  AS yr,
           CAST(month(o_orderdate) AS INTEGER) AS mo,
           count(*)                            AS n,
           round(sum(o_totalprice), 2)         AS total
    FROM orders
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    "Datetime extraction + group (reference datetime surface "
    "vinum/core/functions.py:25-145).",
)
def q10(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").cast("int").alias("yr"),
            F.month("o_orderdate").cast("int").alias("mo"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .orderBy("yr", "mo")
    )


@_q(
    "q11_case_when",
    """
    SELECT CASE WHEN value < 5 THEN 'low' WHEN value < 20 THEN 'mid'
                ELSE 'high' END         AS bucket,
           event_type,
           count(*)                     AS n,
           round(avg(value), 4)         AS avg_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    "CASE WHEN bucketing + group-by over the events table.",
)
def q11(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    bucket = (
        F.when(F.col("value") < 5, "low")
        .when(F.col("value") < 20, "mid")
        .otherwise("high")
        .alias("bucket")
    )
    return (
        e.groupBy(bucket, F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg("value"), 4).alias("avg_value"))
        .orderBy("bucket", "event_type")
    )


@_q(
    "q12_conditional_agg",
    """
    SELECT l_returnflag,
           round(sum(CASE WHEN l_discount > 0.05 THEN l_extendedprice ELSE 0 END), 2)
               AS discounted_revenue,
           count(CASE WHEN l_quantity >= 25 THEN 1 END) AS n_bulk,
           round(sum(l_extendedprice) FILTER (WHERE l_tax > 0.04), 2) AS taxed_revenue
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    "Conditional aggregation (CASE inside agg + FILTER clause).",
)
def q12(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("l_discount") > 0.05, F.col("l_extendedprice")).otherwise(
                        0.0
                    )
                ),
                2,
            ).alias("discounted_revenue"),
            F.count(F.when(F.col("l_quantity") >= 25, F.lit(1))).alias("n_bulk"),
            F.round(
                F.sum(F.when(F.col("l_tax") > 0.04, F.col("l_extendedprice"))), 2
            ).alias("taxed_revenue"),
        )
        .orderBy("l_returnflag")
    )


# ===========================================================================
# Extensions the reference lacks: joins, subqueries, windows, set ops
# ===========================================================================


@_q(
    "q13_join_broadcast",
    """
    SELECT p.p_brand, count(*) AS n, round(sum(l.l_quantity), 2) AS sum_qty
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_size <= 20
    GROUP BY p.p_brand
    ORDER BY p.p_brand
    """,
    "Fact-to-dim join: NO broadcast hint — Catalyst/AQE broadcasts the "
    "filtered dim while it fits autoBroadcastJoinThreshold (no lineitem "
    "shuffle), and falls back to shuffled join at a scale where a forced "
    "broadcast would OOM the executors. Plan-pinned at sf0.1.",
)
def q13(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_size") <= 20)
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .orderBy("p_brand")
    )


@_q(
    "q14_join_multiway",
    """
    SELECT n.n_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o    ON c.c_custkey = o.o_custkey
    JOIN lineitem l  ON o.o_orderkey = l.l_orderkey
    JOIN nation n    ON c.c_nationkey = n.n_nationkey
    JOIN region r    ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name IN ('ASIA', 'EUROPE')
    GROUP BY n.n_name
    ORDER BY revenue DESC, n.n_name
    """,
    "TPC-H Q5-style multiway join: NO broadcast hints — customer is "
    "row-count-proportional, so a forced broadcast OOMs at 100×; AQE "
    "broadcasts each side only while it fits the threshold and otherwise "
    "shuffle-joins on the key. Only orders↔lineitem must shuffle "
    "(co-partitioned on orderkey).",
)
def q14(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name").isin("ASIA", "EUROPE"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "n_name")
    )


@_q(
    "q15_anti_join",
    """
    SELECT c.c_mktsegment, count(*) AS n_inactive
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
    "Anti join (customers with no orders) — NOT EXISTS lowers to "
    "left_anti; broadcast when the build side is small.",
)
def q15(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select("o_custkey").distinct()
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_inactive"))
        .orderBy("c_mktsegment")
    )


@_q(
    "q16_semi_join",
    """
    SELECT o.o_orderpriority, count(*) AS n
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_discount > 0.08)
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
    "Semi join (EXISTS) — left_semi, no duplication of the probe side.",
)
def q16(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_discount") > 0.08)
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("o_orderpriority")
    )


@_q(
    "q17_scalar_subquery",
    """
    SELECT o_orderpriority, count(*) AS n_big
    FROM orders
    WHERE o_totalprice > (SELECT 1.5 * avg(o_totalprice) FROM orders)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    "Scalar subquery in WHERE — one extra global agg, broadcast as a "
    "literal into the scan filter.",
)
def q17(spark, sf_dir):
    # a REAL scalar subquery: one plan, Catalyst evaluates the subquery
    # once and broadcasts the scalar into the filter — no driver collect
    _t(spark, sf_dir, "orders").createOrReplaceTempView("__orders_q17")
    return spark.sql(
        """
        SELECT o_orderpriority, count(*) AS n_big
        FROM __orders_q17
        WHERE o_totalprice > (SELECT 1.5 * avg(o_totalprice) FROM __orders_q17)
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """
    )


@_q(
    "q18_window_topk_per_group",
    """
    SELECT o_custkey, o_orderkey, rnk, round(o_totalprice, 2) AS total
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             CAST(row_number() OVER (PARTITION BY o_custkey
                  ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rnk
      FROM orders
    )
    WHERE rnk <= 3
    """,
    "Top-k per group via window row_number — one shuffle on the "
    "partition key; deterministic tiebreak.",
)
def q18(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "rnk", F.round("o_totalprice", 2).alias("total"))
    )


@_q(
    "q19_window_running",
    """
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend,
           round(o_totalprice - lag(o_totalprice, 1, 0.0) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), 2) AS delta_prev
    FROM orders
    """,
    "Running aggregate + lag over event-ordered per-customer history.",
)
def q19(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(
            F.sum("o_totalprice").over(w.rowsBetween(Window.unboundedPreceding, 0)), 2
        ).alias("running_spend"),
        F.round(
            F.col("o_totalprice") - F.lag("o_totalprice", 1, 0.0).over(w), 2
        ).alias("delta_prev"),
    )


@_q(
    "q20_set_ops",
    """
    SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'A' AND l_quantity > 45
    UNION
    SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R' AND l_quantity > 45
    EXCEPT
    SELECT l_orderkey FROM lineitem WHERE l_linestatus = 'O' AND l_quantity > 48
    """,
    "Set operations (UNION/EXCEPT with distinct semantics) — reference "
    "has none (vinum/parser/parser.py:94-102).",
)
def q20(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    a = li.filter((F.col("l_returnflag") == "A") & (F.col("l_quantity") > 45)).select(
        "l_orderkey"
    )
    r = li.filter((F.col("l_returnflag") == "R") & (F.col("l_quantity") > 45)).select(
        "l_orderkey"
    )
    o = li.filter((F.col("l_linestatus") == "O") & (F.col("l_quantity") > 48)).select(
        "l_orderkey"
    )
    return a.union(r).distinct().exceptAll(o.distinct()).distinct()


@_q(
    "q21_rollup",
    """
    SELECT coalesce(l_returnflag, 'ALL') AS flag,
           coalesce(l_linestatus, 'ALL') AS status,
           count(*)                      AS n,
           round(sum(l_quantity), 2)     AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP(l_returnflag, l_linestatus)
    ORDER BY flag, status
    """,
    "ROLLUP grouping sets (reference has none; Spark expands to a "
    "single-pass Expand + hash aggregate).",
)
def q21(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("flag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("status"),
            "n",
            "sum_qty",
        )
        .orderBy("flag", "status")
    )


@_q(
    "q22_count_distinct",
    """
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS n_parts,
           count(DISTINCT l_suppkey) AS n_supps,
           count(*)                  AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    "Multiple exact COUNT(DISTINCT) — Spark plans Expand + two-phase "
    "aggregation (approx_count_distinct is the 100 TB alternative).",
)
def q22(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_supps"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


# ===========================================================================
# Event-stream analytics (batch semantics; streaming variants in
# vinum_spark.streaming run the same logic over readStream)
# ===========================================================================


@_q(
    "q23_events_tumbling_window",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
           event_type,
           count(*)              AS n,
           round(sum(value), 2)  AS sum_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    "Tumbling 1-hour event-time window aggregation (batch form of the "
    "Structured Streaming window — see vinum_spark.streaming).",
)
def q23(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00").alias("hour"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .orderBy("hour", "event_type")
    )


@_q(
    "q24_events_sessionize",
    """
    WITH gaps AS (
      SELECT user_id, ts,
             CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
      SELECT user_id,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM gaps
    )
    SELECT user_id,
           CAST(count(DISTINCT session_id) AS BIGINT) AS n_sessions,
           CAST(count(*) AS BIGINT)                   AS n_events
    FROM sessions
    GROUP BY user_id
    ORDER BY user_id
    """,
    "Sessionization (30-min inactivity gap) via window lag + running sum "
    "— the batch analogue of a session window with state.",
)
def q24(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = Window.partitionBy("user_id").orderBy("ts").rowsBetween(
        Window.unboundedPreceding, 0
    )
    ms = F.unix_millis("ts")
    gaps = e.withColumn(
        "new_session",
        F.when(ms - F.lag(ms).over(w) > 1800000, 1).otherwise(0),
    )
    sessions = gaps.withColumn("session_id", F.sum("new_session").over(wrun))
    return (
        sessions.groupBy("user_id")
        .agg(
            F.countDistinct("session_id").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id")
    )


# ===========================================================================
# LLM-data-pipeline operators: text analysis, dedup, similarity
# ===========================================================================


@_q(
    "q25_text_stats",
    r"""
    WITH s AS (
      SELECT lang,
             length(text) AS len,
             len(string_split_regex(trim(text), '\s+')) AS n_tokens,
             len(regexp_extract_all(text, '[A-Za-z]+(?:''[A-Za-z]+)?')) AS n_words,
             (length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')))
                 / greatest(length(text), 1) AS punct_ratio
      FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT)        AS n_docs,
           CAST(sum(n_tokens) AS BIGINT)   AS total_tokens,
           CAST(sum(n_words) AS BIGINT)    AS total_words,
           round(avg(len), 4)              AS avg_len,
           round(avg(punct_ratio), 6)      AS avg_punct_ratio
    FROM s
    GROUP BY lang
    ORDER BY lang
    """,
    "Text quality stats per language: token/word counts + punctuation "
    "ratio, all codegen'd expressions (operators/text.py).",
)
def q25(spark, sf_dir):
    d = X.with_text_stats(_t(spark, sf_dir, "documents"))
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("n_words").alias("total_words"),
            F.round(F.avg(F.length("text")), 4).alias("avg_len"),
            F.round(F.avg("punct_ratio"), 6).alias("avg_punct_ratio"),
        )
        .orderBy("lang")
    )


@_q(
    "q26_lang_id",
    r"""
    WITH scored AS (
      SELECT doc_id, lang,
             len(regexp_extract_all(text, '(?i)\b(the|and|of|to|is)\b'))    AS s_en,
             len(regexp_extract_all(text, '(?i)\b(el|la|los|que|de)\b'))    AS s_es,
             len(regexp_extract_all(text, '(?i)\b(der|die|und|das|nicht)\b')) AS s_de,
             len(regexp_extract_all(text, '(?i)\b(le|les|des|et|est)\b'))   AS s_fr,
             length(regexp_replace(text, '[^一-鿿]', '', 'g'))               AS cjk,
             length(text)                                                    AS len
      FROM documents
    ),
    pred AS (
      SELECT lang,
             CASE
               WHEN cjk * 2 >= greatest(len, 1) THEN 'zh'
               WHEN greatest(s_en, s_es, s_de, s_fr) = 0 THEN 'und'
               WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
               WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
               WHEN s_de >= s_fr THEN 'de'
               ELSE 'fr'
             END AS lang_pred
      FROM scored
    )
    SELECT lang, lang_pred, count(*) AS n
    FROM pred
    GROUP BY lang, lang_pred
    ORDER BY lang, lang_pred
    """,
    "Language-ID heuristic (stopword n-gram scores + CJK share) — "
    "confusion counts vs the labeled lang column.",
)
def q26(spark, sf_dir):
    d = X.with_lang_id(_t(spark, sf_dir, "documents"))
    return (
        d.groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "lang_pred")
    )


@_q(
    "q27_dedup_exact",
    r"""
    WITH fp AS (
      SELECT source,
             md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fingerprint,
             doc_id
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT)                   AS n_docs,
           CAST(count(DISTINCT fingerprint) AS BIGINT) AS n_unique
    FROM fp
    GROUP BY source
    ORDER BY source
    """,
    "Exact dedup accounting: normalized-text md5 fingerprints per source "
    "(operators/text.py with_fingerprint + dedup_exact).",
)
def q27(spark, sf_dir):
    d = X.with_fingerprint(_t(spark, sf_dir, "documents"))
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("fingerprint").alias("n_unique"),
        )
        .orderBy("source")
    )


@_q(
    "q28_ngram_jaccard",
    r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(len(t) - 2, 1)),
               i -> array_to_string(t[i:i+2], ' '))) AS s
      FROM toks
    ),
    ex AS (SELECT doc_id, len(s) AS sz, unnest(s) AS g FROM sh),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sz AS sz_a, b.sz AS sz_b,
             count(*) AS inter
      FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
    )
    SELECT id_a, id_b,
           round(inter / (sz_a + sz_b - inter), 6) AS jaccard
    FROM pairs
    WHERE inter / (sz_a + sz_b - inter) >= 0.8
    ORDER BY id_a, id_b
    """,
    "Exact 3-gram Jaccard near-dup pairs (threshold 0.8) via the "
    "scale-safe composition: LSH candidates (minhash_candidate_pairs, "
    "bands=32 so a boundary pair at jaccard 0.8 is missed with "
    "probability (1-0.8^2)^32 ~ 6e-15) + exact verify on candidates only "
    "(ngram_jaccard_verify) — never a corpus-wide shingle self-join. The "
    "oracle is the full exact computation, so a hash match proves the "
    "candidate set covered every qualifying pair.",
)
def q28(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    # one shingle pass feeds both candidate generation and exact verify
    # (round-18: previously the verify stage re-shingled candidate docs;
    # the lazy checkpoint shares one persisted computation with no extra
    # job barrier — same composition as minhash_verified_dedup)
    sh = D._shingle_frame(docs, "text", "doc_id", 3).localCheckpoint(eager=False)
    cands = D.minhash_candidate_pairs(docs, n_hashes=64, bands=32, shingles=sh)
    return D.ngram_jaccard_verify(
        docs, cands, n=3, threshold=0.8, shingles=sh
    ).orderBy("id_a", "id_b")


_JACCARD_PAIRS_CTE = r"""
    toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(len(t) - 2, 1)),
               i -> array_to_string(t[i:i+2], ' '))) AS s
      FROM toks
    ),
    ex AS (SELECT doc_id, len(s) AS sz, unnest(s) AS g FROM sh),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sz AS sz_a, b.sz AS sz_b,
             count(*) AS inter
      FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
    ),
    dups AS (
      SELECT DISTINCT id_b FROM pairs
      WHERE inter / (sz_a + sz_b - inter) >= 0.8
    )
"""


@_q(
    "q29_minhash_lsh_dedup",
    f"""
    WITH {_JACCARD_PAIRS_CTE}
    SELECT d.doc_id, d.source
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT id_b FROM dups)
    ORDER BY d.doc_id
    """,
    "Verified MinHash-LSH near-dup removal (minhash_verified_dedup): "
    "LSH band candidates + exact 3-gram Jaccard verify on candidates + "
    "lower-id domination drop. Survivors equal the exact domination "
    "rule, so the DuckDB oracle computes the same set exactly — the "
    "survivor-set hash match proves candidate coverage AND verify "
    "correctness. The unverified bucket-greedy variant "
    "(minhash_lsh_dedup) remains the cheaper probabilistic path, unit-"
    "tested in tests/test_operators.py.",
)
def q29(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    kept = D.minhash_verified_dedup(d, n=3, threshold=0.8, n_hashes=64, bands=16)
    return kept.select("doc_id", "source").orderBy("doc_id")


@_q(
    "q30_simhash",
    f"""
    WITH {_JACCARD_PAIRS_CTE}
    SELECT d.source,
           count(*) AS n_docs,
           count(dp.id_b) AS n_exact_dups,
           count(dp.id_b) AS n_caught
    FROM documents d LEFT JOIN dups dp ON d.doc_id = dp.id_b
    GROUP BY d.source
    ORDER BY d.source
    """,
    "SimHash dedup recall gate: per source, every document with an exact "
    "lower-id Jaccard>=0.8 duplicate must be dropped by "
    "simhash_candidate_pairs(hamming<=12, 4-bit bands — pigeonhole-"
    "complete for the threshold). Spark computes n_caught = |exact dups "
    "caught by simhash|; the oracle asserts n_caught = n_exact_dups "
    "(computed exactly in SQL), so any missed duplicate hash-mismatches. "
    "Hamming 12 is the measured max signature distance of true dups on "
    "this corpus (word-3-gram features); false-drop volume stays near "
    "zero (0 at sf0.01, 3/5000 at sf0.1).",
)
def q30(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    # ONE shingle pass (lazy-checkpointed, so it runs inside the final
    # action) now feeds all three consumers — MinHash candidates, exact
    # Jaccard verify, and the SimHash signatures — where each previously
    # re-shingled the corpus from scratch (round-18; the word-3-gram
    # features are identical across all three by construction)
    sh = D._shingle_frame(d, "text", "doc_id", 3).localCheckpoint(eager=False)
    cands = D.minhash_candidate_pairs(d, n_hashes=64, bands=32, shingles=sh)
    exact_dups = (
        D.ngram_jaccard_verify(d, cands, n=3, threshold=0.8, shingles=sh)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
        .withColumn("__exact", F.lit(1))
    )
    sim_drops = (
        D.simhash_candidate_pairs(
            d, hamming_threshold=12, band_bits=4, shingles=sh
        )
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
        .withColumn("__sim", F.lit(1))
    )
    j = d.join(exact_dups, "doc_id", "left").join(sim_drops, "doc_id", "left")
    return (
        j.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("__exact").alias("n_exact_dups"),
            F.count(F.when(F.col("__exact").isNotNull() & F.col("__sim").isNotNull(), 1)).alias("n_caught"),
        )
        .orderBy("source")
    )


@_q(
    "q31_cosine_topk",
    """
    SELECT a.vec_id,
           round(list_cosine_similarity(a.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4) AS cosine
    FROM embeddings a, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
    ORDER BY list_cosine_similarity(a.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC, a.vec_id
    LIMIT 20
    """,
    "Brute-force cosine top-20 to a query vector — codegen'd "
    "zip_with/aggregate dot product, TakeOrderedAndProject "
    "(operators/similarity.py cosine_topk).",
)
def q31(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    out = S.cosine_topk(emb, q, k=20)
    return out.select("vec_id", F.round("cosine", 4).alias("cosine"))


_ANN_TOP1_SUBQ = """
    (SELECT a.vec_id
     FROM embeddings a, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
     WHERE a.vec_id <> 0
     ORDER BY list_cosine_similarity(a.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC,
              a.vec_id
     LIMIT 1)
"""


def _ann_recall_gate(ann, exact, min_overlap: int, query_id: int = 0):
    """One-row (k, ann_top1_id, recall_ok) gate frame: recall of an ANN
    top-k against the exact top-k, computed fully in-query as two
    aggregation levels over a union — joinless (a 1-row join on a
    literal key constant-folds into a nested-loop join).

    ``ann_top1_id`` EXCLUDES the query vector itself (which both sides
    always rank first at cosine 1.0 — a vacuous check): the reported id
    is the best real neighbor the ANN found, which the oracle recomputes
    exactly from the data, so a wrong nearest-neighbor hash-mismatches."""
    tagged = ann.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("cosine").cast("double").alias("cosine"),
        F.lit(1).alias("__is_ann"),
    ).unionByName(
        exact.select(
            F.col("vec_id").cast("long").alias("vec_id"),
            F.col("cosine").cast("double").alias("cosine"),
            F.lit(0).alias("__is_ann"),
        )
    )
    per_id = tagged.groupBy("vec_id").agg(
        F.count(F.lit(1)).alias("__cnt"),
        F.max(F.when(F.col("__is_ann") == 1, F.col("cosine"))).alias("__ann_cos"),
    )
    # lexicographic struct max = (cosine desc, vec_id asc) ANN top-1,
    # excluding the query vector itself
    top_struct = F.max(
        F.when(
            F.col("__ann_cos").isNotNull() & (F.col("vec_id") != query_id),
            F.struct(
                F.col("__ann_cos").alias("c"), (-F.col("vec_id")).alias("n")
            ),
        )
    )
    return per_id.agg(
        F.count(F.when(F.col("__cnt") == 2, 1)).alias("__overlap"),
        top_struct.alias("__top"),
    ).select(
        F.lit(10).cast("long").alias("k"),
        (-F.col("__top.n")).cast("long").alias("ann_top1_id"),
        (F.col("__overlap") >= min_overlap).alias("recall_ok"),
    )


@_q(
    "q32_ann_lsh",
    f"""
    SELECT CAST(10 AS BIGINT) AS k,
           {_ANN_TOP1_SUBQ} AS ann_top1_id,
           TRUE AS recall_ok
    """,
    "Approximate NN via random-hyperplane LSH bucket filter + exact "
    "re-rank (lsh_bucket_topk), gated on in-query recall vs the exact "
    "top-10 (cosine_topk): the ANN top-1 must equal the exact top-1 "
    "(oracle computes it in SQL) and recall@10 must be >= 0.8 (measured "
    "1.0 at radius 10 on all SFs; the corpus is random vectors, so "
    "near-orthogonal neighbors force a wide Hamming radius — at 100 TB "
    "the signature prefilter still prunes via bucketed storage).",
)
def q32(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    ann = S.lsh_bucket_topk(emb, q, k=10, n_planes=16, hamming_radius=10)
    exact = S.cosine_topk(emb, q, k=10)
    return _ann_recall_gate(ann, exact, min_overlap=8)


@_q(
    "q33_asof_join",
    """
    SELECT a.event_id, b.event_id AS err_event_id,
           round(a.value - b.value, 4) AS value_delta
    FROM (SELECT * FROM events WHERE event_type = 'click') a
    ASOF JOIN (SELECT * FROM events WHERE event_type = 'error') b
      ON a.user_id = b.user_id AND b.ts <= a.ts
    ORDER BY a.event_id
    """,
    "As-of join: each click matched to the user's most recent preceding "
    "error — union+window-carry operator (operators/asof.py), one shuffle, "
    "no range explosion.",
)
def q33(spark, sf_dir):
    from vinum_spark.operators.asof import asof_join

    e = _t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click")
    errors = e.filter(F.col("event_type") == "error").select(
        "user_id", "ts", "event_id", "value"
    )
    joined = asof_join(clicks, errors, on="ts", by="user_id", how="inner")
    return joined.select(
        "event_id",
        F.col("event_id_right").alias("err_event_id"),
        F.round(F.col("value") - F.col("value_right"), 4).alias("value_delta"),
    ).orderBy("event_id")


@_q(
    "q34_json_extract",
    """
    SELECT event_type,
           round(avg(CAST(props->>'k' AS INTEGER)), 4) AS avg_k,
           CAST(max(CAST(props->>'k' AS INTEGER)) AS INTEGER) AS max_k
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    "JSON field extraction from the props column (get_json_object — "
    "reference has no JSON functions).",
)
def q34(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        e.groupBy("event_type")
        .agg(
            F.round(F.avg(k), 4).alias("avg_k"),
            F.max(k).cast("int").alias("max_k"),
        )
        .orderBy("event_type")
    )


@_q(
    "q35_percentiles",
    """
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
           round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
           round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    "Exact percentiles (linear interpolation; approx_percentile is the "
    "100 TB substitute — single-pass sketch). All three quantiles come "
    "from ONE percentile(col, array(...)) aggregate: one value buffer "
    "per group instead of three (measured 2.8x at sf0.1).",
)
def q35(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_extendedprice, array(0.5, 0.9, 0.99))").alias(
                "__ps"
            )
        )
        .select(
            "l_returnflag",
            F.round(F.col("__ps")[0], 4).alias("p50"),
            F.round(F.col("__ps")[1], 4).alias("p90"),
            F.round(F.col("__ps")[2], 4).alias("p99"),
        )
        .orderBy("l_returnflag")
    )


@_q(
    "q36_cube",
    """
    SELECT coalesce(l_returnflag, 'ALL') AS flag,
           coalesce(l_linestatus, 'ALL') AS status,
           count(*) AS n
    FROM lineitem
    GROUP BY CUBE(l_returnflag, l_linestatus)
    ORDER BY flag, status
    """,
    "CUBE grouping sets (single-pass Expand + hash aggregate).",
)
def q36(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("flag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("status"),
            "n",
        )
        .orderBy("flag", "status")
    )


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@_q(
    "q37_pivot",
    """
    SELECT CAST(hour(ts) AS INTEGER) AS hr,
           count(*) FILTER (WHERE event_type = 'click')    AS click,
           count(*) FILTER (WHERE event_type = 'error')    AS error,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           count(*) FILTER (WHERE event_type = 'signup')   AS signup,
           count(*) FILTER (WHERE event_type = 'view')     AS view
    FROM events
    GROUP BY 1
    ORDER BY 1
    """,
    "Pivot (event_type → columns) per hour-of-day; fixed pivot values "
    "keep the plan a single aggregate.",
)
def q37(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    out = (
        e.groupBy(F.hour("ts").cast("int").alias("hr"))
        .pivot("event_type", _EVENT_TYPES)
        .count()
        .na.fill(0, _EVENT_TYPES)
        .orderBy("hr")
    )
    return out


@_q(
    "q38_approx_distinct",
    """
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS exact_parts,
           TRUE AS approx_ok
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    "approx_count_distinct (HLL, rsd=0.02) per returnflag — the 100 TB "
    "substitute for exact COUNT(DISTINCT) — gated on its own error "
    "contract: |approx - exact| <= 2*rsd*exact, with the exact twin "
    "computed in the same query (oracle recomputes exact_parts and "
    "asserts approx_ok). Measured rel-err <= 0.011 on all SFs.",
)
def q38(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", 0.02).alias("__approx"),
            F.countDistinct("l_partkey").alias("exact_parts"),
        )
        .select(
            "l_returnflag",
            "exact_parts",
            (
                F.abs(F.col("__approx") - F.col("exact_parts"))
                <= 2 * 0.02 * F.col("exact_parts")
            ).alias("approx_ok"),
        )
        .orderBy("l_returnflag")
    )


@_q(
    "q39_embedding_neardup_pairs",
    """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.22
    ORDER BY id_a, id_b
    """,
    "Embedding cosine pairs >= 0.22 via blocked_pair_cosine "
    "(operators/similarity.py): exact all-pairs distributed as an "
    "equi-join on a block-pair grid — even tasks, bounded memory, no "
    "full-table broadcast, no nested-loop join. The 0.22 threshold is a "
    "77-degree angle (this corpus has no true near-dups; max pair cosine "
    "is 0.51), where no LSH family can prune without losing recall — "
    "for real near-dup thresholds (cos >= 0.7) the scale path is "
    "lsh_candidate_pairs + cosine_verify, tested on planted near-dups "
    "in tests/test_operators.py.",
)
def q39(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    out = S.blocked_pair_cosine(emb, threshold=0.22, n_blocks=8)
    return out.select(
        "id_a", "id_b", F.round("cosine", 4).alias("cosine")
    ).orderBy("id_a", "id_b")


@_q(
    "q40_vectorized_udf",
    """
    SELECT l_returnflag,
           round(avg(1.0 / (1.0 + exp(-(l_discount * 10 - 0.5)))), 6) AS avg_sigmoid
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    "Arrow-batched pandas UDF (the reference's register_numpy surface, "
    "vinum/core/udf.py:138) inside an aggregation — oracle inlines the "
    "equivalent arithmetic.",
)
def q40(spark, sf_dir):
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # no type annotations: `from __future__ import annotations` stringifies
    # them, which pandas_udf's signature inspection rejects
    def _sigmoid10(s):
        import numpy as np

        return pd.Series(1.0 / (1.0 + np.exp(-(s.to_numpy() * 10 - 0.5))))

    sigmoid10 = pandas_udf(_sigmoid10, "double")

    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(F.round(F.avg(sigmoid10("l_discount")), 6).alias("avg_sigmoid"))
        .orderBy("l_returnflag")
    )


@_q(
    "q41_null_semantics",
    """
    SELECT l_linestatus,
           count(*)                                   AS n_rows,
           count(NULLIF(l_tax, 0.0))                  AS n_taxed,
           round(sum(coalesce(NULLIF(l_tax, 0.0), -1)), 4) AS s,
           count(CASE WHEN l_discount > 0.05 THEN 1 END)   AS n_disc
    FROM lineitem
    GROUP BY NULLIF(l_linestatus, 'O'), l_linestatus
    ORDER BY l_linestatus
    """,
    "NULL semantics: NULLIF-generated nulls through count/coalesce/CASE "
    "and a nullable group key (SQL-standard null group).",
)
def q41(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    taxed = F.nullif(F.col("l_tax"), F.lit(0.0))
    return (
        li.groupBy(
            F.nullif(F.col("l_linestatus"), F.lit("O")).alias("__k"), F.col("l_linestatus")
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count(taxed).alias("n_taxed"),
            F.round(F.sum(F.coalesce(taxed, F.lit(-1.0))), 4).alias("s"),
            F.count(F.when(F.col("l_discount") > 0.05, F.lit(1))).alias("n_disc"),
        )
        .drop("__k")
        .orderBy("l_linestatus")
    )


@_q(
    "q42_regex_strings",
    r"""
    SELECT o_orderpriority,
           regexp_extract(o_orderpriority, '^([0-9]+)-', 1)          AS prio_num,
           upper(regexp_replace(o_orderpriority, '[^A-Za-z]', '', 'g')) AS letters,
           count(*) AS n
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    "Regex functions (extract group, global replace) — beyond the "
    "reference's LIKE-only matching.",
)
def q42(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "o_orderpriority",
            F.regexp_extract("o_orderpriority", r"^([0-9]+)-", 1).alias("prio_num"),
            F.upper(F.regexp_replace("o_orderpriority", r"[^A-Za-z]", "")).alias(
                "letters"
            ),
            "n",
        )
        .orderBy("o_orderpriority")
    )


@_q(
    "q43_token_explode",
    r"""
    WITH toks AS (
      SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
      FROM documents
    )
    SELECT token, count(*) AS n
    FROM toks
    WHERE token <> ''
    GROUP BY token
    ORDER BY n DESC, token
    LIMIT 15
    """,
    "Token frequency: explode(split) + aggregate + top-k — the canonical "
    "text-pipeline shape (map-side combine keeps the shuffle at "
    "vocabulary size, not token count).",
)
def q43(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split(F.trim("text"), r"\s+")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "token")
        .limit(15)
    )


@_q(
    "q44_dedup_exact_survivors",
    r"""
    WITH fp AS (
      SELECT doc_id, source,
             md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fingerprint
      FROM documents
    )
    SELECT min(doc_id) AS doc_id, fingerprint
    FROM fp
    GROUP BY fingerprint
    ORDER BY doc_id
    """,
    "Exact-dedup survivor rows (min doc_id per normalized fingerprint) — "
    "the dedup_exact operator itself under the value-hash gate.",
)
def q44(spark, sf_dir):
    kept = D.dedup_exact(_t(spark, sf_dir, "documents"))
    return kept.select("doc_id", "fingerprint").orderBy("doc_id")


@_q(
    "q45_table_sql_pipeline",
    """
    SELECT l_returnflag,
           count(*)                          AS n,
           round(ln(sum(l_quantity)), 6)     AS log_qty,
           round(sum(l_extendedprice), 2)    AS revenue
    FROM lineitem
    WHERE l_discount BETWEEN 0.02 AND 0.08 AND l_linestatus != 'X'
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    "The full Table.sql() pipeline under the correctness gate: SQL "
    "pre-pass (np.* resolution, naming contract), lazy UDF registration, "
    "Catalyst execution — the reference's primary entry point "
    "(vinum/api/table.py:191).",
)
def q45(spark, sf_dir):
    from vinum_spark.api.table import Table

    tbl = Table(_t(spark, sf_dir, "lineitem"))
    out = tbl.sql(
        "SELECT l_returnflag, count(*) AS n, "
        "round(np.log(sum(l_quantity)), 6) AS log_qty, "
        "round(sum(l_extendedprice), 2) AS revenue "
        "FROM t WHERE l_discount BETWEEN 0.02 AND 0.08 AND l_linestatus != 'X' "
        "GROUP BY l_returnflag ORDER BY l_returnflag"
    )
    return out.df


@_q(
    "q46_ann_ivf",
    f"""
    SELECT CAST(10 AS BIGINT) AS k,
           {_ANN_TOP1_SUBQ} AS ann_top1_id,
           TRUE AS recall_ok
    """,
    "Approximate NN via IVF coarse quantization (nprobe=12 of 16 cells) "
    "+ exact re-rank (ivf_topk), gated like q32: ANN top-1 must equal "
    "the exact top-1 (oracle computes it) and recall@10 >= 0.7 "
    "(measured 0.9-1.0 across SFs; random-vector corpus needs wide "
    "probing). Partition-pruned scan at scale when files are laid out "
    "by cell.",
)
def q46(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    ann = S.ivf_topk(emb, q, k=10, n_cells=16, nprobe=12)
    exact = S.cosine_topk(emb, q, k=10)
    return _ann_recall_gate(ann, exact, min_overlap=7)


@_q(
    "q47_grouping_sets",
    """
    SELECT coalesce(l_returnflag, 'ALL') AS flag,
           coalesce(CAST(l_linenumber AS VARCHAR), 'ALL') AS line,
           count(*) AS n,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linenumber), ())
    ORDER BY flag, line
    """,
    "Arbitrary GROUPING SETS (flag-only, line-only, grand total) in one "
    "Expand pass — generalizes ROLLUP/CUBE (q21/q36).",
)
def q47(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("__li_gs")
    return spark.sql(
        """
        SELECT coalesce(l_returnflag, 'ALL') AS flag,
               coalesce(CAST(l_linenumber AS STRING), 'ALL') AS line,
               count(*) AS n,
               round(sum(l_quantity), 2) AS sum_qty
        FROM __li_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linenumber), ())
        ORDER BY flag, line
        """
    )


@_q(
    "q48_grouped_agg_udf",
    """
    SELECT l_returnflag,
           round(sum((l_quantity - m) * (l_quantity - m)) / (count(*) - 1), 4) AS var_qty
    FROM lineitem
    JOIN (SELECT l_returnflag AS rf, avg(l_quantity) AS m
          FROM lineitem GROUP BY l_returnflag) sub
      ON l_returnflag = rf
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    "Grouped-aggregate numpy UDF (sample variance via register_numpy_agg "
    "— pandas_udf GROUPED_AGG); EXCEEDS the reference, which rejects "
    "reducing UDFs (test_query_results.py:1441-1469). Oracle inlines the "
    "two-pass variance.",
)
def q48(spark, sf_dir):
    from vinum_spark.functions.udf import (
        ensure_udfs_registered,
        register_numpy_agg,
    )
    import numpy as np

    register_numpy_agg("np_var_s", lambda x: float(np.var(x, ddof=1)))
    ensure_udfs_registered(spark)
    li = _t(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("__li_agg_udf")
    return spark.sql(
        """
        SELECT l_returnflag, round(np_var_s(l_quantity), 4) AS var_qty
        FROM __li_agg_udf GROUP BY l_returnflag ORDER BY l_returnflag
        """
    )


@_q(
    "q49_streaming_tumbling",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
           event_type,
           CAST(n AS BIGINT) AS n
    FROM (
      SELECT date_trunc('hour', ts) AS ts, event_type, count(*) AS n
      FROM events GROUP BY 1, 2
    )
    ORDER BY hour, event_type
    """,
    "Structured Streaming under the oracle gate: the tumbling-window "
    "aggregation runs as a real readStream→memory-sink stream "
    "(vinum_spark.streaming), and its drained output must hash-match the "
    "batch oracle.",
)
def q49(spark, sf_dir):
    from vinum_spark.streaming import stream_events, tumbling_counts
    from vinum_spark.streaming.windows import run_stream_to_memory

    # stream the TIMESTAMP(NANOS) source directly (nanosAsLong read +
    # in-stream conversion) — no per-run rewritten copy
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    stream = stream_events(spark, f"{sf_dir}/events.parquet", nanos_ts=True)
    # single_data_batch: static one-file source, no maxFilesPerTrigger
    # -> all input lands in batch 0, and complete-mode output at batch
    # 0's commit already aggregates ALL of it; the engine's wind-down
    # batch re-emits the identical table (~0.5-1 s of state machinery)
    run_stream_to_memory(tumbling_counts(stream), "q49_out",
                         state_partitions=8, single_data_batch=True)
    out = spark.table("q49_out")
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:00").alias("hour"),
        "event_type",
        F.col("n").cast("bigint").alias("n"),
    ).orderBy("hour", "event_type")


@_q(
    "q50_streaming_session",
    """
    WITH gaps AS (
      SELECT user_id, ts,
             CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts))
                  OVER (PARTITION BY user_id ORDER BY ts, event_id) >= 1800000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sessions AS (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM gaps
    )
    SELECT user_id,
           strftime(date_trunc('second', min(ts)), '%Y-%m-%d %H:%M:%S') AS session_start,
           CAST(count(*) AS BIGINT) AS n_events
    FROM sessions
    GROUP BY user_id, session_id
    ORDER BY user_id, session_start
    """,
    "Session windows under the oracle gate: a real readStream "
    "session_window aggregation drained to memory must hash-match the "
    "batch lag/cumsum sessionization (30-min gap).",
)
def q50(spark, sf_dir):
    from vinum_spark.streaming import session_aggregate, stream_events
    from vinum_spark.streaming.windows import run_stream_to_memory

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    stream = stream_events(spark, f"{sf_dir}/events.parquet", nanos_ts=True)
    # single_data_batch: complete-mode aggregate of a one-batch input
    # (see q49) — the wind-down batch re-emits the identical table
    run_stream_to_memory(
        session_aggregate(stream, gap="30 minutes"),
        "q50_out",
        state_partitions=8,
        single_data_batch=True,
    )
    out = spark.table("q50_out")
    return out.select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.col("n_events").cast("bigint").alias("n_events"),
    ).orderBy("user_id", "session_start")


@_q(
    "q51_streaming_sliding",
    """
    WITH ev AS (
      -- floor, not CAST: DuckDB's double->BIGINT cast ROUNDS, which would
      -- bump sub-second timestamps >= .5s into the next second's block
      SELECT event_type, value, CAST(floor(epoch(ts)) AS BIGINT) AS es
      FROM events
      WHERE value IS NOT NULL
    ),
    w AS (
      SELECT event_type, value,
             (es // 900) * 900 - j * 900 AS ws
      FROM ev CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j) js
    )
    SELECT strftime(make_timestamp(ws * 1000000), '%Y-%m-%d %H:%M') AS window_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           -- exact decimal sum -> ONE double division -> floor-based
           -- rounding: identical IEEE inputs + pure floating-point ops,
           -- so no engine-specific round() semantics can diverge (Spark
           -- rounds the shortest decimal STRING of a double — half-up on
           -- '33.38625' — while DuckDB rounds the true binary value,
           -- 33.386249999..., down; observed on 6 of 8640 rows at sf0.1)
           floor(CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) / count(*)
                 * 10000 + 0.5) / 10000 AS avg_value
    FROM w
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    "Sliding event-time windows (1 h window, 15 min slide) under the "
    "oracle gate: a real readStream sliding aggregation drained to "
    "memory must hash-match the batch expansion (each event belongs to "
    "exactly 4 slide-aligned windows) computed in SQL. Completes the "
    "windowed-streaming triple: tumbling (q49), session (q50), sliding.",
)
def q51(spark, sf_dir):
    from vinum_spark.streaming import stream_events
    from vinum_spark.streaming.windows import (
        run_stream_to_memory,
        sliding_aggregate,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    stream = stream_events(spark, f"{sf_dir}/events.parquet", nanos_ts=True)
    # null values are excluded on BOTH sides: a window whose values are
    # all null would average to NaN, whose sort position is not portable
    # across engines (hash-compare instability)
    stream = stream.filter(F.col("value").isNotNull())
    # single_data_batch: complete-mode aggregate of a one-batch input
    # (see q49) — the wind-down batch re-emits the identical table
    run_stream_to_memory(
        sliding_aggregate(stream, window="1 hour", slide="15 minutes"),
        "q51_out",
        state_partitions=8,
        single_data_batch=True,
    )
    out = spark.table("q51_out")
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm").alias("window_start"),
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        # floor-based round: F.round on doubles follows the shortest
        # decimal string (Java BigDecimal.valueOf), which disagrees with
        # engines that round the binary value on print-as-half cases —
        # see the oracle's comment
        (F.floor(F.col("avg_value") * 10000 + F.lit(0.5)) / 10000.0).alias(
            "avg_value"
        ),
    ).orderBy("window_start", "event_type")


_PNG_MAGIC = bytes([0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A])


@_q(
    "q52_multimodal_metadata",
    r"""
    WITH assets AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0
                  THEN '\x89\x50\x4E\x47\x0D\x0A\x1A\x0A'::BLOB || encode(text)
                  ELSE encode(text) END AS content
      FROM documents
    )
    SELECT doc_id,
           octet_length(content) AS size_bytes,
           sha256(hex(content)) AS content_digest,
           -- mirrors attach_metadata's FULL magic-byte ladder in its
           -- exact precedence (Spark wraps later `when`s around earlier
           -- ones, so CASE order here is the REVERSE of the build
           -- order there): refinements first, then the magic dict
           -- reversed. The ASCII-plausible magics (BM, ID3, OggS,
           -- fLaC, RIFF) can genuinely occur at the start of document
           -- text, so a ladder edit that skips this mirror flips rows.
           CASE WHEN substr(hex(content), 1, 3) IN ('FFF', 'FFE')
                     THEN 'audio/mpeg'
                WHEN substr(hex(content), 1, 8) = '52494646'
                     AND substr(hex(content), 17, 8) = '57454250'
                     THEN 'image/webp'
                WHEN substr(hex(content), 1, 8) = '52494646'
                     AND substr(hex(content), 17, 8) = '41564920'
                     THEN 'video/x-msvideo'
                WHEN substr(hex(content), 9, 8) = '66747970'
                     AND substr(hex(content), 17, 8) IN
                         ('61766966', '61766973')
                     THEN 'image/avif'
                WHEN substr(hex(content), 9, 8) = '66747970'
                     AND substr(hex(content), 17, 8) IN
                         ('68656963', '68656978', '6D696631')
                     THEN 'image/heic'
                WHEN substr(hex(content), 9, 8) = '66747970' THEN 'video/mp4'
                WHEN substr(hex(content), 1, 8) = '66747970' THEN 'video/mp4'
                WHEN substr(hex(content), 1, 8) = '4D4D002A' THEN 'image/tiff'
                WHEN substr(hex(content), 1, 8) = '49492A00' THEN 'image/tiff'
                WHEN substr(hex(content), 1, 4) = '424D'     THEN 'image/bmp'
                WHEN substr(hex(content), 1, 8) = '1A45DFA3' THEN 'video/webm'
                WHEN substr(hex(content), 1, 8) = '4F676753' THEN 'audio/ogg'
                WHEN substr(hex(content), 1, 8) = '664C6143' THEN 'audio/flac'
                WHEN substr(hex(content), 1, 6) = '494433'   THEN 'audio/mpeg'
                WHEN substr(hex(content), 1, 8) = '52494646' THEN 'audio/wav'
                WHEN substr(hex(content), 1, 8) = '47494638' THEN 'image/gif'
                WHEN substr(hex(content), 1, 6) = 'FFD8FF'   THEN 'image/jpeg'
                WHEN substr(hex(content), 1, 8) = '89504E47' THEN 'image/png'
                ELSE 'application/octet-stream' END AS mime
    FROM assets
    ORDER BY doc_id
    """,
    "Multimodal metadata path under the oracle gate: binary assets "
    "(document text bytes, every third row wrapped in a PNG header) -> "
    "attach_metadata (operators/multimodal.py) computing size and "
    "magic-byte mime fully JVM-side, plus a content digest "
    "(sha256 over the hex encoding — DuckDB hashes only VARCHAR, so the "
    "hex round-trip makes the digest engine-portable; attach_metadata's "
    "raw-byte sha1/sha256 fields are pinned against hashlib in "
    "tests/test_multimodal.py).",
)
def q52(spark, sf_dir):
    from vinum_spark.operators.multimodal import attach_metadata

    d = _t(spark, sf_dir, "documents")
    body = F.encode("text", "UTF-8")
    content = F.when(
        F.col("doc_id") % 3 == 0, F.concat(F.lit(_PNG_MAGIC), body)
    ).otherwise(body)
    assets = d.select("doc_id", content.alias("content"))
    m = attach_metadata(assets, hash_algo="sha256")
    return m.select(
        "doc_id",
        F.col("meta.size_bytes").alias("size_bytes"),
        F.sha2(F.hex("content"), 256).alias("content_digest"),
        F.col("meta.mime").alias("mime"),
    ).orderBy("doc_id")


@_q(
    "q53_streaming_stateful_dedup",
    """
    SELECT event_type, CAST(count(*) AS BIGINT) AS n
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    "Custom stateful streaming dedup under the oracle gate "
    "(applyInPandasWithState — the operator class Spark's built-ins "
    "can't express): the events source is unioned with ITSELF as two "
    "readStreams (every event arrives twice), stream_distinct "
    "(streaming/stateful.py) must emit exactly the first occurrence per "
    "(user_id group, event_id key), so per-type counts hash-match the "
    "single-copy batch counts the oracle computes.",
)
def q53(spark, sf_dir):
    from vinum_spark.streaming import stream_events
    from vinum_spark.streaming.stateful import stream_distinct
    from vinum_spark.streaming.windows import run_stream_to_memory

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    s1 = stream_events(spark, f"{sf_dir}/events.parquet", nanos_ts=True)
    s2 = stream_events(spark, f"{sf_dir}/events.parquet", nanos_ts=True)
    doubled = s1.unionByName(s2)
    # group_buckets: the per-GROUP applyInPandasWithState protocol cost
    # dominated this query's batch (~1 500 user groups; round-19
    # attribution) — bucketing shards state 8-per-state-partition while
    # keeping (user_id, event_id) first-occurrence semantics exact.
    # single_data_batch: static one-file source, no maxFilesPerTrigger
    # -> availableNow plans everything into batch 0, and
    # stream_distinct emits only on input, so the drain's empty
    # timeout-machinery batch (~1.1 s of state-store fixed cost) is
    # pure latency — stop at batch 0's commit.
    deduped = stream_distinct(
        doubled, group_col="user_id", key_cols=["event_id"],
        group_buckets=64,
    )
    run_stream_to_memory(deduped, "q53_out", mode="append",
                         state_partitions=8, single_data_batch=True)
    return (
        spark.table("q53_out")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy("event_type")
    )


@_q(
    "q54_winnowing_pairs",
    r"""
    WITH d AS (
      SELECT doc_id, lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS s
      FROM documents
    ), pos AS (
      SELECT doc_id, s,
             unnest(range(1, greatest(length(s)-16+1, 0)+1)) AS p
      FROM d
    ), h AS (
      SELECT doc_id, p, md5(substr(s, CAST(p AS INT), 16)) AS hash
      FROM pos
    ), wmin AS (
      -- min gram-hash of each window of 4 consecutive positions; only
      -- full windows select (p <= n_grams - 4 + 1). Equivalent to the
      -- list_transform/list_min array form (verified identical), but
      -- the exploded form parallelizes across DuckDB morsels instead
      -- of evaluating lambdas over one 5000-row row group (15-60x).
      SELECT doc_id, p,
             min(hash) OVER (PARTITION BY doc_id ORDER BY p
                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
             count(*) OVER (PARTITION BY doc_id) AS n_grams
      FROM h
    ), w AS (
      SELECT DISTINCT doc_id, fp FROM wmin WHERE p <= n_grams - 3
    ), rare AS (
      SELECT fp FROM w GROUP BY fp HAVING count(*) <= 10
    ), wr AS (
      SELECT w.doc_id, w.fp FROM w JOIN rare USING (fp)
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM wr a JOIN wr b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING count(*) >= 5
    ORDER BY id_a, id_b
    """,
    "Rolling-hash document fingerprinting via winnowing (MOSS, "
    "SIGMOD'03): char-16-gram md5 rolling hashes, min-of-4-window "
    "selection, document-frequency cap 10 (bounds every pairing bucket "
    "— the 100 TB guard), pairs sharing >= 5 fingerprints. Fingerprint "
    "extraction is pure map-side array expressions (zero shuffles); the "
    "DuckDB oracle computes the identical fingerprint set via "
    "list_transform/list_min, so the pair list hash-matches exactly.",
)
def q54(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    pairs = X.winnowing_shared_pairs(
        d, col="text", id_col="doc_id", k=16, window=4,
        max_doc_freq=10, min_shared=5,
    )
    return pairs.select(
        "id_a", "id_b", F.col("n_shared").cast("bigint").alias("n_shared")
    ).orderBy("id_a", "id_b")


@_q(
    "q55_stream_interval_join",
    """
    SELECT l.event_id AS l_event_id, r.event_id AS r_event_id,
           l.user_id AS user_id,
           round(r.value - l.value, 4) AS value_delta
    FROM (SELECT * FROM events WHERE event_type = 'click') l
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
      ON l.user_id = r.user_id
     AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 30 MINUTE
    ORDER BY l_event_id, r_event_id
    """,
    "Watermarked stream-stream INNER join (streaming/joins.py): clicks "
    "and purchases arrive as two real readStreams, joined on user_id "
    "with an event-time range (purchase within 30 min of the click). "
    "The time bound + both watermarks let Spark evict join state, so "
    "state is O(rate x (watermark + interval)) at 100 TB; an inner "
    "join with a time constraint emits exactly the batch-join rows, so "
    "the drained sink hash-matches the batch oracle.",
)
def q55(spark, sf_dir):
    from vinum_spark.streaming import stream_events, stream_interval_join
    from vinum_spark.streaming.windows import run_stream_to_memory

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    clicks = stream_events(spark, f"{sf_dir}/events.parquet").filter(
        F.col("event_type") == "click"
    )
    purchases = stream_events(spark, f"{sf_dir}/events.parquet").filter(
        F.col("event_type") == "purchase"
    )
    joined = stream_interval_join(
        clicks, purchases, key="user_id", ts_col="ts", within="30 minutes"
    )
    # single_data_batch: both sides of the INNER join arrive complete
    # in batch 0 (static one-file source, no maxFilesPerTrigger), and a
    # watermarked inner join emits matches in the batch that joins them
    # — the post-data batch only evicts state (measured ~2 s across the
    # two join state stores). An OUTER join would NOT be eligible: its
    # null-padded rows are emitted only after the watermark passes.
    run_stream_to_memory(joined, "q55_out", mode="append",
                         state_partitions=8, single_data_batch=True)
    return (
        spark.table("q55_out")
        .select(
            F.col("l_event_id"),
            F.col("r_event_id"),
            F.col("l_user_id").alias("user_id"),
            F.round(F.col("r_value") - F.col("l_value"), 4).alias("value_delta"),
        )
        .orderBy("l_event_id", "r_event_id")
    )


@_q(
    "q56_embedding_lsh_verify",
    """
    WITH emb AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), planted AS (
      SELECT vec_id + 100000 AS vec_id,
             v[1:60] || [0.0, 0.0, 0.0, 0.0] AS v
      FROM emb
    ), allv AS (
      SELECT * FROM emb UNION ALL SELECT * FROM planted
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.v, b.v), 4) AS cosine
    FROM allv a JOIN allv b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.v, b.v) >= 0.9
    ORDER BY id_a, id_b
    """,
    "Embedding near-dup scale path under the oracle gate: "
    "lsh_candidate_pairs (126 hyperplanes as two signature columns, "
    "8-bit bands — map-side signature, pair enumeration only within a "
    "band bucket; vs the old 32-plane/4-bit form the 14 narrower bands "
    "keep the same ~4e-5 pair-miss rate with 16x more buckets per "
    "band, ~10x fewer junk collisions, measured 1.7x faster at "
    "sf0.01) + "
    "cosine_verify (exact codegen'd dot per candidate) over the corpus "
    "unioned with planted near-dups (last 4 of 64 components zeroed, "
    "cosine ~0.97). The oracle computes ALL pairs >= 0.9 exactly, so "
    "any pair LSH misses hash-mismatches: measured recall 1.0 at "
    "sf0.01 (498/498) and sf0.1 (1972/1972). Unlike q39's exact "
    "all-pairs grid (0.22 threshold, no LSH family can prune), this is "
    "the candidates-proportional path used at real near-dup "
    "thresholds.",
)
def q56(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    planted = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.concat(F.slice("embedding", 1, 60), F.array(*[F.lit(0.0)] * 4))
        .cast("array<float>")
        .alias("embedding"),
    )
    # lazy-checkpoint the union: it is referenced by the LSH self-join
    # AND cosine_verify's two id joins — uncheckpointed, the plan scans
    # the parquet source 8x (round-18; bounded: one id + 64 floats per
    # vector at any corpus size)
    allv = (
        emb.select("vec_id", "embedding")
        .unionByName(planted)
        .localCheckpoint(eager=False)
    )
    # fused candidates + verify (round 19, same treatment as q83/q85):
    # the ~500k random band collisions at sf0.1 (for 1972 true pairs)
    # are evaluated inside per-bucket-block BLAS kernels instead of
    # materializing through a distinct Exchange and two verify joins.
    # Candidate set identical by construction (shared bucket helper);
    # the round-4 cosine output was verified EXACTLY equal (not just
    # allclose) to the expression-path output at sf0.001/0.01/0.1.
    verified = S.lsh_blocked_cosine_pairs(
        allv, dim=64, threshold=0.9, n_planes=126, band_bits=8
    )
    return verified.select(
        "id_a", "id_b", F.round("cosine", 4).alias("cosine")
    ).orderBy("id_a", "id_b")


@_q(
    "q57_skew_salted_agg",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 4) AS sum_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    "Skew-safe two-phase aggregation under the oracle gate "
    "(operators/skew.py): events carry only 5 distinct event_type "
    "values — the canonical hot-key shape where a plain groupBy sends "
    "each key's entire volume to one reducer. salted_count/salted_sum "
    "spread each key over 32 salt buckets (phase 1 partials) then "
    "merge per key (phase 2); results must equal the direct GROUP BY "
    "the oracle computes.",
)
def q57(spark, sf_dir):
    from vinum_spark.operators.skew import salted_count, salted_sum

    e = _t(spark, sf_dir, "events")
    n = salted_count(e, ["event_type"])
    s = salted_sum(e, ["event_type"], "value")
    return (
        n.join(s, "event_type")
        .select(
            "event_type",
            F.col("n").cast("bigint").alias("n"),
            F.round("sum_value", 4).alias("sum_value"),
        )
        .orderBy("event_type")
    )


_Q58_ORACLE = """
    WITH base AS (
      SELECT doc_id, lang,
        list_filter(string_split(text, chr(10)), x -> length(trim(x)) > 0)
          AS lines,
        regexp_extract_all(text, '[A-Za-z]+') AS words,
        length(regexp_replace(text, '[^#…]', '', 'g')) AS n_symbols
      FROM documents
    ), sig AS (
      SELECT doc_id, lang,
        len(lines) AS n_lines,
        greatest(len(lines), 1) AS safe_lines,
        len(list_distinct(list_transform(lines, x -> trim(x)))) AS n_distinct,
        len(list_filter(lines, x -> regexp_matches(trim(x), '^[-*•]')))
          AS n_bullet,
        len(list_filter(lines, x -> regexp_matches(rtrim(x), '(\\.\\.\\.|…)$')))
          AS n_ellipsis,
        greatest(len(words), 1) AS safe_words,
        coalesce(list_sum(list_transform(words, w -> length(w))), 0)
          AS word_chars,
        n_symbols
      FROM base
    )
    SELECT doc_id, lang,
      round((n_lines - n_distinct) / CAST(safe_lines AS DOUBLE), 6)
        AS dup_line_frac,
      round(n_bullet / CAST(safe_lines AS DOUBLE), 6) AS bullet_line_frac,
      round(n_ellipsis / CAST(safe_lines AS DOUBLE), 6) AS ellipsis_line_frac,
      round(n_symbols / CAST(safe_words AS DOUBLE), 6) AS symbol_word_ratio,
      round(word_chars / CAST(safe_words AS DOUBLE), 6) AS mean_word_len,
      CAST(dup_line_frac <= 0.30 AND symbol_word_ratio <= 0.10
           AND bullet_line_frac <= 0.90 AND mean_word_len >= 2.0
           AND mean_word_len <= 12.0 AS INT) AS quality_pass
    FROM sig ORDER BY doc_id
    """


@_q(
    "q58_quality_rules",
    _Q58_ORACLE,
    "Gopher/C4-style document quality gates (operators/text.py "
    "with_quality_rules): duplicate-line fraction, bullet/ellipsis line "
    "shares, symbol-per-word ratio, mean alphabetic word length, and "
    "the composite quality_pass flag. All signals are built-in "
    "array/regex expressions in one codegen'd projection — no Python, "
    "no shuffle — so at 100 TB the filter runs at scan speed and "
    "Catalyst pushes quality_pass pruning into the scan. The DuckDB "
    "oracle recomputes every signal from the same definitions.",
)
def q58(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    q = X.with_quality_rules(d)
    return q.select(
        "doc_id",
        "lang",
        "dup_line_frac",
        "bullet_line_frac",
        "ellipsis_line_frac",
        "symbol_word_ratio",
        "mean_word_len",
        F.col("quality_pass").cast("int").alias("quality_pass"),
    ).orderBy("doc_id")


#: Per-stratum keep rates for q59 — the downsample-the-head mix shape
#: (cap high-volume click/view, keep every purchase).
_Q59_FRACTIONS = {"click": 0.1, "view": 0.05, "purchase": 1.0}
_Q59_DEFAULT = 0.2
_Q59_SEED = "r7"


def _q59_oracle() -> str:
    from vinum_spark.operators.sampling import sample_threshold_hex

    cases = " ".join(
        f"WHEN '{k}' THEN '{sample_threshold_hex(v)}'"
        for k, v in sorted(_Q59_FRACTIONS.items())
    )
    return f"""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 4) AS sum_value,
           min(event_id) AS min_id,
           max(event_id) AS max_id
    FROM events
    WHERE substring(md5(concat_ws(chr(31), CAST(event_id AS VARCHAR),
                                  '{_Q59_SEED}')), 1, 8)
          < CASE event_type {cases}
            ELSE '{sample_threshold_hex(_Q59_DEFAULT)}' END
    GROUP BY event_type
    ORDER BY event_type
    """


@_q(
    "q59_stratified_sample",
    _q59_oracle(),
    "Deterministic stratified sampling (operators/sampling.py): keep "
    "10% of clicks, 5% of views, 100% of purchases, 20% default — "
    "membership is substr(md5(event_id || seed), 1, 8) < per-stratum "
    "hex threshold, a pure per-row codegen'd predicate. Unlike "
    "rand(seed), the sample is identical across reruns, partitionings, "
    "and engines (the DuckDB oracle reproduces the exact member set, "
    "verified by min/max ids + count + sum per stratum). Map-side "
    "only: no shuffle, no state; at 100 TB the filter pushes into the "
    "scan and a re-shard cannot change the training set.",
)
def q59(spark, sf_dir):
    from vinum_spark.operators.sampling import stratified_sample

    e = _t(spark, sf_dir, "events")
    s = stratified_sample(
        e,
        "event_type",
        _Q59_FRACTIONS,
        key_col="event_id",
        seed=_Q59_SEED,
        default_fraction=_Q59_DEFAULT,
    )
    return (
        s.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.min("event_id").alias("min_id"),
            F.max("event_id").alias("max_id"),
        )
        .orderBy("event_type")
    )


@_q(
    "q60_length_buckets",
    """
    WITH t AS (
      SELECT CASE WHEN trim(text) = '' THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\\s+')) END
               AS n_tokens
      FROM documents
    )
    SELECT CAST(floor(n_tokens / 32) AS BIGINT) * 32 AS bucket_lo,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
           CAST(ceil(sum(n_tokens) / 512.0) AS BIGINT) AS n_packed_seqs
    FROM t
    GROUP BY bucket_lo
    ORDER BY bucket_lo
    """,
    "Sequence-packing planning query (operators/sampling.py "
    "length_bucket_stats): token-length histogram in width-32 buckets "
    "plus the packed-sequence capacity bound ceil(sum_tokens/512) per "
    "bucket — the batch-shape planning pass behind packed-batch "
    "training. Bucket id is a codegen'd integer divide; one "
    "partial-aggregated shuffle on the bucket id.",
)
def q60(spark, sf_dir):
    from vinum_spark.operators.sampling import length_bucket_stats

    d = X.with_token_count(_t(spark, sf_dir, "documents"))
    return (
        length_bucket_stats(d, bucket_width=32, pack_len=512)
        .select(
            "bucket_lo",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            "sum_tokens",
            "n_packed_seqs",
        )
        .orderBy("bucket_lo")
    )


def _q61_oracle() -> str:
    e, i, p = (X.PII_PATTERNS[k] for k in ("email", "ipv4", "phone"))
    return f"""
    WITH planted AS (
      SELECT doc_id,
        CASE WHEN doc_id % 7 = 0 THEN text || ' contact user'
                  || CAST(doc_id AS VARCHAR) || '@example.com now'
             WHEN doc_id % 11 = 0 THEN text
                  || ' call +1-555-123-4567 or 10.0.0.1'
             ELSE text END AS text
      FROM documents
    ), staged AS (
      -- mirror the operator's priority chain: each category counted on
      -- the text with earlier categories already redacted
      SELECT doc_id, text AS t0,
             regexp_replace(text, '{e}', '<EMAIL>', 'g') AS t1
      FROM planted
    ), staged2 AS (
      SELECT *, regexp_replace(t1, '{i}', '<IPV4>', 'g') AS t2 FROM staged
    )
    SELECT doc_id,
      CAST(len(regexp_extract_all(t0, '{e}')) AS BIGINT) AS n_email,
      CAST(len(regexp_extract_all(t1, '{i}')) AS BIGINT) AS n_ipv4,
      CAST(len(regexp_extract_all(t2, '{p}')) AS BIGINT) AS n_phone,
      md5(regexp_replace(t2, '{p}', '<PHONE>', 'g')) AS red_md5
    FROM staged2 ORDER BY doc_id
    """


@_q(
    "q61_pii_redaction",
    _q61_oracle(),
    "PII scrubbing (operators/text.py with_pii_redacted): emails, "
    "phone numbers, and IPv4 addresses replaced with typed "
    "placeholders, counts per category on the original text. Patterns "
    "are restricted to the RE2-compatible subset so the DuckDB oracle "
    "computes the byte-identical redaction (gated via md5 of the "
    "redacted text). PII is planted deterministically (doc_id % 7 -> "
    "email, % 11 -> phone + IP) in BOTH engines so the gate exercises "
    "real matches at every SF. Chained regexp_replace in one "
    "projection: zero Python, zero shuffle, scan-speed at 100 TB.",
)
def q61(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    planted = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com now"),
            ),
        )
        .when(
            F.col("doc_id") % 11 == 0,
            F.concat(F.col("text"), F.lit(" call +1-555-123-4567 or 10.0.0.1")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    r = X.with_pii_redacted(planted)
    return r.select(
        "doc_id",
        "n_email",
        "n_phone",
        "n_ipv4",
        F.md5("text_redacted").alias("red_md5"),
    ).orderBy("doc_id")


@_q(
    "q62_deterministic_shard",
    """
    SELECT CAST(('0x' || substring(md5(concat_ws(chr(31),
               CAST(event_id AS VARCHAR), 'shard7')), 1, 8))::UBIGINT
               % 8 AS INT) AS shard,
           CAST(count(*) AS BIGINT) AS n,
           min(event_id) AS min_id,
           max(event_id) AS max_id,
           round(sum(value), 4) AS sum_value
    FROM events
    GROUP BY shard
    ORDER BY shard
    """,
    "Deterministic shard assignment (operators/sampling.py with_shard) "
    "— the global-shuffle step of a training-data export: shard = "
    "int(md5(event_id || seed)[:8], 16) % 8, a pure per-row function "
    "of (key, seed), so membership survives reruns, repartitioning, "
    "and engine changes (the oracle recomputes the identical "
    "assignment, verified per shard by count + min/max id + value "
    "sum). export_shards pairs this with repartition(n, shard) + "
    "partitionBy for a one-file-per-shard reproducible permutation "
    "write at any scale.",
)
def q62(spark, sf_dir):
    from vinum_spark.operators.sampling import with_shard

    e = _t(spark, sf_dir, "events")
    return (
        with_shard(e, "event_id", 8, seed="shard7")
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("event_id").alias("min_id"),
            F.max("event_id").alias("max_id"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .orderBy("shard")
    )


@_q(
    "q63_dedup_clusters",
    f"""
    WITH RECURSIVE {_JACCARD_PAIRS_CTE.strip().rstrip()},
    edges AS (
      SELECT id_a AS s, id_b AS d FROM pairs
      WHERE inter / (sz_a + sz_b - inter) >= 0.8
      UNION
      SELECT id_b, id_a FROM pairs
      WHERE inter / (sz_a + sz_b - inter) >= 0.8
    ),
    reach(id, r) AS (
      SELECT s, s FROM edges
      UNION
      SELECT e.d, reach.r FROM reach JOIN edges e ON e.s = reach.id
    ),
    labels AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
    SELECT l.id AS doc_id, l.component,
           CAST(c.n AS BIGINT) AS cluster_size
    FROM labels l
    JOIN (SELECT component, count(*) AS n FROM labels
          GROUP BY component) c USING (component)
    ORDER BY doc_id
    """,
    "Near-dup CLUSTERS via connected components (operators/dedup.py "
    "connected_components): LSH candidates + exact 3-gram Jaccard "
    "verify give the edge set, then iterative min-label propagation "
    "(DataFrame joins + partial-agg MIN per round, localCheckpoint "
    "lineage cuts) labels each component with its minimum doc id — "
    "the transitive-closure semantics pair-at-a-time dedup cannot "
    "express (A~B, B~C must yield ONE cluster {{A,B,C}}). The oracle "
    "computes the identical fixed point with a recursive CTE over the "
    "exact pair set, so a hash match proves both the edge coverage "
    "and the component labelling.",
)
def q63(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return D.dedup_clusters(docs, n=3, threshold=0.8).orderBy("doc_id")


@_q(
    "q64_repetition_signals",
    """
    WITH toks AS (
      SELECT doc_id,
             regexp_extract_all(lower(text), '[a-z]+') AS w
      FROM documents
    ), grams AS (
      SELECT doc_id, unnest(list_transform(
               generate_series(1, len(w) - 1),
               i -> w[i] || ' ' || w[i + 1])) AS g
      FROM toks WHERE len(w) >= 2
    ), per_gram AS (
      SELECT doc_id, g, count(*) AS c FROM grams GROUP BY doc_id, g
    )
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_ngrams,
           round(max(c) / CAST(sum(c) AS DOUBLE), 6) AS top_ngram_frac
    FROM per_gram
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    "Within-document repetition (operators/text.py repetition_stats): "
    "the Gopher fraction-in-most-common-2-gram signal that catches "
    "keyword stuffing the line-level q58 rules miss. Both shuffles are "
    "keyed on doc_id so group sizes are bounded by document length — "
    "no corpus-wide gram key to go hot at 100 TB. The oracle "
    "recomputes the identical per-doc gram histogram.",
)
def q64(spark, sf_dir):
    return X.repetition_stats(_t(spark, sf_dir, "documents"), n=2).orderBy(
        "doc_id"
    )


def _q65_oracle() -> str:
    from vinum_spark.operators.sampling import sample_threshold_hex

    return r"""
    WITH base AS (
      SELECT doc_id, lang, text,
        list_filter(string_split(text, chr(10)), x -> length(trim(x)) > 0)
          AS lines,
        regexp_extract_all(text, '[A-Za-z]+') AS words,
        length(regexp_replace(text, '[^#…]', '', 'g')) AS n_symbols
      FROM documents
    ), sig AS (
      SELECT doc_id, lang, text,
        len(lines) AS n_lines,
        greatest(len(lines), 1) AS safe_lines,
        len(list_distinct(list_transform(lines, x -> trim(x)))) AS n_distinct,
        len(list_filter(lines, x -> regexp_matches(trim(x), '^[-*•]')))
          AS n_bullet,
        greatest(len(words), 1) AS safe_words,
        coalesce(list_sum(list_transform(words, w -> length(w))), 0)
          AS word_chars,
        n_symbols
      FROM base
    ), passed AS (
      SELECT doc_id, lang, text FROM sig
      WHERE round((n_lines - n_distinct) / CAST(safe_lines AS DOUBLE), 6) <= 0.30
        AND round(n_symbols / CAST(safe_words AS DOUBLE), 6) <= 0.10
        AND round(n_bullet / CAST(safe_lines AS DOUBLE), 6) <= 0.90
        AND round(word_chars / CAST(safe_words AS DOUBLE), 6) >= 2.0
        AND round(word_chars / CAST(safe_words AS DOUBLE), 6) <= 12.0
    ), fp AS (
      SELECT doc_id, lang, text,
             md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
               AS fingerprint
      FROM passed
    ), dd AS (
      SELECT doc_id, lang, text FROM (
        SELECT fp.*,
               row_number() OVER (PARTITION BY fingerprint
                                  ORDER BY doc_id) AS rn
        FROM fp) WHERE rn = 1
    ), sampled AS (
      SELECT doc_id, lang, text FROM dd
      WHERE substring(md5(concat_ws(chr(31), CAST(doc_id AS VARCHAR),
                                    'mix')), 1, 8) < '@SAMPLE_THR@'
    ), sharded AS (
      SELECT doc_id, lang,
        CASE WHEN trim(text) = '' THEN 0
             ELSE len(regexp_split_to_array(trim(text), '\s+')) END
          AS n_tokens,
        CAST(('0x' || substring(md5(concat_ws(chr(31),
             CAST(doc_id AS VARCHAR), 'mix-shard')), 1, 8))::UBIGINT
             % 4 AS INT) AS shard
      FROM sampled
    )
    SELECT shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
           min(doc_id) AS min_id,
           max(doc_id) AS max_id
    FROM sharded GROUP BY shard ORDER BY shard
    """.replace("@SAMPLE_THR@", sample_threshold_hex(0.5))


@_q(
    "q65_pipeline_compose",
    _q65_oracle(),
    "End-to-end training-data pipeline COMPOSITION gate: quality "
    "filter (with_quality_rules) -> exact dedup keep-min "
    "(dedup_exact) -> deterministic 50% sample "
    "(deterministic_sample) -> shard assignment (with_shard) -> "
    "per-shard stats. Every stage is individually gated (q58, q27, "
    "q59, q62); this gate proves they COMPOSE — column contracts "
    "line up, each stage's filter semantics survives the next "
    "stage's plan, and the DuckDB oracle reproduces the full chain "
    "byte-for-byte. Plan-wise the whole pipeline is one scan -> "
    "map-side filters -> one fingerprint shuffle -> one stats "
    "shuffle; the sample and shard stages add zero shuffles.",
)
def q65(spark, sf_dir):
    from vinum_spark.operators.sampling import deterministic_sample, with_shard

    d = _t(spark, sf_dir, "documents")
    passed = X.with_quality_rules(d).filter("quality_pass").select(
        "doc_id", "lang", "text"
    )
    deduped = D.dedup_exact(passed)
    sampled = deterministic_sample(deduped, "doc_id", 0.5, seed="mix")
    sharded = with_shard(
        X.with_token_count(sampled), "doc_id", 4, seed="mix-shard"
    )
    return (
        sharded.groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
        .orderBy("shard")
    )


@_q(
    "q66_group_topn_sample",
    """
    SELECT event_type, sample_rank, event_id FROM (
      SELECT event_type, event_id,
             row_number() OVER (
               PARTITION BY event_type
               ORDER BY md5(concat_ws(chr(31),
                 CAST(event_id AS VARCHAR), 'cap')), event_id
             ) AS sample_rank
      FROM events)
    WHERE sample_rank <= 5
    ORDER BY event_type, sample_rank
    """,
    "Per-group deterministic top-n sample (operators/sampling.py "
    "group_sample_topn): the n rows with smallest full-md5(key || "
    "seed) per group (key tiebreak) ARE a uniform without-replacement "
    "sample — the 'at most n examples per domain' cap, reproducible "
    "across engines (oracle reproduces the exact member rows). One "
    "shuffle on the group key; "
    "Spark's WindowGroupLimit pushes rank <= n below the sort so "
    "map-side partial top-n bounds the shuffle at n rows per group "
    "per partition (plan-pinned in tests/test_sampling.py).",
)
def q66(spark, sf_dir):
    from vinum_spark.operators.sampling import group_sample_topn

    e = _t(spark, sf_dir, "events")
    return (
        group_sample_topn(e, "event_type", n=5, key_col="event_id", seed="cap")
        .select("event_type", "sample_rank", "event_id")
        .orderBy("event_type", "sample_rank")
    )


@_q(
    "q67_vocab_topk",
    """
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
      FROM documents
    ), occ AS (
      SELECT token, CAST(count(*) AS BIGINT) AS n_occurrences
      FROM toks GROUP BY token
    ), dfq AS (
      SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
      FROM toks GROUP BY token
    )
    SELECT token, n_occurrences, n_docs
    FROM occ JOIN dfq USING (token)
    ORDER BY n_occurrences DESC, token
    LIMIT 20
    """,
    "Corpus vocabulary top-20 (operators/text.py vocab_topk) — the "
    "canonical hot-key aggregation ('the' is in every row): "
    "occurrences go through the salted two-phase count so no reducer "
    "sees a full token's volume, document frequency dedups (token, "
    "doc) pairs before counting, and the top-k is a "
    "TakeOrderedAndProject with token-text tiebreak so both engines "
    "produce one total order. The oracle computes the plain "
    "aggregation — salted phases must be numerically invisible.",
)
def q67(spark, sf_dir):
    return X.vocab_topk(_t(spark, sf_dir, "documents"), k=20)


@_q(
    "q68_decontamination",
    r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
    ), grams AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, greatest(len(t) - 3, 1) + 1),
               i -> array_to_string(t[i:i+3], ' ')))) AS gram
      FROM toks
    ), ev AS (
      SELECT DISTINCT gram FROM grams WHERE doc_id % 10 = 0
    )
    SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_gram_hits
    FROM grams g JOIN ev USING (gram)
    WHERE g.doc_id % 10 <> 0
    GROUP BY g.doc_id
    ORDER BY g.doc_id
    """,
    "Benchmark decontamination (operators/dedup.py contaminated_docs): "
    "corpus documents sharing any word 4-gram with the eval slice "
    "(doc_id % 10 = 0 stands in for the benchmark set). The eval "
    "distinct-gram frame is BROADCAST — at 100 TB the corpus never "
    "shuffles for the membership probe; the only corpus-keyed shuffle "
    "is the per-document hit count. The GPT-3/PaLM overlap rule, "
    "word-gram variant.",
)
def q68(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 10 != 0)
    eval_df = d.filter(F.col("doc_id") % 10 == 0)
    return D.contaminated_docs(corpus, eval_df, n=4).orderBy("doc_id")


@_q(
    "q69_boilerplate_removal",
    r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
    ), segs AS (
      SELECT doc_id, j AS pos,
             array_to_string(t[(j-1)*4+1:(j-1)*4+4], ' ') AS seg
      FROM (SELECT doc_id, t,
                   unnest(range(1, greatest(CAST(ceil(len(t) / 4.0) AS INTEGER), 1) + 1)) AS j
            FROM toks)
    ), boiler AS (
      SELECT seg FROM segs GROUP BY seg
      HAVING count(DISTINCT doc_id) >
             CAST(floor(0.05 * (SELECT count(*) FROM documents)) AS BIGINT)
    ), kept AS (
      SELECT s.doc_id,
             array_to_string(array_agg(s.seg ORDER BY s.pos), ' ') AS clean_text,
             CAST(count(*) AS BIGINT) AS n_kept
      FROM segs s ANTI JOIN boiler b ON s.seg = b.seg
      GROUP BY s.doc_id
    ), totals AS (
      SELECT doc_id,
             CAST(greatest(CAST(ceil(len(t) / 4.0) AS INTEGER), 1) AS BIGINT) AS n_segments
      FROM toks
    )
    SELECT t.doc_id,
           COALESCE(k.clean_text, '') AS clean_text,
           t.n_segments,
           CAST(t.n_segments - COALESCE(k.n_kept, 0) AS BIGINT) AS n_removed
    FROM totals t LEFT JOIN kept k USING (doc_id)
    ORDER BY t.doc_id
    """,
    "CCNet-style cross-document boilerplate removal (operators/text.py "
    "remove_boilerplate): 4-word segments occurring in >5% of all "
    "documents are dropped everywhere and survivors reassembled in "
    "order. Two shuffles (segment doc-frequency, per-doc reassembly); "
    "the boilerplate set is inherently small (a segment must recur "
    "across >5% of docs) and is BROADCAST to the anti-join.",
)
def q69(spark, sf_dir):
    return X.remove_boilerplate(
        _t(spark, sf_dir, "documents"), width=4, max_doc_frac=0.05
    ).orderBy("doc_id")


@_q(
    "q70_lm_quality_score",
    """
    WITH pairs AS (
      SELECT doc_id, substr(text, i, 2) AS bg
      FROM (SELECT doc_id, text, unnest(range(1, length(text))) AS i
            FROM documents WHERE length(text) >= 2)
    ), bgc AS (
      SELECT bg, count(*) AS n_bg FROM pairs GROUP BY bg
    ), pfx AS (
      SELECT substr(bg, 1, 1) AS c1, count(*) AS n_c1 FROM pairs GROUP BY 1
    ), voc AS (
      SELECT count(DISTINCT substr(bg, 2, 1)) AS v FROM pairs
    ), model AS (
      SELECT bg, ln((n_bg + 1.0) / (n_c1 + 1.0 * v)) AS logp
      FROM bgc JOIN pfx ON substr(bg, 1, 1) = c1 CROSS JOIN voc
    )
    SELECT p.doc_id, round(avg(m.logp), 4) AS lm_score
    FROM pairs p JOIN model m USING (bg)
    GROUP BY p.doc_id
    ORDER BY p.doc_id
    """,
    "Corpus char-bigram LM quality score (operators/text.py "
    "lm_quality_score) — the cheap stand-in for CCNet's KenLM "
    "perplexity filter: mean ln P(c2|c1) under add-one Laplace "
    "estimates trained on the corpus itself. The model is bounded by "
    "charset-squared (not corpus size) and BROADCAST into the scoring "
    "join; training is one partial-agg count per bigram — word-count "
    "shape at 100 TB.",
)
def q70(spark, sf_dir):
    return X.lm_quality_score(_t(spark, sf_dir, "documents")).orderBy("doc_id")


@_q(
    "q71_pack_sequences",
    """
    WITH sharded AS (
      SELECT doc_id, n_chars,
             CAST(('0x' || substring(md5(concat_ws(chr(31),
                 CAST(doc_id AS VARCHAR), '0')), 1, 8))::UBIGINT % 8 AS INT) AS shard,
             md5(concat_ws(chr(31), CAST(doc_id AS VARCHAR), '0')) AS rk
      FROM documents
    ), packed AS (
      SELECT shard, n_chars,
             COALESCE(SUM(n_chars) OVER (PARTITION BY shard ORDER BY rk, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS seq_pos
      FROM sharded
    )
    SELECT shard, CAST(floor(seq_pos / 2000.0) AS BIGINT) AS seq_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS seq_len
    FROM packed
    GROUP BY shard, seq_id
    ORDER BY shard, seq_id
    """,
    "Budget-striped sequence packing (operators/sampling.py "
    "pack_sequences): documents ordered by the deterministic md5 rank "
    "inside 8 md5 shards, seq_id = floor(running-length-before / "
    "2000) — a pure window expression (no sequential first-fit loop), "
    "identical on any engine/partitioning. One shuffle + one "
    "in-partition sort per shard; shards bound sort size and skew at "
    "100 TB. Verified per packed sequence by doc count + length sum.",
)
def q71(spark, sf_dir):
    from vinum_spark.operators.sampling import pack_sequences

    d = _t(spark, sf_dir, "documents")
    return (
        pack_sequences(d, "n_chars", "doc_id", budget=2000, n_shards=8)
        .groupBy("shard", "seq_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("seq_len"),
        )
        .orderBy("shard", "seq_id")
    )


@_q(
    "q72_incremental_dedup",
    r"""
    WITH fp AS (
      SELECT doc_id,
             md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fingerprint
      FROM documents
    ), store AS (
      SELECT DISTINCT fingerprint FROM fp WHERE doc_id % 3 = 0
    ), batch AS (
      SELECT * FROM fp WHERE doc_id % 3 <> 0
    ), fresh AS (
      SELECT b.* FROM batch b ANTI JOIN store s ON b.fingerprint = s.fingerprint
    )
    SELECT doc_id, fingerprint
    FROM (SELECT doc_id, fingerprint,
                 row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn
          FROM fresh)
    WHERE rn = 1
    ORDER BY doc_id
    """,
    "Incremental exact dedup against a fingerprint store "
    "(operators/dedup.py dedup_against_store): the doc_id%3=0 slice "
    "plays the historical corpus (16-byte digests only — ~2 TB of "
    "state per trillion docs, no text re-scan), the rest is the new "
    "batch. Anti-join on the digest + one in-batch survivor shuffle; "
    "bucketing the store by fingerprint makes follow-up runs shuffle "
    "only the batch side.",
)
def q72(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    store = X.with_fingerprint(d.filter(F.col("doc_id") % 3 == 0)).select("fingerprint")
    batch = d.filter(F.col("doc_id") % 3 != 0)
    return (
        D.dedup_against_store(batch, store)
        .select("doc_id", "fingerprint")
        .orderBy("doc_id")
    )


@_q(
    "q73_bm25_search",
    r"""
    WITH base AS (
      -- dl0 mirrors Spark's _tokens: whitespace-only text has ZERO
      -- tokens (string_split_regex(trim(''), '\s+') would report 1)
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(string_split_regex(trim(text), '\s+')) END AS dl0
      FROM documents
    ), stats AS (
      SELECT count(*) AS n, avg(dl0) AS avgdl FROM base
    ), tf AS (
      SELECT doc_id, dl, tok, CAST(count(*) AS DOUBLE) AS tf
      FROM (SELECT doc_id, CAST(dl0 AS DOUBLE) AS dl,
                   unnest(list_transform(t, x -> lower(x))) AS tok
            FROM base)
      WHERE tok IN ('spark', 'vector', 'window')
      GROUP BY doc_id, dl, tok
    ), dfreq AS (
      SELECT tok, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY tok
    )
    SELECT doc_id,
           round(sum(ln((n - df + 0.5) / (df + 0.5) + 1.0)
                     * tf * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 4) AS bm25
    FROM tf JOIN dfreq USING (tok) CROSS JOIN stats
    GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id
    LIMIT 10
    """,
    "BM25 keyword retrieval (operators/text.py bm25_topk) for the "
    "query {spark, vector, window}: Robertson idf + k1=1.2/b=0.75 "
    "saturation. Query-term tf comes from a filtered token explode "
    "(exploded rows proportional to query-term occurrences, not "
    "corpus tokens); corpus stats (N, avgdl) and per-term df are tiny "
    "BROADCAST frames; the top-10 is a TakeOrderedAndProject, never a "
    "full sort.",
)
def q73(spark, sf_dir):
    return X.bm25_topk(
        _t(spark, sf_dir, "documents"), terms=["spark", "vector", "window"], k=10
    )


@_q(
    "q74_mixture_sample",
    r"""
    WITH q AS (
      SELECT doc_id, source, n_chars,
             round(length(regexp_replace(text, '\s', '', 'g')) / greatest(
               CASE WHEN trim(text) = '' THEN 0
                    ELSE len(string_split_regex(trim(text), '\s+')) END, 1), 6)
               AS quality
      FROM documents
    ), alloc AS (
      SELECT *,
             CASE source WHEN 'src0' THEN 0.4 * 10000
                         WHEN 'src1' THEN 0.3 * 10000
                         WHEN 'src2' THEN 0.2 * 10000
                         WHEN 'src3' THEN 0.1 * 10000 END AS a,
             COALESCE(SUM(n_chars) OVER (PARTITION BY source
               ORDER BY quality DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
      FROM q
    )
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           min(doc_id) AS min_id, max(doc_id) AS max_id
    FROM alloc WHERE before < a
    GROUP BY source
    ORDER BY source
    """,
    "Quality-weighted corpus mixing (operators/sampling.py "
    "mixture_sample): fill 40/30/20/10% of a 10k-char budget from "
    "src0-src3 with each source's highest-mean-token-length documents "
    "(quality desc, doc_id tiebreak — total order, engine-portable). "
    "One stratum-keyed shuffle + in-partition window cumsum, weight "
    "table inlined as a CASE; unlisted sources get nothing. The "
    "data-mixing step that blends web/books/code to target proportions "
    "for a training run.",
)
def q74(spark, sf_dir):
    from vinum_spark.operators.sampling import mixture_sample

    d = X.with_text_stats(_t(spark, sf_dir, "documents"))
    picked = mixture_sample(
        d,
        strata_col="source",
        weights={"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1},
        budget=10000,
        length_col="n_chars",
        quality_col="mean_token_len",
        key_col="doc_id",
    )
    return (
        picked.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
        .orderBy("source")
    )


def _q75_oracle() -> str:
    return r"""
    WITH corpus AS (
      SELECT doc_id, source, text FROM documents WHERE doc_id % 10 <> 0
    ), base AS (
      SELECT doc_id, source, text,
        list_filter(string_split(text, chr(10)), x -> length(trim(x)) > 0)
          AS lines,
        regexp_extract_all(text, '[A-Za-z]+') AS words,
        length(regexp_replace(text, '[^#…]', '', 'g')) AS n_symbols
      FROM corpus
    ), sig AS (
      SELECT doc_id, source, text,
        len(lines) AS n_lines,
        greatest(len(lines), 1) AS safe_lines,
        len(list_distinct(list_transform(lines, x -> trim(x)))) AS n_distinct,
        len(list_filter(lines, x -> regexp_matches(trim(x), '^[-*•]')))
          AS n_bullet,
        greatest(len(words), 1) AS safe_words,
        coalesce(list_sum(list_transform(words, w -> length(w))), 0)
          AS word_chars,
        n_symbols
      FROM base
    ), passed AS (
      SELECT doc_id, source, text FROM sig
      WHERE round((n_lines - n_distinct) / CAST(safe_lines AS DOUBLE), 6) <= 0.30
        AND round(n_symbols / CAST(safe_words AS DOUBLE), 6) <= 0.10
        AND round(n_bullet / CAST(safe_lines AS DOUBLE), 6) <= 0.90
        AND round(word_chars / CAST(safe_words AS DOUBLE), 6) >= 2.0
        AND round(word_chars / CAST(safe_words AS DOUBLE), 6) <= 12.0
    ), dd AS (
      SELECT doc_id, source, text FROM (
        SELECT passed.*,
               row_number() OVER (
                 PARTITION BY md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
                 ORDER BY doc_id) AS rn
        FROM passed) WHERE rn = 1
    ), toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM dd
    ), grams AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, greatest(len(t) - 3, 1) + 1),
               i -> array_to_string(t[i:i+3], ' ')))) AS gram
      FROM toks
    ), ev AS (
      SELECT DISTINCT gram FROM (
        SELECT unnest(list_distinct(list_transform(
                 range(1, greatest(len(string_split_regex(trim(text), '\s+')) - 3, 1) + 1),
                 i -> array_to_string(string_split_regex(trim(text), '\s+')[i:i+3], ' '))))
               AS gram
        FROM documents WHERE doc_id % 10 = 0)
    ), hits AS (
      SELECT DISTINCT g.doc_id FROM grams g JOIN ev USING (gram)
    ), clean AS (
      SELECT dd.* FROM dd ANTI JOIN hits h ON dd.doc_id = h.doc_id
    )
    SELECT CAST(('0x' || substring(md5(concat_ws(chr(31),
             CAST(doc_id AS VARCHAR), '0')), 1, 8))::UBIGINT % 4 AS INT) AS shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           min(doc_id) AS min_id,
           max(doc_id) AS max_id
    FROM clean GROUP BY shard ORDER BY shard
    """


@_q(
    "q75_prepare_corpus",
    _q75_oracle(),
    "The one-call pipeline API gate: prepare_corpus itself (not a "
    "manual chain) runs quality rules -> exact dedup -> benchmark "
    "decontamination (4-grams vs the doc_id%10=0 eval slice) -> "
    "4-way shard over the corpus slice, and the DuckDB oracle "
    "reproduces the composed chain byte-for-byte per shard. Proves "
    "the API wiring preserves each gated stage's semantics (q58, "
    "q27, q68, q62) through composition, including the "
    "decontamination anti-join staying un-broadcast and the eval "
    "set transforming alongside the corpus.",
)
def q75(spark, sf_dir):
    from vinum_spark.operators.pipeline import CorpusConfig, prepare_corpus

    d = _t(spark, sf_dir, "documents")
    out = prepare_corpus(
        d.filter(F.col("doc_id") % 10 != 0),
        CorpusConfig(
            quality_filter=True,
            dedup=True,
            decontaminate_against=d.filter(F.col("doc_id") % 10 == 0),
            decontaminate_ngram=4,
            n_shards=4,
        ),
    )
    return (
        out.groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
        .orderBy("shard")
    )


@_q(
    "q76_encode_tokens",
    r"""
    WITH toks AS (
      -- whitespace-only docs have ZERO tokens (string_split_regex of ''
      -- would report ['']); they re-enter via the final left join
      SELECT doc_id, unnest(t) AS tok,
             generate_subscripts(t, 1) AS pos
      FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
            FROM documents WHERE trim(text) <> '')
    ), vocab AS (
      SELECT tok AS token,
             CAST(row_number() OVER (ORDER BY n DESC, tok) AS INT) AS token_id
      FROM (SELECT lower(tok) AS tok, count(*) AS n
            FROM toks GROUP BY lower(tok)
            ORDER BY n DESC, tok LIMIT 30)
    ), looked AS (
      SELECT t.doc_id, t.pos,
             COALESCE(v.token_id, 0) AS id,
             CASE WHEN v.token_id IS NULL THEN 1 ELSE 0 END AS oov
      FROM toks t LEFT JOIN vocab v ON lower(t.tok) = v.token
    )
    , grouped AS (
      SELECT doc_id,
             md5(array_to_string(list_transform(
               list_sort(list_zip(array_agg(pos), array_agg(id)),
                         'ASC'), p -> p[2]), ',')) AS ids_hash,
             CAST(count(*) AS BIGINT) AS seq_len,
             CAST(sum(oov) AS BIGINT) AS n_oov
      FROM looked
      GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(g.ids_hash, md5('')) AS ids_hash,
           COALESCE(g.seq_len, 0) AS seq_len,
           COALESCE(g.n_oov, 0) AS n_oov
    FROM documents d LEFT JOIN grouped g USING (doc_id)
    ORDER BY d.doc_id
    """,
    "Token-ID encoding (operators/text.py encode_tokens) against a "
    "vocab of the 30 most frequent lowercased corpus tokens "
    "(count-desc, token tiebreak — one total order both engines "
    "agree on): OOV -> 0, per-document id sequence re-assembled in "
    "token position order. The id sequence is verified by md5 of its "
    "comma-join (portable across list types), plus length and OOV "
    "counts. Vocab is BROADCAST into the lookup — map-side encode, "
    "one doc-keyed shuffle for ordered reassembly, no driver-side "
    "vocab collect.",
)
def q76(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    toks = d.filter(F.trim(F.col("text")) != "").select(
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("tok")
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("tok").asc())
        .limit(30)
        .select(
            F.col("tok").alias("token"),
            F.row_number()
            .over(Window.orderBy(F.col("n").desc(), F.col("tok").asc()))
            .cast("int")
            .alias("token_id"),
        )
    )
    enc = X.encode_tokens(
        d.withColumn("text", F.lower(F.col("text"))), vocab
    )
    return enc.select(
        "doc_id",
        F.md5(F.array_join(F.col("token_ids"), ",")).alias("ids_hash"),
        "seq_len",
        "n_oov",
    ).orderBy("doc_id")


@_q(
    "q77_ann_pq",
    f"""
    SELECT CAST(10 AS BIGINT) AS k,
           {_ANN_TOP1_SUBQ} AS ann_top1_id,
           TRUE AS recall_ok
    """,
    "Approximate NN via product quantization (operators/similarity.py "
    "train_pq_codebooks + pq_topk): per-subspace k-means codebooks "
    "trained on a deterministic 2048-id sample, vectors stored as 16 "
    "sub-codes (64-dim float32 -> 16 bytes, 16x memory cut — the "
    "Jegou/Douze/Schmid TPAMI'11 shape for corpora whose raw vectors "
    "don't fit the cluster), asymmetric-distance scan over codes only "
    "+ exact cosine re-rank of the best 200. Gated like q32/q46: ANN "
    "top-1 must equal the oracle's exact top-1 and recall@10 >= 0.7 "
    "(measured 1.0 at every SF with trained books). The scan reads "
    "only the code column; candidate selection is a TakeOrdered; no "
    "shuffle anywhere.",
)
def q77(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    books = S.train_pq_codebooks(emb, 64, m=16, n_codes=64)
    ann = S.pq_topk(emb, q, k=10, m=16, n_codes=64, rerank=200, codebooks=books)
    exact = S.cosine_topk(emb, q, k=10)
    return _ann_recall_gate(ann, exact, min_overlap=7)


@_q(
    "q78_knn_join",
    """
    WITH q AS (
      SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id % 50 = 0
    ), c AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id % 50 <> 0
    ), scored AS (
      SELECT q.query_id, c.vec_id,
             list_cosine_similarity(q.embedding, c.embedding) AS cos
      FROM q CROSS JOIN c
    ), ranked AS (
      SELECT query_id, vec_id, cos,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY round(cos, 6) DESC, vec_id) AS rank
      FROM scored
    )
    SELECT query_id, CAST(rank AS INT) AS rank, vec_id,
           round(cos, 4) AS cosine
    FROM ranked WHERE rank <= 5
    ORDER BY query_id, rank
    """,
    "Batched exact k-NN join (operators/similarity.py knn_join): the "
    "top-5 corpus neighbors for EVERY row of a query table (vec_id%50 "
    "slice) — the retrieval-augmentation shape, where the query side "
    "is a table, not a literal. Corpus hashed into blocks once, "
    "queries replicated per block, one BLAS matmul + LOCAL top-k per "
    "(query-block, corpus-block) bucket, then a bounded global re-rank "
    "over |Q| x n_blocks x k candidates — never |Q| x |C| rows, no "
    "broadcast of either table, no cartesian (CI plan guards run on "
    "this query like every other). Oracle computes the exact "
    "cross-join ranking.",
)
def q78(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return S.knn_join(
        emb.filter(F.col("vec_id") % 50 == 0),
        emb.filter(F.col("vec_id") % 50 != 0),
        k=5,
    ).orderBy("query_id", "rank")


@_q(
    "q79_ann_ivfpq",
    f"""
    SELECT CAST(10 AS BIGINT) AS k,
           {_ANN_TOP1_SUBQ} AS ann_top1_id,
           TRUE AS recall_ok
    """,
    "The COMPOSED IVF-PQ path (operators/similarity.py ivfpq_topk): "
    "coarse cell pruning (nprobe=12 of 16, the q46 setting) over "
    "vectors stored as 16 PQ sub-codes (the q77 setting), asymmetric-"
    "distance scan of only the probed cells' codes + exact re-rank of "
    "the best 200 — the faiss IVFx,PQy layout for billion-scale "
    "corpora. q46 and q77 gate the components; this gates their "
    "composition (cell filter must not starve the ADC scan, codebooks "
    "trained corpus-wide must rank within probed cells): ANN top-1 "
    "must equal the oracle's exact top-1 and recall@10 >= 0.7.",
)
def q79(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    books = S.train_pq_codebooks(emb, 64, m=16, n_codes=64)
    ann = S.ivfpq_topk(
        emb, q, k=10, n_cells=16, nprobe=12, m=16, n_codes=64,
        rerank=200, codebooks=books,
    )
    exact = S.cosine_topk(emb, q, k=10)
    return _ann_recall_gate(ann, exact, min_overlap=7)


@_q(
    "q80_media_probe",
    """
    SELECT doc_id,
           CASE doc_id % 3 WHEN 0 THEN 'flac-streaminfo'
                           WHEN 1 THEN 'wav-fmt'
                           ELSE 'mpeg-frames' END AS decoder,
           CAST(CASE doc_id % 3 WHEN 2 THEN 2
                                ELSE 1 + doc_id % 2 END AS INT) AS channels,
           CAST(CASE doc_id % 3 WHEN 2 THEN 44100
                                ELSE 8000 + (doc_id % 5) * 4000
                END AS INT) AS sample_rate,
           -- NOT rounded: both engines divide the same small integers,
           -- and IEEE correctly-rounded quotients of equal real values
           -- are bit-identical — while round(x, 6) lands exactly on
           -- half-boundaries for n*1152/44100 and splits half-up vs
           -- half-even across engines
           CASE doc_id % 3
                WHEN 2 THEN (10 + doc_id % 20) * 1152.0 / 44100
                ELSE (1000 + doc_id % 7000)
                     / (8000.0 + (doc_id % 5) * 4000) END AS duration_s
    FROM documents
    ORDER BY doc_id
    """,
    "Media probe under the oracle gate: per doc, Spark BUILDS a real "
    "media file from doc_id-derived parameters (FLAC STREAMINFO / "
    "PCM-WAV header / MPEG1-L3 frame run, rotating by doc_id%3, inside "
    "an Arrow-batched mapInPandas) and probe_media must parse back the "
    "exact channels/rate/duration — which the oracle computes in CLOSED "
    "FORM from doc_id, so a builder/parser disagreement on any field "
    "of any row hash-mismatches. Parsers are additionally pinned "
    "against spec fixtures and fuzz (tests/test_multimodal.py, "
    "test_property.py); this gate adds the distributed plumbing and "
    "field-arithmetic parity at corpus scale.",
)
def q80(spark, sf_dir):
    import pandas as pd

    from vinum_spark.operators.multimodal import probe_media

    def build(it):
        def flac_bytes(rate, channels, total):
            b = bytearray(34)
            b[10] = (rate >> 12) & 0xFF
            b[11] = (rate >> 4) & 0xFF
            b[12] = ((rate & 0xF) << 4) | ((channels - 1) << 1)
            b[12] |= (16 - 1) >> 4
            b[13] = (((16 - 1) & 0xF) << 4) | ((total >> 32) & 0xF)
            b[14:18] = (total & 0xFFFFFFFF).to_bytes(4, "big")
            return b"fLaC" + bytes([0x80]) + (34).to_bytes(3, "big") + bytes(b)

        def wav_bytes(rate, channels, total):
            size = total * channels * 2
            byte_rate = rate * channels * 2
            return (
                b"RIFF" + (36 + size).to_bytes(4, "little") + b"WAVE"
                + b"fmt " + (16).to_bytes(4, "little")
                + (1).to_bytes(2, "little") + channels.to_bytes(2, "little")
                + rate.to_bytes(4, "little") + byte_rate.to_bytes(4, "little")
                + (channels * 2).to_bytes(2, "little")
                + (16).to_bytes(2, "little")
                + b"data" + size.to_bytes(4, "little")  # headers only
            )

        def mp3_bytes(n_frames):
            frame = bytes([0xFF, 0xFB, 0x90, 0x40])
            frame += b"\x00" * (144 * 128000 // 44100 - 4)
            return frame * n_frames

        for pdf in it:
            content = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                if d % 3 == 0:
                    content.append(flac_bytes(
                        8000 + (d % 5) * 4000, 1 + d % 2, 1000 + d % 7000))
                elif d % 3 == 1:
                    content.append(wav_bytes(
                        8000 + (d % 5) * 4000, 1 + d % 2, 1000 + d % 7000))
                else:
                    content.append(mp3_bytes(10 + d % 20))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "content": content})

    d = _t(spark, sf_dir, "documents").select("doc_id")
    assets = d.mapInPandas(build, schema="doc_id long, content binary")
    probe = probe_media(assets, id_col="doc_id")
    return probe.select(
        F.col("asset_id").cast("long").alias("doc_id"),
        "decoder",
        "channels",
        "sample_rate",
        "duration_s",
    ).orderBy("doc_id")


@_q(
    "q81_audio_decode",
    """
    SELECT doc_id,
           CASE doc_id % 3 WHEN 0 THEN 'flac-pcm'
                           WHEN 1 THEN 'ima-adpcm'
                           ELSE 'mulaw' END AS decoder,
           CAST(1 AS INT) AS n_channels,
           CAST(8000 AS INT) AS sample_rate,
           CAST(CASE doc_id % 3
                WHEN 1 THEN ((1200 + (doc_id % 7) * 128) // 505) * 505
                ELSE 1200 + (doc_id % 7) * 128 END AS BIGINT) AS n_samples,
           -- exact small-integer quotients: bit-identical across engines
           CASE doc_id % 3
                WHEN 1 THEN (((1200 + (doc_id % 7) * 128) // 505) * 505)
                            / 8000.0
                ELSE (1200 + (doc_id % 7) * 128) / 8000.0
           END AS duration_s
    FROM documents
    ORDER BY doc_id
    """,
    "REAL sample decode under the oracle gate (the q80 pattern, one "
    "level deeper): per doc, Spark BUILDS a fully-decodable audio file "
    "from doc_id-derived parameters — verbatim-subframe FLAC (every "
    "field byte-aligned, so the builder is pure bytes), IMA ADPCM WAV "
    "(true encode recurrence), or G.711 mu-law WAV, rotating by "
    "doc_id%3 — and decode_audio must DECODE the samples back out, "
    "reporting the exact count/rate/duration the oracle computes in "
    "CLOSED FORM from doc_id. A builder/decoder disagreement on any "
    "row hash-mismatches; sample-VALUE exactness is pinned separately "
    "by the encoder round-trip tests (tests/test_multimodal.py).",
)
def q81(spark, sf_dir):
    import pandas as pd

    from vinum_spark.operators.multimodal import decode_audio

    def build(it):
        import numpy as np

        RATE = 8000

        def streaminfo(total):
            b = bytearray(34)
            b[10] = (RATE >> 12) & 0xFF
            b[11] = (RATE >> 4) & 0xFF
            b[12] = ((RATE & 0xF) << 4) | (15 >> 4)  # mono, 16-bit
            b[13] = ((15 & 0xF) << 4) | ((total >> 32) & 0xF)
            b[14:18] = (total & 0xFFFFFFFF).to_bytes(4, "big")
            return (b"fLaC" + bytes([0x80]) + (34).to_bytes(3, "big")
                    + bytes(b))

        def flac_verbatim(wave):
            # mono 16-bit verbatim subframes: header fields, the
            # subframe tag and the samples all land on byte boundaries
            out = bytearray(streaminfo(len(wave)))
            for i, b0 in enumerate(range(0, len(wave), 192)):
                blk = wave[b0 : b0 + 192]
                out += bytes([0xFF, 0xF8,  # sync + fixed blocking
                              0x60,        # bs code 6 | rate from SI
                              0x08,        # mono | bps 16
                              i, len(blk) - 1, 0,  # frame#, bs-1, CRC-8
                              0x02])       # subframe VERBATIM
                out += np.asarray(blk, dtype=">i2").tobytes()
                out += b"\x00\x00"  # frame CRC-16 (not validated)
            return bytes(out)

        _IDX = (-1, -1, -1, -1, 2, 4, 6, 8)
        _STEPS = (
            7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31,
            34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130,
            143, 157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408,
            449, 494, 544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282,
            1411, 1552, 1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327,
            3660, 4026, 4428, 4871, 5358, 5894, 6484, 7132, 7845, 8630,
            9493, 10442, 11487, 12635, 13899, 15289, 16818, 18500, 20350,
            22385, 24623, 27086, 29794, 32767)

        def ima_adpcm(wave):
            # mono blocks of 505 samples (block_align 256); full blocks
            # only, matching the closed-form (n // 505) * 505 count
            out = bytearray()
            index = 0
            for b0 in range(0, (len(wave) // 505) * 505, 505):
                blk = wave[b0 : b0 + 505]
                pred = int(blk[0])
                out += int(pred).to_bytes(2, "little", signed=True)
                out += bytes([index, 0])
                nibs = []
                for v in blk[1:]:
                    step = _STEPS[index]
                    delta = int(v) - pred
                    nib = 0x8 if delta < 0 else 0
                    delta = abs(delta)
                    if delta >= step:
                        nib |= 4
                        delta -= step
                    if delta >= step >> 1:
                        nib |= 2
                        delta -= step >> 1
                    if delta >= step >> 2:
                        nib |= 1
                    diff = step >> 3
                    if nib & 4:
                        diff += step
                    if nib & 2:
                        diff += step >> 1
                    if nib & 1:
                        diff += step >> 2
                    pred = min(max(pred + (-diff if nib & 8 else diff),
                                   -32768), 32767)
                    index = min(max(index + _IDX[nib & 7], 0), 88)
                    nibs.append(nib)
                out += bytes(
                    nibs[i] | (nibs[i + 1] << 4)
                    for i in range(0, len(nibs), 2)
                )
            return wav(bytes(out), 0x11, 4, 256)

        def mulaw_byte(x):
            sign = 0x80 if x < 0 else 0
            x = min((-x if x < 0 else x) + 0x84, 0x7FFF)
            seg = max(x.bit_length() - 8, 0)
            return ~(sign | (seg << 4) | ((x >> (seg + 3)) & 0x0F)) & 0xFF

        def wav(payload, fmt, bits, block_align):
            return (
                b"RIFF" + (36 + len(payload)).to_bytes(4, "little")
                + b"WAVE" + b"fmt " + (16).to_bytes(4, "little")
                + fmt.to_bytes(2, "little") + (1).to_bytes(2, "little")
                + RATE.to_bytes(4, "little")
                + (RATE * bits // 8).to_bytes(4, "little")
                + block_align.to_bytes(2, "little")
                + bits.to_bytes(2, "little")
                + b"data" + len(payload).to_bytes(4, "little") + payload
            )

        for pdf in it:
            content = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                n = 1200 + (d % 7) * 128
                wave = np.round(
                    9000.0 * np.sin((np.arange(n) + d) / 9.0)
                ).astype(np.int64)
                if d % 3 == 0:
                    content.append(flac_verbatim(wave))
                elif d % 3 == 1:
                    content.append(ima_adpcm(wave))
                else:
                    content.append(wav(
                        bytes(mulaw_byte(int(v)) for v in wave), 7, 8, 1))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "content": content})

    # Repartition the 8-byte id column BEFORE the CPU-bound Python
    # kernel: the sf0.1 documents table is one parquet split, which
    # would serialize the whole build+decode on a single core. This is
    # the 100 TB pattern for expensive per-row stages over narrow
    # inputs — shuffle the tiny key column, never the binary payloads
    # (measured: 12.8 s -> ~2 s at sf0.1 on local[32]).
    d = D._spread(_t(spark, sf_dir, "documents").select("doc_id"), "doc_id")
    assets = d.mapInPandas(build, schema="doc_id long, content binary")
    return decode_audio(assets, id_col="doc_id").select(
        F.col("asset_id").cast("long").alias("doc_id"),
        "decoder",
        "n_channels",
        "sample_rate",
        "n_samples",
        "duration_s",
    ).orderBy("doc_id")


@_q(
    "q83_image_neardup",
    """
    SELECT CAST(doc_id AS BIGINT) AS id_a,
           CAST(doc_id + 100000 AS BIGINT) AS id_b
    FROM documents
    WHERE doc_id % 4 = 0
    ORDER BY id_a
    """,
    "Image near-dup under the oracle gate — the decode -> feature -> "
    "LSH -> exact-verify chain end-to-end (VERDICT r10 item 6). Per "
    "doc, Spark BUILDS a real 16x16 grayscale PNG whose 8x8 pooled "
    "pattern is a doc_id-unranked 3-subset of the 64 cells (combinadic "
    "-> injective for any corpus up to C(64,3)=41664 docs), and for "
    "doc_id%4==0 a deterministically-perturbed twin (+/-2 per-cell "
    "jitter) at id+100000. extract_features must DECODE the pixels "
    "(png-pool8, no stub), hyperplane LSH must bucket the twins "
    "together, and exact cosine verify at 0.95 must keep EXACTLY the "
    "planted pairs: twins land at cos ~0.999 while any two distinct "
    "patterns share at most 2 of 3 hot cells (cos <= ~2/3), so both a "
    "recall miss and a precision leak hash-mismatch the closed-form "
    "oracle. Pixel decode itself is round-trip-pinned in "
    "tests/test_multimodal.py; this gate adds the distributed "
    "image-dedup plumbing at corpus scale.",
)
def q83(spark, sf_dir):
    import pandas as pd

    from vinum_spark.operators.multimodal import _png_encode
    from vinum_spark.operators.multimodal import extract_features
    from vinum_spark.operators.similarity import lsh_blocked_cosine_pairs

    def build(it):
        import numpy as np

        def unrank3(k):
            # combinadic: k -> unique {a < b < c} ⊂ [0, 64)
            c = 2
            while (c + 1) * c * (c - 1) // 6 <= k:
                c += 1
            k -= c * (c - 1) * (c - 2) // 6
            b = 1
            while (b + 1) * b // 2 <= k:
                b += 1
            k -= b * (b - 1) // 2
            return k, b, c

        def cells_to_png(values):
            # 8x8 cell values -> 16x16 gray PNG (2x2 px per pooled cell)
            img = np.repeat(
                np.repeat(values.reshape(8, 8), 2, axis=0), 2, axis=1
            ).astype("uint8")
            return _png_encode(img[:, :, None])

        for pdf in it:
            ids, blobs = [], []
            for d in pdf["doc_id"]:
                d = int(d)
                cells = np.full(64, 10, dtype="int64")
                for hot in unrank3(d % 41664):
                    cells[hot] = 245
                ids.append(d)
                blobs.append(cells_to_png(cells))
                if d % 4 == 0:
                    jitter = (d * 31 + np.arange(64)) % 5 - 2
                    ids.append(d + 100000)
                    blobs.append(cells_to_png(cells + jitter))
            yield pd.DataFrame({"doc_id": ids, "content": blobs})

    # same spread-before-Python-kernel pattern as q81: shuffle the tiny
    # id column so the build+decode parallelizes, never the payloads
    d = D._spread(_t(spark, sf_dir, "documents").select("doc_id"), "doc_id")
    assets = d.mapInPandas(build, schema="doc_id long, content binary")
    # lazy-checkpoint the (id, 64-float) feature frame: it is referenced
    # by the LSH band self-join AND cosine_verify's two id joins, and an
    # uncheckpointed reference re-runs the whole Python build->decode
    # chain per occurrence — the before-plan held FOUR MapInPandas
    # build+extract pairs (plans/r18/q83_..._before.txt); the persisted
    # frame is one id + 64 floats per asset, bounded at any scale
    # (round-18; guide §4: pay the Python boundary once)
    feats = (
        extract_features(assets, id_col="doc_id")
        .select(
            F.col("asset_id").alias("vec_id"),
            F.col("feature").alias("embedding"),
        )
        .localCheckpoint(eager=False)
    )
    # fused candidates + verify (round 19): same LSH bucket membership,
    # but the ~8.5M random 4-bit-key collisions at sf0.1 are evaluated
    # inside per-bucket-block BLAS kernels instead of materializing as
    # join rows through a distinct Exchange and two verify joins — only
    # pairs >= 0.95 ever exist as rows, and the block grid bounds any
    # task's work at block_rows^2 regardless of bucket skew. The
    # declared output keeps only the pair ids (twins at cos~0.999,
    # non-dups <= ~2/3), so the BLAS-vs-expression ulp difference
    # cannot alter it.
    pairs = lsh_blocked_cosine_pairs(
        feats, dim=64, threshold=0.95, n_planes=32, band_bits=4
    )
    return (
        pairs.select(
            F.col("id_a").cast("long").alias("id_a"),
            F.col("id_b").cast("long").alias("id_b"),
        )
        .orderBy("id_a")
    )



@_q(
    "q84_vorbis_decode",
    """
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'vorbis-pcm'
                ELSE 'webm-vorbis-pcm' END AS decoder,
           CAST(1 AS INT) AS n_channels,
           CAST(8000 AS INT) AS sample_rate,
           CAST(128 * (4 + doc_id % 5) AS BIGINT) AS n_samples,
           -- exact small-integer quotients: bit-identical across engines
           (128 * (4 + doc_id % 5)) / 8000.0 AS duration_s
    FROM documents
    ORDER BY doc_id
    """,
    "REAL lossy-codec sample decode under the oracle gate (the q81 "
    "pattern, one codec deeper): per doc, Spark BUILDS a complete "
    "Vorbis stream from doc_id-derived parameters with a compact "
    "inline encoder (in-stream codebooks, sloped floor1, residue "
    "type 1, 256-sample blocks) — muxed into Ogg for even doc_ids and "
    "into a Matroska/WebM A_VORBIS track (Xiph-laced CodecPrivate + "
    "SimpleBlocks) for odd ones — and decode_audio must DECODE the "
    "samples back out through the full demux/Huffman/floor/residue/"
    "IMDCT path, reporting the exact count/rate/duration the oracle "
    "computes in CLOSED FORM from doc_id (the WebM path has no "
    "granule; its full lapped output equals the Ogg granule by "
    "construction). Sample-VALUE exactness is pinned "
    "separately by the independent-expectation round-trips in "
    "tests/test_vorbis.py. Vorbis (not MP3) is the lossy codec this "
    "engine decodes because its codebooks ship inside the stream: "
    "everything is algorithmic, nothing depends on reciting ISO "
    "Huffman tables that cannot be verified offline.",
)
def q84(spark, sf_dir):
    import pandas as pd

    from vinum_spark.operators.multimodal import decode_audio

    def build(it):
        RATE = 8000

        class W:  # LSB-first Vorbis bitpacker
            def __init__(self):
                self.buf = bytearray()
                self.acc = 0
                self.n = 0

            def w(self, v, k):
                self.acc |= (int(v) & ((1 << k) - 1)) << self.n
                self.n += k
                while self.n >= 8:
                    self.buf.append(self.acc & 0xFF)
                    self.acc >>= 8
                    self.n -= 8

            def done(self):
                return bytes(self.buf) + (
                    bytes([self.acc]) if self.n else b"")

        def page(chunks, granule, seq, htype):
            lac = bytearray()
            body = bytearray()
            for p in chunks:
                q, r = divmod(len(p), 255)
                lac += b"\xff" * q
                lac.append(r)
                body += p
            # CRC left zero: the decoder's page walk is liberal (the
            # spec-built test encoder writes real CRCs)
            return (b"OggS\x00" + bytes([htype])
                    + int(granule).to_bytes(8, "little")
                    + (0x7653).to_bytes(4, "little")
                    + int(seq).to_bytes(4, "little")
                    + b"\x00\x00\x00\x00"
                    + bytes([len(lac)]) + bytes(lac) + bytes(body))

        def f32(mant, exp, neg=False):  # Vorbis packed float
            return (0x80000000 if neg else 0) | (exp << 21) | mant

        w = W()
        w.w(0, 32), w.w(1, 8), w.w(RATE, 32), w.w(0, 96)
        w.w(8, 4), w.w(8, 4), w.w(1, 1)  # blocksizes 256/256
        ident = b"\x01vorbis" + w.done()
        w = W()
        w.w(0, 32), w.w(0, 32), w.w(1, 1)  # empty vendor, 0 comments
        comment = b"\x03vorbis" + w.done()
        w = W()
        w.w(1, 8)  # 2 codebooks
        w.w(0x564342, 24), w.w(1, 16), w.w(1, 24)  # book0: classbook
        w.w(0, 1), w.w(0, 1), w.w(0, 5), w.w(0, 4)  # 1 entry, len 1
        w.w(0x564342, 24), w.w(4, 16), w.w(16, 24)  # book1: dim 4 x 16
        w.w(0, 1), w.w(0, 1)
        for _ in range(16):
            w.w(3, 5)  # all lengths 4 -> canonical code == entry
        w.w(2, 4)  # VQ lookup type 2
        w.w(f32(1, 789, True), 32)  # minv -2.0
        w.w(f32(1, 786), 32)  # delta 0.25
        w.w(3, 4), w.w(0, 1)
        for j in range(64):
            w.w((7 * j + 3) % 16, 4)
        w.w(0, 6), w.w(0, 16)  # 1 time transform
        w.w(0, 6), w.w(1, 16)  # 1 floor, type 1
        w.w(1, 5), w.w(0, 4)  # 1 partition -> class 0
        w.w(1, 3), w.w(0, 2), w.w(0, 8)  # dims 2, no subs, unused book
        w.w(0, 2), w.w(8, 4)  # multiplier 1, rangebits 8
        w.w(64, 8), w.w(192, 8)  # silent X points
        w.w(0, 6), w.w(1, 16)  # 1 residue, type 1
        w.w(0, 24), w.w(128, 24), w.w(7, 24)  # begin/end/psize 8
        w.w(0, 6), w.w(0, 8)  # 1 classification, classbook 0
        w.w(1, 3), w.w(0, 1), w.w(1, 8)  # pass-0 cascade -> book 1
        w.w(0, 6), w.w(0, 16), w.w(0, 1), w.w(0, 1), w.w(0, 2)
        w.w(0, 8), w.w(0, 8), w.w(0, 8)  # 1 mapping, submap 0/0
        w.w(0, 6), w.w(0, 1), w.w(0, 16), w.w(0, 16), w.w(0, 8)
        w.w(1, 1)  # 1 mode (short) + framing
        setup = b"\x05vorbis" + w.done()

        def audio(seed):
            w = W()
            w.w(0, 1)  # audio packet (no mode bits: single mode)
            w.w(1, 1)  # floor nonzero
            w.w(140 + seed % 30, 8)  # sloped floor line
            w.w(80 + (seed * 7) % 50, 8)
            for t in range(16):
                w.w(0, 1)  # classword (single-entry classbook)
                for h in range(2):
                    e = (seed * 31 + (t * 2 + h) * 5 + 3) % 16
                    for i in range(3, -1, -1):  # MSB-first codeword
                        w.w((e >> i) & 1, 1)
            return w.done()

        def ebml(eid, payload):
            n = len(payload)
            ln = 1
            while n >= (1 << (7 * ln)) - 1:
                ln += 1
            size = (n + ((0x80 >> (ln - 1)) << (8 * (ln - 1))))
            return eid + size.to_bytes(ln, "big") + payload

        def webm(pkts):
            priv = bytearray([2])  # Xiph-laced CodecPrivate: 3 headers
            for h in (ident, comment):
                priv += b"\xff" * (len(h) // 255)
                priv.append(len(h) % 255)
            priv += ident + comment + setup
            track = ebml(b"\xae", b"".join([
                ebml(b"\xd7", b"\x01"),
                ebml(b"\x86", b"A_VORBIS"),
                ebml(b"\x63\xa2", bytes(priv)),
            ]))
            blocks = b"".join(
                ebml(b"\xa3", b"\x81\x00\x00\x80" + p) for p in pkts
            )
            segment = ebml(b"\x18\x53\x80\x67",
                           ebml(b"\x16\x54\xae\x6b", track)
                           + ebml(b"\x1f\x43\xb6\x75",
                                  ebml(b"\xe7", b"\x00") + blocks))
            return ebml(b"\x1a\x45\xdf\xa3",
                        ebml(b"\x42\x82", b"webm")) + segment

        for pdf in it:
            content = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                n_pkts = 5 + d % 5  # n_samples = 128 * (4 + d % 5)
                pkts = [audio(d * 7 + s) for s in range(n_pkts)]
                if d % 2 == 0:
                    pages = [
                        page([ident], 0, 0, 0x02),
                        page([comment, setup], 0, 1, 0),
                        page(pkts, 128 * (n_pkts - 1), 2, 0x04),
                    ]
                    content.append(b"".join(pages))
                else:
                    content.append(webm(pkts))
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "content": content})

    # spread-before-Python-kernel (the q81 pattern): shuffle the tiny
    # id column so encode+decode parallelize, never the binary payloads
    d = D._spread(_t(spark, sf_dir, "documents").select("doc_id"), "doc_id")
    assets = d.mapInPandas(build, schema="doc_id long, content binary")
    return decode_audio(assets, id_col="doc_id").select(
        F.col("asset_id").cast("long").alias("doc_id"),
        "decoder",
        "n_channels",
        "sample_rate",
        "n_samples",
        "duration_s",
    ).orderBy("doc_id")



@_q(
    "q85_audio_neardup",
    """
    SELECT CAST(doc_id AS BIGINT) AS id_a,
           CAST(doc_id + 100000 AS BIGINT) AS id_b
    FROM documents
    WHERE doc_id % 4 = 0
    ORDER BY id_a
    """,
    "Audio near-dup under the oracle gate — the q83 image chain's "
    "audio twin: decode -> RMS-envelope feature -> hyperplane LSH -> "
    "exact cosine verify, end-to-end. Per doc, Spark BUILDS a real "
    "PCM16 WAV of 64 equal windows whose loudness pattern is a "
    "doc_id-unranked 3-subset of the 64 windows (the q83 combinadic, "
    "injective to C(64,3)=41664 docs: 3 loud windows, 61 quiet), and "
    "for doc_id%4==0 a gain-jittered twin at id+100000. "
    "extract_features must DECODE the samples (wav-rms64, no stub), "
    "LSH must bucket the twins, and exact cosine verify at 0.95 must "
    "keep EXACTLY the planted pairs: twins land at cos ~0.999 while "
    "any two distinct patterns share at most 2 of 3 loud windows "
    "(cos <= ~0.73 for the L2-normalized all-positive envelopes), so "
    "both a recall miss and a precision leak hash-mismatch the "
    "closed-form oracle.",
)
def q85(spark, sf_dir):
    import pandas as pd

    from vinum_spark.operators.multimodal import extract_features
    from vinum_spark.operators.similarity import lsh_blocked_cosine_pairs

    def build(it):
        import numpy as np

        RATE = 8000
        WIN = 64  # samples per window; sine period 16 divides it

        def unrank3(k):
            # combinadic: k -> unique {a < b < c} subset of [0, 64)
            c = 2
            while (c + 1) * c * (c - 1) // 6 <= k:
                c += 1
            k -= c * (c - 1) * (c - 2) // 6
            b = 1
            while (b + 1) * b // 2 <= k:
                b += 1
            return (k - b * (b - 1) // 2, b, c)

        tone = np.sin(2 * np.pi * np.arange(WIN) / 16.0)

        def wav_pcm16(amps):
            wave = np.concatenate([(a * 29000.0) * tone for a in amps])
            payload = np.round(wave).astype("<i2").tobytes()
            return (
                b"RIFF" + (36 + len(payload)).to_bytes(4, "little")
                + b"WAVE" + b"fmt " + (16).to_bytes(4, "little")
                + (1).to_bytes(2, "little") + (1).to_bytes(2, "little")
                + RATE.to_bytes(4, "little")
                + (RATE * 2).to_bytes(4, "little")
                + (2).to_bytes(2, "little") + (16).to_bytes(2, "little")
                + b"data" + len(payload).to_bytes(4, "little") + payload
            )

        for pdf in it:
            ids = []
            blobs = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                amps = np.full(64, 0.05)
                for hot in unrank3(d % 41664):
                    amps[hot] = 0.8
                ids.append(d)
                blobs.append(wav_pcm16(amps))
                if d % 4 == 0:
                    jitter = 1.0 + ((d * 13 + np.arange(64)) % 5 - 2) * 0.01
                    ids.append(d + 100000)
                    blobs.append(wav_pcm16(amps * jitter))
            yield pd.DataFrame({"doc_id": ids, "content": blobs})

    # spread-before-Python-kernel (the q81/q83 pattern)
    d = D._spread(_t(spark, sf_dir, "documents").select("doc_id"), "doc_id")
    assets = d.mapInPandas(build, schema="doc_id long, content binary")
    # lazy-checkpoint: same 4x MapInPandas recomputation fix as q83
    # (the WAV build + RMS-envelope decode ran once per plan reference)
    feats = (
        extract_features(assets, id_col="doc_id")
        .select(
            F.col("asset_id").alias("vec_id"),
            F.col("feature").alias("embedding"),
        )
        .localCheckpoint(eager=False)
    )
    # fused candidates + verify via per-bucket-block BLAS kernels —
    # same rationale and same candidate set as q83 (round 19)
    pairs = lsh_blocked_cosine_pairs(
        feats, dim=64, threshold=0.95, n_planes=32, band_bits=4
    )
    return (
        pairs.select(
            F.col("id_a").cast("long").alias("id_a"),
            F.col("id_b").cast("long").alias("id_b"),
        )
        .orderBy("id_a")
    )


@_q(
    "q86_skew_join_aqe",
    """
    SELECT e.event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(o.o_totalprice), 2) AS sum_price
    FROM (SELECT CASE WHEN user_id % 7 = 0 THEN user_id ELSE 0 END
                   AS cust_key,
                 event_type
          FROM events) e
    JOIN orders o ON o.o_custkey = e.cust_key
    GROUP BY e.event_type
    ORDER BY e.event_type
    """,
    "Planted-skew JOIN harness (the join-shaped twin of q57's salted "
    "agg): ~86% of events collapse onto cust_key 0 (every user_id not "
    "divisible by 7), so the shuffle partition holding key 0 carries "
    "the bulk of the sort-merge join input — the canonical hot-key "
    "join hazard at 100 TB. The operator fix is NOT hand-salting: "
    "AQE's skew-join split (on in vinum_spark.session) divides the "
    "oversized partition into advisory-sized slices at runtime; "
    "tests/test_plans.py::test_aqe_splits_planted_skew_join lowers "
    "the skew thresholds to test scale, disables broadcast, and pins "
    "SortMergeJoin(skew=true) in the executed adaptive plan. Under "
    "the driver's default session the small dim side broadcasts "
    "instead (no shuffle to skew) — both endpoints of the 100x story.",
)
def q86(spark, sf_dir):
    e = _t(spark, sf_dir, "events").select(
        F.when(F.col("user_id") % 7 == 0, F.col("user_id"))
        .otherwise(F.lit(0))
        .alias("cust_key"),
        "event_type",
    )
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    return (
        e.join(o, e.cust_key == o.o_custkey)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
        .orderBy("event_type")
    )


@_q(
    "q87_image_phash_neardup",
    """
    SELECT CAST(doc_id AS BIGINT) AS id_a,
           CAST(doc_id + 100000 AS BIGINT) AS id_b
    FROM documents
    WHERE doc_id % 4 = 0
    ORDER BY id_a
    """,
    "DCT perceptual-hash near-dup under the oracle gate (VERDICT r11 "
    "item 7) — the re-encode+resize-robust chain pool8 cannot do: per "
    "doc, Spark BUILDS a 16x16 gray PNG whose 8x8 low-frequency DCT "
    "signs are a splitmix64 mix of doc_id (pHash reads those signs "
    "straight back out), and for doc_id%4==0 a twin at id+100000 that "
    "is 2x-UPSCALED, +/-2-per-pixel JITTERED, and re-encoded as BMP — "
    "two formats and two sizes deep, the q83 pattern. phash_images "
    "must decode both formats for real (png-/bmp-phash64, no stub), "
    "banded hamming LSH buckets the twins (pigeonhole: distance < 8 "
    "bands GUARANTEES a shared band), and hamming_verify at <= 4 must "
    "keep exactly the planted pairs: measured over the full 20000-id "
    "design range, twin distance <= 2 and distinct-id distance >= 10 "
    "(random-sign hashes concentrate at 32), so both a recall miss "
    "and a precision leak hash-mismatch the closed-form oracle.",
)
def q87(spark, sf_dir):
    import pandas as pd

    from vinum_spark.operators.media_synth import _bmp_bytes
    from vinum_spark.operators.multimodal import _png_encode, phash_images
    from vinum_spark.operators.similarity import (
        hamming_verify,
        phash_candidate_pairs,
    )

    def build(it):
        import numpy as np

        k = np.arange(16)[:, None]
        n = np.arange(16)[None, :]
        idct16 = np.cos(np.pi * (2 * n + 1) * k / 32)

        def sign_img(d):
            # splitmix64 finalizer -> 64 random sign bits -> lowest
            # 8x8 DCT band -> IDCT; amplitude 10 keeps every
            # coefficient far from the pHash median under uint8
            # quantization AND the twin's +/-2 pixel jitter
            z = (d + 0x9E3779B97F4A7C15) & (1 << 64) - 1
            z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & (1 << 64) - 1
            z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & (1 << 64) - 1
            z ^= z >> 31
            s = np.array(
                [1.0 if (z >> i) & 1 else -1.0 for i in range(64)]
            ).reshape(8, 8)
            coef = np.zeros((16, 16))
            coef[:8, :8] = s * 10.0
            img = 128 + idct16.T @ coef @ idct16
            return np.clip(np.round(img), 0, 255).astype("uint8")

        for pdf in it:
            # the twin scheme (twin id = doc_id + 100000; oracle WHERE
            # doc_id % 4 = 0) requires every real doc_id to sit below
            # the offset — a collision would double-hash assets and
            # silently desynchronize from the fixed SQL oracle. Safe at
            # every current SF (max doc_id 4999 at sf0.1); fail loudly
            # if a future scale bump breaks the invariant.
            if len(pdf) and int(pdf["doc_id"].max()) >= 100000:
                raise ValueError(
                    "q87 twin-id scheme requires max(doc_id) < 100000; "
                    f"got {int(pdf['doc_id'].max())}"
                )
            ids, blobs = [], []
            for d in pdf["doc_id"]:
                d = int(d)
                img = sign_img(d)
                ids.append(d)
                blobs.append(_png_encode(img[:, :, None]))
                if d % 4 == 0:
                    big = np.repeat(np.repeat(img, 2, 0), 2, 1).astype(int)
                    jit = (
                        d * 31 + np.arange(1024).reshape(32, 32)
                    ) % 5 - 2
                    twin = np.clip(big + jit, 0, 255).astype("uint8")
                    ids.append(d + 100000)
                    blobs.append(_bmp_bytes(np.stack([twin] * 3, 2), 24))
            yield pd.DataFrame({"doc_id": ids, "content": blobs})

    d = D._spread(_t(spark, sf_dir, "documents").select("doc_id"), "doc_id")
    assets = d.mapInPandas(build, schema="doc_id long, content binary")
    hashes = phash_images(assets, id_col="doc_id")
    pairs = phash_candidate_pairs(hashes, id_col="asset_id")
    return (
        hamming_verify(hashes, pairs, max_dist=4, id_col="asset_id")
        .select(
            F.col("id_a").cast("long").alias("id_a"),
            F.col("id_b").cast("long").alias("id_b"),
        )
        .orderBy("id_a")
    )


#: DuckDB twin of operators/text.py's byte-symbol mapping: UTF-8 bytes
#: via hex(encode(..)), each byte -> chr(256 + b). Verified char-equal
#: to Python's ``byte_syms`` and Spark's ``_byte_sym_sql``.
_DUCK_BYTE_SYM = """list_transform(range(1, octet_length(encode(word)) + 1), i ->
     chr(CAST(256 + 16*(strpos('0123456789ABCDEF', substr(hex(encode(word)), 2*i-1, 1)) - 1)
             + (strpos('0123456789ABCDEF', substr(hex(encode(word)), 2*i, 1)) - 1) AS INTEGER)))"""

#: Deterministic digit + non-ASCII augmentation for the byte-level BPE
#: gates (the synthetic documents corpus is pure lowercase ASCII):
#: mixed-case Latin-1, Greek, CJK, punctuation and per-doc digits —
#: identical literals on the Spark side (q90/q91 below).
_BPE_AUG_SQL = (
    "text || ' Naïve' || CAST(doc_id % 100 AS VARCHAR)"
    " || ' δεδομένα:数据#' || CAST(doc_id AS VARCHAR)"
)


def _q88_oracle(
    n_merges: int = 8,
    words_from: str = (
        "SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word"
        " FROM documents"
    ),
    sym_expr: str = "string_split(word, '')",
) -> str:
    """Programmatically-built DuckDB twin of ``learn_bpe_merges``: one
    MATERIALIZED CTE block per merge iteration (plain CTEs inline and
    re-expand the chain exponentially — the parquet scan would reopen
    thousands of times by stage 8). The greedy merge application uses
    the islands+parity window formulation: positions matching the best
    pair form runs of consecutive i; left-to-right greedy keeps the
    even offsets within each run (identical to the Spark side's
    ``aggregate`` fold — 'aaaa' + (a,a) -> ['aa','aa']).
    ``words_from``/``sym_expr`` parameterize the alphabet: the defaults
    are char mode; the byte-level gates pass a no-lowercase extraction
    and the ``_DUCK_BYTE_SYM`` mapping."""
    ctes = [
        f"""vocab0 AS MATERIALIZED (
  SELECT word, CAST(count(*) AS BIGINT) AS freq, {sym_expr} AS sym
  FROM ({words_from})
  GROUP BY word)"""
    ]
    outs = []
    for k in range(1, n_merges + 1):
        p = f"vocab{k - 1}"
        ctes.append(f"""tok{k} AS MATERIALIZED (
  SELECT word, freq,
         unnest(range(1, len(sym) + 1)) AS i,
         unnest(sym) AS t
  FROM {p})""")
        ctes.append(f"""pair{k} AS MATERIALIZED (
  SELECT word, freq, i, t,
         lead(t) OVER (PARTITION BY word ORDER BY i) AS nxt
  FROM tok{k})""")
        ctes.append(f"""best{k} AS MATERIALIZED (
  SELECT t AS a, nxt AS b, CAST(sum(freq) AS BIGINT) AS c
  FROM pair{k} WHERE nxt IS NOT NULL
  GROUP BY t, nxt ORDER BY c DESC, a, b LIMIT 1)""")
        ctes.append(f"""m{k} AS MATERIALIZED (
  SELECT p.word, p.freq, p.i, p.t, p.nxt,
         (p.t = b.a AND p.nxt = b.b) AS m
  FROM pair{k} p CROSS JOIN best{k} b)""")
        ctes.append(f"""sel{k} AS MATERIALIZED (
  SELECT word, i,
         (i - min(i) OVER (PARTITION BY word, grp)) % 2 = 0 AS sel
  FROM (SELECT word, i,
               i - row_number() OVER (PARTITION BY word ORDER BY i) AS grp
        FROM m{k} WHERE m))""")
        ctes.append(f"""vocab{k} AS MATERIALIZED (
  SELECT m.word, m.freq,
         list(CASE WHEN coalesce(s.sel, false) THEN m.t || m.nxt
              ELSE m.t END ORDER BY m.i) AS sym
  FROM m{k} m
  LEFT JOIN sel{k} s  ON s.word = m.word AND s.i = m.i
  LEFT JOIN sel{k} sp ON sp.word = m.word AND sp.i = m.i - 1
  WHERE NOT coalesce(sp.sel, false)
  GROUP BY m.word, m.freq)""")
        outs.append(
            f"SELECT {k} AS merge_rank, a AS lhs, b AS rhs,"
            f" c AS pair_count FROM best{k}"
        )
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        + "\nUNION ALL\n".join(outs) + "\nORDER BY merge_rank"
    )


@_q(
    "q88_bpe_merges",
    _q88_oracle(),
    "Distributed BPE tokenizer training under the oracle gate "
    "(operators/text.py learn_bpe_merges, Sennrich et al. 2016): 8 "
    "merge iterations over the corpus word-frequency dictionary — "
    "pair counts weighted by word freq, arg-max by (count DESC, pair "
    "lexical), exact left-to-right greedy application. The corpus is "
    "touched ONCE (the word groupBy); every iteration runs on the "
    "vocab table (~types, not tokens) with a shuffle-free aggregate-"
    "HOF merge, so the 100 TB cost is one corpus shuffle + 8 cheap "
    "vocab passes. DuckDB recomputes the identical 8 stages as "
    "materialized CTEs with an islands+parity window encoding of the "
    "same greedy rule, so any divergence in counting, tie-breaks, or "
    "merge application (the 'aaaa' chain case) hash-mismatches.",
)
def q88(spark, sf_dir):
    from vinum_spark.operators.text import learn_bpe_merges

    # collect_cap=0 pins the DISTRIBUTED merge loop under the oracle
    # (the unbounded-vocabulary path); the driver-local fast path is
    # gated separately by q90 (byte mode, default cap) and pinned
    # equal to this loop in tests/test_pipeline_ops.py.
    return learn_bpe_merges(
        _t(spark, sf_dir, "documents"), n_merges=8, collect_cap=0
    ).orderBy("merge_rank")


def _q89_oracle(
    base: str | None = None,
    doc_ws_sql: str = (
        "SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws"
        " FROM documents"
    ),
    final_sql: str | None = None,
) -> str:
    """q88's 8-stage chain extended three CTEs: tokenize every document
    by joining its words (with ordinality) to the final merged
    vocabulary and flattening in reading order — the oracle twin of
    ``bpe_tokenize``'s vocab-join design. ``base``/``doc_ws_sql``
    parameterize the alphabet (defaults: q88's char mode; q91 passes
    the byte-level chain + a no-lowercase extraction)."""
    if base is None:
        base = _q88_oracle(8)
    # drop the merge-table SELECTs; keep the WITH vocab0..vocab8 CTEs
    chain = base.split("\nSELECT 1 AS merge_rank")[0]
    return (
        chain
        + f""",
docw AS MATERIALIZED (
  SELECT doc_id,
         unnest(range(1, len(ws) + 1)) AS wi,
         unnest(ws) AS word
  FROM ({doc_ws_sql})),
tokd AS MATERIALIZED (
  SELECT d.doc_id,
         CAST(sum(len(v.sym)) AS BIGINT) AS n_tokens,
         md5(array_to_string(flatten(list(v.sym ORDER BY d.wi)), ' '))
           AS tok_md5
  FROM docw d JOIN vocab8 v ON v.word = d.word
  GROUP BY d.doc_id)
"""
        + (
            final_sql
            or """SELECT doc.doc_id,
       CAST(coalesce(t.n_tokens, 0) AS BIGINT) AS n_tokens,
       coalesce(t.tok_md5, md5('')) AS tok_md5
FROM documents doc LEFT JOIN tokd t ON t.doc_id = doc.doc_id
ORDER BY doc.doc_id"""
        )
    )


@_q(
    "q89_bpe_tokenize",
    _q89_oracle(),
    "Full-corpus BPE tokenization with the q88-learned merge table "
    "(operators/text.py bpe_tokenize): the per-word rank-loop merge "
    "runs in an Arrow-batched pandas UDF over the DISTINCT-WORD "
    "vocabulary only (the documented Python carve-out — per-item "
    "sequential merging), and the corpus pays one explode + one "
    "word equi-join + one ordered reassembly. The oracle re-runs "
    "q88's 8 merge stages in DuckDB and tokenizes by joining words "
    "to the final merged vocabulary — so the pandas rank-loop apply "
    "must agree byte-for-byte (md5 of the space-joined token "
    "sequence per document) with the SQL windows' greedy merges.",
)
def q89(spark, sf_dir):
    from vinum_spark.operators.text import bpe_tokenize, learn_bpe_merges

    docs = _t(spark, sf_dir, "documents")
    merges = learn_bpe_merges(docs, n_merges=8)
    toks = bpe_tokenize(docs, merges, id_col="doc_id")
    return toks.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.md5(F.concat_ws(" ", "tokens")).alias("tok_md5"),
    ).orderBy("doc_id")


def _bpe_aug(docs):
    """Spark twin of ``_BPE_AUG_SQL``: append mixed-case Latin-1,
    Greek, CJK, punctuation and per-doc digits to every document, so
    the byte-level gates train on text the char-mode ``[a-z]+``
    alphabet cannot represent."""
    return docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" Naïve"),
            (F.col("doc_id") % 100).cast("string"),
            F.lit(" δεδομένα:数据#"),
            F.col("doc_id").cast("string"),
        ),
    )


_BPE_BYTE_WORDS_FROM = (
    f"SELECT unnest(regexp_extract_all({_BPE_AUG_SQL}, '[^ ]+')) AS word"
    " FROM documents"
)


@_q(
    "q90_bpe_byte_merges",
    _q88_oracle(
        8, words_from=_BPE_BYTE_WORDS_FROM, sym_expr=_DUCK_BYTE_SYM
    ),
    "BYTE-LEVEL BPE training (VERDICT r12 item 2 — the real-tokenizer "
    "alphabet): the corpus is augmented in-query with mixed-case "
    "Latin-1, Greek, CJK, punctuation and digits (identical literals "
    "on both engines), words are split on '[^ ]+' with NO lowercasing, "
    "and each word's UTF-8 bytes map through the fixed chr(0x100+b) "
    "symbol alphabet (GPT-2's bytes_to_unicode idea; every merge "
    "symbol SQL-literal-safe by construction). Spark does the mapping "
    "JVM-side (hex + 256-entry array literal, codegen); DuckDB "
    "recomputes it with the same hex walk, then runs the identical "
    "8-stage islands+parity merge chain — so a divergence anywhere in "
    "byte mapping, multi-byte splitting, case handling, counting, or "
    "greedy application hash-mismatches. This gate ALSO pins the "
    "driver-local fast path (default collect_cap): the classic "
    "in-memory merge loop over the collected word-frequency "
    "dictionary must reproduce the distributed loop's table exactly "
    "(equality also pinned directly in tests/test_pipeline_ops.py).",
)
def q90(spark, sf_dir):
    from vinum_spark.operators.text import learn_bpe_merges

    docs = _bpe_aug(_t(spark, sf_dir, "documents"))
    return learn_bpe_merges(
        docs, n_merges=8, byte_level=True, token_pattern="[^ ]+"
    ).orderBy("merge_rank")


@_q(
    "q91_bpe_byte_tokenize",
    _q89_oracle(
        base=_q88_oracle(
            8, words_from=_BPE_BYTE_WORDS_FROM, sym_expr=_DUCK_BYTE_SYM
        ),
        doc_ws_sql=(
            f"SELECT doc_id, regexp_extract_all({_BPE_AUG_SQL}, '[^ ]+') AS ws"
            " FROM documents"
        ),
    ),
    "Full-corpus BYTE-LEVEL BPE tokenization with the q90-learned "
    "table: the pandas rank-loop seeds each DISTINCT word from the "
    "chr(0x100+b) byte alphabet (multi-byte UTF-8 chars split into "
    "per-byte symbols, exactly like a production byte-level "
    "tokenizer), the corpus pays one explode + one word equi-join + "
    "ordered reassembly, and the md5-of-sequence oracle re-derives "
    "the same tokens from DuckDB's hex-walk byte mapping plus the "
    "8-stage SQL merge chain.",
)
def q91(spark, sf_dir):
    from vinum_spark.operators.text import bpe_tokenize, learn_bpe_merges

    docs = _bpe_aug(_t(spark, sf_dir, "documents"))
    merges = learn_bpe_merges(
        docs, n_merges=8, byte_level=True, token_pattern="[^ ]+"
    )
    toks = bpe_tokenize(
        docs, merges, id_col="doc_id", byte_level=True, token_pattern="[^ ]+"
    )
    return toks.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.md5(F.concat_ws(" ", "tokens")).alias("tok_md5"),
    ).orderBy("doc_id")


@_q(
    "q92_tokenizer_pipeline",
    _q89_oracle(
        base=_q88_oracle(
            8, words_from=_BPE_BYTE_WORDS_FROM, sym_expr=_DUCK_BYTE_SYM
        ),
        doc_ws_sql=(
            f"SELECT doc_id, regexp_extract_all({_BPE_AUG_SQL}, '[^ ]+') AS ws"
            " FROM documents"
        ),
        final_sql="""sharded AS (
  SELECT doc.doc_id, CAST(coalesce(t.n_tokens, 0) AS BIGINT) AS n_tokens,
         CAST(('0x' || substring(md5(concat_ws(chr(31),
             CAST(doc.doc_id AS VARCHAR), '0')), 1, 8))::UBIGINT % 8 AS INT) AS shard,
         md5(concat_ws(chr(31), CAST(doc.doc_id AS VARCHAR), '0')) AS rk
  FROM documents doc LEFT JOIN tokd t ON t.doc_id = doc.doc_id),
packed AS (
  SELECT shard, n_tokens,
         COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY rk, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS seq_pos
  FROM sharded)
SELECT shard, CAST(floor(seq_pos / 512.0) AS BIGINT) AS seq_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS seq_len
FROM packed
GROUP BY shard, seq_id
ORDER BY shard, seq_id""",
    ).replace(
        # final_sql opens with another CTE, so the tokd CTE needs a
        # trailing comma instead of starting the final SELECT directly
        "GROUP BY d.doc_id)\nsharded AS",
        "GROUP BY d.doc_id),\nsharded AS",
    ),
    "END-TO-END tokenizer pipeline (VERDICT r12 item 5 — the actual "
    "training-data tokenization deliverable): learn_bpe_merges "
    "(byte-level, driver-local fast path) -> bpe_tokenize (byte-level "
    "corpus tokenization) -> pack_sequences (budget-512 striping of "
    "n_tokens into 8 md5 shards), verified per packed training "
    "sequence by doc count + token sum. The oracle recomputes the "
    "WHOLE chain in DuckDB: hex-walk byte mapping, 8 merge stages, "
    "vocab-join tokenization, then the q71-style windowed packing — "
    "one composed SQL program, so any drift in ANY stage (merge "
    "table, token counts, shard hash, running-sum packing) "
    "mismatches. Composition pattern of q65/q75, extended to the "
    "tokenizer family.",
)
def q92(spark, sf_dir):
    from vinum_spark.operators.sampling import pack_sequences
    from vinum_spark.operators.text import bpe_tokenize, learn_bpe_merges

    docs = _bpe_aug(_t(spark, sf_dir, "documents"))
    merges = learn_bpe_merges(
        docs, n_merges=8, byte_level=True, token_pattern="[^ ]+"
    )
    toks = bpe_tokenize(
        docs, merges, id_col="doc_id", byte_level=True, token_pattern="[^ ]+"
    )
    return (
        pack_sequences(toks, "n_tokens", "doc_id", budget=512, n_shards=8)
        .groupBy("shard", "seq_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("seq_len"),
        )
        .orderBy("shard", "seq_id")
    )


#: q93's id-mapping tail: ids 0-255 for the 256 base byte symbols
#: (chr(256 + b) in DuckDB = the chr(0x100 + b) alphabet), merge rank
#: k mints lhs||rhs with id 255 + k straight from the chain's best{k}
#: CTEs — the GPT-2 vocab layout bpe_vocab implements.
_Q93_FINAL_SQL = (
    """vtok AS MATERIALIZED (
  SELECT word, unnest(range(1, len(sym) + 1)) AS si, unnest(sym) AS tok
  FROM vocab8),
ids AS MATERIALIZED (
  SELECT chr(CAST(256 + r AS INT)) AS tok, CAST(r AS INT) AS tid
  FROM range(256) t(r)
"""
    + "".join(
        f"  UNION ALL SELECT a || b, CAST({255 + k} AS INT) FROM best{k}\n"
        for k in range(1, 9)
    )
    + """),
vids AS MATERIALIZED (
  SELECT v.word,
         string_agg(CAST(i.tid AS VARCHAR), ' ' ORDER BY v.si) AS idstr,
         CAST(count(*) AS BIGINT) AS n
  FROM vtok v JOIN ids i ON i.tok = v.tok
  GROUP BY v.word),
tokid AS MATERIALIZED (
  SELECT d.doc_id, CAST(sum(vids.n) AS BIGINT) AS n_tokens,
         md5(string_agg(vids.idstr, ' ' ORDER BY d.wi)) AS ids_md5
  FROM docw d JOIN vids ON vids.word = d.word
  GROUP BY d.doc_id)
SELECT doc.doc_id,
       CAST(coalesce(t.n_tokens, 0) AS BIGINT) AS n_tokens,
       coalesce(t.ids_md5, md5('')) AS ids_md5
FROM documents doc LEFT JOIN tokid t ON t.doc_id = doc.doc_id
ORDER BY doc.doc_id"""
)


@_q(
    "q93_bpe_token_ids",
    _q89_oracle(
        base=_q88_oracle(
            8, words_from=_BPE_BYTE_WORDS_FROM, sym_expr=_DUCK_BYTE_SYM
        ),
        doc_ws_sql=(
            f"SELECT doc_id, regexp_extract_all({_BPE_AUG_SQL}, '[^ ]+') AS ws"
            " FROM documents"
        ),
        final_sql=_Q93_FINAL_SQL,
    ).replace(
        # final_sql opens with another CTE (same patch as q92)
        "GROUP BY d.doc_id)\nvtok AS",
        "GROUP BY d.doc_id),\nvtok AS",
    ),
    "TOKEN-ID encoding of the byte-level BPE corpus (bpe_vocab + "
    "bpe_encode_ids): the GPT-2 vocab layout — ids 0-255 are the 256 "
    "base byte symbols, merge rank k mints id 255+k, vocab size "
    "exactly 256+n_merges with NO unknown token (any UTF-8 input "
    "decomposes into base bytes, so the inner vocab join is lossless "
    "by construction). The corpus pays one posexplode + a broadcast "
    "join against the 264-row vocabulary + ordered reassembly; the "
    "md5-of-id-sequence oracle re-derives every id in SQL from the "
    "chain's own best{k} merge CTEs, so a drift in id assignment, "
    "token order, or vocab coverage hash-mismatches.",
)
def q93(spark, sf_dir):
    from vinum_spark.operators.text import (
        bpe_encode_ids,
        bpe_tokenize,
        learn_bpe_merges,
    )

    docs = _bpe_aug(_t(spark, sf_dir, "documents"))
    merges = learn_bpe_merges(
        docs, n_merges=8, byte_level=True, token_pattern="[^ ]+"
    )
    toks = bpe_tokenize(
        docs, merges, id_col="doc_id", byte_level=True, token_pattern="[^ ]+"
    )
    enc = bpe_encode_ids(toks, merges, id_col="doc_id")
    return enc.select(
        "doc_id",
        F.col("n_tokens"),
        F.md5(
            F.concat_ws(
                " ", F.expr("transform(token_ids, i -> CAST(i AS STRING))")
            )
        ).alias("ids_md5"),
    ).orderBy("doc_id")


#: q94: the production pre-tokenizer, in its RE2-safe variant (GPT-2's
#: split regex minus the trailing-whitespace lookahead — RE2/DuckDB
#: supports no lookaround; divergence documented on the constant).
#: Derived from the Spark-side constant — the two engines receive the
#: IDENTICAL pattern text by construction (apostrophes doubled for the
#: SQL literal; backslash sequences pass through a single-quoted
#: DuckDB literal unprocessed, exactly as F.lit passes them to Java).
_GPT2ISH_WORDS_FROM = (
    "SELECT unnest(regexp_extract_all(" + _BPE_AUG_SQL + ", '"
    + X.GPT2ISH_SPLIT_PATTERN.replace("'", "''")
    + "')) AS word FROM documents"
)


@_q(
    "q94_bpe_gpt2_pretokenize",
    _q88_oracle(
        8, words_from=_GPT2ISH_WORDS_FROM, sym_expr=_DUCK_BYTE_SYM
    ),
    "Byte-level BPE training under the PRODUCTION pre-tokenizer "
    "(GPT2ISH_SPLIT_PATTERN — GPT-2's split regex in its RE2-safe "
    "lookahead-free variant): contractions split off ('s/'t/'re/...), "
    "single spaces attach to the following word (' ?\\p{L}+' before "
    "'\\s+'), digit runs and punctuation runs tokenize separately, "
    "and whitespace runs survive as tokens whose space bytes map "
    "through the same chr(0x100+b) alphabet. Both engines run the "
    "IDENTICAL regex (Java and RE2 agree on leftmost-first "
    "alternation and \\p classes — no lookaround used), then the "
    "8-stage merge chain; a divergence in splitting, space "
    "attachment, byte mapping, or greedy merging hash-mismatches.",
)
def q94(spark, sf_dir):
    from vinum_spark.operators.text import (
        GPT2ISH_SPLIT_PATTERN,
        learn_bpe_merges,
    )

    docs = _bpe_aug(_t(spark, sf_dir, "documents"))
    return learn_bpe_merges(
        docs, n_merges=8, byte_level=True,
        token_pattern=GPT2ISH_SPLIT_PATTERN,
    ).orderBy("merge_rank")


def _q95_oracle() -> str:
    """The tokenizing prepare_corpus chain as ONE SQL program: q75's
    survivor chain (quality -> exact dedup -> decontamination ->
    shard) spliced with the q88 byte-level merge chain (trained on the
    FULL documents table, matching the Spark side) and the q93 id
    mapping, aggregated per shard. Any drift in any stage — the
    pipeline wiring, the merge table, token counts, id assignment, or
    shard hashing — mismatches the per-shard ids_hash."""
    chain75 = _q75_oracle()
    cut = chain75.rindex("SELECT CAST(")
    chain75 = chain75[:cut].rstrip().rstrip(")") + ")"
    base88 = _q88_oracle(
        8,
        words_from=(
            "SELECT unnest(regexp_extract_all(text, '[^ ]+')) AS word"
            " FROM documents"
        ),
        sym_expr=_DUCK_BYTE_SYM,
    )
    ctes88 = base88.split("\nSELECT 1 AS merge_rank")[0]
    assert ctes88.startswith("WITH ")
    ctes88 = ctes88[len("WITH "):]
    ids_union = "".join(
        f"  UNION ALL SELECT a || b, CAST({255 + k} AS INT) FROM best{k}\n"
        for k in range(1, 9)
    )
    return (
        chain75
        + ",\n"
        + ctes88
        + f""",
docw AS MATERIALIZED (
  SELECT doc_id,
         unnest(range(1, len(ws) + 1)) AS wi,
         unnest(ws) AS word
  FROM (SELECT doc_id, regexp_extract_all(text, '[^ ]+') AS ws
        FROM clean)),
vtok AS MATERIALIZED (
  SELECT word, unnest(range(1, len(sym) + 1)) AS si, unnest(sym) AS tok
  FROM vocab8),
ids AS MATERIALIZED (
  SELECT chr(CAST(256 + r AS INT)) AS tok, CAST(r AS INT) AS tid
  FROM range(256) t(r)
{ids_union}),
vids AS MATERIALIZED (
  SELECT v.word,
         string_agg(CAST(i.tid AS VARCHAR), ' ' ORDER BY v.si) AS idstr,
         CAST(count(*) AS BIGINT) AS n
  FROM vtok v JOIN ids i ON i.tok = v.tok
  GROUP BY v.word),
tokid AS MATERIALIZED (
  SELECT d.doc_id, CAST(sum(vids.n) AS BIGINT) AS n_tokens,
         md5(string_agg(vids.idstr, ' ' ORDER BY d.wi)) AS ids_md5
  FROM docw d JOIN vids ON vids.word = d.word
  GROUP BY d.doc_id),
pershard AS (
  SELECT c.doc_id,
         CAST(('0x' || substring(md5(concat_ws(chr(31),
             CAST(c.doc_id AS VARCHAR), '0')), 1, 8))::UBIGINT % 4 AS INT)
           AS shard,
         CAST(coalesce(t.n_tokens, 0) AS BIGINT) AS n_tokens,
         coalesce(t.ids_md5, md5('')) AS ids_md5
  FROM clean c LEFT JOIN tokid t ON t.doc_id = c.doc_id)
SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS tok_sum,
       md5(string_agg(ids_md5, ' ' ORDER BY doc_id)) AS ids_hash
FROM pershard GROUP BY shard ORDER BY shard"""
    )


@_q(
    "q95_pipeline_tokenized",
    _q95_oracle(),
    "The FULL training-data deliverable as one gated call: "
    "prepare_corpus with tokenize_with — quality rules -> exact dedup "
    "-> decontamination (4-grams vs the doc_id%10=0 eval slice) -> "
    "4-way md5 shard -> byte-level BPE tokenization with model-ready "
    "token_ids (merges trained on the full documents table, '[^ ]+' "
    "pre-tokenization) — verified per shard by doc count, token sum, "
    "and an md5-of-ordered-per-doc-id-hashes. The oracle recomputes "
    "the ENTIRE composition in DuckDB: q75's survivor chain spliced "
    "with the 8-stage byte merge chain and the GPT-2-layout id "
    "mapping, so a drift anywhere in the pipeline wiring or any "
    "stage's semantics mismatches.",
)
def q95(spark, sf_dir):
    from vinum_spark.operators.pipeline import CorpusConfig, prepare_corpus
    from vinum_spark.operators.text import learn_bpe_merges

    d = _t(spark, sf_dir, "documents")
    merges = learn_bpe_merges(
        d, n_merges=8, byte_level=True, token_pattern="[^ ]+"
    )
    out = prepare_corpus(
        d.filter(F.col("doc_id") % 10 != 0),
        CorpusConfig(
            quality_filter=True,
            dedup=True,
            decontaminate_against=d.filter(F.col("doc_id") % 10 == 0),
            decontaminate_ngram=4,
            n_shards=4,
            tokenize_with=merges,
            tokenize_byte_level=True,
            tokenize_pattern="[^ ]+",
        ),
    )
    per = out.select(
        "shard",
        "doc_id",
        F.col("n_tokens"),
        F.md5(
            F.concat_ws(
                " ", F.expr("transform(token_ids, i -> CAST(i AS STRING))")
            )
        ).alias("ids_md5"),
    )
    return (
        per.groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("tok_sum"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.expr(
                        "transform(array_sort(collect_list("
                        "struct(doc_id, ids_md5))), s -> s.ids_md5)"
                    ),
                )
            ).alias("ids_hash"),
        )
        .orderBy("shard")
    )


#: q96 fixture: whitespace-run + contraction augmentation — exactly
#: the inputs where the exact GPT-2 split (trailing-whitespace
#: lookahead) DIVERGES from the RE2-safe q94 variant (double spaces
#: before words: exact attaches the last space, safe keeps the run
#: whole; tab-space mixes; trailing runs). The in-suite test pins that
#: the two merge tables actually differ on this corpus, so the gate
#: exercises the lookahead semantics, not just a re-run of q94.
_BPE_EXACT_AUG_SQL = (
    "text || ' it''s  doubled   ' || chr(9) || ' mix' || chr(9)"
    " || CAST(doc_id % 50 AS VARCHAR) || '  '"
)

#: DuckDB twin of the lookahead-free exact-GPT-2 split: the SAME
#: sentinel insert (regexp_replace at every ws->non-ws boundary; RE2
#: rewrite backrefs are \1) + the SAME token pattern, both derived
#: from the Spark-side constants so the engines cannot drift.
_GPT2_EXACT_WORDS_FROM = (
    "SELECT unnest(regexp_extract_all(regexp_replace("
    + _BPE_EXACT_AUG_SQL
    + ", '" + X._GPT2_BOUNDARY_PATTERN + "', chr(30) || '\\1\\2', 'g'), '"
    + X._GPT2_EXACT_TOKEN_PATTERN.replace("'", "''")
    + "')) AS word FROM documents"
)


@_q(
    "q96_bpe_gpt2_exact",
    _q88_oracle(8, words_from=_GPT2_EXACT_WORDS_FROM, sym_expr=_DUCK_BYTE_SYM),
    "Byte-level BPE training under the EXACT GPT-2 pre-tokenizer "
    "(token_pattern='gpt2-exact'): GPT-2's trailing-whitespace "
    "negative lookahead — in a 2+ whitespace run before a word the "
    "LAST space attaches to the word ('a  b' -> 'a', ' ', ' b') — "
    "emulated lookahead-free so it runs identically in Java and RE2: "
    "one regexp_replace inserts U+001E at every ws->non-ws boundary, "
    "then the safe split pattern tokenizes (every GPT-2 match crosses "
    "at most one such boundary, via its single optional leading "
    "space). The corpus is augmented with space runs, tab-space "
    "mixes, and contractions — the exact inputs where this differs "
    "from q94's RE2-safe variant (in-suite test pins the two merge "
    "tables differ here). The oracle re-derives the identical "
    "sentinel transform + 8-stage merge chain from the same shared "
    "pattern constants.",
)
def q96(spark, sf_dir):
    from vinum_spark.operators.text import GPT2_EXACT, learn_bpe_merges

    docs = _t(spark, sf_dir, "documents").withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" it's  doubled   \t mix\t"),
            (F.col("doc_id") % 50).cast("string"),
            F.lit("  "),
        ),
    )
    return learn_bpe_merges(
        docs, n_merges=8, byte_level=True, token_pattern=GPT2_EXACT
    ).orderBy("merge_rank")


@_q(
    "q97_bpe_extend_merges",
    _q88_oracle(8, words_from=_BPE_BYTE_WORDS_FROM, sym_expr=_DUCK_BYTE_SYM),
    "Merge-table UPKEEP under the oracle gate (extend_bpe_merges — "
    "the dedup_against_store incremental pattern applied to "
    "tokenizers): a 4-merge byte-level table is learned first, then "
    "EXTENDED by 4 more merges on the same corpus; the result must "
    "equal the oracle's full 8-stage chain EXACTLY (the continuation "
    "law: applying the frozen prefix reproduces the learner's "
    "intermediate state, so the continued loop is the full loop — "
    "ranks, tie-breaks, pair counts and all). Existing rows pass "
    "through verbatim (shipped token ids are frozen); new merges are "
    "learned from the prefix-applied vocabulary, which pays the same "
    "one-corpus-shuffle + vocab-sized-iterations shape as training "
    "from scratch — a corpus refresh never retrains the whole table.",
)
def q97(spark, sf_dir):
    from vinum_spark.operators.text import extend_bpe_merges, learn_bpe_merges

    docs = _bpe_aug(_t(spark, sf_dir, "documents"))
    kw = {"byte_level": True, "token_pattern": "[^ ]+"}
    part = learn_bpe_merges(docs, n_merges=4, **kw)
    return extend_bpe_merges(docs, part, 4, **kw).orderBy("merge_rank")


def _q98_oracle() -> str:
    """Batch twin of the STREAMING prepare_corpus gate, as one DuckDB
    program: the planted corpus (every document + a same-text copy
    under a different id + a quality-failing junk doc per row) through
    q75's quality-rule chain, exact dedup as DISTINCT text (the stream
    keys on md5(text), so the surviving TEXT set is identical however
    arrival order picks representatives), then the q88 byte-level
    merge chain (trained on the UNPLANTED documents table, matching
    the Spark side) and the q93 GPT-2-layout id mapping, keyed by the
    text fingerprint. A drift in any stage — the stream wiring, the
    watermark dedup, quality semantics, tokenization, or id
    assignment — mismatches per-row."""
    base88 = _q88_oracle(
        8,
        words_from=(
            "SELECT unnest(regexp_extract_all(text, '[^ ]+')) AS word"
            " FROM documents"
        ),
        sym_expr=_DUCK_BYTE_SYM,
    )
    ctes88 = base88.split("\nSELECT 1 AS merge_rank")[0]
    assert ctes88.startswith("WITH ")
    ctes88 = ctes88[len("WITH "):]
    ids_union = "".join(
        f"  UNION ALL SELECT a || b, CAST({255 + k} AS INT) FROM best{k}\n"
        for k in range(1, 9)
    )
    return (
        r"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL SELECT doc_id + 1000000, text FROM documents
      UNION ALL SELECT doc_id + 2000000, '#### # ## #' FROM documents
    ), qbase AS (
      SELECT doc_id, text,
        list_filter(string_split(text, chr(10)), x -> length(trim(x)) > 0)
          AS lines,
        regexp_extract_all(text, '[A-Za-z]+') AS words,
        length(regexp_replace(text, '[^#…]', '', 'g')) AS n_symbols
      FROM corpus
    ), qsig AS (
      SELECT doc_id, text,
        len(lines) AS n_lines,
        greatest(len(lines), 1) AS safe_lines,
        len(list_distinct(list_transform(lines, x -> trim(x)))) AS n_distinct,
        len(list_filter(lines, x -> regexp_matches(trim(x), '^[-*•]')))
          AS n_bullet,
        greatest(len(words), 1) AS safe_words,
        coalesce(list_sum(list_transform(words, w -> length(w))), 0)
          AS word_chars,
        n_symbols
      FROM qbase
    ), passed AS (
      SELECT doc_id, text FROM qsig
      WHERE round((n_lines - n_distinct) / CAST(safe_lines AS DOUBLE), 6) <= 0.30
        AND round(n_symbols / CAST(safe_words AS DOUBLE), 6) <= 0.10
        AND round(n_bullet / CAST(safe_lines AS DOUBLE), 6) <= 0.90
        AND round(word_chars / CAST(safe_words AS DOUBLE), 6) >= 2.0
        AND round(word_chars / CAST(safe_words AS DOUBLE), 6) <= 12.0
    ), dd AS MATERIALIZED (
      SELECT DISTINCT text FROM passed
    ),
"""
        + ctes88
        + f""",
docw AS MATERIALIZED (
  SELECT md5(text) AS fp,
         unnest(range(1, len(ws) + 1)) AS wi,
         unnest(ws) AS word
  FROM (SELECT text, regexp_extract_all(text, '[^ ]+') AS ws FROM dd)),
vtok AS MATERIALIZED (
  SELECT word, unnest(range(1, len(sym) + 1)) AS si, unnest(sym) AS tok
  FROM vocab8),
ids AS MATERIALIZED (
  SELECT chr(CAST(256 + r AS INT)) AS tok, CAST(r AS INT) AS tid
  FROM range(256) t(r)
{ids_union}),
vids AS MATERIALIZED (
  SELECT v.word,
         string_agg(CAST(i.tid AS VARCHAR), ' ' ORDER BY v.si) AS idstr,
         CAST(count(*) AS BIGINT) AS n
  FROM vtok v JOIN ids i ON i.tok = v.tok
  GROUP BY v.word),
tokf AS MATERIALIZED (
  SELECT d.fp, CAST(sum(vids.n) AS BIGINT) AS n_tokens,
         md5(string_agg(vids.idstr, ' ' ORDER BY d.wi)) AS ids_md5
  FROM docw d JOIN vids ON vids.word = d.word
  GROUP BY d.fp)
SELECT d.fp,
       CAST(coalesce(t.n_tokens, 0) AS BIGINT) AS n_tokens,
       coalesce(t.ids_md5, md5('')) AS ids_md5
FROM (SELECT md5(text) AS fp FROM dd) d
LEFT JOIN tokf t ON t.fp = d.fp
ORDER BY d.fp"""
    )


def _stream_pipeline_result(spark, sf_dir, table, state_store=None, chunk=False):
    """Shared q98/q99/q104 body: a REAL readStream drain of
    prepare_corpus_stream over the planted corpus. Three streams of
    the documents source build the fixture map-side: the table itself,
    a same-text copy under shifted ids (the watermark dedup must
    collapse it — different ids, different synthetic event times), and
    a per-row junk doc the quality rules must reject. The output keys
    on the text fingerprint so the stream's arrival-order survivor
    choice cannot leak into the hash. ``chunk=True`` (q104) appends
    the context-window chunking stage via CorpusConfig.chunk_* — the
    stream then lands (fp, chunk_id)-keyed context windows instead of
    per-document sequences."""
    from vinum_spark.operators.pipeline import (
        CorpusConfig,
        prepare_corpus_stream,
    )
    from vinum_spark.operators.text import learn_bpe_merges
    from vinum_spark.streaming.windows import (
        run_stream_to_memory,
        stream_table,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir}/documents.parquet"
    merges = learn_bpe_merges(
        _t(spark, sf_dir, "documents"),
        n_merges=8,
        byte_level=True,
        token_pattern="[^ ]+",
    )
    s1 = stream_table(spark, path).select("doc_id", "text")
    s2 = stream_table(spark, path).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    s3 = stream_table(spark, path).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.lit("#### # ## #").alias("text"),
    )
    stream = (
        s1.unionByName(s2)
        .unionByName(s3)
        .withColumn(
            "ts",
            F.timestamp_seconds(F.lit(1_700_000_000) + F.col("doc_id")),
        )
        .withColumn("fp", F.md5("text"))
    )
    cfg = CorpusConfig(
        quality_filter=True,
        dedup=True,
        dedup_cols=("fp",),
        tokenize_with=merges,
        tokenize_byte_level=True,
        tokenize_pattern="[^ ]+",
        tokenize_emit_ids=True,
        chunk_max_len=16 if chunk else None,
        chunk_stride=12 if chunk else None,
        chunk_min_len=4 if chunk else 1,
    )
    keys = ["fp", "chunk_id"] if chunk else ["fp"]
    out = prepare_corpus_stream(
        stream, cfg, ts_col="ts", watermark="3650 days"
    ).select(
        *keys,
        F.col("n_tokens"),
        F.md5(
            F.concat_ws(
                " ", F.expr("transform(token_ids, i -> CAST(i AS STRING))")
            )
        ).alias("ids_md5"),
    )
    # single_data_batch: one-batch input (static single-file source);
    # dropDuplicatesWithinWatermark emits first occurrences in the
    # batch they arrive and every later stage is a projection, so
    # batch 0's commit holds the complete output — the wind-down batch
    # (~1 s of state machinery) only evicts state.
    run_stream_to_memory(
        out, table, mode="append", state_partitions=8,
        state_store=state_store, single_data_batch=True,
    )
    return spark.table(table).orderBy(*keys)


@_q(
    "q98_pipeline_stream",
    _q98_oracle(),
    "STREAMING prepare_corpus under the oracle gate — corpus "
    "preparation as ingestion: a real readStream of the documents "
    "source (plus a planted same-text copy under different ids and a "
    "planted quality-failing junk doc per row, built map-side from "
    "two more streams of the same source) through "
    "prepare_corpus_stream: quality rules -> "
    "dropDuplicatesWithinWatermark on the text fingerprint -> "
    "map-side byte-level BPE tokenization with model-ready token_ids "
    "— every stage the EXACT batch operator (shared code). The "
    "drained memory sink must hash-match the batch semantics "
    "recomputed entirely in DuckDB (quality chain + DISTINCT text + "
    "the 8-stage merge chain + GPT-2-layout ids), keyed by text "
    "fingerprint so arrival-order survivor choice cannot leak in: "
    "the junk rows must be filtered, the planted copies collapsed, "
    "and every surviving text tokenized identically to batch.",
)
def q98(spark, sf_dir):
    return _stream_pipeline_result(spark, sf_dir, "q98_out")


@_q(
    "q99_pipeline_stream_rocksdb",
    _q98_oracle(),
    "q98's streaming prepare_corpus pipeline on the RocksDB state "
    "store (spark.sql.streaming.stateStore.providerClass = "
    "RocksDBStateStoreProvider) — the production knob once dedup "
    "state outgrows executor heap (state off-heap in RocksDB, "
    "changelog/snapshot files in the checkpoint; spills instead of "
    "OOMing). Results must be provider-independent: the identical "
    "DuckDB oracle gates both rows, so a provider-induced divergence "
    "in the watermark dedup (the only stateful stage) hash-"
    "mismatches.",
)
def q99(spark, sf_dir):
    return _stream_pipeline_result(
        spark, sf_dir, "q99_out", state_store="rocksdb"
    )


@_q(
    "q100_bpe_roundtrip",
    f"SELECT doc_id, {_BPE_AUG_SQL} AS text FROM documents ORDER BY doc_id",
    "Tokenizer ROUND-TRIP gate — the brutal identity: "
    "decode(encode(text)) must reproduce the original text "
    "byte-for-byte for every document. GPT2ISH_SPLIT_PATTERN's "
    "alternatives tile the input (every character is consumed by "
    "exactly one token: letters, digits, punctuation runs, "
    "whitespace runs), so the full chain — pre-tokenize -> byte "
    "symbols -> greedy merges -> GPT-2-layout ids -> bpe_decode_ids "
    "(ids -> merge symbols -> bytes -> UTF-8) — is the identity "
    "regardless of the learned table. The oracle is just the "
    "augmented source text: any defect anywhere in the encode or "
    "decode path (a dropped character class, a wrong id, a bad "
    "byte mapping, a merge that corrupts symbols) breaks equality.",
)
def q100(spark, sf_dir):
    from vinum_spark.operators.text import (
        GPT2ISH_SPLIT_PATTERN,
        bpe_decode_ids,
        bpe_tokenize_map_side,
        learn_bpe_merges,
    )

    docs = _bpe_aug(_t(spark, sf_dir, "documents"))
    kw = {"byte_level": True, "token_pattern": GPT2ISH_SPLIT_PATTERN}
    merges = learn_bpe_merges(docs, n_merges=8, **kw)
    enc = bpe_tokenize_map_side(docs, merges, emit_ids=True, **kw)
    return bpe_decode_ids(enc, merges).orderBy("doc_id")


#: q101: chunking params (model context 16, stride 12 -> 4-id overlap,
#: tail fragments under 4 ids dropped) — small enough that the sf0.01
#: docs produce multi-chunk outputs with both overlap and dropped
#: tails exercised.
_Q101_FINAL_SQL = (
    """vtok AS MATERIALIZED (
  SELECT word, unnest(range(1, len(sym) + 1)) AS si, unnest(sym) AS tok
  FROM vocab8),
ids AS MATERIALIZED (
  SELECT chr(CAST(256 + r AS INT)) AS tok, CAST(r AS INT) AS tid
  FROM range(256) t(r)
"""
    + "".join(
        f"  UNION ALL SELECT a || b, CAST({255 + k} AS INT) FROM best{k}\n"
        for k in range(1, 9)
    )
    + """),
vids AS MATERIALIZED (
  SELECT v.word, list(i.tid ORDER BY v.si) AS tids
  FROM vtok v JOIN ids i ON i.tok = v.tok
  GROUP BY v.word),
docids AS MATERIALIZED (
  SELECT d.doc_id, flatten(list(vids.tids ORDER BY d.wi)) AS tids
  FROM docw d JOIN vids ON vids.word = d.word
  GROUP BY d.doc_id),
chunks AS (
  SELECT doc_id,
         CAST(c AS INT) AS chunk_id,
         tids[CAST(c * 12 + 1 AS INT) : CAST(c * 12 + 16 AS INT)] AS chunk
  FROM docids, unnest(range(0, CAST(floor((len(tids) - 1) / 12) AS BIGINT) + 1)) t(c)
  WHERE len(tids) > 0)
SELECT doc_id, chunk_id,
       CAST(len(chunk) AS BIGINT) AS n_tokens,
       md5(array_to_string(list_transform(chunk, i -> CAST(i AS VARCHAR)), ' '))
         AS ids_md5
FROM chunks
WHERE len(chunk) >= 4
ORDER BY doc_id, chunk_id"""
)


@_q(
    "q101_chunk_token_ids",
    _q89_oracle(
        base=_q88_oracle(
            8, words_from=_BPE_BYTE_WORDS_FROM, sym_expr=_DUCK_BYTE_SYM
        ),
        doc_ws_sql=(
            f"SELECT doc_id, regexp_extract_all({_BPE_AUG_SQL}, '[^ ]+') AS ws"
            " FROM documents"
        ),
        final_sql=_Q101_FINAL_SQL,
    ).replace(
        # final_sql opens with another CTE (same patch as q92/q93)
        "GROUP BY d.doc_id)\nvtok AS",
        "GROUP BY d.doc_id),\nvtok AS",
    ),
    "Context-window chunking under the oracle gate (chunk_token_ids — "
    "the training-prep step between tokenization and packing): the "
    "byte-level BPE id corpus split into context-16 sequences at "
    "step-12 starts (stride here is the window STEP, so consecutive "
    "chunks overlap by max_len - stride = 4 ids; HF's `stride` is "
    "the overlap — the docstring states the conversion), tail "
    "fragments under 4 ids dropped. Pure built-in array expressions "
    "— one posexplode, "
    "no UDF, no shuffle (a projection: composes with the streaming "
    "pipeline). The oracle re-derives the id sequences from the merge "
    "chain and chunks them with DuckDB list slicing, so a drift in "
    "start offsets, overlap, tail handling, or chunk numbering "
    "hash-mismatches per chunk.",
)
def q101(spark, sf_dir):
    from vinum_spark.operators.text import (
        bpe_tokenize,
        chunk_token_ids,
        learn_bpe_merges,
    )

    docs = _bpe_aug(_t(spark, sf_dir, "documents"))
    kw = {"byte_level": True, "token_pattern": "[^ ]+"}
    merges = learn_bpe_merges(docs, n_merges=8, **kw)
    # emit_ids: ids in the same corpus pass as tokenization (equal to
    # bpe_encode_ids by construction — q93/q105/q106 keep that
    # operator's own gate); the explicit select drops the token
    # strings before the chunking projection
    enc = bpe_tokenize(
        docs, merges, id_col="doc_id", emit_ids=True, **kw
    ).select("doc_id", "token_ids", "n_tokens")
    out = chunk_token_ids(enc, max_len=16, stride=12, min_len=4)
    return out.select(
        "doc_id",
        "chunk_id",
        F.col("n_tokens"),
        F.md5(
            F.concat_ws(
                " ", F.expr("transform(token_ids, i -> CAST(i AS STRING))")
            )
        ).alias("ids_md5"),
    ).orderBy("doc_id", "chunk_id")


#: q102: block packing over the byte-BPE id corpus — 32-id blocks in
#: 8 md5 shards (small enough that every shard emits many blocks and
#: drops a partial tail).
_Q102_FINAL_SQL = (
    """vtok AS MATERIALIZED (
  SELECT word, unnest(range(1, len(sym) + 1)) AS si, unnest(sym) AS tok
  FROM vocab8),
ids AS MATERIALIZED (
  SELECT chr(CAST(256 + r AS INT)) AS tok, CAST(r AS INT) AS tid
  FROM range(256) t(r)
"""
    + "".join(
        f"  UNION ALL SELECT a || b, CAST({255 + k} AS INT) FROM best{k}\n"
        for k in range(1, 9)
    )
    + """),
vids AS MATERIALIZED (
  SELECT v.word, list(i.tid ORDER BY v.si) AS tids
  FROM vtok v JOIN ids i ON i.tok = v.tok
  GROUP BY v.word),
docids AS MATERIALIZED (
  SELECT d.doc_id, flatten(list(vids.tids ORDER BY d.wi)) AS tids
  FROM docw d JOIN vids ON vids.word = d.word
  GROUP BY d.doc_id),
sharded AS (
  SELECT doc_id, tids,
         CAST(('0x' || substring(md5(concat_ws(chr(31),
             CAST(doc_id AS VARCHAR), '0')), 1, 8))::UBIGINT % 8 AS INT)
           AS shard,
         md5(concat_ws(chr(31), CAST(doc_id AS VARCHAR), '0')) AS rk
  FROM docids),
off AS (
  SELECT shard, tids,
         COALESCE(SUM(len(tids)) OVER (PARTITION BY shard ORDER BY rk, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS seq_pos
  FROM sharded),
tok AS (
  SELECT shard,
         (seq_pos + i - 1) // 32 AS block_id,
         (seq_pos + i - 1) % 32 AS p,
         tids[CAST(i AS INT)] AS tid
  FROM off, unnest(range(1, len(tids) + 1)) t(i)),
blocks AS (
  SELECT shard, block_id, list(tid ORDER BY p) AS bids,
         count(*) AS n
  FROM tok GROUP BY shard, block_id)
SELECT shard, CAST(block_id AS BIGINT) AS block_id,
       md5(array_to_string(list_transform(bids, x -> CAST(x AS VARCHAR)), ' '))
         AS ids_md5
FROM blocks WHERE n = 32
ORDER BY shard, block_id"""
)


@_q(
    "q102_pack_token_blocks",
    _q89_oracle(
        base=_q88_oracle(
            8, words_from=_BPE_BYTE_WORDS_FROM, sym_expr=_DUCK_BYTE_SYM
        ),
        doc_ws_sql=(
            f"SELECT doc_id, regexp_extract_all({_BPE_AUG_SQL}, '[^ ]+') AS ws"
            " FROM documents"
        ),
        final_sql=_Q102_FINAL_SQL,
    ).replace(
        "GROUP BY d.doc_id)\nvtok AS",
        "GROUP BY d.doc_id),\nvtok AS",
    ),
    "Token-block packing under the oracle gate (pack_token_blocks — "
    "the FINAL pre-training artifact: documents concatenated "
    "back-to-back in the deterministic md5-shard stream order, "
    "re-chunked into fixed 32-id blocks, partial shard tails "
    "dropped). Fully distributed: pack_sequences offsets give each "
    "token its absolute stream position, so block membership is "
    "arithmetic (pos div 32) — one token-sized posexplode + one "
    "perfectly-uniform (shard, block) shuffle, no sequential "
    "assembly loop. The oracle recomputes the entire composition — "
    "merge chain, per-doc ids, md5 stream order, running offsets, "
    "block arithmetic — in DuckDB windows, so a drift in ordering, "
    "offsets, block boundaries, or tail handling hash-mismatches "
    "per block.",
)
def q102(spark, sf_dir):
    from vinum_spark.operators.sampling import pack_token_blocks
    from vinum_spark.operators.text import (
        bpe_tokenize,
        learn_bpe_merges,
    )

    docs = _bpe_aug(_t(spark, sf_dir, "documents"))
    kw = {"byte_level": True, "token_pattern": "[^ ]+"}
    merges = learn_bpe_merges(docs, n_merges=8, **kw)
    # emit_ids: ids in the same corpus pass as tokenization (equal to
    # bpe_encode_ids by construction — q93/q105/q106 keep that
    # operator's own gate); the explicit select keeps the token
    # strings out of the pack shuffle, which carries every column
    enc = bpe_tokenize(
        docs, merges, id_col="doc_id", emit_ids=True, **kw
    ).select("doc_id", "token_ids")
    blocks = pack_token_blocks(enc, block_size=32, n_shards=8)
    return blocks.select(
        "shard",
        "block_id",
        F.md5(
            F.concat_ws(
                " ", F.expr("transform(token_ids, i -> CAST(i AS STRING))")
            )
        ).alias("ids_md5"),
    ).orderBy("shard", "block_id")


@_q(
    "q103_stream_store_dedup",
    r"""
    WITH fps AS (
      SELECT doc_id,
             md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
      FROM documents
    ),
    seed AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 3 = 0),
    fresh AS (SELECT DISTINCT fp FROM fps)
    SELECT f.fp AS fingerprint
    FROM fresh f ANTI JOIN seed s ON f.fp = s.fp
    ORDER BY fingerprint
    """,
    "Streaming dedup against a PERSISTENT fingerprint store under the "
    "oracle gate (run_stream_dedup_against_store — foreachBatch: the "
    "third streaming-dedup design point, state in shared STORAGE "
    "rather than executor memory or the state store, so it survives "
    "restarts and needs no eviction policy). The store is pre-seeded "
    "with every doc_id%3==0 fingerprint; the documents source arrives "
    "as a real multi-micro-batch stream PLUS a same-text copy under "
    "shifted ids; each micro-batch runs the exact batch operator "
    "dedup_against_store against the store-so-far and appends its "
    "survivors' fingerprints back — so seeded texts must be rejected, "
    "the planted copies must collapse across batches through the "
    "store, and the surviving fingerprint SET (arrival-order-free by "
    "construction) hash-matches the batch anti-join the oracle "
    "computes. Since round 15 the store runs in its BUCKETED layout "
    "(io/bucketing ensure_fingerprint_store: versioned dirs, catalog "
    "table, store-side exchange elided so each micro-batch shuffles "
    "only itself — O(batch), not O(store); since round 16 the "
    "base+delta split also elides the base-side per-batch SORT), "
    "with compact_at_files low enough that the crash-safe versioned "
    "compaction fires mid-drain under the gate.",
)
def q103(spark, sf_dir):
    import hashlib
    import shutil
    import tempfile

    from vinum_spark.io.bucketing import (
        append_fingerprints,
        ensure_fingerprint_store,
    )
    from vinum_spark.operators.text import with_fingerprint
    from vinum_spark.streaming.stateful import (
        run_stream_dedup_against_store,
    )
    from vinum_spark.streaming.windows import stream_table

    # one FIXED working tree per (Spark application, sf_dir), wiped at
    # call start — repeated gate/bench invocations inside one app reuse
    # the slot instead of leaking a mkdtemp tree per run, while the
    # applicationId in the tag keeps two CONCURRENT processes on one
    # host from wiping each other's store/checkpoint mid-drain
    app = spark.sparkContext.applicationId
    tag = hashlib.md5(f"{app}\x1f{sf_dir}".encode()).hexdigest()[:10]
    base = f"{tempfile.gettempdir()}/q103_store_{tag}"
    shutil.rmtree(base, ignore_errors=True)
    store, out, ckpt = f"{base}/store", f"{base}/out", f"{base}/ckpt"
    d = _t(spark, sf_dir, "documents")
    # the store runs in its BUCKETED layout (round 15): the pre-seed
    # goes through the store API, each micro-batch's anti-join elides
    # the store-side exchange (plan-pinned in tests/test_plans.py),
    # and the low compact_at_files forces a mid-drain compaction so
    # the versioned rewrite is exercised under the gate too
    ensure_fingerprint_store(spark, store, buckets=8)
    append_fingerprints(
        with_fingerprint(d.filter(F.col("doc_id") % 3 == 0), "text"),
        store,
        buckets=8,
    )
    s1 = stream_table(
        spark, f"{sf_dir}/documents.parquet", max_files_per_trigger=1
    ).select("doc_id", "text")
    s2 = stream_table(spark, f"{sf_dir}/documents.parquet").select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    run_stream_dedup_against_store(
        s1.unionByName(s2),
        store,
        out,
        ckpt,
        state_partitions=8,
        store_buckets=8,
        # appends now land ~4 delta files each (seed + per-batch
        # survivors): 12 keeps the mid-drain compaction firing
        compact_at_files=12,
    )
    return (
        spark.read.parquet(out)
        .select("fingerprint")
        .distinct()
        .orderBy("fingerprint")
    )


#: q104: the streaming pipeline's chunking closure — q98's oracle
#: program extended with q101's context-window chunking (context 16,
#: step 12, min 4), keyed by (text fingerprint, chunk_id) so stream
#: arrival order cannot leak into the hash.
def _q104_oracle() -> str:
    base98 = _q98_oracle()
    # the unpack itself is the drift check: a missing separator raises
    # ValueError here; the vids .replace below is likewise self-checking
    # (an unapplied replace leaves `vids.tids` unresolved -> DuckDB
    # errors loudly in the gate)
    head, _tail = base98.split("tokf AS MATERIALIZED", 1)
    return (
        head
        + """docids AS MATERIALIZED (
  SELECT d.fp, flatten(list(vids.tids ORDER BY d.wi)) AS tids
  FROM docw d JOIN vids ON vids.word = d.word
  GROUP BY d.fp),
chunks AS (
  SELECT fp,
         CAST(c AS INT) AS chunk_id,
         tids[CAST(c * 12 + 1 AS INT) : CAST(c * 12 + 16 AS INT)] AS chunk
  FROM docids,
       unnest(range(0, CAST(floor((len(tids) - 1) / 12) AS BIGINT) + 1)) t(c)
  WHERE len(tids) > 0)
SELECT fp, chunk_id,
       CAST(len(chunk) AS BIGINT) AS n_tokens,
       md5(array_to_string(list_transform(chunk, i -> CAST(i AS VARCHAR)), ' '))
         AS ids_md5
FROM chunks
WHERE len(chunk) >= 4
ORDER BY fp, chunk_id"""
    ).replace(
        # q98's vids emits id STRINGS for its hash; chunking needs the
        # id LIST to slice, so swap the aggregate (same join, same
        # ordering column)
        "string_agg(CAST(i.tid AS VARCHAR), ' ' ORDER BY v.si) AS idstr,\n"
        "         CAST(count(*) AS BIGINT) AS n",
        "list(i.tid ORDER BY v.si) AS tids",
    )


@_q(
    "q104_pipeline_stream_chunks",
    _q104_oracle(),
    "STREAMING training-prep closure under the oracle gate: q98's "
    "prepare_corpus_stream pipeline (quality rules -> watermark dedup "
    "on the text fingerprint -> map-side byte-BPE with token_ids) "
    "extended with CorpusConfig.chunk_* — context-window chunking as "
    "the stage after tokenization, INSIDE the drained stream (a pure "
    "projection, so the chain stays streamable; chunk_max_len=16, "
    "stride=12 as the window step, tails under 4 ids dropped). Each "
    "surviving document must emit the identical (chunk_id, ids) rows "
    "the batch semantics produce — the oracle recomputes quality + "
    "DISTINCT text + the merge chain + ids + DuckDB list-slice "
    "chunking, keyed by (fp, chunk_id). Packing is NOT in the stream: "
    "pack_token_blocks needs the shard-stream total order, so blocks "
    "are built in the batch refinement pass over landed chunks — that "
    "composed contract (landed stream chunks -> pack_token_blocks == "
    "batch pipeline -> pack_token_blocks) is pinned in "
    "tests/test_streaming.py.",
)
def q104(spark, sf_dir):
    return _stream_pipeline_result(
        spark, sf_dir, "q104_out", chunk=True
    )


#: q105: the PUBLISHED GPT-2 id layout — base-byte ids differ from the
#: internal bpe_vocab layout (printable bytes 0-187, remapped bytes
#: 188-255), merge products keep 255+k. The mapping is inlined as a
#: 256-row VALUES list derived from the same function the operator
#: uses; a drift in either side breaks the hash.
_PUB_IDS_VALUES = ",".join(
    f"({b},{p})"
    for b, p in sorted(X._gpt2_published_byte_ids().items())
)
_Q105_FINAL_SQL = (
    """vtok AS MATERIALIZED (
  SELECT word, unnest(range(1, len(sym) + 1)) AS si, unnest(sym) AS tok
  FROM vocab8),
ids AS MATERIALIZED (
  SELECT chr(CAST(256 + b AS INT)) AS tok, CAST(p AS INT) AS tid
  FROM (VALUES """
    + _PUB_IDS_VALUES
    + """) t(b, p)
"""
    + "".join(
        f"  UNION ALL SELECT a || b, CAST({255 + k} AS INT) FROM best{k}\n"
        for k in range(1, 9)
    )
    + """),
vids AS MATERIALIZED (
  SELECT v.word,
         string_agg(CAST(i.tid AS VARCHAR), ' ' ORDER BY v.si) AS idstr,
         CAST(count(*) AS BIGINT) AS n
  FROM vtok v JOIN ids i ON i.tok = v.tok
  GROUP BY v.word),
tokid AS MATERIALIZED (
  SELECT d.doc_id, CAST(sum(vids.n) AS BIGINT) AS n_tokens,
         md5(string_agg(vids.idstr, ' ' ORDER BY d.wi)) AS ids_md5
  FROM docw d JOIN vids ON vids.word = d.word
  GROUP BY d.doc_id)
SELECT doc.doc_id,
       CAST(coalesce(t.n_tokens, 0) AS BIGINT) AS n_tokens,
       coalesce(t.ids_md5, md5('')) AS ids_md5
FROM documents doc LEFT JOIN tokid t ON t.doc_id = doc.doc_id
ORDER BY doc.doc_id"""
)


@_q(
    "q105_gpt2_published_ids",
    _q89_oracle(
        base=_q88_oracle(
            8, words_from=_BPE_BYTE_WORDS_FROM, sym_expr=_DUCK_BYTE_SYM
        ),
        doc_ws_sql=(
            f"SELECT doc_id, regexp_extract_all({_BPE_AUG_SQL}, '[^ ]+') AS ws"
            " FROM documents"
        ),
        final_sql=_Q105_FINAL_SQL,
    ).replace(
        # final_sql opens with another CTE (same patch as q92/q93)
        "GROUP BY d.doc_id)\nvtok AS",
        "GROUP BY d.doc_id),\nvtok AS",
    ),
    "The PUBLISHED GPT-2 tokenizer artifact format under the oracle "
    "gate (save_tokenizer_gpt2 / load_tokenizer_gpt2 — the "
    "vocab.json + merges.txt pair real users arrive with): the "
    "learned merge table is written to disk in the published format "
    "(byte alphabet transliterated — space is 'Ġ' — ids in the "
    "published layout: printable bytes 0-187, remapped bytes "
    "188-255, merges 256+rank-1, <|endoftext|> last), loaded back, "
    "and the corpus is encoded UNDER THE LOADED PUBLISHED IDS "
    "(bpe_encode_ids vocab_df override). The oracle re-derives every "
    "id from the merge chain plus the published base-byte mapping "
    "inlined as a 256-row VALUES table — a drift in the alphabet, "
    "the transliteration, the id layout, the artifact round-trip, or "
    "the override join hash-mismatches per document.",
)
def q105(spark, sf_dir):
    import hashlib
    import os
    import tempfile

    from vinum_spark.operators.text import (
        bpe_encode_ids,
        bpe_tokenize,
        learn_bpe_merges,
        load_tokenizer_gpt2,
        save_tokenizer_gpt2,
    )

    docs = _bpe_aug(_t(spark, sf_dir, "documents"))
    merges = learn_bpe_merges(
        docs, n_merges=8, byte_level=True, token_pattern="[^ ]+"
    )
    app = spark.sparkContext.applicationId
    tag = hashlib.md5(f"{app}\x1f{sf_dir}".encode()).hexdigest()[:10]
    base = f"{tempfile.gettempdir()}/q105_gpt2_{tag}"
    os.makedirs(base, exist_ok=True)
    mp, vp = f"{base}/merges.txt", f"{base}/vocab.json"
    save_tokenizer_gpt2(merges, mp, vp)
    loaded = load_tokenizer_gpt2(spark, mp, vp)
    toks = bpe_tokenize(
        docs,
        loaded["merges"],
        id_col="doc_id",
        byte_level=True,
        token_pattern="[^ ]+",
    )
    enc = bpe_encode_ids(toks, loaded["merges"], vocab_df=loaded["vocab"])
    return enc.select(
        "doc_id",
        F.col("n_tokens"),
        F.md5(
            F.concat_ws(
                " ", F.expr("transform(token_ids, i -> CAST(i AS STRING))")
            )
        ).alias("ids_md5"),
    ).orderBy("doc_id")


@_q(
    "q107_store_base_delta_dedup",
    r"""
    WITH fps AS (
      SELECT doc_id,
             md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
      FROM documents
    ),
    seed AS (
      SELECT DISTINCT fp FROM fps WHERE doc_id % 3 = 0 OR doc_id % 5 = 0
    ),
    fresh AS (SELECT DISTINCT fp FROM fps)
    SELECT f.fp AS fingerprint
    FROM fresh f ANTI JOIN seed s ON f.fp = s.fp
    ORDER BY fingerprint
    """,
    "BATCH incremental dedup against the base+delta persistent store "
    "(round 16) under the oracle gate — the explicit twin of q103's "
    "streaming carrier: one fingerprint seed (doc_id%3==0) is "
    "appended and COMPACTED into the immutable base (one sorted file "
    "per bucket — the anti-join reads it exchange- AND sort-free, "
    "plan-pinned in tests/test_plans.py), a second seed (doc_id%5==0) "
    "is appended AFTER the compaction so it sits in the delta staging "
    "dir, and the batch is deduped against BOTH sides "
    "(dedup_against_store extra_stores). The surviving fingerprint "
    "set must equal the oracle's anti-join against the UNION of both "
    "seeds — a store that loses the delta, double-merges it, or "
    "mis-buckets the base hash-mismatches.",
)
def q107(spark, sf_dir):
    import hashlib
    import shutil
    import tempfile

    from vinum_spark.io.bucketing import (
        append_fingerprints,
        compact_fingerprint_store,
        ensure_fingerprint_store,
        store_delta_frame,
        store_table_version,
    )
    from vinum_spark.operators.dedup import dedup_against_store
    from vinum_spark.operators.text import with_fingerprint

    app = spark.sparkContext.applicationId
    tag = hashlib.md5(f"{app}\x1f{sf_dir}".encode()).hexdigest()[:10]
    store = f"{tempfile.gettempdir()}/q107_store_{tag}"
    shutil.rmtree(store, ignore_errors=True)
    d = _t(spark, sf_dir, "documents")
    tbl = ensure_fingerprint_store(spark, store, buckets=8)
    append_fingerprints(
        with_fingerprint(d.filter(F.col("doc_id") % 3 == 0), "text"),
        store,
        buckets=8,
    )
    compact_fingerprint_store(spark, store, buckets=8)  # -> base
    append_fingerprints(  # post-compaction -> stays in the delta
        with_fingerprint(d.filter(F.col("doc_id") % 5 == 0), "text"),
        store,
        buckets=8,
    )
    base = spark.table(tbl).select("fingerprint")
    # base_version excludes grace files merged into THIS base from the
    # delta read — here the v1 manifest names the first append's files,
    # so the delta side is exactly the second (post-compaction) append
    delta = store_delta_frame(
        spark, store, base_version=store_table_version(spark, tbl)
    )
    out = dedup_against_store(
        d, base, extra_stores=[delta] if delta is not None else []
    )
    return (
        out.select("fingerprint").distinct().orderBy("fingerprint")
    )


@_q(
    "q108_duplicated_ngram_spans",
    r"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
      FROM documents
    ),
    wins AS (
      SELECT doc_id, len(ws) AS n_tokens, ws,
             unnest(generate_series(1, greatest(len(ws) - 8 + 1, 0))) AS i
      FROM toks
    ),
    winh AS (
      SELECT doc_id, n_tokens, i - 1 AS start,
             md5(array_to_string(ws[i : i + 8 - 1], ' ')) AS h
      FROM wins
    ),
    dup AS (SELECT h FROM winh GROUP BY h HAVING count(*) >= 2),
    dw AS (SELECT w.doc_id, w.n_tokens, w.start FROM winh w JOIN dup USING (h)),
    isl AS (
      SELECT doc_id, n_tokens, start,
             CASE WHEN lag(start) OVER (PARTITION BY doc_id ORDER BY start)
                       IS NULL
                   OR start > lag(start) OVER (
                        PARTITION BY doc_id ORDER BY start) + 8 - 1
                  THEN 1 ELSE 0 END AS ni
      FROM dw
    ),
    isl2 AS (
      SELECT doc_id, n_tokens, start,
             sum(ni) OVER (PARTITION BY doc_id ORDER BY start
                           ROWS UNBOUNDED PRECEDING) AS island
      FROM isl
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(min(start) AS BIGINT) AS span_start,
           CAST(max(start) + 8 - min(start) AS BIGINT) AS span_len
    FROM isl2 GROUP BY doc_id, n_tokens, island
    ORDER BY doc_id, span_start
    """,
    "Exact-substring duplication spans — the ExactSubstr method of "
    "Lee et al. 2022 re-expressed relationally (the reference method "
    "is a single-machine suffix array; here the window explode is "
    "bounded by tokens-per-doc, the corpus-sized cost is ONE Exchange "
    "carrying the exploded window set into a count-over-window — not "
    "map-side aggregated, the deliberate trade that keeps the explode "
    "subtree single-occurrence in the plan — and the span merge is "
    "per-document gaps-and-islands in one window function). Every "
    "8-token window repeated >=2 times across the corpus marks its "
    "span; overlapping windows merge into maximal (span_start, "
    "span_len) rows per document. The oracle recomputes the whole "
    "chain in DuckDB — window hashing, the duplicate threshold, and "
    "the island merge — so a drift in tokenization, window indexing, "
    "hashing, or the merge arithmetic hash-mismatches.",
)
def q108(spark, sf_dir):
    from vinum_spark.operators.dedup import duplicated_ngram_spans

    d = _t(spark, sf_dir, "documents")
    return (
        duplicated_ngram_spans(d, n=8, min_count=2)
        .select(
            "doc_id",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            "span_start",
            "span_len",
        )
        .orderBy("doc_id", "span_start")
    )


@_q(
    "q109_pipeline_despan",
    r"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0
    ), dd AS (
      SELECT doc_id, text FROM (
        SELECT corpus.*,
               row_number() OVER (
                 PARTITION BY md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
                 ORDER BY doc_id) AS rn
        FROM corpus) WHERE rn = 1
    ), toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM dd
    ), wins AS (
      SELECT doc_id, t,
             unnest(generate_series(1, greatest(len(t) - 6 + 1, 0))) AS i
      FROM toks
    ), winh AS (
      SELECT doc_id, i - 1 AS start,
             md5(array_to_string(t[i : i + 6 - 1], ' ')) AS h
      FROM wins
    ), dup AS (SELECT h FROM winh GROUP BY h HAVING count(*) >= 2),
    dw AS (SELECT w.doc_id, w.start FROM winh w JOIN dup USING (h)),
    isl AS (
      SELECT doc_id, start,
             CASE WHEN lag(start) OVER (PARTITION BY doc_id ORDER BY start)
                       IS NULL
                   OR start > lag(start) OVER (
                        PARTITION BY doc_id ORDER BY start) + 6 - 1
                  THEN 1 ELSE 0 END AS ni
      FROM dw
    ), isl2 AS (
      SELECT doc_id, start,
             sum(ni) OVER (PARTITION BY doc_id ORDER BY start
                           ROWS UNBOUNDED PRECEDING) AS island
      FROM isl
    ), spans AS (
      SELECT doc_id, min(start) AS s, max(start) + 6 AS e
      FROM isl2 GROUP BY doc_id, island
    ), spanlist AS (
      SELECT doc_id, list(struct_pack(s := s, e := e)) AS sp
      FROM spans GROUP BY doc_id
    ), kept AS (
      -- coalesce: DuckDB's array_to_string over an empty list is NULL
      -- where Spark's concat_ws is '' (fully-stripped and zero-token
      -- docs must agree on the empty string)
      SELECT tk.doc_id,
             coalesce(
               CASE WHEN sl.sp IS NULL THEN array_to_string(tk.t, ' ')
                    ELSE array_to_string(
                      list_filter(
                        list_transform(range(1, len(tk.t) + 1),
                          i -> CASE WHEN len(list_filter(sl.sp,
                                     x -> (i - 1) >= x.s AND (i - 1) < x.e)) > 0
                               THEN NULL ELSE tk.t[i] END),
                        v -> v IS NOT NULL), ' ')
               END, '') AS kept_text
      FROM toks tk LEFT JOIN spanlist sl USING (doc_id)
    ), kw AS (
      SELECT doc_id, kept_text,
             string_split_regex(trim(kept_text), '\s+') AS w
      FROM kept
    ), grams AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, greatest(len(w) - 3, 1) + 1),
               i -> array_to_string(w[i:i+3], ' ')))) AS gram
      FROM kw
    ), ev AS (
      -- the pipeline canonicalizes the eval text the same way the
      -- despan stage canonicalized the corpus (lowercase token
      -- extraction, single-space rejoin) before gram matching;
      -- coalesce mirrors Spark's '' gram for token-free eval docs
      SELECT DISTINCT gram FROM (
        SELECT coalesce(unnest(list_distinct(list_transform(
                 range(1, greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+')) - 3, 1) + 1),
                 i -> array_to_string(regexp_extract_all(lower(text), '[a-z0-9]+')[i:i+3], ' ')))), '')
               AS gram
        FROM documents WHERE doc_id % 10 = 0)
    ), hits AS (
      SELECT DISTINCT g.doc_id FROM grams g JOIN ev USING (gram)
    )
    SELECT k.doc_id, md5(k.kept_text) AS text_md5
    FROM kw k ANTI JOIN hits h ON k.doc_id = h.doc_id
    ORDER BY k.doc_id
    """,
    "ExactSubstr composed INTO prepare_corpus (VERDICT r16 item 4): "
    "the pipeline runs exact dedup -> exact-substring span removal "
    "(despan_ngram=6, the Lee et al. 2022 stage order) -> benchmark "
    "decontamination (4-grams vs the doc_id%10=0 eval slice) through "
    "the one-call API, and the oracle recomputes the WHOLE composition "
    "in DuckDB — the dedup window, the window-hash counts, the island "
    "merge, the index-aware token surgery, and the post-surgery "
    "decontamination (grams straddling removed spans must NOT match, "
    "exactly the Lee-et-al semantics). Per-doc md5 of the final text, "
    "so any drift anywhere in the chain hash-mismatches.",
)
def q109(spark, sf_dir):
    from vinum_spark.operators.pipeline import CorpusConfig, prepare_corpus

    d = _t(spark, sf_dir, "documents")
    out = prepare_corpus(
        d.filter(F.col("doc_id") % 10 != 0),
        CorpusConfig(
            quality_filter=False,
            dedup=True,
            despan_ngram=6,
            decontaminate_against=d.filter(F.col("doc_id") % 10 == 0),
            decontaminate_ngram=4,
        ),
    )
    return (
        out.select("doc_id", F.md5(F.col("text")).alias("text_md5"))
        .orderBy("doc_id")
    )


def _q110_oracle() -> str:
    """SemDeDup oracle — the 16 fixed coarse centroids are INLINED as
    literal DOUBLE[] rows (full-precision shortest-round-trip reprs, so
    DuckDB parses the exact doubles numpy holds), the assignment is the
    same first-index argmax, and the duplicate groups are the q63-style
    recursive-CTE transitive closure over within-cluster cosine edges."""
    import numpy as np

    from vinum_spark.operators.similarity import _hyperplanes

    c = _hyperplanes(64, 16, 42)
    c = c / np.linalg.norm(c, axis=1, keepdims=True)
    rows = ",\n      ".join(
        f"({i}, [{', '.join(repr(float(x)) for x in c[i])}]::DOUBLE[])"
        for i in range(len(c))
    )
    return f"""
    WITH RECURSIVE emb AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), planted AS (
      SELECT vec_id + 100000 AS vec_id,
             v[1:60] || [0.0, 0.0, 0.0, 0.0] AS v
      FROM emb
    ), allv AS (
      SELECT * FROM emb UNION ALL SELECT * FROM planted
    ), cent(cell, c) AS (VALUES
      {rows}
    ), cells AS (
      SELECT a.vec_id, a.v,
             (SELECT c.cell FROM cent c
              ORDER BY list_inner_product(a.v, c.c) DESC, c.cell
              LIMIT 1) AS cell
      FROM allv a
    ), edges0 AS (
      SELECT a.vec_id AS s, b.vec_id AS d
      FROM cells a JOIN cells b
        ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.v, b.v) >= 0.95
    ), edges AS (
      SELECT s, d FROM edges0 UNION SELECT d, s FROM edges0
    ), reach(id, r) AS (
      SELECT s, s FROM edges
      UNION
      SELECT e.d, reach.r FROM reach JOIN edges e ON e.s = reach.id
    ), labels AS (
      SELECT id, min(r) AS component FROM reach GROUP BY id
    )
    SELECT c.vec_id, CAST(c.cell AS INT) AS sem_cluster,
           CAST(coalesce(l.component, c.vec_id) AS BIGINT) AS component,
           coalesce(l.component, c.vec_id) = c.vec_id AS kept
    FROM cells c LEFT JOIN labels l ON l.id = c.vec_id
    ORDER BY c.vec_id
    """


@_q(
    "q110_semantic_dedup",
    _q110_oracle(),
    "Semantic deduplication — SemDeDup (Abbas et al. 2023) "
    "re-expressed relationally (operators/similarity.py "
    "semantic_dedup): cluster-bounded embedding near-dup, the "
    "100 TB-scale answer to all-pairs cosine. ivf_index's "
    "deterministic coarse quantizer assigns clusters, within-cluster "
    "pairs >= 0.95 cosine become edges (codegen'd JVM dot, no UDF), "
    "connected components (q63 machinery) label duplicate groups, "
    "min-id survives. Gate plants q56-style twins (last 4 of 64 "
    "components zeroed, cosine ~0.97) — each twin must land in its "
    "base's duplicate group WHEN clustering co-locates them (the "
    "paper's own cross-cluster recall trade, replicated exactly by "
    "the oracle's inlined-centroid assignment). The oracle recomputes "
    "the WHOLE chain: literal centroid argmax, within-cluster cosine "
    "edges, recursive-CTE transitive closure, survivor rule.",
)
def q110(spark, sf_dir):
    from vinum_spark.operators.similarity import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings")
    planted = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.concat(F.slice("embedding", 1, 60), F.array(*[F.lit(0.0)] * 4))
        .cast("array<float>")
        .alias("embedding"),
    )
    allv = emb.select("vec_id", "embedding").unionByName(planted)
    return semantic_dedup(
        allv, dim=64, n_clusters=16, threshold=0.95
    ).orderBy("vec_id")


@_q(
    "q111_dsir_select",
    r"""
    WITH raw AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0
    ), tgt AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
    ), rtok AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
      FROM raw
    ), ttok AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
      FROM tgt
    ), rgrams AS (
      SELECT doc_id, g FROM (
        SELECT doc_id, unnest(w) AS g FROM rtok
        UNION ALL
        SELECT doc_id, unnest(list_transform(
                 range(1, greatest(len(w) - 1, 0) + 1),
                 i -> w[i] || ' ' || w[i + 1])) AS g
        FROM rtok)
    ), tgrams AS (
      SELECT doc_id, g FROM (
        SELECT doc_id, unnest(w) AS g FROM ttok
        UNION ALL
        SELECT doc_id, unnest(list_transform(
                 range(1, greatest(len(w) - 1, 0) + 1),
                 i -> w[i] || ' ' || w[i + 1])) AS g
        FROM ttok)
    ), rgb AS (
      SELECT doc_id,
             CAST(('0x' || substring(md5(g), 1, 8))::UBIGINT % 1024 AS INT)
               AS b
      FROM rgrams
    ), tgb AS (
      SELECT CAST(('0x' || substring(md5(g), 1, 8))::UBIGINT % 1024 AS INT)
               AS b
      FROM tgrams
    ), tcnt AS (SELECT b, count(*) AS ct FROM tgb GROUP BY b),
    rcnt AS (SELECT b, count(*) AS cr FROM rgb GROUP BY b),
    ratio AS (
      SELECT b,
             ln((coalesce(ct, 0) + 1.0)
                / ((SELECT count(*) FROM tgb) + 1.0 * 1024))
           - ln((coalesce(cr, 0) + 1.0)
                / ((SELECT count(*) FROM rgb) + 1.0 * 1024)) AS r
      FROM rcnt FULL OUTER JOIN tcnt USING (b)
    ), w AS (
      SELECT rgb.doc_id, sum(r) AS logw
      FROM rgb JOIN ratio USING (b) GROUP BY rgb.doc_id
    )
    SELECT raw.doc_id,
           round(coalesce(logw, 0)
                 + -ln(-ln(
                     (('0x' || substring(md5(
                        raw.doc_id::VARCHAR || chr(31) || 'dsir'), 1, 8)
                      )::UBIGINT + 0.5) / 4294967296.0)), 6) AS score
    FROM raw LEFT JOIN w USING (doc_id)
    ORDER BY score DESC, raw.doc_id ASC
    LIMIT 50
    """,
    "Data selection via importance resampling — DSIR (Xie et al. "
    "2023) re-expressed relationally (operators/sampling.py "
    "dsir_select): hashed unigram+bigram bag-of-ngrams features "
    "(md5-prefix buckets, the engine-portable hash the sampling "
    "family gates), add-alpha-smoothed target/raw bucket language "
    "models, per-document importance log-weight via a BROADCAST "
    "1024-row log-ratio table (the corpus never shuffles for the "
    "lookup), and deterministic Gumbel-top-k resampling (md5-derived "
    "uniforms, scores rounded to 6dp in BOTH engines before ranking "
    "so summation-order float noise cannot flip the selected set). "
    "The oracle recomputes the entire program — features, buckets, "
    "smoothing, weights, Gumbel noise, ranking — so any drift "
    "hash-mismatches on the selected ids AND their scores.",
)
def q111(spark, sf_dir):
    from vinum_spark.operators.sampling import dsir_select

    d = _t(spark, sf_dir, "documents")
    return dsir_select(
        d.filter(F.col("doc_id") % 10 != 0),
        d.filter(F.col("doc_id") % 10 == 0),
        k=50,
        n_buckets=1024,
        seed="dsir",
    )


@_q(
    "q106_hf_tokenizer_json",
    _q89_oracle(
        base=_q88_oracle(
            8, words_from=_BPE_BYTE_WORDS_FROM, sym_expr=_DUCK_BYTE_SYM
        ),
        doc_ws_sql=(
            f"SELECT doc_id, regexp_extract_all({_BPE_AUG_SQL}, '[^ ]+') AS ws"
            " FROM documents"
        ),
        final_sql=_Q105_FINAL_SQL,
    ).replace(
        "GROUP BY d.doc_id)\nvtok AS",
        "GROUP BY d.doc_id),\nvtok AS",
    ),
    "The single-file HuggingFace tokenizer.json format under the "
    "oracle gate (save_tokenizer_hf / load_tokenizer_hf — the format "
    "modern tokenizers actually ship, completing q105's published-"
    "artifact story): the learned merge table is written as one "
    "tokenizer.json (model.type=BPE, ByteLevel pre-tokenizer, "
    "added_tokens carrying <|endoftext|> as special, vocab in the "
    "published id layout), loaded back, and the corpus is encoded "
    "UNDER THE LOADED PUBLISHED IDS. The oracle is q105's — the id "
    "layout is format-independent by design — so a drift between the "
    "two formats' vocab construction, the HF merge parsing, the "
    "added_tokens classification, or the byte alphabet "
    "hash-mismatches per document.",
)
def q106(spark, sf_dir):
    import hashlib
    import os
    import tempfile

    from vinum_spark.operators.text import (
        bpe_encode_ids,
        bpe_tokenize,
        learn_bpe_merges,
        load_tokenizer_hf,
        save_tokenizer_hf,
    )

    docs = _bpe_aug(_t(spark, sf_dir, "documents"))
    merges = learn_bpe_merges(
        docs, n_merges=8, byte_level=True, token_pattern="[^ ]+"
    )
    app = spark.sparkContext.applicationId
    tag = hashlib.md5(f"{app}\x1f{sf_dir}".encode()).hexdigest()[:10]
    base = f"{tempfile.gettempdir()}/q106_hf_{tag}"
    os.makedirs(base, exist_ok=True)
    tj = f"{base}/tokenizer.json"
    # the artifact carries its pre-tokenizer (Sequence[Split,
    # ByteLevel] for a custom regex): tokenize under the LOADED
    # pattern, so a drift in the pre-tokenizer round-trip — not just
    # the ids — hash-mismatches
    save_tokenizer_hf(merges, tj, token_pattern="[^ ]+")
    loaded = load_tokenizer_hf(spark, tj)
    toks = bpe_tokenize(
        docs,
        loaded["merges"],
        id_col="doc_id",
        byte_level=True,
        token_pattern=loaded["token_pattern"],
    )
    enc = bpe_encode_ids(toks, loaded["merges"], vocab_df=loaded["vocab"])
    return enc.select(
        "doc_id",
        F.col("n_tokens"),
        F.md5(
            F.concat_ws(
                " ", F.expr("transform(token_ids, i -> CAST(i AS STRING))")
            )
        ).alias("ids_md5"),
    ).orderBy("doc_id")


#: The round driver's correctness gate records only the FIRST 50
#: entries of ``queries()``. Through round 13 the gate order was
#: maintained as an accumulated demote/promote swap chain (see git
#: history for the per-rotation rationale); by round-13 close EVERY
#: inventory query had earned at least one driver-recorded green, so
#: round 14 replaces the chain with this EXPLICIT head. Selection
#: rule, unchanged: the operator classes with the least other
#: coverage sit inside the gate; every member outside it still runs
#: its exact driver oracle in-suite (tests/test_oracle_gates.py or
#: the golden suite in tests/test_query_results.py) and on demand via
#: ``tools/check_oracle.py`` — no query is ever both driver-invisible
#: and suite-invisible.
#:
#: Round-15 rotation (VERDICT r14 items 1+8). Rotation staleness is
#: now checked MECHANICALLY: tools/check_gate_coverage.py (a
#: verify_round stage) fails when any registered query has neither a
#: driver row in the last K=6 recorded rounds nor a seat in the
#: current head — with 104 queries, 50 seats, and a 6-round window
#: (300 slots) the invariant is self-sustaining under rotation.
#: Seventeen seats turn over this round:
#:
#: IN — the four round-14 additions that had no driver CORRECTNESS
#: row yet (q100 decode round-trip, q101 context chunking, q102
#: token-block packing, q103 streaming dedup vs the persistent
#: store), plus the 13 queries the new staleness check flagged on
#: its first run — the SQL-extension family, whose last driver rows
#: predate r9 (q15/q16 anti+semi joins, q19 running windows, q20 set
#: ops, q35 percentiles, q36 cube, q37 pivot, q38 approx-distinct,
#: q41 null semantics, q42 regex strings, q44 dedup survivors, q45
#: Table.sql pipeline, q47 grouping sets).
#:
#: OUT — seventeen members that ALL earned driver rows in r14 (fresh
#: for six more rounds) and whose machinery keeps in-gate or
#: in-suite siblings: the core-SQL family q02-q06/q08-q12 (the
#: single most-covered family: golden suite + differential fuzz +
#: in-suite oracles; q01 pricing flagship and q07 sort/limit stay
#: seated), q13/q14 joins (join family now seated via q15/q16),
#: q18 window top-k (q19 running windows seats the family;
#: WindowGroupLimit stays plan-pinned in tests), q60 length-buckets
#: (q58 quality rules + q59 stratified sampling keep text signals),
#: q85 audio near-dup (q87 keeps the banded-hamming LSH + verify
#: chain; q81/q84 keep audio decode), q91 byte tokenize (runs INSIDE
#: the gated q92/q95/q96/q98/q99 chains), q97 extend-merges (merge
#: machinery kept by q90; the continuation law is pinned in-suite).
#:
#: Round-14 rotation (VERDICT r13 item 6): the core-SQL family
#: q02-q12 — the longest-ungated family, tail-resident since rounds
#: 3-7 — returned to the gate, alongside the four round-14 additions
#: (q96-q99). Fourteen
#: family-redundant members stepped out, each with
#: an in-gate sibling pinning its machinery: q22 count-distinct (the
#: golden suite + the q38 approx/exact agreement gate), q27 exact
#: dedup (runs INSIDE the gated q75/q95 chains; cluster/incremental
#: siblings q63/q72 stay), q50 streaming session (watermark/state
#: machinery kept by q53 stateful + q55 interval join + the new
#: q98/q99 streaming pipeline; the q24 session twin's oracle runs
#: in-suite), q65 pipeline compose (subsumed by the gated full
#: chains q75/q95/q98), q66 group-top-n (sampling family keeps q59
#: stratified + q71 packing), q67 vocab top-k (the q92 tokenizer
#: chain builds the same frequency vocab), q70 LM score (q58 quality
#: rules keep the signal family), q77 PQ (its probe/ADC machinery is
#: inside the gated q79 IVF-PQ), q80 media probe (the decode gates
#: q81/q84 walk the same headers), q83 image near-dup (q87 pHash +
#: q85 audio keep the media near-dup family), and four BPE members —
#: q88 char training (byte q90 + continuation q97 stay), q89 char
#: tokenize (byte q91 stays), q93 token ids (the id mapping is
#: hash-pinned inside the gated q95/q98/q99 chains), q94 RE2-safe
#: pre-tokenizer (the q96 exact-GPT-2 gate exercises a superset of
#: the split machinery).
#: Round-16 rotation (VERDICT r15 item 1 + forward-looking staleness):
#: the three flagged queries (q23 tumbling window, q31 cosine top-k,
#: q62 deterministic shard — last rows r9, outside the [r10..r15]
#: window) PLUS the seven whose last row is r10 and would trip the
#: same check the moment CORRECTNESS_r16 slides the window to
#: [r11..r16] (q25 text stats, q28 n-gram Jaccard, q40 vectorized
#: UDF, q43 token explode, q46 ANN-IVF, q51 streaming sliding, q52
#: multimodal metadata). Ten family-redundant members with fresh r15
#: rows step out, each with an in-gate sibling pinning its machinery:
#: q16 semi-join (q15 anti-join keeps Catalyst existence joins), q36
#: cube + q37 pivot (q21 rollup + q47 grouping sets keep the
#: multi-grouping family), q38 approx-distinct (exact-vs-approx
#: agreement pinned in-suite; q35 keeps approx percentiles), q42
#: regex strings (q61 PII redaction drives the same regexp machinery),
#: q44 exact-dedup survivors (q63 clusters + q72 incremental stay;
#: exact dedup also runs INSIDE the gated q75/q95 chains), q99
#: RocksDB stream pipeline (q104 IS that chain + chunking on the
#: default provider; the RocksDB provider oracle runs in-suite), q100
#: decode round-trip + q101 chunking (q105 published encode/decode +
#: q104 in-stream chunking exercise supersets), q102 pack-token-blocks
#: (q71 pack_sequences keeps the packing family).
#:
#: Round-17 rotation (VERDICT r16 item 2): q30 SimHash (last row r11,
#: trips the staleness window the moment CORRECTNESS_r17 lands) PLUS
#: the entire r12 cohort — the ten queries whose last driver row is
#: r12 and would trip the same check at round 18 (q17 scalar subquery,
#: q24 sessionize, q26 lang-id, q32 ANN-LSH, q34 JSON extract, q39
#: embedding near-dup pairs, q49 streaming tumbling, q64 repetition
#: signals, q74 mixture sample, q76 encode tokens). Eleven
#: family-redundant members with fresh r16 rows step out, each with an
#: in-gate sibling pinning its machinery: q20 set ops (golden suite +
#: the differential fuzz's UNION/EXCEPT/INTERSECT shapes — the same
#: coverage argument that retired q02-q12), q23 batch tumbling window
#: (q49 streaming tumbling seats the identical time_bucket agg; q19
#: keeps windows), q28 n-gram Jaccard (the exact-Jaccard verify runs
#: INSIDE the gated q29 chain), q31 cosine top-k (q78 kNN join drives
#: the same block-BLAS cosine; q32/q56 keep LSH+verify), q40
#: vectorized UDF (q48 grouped-agg UDF keeps the Arrow UDF family;
#: np.* routing is golden- and fuzz-pinned), q43 token explode
#: (posexplode machinery inside the gated q108 + tokenizer chains),
#: q45 Table.sql pipeline (the mechanism every golden-suite case runs
#: through; q01/q07 stay), q53 stateful streaming dedup (q103
#: store-backed + q104's dropDuplicatesWithinWatermark chain keep
#: streaming dedup), q57 skew-salted agg (q86 keeps the AQE skew
#: machinery; salting equality pinned in-suite), q59 stratified sample
#: (q74 mixture sample seats the same md5-threshold machinery;
#: q62/q71 stay), q68 decontamination (runs INSIDE the gated q75
#: prepare_corpus chain with decontaminate_against set).
#:
#: Round-17 second wave — early start on the r13 cohort (14 queries
#: age out at round 19; a 14-seat single-round rotation is too big, so
#: three direct family swaps land THIS round and the rest split across
#: r18/r19): q50 streaming session IN / q51 streaming sliding OUT
#: (same watermark-window family, q49/q55/q103/q104 keep streaming),
#: q66 group-top-n sample IN / q62 deterministic shard OUT (same
#: md5-threshold family, q71/q74 stay), q77 ANN-PQ IN / q56
#: embedding-LSH-verify OUT (q32/q46/q78/q79 keep ANN; q56's
#: candidates+exact-verify pattern also runs inside the gated q29
#: chain). All three outgoing members carry fresh r16 rows. Late
#: wave: q110 semantic dedup (registered this round) seats per the
#: new-query rule; q63 dedup clusters steps out (fresh r16 row —
#: its connected-components machinery is now ALSO driver-gated
#: inside q110's duplicate-group labelling, and the q63 exact
#: oracle keeps running in-suite). q111 DSIR selection (registered
#: this round) also seats; q58 quality rules steps out (fresh r16
#: row — the Gopher/C4 rule machinery is driver-gated INSIDE the
#: seated q75 chain's quality_filter stage, and the text-signal
#: family keeps q26/q61/q64/q69).
_GATE_HEAD = (
    # flagship + core SQL (filter/project, aggregates, distinct,
    # having, sort/limit, math/string/datetime, CASE, conditional agg)
    # Round-18 rotation: the ENTIRE remaining r13 cohort (11 queries —
    # q22, q27, q65, q67, q70, q80, q83, q88, q89, q93, q94) seats
    # this round, clearing the staleness debt in one pass instead of
    # the planned 7/7 split (every outgoing member carries a fresh
    # r17 row, valid through the 5-round window to r22). Outgoing,
    # with per-member rationale at its old seat below.
    #
    # Round-19 rotation (VERDICT r18 item 4 — "touched ⇒ seated in the
    # same round", adopted as policy): q28, q30, q56, q85 were modified
    # in r18 without holding a seat on the modified code; all four were
    # modified AGAIN this round (shared-shingle agg shape, fused
    # LSH+verify kernel) and now seat. Every OTHER query touched this
    # round either holds a seat already (q27/q29/q32/q39/q46-family
    # heads, q83, q87, q88-q94, q105/q106, q110, q111) or carries a
    # committed judge-oracle record from this round's full sf0.01 sweep
    # (tools/oracle_r19_sf001.txt). Outgoing, each untouched this round
    # with a fresh r18 driver row (valid through the window to r23):
    # q15 anti-join (the left-anti machinery runs INSIDE the seated
    # q29/q103/q107 dedup chains every round), q26 lang-id (text-signal
    # family keeps q25/q64/q69/q70 seated), q34 JSON extract
    # (get_json_object shapes are golden-suite + differential-fuzz
    # pinned; extraction family keeps q25/q69), q41 null semantics
    # (three-valued-logic shapes run in the golden suite and the
    # null-heavy seated joins q17/q33).
    #
    # Round-20 rotation (touched ⇒ seated): the signature frames of the
    # MinHash/SimHash operators now repartition directly, which every
    # dedup-cluster query runs; q63 dedup_clusters was the one touched
    # query without a seat and now holds one. Outgoing: q35 percentiles
    # (untouched, fresh r19 row valid through the window to r24; the
    # aggregate family keeps q01/q22/q47/q48 seated).
    "q01_pricing_summary",
    "q07_orderby_limit_offset",
    "q17_scalar_subquery",
    "q19_window_running",
    "q22_count_distinct",
    "q28_ngram_jaccard",
    "q30_simhash",
    "q47_grouping_sets",
    "q24_events_sessionize",
    "q29_minhash_lsh_dedup",
    "q27_dedup_exact",
    "q33_asof_join",
    "q39_embedding_neardup_pairs",
    "q48_grouped_agg_udf",
    # streaming. q50 session OUT (fresh r17 row; watermark-window
    # family keeps q49 tumbling + q55 interval join + q103/q104 chains)
    "q49_streaming_tumbling",
    "q54_winnowing_pairs",
    "q55_stream_interval_join",
    # text / dedup / sampling pipeline operators. q61 PII OUT (fresh
    # r17; text-signal family keeps q25/q26/q64/q69 + incoming
    # q67/q70), q66 group-top-n OUT (fresh r17; md5-threshold sampling
    # family kept by q71/q74), q72 incremental dedup OUT (fresh r17;
    # fingerprint-store anti-join machinery driven by the seated q107
    # base+delta and q103 stream-store gates), q73 BM25 OUT (fresh
    # r17; its vocab/df aggregation path is driven by incoming q67
    # vocab top-k and the oracle keeps running in-suite), q76
    # encode_tokens OUT (fresh r17; tokenizer-apply machinery runs
    # inside incoming q89/q93 and the seated q105/q106 chains)
    "q25_text_stats",
    "q56_embedding_lsh_verify",
    "q63_dedup_clusters",
    "q64_repetition_signals",
    "q65_pipeline_compose",
    "q67_vocab_topk",
    "q69_boilerplate_removal",
    "q70_lm_quality_score",
    "q71_pack_sequences",
    "q74_mixture_sample",
    "q75_prepare_corpus",
    # ANN / media. q46 IVF OUT (fresh r17; ivf_index's coarse
    # quantizer is driven in-head by q79 IVF-PQ and q110 semantic
    # dedup), q77 PQ OUT (fresh r17; PQ codebook machinery kept by
    # q79 IVF-PQ), q84 vorbis OUT (fresh r17; media-decode family
    # keeps q81 audio decode + incoming q80 probe, and the vorbis
    # golden corpus keeps running in-suite, tests/test_vorbis.py)
    "q32_ann_lsh",
    "q78_knn_join",
    "q79_ann_ivfpq",
    "q80_media_probe",
    "q81_audio_decode",
    "q83_image_neardup",
    "q85_audio_neardup",
    "q86_skew_join_aqe",
    "q87_image_phash_neardup",
    "q107_store_base_delta_dedup",
    "q108_duplicated_ngram_spans",
    "q109_pipeline_despan",
    "q110_semantic_dedup",
    "q111_dsir_select",
    # BPE tokenizer family. The r13 cohort's four (q88 merges, q89
    # tokenize, q93 token ids, q94 gpt2 pretokenize) seat; q96 exact
    # GPT-2 OUT (fresh r17 row; the byte-level exact-GPT-2 machinery
    # is kept by the seated q105 published-ids gate + incoming q94's
    # pretokenizer)
    "q88_bpe_merges",
    "q89_bpe_tokenize",
    "q93_bpe_token_ids",
    "q94_bpe_gpt2_pretokenize",
    "q103_stream_store_dedup",
    "q104_pipeline_stream_chunks",
    "q105_gpt2_published_ids",
    "q106_hf_tokenizer_json",
)


def _gate_order() -> List[str]:
    head = set(_GATE_HEAD)
    missing = head.difference(QUERIES)
    if missing:  # a rename must fail loudly, not silently shrink the gate
        raise KeyError(f"_GATE_HEAD names not in QUERIES: {sorted(missing)}")
    out = list(_GATE_HEAD)
    out.extend(n for n in QUERIES if n not in head)
    return out


def queries() -> Dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: QUERIES[name].fn for name in _gate_order()}


def oracle_sql() -> Dict[str, str]:
    return {
        name: QUERIES[name].oracle
        for name in _gate_order()
        if QUERIES[name].oracle is not None
    }
