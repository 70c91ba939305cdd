"""Query registry: every operator the engine claims, as a (PySpark
DataFrame query, DuckDB oracle SQL) pair over the driver's testdata
tables (TESTDATA.md).  This is the correctness surface for
``__spark_entry__.queries()`` / ``oracle_sql()``.

Conventions that make Spark and DuckDB hash-identical:
- every computed column aliased the same on both sides;
- money math in DECIMAL(18,2) (exact, order-insensitive) — never raw
  double sums;
- double outputs rounded to a fixed scale on BOTH sides;
- timestamps output via date_format/strftime strings or DATE casts;
- top-k queries ordered with a deterministic tie-break (id asc) and the
  ranking key itself rounded first.

SURVEY §2 mapping is noted per query (Ox labels).  The reference's own
pipeline operators (envelope, stats, latest-wins, routing…) appear here
re-expressed relationally over the ``events`` table so the oracle can
check them; the byte-level pipeline goldens live in tests/.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sample_dms_s3_kinesis_spark.operators import dedup, similarity, text
from sample_dms_s3_kinesis_spark.operators.text import LANG_MARKERS, LANG_ORDER, STOPWORDS


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    if name == "events":
        # events.ts varies by testdata generation: TIMESTAMP(NANOS)
        # parquet (vectorized reader rejects it → read nanos as long and
        # convert, µs truncation identical to DuckDB's) or
        # isAdjustedToUTC=0 µs (reads as TIMESTAMP_NTZ, which
        # unix_micros/withWatermark reject → cast; session tz is UTC so
        # the conversion is numerically a no-op).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(path)


def _money(col, scale: int = 2):
    """Canonical rendering for an exact decimal aggregate: CAST to
    DOUBLE + ROUND at fixed scale, mirrored by ``ROUND(CAST(x AS
    DOUBLE), scale)`` in the oracle SQL.

    The driver compares through pandas string rendering — a Spark
    DECIMAL(38,2) cell prints ``498323.00`` while DuckDB's decimal
    aggregate arrives as float64 and prints ``498323.0``, so raw
    decimal OUTPUT columns hash-fail even when values are exactly
    equal (every r1 hash-fail had this shape).  Keep the decimal math
    internal (exact, order-insensitive) and round only the final
    projection.
    """
    return F.round(col.cast("double"), scale)


def _cents(col, scale: int = 2):
    """Exact scaled-long money: floor(x·10^scale + 0.5).

    Money doubles in the testdata are exact 2-decimal values
    (``np.round(x, 2)`` in tools/gen_testdata.py), for which this
    equals ``CAST(x AS DECIMAL(18,2)) * 10^scale`` cent-for-cent — a
    2-decimal double times 100 sits within ~1e-9 of an integer, never
    near the .5 boundary.  tests/test_money_contract.py pins that
    contract on every money column.  Long multiply-adds replace
    per-row BigDecimal arithmetic: the decimal aggregate form of q01
    cost 1.22 s at sf0.1 where this form costs 0.44 s, with identical
    output."""
    return F.floor(col * (10 ** scale) + F.lit(0.5))


def _sum_cents(cents_col, scale: int = 2):
    """SUM of a scaled-long money column, divided back to money scale.

    The accumulator is DECIMAL(38,0) — long-backed per row (cheap),
    escalating to BigDecimal past 2^63 instead of overflowing: a plain
    SUM(BIGINT) of cent·cent products would overflow around 10^10 rows,
    i.e. well inside 100 TB territory.  The divide-back is an exact
    decimal quotient (the true scale of the sum/10^scale is ≤ 4, below
    the division result's scale 6), so ``_money(_sum_cents(c))``
    renders the identical double to ``_money`` of the decimal SUM."""
    return F.sum(cents_col.cast("decimal(38,0)")) / (10 ** scale)


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    description: str
    survey_ref: str


_SPECS: list[QuerySpec] = []


def _register(name: str, oracle: str | None, description: str, survey_ref: str):
    def deco(fn):
        _SPECS.append(QuerySpec(name, fn, oracle, description, survey_ref))
        return fn

    return deco


# =====================================================================
# TPC-H-shaped relational surface (generalized engine, SURVEY §2.4/2.6)
# =====================================================================

@_register(
    "q01_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_base_price,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 4) AS sum_disc_price,
           ROUND(AVG(l_quantity), 4) AS avg_qty,
           ROUND(AVG(l_discount), 4) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    "TPC-H Q1-style pricing summary: filtered conditional aggregation",
    "O17 generalized (grouped agg), O11 (ts predicate)",
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    # Money math on scaled longs (see _cents/_sum_cents): p·(1−d) in
    # cents·percent units = cents(p)·(100−cents(d)), rescaled by 10^4.
    p, d = _cents(F.col("l_extendedprice")), _cents(F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.to_timestamp(F.lit("2001-09-01 00:00:00")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _money(_sum_cents(_cents(F.col("l_quantity"))), 2).alias("sum_qty"),
            _money(_sum_cents(p), 2).alias("sum_base_price"),
            _money(_sum_cents(p * (100 - d), scale=4), 4).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@_register(
    "q03_shipping_priority",
    """
    SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS orderdate, o.o_orderpriority,
           ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE), 4) AS revenue
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l.l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY o.o_orderkey, CAST(o.o_orderdate AS DATE), o.o_orderpriority
    ORDER BY revenue DESC, o_orderkey ASC
    LIMIT 10
    """,
    "TPC-H Q3-style: 3-way join, grouped revenue, deterministic top-10",
    "joins (O22 gen), O19 sort, O20 limit",
)
def q03_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.to_timestamp(F.lit("1998-03-15 00:00:00"))
    )
    l = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.to_timestamp(F.lit("1998-03-15 00:00:00"))
    )
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(l, F.col("l_orderkey") == o["o_orderkey"])
        .groupBy(
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("orderdate"),
            "o_orderpriority",
        )
        .agg(
            _money(
                _sum_cents(
                    _cents(F.col("l_extendedprice"))
                    * (100 - _cents(F.col("l_discount"))),
                    scale=4,
                ),
                4,
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


@_register(
    "q05_local_supplier_volume",
    """
    SELECT n.n_name,
           ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE), 4) AS revenue
    FROM customer c
      JOIN orders o   ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
      JOIN nation n   ON s.s_nationkey = n.n_nationkey
      JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    """,
    "TPC-H Q5-style: 6-way join through region filter (broadcast dims)",
    "joins generalized; broadcast strategy",
)
def q05_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    l = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    # Dimension sides are broadcast: region/nation/supplier are tiny at
    # any SF; customer is broadcast-eligible through sf0.1 (AQE converts
    # to shuffle join beyond the threshold automatically).
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(
            F.broadcast(s),
            (l["l_suppkey"] == s["s_suppkey"])
            & (c["c_nationkey"] == s["s_nationkey"]),
        )
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("n_name")
        .agg(
            _money(
                _sum_cents(
                    _cents(F.col("l_extendedprice"))
                    * (100 - _cents(F.col("l_discount"))),
                    scale=4,
                ),
                4,
            ).alias("revenue")
        )
    )


@_register(
    "q06_forecast_revenue",
    """
    SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE), 4) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    "TPC-H Q6-style: multi-predicate scan + scalar aggregate (pushdown)",
    "O11 predicates, pushdown",
)
def q06_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.to_timestamp(F.lit("1997-01-01 00:00:00")))
            & (F.col("l_shipdate") < F.to_timestamp(F.lit("1998-01-01 00:00:00")))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            _money(
                _sum_cents(
                    _cents(F.col("l_extendedprice")) * _cents(F.col("l_discount")),
                    scale=4,
                ),
                4,
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@_register(
    "q10_returned_revenue",
    """
    SELECT c.c_custkey, c.c_name, n.n_name,
           ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE), 4) AS revenue
    FROM customer c
      JOIN orders o   ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 20
    """,
    "TPC-H Q10-style: returned-item revenue per customer, top-20",
    "joins + grouped agg + deterministic top-k",
)
def q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    l = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = t(spark, sf_dir, "nation")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(l, l["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            _money(
                _sum_cents(
                    _cents(F.col("l_extendedprice"))
                    * (100 - _cents(F.col("l_discount"))),
                    scale=4,
                ),
                4,
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@_register(
    "q_top_orders",
    """
    SELECT o_orderkey, o_custkey, ROUND(CAST(o_totalprice AS DOUBLE), 2) AS total_price
    FROM orders
    ORDER BY total_price DESC, o_orderkey ASC
    LIMIT 50
    """,
    "global sort + limit (reference O19 stats sort / O20 page limit)",
    "O19, O20",
)
def q_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            "o_custkey",
            _money(F.col("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy(F.desc("total_price"), F.asc("o_orderkey"))
        .limit(50)
    )


@_register(
    "q_distinct_count",
    """
    SELECT c_mktsegment,
           COUNT(DISTINCT c_nationkey) AS n_nations,
           COUNT(*) AS n_customers
    FROM customer GROUP BY c_mktsegment
    """,
    "distinct aggregation per group",
    "§2.4 generalized (countDistinct)",
)
def q_distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(
            F.countDistinct("c_nationkey").alias("n_nations"),
            F.count(F.lit(1)).alias("n_customers"),
        )
    )


@_register(
    "q_rollup_orders",
    """
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
    FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    "rollup hierarchy totals",
    "§2.4 generalized (rollup)",
)
def q_rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _money(_sum_cents(_cents(F.col("o_totalprice"))), 2).alias("total"),
        )
    )


@_register(
    "q_cube_documents",
    """
    SELECT lang, source, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY CUBE (lang, source)
    """,
    "cube over document corpus dimensions",
    "§2.4 generalized (cube)",
)
def q_cube_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "documents")
        .cube("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


@_register(
    "q_union_priorities",
    """
    SELECT o_orderkey, o_orderpriority FROM orders WHERE o_orderpriority = '1-URGENT'
    UNION ALL
    SELECT o_orderkey, o_orderpriority FROM orders WHERE o_orderpriority = '2-HIGH'
    """,
    "event-stream union analog: two filtered scans unioned",
    "O22",
)
def q_union_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    return o.filter(F.col("o_orderpriority") == "1-URGENT").unionByName(
        o.filter(F.col("o_orderpriority") == "2-HIGH")
    )


@_register(
    "q_semi_join",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
    """,
    "catalog-routing semi-join analog (O23): customers with big orders",
    "O23",
)
def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_semi").select(
        "c_custkey", "c_name"
    )


@_register(
    "q_anti_join",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
    """,
    "exceptions-channel anti-join analog (O25): customers with no orders",
    "O25",
)
def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti").select(
        "c_custkey", "c_name"
    )


@_register(
    "q_in_subquery",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
      AND o_orderstatus = 'F'
    """,
    "IN-subquery (decorrelated to semi-join by Catalyst)",
    "§2.6 generalized",
)
def q_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark_dfs = {
        "orders": t(spark, sf_dir, "orders"),
        "customer": t(spark, sf_dir, "customer"),
    }
    for name, df in spark_dfs.items():
        df.createOrReplaceTempView(name)
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
          AND o_orderstatus = 'F'
        """
    )


@_register(
    "q_scalar_subquery",
    """
    SELECT p_partkey, p_name, ROUND(CAST(p_retailprice AS DOUBLE), 2) AS retail
    FROM part
    WHERE p_retailprice > (SELECT AVG(p_retailprice) * 1.0203 FROM part)
    """,
    "scalar subquery threshold filter",
    "§2.6 generalized",
)
def q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = t(spark, sf_dir, "part")
    p.createOrReplaceTempView("part")
    return spark.sql(
        """
        SELECT p_partkey, p_name, ROUND(CAST(p_retailprice AS DOUBLE), 2) AS retail
        FROM part
        WHERE p_retailprice > (SELECT AVG(p_retailprice) * 1.0203 FROM part)
        """
    )


@_register(
    "q_like_filter",
    """
    SELECT p_partkey, p_name, p_brand, p_type FROM part
    WHERE p_type LIKE 'PROMO%' AND p_brand LIKE 'Brand#1_' AND p_name LIKE '%a%'
    """,
    "selection-rule wildcard filter (stack.py:65-78 LIKE semantics)",
    "O10",
)
def q_like_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = t(spark, sf_dir, "part")
    return p.filter(
        F.col("p_type").like("PROMO%")
        & F.col("p_brand").like("Brand#1_")
        & F.col("p_name").like("%a%")
    ).select("p_partkey", "p_name", "p_brand", "p_type")


# =====================================================================
# Events-table pipeline analogs (the reference's own operator shapes)
# =====================================================================

@_register(
    "q_conditional_agg_events",
    """
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
           CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
           COUNT(*) AS n_total,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
    FROM events GROUP BY user_id
    """,
    "DMS table-statistics shape: per-key conditional op counts (run.py:141-148)",
    "O17",
)
def q_conditional_agg_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")

    def n(op):
        return F.sum(F.when(F.col("event_type") == op, 1).otherwise(0)).alias(
            f"n_{op}"
        )

    return ev.groupBy("user_id").agg(
        n("click"),
        n("view"),
        n("purchase"),
        n("signup"),
        n("error"),
        F.count(F.lit(1)).alias("n_total"),
        _money(_sum_cents(_cents(F.col("value"))), 2).alias("sum_value"),
    )


@_register(
    "q_latest_wins_events",
    """
    SELECT user_id, event_id, event_type, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
    "latest-wins per key — the CDC apply compaction shape (O24)",
    "O24",
)
def q_latest_wins_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_id",
            "event_type",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
        )
    )


@_register(
    "q_running_sum_events",
    """
    SELECT event_id, user_id,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 2) AS running_value
    FROM events WHERE user_id < 20
    """,
    "running aggregate window per key",
    "§2.7 generalized (window)",
)
def q_running_sum_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        _money(
            F.sum(_cents(F.col("value")).cast("decimal(38,0)")).over(w) / 100,
            2,
        ).alias("running_value"),
    )


@_register(
    "q_topk_per_group",
    """
    SELECT o_custkey, o_orderkey, ROUND(CAST(o_totalprice AS DOUBLE), 2) AS total_price, rn AS rank_in_cust
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
    "top-k per group via ranked window",
    "§2.5 generalized",
)
def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            _money(F.col("o_totalprice"), 2).alias("total_price"),
            F.col("rn").cast("long").alias("rank_in_cust"),
        )
    )


@_register(
    "q_ts_filter_events",
    """
    SELECT event_type, COUNT(*) AS n,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS first_ts
    FROM events WHERE ts > TIMESTAMP '2024-01-10 00:00:00'
    GROUP BY event_type
    """,
    "arrival-timestamp predicate (run.py:126 consumer filter)",
    "O11",
)
def q_ts_filter_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return (
        ev.filter(F.col("ts") > F.to_timestamp(F.lit("2024-01-10 00:00:00")))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("first_ts"),
        )
    )


@_register(
    "q_partition_key",
    """
    SELECT r.r_name || '.' || n.n_name AS partition_key, COUNT(s.s_suppkey) AS n_suppliers
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
                  LEFT JOIN supplier s ON s.s_nationkey = n.n_nationkey
    GROUP BY r.r_name || '.' || n.n_name
    """,
    "partition-key derivation concat(schema,'.',table) (run.py:135)",
    "O14",
)
def q_partition_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    s = t(spark, sf_dir, "supplier")
    return (
        n.join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .join(s, s["s_nationkey"] == n["n_nationkey"], "left")
        .groupBy(
            F.concat_ws(".", F.col("r_name"), F.col("n_name")).alias("partition_key")
        )
        .agg(F.count(F.col("s_suppkey")).alias("n_suppliers"))
    )


@_register(
    "q_json_extract_events",
    """
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           COUNT(*) AS n
    FROM events GROUP BY event_type
    """,
    "JSON payload field extraction (run.py:135 json.loads analog)",
    "§2.8 (get_json_object)",
)
def q_json_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.sum(F.get_json_object("props", "$.k").cast("long")).alias("sum_k"),
        F.count(F.lit(1)).alias("n"),
    )


@_register(
    "q_envelope_events",
    """
    SELECT event_id,
           'app.' || event_type AS partition_key,
           'data' AS record_type,
           'insert' AS operation,
           'app' AS schema_name,
           event_type AS table_name,
           to_json(struct_pack(event_id := event_id, user_id := user_id,
                               event_type := event_type, k := CAST(json_extract_string(props,'$.k') AS BIGINT)))
             AS event_json
    FROM events WHERE user_id < 5
    """,
    "DMS envelope construction re-expressed relationally (O13-O15)",
    "O13, O14, O15",
)
def q_envelope_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").filter(F.col("user_id") < 5)
    return ev.select(
        "event_id",
        F.concat_ws(".", F.lit("app"), F.col("event_type")).alias("partition_key"),
        F.lit("data").alias("record_type"),
        F.lit("insert").alias("operation"),
        F.lit("app").alias("schema_name"),
        F.col("event_type").alias("table_name"),
        F.to_json(
            F.struct(
                F.col("event_id"),
                F.col("user_id"),
                F.col("event_type"),
                F.get_json_object("props", "$.k").cast("long").alias("k"),
            )
        ).alias("event_json"),
    )


@_register(
    "q_asof_join",
    """
    SELECT p.event_id AS purchase_id, p.user_id,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS last_click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase' AND user_id < 30) p
    ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts > c.ts
    """,
    "as-of join (operator Spark lacks natively): latest prior click per purchase, "
    "expressed as union + last-value window — no quadratic join",
    "custom operator (SURVEY §2.7 extension)",
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sample_dms_s3_kinesis_spark.operators.asof import asof_join

    ev = t(spark, sf_dir, "events")
    purchases = ev.filter(
        (F.col("event_type") == "purchase") & (F.col("user_id") < 30)
    ).select("user_id", "ts", "event_id")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("ts").alias("click_ts")
    )
    joined = asof_join(
        purchases, clicks, by="user_id", ts_col="ts", right_cols=["click_ts"]
    )
    return joined.filter(F.col("asof_click_ts").isNotNull()).select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        F.date_format("asof_click_ts", "yyyy-MM-dd HH:mm:ss").alias("last_click_ts"),
    )


@_register(
    "q_range_join",
    """
    SELECT p.event_id AS purchase_id, COUNT(c.event_id) AS clicks_in_prev_hour
    FROM (SELECT * FROM events WHERE event_type = 'purchase' AND user_id < 30) p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts < p.ts
    GROUP BY p.event_id
    """,
    "range join: events within a time window of an anchor event "
    "(equi-join on user + range predicate — no nested-loop)",
    "custom operator (range join)",
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    p = ev.filter((F.col("event_type") == "purchase") & (F.col("user_id") < 30)).select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("c_id"),
    )
    joined = p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") < F.col("p_ts")),
        "left",
    )
    return joined.groupBy("purchase_id").agg(
        F.count(F.col("c_id")).alias("clicks_in_prev_hour")
    )


# =====================================================================
# Training-data pipeline operators (north star)
# =====================================================================

@_register(
    "q_dedup_exact_events",
    """
    SELECT props, MIN(event_id) AS keep_id, COUNT(*) AS dup_count
    FROM events GROUP BY props HAVING COUNT(*) > 1
    """,
    "exact duplicate groups by full content equality",
    "dedup: exact",
)
def q_dedup_exact_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy("props")
        .agg(
            F.min("event_id").alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .filter(F.col("dup_count") > 1)
    )


@_register(
    "q_dedup_md5_documents",
    """
    SELECT md5(text) AS content_hash, MIN(doc_id) AS doc_id, COUNT(*) AS group_size
    FROM documents GROUP BY md5(text)
    """,
    "hash-groupBy exact dedup: shuffle digests not bodies",
    "dedup: exact (hash)",
)
def q_dedup_md5_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return (
        d.select(F.md5("text").alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("group_size"))
    )


@_register(
    "q_text_tokens",
    """
    SELECT doc_id,
           CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
           CAST(length(text) AS BIGINT) AS n_chars_measured
    FROM documents
    """,
    "whitespace token counting",
    "text: token counting",
)
def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        text.token_count(F.col("text")).alias("n_tokens"),
        text.char_count(F.col("text")).alias("n_chars_measured"),
    )


def _oracle_quality() -> str:
    sw = ", ".join(f"'{w}'" for w in STOPWORDS)
    return f"""
    WITH toks AS (
      SELECT doc_id, text, string_split_regex(trim(text), '\\s+') AS tk,
             string_split_regex(trim(lower(text)), '\\s+') AS tkl
      FROM documents
    )
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars_measured,
           CAST(len(tk) AS BIGINT) AS n_tokens,
           ROUND(CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE) / len(tk), 4) AS avg_token_len,
           CASE WHEN length(text) > 0
                THEN ROUND(CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE) / length(text), 4)
                ELSE 0.0 END AS punct_ratio,
           ROUND(CAST(len(list_filter(tkl, x -> x IN ({sw}))) AS DOUBLE) / len(tk), 4) AS stopword_ratio
    FROM toks
    """


@_register(
    "q_text_quality",
    _oracle_quality(),
    "per-document quality features: lengths, punctuation/stopword ratios",
    "text: quality scoring",
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.quality_features(t(spark, sf_dir, "documents"))


def _oracle_langid() -> str:
    scores = {
        lang: f"len(list_filter(tkl, x -> x IN ({', '.join(repr(w) for w in LANG_MARKERS[lang])})))"
        for lang in LANG_ORDER
    }
    case = f"'{LANG_ORDER[-1]}'"
    for lang in reversed(LANG_ORDER[:-1]):
        later = LANG_ORDER[LANG_ORDER.index(lang) + 1 :]
        cond = " AND ".join(f"{scores[lang]} >= {scores[o]}" for o in later)
        case = f"CASE WHEN {cond} THEN '{lang}' ELSE {case} END"
    return f"""
    WITH toks AS (
      SELECT doc_id, lang, string_split_regex(trim(lower(text)), '\\s+') AS tkl
      FROM documents
    )
    SELECT doc_id, lang AS labeled_lang, {case} AS predicted_lang FROM toks
    """


@_register(
    "q_text_langid",
    _oracle_langid(),
    "marker-word language-ID heuristic (deterministic argmax)",
    "text: language ID",
)
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        text.lang_id(F.col("text")).alias("predicted_lang"),
    )


@_register(
    "q_text_fingerprint",
    """
    SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
    FROM documents
    """,
    "document fingerprint: md5 of normalized text",
    "text: fingerprinting",
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return d.select("doc_id", text.fingerprint(F.col("text")).alias("fingerprint"))


@_register(
    "q_html_main_content",
    """
    SELECT doc_id,
           'content block for doc ' || CAST(doc_id AS VARCHAR)
             || ' from ' || source || ' carries enough characters'
             || chr(10)
             || 'second kept paragraph for doc '
             || CAST(doc_id AS VARCHAR) AS main_text
    FROM documents
    """,
    "boilerplate-stripped main-content extraction: per doc a "
    "synthesized page carries a link-dense nav block (density 1.0 -> "
    "dropped), a sub-threshold 'tiny' block (< 15 chars -> dropped) "
    "and two real paragraphs; html_main_content keeps exactly the "
    "paragraphs, newline-joined — the extraction the ingest task's "
    "extract_mode='main' ships; oracle reconstructs the expected "
    "text straight from the table",
    "text: main-content extraction (link-density boilerplate strip)",
)
def q_html_main_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit('<html><body><div><a href="/1">one</a> '),
        F.lit('<a href="/2">two</a> <a href="/3">nav three</a></div>'),
        F.lit("<p>content block for doc "),
        did,
        F.lit(" from "),
        F.col("source"),
        F.lit(" carries enough characters</p><p>tiny</p>"),
        F.lit("<p>second kept paragraph for doc "),
        did,
        F.lit("</p></body></html>"),
    )
    return d.select(
        "doc_id",
        text.html_main_content(html).alias("main_text"),
    )


def _oracle_corpus_card() -> str:
    scores = {
        lang: f"len(list_filter(tkl, x -> x IN ({', '.join(repr(w) for w in LANG_MARKERS[lang])})))"
        for lang in LANG_ORDER
    }
    case = f"'{LANG_ORDER[-1]}'"
    for lang in reversed(LANG_ORDER[:-1]):
        later = LANG_ORDER[LANG_ORDER.index(lang) + 1 :]
        cond = " AND ".join(f"{scores[lang]} >= {scores[o]}" for o in later)
        case = f"CASE WHEN {cond} THEN '{lang}' ELSE {case} END"
    return f"""
    WITH toks AS (
      SELECT source, text,
             string_split_regex(trim(lower(text)), '\\s+') AS tkl,
             string_split_regex(trim(text), '\\s+') AS tk
      FROM documents),
    lab AS (
      SELECT source, {case} AS predicted_lang,
             md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
             len(tk) AS n_tokens, length(text) AS n_chars
      FROM toks)
    SELECT source, predicted_lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_unique,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           ROUND(AVG(CAST(n_chars AS DOUBLE)), 4) AS mean_chars
    FROM lab GROUP BY source, predicted_lang
    """


@_register(
    "q_corpus_card",
    _oracle_corpus_card(),
    "dataset-card summary per (source, predicted language): doc count, "
    "exact-unique count (normalized-text md5 fingerprint), total "
    "whitespace tokens, mean characters — the composition report a "
    "corpus release ships, every column computed by the production "
    "operators (lang_id, fingerprint, token_count, char_count) and "
    "every stage replayed in DuckDB",
    "curation: corpus dataset-card summary",
)
def q_corpus_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    lab = d.select(
        "source",
        text.lang_id(F.col("text")).alias("predicted_lang"),
        text.fingerprint(F.col("text")).alias("fp"),
        text.token_count(F.col("text")).alias("n_tokens"),
        text.char_count(F.col("text")).alias("n_chars"),
    )
    return lab.groupBy("source", "predicted_lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("fp").alias("n_unique"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.avg(F.col("n_chars").cast("double")), 4).alias(
            "mean_chars"
        ),
    )


@_register(
    "q_ann_cosine_topk",
    """
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
    SELECT vec_id, ROUND(list_cosine_similarity(embedding::DOUBLE[], (SELECT qv FROM q)), 6) AS cosine
    FROM embeddings
    ORDER BY cosine DESC, vec_id ASC
    LIMIT 10
    """,
    "brute-force cosine top-k over embedding column (exact ANN baseline)",
    "similarity: brute-force top-k",
)
def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    out = similarity.brute_force_topk(emb, qv, k=10)
    # Re-sort on the ROUNDED key so the limit's tie-break matches the
    # oracle even when raw float sims differ in the last ulp.
    return out.orderBy(F.desc("cosine"), F.asc("vec_id"))


@_register(
    "q_embedding_near_dup",
    """
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_cosine_similarity(a.v, b.v), 6) AS cosine
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.v, b.v) >= 0.4
    """,
    "embedding-cosine near-dup pairs within blocking key (label)",
    "dedup: embedding cosine",
)
def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    return dedup.embedding_near_dup_pairs(emb, threshold=0.4)


@_register(
    "q_dedup_clusters",
    """
    WITH RECURSIVE
    emb AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    p AS (
      SELECT a.vec_id AS src, b.vec_id AS dst
      FROM emb a JOIN emb b ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.v, b.v) >= 0.4
    ),
    edges AS (SELECT src, dst FROM p UNION SELECT dst, src FROM p),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    walk(id, lbl) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.id
    )
    SELECT id AS vec_id, MIN(lbl) AS cluster_id
    FROM walk GROUP BY id
    """,
    "near-dup pair graph → connected-component cluster ids "
    "(large-star/small-star; oracle = recursive min-label closure)",
    "dedup: cluster resolution",
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    pairs = dedup.embedding_near_dup_pairs(emb, threshold=0.4)
    comp = dedup.connected_components(pairs)
    return comp.select(F.col("id").alias("vec_id"), "cluster_id")


# ---- no-oracle (approximate / Spark-hash-specific) ops: driver records
# rows-only checks; exactness is covered by pytest against Python refs.

@_register(
    "q_minhash_lsh_pairs",
    None,
    "MinHash+LSH near-dup candidate pairs (xxhash64 family — no SQL oracle)",
    "dedup: MinHash LSH",
)
def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(d, num_hashes=64, bands=16, threshold=0.5)


@_register(
    "q_simhash_pairs",
    None,
    "SimHash near-dup pairs, hamming ≤ 3 (xxhash64 — no SQL oracle)",
    "dedup: SimHash",
)
def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return dedup.simhash_pairs(d, max_hamming=3)


@_register(
    "q_ngram_jaccard_pairs",
    r"""
    WITH toks AS (
      SELECT doc_id, lang,
             string_split_regex(trim(lower(text)), '\s+') AS t
      FROM documents),
    g AS (
      SELECT doc_id, lang,
             list_distinct(CASE WHEN len(t) >= 3
               THEN list_transform(range(1, len(t) - 1),
                                   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
               ELSE CAST([] AS VARCHAR[]) END) AS grams
      FROM toks),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             len(list_intersect(a.grams, b.grams)) AS inter,
             len(a.grams) + len(b.grams)
               - len(list_intersect(a.grams, b.grams)) AS uni
      FROM g a JOIN g b ON a.lang = b.lang AND a.doc_id < b.doc_id)
    SELECT id_a, id_b,
           ROUND(CASE WHEN uni > 0
                      THEN CAST(inter AS DOUBLE) / uni
                      ELSE 0.0 END, 6) AS jaccard
    FROM pairs
    WHERE (CASE WHEN uni > 0
                THEN CAST(inter AS DOUBLE) / uni
                ELSE 0.0 END) >= 0.2
    """,
    "exact n-gram Jaccard near-dup pairs within language block "
    "(exact set math — full DuckDB oracle; also verified against a "
    "Python reference in tests)",
    "dedup: n-gram Jaccard",
)
def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(d, block_col="lang", n=3, threshold=0.2)


# Build-once IVF index per (Spark app, sf_dir): q_ivf_ann_topk must not
# re-derive centroids + cell assignment on every call — a full corpus
# pass per query is the wrong shape for a query service (ivf_topk stays
# as the one-shot convenience).
_IVF_INDEX_CACHE: dict[tuple[str, str], "similarity.IvfIndex"] = {}


def _ivf_index(spark: SparkSession, sf_dir: str) -> "similarity.IvfIndex":
    key = (spark.sparkContext.applicationId, sf_dir)
    idx = _IVF_INDEX_CACHE.get(key)
    if idx is None:
        emb = t(spark, sf_dir, "embeddings")
        idx = similarity.IvfIndex.build(emb, cells=16)
        _IVF_INDEX_CACHE[key] = idx
    return idx


@_register(
    "q_ivf_ann_topk",
    None,
    "IVF approximate nearest neighbor via a build-once index "
    "(centroids + cell assignment materialized a single time; each "
    "search scores only the probed cells)",
    "similarity: IVF ANN",
)
def q_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    return _ivf_index(spark, sf_dir).search(qv, k=10, nprobe=4)


_IVF_SAVE_CACHE: dict[tuple[str, str], str] = {}


def _ivf_persisted(spark: SparkSession, sf_dir: str) -> "similarity.IvfIndex":
    """Save the built index once per (app, sf) and serve from the LOADED
    copy — exercising the durable query-service shape: centroids +
    cell-partitioned assignment parquet on storage, probe filters
    becoming partition pruning."""
    key = (spark.sparkContext.applicationId, sf_dir)
    path = _IVF_SAVE_CACHE.get(key)
    if path is None:
        import tempfile

        path = tempfile.mkdtemp(prefix="ivf-index-")
        _ivf_index(spark, sf_dir).save(path)
        _IVF_SAVE_CACHE[key] = path
    return similarity.IvfIndex.load(spark, path)


@_register(
    "q_ivf_persisted_topk",
    None,
    "IVF ANN served from a SAVED index (IvfIndex.save/load): the cell "
    "assignment is written partitioned BY CELL, so the loaded index's "
    "probe filter (cell IN ...) prunes parquet partitions — a probe "
    "reads nprobe/cells of the corpus from storage instead of scanning "
    "it (tests/test_plan_shapes.py pins the PartitionFilters)",
    "similarity: IVF ANN persistence",
)
def q_ivf_persisted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    return _ivf_persisted(spark, sf_dir).search(qv, k=10, nprobe=4)


@_register(
    "q_lsh_ann_topk",
    None,
    "random-hyperplane LSH approximate nearest neighbor",
    "similarity: LSH ANN",
)
def q_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    return similarity.lsh_topk(emb, qv, k=10, planes=8)


@_register(
    "q_multimodal_features",
    None,
    "multimodal image pipeline: REAL P6/PPM + baseline-JPEG decode "
    "(pure-numpy Huffman+IDCT codec) + nearest-neighbor resize + "
    "statistical featurization via mapInPandas (remaining codecs "
    "raise NotImplementedError into the null-feature error channel)",
    "multimodal columns",
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sample_dms_s3_kinesis_spark.operators import multimodal

    assets = multimodal.synthetic_assets(spark, n=64)
    out = multimodal.extract_image_features(
        assets.filter(F.col("media_type") == "image")
    )
    # feature is array<float>; the driver's canonicalizer cannot hash
    # array cells (r1 `unhashable type: list` err), so serialize it.
    return out.withColumn("feature", F.to_json("feature"))


# Extended relational surface registers into _SPECS on import; the
# import sits below every symbol it needs from this module.
from sample_dms_s3_kinesis_spark.plans import relational_ext  # noqa: E402,F401


# =====================================================================
# Replication-core E2E (driver-visible row for the CDC pipeline)
# =====================================================================

# The reference's own CDC golden (run.py:194-198, README.md:84 and the
# table-statistics composition run.py:141-148), hand-derived from the
# fixture change files at lib/query.py:16-27: per (schema, table) —
# event-log op counts (4 create-table controls incl. the exceptions
# pseudo-table, 4 inserts / 3 updates / 4 deletes) and apply outcomes
# (department's DELETE of never-inserted PK 301 is the one apply
# exception; everything else applies).
_CDC_E2E_FILE_1 = """INSERT,employee,hr,101,Smith,Bob,2014-06-04,New York
UPDATE,employee,hr,101,Smith,Bob,2015-10-08,Los Angeles
UPDATE,employee,hr,101,Smith,Bob,2017-03-13,Dallas
DELETE,employee,hr,101,Smith,Bob,2017-03-13,Dallas"""
_CDC_E2E_FILE_2 = """INSERT,department,hr,204,Software
INSERT,employee,hr,101,Smith,Bob,2015-10-08,Los Angeles
INSERT,project,hr,101,Project1,Description1
DELETE,project,hr,101,Project1,Description1
DELETE,department,hr,301,Software
UPDATE,employee,hr,101,Smith,Bob,2017-03-13,Dallas
DELETE,employee,hr,101,Smith,Bob,2017-03-13,Dallas"""


@_register(
    "q_cdc_e2e_stats",
    """
    SELECT * FROM (VALUES
      ('hr', 'awsdms_apply_exceptions', 0, 0, 0, 0, 1, 0, 0, 0, 0),
      ('hr', 'department',              0, 1, 0, 1, 1, 1, 0, 0, 1),
      ('hr', 'employee',               0, 2, 3, 2, 1, 2, 3, 2, 0),
      ('hr', 'project',                0, 1, 0, 1, 1, 1, 0, 1, 0)
    ) AS t(SchemaName, TableName, FullLoadRows, Inserts, Updates,
           Deletes, Ddls, AppliedInserts, AppliedUpdates,
           AppliedDeletes, ApplyExceptions)
    ORDER BY SchemaName, TableName
    """,
    "replication core E2E: replay the reference CDC fixture through "
    "parse→route→envelope→apply in one batch drain and return "
    "describe_table_statistics; oracle = the hand-derived reference "
    "golden (run.py:198, README.md:84)",
    "O1/O2/O9/O16/O17/O24/O25 end-to-end",
)
def q_cdc_e2e_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from sample_dms_s3_kinesis_spark.apply import ParquetTargetStore
    from sample_dms_s3_kinesis_spark.catalog import (
        REFERENCE_TABLE_DEFINITION,
        Catalog,
    )
    from sample_dms_s3_kinesis_spark.sinks import MemorySink
    from sample_dms_s3_kinesis_spark.streaming.cdc_task import CdcTask

    root = tempfile.mkdtemp(prefix="q_cdc_e2e_stats_")
    try:
        cdc_dir = os.path.join(root, "changedata")
        os.makedirs(cdc_dir)
        for seq, body in ((1, _CDC_E2E_FILE_1), (2, _CDC_E2E_FILE_2)):
            with open(
                os.path.join(cdc_dir, f"cdc{seq:010d}.csv"), "w"
            ) as f:
                f.write(body + "\n")
        task = CdcTask(
            spark,
            Catalog.from_external_table_definition(
                REFERENCE_TABLE_DEFINITION
            ),
            cdc_dir,
            MemorySink(),
            ParquetTargetStore(os.path.join(root, "target")),
            event_time="2026-01-01T00:00:00.000Z",
            checkpoint_dir=os.path.join(root, "ckpt"),
        )
        task.process_available()
        # table_statistics builds from driver-side accumulator rows
        # (no file lineage), so the scratch dir can go immediately
        return task.table_statistics(spark)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# One drive serves BOTH ingest E2E queries: the fixture is
# deterministic, so the collected corpus/quarantine rows and the
# manifest counters are cached per Spark app instead of paying the
# multi-second two-batch drive twice per correctness-gate run.
_INGEST_E2E_CACHE: dict[str, tuple[list, object, dict]] = {}


def _drive_ingest_e2e(spark: SparkSession):
    """Shared drive for the CorpusIngestTask E2E queries: stage a
    deterministic two-batch crawl (within-batch exact dup, cross-batch
    corpus dup, one contract-quarantined row, one invalid row) and
    drain it through the admission gates.  Returns the task plus the
    scratch root the caller must remove."""
    import os
    import tempfile

    from sample_dms_s3_kinesis_spark.operators.quality import RowRule
    from sample_dms_s3_kinesis_spark.streaming.ingest import (
        CorpusIngestTask,
    )

    root = tempfile.mkdtemp(prefix="q_ingest_e2e_")
    drop = os.path.join(root, "drop")
    os.makedirs(drop)
    task = CorpusIngestTask(
        spark,
        drop,
        os.path.join(root, "corpus"),
        contract_rules=[
            RowRule("min_len", F.length(F.col("text")) >= F.lit(10))
        ],
        checkpoint_dir=os.path.join(root, "ckpt"),
    )
    batch1 = [
        '{"doc_id": 1, "text": "alpha bravo charlie delta"}',
        '{"doc_id": 2, "text": "echo foxtrot golf hotel"}',
        '{"doc_id": 3, "text": "alpha bravo charlie delta"}',
        '{"doc_id": 4, "text": "tiny"}',
    ]
    batch2 = [
        '{"doc_id": 5, "text": "echo foxtrot golf hotel"}',
        '{"doc_id": 6, "text": "india juliet kilo lima"}',
        '{"doc_id": 7, "text": null}',
    ]
    # process_available drains EVERY file currently in the drop dir
    # (admission gates, not a file manifest, make re-drains idempotent
    # for admissions) — hand each batch over as its own drop, removing
    # the consumed file, so the per-attempt counters stay per-batch.
    for n, lines in (("b1.jsonl", batch1), ("b2.jsonl", batch2)):
        path = os.path.join(drop, n)
        with open(path, "w") as f:
            f.write("\n".join(lines) + "\n")
        task.process_available()
        os.remove(path)
    return task, root


def _ingest_outcome_frame(task):
    """Admitted corpus rows + the quarantine side channel as one
    (doc_id, info, batch_id, status) frame — the shared result shape
    of every CorpusIngestTask E2E query."""
    admitted = task.corpus().select(
        F.col("doc_id"),
        F.col("text").alias("info"),
        F.col("batch_id"),
        F.lit("admitted").alias("status"),
    )
    quarantined = task.quarantined().select(
        F.col("doc_id"),
        F.col("failed_rule").alias("info"),
        F.col("batch_id"),
        F.lit("quarantined").alias("status"),
    )
    return admitted.unionByName(quarantined)


def _ingest_e2e_results(spark: SparkSession):
    """(corpus+quarantine rows, their schema, counter totals) from one
    cached drive of the ingest E2E fixture."""
    import shutil

    key = spark.sparkContext.applicationId
    if key not in _INGEST_E2E_CACHE:
        task, root = _drive_ingest_e2e(spark)
        try:
            # materialize before the scratch parquet dirs are removed
            frame = _ingest_outcome_frame(task)
            _INGEST_E2E_CACHE[key] = (
                frame.collect(),
                frame.schema,
                task.ingest_stats(),
            )
        finally:
            shutil.rmtree(root, ignore_errors=True)
    return _INGEST_E2E_CACHE[key]


@_register(
    "q_ingest_e2e_corpus",
    """
    SELECT * FROM (VALUES
      (1, 'alpha bravo charlie delta', 0, 'admitted'),
      (2, 'echo foxtrot golf hotel',   0, 'admitted'),
      (4, 'min_len',                   0, 'quarantined'),
      (6, 'india juliet kilo lima',    1, 'admitted')
    ) AS t(doc_id, info, batch_id, status)
    ORDER BY doc_id
    """,
    "streaming corpus-ingest E2E: drain a deterministic two-batch "
    "crawl through the admission gates (within-batch min-id survivor, "
    "digest anti-join vs the corpus, quality-contract quarantine) and "
    "return admitted corpus rows plus the quarantine side channel; "
    "oracle = the hand-derived admission outcome",
    "CorpusIngestTask end-to-end (gates 0-2, reference task shape "
    "run.py:193-198)",
)
def q_ingest_e2e_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows, schema, _ = _ingest_e2e_results(spark)
    return spark.createDataFrame(rows, schema).orderBy("doc_id")


@_register(
    "q_ingest_e2e_stats",
    """
    SELECT * FROM (VALUES
      ('admitted',          3),
      ('dropped_exact',     2),
      ('dropped_near',      0),
      ('dropped_sem',       0),
      ('nofollow_pages',    0),
      ('pdf_extracted',     0),
      ('rejected',          1),
      ('rejected_contract', 1),
      ('rejected_mime',     0),
      ('rejected_noindex',  0),
      ('rejected_pdf',      0),
      ('rejected_robots',   0),
      ('revalidated',       0)
    ) AS t(counter, value)
    ORDER BY counter
    """,
    "streaming corpus-ingest E2E counters: the manifest-rebuilt "
    "cumulative admission statistics after the two-batch drive — the "
    "ingest twin of describe_table_statistics; oracle = hand-derived",
    "CorpusIngestTask.ingest_stats end-to-end",
)
def q_ingest_e2e_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, _, totals = _ingest_e2e_results(spark)
    return spark.createDataFrame(
        sorted((k, int(v)) for k, v in totals.items()),
        "counter string, value long",
    ).orderBy("counter")


_INGEST_HTML_E2E_CACHE: dict[str, tuple[list, object]] = {}


def _ingest_html_e2e_results(spark: SparkSession):
    """Cached two-batch RAW-PAGE drive through extract_html=True: the
    streaming twin of q_html_extract — extraction runs BEFORE every
    admission gate, so markup-variant mirrors dedup exactly, a
    boilerplate-only page rejects, and the contract rule judges
    extracted CONTENT length, not markup length."""
    import os
    import shutil
    import tempfile

    key = spark.sparkContext.applicationId
    if key not in _INGEST_HTML_E2E_CACHE:
        import json as _json

        from sample_dms_s3_kinesis_spark.operators.quality import RowRule
        from sample_dms_s3_kinesis_spark.streaming.ingest import (
            CorpusIngestTask,
        )

        root = tempfile.mkdtemp(prefix="q_ingest_e2e_html_")
        drop = os.path.join(root, "drop")
        os.makedirs(drop)
        task = CorpusIngestTask(
            spark,
            drop,
            os.path.join(root, "corpus"),
            extract_html=True,
            contract_rules=[
                RowRule("min_len", F.length(F.col("text")) >= F.lit(10))
            ],
            checkpoint_dir=os.path.join(root, "ckpt"),
        )
        batch1 = [
            (1, "<html><body><p>alpha beta gamma</p>"
                "<script>var x=1;</script></body></html>"),
            # same CONTENT as 1 under different markup -> exact dup
            (2, "<div><b>alpha</b> beta   gamma</div>"),
            # boilerplate-only page -> empty extraction -> rejected
            (3, "<style>p{}</style><!-- tracking pixel -->"),
            (4, "<h1>delta &amp; epsilon</h1>"),
        ]
        batch2 = [
            # cross-batch mirror of 1 (third markup variant)
            (5, "<p>alpha   beta gamma</p>"),
            (6, "<p>zeta eta theta</p>"),
            # extracts to 'hi' -> fails the min_len CONTENT contract
            (7, "<article><p>hi</p></article>"),
        ]
        try:
            for n, docs in (("b1.jsonl", batch1), ("b2.jsonl", batch2)):
                path = os.path.join(drop, n)
                with open(path, "w") as f:
                    for doc_id, page in docs:
                        f.write(
                            _json.dumps({"doc_id": doc_id, "text": page})
                            + "\n"
                        )
                task.process_available()
                os.remove(path)
            frame = _ingest_outcome_frame(task)
            _INGEST_HTML_E2E_CACHE[key] = (frame.collect(), frame.schema)
        finally:
            shutil.rmtree(root, ignore_errors=True)
    return _INGEST_HTML_E2E_CACHE[key]


@_register(
    "q_ingest_e2e_html",
    """
    SELECT * FROM (VALUES
      (1, 'alpha beta gamma', 0, 'admitted'),
      (4, 'delta & epsilon',  0, 'admitted'),
      (6, 'zeta eta theta',   1, 'admitted'),
      (7, 'min_len',          1, 'quarantined')
    ) AS t(doc_id, info, batch_id, status)
    ORDER BY doc_id
    """,
    "streaming HTML-ingest E2E: two batches of RAW crawl pages drain "
    "through extract_html=True — markup-variant mirrors dedup exactly "
    "(within-batch AND vs the corpus), a boilerplate-only page rejects "
    "as empty extraction, and the quality contract judges extracted "
    "content; oracle = the hand-derived admission outcome",
    "CorpusIngestTask(extract_html=True) end-to-end (crawl-page "
    "admission; composes sources/crawl with the gates)",
)
def q_ingest_e2e_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows, schema = _ingest_html_e2e_results(spark)
    return spark.createDataFrame(rows, schema).orderBy("doc_id")


_INGEST_ROBOTS_E2E_CACHE: dict[str, tuple[list, object]] = {}


def _ingest_robots_e2e_results(spark: SparkSession):
    """Cached WARC-drop drive with the robots politeness gate armed:
    a.com disallows /private but allows the /private/ok subtree for
    '*'; rule-less hosts pass; denied pages land in the
    _quarantine_robots side channel, not the corpus."""
    import os
    import shutil
    import tempfile

    key = spark.sparkContext.applicationId
    if key not in _INGEST_ROBOTS_E2E_CACHE:
        from sample_dms_s3_kinesis_spark.operators.robots import (
            parse_robots,
        )
        from sample_dms_s3_kinesis_spark.streaming.ingest import (
            CorpusIngestTask,
        )

        root = tempfile.mkdtemp(prefix="q_ingest_robots_")
        drop = os.path.join(root, "drop")
        os.makedirs(drop)
        rules = parse_robots(
            spark.createDataFrame(
                [
                    (
                        "a.com",
                        "User-agent: *\nDisallow: /private\n"
                        "Allow: /private/ok\n",
                    )
                ],
                "host string, robots_txt string",
            )
        )
        task = CorpusIngestTask(
            spark,
            drop,
            os.path.join(root, "corpus"),
            input_format="warc",
            doc_id_pattern=r"/p/([0-9]+)$",
            extract_html=True,
            robots_rules=rules,
            checkpoint_dir=os.path.join(root, "ckpt"),
        )

        def _rec(uri, html):
            payload = (
                f"HTTP/1.1 200 \r\nContent-Type: text/html\r\n\r\n{html}"
            )
            return (
                "WARC/1.0\r\nWARC-Type: response\r\n"
                f"WARC-Target-URI: {uri}\r\n"
                f"Content-Length: {len(payload.encode())}\r\n\r\n"
                f"{payload}\r\n\r\n"
            )

        b1 = (
            _rec("https://a.com/p/1", "<p>alpha public page</p>")
            # under the Disallow /private prefix -> robots-denied
            + _rec("https://a.com/private/p/2", "<p>hidden page two</p>")
            # longest-match: Allow /private/ok beats Disallow /private
            + _rec(
                "https://a.com/private/okzone/p/3",
                "<p>allowed subtree page</p>",
            )
            # same path shape on a RULE-LESS host -> allowed
            + _rec(
                "https://b.com/private/p/4", "<p>ruleless host page</p>"
            )
            # exact content dup of doc 1 -> dropped by the digest gate
            + _rec("https://b.com/p/5", "<p>alpha public page</p>")
        )
        try:
            with open(os.path.join(drop, "b1.warc"), "w") as f:
                f.write(b1)
            task.process_available()
            admitted = task.corpus().select(
                F.col("doc_id"),
                F.col("text").alias("info"),
                F.col("batch_id"),
                F.lit("admitted").alias("status"),
            )
            denied = task.robots_quarantined().select(
                F.col("doc_id"),
                F.col("target_uri").alias("info"),
                F.col("batch_id"),
                F.lit("robots").alias("status"),
            )
            frame = admitted.unionByName(denied)
            _INGEST_ROBOTS_E2E_CACHE[key] = (
                frame.collect(),
                frame.schema,
            )
        finally:
            shutil.rmtree(root, ignore_errors=True)
    return _INGEST_ROBOTS_E2E_CACHE[key]


@_register(
    "q_ingest_robots_funnel",
    """
    SELECT * FROM (VALUES
      (1, 'alpha public page',          0, 'admitted'),
      (2, 'https://a.com/private/p/2',  0, 'robots'),
      (3, 'allowed subtree page',       0, 'admitted'),
      (4, 'ruleless host page',         0, 'admitted')
    ) AS t(doc_id, info, batch_id, status)
    ORDER BY doc_id
    """,
    "streaming corpus-ingest with the robots.txt POLITENESS gate "
    "armed: a WARC drop drains through robots_decisions before any "
    "content gate — a /private page quarantines to the "
    "_quarantine_robots side channel (rejected_robots counter), the "
    "Allow /private/ok longest-match subtree and rule-less hosts "
    "admit, and the exact-dup digest gate still applies downstream; "
    "oracle = the hand-derived admission outcome",
    "CorpusIngestTask(robots_rules=...) end-to-end (crawl politeness "
    "enforcement in the admission funnel)",
)
def q_ingest_robots_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows, schema = _ingest_robots_e2e_results(spark)
    return spark.createDataFrame(rows, schema).orderBy("doc_id")


_CDX_E2E_CACHE: dict[str, tuple[list, object]] = {}


def _cdx_e2e_results(spark: SparkSession):
    """Cached drive of the CDX index-sidecar selection mode: seed a
    one-doc corpus, drain a sidecar (two captures of a seen page, an
    unseen page, a 404, two captures fighting one per-host slot, a
    malformed line), REPLAY it (idempotence), then drain a second
    sidecar where an already-selected capture re-appears, a new h1
    capture loses to the cumulative host budget, and a fresh host's
    capture is selected."""
    import json as _json
    import os
    import shutil
    import tempfile

    from sample_dms_s3_kinesis_spark.streaming.ingest import (
        CorpusIngestTask,
    )

    key = spark.sparkContext.applicationId
    if key not in _CDX_E2E_CACHE:
        root = tempfile.mkdtemp(prefix="q_cdx_e2e_")
        drop = os.path.join(root, "drop")
        cdx = os.path.join(root, "cdx")
        os.makedirs(drop)
        os.makedirs(cdx)
        task = CorpusIngestTask(
            spark,
            drop,
            os.path.join(root, "corpus"),
            cdx_dir=cdx,
            cdx_schema="url string, status string, digest string",
            cdx_max_per_host=1,
            checkpoint_dir=os.path.join(root, "ckpt"),
        )

        def line(urlkey, ts, url, status, digest):
            return f"{urlkey} {ts} " + _json.dumps(
                {"url": url, "status": status, "digest": digest}
            )

        try:
            with open(os.path.join(drop, "b1.jsonl"), "w") as f:
                f.write(
                    _json.dumps(
                        {"doc_id": 1, "text": "alpha bravo charlie delta"}
                    )
                    + "\n"
                )
            task.process_available()
            import hashlib

            seen = hashlib.md5(b"alpha bravo charlie delta").hexdigest()
            s1 = [
                line("org,h1)/a", "20240101000000",
                     "https://h1.org/a", "200", "d-old"),
                line("org,h1)/a", "20240301000000",
                     "https://h1.org/a", "200", seen),
                line("org,h1)/b", "20240101000000",
                     "https://h1.org/b", "200", "d2"),
                line("org,h2)/c", "20240101000000",
                     "https://h2.org/c", "404", "d3"),
                line("org,h2)/d", "20240101000000",
                     "https://h2.org/d", "200", "d4"),
                line("org,h2)/e", "20240101000000",
                     "https://h2.org/e", "200", "d5"),
                "malformed line without a json block",
            ]
            with open(os.path.join(cdx, "s1.cdx"), "w") as f:
                f.write("\n".join(s1) + "\n")
            task.process_cdx_available()
            task.process_cdx_available()  # the replay: selects nothing
            os.remove(os.path.join(cdx, "s1.cdx"))
            s2 = [
                line("org,h1)/b", "20240101000000",
                     "https://h1.org/b", "200", "d2"),
                line("org,h1)/f", "20240501000000",
                     "https://h1.org/f", "200", "d6"),
                line("org,h3)/g", "20240501000000",
                     "https://h3.org/g", "200", "d7"),
            ]
            with open(os.path.join(cdx, "s2.cdx"), "w") as f:
                f.write("\n".join(s2) + "\n")
            task.process_cdx_available()
            totals = task.cdx_stats()
            frame = task.selected_captures().select(
                "urlkey",
                "capture_ts",
                "host",
                "digest",
                "batch_id",
                *[
                    F.lit(int(totals[k])).alias(k)
                    for k in (
                        "n_rejects",
                        "n_latest",
                        "n_200",
                        "n_unseen",
                        "n_selected",
                    )
                ],
            )
            _CDX_E2E_CACHE[key] = (frame.collect(), frame.schema)
        finally:
            shutil.rmtree(root, ignore_errors=True)
    return _CDX_E2E_CACHE[key]


@_register(
    "q_cdx_ingest_e2e",
    """
    SELECT * FROM (VALUES
      ('org,h1)/b', '20240101000000', 'h1.org', 'd2', 0,
       2, 13, 11, 6, 3),
      ('org,h2)/d', '20240101000000', 'h2.org', 'd4', 0,
       2, 13, 11, 6, 3),
      ('org,h3)/g', '20240501000000', 'h3.org', 'd7', 2,
       2, 13, 11, 6, 3)
    ) AS t(urlkey, capture_ts, host, digest, batch_id,
           n_rejects, n_latest, n_200, n_unseen, n_selected)
    ORDER BY urlkey
    """,
    "CDX index-sidecar selection E2E: CorpusIngestTask(cdx_dir=...) "
    "drains two sidecars plus a replay through the selection gates — "
    "latest valid capture, status-200, unseen-digest anti-join "
    "against the admitted corpus, already-selected anti-join (the "
    "replay selects nothing), CUMULATIVE per-host budget "
    "(domain_caps_against: h1's second capture loses to the slot "
    "spent in batch 0) — and serves the persisted selected-capture "
    "manifest the fetch tier would consume, with the manifest-rebuilt "
    "funnel totals; oracle = the hand-derived selection outcome",
    "CorpusIngestTask CDX sidecar mode end-to-end (streaming twin of "
    "q_cdx_selection_pipeline)",
)
def q_cdx_ingest_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows, schema = _cdx_e2e_results(spark)
    return spark.createDataFrame(rows, schema).orderBy("urlkey")


_LINK_E2E_CACHE: dict[str, tuple[list, object]] = {}


def _link_frontier_e2e_results(spark: SparkSession):
    """Cached drive of the link-discovery frontier mode: two WARC
    batches through CorpusIngestTask(discover_links=True,
    frontier_max_per_host=2) — batch 0's pages link in all three href
    forms plus decoys, a same-batch fetched URI and a cross-page dup;
    a replay of batch 0 changes nothing; batch 1 links to an
    already-discovered URL, an admitted page, an over-budget a.com URL
    and one fresh host."""
    import os
    import shutil
    import tempfile

    from sample_dms_s3_kinesis_spark.streaming.ingest import (
        CorpusIngestTask,
    )

    key = spark.sparkContext.applicationId
    if key not in _LINK_E2E_CACHE:
        root = tempfile.mkdtemp(prefix="q_link_e2e_")
        drop = os.path.join(root, "drop")
        os.makedirs(drop)
        task = CorpusIngestTask(
            spark,
            drop,
            os.path.join(root, "corpus"),
            input_format="warc",
            extract_html=True,
            discover_links=True,
            frontier_max_per_host=2,
            checkpoint_dir=os.path.join(root, "ckpt"),
        )

        def page(uri, body):
            payload = (
                "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
                f"<html><body>{body}</body></html>"
            )
            return (
                "WARC/1.0\r\n"
                "WARC-Type: response\r\n"
                f"WARC-Target-URI: {uri}\r\n"
                f"Content-Length: {len(payload.encode())}\r\n\r\n"
                f"{payload}\r\n\r\n"
            )

        try:
            b1 = page(
                "https://a.com/dir/p1.html",
                "<p>alpha one</p>"
                '<a href="https://b.com/x">abs</a>'
                "<a href='../q/r.html'>rel</a>"
                '<a href="/s">root</a>'
                '<a href="https://a.com/dir/p2.html">same batch</a>'
                '<a href="mailto:z@a.com">decoy</a>'
                '<a href="#top">decoy</a>',
            ) + page(
                "https://a.com/dir/p2.html",
                '<p>beta two</p><a href="https://b.com/x">dup</a>',
            )
            with open(os.path.join(drop, "b1.warc"), "w") as f:
                f.write(b1)
            batch = task._source_frame(streaming=False)
            task._process_batch(batch, 0)
            task._process_batch(batch, 0)  # the replay: changes nothing
            os.remove(os.path.join(drop, "b1.warc"))
            b2 = page(
                "https://c.com/page",
                "<p>gamma three</p>"
                '<a href="https://b.com/x">seen in batch 0</a>'
                '<a href="https://a.com/dir/p1.html">already admitted</a>'
                '<a href="https://a.com/extra">budget spent</a>'
                '<a href="https://d.com/fresh">new</a>',
            )
            with open(os.path.join(drop, "b2.warc"), "w") as f:
                f.write(b2)
            task._process_batch(task._source_frame(streaming=False), 1)
            totals = task.frontier_stats()
            frame = task.discovered_frontier().select(
                "url",
                "host",
                "batch_id",
                *[
                    F.lit(int(totals[k])).alias(k)
                    for k in (
                        "discovered_links",
                        "discovered_unique",
                        "frontier_new",
                    )
                ],
            )
            _LINK_E2E_CACHE[key] = (frame.collect(), frame.schema)
        finally:
            shutil.rmtree(root, ignore_errors=True)
    return _LINK_E2E_CACHE[key]


@_register(
    "q_link_frontier_e2e",
    """
    SELECT * FROM (VALUES
      ('https://a.com/q/r.html', 'a.com', 0, 9, 8, 4),
      ('https://a.com/s',        'a.com', 0, 9, 8, 4),
      ('https://b.com/x',        'b.com', 0, 9, 8, 4),
      ('https://d.com/fresh',    'd.com', 1, 9, 8, 4)
    ) AS t(url, host, batch_id,
           discovered_links, discovered_unique, frontier_new)
    ORDER BY url
    """,
    "link-discovery frontier E2E: CorpusIngestTask(discover_links="
    "True) drains two WARC batches plus a replay — every fetched "
    "page's anchors resolve through html_links + resolve_url "
    "(absolute/relative/root-relative; mailto and fragment decoys "
    "drop), the batch's unique URLs anti-join the admitted corpus by "
    "URI hash, the batch's own fetched URIs, and earlier discoveries, "
    "and the CUMULATIVE per-host budget (a.com = 2) caps the rest — "
    "serving the persisted frontier the fetch tier would consume, "
    "with manifest-rebuilt totals; oracle = the hand-derived "
    "discovery outcome",
    "CorpusIngestTask link-discovery mode end-to-end (streaming twin "
    "of q_link_frontier)",
)
def q_link_frontier_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows, schema = _link_frontier_e2e_results(spark)
    return spark.createDataFrame(rows, schema).orderBy("url")


_FETCH_PLAN_E2E_CACHE: dict[str, tuple[list, object]] = {}


def _fetch_plan_e2e_results(spark: SparkSession):
    """Cached drive of the unified fetch plan: one WARC batch discovers
    links (incl. a robots-denied path and a URL the CDX sidecar also
    selects), one CDX drain selects captures, and fetch_plan(
    include_cdx=True) merges both modalities — URL-deduped,
    robots-filtered, Crawl-delay-scheduled."""
    import os
    import shutil
    import tempfile

    from sample_dms_s3_kinesis_spark.operators.robots import (
        parse_robots,
        robots_crawl_delays,
    )
    from sample_dms_s3_kinesis_spark.streaming.ingest import (
        CorpusIngestTask,
    )

    key = spark.sparkContext.applicationId
    if key not in _FETCH_PLAN_E2E_CACHE:
        root = tempfile.mkdtemp(prefix="q_fetch_plan_e2e_")
        drop = os.path.join(root, "drop")
        cdx = os.path.join(root, "cdx")
        os.makedirs(drop)
        os.makedirs(cdx)
        robots_files = spark.createDataFrame(
            [("b.com", "User-agent: *\nDisallow: /private\nCrawl-delay: 2\n")],
            "host string, robots_txt string",
        )
        task = CorpusIngestTask(
            spark,
            drop,
            os.path.join(root, "corpus"),
            input_format="warc",
            extract_html=True,
            discover_links=True,
            robots_rules=parse_robots(robots_files),
            cdx_dir=cdx,
            cdx_schema="url string, status string, digest string",
            checkpoint_dir=os.path.join(root, "ckpt"),
        )
        page_body = (
            "<p>alpha content</p>"
            '<a href="https://b.com/open/1">o1</a>'
            '<a href="https://b.com/open/2">o2</a>'
            '<a href="https://b.com/private/x">denied at plan time</a>'
            '<a href="https://b.com/shared">also cdx-selected</a>'
            '<a href="https://c.com/z">c</a>'
        )
        payload = (
            "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
            f"<html><body>{page_body}</body></html>"
        )
        rec = (
            "WARC/1.0\r\nWARC-Type: response\r\n"
            "WARC-Target-URI: https://a.com/p\r\n"
            f"Content-Length: {len(payload.encode())}\r\n\r\n"
            f"{payload}\r\n\r\n"
        )
        try:
            with open(os.path.join(drop, "b1.warc"), "w") as f:
                f.write(rec)
            task._process_batch(task._source_frame(streaming=False), 0)
            lines = [
                'com,b)/shared 20240101000000 {"url": "https://b.com/shared",'
                ' "status": "200", "digest": "d1"}',
                'com,d)/idx1 20240101000000 {"url": "https://d.com/idx1",'
                ' "status": "200", "digest": "d2"}',
                'com,d)/idx2 20240101000000 {"url": "https://d.com/idx2",'
                ' "status": "200", "digest": "d3"}',
            ]
            with open(os.path.join(cdx, "s1.cdx"), "w") as f:
                f.write("\n".join(lines) + "\n")
            task.process_cdx_available()
            plan = task.fetch_plan(
                robots_crawl_delays(robots_files, agent="*"),
                default_delay=1.0,
                include_cdx=True,
            ).select("url", "host", "wave", "fetch_offset_s")
            _FETCH_PLAN_E2E_CACHE[key] = (plan.collect(), plan.schema)
        finally:
            shutil.rmtree(root, ignore_errors=True)
    return _FETCH_PLAN_E2E_CACHE[key]


@_register(
    "q_fetch_plan_e2e",
    """
    SELECT * FROM (VALUES
      ('https://b.com/open/1', 'b.com', 1, CAST(0.0 AS DOUBLE)),
      ('https://b.com/open/2', 'b.com', 2, CAST(2.0 AS DOUBLE)),
      ('https://b.com/shared', 'b.com', 3, CAST(4.0 AS DOUBLE)),
      ('https://c.com/z',      'c.com', 1, CAST(0.0 AS DOUBLE)),
      ('https://d.com/idx1',   'd.com', 1, CAST(0.0 AS DOUBLE)),
      ('https://d.com/idx2',   'd.com', 2, CAST(1.0 AS DOUBLE))
    ) AS t(url, host, wave, fetch_offset_s)
    ORDER BY url
    """,
    "unified fetch plan E2E — the capstone of the crawl loop: one WARC "
    "batch discovers five links (one robots-denied, one the CDX "
    "sidecar also selects), one CDX drain selects three captures, and "
    "fetch_plan(include_cdx=True) merges the modalities — the shared "
    "URL schedules ONCE, the denied URL never schedules, b.com's "
    "Crawl-delay of 2 s spaces its three waves 0/2/4 while rule-less "
    "hosts run at the 1 s default; oracle = the hand-derived schedule",
    "CorpusIngestTask unified fetch plan end-to-end (link + CDX "
    "modalities, robots filter, Crawl-delay waves)",
)
def q_fetch_plan_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows, schema = _fetch_plan_e2e_results(spark)
    return spark.createDataFrame(rows, schema).orderBy("url")


_REDIRECT_E2E_CACHE: dict[str, tuple[list, object]] = {}


def _redirect_frontier_e2e_results(spark: SparkSession):
    """Cached drive of follow_redirects mode: one WARC batch carries a
    content page, three redirects (absolute, relative, and one whose
    source robots disallows) and a redirect at an admitted page; the
    targets feed the frontier behind the standard gates."""
    import os
    import shutil
    import tempfile

    from sample_dms_s3_kinesis_spark.operators.robots import parse_robots
    from sample_dms_s3_kinesis_spark.streaming.ingest import (
        CorpusIngestTask,
    )

    key = spark.sparkContext.applicationId
    if key not in _REDIRECT_E2E_CACHE:
        root = tempfile.mkdtemp(prefix="q_redirect_e2e_")
        drop = os.path.join(root, "drop")
        os.makedirs(drop)
        rules = parse_robots(
            spark.createDataFrame(
                [("deny.com", "User-agent: *\nDisallow: /x\n")],
                "host string, robots_txt string",
            )
        )
        task = CorpusIngestTask(
            spark,
            drop,
            os.path.join(root, "corpus"),
            input_format="warc",
            extract_html=True,
            discover_links=True,
            follow_redirects=True,
            robots_rules=rules,
            checkpoint_dir=os.path.join(root, "ckpt"),
        )

        def rec(uri, payload):
            return (
                "WARC/1.0\r\n"
                "WARC-Type: response\r\n"
                f"WARC-Target-URI: {uri}\r\n"
                f"Content-Length: {len(payload.encode())}\r\n\r\n"
                f"{payload}\r\n\r\n"
            )

        def page(uri, body):
            return rec(
                uri,
                "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
                f"<html><body>{body}</body></html>",
            )

        def redirect(uri, location, status=301):
            return rec(
                uri,
                f"HTTP/1.1 {status} Moved\r\nContent-Type: text/html"
                f"\r\nLocation: {location}\r\n\r\n"
                "<html><body>moved</body></html>",
            )

        try:
            b1 = (
                page(
                    "https://a.com/p1",
                    "<p>alpha content here</p>"
                    '<a href="https://b.com/keep">keep</a>'
                    '<a href="https://a.com/old">redirecting src</a>',
                )
                + redirect("https://a.com/old", "https://a.com/new")
                + redirect("https://b.com/r", "/moved", status=302)
                + redirect("https://deny.com/x", "https://deny.com/y")
                + redirect("https://a.com/self", "https://a.com/p1")
            )
            with open(os.path.join(drop, "b1.warc"), "w") as f:
                f.write(b1)
            batch = task._source_frame(streaming=False)
            task._process_batch(batch, 0)
            task._process_batch(batch, 0)  # the replay: changes nothing
            totals = task.frontier_stats()
            frame = task.discovered_frontier().select(
                "url",
                "host",
                "batch_id",
                *[
                    F.lit(int(totals[k])).alias(k)
                    for k in (
                        "discovered_links",
                        "discovered_redirects",
                        "frontier_new",
                    )
                ],
            )
            _REDIRECT_E2E_CACHE[key] = (frame.collect(), frame.schema)
        finally:
            shutil.rmtree(root, ignore_errors=True)
    return _REDIRECT_E2E_CACHE[key]


@_register(
    "q_redirect_frontier_e2e",
    """
    SELECT * FROM (VALUES
      ('https://a.com/new',   'a.com', 0, 2, 3, 3),
      ('https://b.com/keep',  'b.com', 0, 2, 3, 3),
      ('https://b.com/moved', 'b.com', 0, 2, 3, 3)
    ) AS t(url, host, batch_id,
           discovered_links, discovered_redirects, frontier_new)
    ORDER BY url
    """,
    "redirect-to-frontier E2E: CorpusIngestTask(follow_redirects=True) "
    "drains a WARC batch plus a replay — 3xx Location targets resolve "
    "against the source URI (absolute and relative forms), a "
    "robots-denied source contributes nothing, a target already "
    "admitted this batch is gated out, an anchor AT a redirect source "
    "is excluded (it was fetched), and the redirect rows never reach "
    "the corpus; oracle = the hand-derived frontier.  The streaming "
    "closure of q_redirect_frontier (reference analogue: the "
    "consume-everything ingestion loop, run.py:107-138)",
    "CorpusIngestTask follow_redirects mode end-to-end (redirect "
    "targets -> frontier behind the standard gates)",
)
def q_redirect_frontier_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows, schema = _redirect_frontier_e2e_results(spark)
    return spark.createDataFrame(rows, schema).orderBy("url")


_REVAL_E2E_CACHE: dict[str, tuple[list, object]] = {}


def _revalidation_e2e_results(spark: SparkSession):
    """Cached drive of track_revalidations mode: batch 0 admits one
    page; batch 1 carries two 304 Not Modified responses (one for the
    admitted page, one for a URL the corpus has never seen) plus a
    replay — the freshness channel of a conditional-refetch loop."""
    import os
    import shutil
    import tempfile

    from sample_dms_s3_kinesis_spark.streaming.ingest import (
        CorpusIngestTask,
    )

    key = spark.sparkContext.applicationId
    if key not in _REVAL_E2E_CACHE:
        root = tempfile.mkdtemp(prefix="q_reval_e2e_")
        drop = os.path.join(root, "drop")
        os.makedirs(drop)
        task = CorpusIngestTask(
            spark,
            drop,
            os.path.join(root, "corpus"),
            input_format="warc",
            extract_html=True,
            track_revalidations=True,
            checkpoint_dir=os.path.join(root, "ckpt"),
        )

        def rec(uri, payload):
            return (
                "WARC/1.0\r\n"
                "WARC-Type: response\r\n"
                f"WARC-Target-URI: {uri}\r\n"
                f"Content-Length: {len(payload.encode())}\r\n\r\n"
                f"{payload}\r\n\r\n"
            )

        try:
            with open(os.path.join(drop, "b0.warc"), "w") as f:
                f.write(
                    rec(
                        "https://a.com/p1",
                        "HTTP/1.1 200 OK\r\nContent-Type: text/html"
                        "\r\n\r\n<html><body><p>alpha body</p>"
                        "</body></html>",
                    )
                )
            task._process_batch(task._source_frame(streaming=False), 0)
            os.remove(os.path.join(drop, "b0.warc"))
            h304 = 'HTTP/1.1 304 Not Modified\r\nETag: "x"\r\n\r\n'
            with open(os.path.join(drop, "b1.warc"), "w") as f:
                f.write(
                    rec("https://a.com/p1", h304)
                    + rec("https://b.com/q", h304)
                )
            batch = task._source_frame(streaming=False)
            task._process_batch(batch, 1)
            task._process_batch(batch, 1)  # the replay: changes nothing
            stats = task.ingest_stats()
            frame = (
                task.revalidations()
                .join(
                    task.corpus().select(
                        "doc_id", F.lit(True).alias("known")
                    ),
                    "doc_id",
                    "left",
                )
                .select(
                    "target_uri",
                    "batch_id",
                    F.coalesce(F.col("known"), F.lit(False)).alias(
                        "known"
                    ),
                    F.lit(int(stats["revalidated"])).alias(
                        "revalidated_total"
                    ),
                    F.lit(int(stats["admitted"])).alias(
                        "admitted_total"
                    ),
                )
            )
            _REVAL_E2E_CACHE[key] = (frame.collect(), frame.schema)
        finally:
            shutil.rmtree(root, ignore_errors=True)
    return _REVAL_E2E_CACHE[key]


@_register(
    "q_revalidation_e2e",
    """
    SELECT * FROM (VALUES
      ('https://a.com/p1', 1, true,  2, 1),
      ('https://b.com/q',  1, false, 2, 1)
    ) AS t(target_uri, batch_id, known,
           revalidated_total, admitted_total)
    ORDER BY target_uri
    """,
    "304-revalidation E2E: CorpusIngestTask(track_revalidations=True) "
    "admits one page, then drains a batch of two 304 Not Modified "
    "responses plus a replay — both land in the _revalidated store "
    "keyed by the SAME doc_id admitted pages use (the one for the "
    "admitted page joins its corpus row; the never-seen URL does "
    "not), the `revalidated` counter reads 2, the corpus stays at 1 "
    "doc (a 304 carries no body and never re-admits), and the replay "
    "changes nothing; oracle = the hand-derived outcome.  The answer "
    "channel of the conditional-refetch loop (q_recrawl_schedule "
    "decides WHEN, q_http_validators supplies the request headers, "
    "this records the 'still fresh' result)",
    "CorpusIngestTask revalidation mode end-to-end (304 freshness "
    "channel)",
)
def q_revalidation_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows, schema = _revalidation_e2e_results(spark)
    return spark.createDataFrame(rows, schema).orderBy("target_uri")


@_register(
    "q_metrics_e2e_sketches",
    """
    SELECT * FROM (VALUES
      ('freq',     'click',    4),
      ('freq',     'purchase', 2),
      ('freq',     'view',     3),
      ('distinct', '2026-03-01', 3),
      ('distinct', '2026-03-02', 2),
      ('distinct', 'ALL',        4)
    ) AS t(metric, key, value)
    ORDER BY metric, key
    """,
    "streaming sketch-metrics E2E: drain a deterministic two-day event "
    "fixture through SketchMetricsTask (per-batch CMS/KMV stores, "
    "merge-at-read), then serve frequency and per-day distinct "
    "estimates; the fixture is far below sketch capacity so estimates "
    "are exact and the oracle is the hand-derived truth",
    "SketchMetricsTask end-to-end (CMS probe + KMV daily distinct)",
)
def q_metrics_e2e_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from sample_dms_s3_kinesis_spark.streaming.metrics import (
        SketchMetricsTask,
    )

    root = tempfile.mkdtemp(prefix="q_metrics_e2e_")
    drop = os.path.join(root, "drop")
    os.makedirs(drop)
    task = SketchMetricsTask(
        spark,
        drop,
        os.path.join(root, "store"),
        checkpoint_dir=os.path.join(root, "ckpt"),
    )
    day1 = [
        '{"event_id": 1, "ts": "2026-03-01T01:00:00Z", "user_id": 10, "event_type": "click"}',
        '{"event_id": 2, "ts": "2026-03-01T02:00:00Z", "user_id": 11, "event_type": "click"}',
        '{"event_id": 3, "ts": "2026-03-01T03:00:00Z", "user_id": 12, "event_type": "view"}',
        '{"event_id": 4, "ts": "2026-03-01T04:00:00Z", "user_id": 10, "event_type": "view"}',
        '{"event_id": 5, "ts": "2026-03-01T05:00:00Z", "user_id": 11, "event_type": "purchase"}',
    ]
    day2 = [
        '{"event_id": 6, "ts": "2026-03-02T01:00:00Z", "user_id": 11, "event_type": "click"}',
        '{"event_id": 7, "ts": "2026-03-02T02:00:00Z", "user_id": 13, "event_type": "click"}',
        '{"event_id": 8, "ts": "2026-03-02T03:00:00Z", "user_id": 13, "event_type": "view"}',
        '{"event_id": 9, "ts": "2026-03-02T04:00:00Z", "user_id": 11, "event_type": "purchase"}',
    ]
    try:
        for n, lines in (("d1.jsonl", day1), ("d2.jsonl", day2)):
            with open(os.path.join(drop, n), "w") as f:
                f.write("\n".join(lines) + "\n")
            task.process_available()
        probes = spark.createDataFrame(
            [("click",), ("view",), ("purchase",)], "event_type string"
        )
        freq = task.freq_estimate(probes).select(
            F.lit("freq").alias("metric"),
            F.col("event_type").alias("key"),
            F.col("est_count").cast("long").alias("value"),
        )
        distinct = task.distinct_estimate().select(
            F.lit("distinct").alias("metric"),
            F.coalesce(
                F.col("day").cast("string"), F.lit("ALL")
            ).alias("key"),
            F.col("est_distinct").cast("long").alias("value"),
        )
        rows = freq.unionByName(distinct).orderBy("metric", "key")
        return spark.createDataFrame(rows.collect(), rows.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# Cross-engine-replicable MinHash-LSH: the md5 hash family computes the
# SAME signatures in DuckDB (16-hex base, md5(h||':'||i) slots compared
# lexicographically, md5-joined band hashes), so the full pipeline —
# shingle → k minhash slots → banded candidates → signature-match
# estimate — is exact-oracle-checked end to end, not rows-only like the
# production xxhash64 flavor.  k=12/b=4 keeps the oracle tractable; the
# geometry is the operator's, not a special case.
_MINHASH_MD5_SIG_SQL = r"""
    toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
      FROM documents),
    g AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(t) >= 3
               THEN list_transform(range(1, len(t) - 1),
                                   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
               ELSE CAST([] AS VARCHAR[]) END) AS grams
      FROM toks),
    h AS (
      SELECT doc_id,
             list_transform(grams, s -> substring(md5(s), 1, 16)) AS hs
      FROM g WHERE len(grams) > 0),
    slots AS (
      SELECT doc_id, r.i,
             list_aggregate(
               list_transform(hs, x -> md5(x || ':' || r.i)), 'min') AS slot
      FROM h CROSS JOIN (SELECT unnest(range(12)) AS i) r),
    sig AS (
      SELECT doc_id, list(slot ORDER BY i) AS sig
      FROM slots GROUP BY doc_id),
    bands AS (
      SELECT doc_id, CAST(i // 3 AS INT) AS band,
             md5(string_agg(slot, ',' ORDER BY i)) AS bh
      FROM slots GROUP BY doc_id, band)
"""


@_register(
    "q_minhash_md5_pairs",
    f"""
    WITH {_MINHASH_MD5_SIG_SQL},
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
    est AS (
      SELECT c.id_a, c.id_b,
             len(list_filter(range(1, 13),
                             i -> sa.sig[i] = sb.sig[i])) / 12.0 AS ej
      FROM cand c
      JOIN sig sa ON sa.doc_id = c.id_a
      JOIN sig sb ON sb.doc_id = c.id_b)
    SELECT id_a, id_b, ROUND(ej, 6) AS est_jaccard
    FROM est WHERE ej >= 0.5
    """,
    "MinHash-LSH near-dup pairs under the md5 hash family — the whole "
    "approximate pipeline (shingle, k=12 minhash slots, 4-band "
    "candidates, signature-match estimate) replicated verbatim in "
    "DuckDB: an exact cross-engine check of the LSH core the "
    "xxhash64 flavor can only rows-check",
    "dedup: MinHash-LSH (oracle-replicable hash family)",
)
def q_minhash_md5_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    # max_band_width=None: the DuckDB oracle's bands self-join has no
    # hot-bucket cap, so the engine side must not drop buckets either
    # (the cap is a production-skew control, not a semantic)
    return dedup.minhash_lsh_pairs(
        d, num_hashes=12, bands=4, threshold=0.5, hash_family="md5",
        max_band_width=None,
    ).select(
        "id_a", "id_b", F.round(F.col("est_jaccard"), 6).alias("est_jaccard")
    )


@_register(
    "q_minhash_md5_against",
    f"""
    WITH {_MINHASH_MD5_SIG_SQL},
    cand AS (
      SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS existing_id
      FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh
      WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0),
    est AS (
      SELECT c.new_id, c.existing_id,
             len(list_filter(range(1, 13),
                             i -> sa.sig[i] = sb.sig[i])) / 12.0 AS ej
      FROM cand c
      JOIN sig sa ON sa.doc_id = c.new_id
      JOIN sig sb ON sb.doc_id = c.existing_id)
    SELECT new_id, existing_id, ROUND(ej, 6) AS est_jaccard
    FROM est WHERE ej >= 0.5
    """,
    "incremental cross-corpus MinHash gate under the md5 hash family "
    "(odd doc_ids as the new batch vs even as the corpus) — the "
    "admission gate's band join and estimate exactly replicated in "
    "DuckDB",
    "dedup: MinHash-LSH incremental gate (oracle-replicable hash "
    "family)",
)
def q_minhash_md5_against(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs_against(
        d.filter(F.col("doc_id") % 2 == 1),
        d.filter(F.col("doc_id") % 2 == 0),
        num_hashes=12,
        bands=4,
        threshold=0.5,
        hash_family="md5",
        max_band_width=None,  # oracle's band join is uncapped
    ).select(
        "new_id",
        "existing_id",
        F.round(F.col("est_jaccard"), 6).alias("est_jaccard"),
    )


# The scale-default near-dup clustering composition, as ONE query:
# banded LSH candidate pairs (O(collisions), never all-pairs) ->
# connected components (large-star/small-star above the driver gate) ->
# cluster sizes + min-id survivor flags.  This is the path a 100-TB
# corpus actually takes (q_dedup_clusters' exact pair graph is the
# small-corpus flavor); under the md5 hash family the WHOLE composition
# is exact-oracle-checked — DuckDB rebuilds the same signatures, bands
# and estimates, then closes the graph with a recursive min-label walk.
@_register(
    "q_neardup_clustering_lsh",
    f"""
    WITH RECURSIVE {_MINHASH_MD5_SIG_SQL},
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
    p AS (
      SELECT c.id_a, c.id_b
      FROM cand c
      JOIN sig sa ON sa.doc_id = c.id_a
      JOIN sig sb ON sb.doc_id = c.id_b
      WHERE len(list_filter(range(1, 13),
                            i -> sa.sig[i] = sb.sig[i])) / 12.0 >= 0.5),
    edges AS (SELECT id_a AS src, id_b AS dst FROM p
              UNION SELECT id_b, id_a FROM p),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    walk(id, lbl) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.id),
    cl AS (SELECT id, MIN(lbl) AS cluster_id FROM walk GROUP BY id),
    sz AS (SELECT cluster_id, COUNT(*) AS cluster_size
           FROM cl GROUP BY cluster_id)
    SELECT c.id, c.cluster_id,
           CAST(s.cluster_size AS BIGINT) AS cluster_size,
           CAST(CASE WHEN c.id = c.cluster_id THEN 1 ELSE 0 END AS INT)
             AS is_survivor
    FROM cl c JOIN sz s USING (cluster_id)
    ORDER BY c.id
    """,
    "the scale-default near-dup clustering flagship: MinHash-LSH "
    "banded pairs (md5 family) -> connected components -> cluster "
    "sizes + min-id survivor flags, exact-oracle-checked end to end "
    "(DuckDB replays signatures, bands, estimate AND the recursive "
    "min-label closure)",
    "dedup: LSH-composed clustering (scale path of q_dedup_clusters)",
)
def q_neardup_clustering_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    # max_band_width=None: the oracle's band join is uncapped, and a
    # capped-away candidate pair would split a component and flip
    # cluster ids for every member
    pairs = dedup.minhash_lsh_pairs(
        d, num_hashes=12, bands=4, threshold=0.5, hash_family="md5",
        max_band_width=None,
    )
    cc = dedup.connected_components(pairs)
    sizes = cc.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        cc.join(sizes, "cluster_id")
        .select(
            "id",
            "cluster_id",
            F.col("cluster_size").cast("long").alias("cluster_size"),
            (F.col("id") == F.col("cluster_id")).cast("int")
            .alias("is_survivor"),
        )
        .orderBy("id")
    )


# SimHash twin of the md5-family conversion: the fingerprint's 64 bits
# derive from md5 hex nibbles, which DuckDB reproduces bit-by-bit; the
# oracle then brute-forces ALL pairs (no banding mirror needed — the
# Spark side's 16-bit-chunk pigeonhole is exact AND complete for
# hamming ≤ 3 with no width cap, so brute force is the semantics).
@_register(
    "q_simhash_md5_pairs",
    r"""
    WITH toks AS (
      SELECT doc_id,
             list_distinct(
               string_split_regex(trim(lower(text)), '\s+')) AS t
      FROM documents),
    h AS (
      SELECT doc_id,
             list_transform(t, s -> substring(md5(s), 1, 16)) AS hs,
             len(t) AS n
      FROM toks WHERE len(t) > 0),
    bits AS (
      SELECT doc_id, j.j,
             CASE WHEN 2 * len(list_filter(hs, x ->
                    ((strpos('0123456789abcdef',
                             substring(x, 16 - j.j // 4, 1)) - 1)
                     >> (j.j % 4)) & 1 = 1)) > n
                  THEN 1 ELSE 0 END AS b
      FROM h CROSS JOIN (SELECT unnest(range(64)) AS j) j),
    fp AS (
      SELECT doc_id,
             bit_or(CASE WHEN b = 1 THEN CAST(1 AS UBIGINT) << j
                         ELSE CAST(0 AS UBIGINT) END) AS fp
      FROM bits GROUP BY doc_id)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.fp, b.fp)) <= 3
    """,
    "SimHash near-dup pairs under the md5 hash family — fingerprint "
    "bits derived from md5 hex nibbles are engine-independent, and "
    "the chunk-pigeonhole pipeline is exact+complete at hamming<=3, "
    "so a brute-force DuckDB join is the precise semantics: an exact "
    "cross-engine check of the hamming near-dup core",
    "dedup: SimHash (oracle-replicable hash family)",
)
def q_simhash_md5_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return dedup.simhash_pairs(
        d, max_hamming=3, hash_family="md5"
    ).select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


# r10 conversion: the INCREMENTAL SimHash admission gate under md5 —
# the cross (new odd × existing even) form the xxhash64 flavor
# (q_simhash_pairs_against) can only rows-check.  No chunk-width cap:
# the pigeonhole stays exact+complete, so the brute-force cross join
# is the precise semantics.
@_register(
    "q_simhash_md5_against",
    r"""
    WITH toks AS (
      SELECT doc_id,
             list_distinct(
               string_split_regex(trim(lower(text)), '\s+')) AS t
      FROM documents),
    h AS (
      SELECT doc_id,
             list_transform(t, s -> substring(md5(s), 1, 16)) AS hs,
             len(t) AS n
      FROM toks WHERE len(t) > 0),
    bits AS (
      SELECT doc_id, j.j,
             CASE WHEN 2 * len(list_filter(hs, x ->
                    ((strpos('0123456789abcdef',
                             substring(x, 16 - j.j // 4, 1)) - 1)
                     >> (j.j % 4)) & 1 = 1)) > n
                  THEN 1 ELSE 0 END AS b
      FROM h CROSS JOIN (SELECT unnest(range(64)) AS j) j),
    fp AS (
      SELECT doc_id,
             bit_or(CASE WHEN b = 1 THEN CAST(1 AS UBIGINT) << j
                         ELSE CAST(0 AS UBIGINT) END) AS fp
      FROM bits GROUP BY doc_id)
    SELECT a.doc_id AS new_id, b.doc_id AS existing_id,
           CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
    FROM fp a JOIN fp b
      ON a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
    WHERE bit_count(xor(a.fp, b.fp)) <= 3
    """,
    "incremental SimHash admission gate under the md5 hash family "
    "(new odd docs vs the even admitted corpus, hamming <= 3) — the "
    "cross-corpus hamming decision replicated brute-force in DuckDB, "
    "exact-checking what the xxhash64 production flavor can only "
    "rows-check",
    "dedup: incremental SimHash (oracle-replicable hash family)",
)
def q_simhash_md5_against(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return dedup.simhash_pairs_against(
        d.filter(F.col("doc_id") % 2 == 1),
        d.filter(F.col("doc_id") % 2 == 0),
        max_hamming=3,
        max_chunk_width=None,
        hash_family="md5",
    ).select(
        "new_id",
        "existing_id",
        F.col("hamming").cast("int").alias("hamming"),
    )


# r11 conversion: the LSH CALIBRATION REPORT under md5 — both of its
# sides (the exact shingle-Jaccard join AND the banded md5 minhash
# pipeline) replicate in DuckDB, so the precision/recall summary the
# xxhash64 report (q_lsh_quality) can only rows-check becomes
# exact-oracle-checked.  Rates are single IEEE divisions of exact
# counts (no rounding — cross-engine bit-identical).
@_register(
    "q_lsh_quality_md5",
    f"""
    WITH {_MINHASH_MD5_SIG_SQL},
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
    lsh AS (
      SELECT c.id_a, c.id_b
      FROM cand c
      JOIN sig sa ON sa.doc_id = c.id_a
      JOIN sig sb ON sb.doc_id = c.id_b
      WHERE len(list_filter(range(1, 13),
                            i -> sa.sig[i] = sb.sig[i])) / 12.0 >= 0.5),
    ex AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM g a JOIN g b ON a.doc_id < b.doc_id
      WHERE len(a.grams) > 0 AND len(b.grams) > 0
        AND CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
            / (len(a.grams) + len(b.grams)
               - len(list_intersect(a.grams, b.grams))) >= 0.5),
    m AS (
      SELECT (SELECT COUNT(*) FROM ex) AS exact_pairs,
             (SELECT COUNT(*) FROM lsh) AS lsh_pairs,
             (SELECT COUNT(*) FROM ex JOIN lsh USING (id_a, id_b))
               AS true_positive)
    SELECT CAST(exact_pairs AS BIGINT) AS exact_pairs,
           CAST(lsh_pairs AS BIGINT) AS lsh_pairs,
           CAST(true_positive AS BIGINT) AS true_positive,
           CASE WHEN lsh_pairs = 0 THEN NULL
                ELSE CAST(true_positive AS DOUBLE) / lsh_pairs
           END AS "precision",
           CASE WHEN exact_pairs = 0 THEN NULL
                ELSE CAST(true_positive AS DOUBLE) / exact_pairs
           END AS recall
    FROM m
    """,
    "LSH calibration report under the md5 hash family: MinHash+LSH "
    "(k=12, 4 bands, tau=0.5) measured against the exact 3-gram "
    "shingle-Jaccard join — BOTH sides replicated in DuckDB, so the "
    "whole precision/recall summary is exact-checked cross-engine "
    "(rates as single divisions of exact counts, no rounding)",
    "dedup: LSH quality calibration (oracle-replicable hash family)",
)
def q_lsh_quality_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    rep = dedup.lsh_quality_report(
        d,
        threshold=0.5,
        num_hashes=12,
        bands=4,
        shingle=3,
        hash_family="md5",
        max_band_width=None,  # the oracle's band join is uncapped
    )
    return rep.select(
        "exact_pairs",
        "lsh_pairs",
        "true_positive",
        F.try_divide(
            F.col("true_positive").cast("double"), F.col("lsh_pairs")
        ).alias("precision"),
        F.try_divide(
            F.col("true_positive").cast("double"), F.col("exact_pairs")
        ).alias("recall"),
    )


# r12 conversion: the NEAR-dup split-leakage audit under md5 — the
# whole composition (banded candidates -> signature screen -> exact
# shingle-Jaccard verify -> hash_split straddle test) replicates in
# DuckDB, exact-checking what q_split_leakage_near's xxhash64 flavor
# can only rows-check.  The signature-screen literal is computed in
# PYTHON and embedded, so both engines compare against the identical
# double (est values are multiples of 1/12, nowhere near the
# boundary).
_LSH_SCREEN_08 = 0.8 - 2.0 / (12 ** 0.5)


@_register(
    "q_split_leakage_near_md5",
    f"""
    WITH {_MINHASH_MD5_SIG_SQL},
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
    scr AS (
      SELECT c.id_a, c.id_b
      FROM cand c
      JOIN sig sa ON sa.doc_id = c.id_a
      JOIN sig sb ON sb.doc_id = c.id_b
      WHERE len(list_filter(range(1, 13),
                            i -> sa.sig[i] = sb.sig[i])) / 12.0
            >= {_LSH_SCREEN_08!r}),
    ver AS (
      SELECT s.id_a, s.id_b
      FROM scr s
      JOIN g a ON a.doc_id = s.id_a
      JOIN g b ON b.doc_id = s.id_b
      WHERE (len(a.grams) + len(b.grams)
             - len(list_intersect(a.grams, b.grams))) > 0
        AND CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
            / (len(a.grams) + len(b.grams)
               - len(list_intersect(a.grams, b.grams))) >= 0.8),
    sp AS (
      SELECT doc_id,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':3'), 1, 8)
                       < printf('%08x',
                                CAST(FLOOR(0.8 * 4294967296.0) AS BIGINT))
                  THEN 'train' ELSE 'heldout' END AS split
      FROM documents),
    x AS (
      SELECT v.id_a, v.id_b
      FROM ver v
      JOIN sp a ON a.doc_id = v.id_a
      JOIN sp b ON b.doc_id = v.id_b
      WHERE a.split <> b.split)
    SELECT COUNT(*) AS n_cross_near_pairs,
           COUNT(DISTINCT id_a) + COUNT(DISTINCT id_b) AS n_docs_involved
    FROM x
    """,
    "NEAR-dup split-leakage audit under the md5 hash family: "
    "lsh_verified_jaccard_pairs (k=12, 4 bands, signature screen, "
    "exact 3-gram Jaccard >= 0.8 verify) x hash_split straddle test — "
    "every stage of the composition replicated in DuckDB, so the last "
    "audit family gains a cross-engine-exact member (the xxhash64 "
    "production flavor q_split_leakage_near stays rows-only by "
    "nature)",
    "curation: near-dup split-leakage audit (oracle-replicable hash "
    "family)",
)
def q_split_leakage_near_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sample_dms_s3_kinesis_spark.operators import sampling

    d = sampling.hash_split(
        t(spark, sf_dir, "documents"),
        id_col="doc_id",
        weights=(("train", 0.8), ("heldout", 0.2)),
        seed=3,
    )
    pairs = dedup.lsh_verified_jaccard_pairs(
        d,
        num_hashes=12,
        bands=4,
        threshold=0.8,
        hash_family="md5",
        max_band_width=None,  # the oracle's band join is uncapped
    )
    sp = d.select("doc_id", "split")
    j = (
        pairs.join(
            sp.withColumnRenamed("doc_id", "id_a").withColumnRenamed(
                "split", "_sa"
            ),
            on="id_a",
        )
        .join(
            sp.withColumnRenamed("doc_id", "id_b").withColumnRenamed(
                "split", "_sb"
            ),
            on="id_b",
        )
        .filter(F.col("_sa") != F.col("_sb"))
    )
    return j.agg(
        F.count(F.lit(1)).alias("n_cross_near_pairs"),
        (
            F.count_distinct("id_a") + F.count_distinct("id_b")
        ).alias("n_docs_involved"),
    )


# r11 conversion: the SimHash CALIBRATION REPORT under md5 — the
# hamming side brute-forces in DuckDB off md5-nibble fingerprints and
# the exact side is the binary (Ochiai) token cosine, so the
# hamming-gate precision/recall summary is exact-oracle-checked.
@_register(
    "q_simhash_quality_md5",
    r"""
    WITH toks AS (
      SELECT doc_id,
             list_distinct(
               string_split_regex(trim(lower(text)), '\s+')) AS t
      FROM documents),
    h AS (
      SELECT doc_id,
             list_transform(t, s -> substring(md5(s), 1, 16)) AS hs,
             len(t) AS n
      FROM toks WHERE len(t) > 0),
    bits AS (
      SELECT doc_id, j.j,
             CASE WHEN 2 * len(list_filter(hs, x ->
                    ((strpos('0123456789abcdef',
                             substring(x, 16 - j.j // 4, 1)) - 1)
                     >> (j.j % 4)) & 1 = 1)) > n
                  THEN 1 ELSE 0 END AS b
      FROM h CROSS JOIN (SELECT unnest(range(64)) AS j) j),
    fp AS (
      SELECT doc_id,
             bit_or(CASE WHEN b = 1 THEN CAST(1 AS UBIGINT) << j
                         ELSE CAST(0 AS UBIGINT) END) AS fp
      FROM bits GROUP BY doc_id),
    sh AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM fp a JOIN fp b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.fp, b.fp)) <= 3),
    tk AS (
      SELECT doc_id,
             list_filter(
               list_distinct(string_split_regex(trim(lower(text)), '\s+')),
               x -> x <> '') AS t
      FROM documents),
    ex AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM tk a JOIN tk b ON a.doc_id < b.doc_id
      WHERE len(a.t) > 0 AND len(b.t) > 0
        -- sqrt(na)*sqrt(nb), NOT sqrt(na*nb): the engine side
        -- (token_cosine_pairs) divides by the product of per-doc
        -- norms, and the two associativities differ by ulps exactly
        -- at the threshold boundary
        AND CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
            / (sqrt(CAST(len(a.t) AS DOUBLE))
               * sqrt(CAST(len(b.t) AS DOUBLE))) >= 0.98),
    m AS (
      SELECT (SELECT COUNT(*) FROM ex) AS exact_pairs,
             (SELECT COUNT(*) FROM sh) AS simhash_pairs,
             (SELECT COUNT(*) FROM ex JOIN sh USING (id_a, id_b))
               AS true_positive)
    SELECT CAST(exact_pairs AS BIGINT) AS exact_pairs,
           CAST(simhash_pairs AS BIGINT) AS simhash_pairs,
           CAST(true_positive AS BIGINT) AS true_positive,
           CASE WHEN simhash_pairs = 0 THEN NULL
                ELSE CAST(true_positive AS DOUBLE) / simhash_pairs
           END AS "precision",
           CASE WHEN exact_pairs = 0 THEN NULL
                ELSE CAST(true_positive AS DOUBLE) / exact_pairs
           END AS recall
    FROM m
    """,
    "SimHash calibration report under the md5 hash family: the "
    "hamming<=3 gate (md5-nibble fingerprints, brute-force in DuckDB) "
    "measured against the exact BINARY token-cosine join at the "
    "rule-of-thumb operating point cos(3*pi/64)~=0.99 (tau=0.98) — "
    "both sides replicated, the summary exact-checked cross-engine",
    "dedup: SimHash quality calibration (oracle-replicable hash "
    "family)",
)
def q_simhash_quality_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    rep = dedup.simhash_quality_report(
        d,
        max_hamming=3,
        threshold=0.98,
        max_chunk_width=None,  # the oracle brute-forces uncapped
        hash_family="md5",
    )
    return rep.select(
        "exact_pairs",
        "simhash_pairs",
        "true_positive",
        F.try_divide(
            F.col("true_positive").cast("double"), F.col("simhash_pairs")
        ).alias("precision"),
        F.try_divide(
            F.col("true_positive").cast("double"), F.col("exact_pairs")
        ).alias("recall"),
    )


# Winnowing twin of the md5-family conversion: rolling 6-token span
# hashes and min-of-window-4 fingerprints replicate in DuckDB list
# algebra, so the substring-containment candidate join — previously
# rows-only (xxhash64) — gets an exact cross-engine twin.
@_register(
    "q_winnowing_md5_containment",
    r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
      FROM documents),
    rh AS (
      SELECT doc_id,
             list_transform(
               range(0, greatest(len(t) - 6, 0) + 1),
               i -> substring(md5(array_to_string(t[i+1:i+6], ' ')), 1, 16)
             ) AS rh
      FROM toks),
    fp AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(rh) >= 4
               THEN list_transform(range(0, len(rh) - 3),
                                   i -> list_aggregate(rh[i+1:i+4], 'min'))
               ELSE CAST([] AS VARCHAR[]) END) AS fps
      FROM rh),
    ex AS (SELECT doc_id, unnest(fps) AS f FROM fp),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
      FROM ex a JOIN ex b ON a.f = b.f AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
      HAVING COUNT(*) >= 3)
    SELECT p.id_a, p.id_b, p.shared,
           ROUND(p.shared / least(len(fa.fps), len(fb.fps)), 6)
             AS containment
    FROM pairs p
    JOIN fp fa ON fa.doc_id = p.id_a
    JOIN fp fb ON fb.doc_id = p.id_b
    """,
    "substring-level containment candidates under the md5 hash family "
    "(rolling 6-token hashes, min-of-4 winnowing, shared-fingerprint "
    "join) — the MOSS-style pipeline replicated verbatim in DuckDB "
    "list algebra: an exact cross-engine check of the containment "
    "core the xxhash64 flavor can only rows-check",
    "dedup: winnowing containment (oracle-replicable hash family)",
)
def q_winnowing_md5_containment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return dedup.winnowing_containment_pairs(
        t(spark, sf_dir, "documents"),
        shingle=6,
        window=4,
        min_shared=3,
        hash_family="md5",
    )


# r10 conversion: the INCREMENTAL containment gate under the md5
# family — the cross (new × existing) form the xxhash64 flavor
# (q_containment_against) can only rows-check.  Same winnowing CTE as
# the self-join twin; the pair join restricts to odd (new) × even
# (existing) and the denominator is the smaller fingerprint set.  No
# hot-fingerprint cap (max_fp_width=None): the SQL join has none, and
# a capped-away fingerprint would drop a pair (the r8 band-cap
# lesson).
@_register(
    "q_containment_md5_against",
    r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
      FROM documents),
    rh AS (
      SELECT doc_id,
             list_transform(
               range(0, greatest(len(t) - 6, 0) + 1),
               i -> substring(md5(array_to_string(t[i+1:i+6], ' ')), 1, 16)
             ) AS rh
      FROM toks),
    fp AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(rh) >= 4
               THEN list_transform(range(0, len(rh) - 3),
                                   i -> list_aggregate(rh[i+1:i+4], 'min'))
               ELSE CAST([] AS VARCHAR[]) END) AS fps
      FROM rh),
    ex AS (SELECT doc_id, unnest(fps) AS f FROM fp),
    pairs AS (
      SELECT a.doc_id AS new_id, b.doc_id AS existing_id,
             COUNT(*) AS shared
      FROM ex a JOIN ex b ON a.f = b.f
      WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
      GROUP BY a.doc_id, b.doc_id
      HAVING COUNT(*) >= 3)
    SELECT p.new_id, p.existing_id, p.shared,
           ROUND(p.shared / least(len(fa.fps), len(fb.fps)), 6)
             AS containment
    FROM pairs p
    JOIN fp fa ON fa.doc_id = p.new_id
    JOIN fp fb ON fb.doc_id = p.existing_id
    """,
    "incremental winnowing-containment gate under the md5 hash family "
    "(new odd docs vs the even admitted corpus, >= 3 shared winnowed "
    "fingerprints) — the cross-corpus admission decision replicated "
    "verbatim in DuckDB, exact-checking what the xxhash64 production "
    "flavor can only rows-check",
    "dedup: incremental containment (oracle-replicable hash family)",
)
def q_containment_md5_against(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return dedup.winnowing_containment_against(
        d.filter(F.col("doc_id") % 2 == 1),
        d.filter(F.col("doc_id") % 2 == 0),
        shingle=6,
        window=4,
        min_shared=3,
        max_fp_width=None,
        hash_family="md5",
    )


# r9 conversion: the per-document fingerprint SET itself (not just the
# containment join over it) under the md5 rolling-hash family — the
# whole winnowing selection (rolling 6-token hashes, min-of-window-4,
# distinct) replicated in DuckDB list algebra, with the set identity
# pinned by an order-insensitive digest (md5 of the sorted,
# comma-joined fingerprints).  The xxhash64 flavor
# (q_winnowed_fingerprints) stays the production default and remains
# rows-only; this is its exact-oracle twin.
@_register(
    "q_winnowed_md5_fingerprints",
    r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
      FROM documents),
    rh AS (
      SELECT doc_id,
             list_transform(
               range(0, greatest(len(t) - 6, 0) + 1),
               i -> substring(md5(array_to_string(t[i+1:i+6], ' ')), 1, 16)
             ) AS rh
      FROM toks),
    fp AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(rh) >= 4
               THEN list_transform(range(0, len(rh) - 3),
                                   i -> list_aggregate(rh[i+1:i+4], 'min'))
               ELSE CAST([] AS VARCHAR[]) END) AS fps
      FROM rh)
    SELECT doc_id,
           CAST(len(fps) AS INT) AS n_fingerprints,
           -- coalesce: array_to_string([]) is NULL in DuckDB but
           -- concat_ws over an empty array is '' in Spark — a doc
           -- with fewer spans than the window has an EMPTY
           -- fingerprint set and both engines must digest md5('')
           md5(coalesce(array_to_string(list_sort(fps), ','), ''))
             AS fps_md5
    FROM fp
    """,
    "winnowing (MOSS) fingerprint sets under the md5 hash family: "
    "per-document fingerprint count plus an order-insensitive digest "
    "of the full set — the selection algorithm itself (rolling span "
    "hashes, min-of-window, distinct) exact-oracle-checked, not just "
    "the downstream containment join",
    "text: winnowing fingerprints (oracle-replicable hash family)",
)
def q_winnowed_md5_fingerprints(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from sample_dms_s3_kinesis_spark.operators.partitioning import spread

    d = t(spark, sf_dir, "documents")
    fps = text.winnowed_fingerprints(
        F.col("text"), shingle=6, window=4, hash_family="md5"
    )
    return spread(d).select(
        "doc_id",
        F.size(fps).alias("n_fingerprints"),
        F.md5(F.concat_ws(",", F.array_sort(fps))).alias("fps_md5"),
    )


# r10 conversion: the rolling-hash k-gram fingerprint itself — the
# pre-selection stage the winnowing queries build on — under the md5
# family at the operator's DEFAULT window (8 tokens, distinct from the
# winnowing queries' shingle=6 configuration, so the generic span path
# is what gets checked).  Span count, distinct count, an
# order-insensitive set digest and the minimum span hash (the 1-perm
# minhash this family degenerates to) all replicate in DuckDB list
# algebra.  The xxhash64 flavor stays the production default.
@_register(
    "q_text_md5_fingerprint",
    r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
      FROM documents),
    rh AS (
      SELECT doc_id,
             list_transform(
               range(0, greatest(len(t) - 8, 0) + 1),
               i -> substring(md5(array_to_string(t[i+1:i+8], ' ')), 1, 16)
             ) AS rh
      FROM toks)
    SELECT doc_id,
           CAST(len(rh) AS INT) AS n_spans,
           CAST(len(list_distinct(rh)) AS INT) AS n_distinct,
           md5(coalesce(
             array_to_string(list_sort(list_distinct(rh)), ','), ''))
             AS fps_md5,
           list_aggregate(rh, 'min') AS min_fp
    FROM rh
    """,
    "rolling-hash document fingerprints under the md5 hash family: "
    "per-document span count, distinct-span count, order-insensitive "
    "set digest and minimum span hash — the k-gram fingerprint stage "
    "exact-oracle-checked at the operator default window",
    "text: rolling-hash fingerprinting (oracle-replicable hash family)",
)
def q_text_md5_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sample_dms_s3_kinesis_spark.operators.partitioning import spread

    d = t(spark, sf_dir, "documents")
    rh = text.rolling_hashes(F.col("text"), window=8, hash_family="md5")
    bound = spread(d).select("doc_id", rh.alias("rh"))
    distinct = F.array_distinct(F.col("rh"))
    return bound.select(
        "doc_id",
        F.size("rh").alias("n_spans"),
        F.size(distinct).alias("n_distinct"),
        F.md5(F.concat_ws(",", F.array_sort(distinct))).alias("fps_md5"),
        F.array_min("rh").alias("min_fp"),
    )


# Quantile member of the synopsis family (HLL/KMV distinct, CMS
# frequency): a bottom-k hash-rank uniform sample is mergeable like
# KMV (pool + re-keep), and under the md5 rank family every stage —
# sample membership, per-group sorted values, type-1 empirical
# quantile pick — replicates verbatim in DuckDB.
@_register(
    "q_quantile_sketch_daily",
    """
    WITH rows AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             substring(md5(CAST(event_id AS VARCHAR)), 1, 16) AS r,
             CAST(value AS DOUBLE) AS v
      FROM events WHERE value IS NOT NULL),
    sk AS (
      SELECT day, r, v,
             row_number() OVER (PARTITION BY day ORDER BY r, v) AS rn
      FROM rows QUALIFY rn <= 128),
    agg AS (
      SELECT day, list_sort(list(v)) AS vs, count(*) AS m
      FROM sk GROUP BY day),
    est AS (
      SELECT day, qq.q,
             vs[greatest(1, CAST(ceil(qq.q * m) AS INT))] AS est
      FROM agg CROSS JOIN (
        SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE),
                       CAST(0.99 AS DOUBLE)]) AS q) qq)
    SELECT day, q, ROUND(est, 6) AS est FROM est
    """,
    "per-day quantile estimates served from a mergeable bottom-k "
    "hash-rank sample sketch (k=128, md5 rank family) — sample "
    "membership and the type-1 empirical quantile pick replicated "
    "verbatim in DuckDB: the quantile twin of the KMV/CMS synopses, "
    "exact-oracle-checked",
    "sketches: mergeable quantile sample (oracle-replicable rank)",
)
def q_quantile_sketch_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sample_dms_s3_kinesis_spark.operators.sketches import (
        quantile_estimate,
        quantile_sketch,
    )

    ev = t(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", F.col("ts")).cast("date")
    )
    sk = quantile_sketch(
        ev,
        "value",
        id_col="event_id",
        k=128,
        group_cols=("day",),
        hash_family="md5",
    )
    return quantile_estimate(sk, qs=(0.5, 0.9, 0.99)).select(
        "day", "q", F.round(F.col("est"), 6).alias("est")
    )


# r10 conversion: the DISTINCT member of the synopsis family under the
# md5 rank family — per-day bottom-k (KMV) distinct-user estimates plus
# the merged ALL row (pool + re-keep, proving mergeability on the same
# data the per-day sketches saw).  The md5 unit hash is exact in a
# double (48-bit mantissa, one division), so sketch membership, theta
# and the (k-1)/theta estimate replicate bit-for-bit in DuckDB; the
# HLL flavor (q_hll_daily_union) stays rows-only by nature.
@_register(
    "q_daily_distinct_md5_rank",
    """
    WITH u AS (
      SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day,
             (CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 12))
                   AS BIGINT) + 1) / 281474976710657.0 AS h
      FROM events),
    sk AS (
      SELECT day, h,
             row_number() OVER (PARTITION BY day ORDER BY h) AS rn
      FROM u QUALIFY rn <= 64),
    daily AS (
      SELECT CAST(day AS VARCHAR) AS day,
             CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
                  ELSE 63.0 / max(h) END AS est
      FROM sk GROUP BY day),
    pooled AS (
      SELECT h, row_number() OVER (ORDER BY h) AS rn
      FROM (SELECT DISTINCT h FROM sk) QUALIFY rn <= 64),
    alls AS (
      SELECT 'ALL' AS day,
             CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
                  ELSE 63.0 / max(h) END AS est
      FROM pooled)
    SELECT day, ROUND(est, 6) AS est_distinct
    FROM (SELECT * FROM daily UNION ALL SELECT * FROM alls)
    """,
    "per-day distinct-user estimates from a mergeable bottom-k (KMV) "
    "sketch under the md5 rank family, plus the pooled ALL row — "
    "sketch membership, theta and the (k-1)/theta estimate replicated "
    "verbatim in DuckDB: the distinct twin of the quantile/CMS "
    "synopses, exact-oracle-checked",
    "sketches: KMV distinct (oracle-replicable rank)",
)
def q_daily_distinct_md5_rank(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from sample_dms_s3_kinesis_spark.operators.sketches import (
        kmv_estimate,
        kmv_table,
        kmv_union,
    )

    ev = t(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", F.col("ts")).cast("date")
    )
    sk = kmv_table(
        ev, "user_id", k=64, group_cols=("day",), hash_family="md5"
    )
    daily = kmv_estimate(sk, k=64).select(
        F.col("day").cast("string").alias("day"),
        F.round("est_distinct", 6).alias("est_distinct"),
    )
    merged = kmv_estimate(kmv_union(sk, k=64), k=64).select(
        F.lit("ALL").alias("day"),
        F.round("est_distinct", 6).alias("est_distinct"),
    )
    return daily.unionByName(merged)


# Z-order layout math, exact-checked: the Morton interleave behind
# write_zorder_clustered is pure bit algebra, so DuckDB reproduces
# every key; the query rolls keys into 256 coarse buckets — the
# cluster-file histogram a layout planner actually reads.
@_register(
    "q_zorder_buckets",
    """
    WITH b AS (
      SELECT min(value) AS xlo, max(value) AS xhi,
             min(user_id) AS ylo, max(user_id) AS yhi
      FROM events),
    s AS (
      SELECT
        least(greatest(CAST(floor(
          ((CAST(value AS DOUBLE) - xlo)
           / (CASE WHEN xhi > xlo THEN xhi - xlo ELSE 1 END))
          * 65535.0) AS BIGINT), 0), 65535) AS sx,
        least(greatest(CAST(floor(
          ((CAST(user_id AS DOUBLE) - ylo)
           / (CASE WHEN yhi > ylo
              THEN CAST(yhi - ylo AS DOUBLE) ELSE 1 END))
          * 65535.0) AS BIGINT), 0), 65535) AS sy
      FROM events CROSS JOIN b),
    p1 AS (SELECT ((sx | (sx << 8)) & 16711935) AS sx,
                  ((sy | (sy << 8)) & 16711935) AS sy FROM s),
    p2 AS (SELECT ((sx | (sx << 4)) & 252645135) AS sx,
                  ((sy | (sy << 4)) & 252645135) AS sy FROM p1),
    p3 AS (SELECT ((sx | (sx << 2)) & 858993459) AS sx,
                  ((sy | (sy << 2)) & 858993459) AS sy FROM p2),
    p4 AS (SELECT ((sx | (sx << 1)) & 1431655765) AS sx,
                  ((sy | (sy << 1)) & 1431655765) AS sy FROM p3),
    z AS (SELECT (sx | (sy << 1)) AS z FROM p4)
    SELECT z >> 24 AS bucket, COUNT(*) AS n
    FROM z GROUP BY bucket ORDER BY bucket
    """,
    "Morton (Z-order) key bucket histogram over (value, user_id) — "
    "the bit-interleave clustering key behind write_zorder_clustered "
    "replicated verbatim in DuckDB bit algebra: exact cross-engine "
    "check of the multi-column layout math",
    "layout: z-order clustering key",
)
def q_zorder_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sample_dms_s3_kinesis_spark.operators import layout

    ev = t(spark, sf_dir, "events")
    # one driver-bounded bounds row, same as write_zorder_clustered
    b = ev.agg(
        F.min("value"), F.max("value"), F.min("user_id"), F.max("user_id")
    ).first()
    if b is None or any(v is None for v in b):
        # empty / all-NULL input: no bounds to scale against — the
        # oracle's CROSS JOIN over an empty bounds row is also empty
        # (same guard write_zorder_clustered takes)
        return spark.createDataFrame([], "bucket long, n long")
    z = layout.zorder_key(
        F.col("value"),
        F.col("user_id"),
        x_min=b[0],
        x_max=b[1],
        y_min=b[2],
        y_max=b[3],
    )
    return (
        ev.select(F.shiftright(z, 24).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("bucket")
    )


@_register(
    "q_k_anonymity",
    """
    WITH g AS (
      SELECT c_nationkey, c_mktsegment,
             COUNT(*) AS n_rows,
             COUNT(DISTINCT c_acctbal) AS n_sensitive
      FROM customer
      GROUP BY c_nationkey, c_mktsegment)
    SELECT c_nationkey, c_mktsegment, n_rows, n_sensitive,
           concat_ws(',',
             CASE WHEN n_rows < 10 THEN 'k_anonymity' END,
             CASE WHEN n_sensitive < 12 THEN 'l_diversity' END)
             AS violations
    FROM g WHERE n_rows < 10 OR n_sensitive < 12
    ORDER BY c_nationkey, c_mktsegment
    """,
    "k-anonymity / l-diversity privacy report over the "
    "(nation, market-segment) quasi-identifier with account balance "
    "as the sensitive attribute — the release gate run before "
    "shipping joinable columns; one aggregate pass, oracle-exact",
    "quality: k-anonymity / l-diversity",
)
def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sample_dms_s3_kinesis_spark.operators.quality import (
        k_anonymity_report,
    )

    return k_anonymity_report(
        t(spark, sf_dir, "customer"),
        ["c_nationkey", "c_mktsegment"],
        k=10,
        sensitive_col="c_acctbal",
        l=12,
    ).orderBy("c_nationkey", "c_mktsegment")


@_register(
    "q_unigram_vocab",
    None,  # EM over float expected counts is not SQL-expressible;
    # correctness channel = pytest vs an independent Python reference
    "unigram-LM (SentencePiece-style) tokenizer induction: seed "
    "substring candidates from the weighted vocabulary, soft-EM "
    "piece probabilities (one broadcast + mapInPandas pass per "
    "round, vocab-sized aggregates, corpus never rescanned), prune "
    "to vocab_size keeping all single chars",
    "tokenizers: unigram-LM trainer (BPE's sibling family)",
)
def q_unigram_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _unigram_vocab(spark, sf_dir).select(
        "piece", F.round(F.col("prob"), 8).alias("prob")
    )


# Deterministic and expensive (seed scan + 3 EM mapInPandas rounds):
# train once per (app, sf_dir) and share between the vocab and encode
# queries — same pattern as _IVF_INDEX_CACHE / _INGEST_E2E_CACHE.
_UNIGRAM_VOCAB_CACHE: dict[tuple[str, str], DataFrame] = {}


def _unigram_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sample_dms_s3_kinesis_spark.operators import unigram

    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _UNIGRAM_VOCAB_CACHE:
        _UNIGRAM_VOCAB_CACHE[key] = unigram.unigram_train(
            t(spark, sf_dir, "documents"),
            vocab_size=64,
            seed_size=512,
            max_piece_len=6,
            n_iter=2,
        )
    return _UNIGRAM_VOCAB_CACHE[key]


@_register(
    "q_unigram_encode",
    None,  # Viterbi under the EM-trained vocab: same non-SQL channel
    "Viterbi encoding under the trained unigram vocabulary "
    "(Arrow-batched mapInPandas with a per-batch word memo); returns "
    "per-document piece counts so the output is hash-stable",
    "tokenizers: unigram-LM encoder",
)
def q_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sample_dms_s3_kinesis_spark.operators import unigram

    d = t(spark, sf_dir, "documents")
    enc = unigram.unigram_encode(d, _unigram_vocab(spark, sf_dir))
    return (
        enc.select("doc_id", F.size("pieces").alias("n_pieces"))
        .orderBy("doc_id")
    )


# Deterministic and scan-heavy (moments pass + driver eigh): fit once
# per (app, sf_dir) — same pattern as _UNIGRAM_VOCAB_CACHE.
_PCA_MODEL_CACHE: dict[tuple[str, str], DataFrame] = {}


def _pca_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _PCA_MODEL_CACHE:
        _PCA_MODEL_CACHE[key] = similarity.pca_fit(
            t(spark, sf_dir, "embeddings"), n_components=8
        )
    return _PCA_MODEL_CACHE[key]


@_register(
    "q_pca_explained",
    None,  # eigendecomposition is not SQL-expressible; pytest pins the
    # model against a full numpy PCA reference
    "PCA over the embedding corpus: one mapInPandas moments pass "
    "(per-partition numpy partials, d^2 floats per partition), driver "
    "d×d eigh, deterministic component signs — eigenvalues and "
    "explained-variance ratios of the top components",
    "similarity: PCA fit (pre-PQ rotation)",
)
def q_pca_explained(spark: SparkSession, sf_dir: str) -> DataFrame:
    model = _pca_model(spark, sf_dir)
    return (
        model.filter(F.col("component") >= 0)
        .select(
            "component",
            F.round(F.col("eigval"), 6).alias("eigval"),
            F.round(F.col("explained"), 6).alias("explained"),
        )
        .orderBy("component")
    )


@_register(
    "q_pca_whitened_norms",
    None,  # projection of an eigh-derived model: same non-SQL channel
    "whitened PCA projection served as pure Catalyst (model inlined "
    "as literals, k dot products over the bound centered vector): "
    "per-label mean projected norm — the isotropy check run before "
    "product quantization",
    "similarity: PCA whitening transform",
)
def q_pca_whitened_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    proj = similarity.pca_transform(
        emb, _pca_model(spark, sf_dir), whiten=True
    )
    norm = F.sqrt(
        F.aggregate(
            F.col("pca"), F.lit(0.0), lambda s, x: s + x * x
        )
    )
    return (
        proj.select("label", norm.alias("_n"))
        .groupBy("label")
        .agg(
            F.round(F.avg("_n"), 6).alias("avg_norm"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("label")
    )


@_register(
    "q_neardup_clustering",
    r"""
    WITH s AS (
      SELECT doc_id,
             list_filter(
               list_distinct(string_split_regex(trim(lower(text)), '\s+')),
               x -> x <> '') AS tk
      FROM documents),
    p AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM s a JOIN s b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE)
            / (len(a.tk) + len(b.tk) - len(list_intersect(a.tk, b.tk)))
            >= 0.95),
    tri AS (
      SELECT x.id_a AS a, x.id_b AS b, y.id_b AS c
      FROM p x JOIN p y ON x.id_a = y.id_a AND x.id_b < y.id_b
      JOIN p z ON z.id_a = x.id_b AND z.id_b = y.id_b),
    corners AS (
      SELECT a AS id FROM tri UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri),
    tcnt AS (SELECT id, COUNT(*) AS triangles FROM corners GROUP BY id),
    deg AS (
      SELECT id, COUNT(*) AS degree FROM (
        SELECT id_a AS id FROM p UNION ALL SELECT id_b FROM p)
      GROUP BY id)
    SELECT d.id, CAST(d.degree AS BIGINT) AS degree,
           CAST(COALESCE(t.triangles, 0) AS BIGINT) AS triangles,
           ROUND(CASE WHEN d.degree >= 2
                 THEN COALESCE(t.triangles, 0)
                      / (d.degree * (d.degree - 1) / 2.0)
                 ELSE 0.0 END, 6) AS coefficient
    FROM deg d LEFT JOIN tcnt t ON t.id = d.id
    ORDER BY d.id
    """,
    "local clustering coefficients of the exact near-dup graph "
    "(canonical-orientation wedge join closes each triangle once, "
    "O(m^1.5) wedge rows): the clique-density diagnostic over "
    "duplication structure, brute-force-verified in DuckDB",
    "graph: triangle counting / clustering coefficients",
)
def q_neardup_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sample_dms_s3_kinesis_spark.operators import graph as _graph
    from sample_dms_s3_kinesis_spark.operators.dedup import (
        prefix_jaccard_pairs,
    )

    pairs = prefix_jaccard_pairs(
        t(spark, sf_dir, "documents"), threshold=0.95
    )
    return _graph.clustering_coefficients(pairs).orderBy("id")


@_register(
    "q_aggview_e2e",
    """
    SELECT * FROM (VALUES
      (CAST('2026-03-01' AS DATE), 'click', 3, 3,
       CAST(6.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
       CAST(4.0 AS DOUBLE), CAST(2.0 AS DOUBLE)),
      (CAST('2026-03-01' AS DATE), 'view', 1, 0,
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)),
      (CAST('2026-03-02' AS DATE), 'click', 1, 1,
       CAST(6.0 AS DOUBLE), CAST(6.0 AS DOUBLE),
       CAST(6.0 AS DOUBLE), CAST(6.0 AS DOUBLE))
    ) AS t(day, event_type, cnt, cnt_value, sum_value, min_value,
           max_value, avg_value)
    ORDER BY day, event_type
    """,
    "incremental materialized-view E2E: drain a deterministic two-"
    "batch event fixture through AggregateViewTask (per-batch partial "
    "aggregates, overwrite-idempotent, algebraic merge-at-read with "
    "avg derived post-merge) and return the exact per-day/type view; "
    "oracle = the hand-derived truth",
    "AggregateViewTask end-to-end (exact incremental rollups)",
)
def q_aggview_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from sample_dms_s3_kinesis_spark.streaming.aggregates import (
        AggregateViewTask,
    )

    d1 = [
        '{"event_id": 1, "ts": "2026-03-01T01:00:00Z", "user_id": 10, "event_type": "click", "value": 2.0}',
        '{"event_id": 2, "ts": "2026-03-01T02:00:00Z", "user_id": 11, "event_type": "click", "value": 4.0}',
        '{"event_id": 3, "ts": "2026-03-01T03:00:00Z", "user_id": 12, "event_type": "view", "value": null}',
        '{"event_id": 4, "ts": null, "user_id": 13, "event_type": "view", "value": 9.0}',
    ]
    d2 = [
        '{"event_id": 5, "ts": "2026-03-02T01:00:00Z", "user_id": 11, "event_type": "click", "value": 6.0}',
        '{"event_id": 6, "ts": "2026-03-01T04:00:00Z", "user_id": 14, "event_type": "click", "value": 0.0}',
    ]
    root = tempfile.mkdtemp(prefix="q_aggview_e2e_")
    drop = os.path.join(root, "drop")
    os.makedirs(drop)
    try:
        task = AggregateViewTask(
            spark,
            drop,
            os.path.join(root, "store"),
            checkpoint_dir=os.path.join(root, "ckpt"),
        )
        for n, lines in (("d1.jsonl", d1), ("d2.jsonl", d2)):
            with open(os.path.join(drop, n), "w") as f:
                f.write("\n".join(lines) + "\n")
            task.process_available()
        view = task.view().orderBy("day", "event_type")
        # materialize before the scratch parquet dirs are removed
        return spark.createDataFrame(view.collect(), view.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@_register(
    "q_time_travel_states",
    """
    SELECT * FROM (VALUES
      (1, 204, 'Software'),
      (2, 204, 'Hardware')
    ) AS t(version, Id, DepartmentName)
    ORDER BY version, Id
    """,
    "time-travel reads over the versioned target store: two CDC "
    "drains advance hr.department through two versions; read_version "
    "serves each historical state (the table-format snapshot story "
    "on the local store); oracle = the hand-derived per-version "
    "truth",
    "apply: versioned store time travel",
)
def q_time_travel_states(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from sample_dms_s3_kinesis_spark.apply import ParquetTargetStore
    from sample_dms_s3_kinesis_spark.catalog import (
        REFERENCE_TABLE_DEFINITION,
        Catalog,
    )
    from sample_dms_s3_kinesis_spark.sinks import MemorySink
    from sample_dms_s3_kinesis_spark.streaming.cdc_task import CdcTask

    root = tempfile.mkdtemp(prefix="q_time_travel_")
    try:
        cdc_dir = os.path.join(root, "changedata")
        os.makedirs(cdc_dir)
        catalog = Catalog.from_external_table_definition(
            REFERENCE_TABLE_DEFINITION
        )
        store = ParquetTargetStore(os.path.join(root, "target"))
        task = CdcTask(
            spark,
            catalog,
            cdc_dir,
            MemorySink(),
            store,
            event_time="2026-01-01T00:00:00.000Z",
            checkpoint_dir=os.path.join(root, "ckpt"),
        )
        batches = (
            "INSERT,department,hr,204,Software",
            "UPDATE,department,hr,204,Hardware",
        )
        for seq, body in enumerate(batches, start=1):
            with open(
                os.path.join(cdc_dir, f"cdc{seq:010d}.csv"), "w"
            ) as f:
                f.write(body + "\n")
            task.process_available()
        dept = next(t for t in catalog if t.name == "department")
        frames = []
        for v in store.table_history(dept.qualified_name):
            frames.append(
                store.read_version(spark, dept, v).select(
                    F.lit(v).alias("version"), "Id", "DepartmentName"
                )
            )
        out = frames[0]
        for fdf in frames[1:]:
            out = out.unionByName(fdf)
        out = out.orderBy("version", "Id")
        # materialize before the scratch dirs are removed
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@_register(
    "q_pq_whitened_recall",
    None,  # approximate-method calibration report (PQ + eigh model)
    "PCA-whitening × product-quantization composition calibration: "
    "recall@10 of raw-space PQ vs whitened-space PQ against the exact "
    "L2 top-10 — the measurement behind 'rotate before you quantize' "
    "(PQ subspaces assume isotropic residuals)",
    "similarity: PCA→PQ composition calibration",
)
def q_pq_whitened_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    emb = t(spark, sf_dir, "embeddings")
    qv = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    ]
    d2 = F.aggregate(
        F.zip_with(
            F.col("embedding").cast("array<double>"),
            F.array(*[F.lit(v) for v in qv]),
            lambda a, b: (a - b) * (a - b),
        ),
        F.lit(0.0),
        lambda s, x: s + x,
    )
    exact = {
        r["vec_id"]
        for r in emb.select("vec_id", d2.alias("_d"))
        .orderBy("_d", "vec_id")
        .limit(10)
        .collect()
    }

    def _recall(encoded, codebooks, query):
        got = {
            r["vec_id"]
            for r in similarity.pq_topk(
                encoded, codebooks, query, k=10
            ).collect()
        }
        return len(got & exact)

    cb = similarity.pq_train(emb, m=16, codes=32, iters=3)
    enc = similarity.pq_encode(emb, cb, m=16)
    raw_hits = _recall(enc, cb, qv)

    model = similarity.pca_fit(emb, n_components=64)
    rows = {r["component"]: r for r in model.collect()}
    mean = np.array(rows.pop(-1)["vec"])
    comps = np.array([rows[c]["vec"] for c in sorted(rows)])
    eig = np.array([rows[c]["eigval"] for c in sorted(rows)])
    qw = ((np.array(qv) - mean) @ comps.T) / np.sqrt(eig + 1e-9)
    embw = similarity.pca_transform(emb, model, whiten=True).select(
        "vec_id", F.col("pca").alias("embedding")
    )
    cbw = similarity.pq_train(embw, m=16, codes=32, iters=3)
    encw = similarity.pq_encode(embw, cbw, m=16)
    # NOTE: whitened-space L2 ranks differ from raw-space L2 by
    # design; recall vs the RAW exact top-10 measures what a user
    # retrieving raw-space neighbors through a whitened index gets
    white_hits = _recall(encw, cbw, [float(x) for x in qw])

    return spark.createDataFrame(
        [
            ("pq_raw", raw_hits, 10, round(raw_hits / 10, 6)),
            ("pq_whitened", white_hits, 10, round(white_hits / 10, 6)),
        ],
        "method string, hits int, k int, recall double",
    )


@_register(
    "q_aggview_quantiles_e2e",
    """
    SELECT * FROM (VALUES
      (CAST('2026-03-01' AS DATE), 'click',
       CAST(0.5 AS DOUBLE), CAST(2.0 AS DOUBLE)),
      (CAST('2026-03-01' AS DATE), 'click',
       CAST(0.9 AS DOUBLE), CAST(4.0 AS DOUBLE)),
      (CAST('2026-03-02' AS DATE), 'click',
       CAST(0.5 AS DOUBLE), CAST(6.0 AS DOUBLE)),
      (CAST('2026-03-02' AS DATE), 'click',
       CAST(0.9 AS DOUBLE), CAST(6.0 AS DOUBLE))
    ) AS t(day, event_type, q, est)
    ORDER BY day, event_type, q
    """,
    "incremental quantile-store E2E: the materialized-view task with "
    "quantiles=True drains the two-batch fixture, each batch landing "
    "its own bottom-k sample; quantile_view merges (pool + re-keep) "
    "and serves type-1 empirical quantiles — with k above the fixture "
    "size the sample is the full distribution, so the oracle is the "
    "hand-derived exact quantile (null-value groups absent)",
    "AggregateViewTask quantile store end-to-end",
)
def q_aggview_quantiles_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from sample_dms_s3_kinesis_spark.streaming.aggregates import (
        AggregateViewTask,
    )

    d1 = [
        '{"event_id": 1, "ts": "2026-03-01T01:00:00Z", "user_id": 10, "event_type": "click", "value": 2.0}',
        '{"event_id": 2, "ts": "2026-03-01T02:00:00Z", "user_id": 11, "event_type": "click", "value": 4.0}',
        '{"event_id": 3, "ts": "2026-03-01T03:00:00Z", "user_id": 12, "event_type": "view", "value": null}',
        '{"event_id": 4, "ts": null, "user_id": 13, "event_type": "view", "value": 9.0}',
    ]
    d2 = [
        '{"event_id": 5, "ts": "2026-03-02T01:00:00Z", "user_id": 11, "event_type": "click", "value": 6.0}',
        '{"event_id": 6, "ts": "2026-03-01T04:00:00Z", "user_id": 14, "event_type": "click", "value": 0.0}',
    ]
    root = tempfile.mkdtemp(prefix="q_aggview_q_e2e_")
    drop = os.path.join(root, "drop")
    os.makedirs(drop)
    try:
        task = AggregateViewTask(
            spark,
            drop,
            os.path.join(root, "store"),
            quantiles=True,
            q_k=64,
            hash_family="md5",
            checkpoint_dir=os.path.join(root, "ckpt"),
        )
        for n, lines in (("d1.jsonl", d1), ("d2.jsonl", d2)):
            with open(os.path.join(drop, n), "w") as f:
                f.write("\n".join(lines) + "\n")
            task.process_available()
        out = task.quantile_view(qs=(0.5, 0.9)).orderBy(
            "day", "event_type", "q"
        )
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# Time-series similarity (PAA/SAX, Keogh-family reduced
# representations): the per-key bucketed series, z-normalization, and
# symbol quantization are all exact relational math, so DuckDB
# replicates the whole pipeline — including the top-k distances.
def _ts_series_sql(buckets: int) -> str:
    return f"""
    par AS (
      SELECT user_id,
             CAST(floor((epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01'))
                        * {buckets} / (epoch_us(TIMESTAMP '2024-01-31')
                                - epoch_us(TIMESTAMP '2024-01-01')))
                  AS INT) AS bk,
             avg(CAST(value AS DOUBLE)) AS v
      FROM events
      WHERE ts IS NOT NULL AND value IS NOT NULL
        AND ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-31'
      GROUP BY user_id, bk),
    grid AS (
      SELECT u.user_id, g.i, COALESCE(p.v, 0.0) AS v
      FROM (SELECT DISTINCT user_id FROM par) u
      CROSS JOIN (SELECT unnest(range({buckets})) AS i) g
      LEFT JOIN par p ON p.user_id = u.user_id AND p.bk = g.i),
    series AS (
      SELECT user_id, list(v ORDER BY i) AS s
      FROM grid GROUP BY user_id),
    z AS (
      SELECT user_id,
             list_transform(s, x -> CASE
               WHEN sqrt(greatest(
                      list_aggregate(list_transform(s, y -> y * y), 'sum')
                        / len(s)
                      - pow(list_aggregate(s, 'sum') / len(s), 2),
                      0.0)) > 0
               THEN (x - list_aggregate(s, 'sum') / len(s))
                    / sqrt(greatest(
                        list_aggregate(list_transform(s, y -> y * y),
                                       'sum') / len(s)
                        - pow(list_aggregate(s, 'sum') / len(s), 2),
                        0.0))
               ELSE 0.0 END) AS zs
      FROM series)
"""




@_register(
    "q_series_topk_users",
    f"""
    WITH {_ts_series_sql(30)},
    q AS (SELECT zs FROM z WHERE user_id = 0),
    d AS (
      SELECT z.user_id,
             sqrt(list_aggregate(
               list_transform(range(1, 31),
                 i -> pow(z.zs[i] - q.zs[i], 2)), 'sum')) AS dist
      FROM z CROSS JOIN q WHERE z.user_id <> 0)
    SELECT user_id, ROUND(dist, 6) AS dist
    FROM d ORDER BY dist, user_id LIMIT 10
    """,
    "time-series similarity search: top-10 users by z-normalized "
    "Euclidean distance between 30-bucket PAA daily-value series "
    "(Keogh PAA; one key-shuffle aggregate builds every series, "
    "TakeOrderedAndProject finishes) — whole pipeline replicated "
    "verbatim in DuckDB",
    "timeseries: PAA series top-k similarity",
)
def q_series_topk_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sample_dms_s3_kinesis_spark.operators import timeseries as _ts

    series = _ts.paa_series(
        t(spark, sf_dir, "events"),
        key_col="user_id",
        ts_col="ts",
        value_col="value",
        start="2024-01-01 00:00:00",
        end="2024-01-31 00:00:00",
        buckets=30,
    )
    return _ts.series_topk(series, 0, key_col="user_id", k=10)


@_register(
    "q_sax_words",
    f"""
    WITH {_ts_series_sql(8)},
    sax AS (
      SELECT user_id,
             list_aggregate(list_transform(zs, x ->
               CAST(CASE WHEN x >= 0.0 THEN 1 ELSE 0 END AS VARCHAR)),
               'string_agg', '') AS word
      FROM z)
    SELECT word, COUNT(*) AS n_users
    FROM sax GROUP BY word HAVING COUNT(*) >= 2
    ORDER BY n_users DESC, word
    """,
    "SAX motif buckets: users sharing an identical 8-symbol SAX word "
    "(alphabet 2, Gaussian breakpoints) — the equality-banded "
    "candidate join for near-identical behavior shapes, exact and "
    "engine-independent",
    "timeseries: SAX symbolic words",
)
def q_sax_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sample_dms_s3_kinesis_spark.operators import timeseries as _ts

    series = _ts.paa_series(
        t(spark, sf_dir, "events"),
        key_col="user_id",
        ts_col="ts",
        value_col="value",
        start="2024-01-01 00:00:00",
        end="2024-01-31 00:00:00",
        buckets=8,
    )
    words = series.select(
        "user_id",
        _ts.sax_symbols(
            _ts.znormalize_series(F.col("series")), alphabet=2
        ).alias("word"),
    )
    return (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .filter(F.col("n_users") >= 2)
        .orderBy(F.desc("n_users"), "word")
    )


@_register(
    "q_lm_backoff_score",
    r"""
    WITH tr AS (
      SELECT list_filter(string_split_regex(trim(lower(text)), '\s+'),
                         x -> x <> '') AS tk
      FROM documents WHERE doc_id % 2 = 0),
    big AS (
      SELECT tk[i] || ' ' || tk[i + 1] AS bg, COUNT(*) AS cbg
      FROM tr, UNNEST(range(1, len(tk))) AS r(i) GROUP BY 1),
    ctx AS (
      SELECT tk[i] AS w, COUNT(*) AS cc
      FROM tr, UNNEST(range(1, len(tk))) AS r(i) GROUP BY 1),
    uni AS (
      SELECT w, COUNT(*) AS cu FROM tr, UNNEST(tk) AS u(w) GROUP BY w),
    tot AS (SELECT CAST(SUM(cu) AS DOUBLE) AS n FROM uni),
    sc AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '\s+'),
                         x -> x <> '') AS tk
      FROM documents WHERE doc_id % 2 = 1),
    sbg AS (
      SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2,
             tk[i] || ' ' || tk[i + 1] AS bg
      FROM sc, UNNEST(range(1, len(tk))) AS r(i))
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(CASE WHEN b.cbg IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_backoff,
           ROUND(-SUM(CASE WHEN b.cbg IS NOT NULL
                           THEN log2(CAST(b.cbg AS DOUBLE) / c.cc)
                           ELSE log2(0.4 * CAST(COALESCE(u.cu, 1)
                                                AS DOUBLE) / t.n)
                      END) / COUNT(*), 6) AS cross_entropy
    FROM sbg s
    LEFT JOIN big b USING (bg)
    LEFT JOIN ctx c ON s.w1 = c.w
    LEFT JOIN uni u ON s.w2 = u.w
    CROSS JOIN tot t
    GROUP BY s.doc_id
    """,
    "held-out perplexity filtering: odd documents scored under a "
    "bigram LM trained on the even half, STUPID BACKOFF (Brants 2007) "
    "for the unseen bigrams a self-trained model never meets — "
    "alpha*c(w)/N with an OOV floor; n_backoff doubles as a "
    "domain-shift signal.  Training is one pass over the train "
    "corpus (context table re-groups the bigram aggregate); scoring "
    "left-joins the count tables, AQE-broadcast when small",
    "curation: cross-corpus LM scoring (stupid backoff)",
)
def q_lm_backoff_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sample_dms_s3_kinesis_spark.operators import curation as _cur

    docs = t(spark, sf_dir, "documents")
    return _cur.lm_score_against(
        docs.filter(F.col("doc_id") % 2 == 1),
        docs.filter(F.col("doc_id") % 2 == 0),
    )


@_register(
    "q_bloom_semijoin",
    """
    SELECT o.o_orderpriority,
           COUNT(*) AS n_orders,
           ROUND(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2)))
                 AS DOUBLE), 2) AS revenue
    FROM orders o
    WHERE o.o_custkey IN (SELECT c_custkey FROM customer
                          WHERE c_mktsegment = 'BUILDING')
    GROUP BY o.o_orderpriority
    """,
    "Bloom-prefiltered EXACT semi-join: the dim-key Bloom filter is a "
    "16Ki-row relational bit table broadcast into k shuffle-free hash "
    "joins, dropping non-matching fact rows BEFORE the first exchange "
    "(never a false negative); the left-semi verify tail makes the "
    "result exactly the plain semi-join the oracle runs — at 100 TB "
    "the filter changes where rows die, not what survives",
    "O23 generalized: Bloom-accelerated semi-join",
)
def q_bloom_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sample_dms_s3_kinesis_spark.operators import sketches as _sk

    orders = t(spark, sf_dir, "orders")
    dim = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("o_custkey"))
    )
    return (
        _sk.bloom_semijoin(orders, "o_custkey", dim)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _money(_sum_cents(_cents(F.col("o_totalprice")))).alias("revenue"),
        )
    )


@_register(
    "q_bloom_fpp",
    """
    WITH seeds AS (SELECT UNNEST(range(3)) AS s),
    dimk AS (SELECT DISTINCT c_custkey AS key FROM customer
             WHERE c_mktsegment = 'BUILDING' AND c_custkey IS NOT NULL),
    bits AS (
      SELECT DISTINCT
        CAST(('0x' || substr(md5(CAST(d.key AS VARCHAR) || ':' ||
              CAST(s.s AS VARCHAR)), 1, 8)) AS BIGINT) % 4096 AS p
      FROM dimk d CROSS JOIN seeds s),
    fact AS (SELECT o_orderkey, o_custkey FROM orders
             WHERE o_custkey IS NOT NULL),
    fp AS (
      SELECT f.o_orderkey, f.o_custkey,
        CAST(('0x' || substr(md5(CAST(f.o_custkey AS VARCHAR) || ':' ||
              CAST(s.s AS VARCHAR)), 1, 8)) AS BIGINT) % 4096 AS p
      FROM fact f CROSS JOIN seeds s),
    hits AS (
      SELECT fp.o_orderkey, COUNT(*) AS nhit
      FROM fp JOIN bits USING (p) GROUP BY fp.o_orderkey),
    probed AS (
      SELECT f.o_orderkey, f.o_custkey,
             COALESCE(h.nhit, 0) = 3 AS maybe
      FROM fact f LEFT JOIN hits h USING (o_orderkey)),
    marked AS (
      SELECT p.maybe, (d.key IS NOT NULL) AS member
      FROM probed p LEFT JOIN dimk d ON p.o_custkey = d.key)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_probed,
           CAST(SUM(CASE WHEN maybe THEN 1 ELSE 0 END) AS BIGINT)
             AS n_passed,
           CAST(SUM(CASE WHEN member THEN 1 ELSE 0 END) AS BIGINT)
             AS n_members,
           CAST(SUM(CASE WHEN maybe AND NOT member THEN 1 ELSE 0 END)
             AS BIGINT) AS n_false_pos,
           ROUND(CASE WHEN COUNT(*) >
                        SUM(CASE WHEN member THEN 1 ELSE 0 END)
                 THEN SUM(CASE WHEN maybe AND NOT member
                          THEN 1 ELSE 0 END)
                      / CAST(COUNT(*) -
                             SUM(CASE WHEN member THEN 1 ELSE 0 END)
                        AS DOUBLE)
                 ELSE 0.0 END, 6) AS measured_fpp,
           ROUND(POW(1.0 - EXP(-3.0 * (SELECT COUNT(*) FROM dimk)
                               / 4096.0), 3.0), 6) AS theoretical_fpp
    FROM marked
    """,
    "Bloom prefilter calibration: probed/passed/member/false-positive "
    "counts plus measured vs theoretical (1-e^{-kn/m})^k false-"
    "positive rate for the dim-key filter over the orders fact scan. "
    "Exact since r8: the md5 hash family (bit position = first-8-hex "
    "of md5('key:seed') mod n_bits) lets DuckDB rebuild the bit set "
    "and replay every probe verbatim; no-false-negative, merge==union "
    "and count-consistency stay pytest-pinned",
    "O17 generalized: sketch calibration report",
)
def q_bloom_fpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sample_dms_s3_kinesis_spark.operators import sketches as _sk

    orders = t(spark, sf_dir, "orders")
    dim = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("o_custkey"))
    )
    # an undersized filter so the measured rate is non-degenerate
    return _sk.bloom_fpp_report(
        orders, "o_custkey", dim, n_bits=4096, k=3, hash_family="md5"
    )


@_register(
    "q_video_frame_features",
    None,
    "video frame-sampling pipeline: REAL FVID demux (header parse + "
    "O(1) per-frame seek — sampled frames are the only rasters ever "
    "decoded), per-frame resize + 8-dim descriptor via mapInPandas "
    "fan-out inside the Arrow batch; undecodable assets emit one "
    "NULL-frame row for the exceptions channel (rows-only: synthetic "
    "binary fixture; kernels pinned vs numpy reference in pytest)",
    "multimodal columns: video frame sampling",
)
def q_video_frame_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sample_dms_s3_kinesis_spark.operators import multimodal

    assets = multimodal.synthetic_assets(spark, n=64)
    out = multimodal.extract_video_frames(
        assets.filter(F.col("media_type") == "video"), every_ms=500
    )
    return out.withColumn("feature", F.to_json("feature"))


@_register(
    "q_video_summary",
    None,
    "per-asset temporal video summary: header-only metadata walk "
    "(O(14 bytes) per payload), sampled-frame descriptor mean and "
    "|Δ mean-luma| motion score — Python only decodes; the temporal "
    "aggregation is pure Catalyst over the small feature frame, so "
    "media blobs never enter a shuffle (rows-only: synthetic binary)",
    "multimodal columns: video temporal features",
)
def q_video_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sample_dms_s3_kinesis_spark.operators import multimodal

    assets = multimodal.synthetic_assets(spark, n=64)
    out = multimodal.extract_video_features(
        assets.filter(F.col("media_type") == "video"), every_ms=500
    )
    return out.withColumn("mean_feature", F.to_json("mean_feature"))


@_register(
    "q_video_near_dup",
    None,
    "video near-duplicate pairs by 64-bit temporal luma fingerprint "
    "(frame under each of 64 duration fractions -> bit = luma above "
    "median; stable under fps resampling and small gain shifts) — "
    "the THIRD modality through the SAME chunk-banded hamming join "
    "as SimHash text and image/audio phash dedup (rows-only: "
    "synthetic binary; vs Python brute force in pytest)",
    "multimodal: video fingerprint near-dup",
)
def q_video_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sample_dms_s3_kinesis_spark.operators import multimodal

    assets = multimodal.synthetic_assets(spark, n=64).filter(
        F.col("media_type") == "video"
    )
    return multimodal.video_near_dup_pairs(assets, max_hamming=3)


@_register(
    "q_auc_metrics",
    """
    WITH scored AS (
      SELECT ((LENGTH(LOWER(text)) - LENGTH(REPLACE(LOWER(text), ' the ', ''))) // 5)
               * 1000000 // NULLIF(n_chars, 0) AS score,
             CASE WHEN lang IS NULL THEN NULL
                  WHEN lang = 'en' THEN 1 ELSE 0 END AS label
      FROM documents
    ),
    g AS (
      SELECT score,
             SUM(CASE WHEN score IS NOT NULL AND label IS NOT NULL THEN label ELSE 0 END) AS pos,
             SUM(CASE WHEN score IS NOT NULL AND label IS NOT NULL THEN 1 - label ELSE 0 END) AS neg,
             SUM(CASE WHEN score IS NULL OR label IS NULL THEN 1 ELSE 0 END) AS excl
      FROM scored GROUP BY score
    ),
    tot AS (
      SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
             CAST(SUM(neg) AS BIGINT) AS n_neg,
             CAST(SUM(excl) AS BIGINT) AS n_excluded
      FROM g
    ),
    cum AS (
      SELECT pos, neg,
             SUM(pos) OVER (ORDER BY score DESC) AS cum_pos,
             SUM(neg) OVER (ORDER BY score DESC) AS cum_neg,
             SUM(pos + neg) OVER (ORDER BY score DESC) AS cum_total
      FROM g WHERE pos + neg > 0
    ),
    contrib AS (
      SELECT SUM(pos * (2 * (tot.n_neg - cum_neg) + neg)) AS auc2,
             SUM(pos * cum_pos / cum_total) AS apnum
      FROM cum, tot
    )
    SELECT tot.n_pos, tot.n_neg, tot.n_excluded,
           CASE WHEN tot.n_pos > 0 AND tot.n_neg > 0
                THEN ROUND(CAST(auc2 AS DOUBLE) / (2.0 * tot.n_pos * tot.n_neg), 6)
           END AS roc_auc,
           CASE WHEN tot.n_pos > 0
                THEN ROUND(CAST(apnum AS DOUBLE) / tot.n_pos, 6)
           END AS avg_precision
    FROM tot, contrib
    """,
    "exact ROC-AUC + average precision over unique-score thresholds "
    "(tie-aware rank statistic / step-function PR area): label = "
    "lang='en', score = integer-scaled ' the '-hit rate; one groupBy "
    "collapses the corpus to O(distinct scores) rows before the "
    "cumulative window — the calibration report behind every "
    "quality-filter threshold choice",
    "O17 generalized: classifier/threshold calibration report",
)
def q_auc_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sample_dms_s3_kinesis_spark.operators.profiling import (
        binary_metrics_report,
    )

    docs = t(spark, sf_dir, "documents")
    scored = docs.select(
        F.expr(
            "((length(lower(text)) - length(replace(lower(text), ' the ', '')))"
            " div 5) * 1000000 div nullif(n_chars, 0)"
        ).alias("score"),
        F.when(F.col("lang").isNull(), F.lit(None).cast("int"))
        .when(F.col("lang") == "en", F.lit(1))
        .otherwise(F.lit(0))
        .alias("label"),
    )
    return binary_metrics_report(scored, score="score", label="label")


@_register(
    "q_mmr_rerank",
    """
    WITH RECURSIVE
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    cand AS (
      SELECT vec_id, ROUND(list_cosine_similarity(v, (SELECT qv FROM q)), 6) AS rel, v
      FROM e
      WHERE list_cosine_similarity(v, (SELECT qv FROM q)) IS NOT NULL
      ORDER BY rel DESC, vec_id ASC LIMIT 50
    ),
    sims AS (
      SELECT a.vec_id AS ida, b.vec_id AS idb,
             ROUND(list_cosine_similarity(a.v, b.v), 6) AS sim
      FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
    ),
    sel AS (
      SELECT * FROM (
        SELECT 1 AS step, c.vec_id, c.rel, CAST(0.0 AS DOUBLE) AS penalty,
               CAST(0.7 AS DOUBLE) * c.rel - CAST(0.3 AS DOUBLE) * CAST(0.0 AS DOUBLE) AS mmr_score,
               [c.vec_id] AS chosen
        FROM cand c
        ORDER BY CAST(0.7 AS DOUBLE) * c.rel DESC, c.vec_id ASC LIMIT 1
      )
      UNION ALL
      SELECT sel.step + 1, nxt.vec_id, nxt.rel, nxt.penalty, nxt.mmr_score,
             list_append(sel.chosen, nxt.vec_id)
      FROM sel, LATERAL (
         SELECT c.vec_id, c.rel,
                (SELECT MAX(s.sim) FROM sims s
                  WHERE s.ida = c.vec_id AND list_contains(sel.chosen, s.idb)) AS penalty,
                CAST(0.7 AS DOUBLE) * c.rel - CAST(0.3 AS DOUBLE) * (SELECT MAX(s.sim) FROM sims s
                  WHERE s.ida = c.vec_id AND list_contains(sel.chosen, s.idb)) AS mmr_score
         FROM cand c
         WHERE NOT list_contains(sel.chosen, c.vec_id)
         ORDER BY mmr_score DESC, c.vec_id ASC
         LIMIT 1
      ) nxt
      WHERE sel.step < 10
    )
    SELECT step, vec_id, rel AS relevance, penalty,
           ROUND(mmr_score, 6) AS mmr_score
    FROM sel
    """,
    "MMR diversified re-ranking (Carbonell-Goldstein greedy, λ=0.7) "
    "over the exact cosine top-50 pool for query vec_id=0: stage 1 is "
    "the distributed TakeOrderedAndProject pool + O(pool²) pairwise "
    "sims, stage 2 the pool-bounded greedy recurrence; sims rounded "
    "to 6 decimals before selection so both engines replay the "
    "identical recurrence (oracle = recursive CTE + LATERAL argmax)",
    "similarity: diversified re-ranking between ANN and a RAG context",
)
def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    qv = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    ]
    out = similarity.mmr_rerank(emb, qv, k=10, lambda_=0.7, pool=50)
    # raw doubles can differ in the last ulp across engines' expression
    # evaluators; the oracle rounds identically
    return out.withColumn("mmr_score", F.round("mmr_score", 6))


@_register(
    "q_dsir_weights",
    """
    WITH rtok AS (
      SELECT doc_id,
             unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
      FROM documents WHERE lang <> 'en'
    ),
    ttok AS (
      SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
      FROM documents WHERE lang = 'en'
    ),
    rb AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) % 256 AS b
      FROM rtok
    ),
    tb AS (
      SELECT CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) % 256 AS b
      FROM ttok
    ),
    rcnt AS (SELECT b, COUNT(*) AS cr FROM rb GROUP BY b),
    tcnt AS (SELECT b, COUNT(*) AS ct FROM tb GROUP BY b),
    tot AS (
      SELECT log2((SELECT COALESCE(SUM(cr), 0) FROM rcnt) + 256)
             - log2((SELECT COALESCE(SUM(ct), 0) FROM tcnt) + 256) AS cst
    ),
    perdoc AS (
      SELECT rb.doc_id, COUNT(*) AS n,
             SUM(log2(COALESCE(tcnt.ct, 0) + 1)
                 - log2(COALESCE(rcnt.cr, 0) + 1)) AS s
      FROM rb
      LEFT JOIN tcnt ON rb.b = tcnt.b
      LEFT JOIN rcnt ON rb.b = rcnt.b
      GROUP BY rb.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(p.n, 0) AS BIGINT) AS n_tokens,
           ROUND(COALESCE(p.s + p.n * (SELECT cst FROM tot), 0.0), 6)
             AS log_weight
    FROM (SELECT doc_id FROM documents WHERE lang <> 'en') d
    LEFT JOIN perdoc p ON d.doc_id = p.doc_id
    """,
    "DSIR importance weights (hashed-unigram log p_target − log p_raw, "
    "256 md5 buckets, add-one smoothing): raw = non-English documents "
    "scored toward the English target slice; the hashed feature space "
    "keeps both models O(buckets)-broadcastable at any corpus size — "
    "feeding weighted_sample completes importance resampling",
    "curation: DSIR importance weighting toward a target corpus",
)
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sample_dms_s3_kinesis_spark.operators.curation import dsir_weights

    docs = t(spark, sf_dir, "documents")
    raw = docs.filter(F.col("lang") != "en")
    target = docs.filter(F.col("lang") == "en")
    return dsir_weights(raw, target, buckets=256, hash_family="md5")


@_register(
    "q_kfold_report",
    """
    WITH folds AS (
      SELECT CAST(CAST(concat('0x', substr(md5(doc_id || ':0'), 1, 8)) AS BIGINT)
               % 5 AS INT) AS fold,
             lang, n_chars
      FROM documents
    )
    SELECT fold,
           COUNT(*) AS n_docs,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM folds GROUP BY fold
    """,
    "deterministic 5-fold cross-validation assignment (md5 digest "
    "family shared with hash_split — one reproducibility contract "
    "across the split surface): per-fold doc/lang/char totals prove "
    "folds are disjoint, exhaustive and replay-stable",
    "sampling: k-fold cross-validation splits",
)
def q_kfold_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sample_dms_s3_kinesis_spark.operators.sampling import kfold_assign

    docs = t(spark, sf_dir, "documents")
    return (
        kfold_assign(docs, id_col="doc_id", folds=5, seed=0)
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("lang").alias("n_langs"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


@_register(
    "q_lr_quality",
    None,
    "hashed-feature binary logistic regression (fastText/CCNet-style "
    "quality-classifier shape): full-batch distributed GD on the "
    "English-vs-rest label over 64 md5 buckets, then one scoring pass; "
    "per-lang prediction report (rows-only: iterative float training; "
    "training + scoring pinned against a pure-Python replica in "
    "pytest)",
    "classify: linear quality classifier, train + corpus scoring",
)
def q_lr_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sample_dms_s3_kinesis_spark.operators import classify

    docs = t(spark, sf_dir, "documents").withColumn(
        "label", (F.col("lang") == "en").cast("int")
    )
    model = classify.lr_train(
        docs,
        buckets=64,
        epochs=5,
        learning_rate=2.0,
        hash_family="md5",
    )
    scored = classify.lr_score(docs, model, buckets=64, hash_family="md5")
    return (
        scored.join(docs.select("doc_id", "lang", "label"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("predicted").alias("n_pred_en"),
            F.sum(
                (F.col("predicted") == F.col("label")).cast("long")
            ).alias("n_correct"),
            F.round(F.avg("prob"), 4).alias("mean_prob"),
        )
    )


# The driver's correctness gate evaluates only the FIRST 50 registered
# queries, in registration order — registration order IS the coverage
# budget.  Rounds 2-14 drove their 50-query windows all-green (zero
# oracle-bearing failures in CORRECTNESS_r02..r14.json).  Round 15
# executes the rotation the r14 verdict mandated: (1) all 6 queries
# registered during the r14 sessions (never driver-checked; each was
# verified exact green locally and by the r14 judge); (2) the 32
# remaining r9-stale rows; (3) the first 12 of the 50 r10-stale queries
# in registration order — after this window lands, zero queries are
# never-checked and no query's newest driver row is older than r10.
DRIVER_WINDOW: list[str] = [
    # --- never driver-checked: r14 session registrations (6) ---
    "q_text_normalize_unicode",
    "q_script_langid",
    "q_meta_robots_funnel",
    "q_meta_robots_e2e",
    "q_fetch_schedule_backoff",
    "q_nofollow_links",
    # --- r9-stale: the remaining 32 ---
    "q_neardup_clustering_lsh",
    "q_tumbling_window_events",
    "q_sessionize_events",
    "q_lsh_jaccard_verified",
    "q_multimodal_audio_features",
    "q_salted_join_agg",
    "q_approx_distinct_users",
    "q_null_handling",
    "q_binned_range_join",
    "q_embedding_centroids",
    "q_curation_pipeline",
    "q_winnowed_fingerprints",
    "q_decontaminate",
    "q_dup_ngram_stats",
    "q_redact_pii",
    "q_assign_shards",
    "q_dedup_canonical",
    "q_quality_score_filter",
    "q_corpus_composition",
    "q_dup_span_coverage",
    "q_vocab_topk",
    "q_embedding_quantize",
    "q_length_histogram",
    "q_remove_dup_spans",
    "q_pagerank_neardup",
    "q_html_extract",
    "q_url_domain_caps",
    "q_url_caps_incremental",
    "q_ranking_metrics",
    "q_hard_negatives",
    "q_line_boilerplate",
    "q_calibration_report",
    # --- r10-stale: first 12 of 50 in registration order ---
    "q_distinct_count",
    "q_rollup_orders",
    "q_cube_documents",
    "q_in_subquery",
    "q_scalar_subquery",
    "q_simhash_pairs",
    "q_ivf_persisted_topk",
    "q_winnowed_md5_fingerprints",
    "q_full_outer_nation_counts",
    "q_cross_join_region_status",
    "q_percentile_agg",
    "q_grouping_sets_orders",
]
# r16 rotation backlog, in priority order (never-checked beats stale):
# (a) every query registered during the r15 sessions (enumerate each
#     new registration here as it lands):
#     q_mime_funnel, q_mime_e2e_stats, q_langid_latin,
#     q_corpus_composition_nb, q_pdf_text_extract, q_pdf_funnel,
#     q_idn_hosts, q_idn_domain_caps, q_ingest_langid_e2e,
#     q_pdf_feature_matrix;
# (b) the 38 remaining r10-stale rows (q_pivot_status_counts,
#     q_string_functions, q_date_functions, q_two_phase_distinct,
#     q_mixture_sample, q_text_tfidf_topk, q_near_dedup_against,
#     q_simhash_pairs_against, q_embedding_near_dup_against,
#     q_nb_lang_classify, q_chunk_documents, q_winnowing_containment,
#     q_profile_documents, q_oov_rate, q_corpus_diff,
#     q_weighted_sample, q_bigram_lm_score, q_semantic_dedup,
#     q_skew_report, q_vocab_coverage, q_winsorize,
#     q_minhash_index_gate, q_weighted_sample_group,
#     q_prefix_jaccard_pairs, q_profile_drift, q_lsh_quality,
#     q_dedup_report, q_corr_stats, q_token_cosine_pairs,
#     q_simhash_quality, q_image_near_dup, q_audio_near_dup,
#     q_simhash_index_gate, q_prefix_jaccard_against,
#     q_token_cosine_against, q_mad_by_lang, q_pack_spans,
#     q_curation_pipeline_v2);
# (c) r11-stale families thereafter, rotating by age so no query's
#     latest driver row is older than three rounds.


_BY_NAME = {s.name: s for s in _SPECS}
_unknown = [n for n in DRIVER_WINDOW if n not in _BY_NAME]
if _unknown:  # fail at import, not at driver time
    raise RuntimeError(f"DRIVER_WINDOW names not registered: {_unknown}")
_window_set = set(DRIVER_WINDOW)
_SPECS = [_BY_NAME[n] for n in DRIVER_WINDOW] + [
    s for s in _SPECS if s.name not in _window_set
]

REGISTRY: dict[str, QuerySpec] = {s.name: s for s in _SPECS}
