"""Analytics core — TPC-H-style queries + time-series analytics over the
testdata star schema. These are the bench headliners and the proof that the
engine's general SQL path (joins, aggregates, windows) is Spark-idiomatic.

Numeric determinism convention (for the DuckDB oracle value-hash): monetary
doubles are cast to DECIMAL(18,2) **per row before summing** — decimal sums
are exact and order-independent, so Spark's partial aggregation and DuckDB's
single-threaded fold produce bit-identical results. Final outputs convert
back to double via round(cast(.. as double), n). Averages divide the exact
decimal sum (as double) by the count — one deterministic double division.

Scale notes: every query keeps filters ahead of joins (pushdown), broadcasts
dimension tables explicitly, and aggregates with map-side combine. No UDFs,
no collects.

The graph_* operators and basket_pairs share one co-purchase input:
:func:`_order_parts` (the distinct (order, part) incidence of lineitem),
:func:`_copurchase_pairs` (the order-key self-join, one row per order and
part pair pa < pb), :func:`_copurchase_edges` (the distinct edge list,
unpinned — callers whose edges feed several join sides pin it) and
:func:`_undirected` (both orientations). Their oracles share the ``op`` +
edges/pairs CTE fragment (``_EDGES_SQL``, ``_PAIRS_SQL``). graph_triangles
and graph_clustering share :func:`_node_triangles` (orientation choice,
broadcast-or-shuffled wedge joins, per-node counts). Sorted-array medians
come from :func:`timedb_spark.functions.arrays.sorted_median`.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from timedb_spark.functions.arrays import sorted_median, sorted_median_sql
from timedb_spark.functions.ordering import packed_lex
from timedb_spark.io.tables import load_table

_DEC = "decimal(18,2)"


def _d(col: str):
    return F.col(col).cast(_DEC)


# ---------------------------------------------------------------------------
# TPC-H Q1 — pricing summary report (adapted to the slim lineitem schema)
# ---------------------------------------------------------------------------


def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc = F.lit(1).cast(_DEC) - _d("l_discount")
    charge_mult = F.lit(1).cast(_DEC) + _d("l_tax")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(_d("l_quantity")).cast("double"), 2).alias("sum_qty"),
            F.round(F.sum(_d("l_extendedprice")).cast("double"), 2).alias("sum_base_price"),
            F.round(F.sum(_d("l_extendedprice") * disc).cast("double"), 4).alias("sum_disc_price"),
            F.round(F.sum(_d("l_extendedprice") * disc * charge_mult).cast("double"), 6).alias("sum_charge"),
            F.round(F.sum(_d("l_quantity")).cast("double") / F.count(F.lit(1)), 6).alias("avg_qty"),
            F.round(F.sum(_d("l_extendedprice")).cast("double") / F.count(F.lit(1)), 6).alias("avg_price"),
            F.round(F.sum(_d("l_discount")).cast("double") / F.count(F.lit(1)), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


TPCH_Q1_SQL = """
SELECT
    l_returnflag,
    l_linestatus,
    round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty,
    round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_base_price,
    round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 4) AS sum_disc_price,
    round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) * (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE), 6) AS sum_charge,
    round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_qty,
    round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_price,
    round(CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_disc,
    count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# co-purchase part graph — the input every graph_* operator shares
# ---------------------------------------------------------------------------


def _order_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (l_orderkey, l_partkey) incidence of lineitem."""
    return load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()


def _copurchase_pairs(li: DataFrame) -> DataFrame:
    """One (ok, pa, pb) row per order holding parts pa < pb, from a
    two-column (order, part) incidence frame — the lineitem self-join on
    the order key, bounded per order by its line count (O(k²) per basket,
    never O(n²) global)."""
    ok, pk = li.columns
    a = li.select(F.col(ok).alias("ok"), F.col(pk).alias("pa"))
    b = li.select(F.col(ok).alias("ok"), F.col(pk).alias("pb"))
    return a.join(b, "ok").filter(F.col("pa") < F.col("pb"))


def _copurchase_edges(li: DataFrame) -> DataFrame:
    """Distinct co-purchase part edges (pa, pb), pa < pb. Unpinned: a
    caller whose edge list feeds several join sides cuts the lineage
    itself, since Spark does not share common subplans across branches."""
    return _copurchase_pairs(li).select("pa", "pb").distinct()


def _undirected(edges: DataFrame) -> DataFrame:
    """Both orientations (pa, pb) and (pb, pa) of a pa < pb edge list."""
    return edges.unionByName(edges.select(F.col("pb").alias("pa"), F.col("pa").alias("pb")))


#: oracle side of :func:`_order_parts` / :func:`_copurchase_edges`
_OP_SQL = "op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)"


def _copurchase_sql(name: str, a: str, b: str) -> str:
    """``op`` plus the distinct edge CTE ``name(a, b)``, a < b."""
    return f"""{_OP_SQL},
{name} AS (
    SELECT DISTINCT a.l_partkey AS {a}, b.l_partkey AS {b}
    FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)"""


_EDGES_SQL = _copurchase_sql("edges", "pa", "pb")
_PAIRS_SQL = _copurchase_sql("pairs", "part_a", "part_b")


# ---------------------------------------------------------------------------
# TPC-H Q3 — shipping priority (3-way join, agg, top-N)
# ---------------------------------------------------------------------------

_Q3_CUT = "1995-03-15"


def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit(_Q3_CUT).cast("timestamp"))
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit(_Q3_CUT).cast("timestamp"))
    disc = F.lit(1).cast(_DEC) - _d("l_discount")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(_d("l_extendedprice") * disc).cast("double"), 4).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


TPCH_Q3_SQL = f"""
SELECT l_orderkey, o_orderdate, o_orderpriority,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 4) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '{_Q3_CUT} 00:00:00'
  AND l_shipdate  > TIMESTAMP '{_Q3_CUT} 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


# ---------------------------------------------------------------------------
# TPC-H Q5-style — revenue by nation (5-way join through the star schema)
# ---------------------------------------------------------------------------


def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1994-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    disc = F.lit(1).cast(_DEC) - _d("l_discount")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        # TPC-H Q5's "local supplier" twist: customer and supplier share a nation.
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(_d("l_extendedprice") * disc).cast("double"), 4).alias("revenue"))
    )


TPCH_Q5_SQL = """
SELECT n_name,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 4) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey  = c_custkey
JOIN supplier ON l_suppkey  = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE o_orderdate >= TIMESTAMP '1994-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-01-01 00:00:00'
  AND c_nationkey = s_nationkey
GROUP BY n_name
"""


# ---------------------------------------------------------------------------
# events_window — tumbling-window aggregation (batch twin of the streaming op)
# ---------------------------------------------------------------------------


def events_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window(F.col("ts").cast("timestamp"), "6 hours").start.alias("window_start"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.approx_count_distinct("user_id").alias("approx_users"),  # not oracle-compared
            F.round(F.sum(_d("value")).cast("double"), 2).alias("sum_value"),
        )
        .drop("approx_users")
    )


EVENTS_WINDOW_SQL = """
SELECT make_timestamp((epoch_us(ts) // 21600000000) * 21600000000) AS window_start,
       event_type,
       count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
FROM events
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# asof_join — enrich each event with the user's most recent prior order
# ---------------------------------------------------------------------------


def asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: for every event, the latest order of the same
    user (user_id ≡ custkey) with o_orderdate <= ts — the canonical TSDB
    enrichment. Spark-first formulation: union the two sides tagged by kind,
    one window pass carries the last order forward, no range-explosion join.

    At scale this is a single shuffle on (user_id) + an in-partition sort —
    the same cost profile as one repartition+sort, versus the naive
    inequality-join which Catalyst can only run as a broadcast-nested-loop.
    """
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("uid"), F.col("ts").cast("timestamp").alias("t"),
        F.col("event_id"), F.col("value"),
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("uid"), F.col("o_orderdate").cast("timestamp").alias("t"),
        F.col("o_orderkey"), F.col("o_totalprice"),
    )
    from pyspark.sql import Window

    tagged = orders.select(
        "uid", "t", F.lit(0).alias("kind"), F.col("o_orderkey"), F.col("o_totalprice"),
        F.lit(None).cast("long").alias("event_id"), F.lit(None).cast("double").alias("value"),
    ).unionByName(
        ev.select(
            "uid", "t", F.lit(1).alias("kind"), F.lit(None).cast("long").alias("o_orderkey"),
            F.lit(None).cast("double").alias("o_totalprice"), "event_id", "value",
        )
    )
    # Orders sort before events at the same instant (kind 0 < 1) → "<=" semantics.
    # o_orderkey tiebreaks same-timestamp orders deterministically (highest wins).
    w = (
        Window.partitionBy("uid")
        .orderBy("t", "kind", F.col("o_orderkey").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    enriched = tagged.select(
        "*",
        F.last("o_orderkey", ignorenulls=True).over(w).alias("last_orderkey"),
        F.last("o_totalprice", ignorenulls=True).over(w).alias("last_totalprice"),
    ).filter(F.col("kind") == 1)
    return enriched.select(
        F.col("event_id"),
        F.col("uid").alias("user_id"),
        F.col("value"),
        F.col("last_orderkey").alias("o_orderkey"),
        F.col("last_totalprice").alias("o_totalprice"),
    )


ASOF_JOIN_SQL = """
WITH ev AS (
    SELECT event_id, user_id, ts, value FROM events
),
best AS (
    SELECT event_id, o_orderkey, o_totalprice FROM (
        SELECT e.event_id, o.o_orderkey, o.o_totalprice,
               row_number() OVER (PARTITION BY e.event_id
                                  ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        FROM ev e JOIN orders o
          ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
    ) t WHERE rn = 1
)
SELECT e.event_id, e.user_id, e.value, b.o_orderkey, b.o_totalprice
FROM ev e
LEFT JOIN best b USING (event_id)
"""


# ---------------------------------------------------------------------------
# TPC-H Q6 — forecasting revenue change (pure filter + agg; the pushdown
# showcase: all three predicates reach the parquet scan)
# ---------------------------------------------------------------------------


def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(_d("l_extendedprice") * _d("l_discount")).cast("double"), 4).alias("revenue"))
    )


TPCH_Q6_SQL = """
SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE), 4) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


# ---------------------------------------------------------------------------
# TPC-H Q4 (adapted) — order-priority checking via EXISTS semi-join.
# The slim lineitem has no commit/receipt dates, so the inner predicate is
# "some returned line shipped in the quarter" — same left-semi shape.
# ---------------------------------------------------------------------------


def tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R").select("l_orderkey")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


TPCH_Q4_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# TPC-H Q10 — returned-item reporting (fact-fact join + broadcast dims,
# top-20 customers by lost revenue)
# ---------------------------------------------------------------------------


def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    disc = F.lit(1).cast(_DEC) - _d("l_discount")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_mktsegment", "n_name")
        .agg(F.round(F.sum(_d("l_extendedprice") * disc).cast("double"), 4).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


TPCH_Q10_SQL = """
SELECT c_custkey, c_name, c_mktsegment, n_name,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 4) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey  = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY c_custkey, c_name, c_mktsegment, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


# ---------------------------------------------------------------------------
# TPC-H Q18 — large-volume customers (agg-filter-join pipeline: the HAVING
# subquery becomes a first aggregation whose output is small enough to
# broadcast back against orders)
# ---------------------------------------------------------------------------

_Q18_MIN_QTY = 150


def tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_d("l_quantity")).alias("_qty"))
        .filter(F.col("_qty") > F.lit(_Q18_MIN_QTY).cast(_DEC))
        .select("l_orderkey", F.round(F.col("_qty").cast("double"), 2).alias("total_qty"))
    )
    return (
        orders.join(F.broadcast(big), orders.o_orderkey == big.l_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "total_qty")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


TPCH_Q18_SQL = f"""
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       round(CAST(total_qty AS DOUBLE), 2) AS total_qty
FROM orders
JOIN (SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING total_qty > {_Q18_MIN_QTY}) big ON o_orderkey = big.l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


# ---------------------------------------------------------------------------
# TPC-H Q14 (adapted) — promo revenue ratio. The testdata p_type vocabulary
# has no 'PROMO%' class; 'ECONOMY' plays its role. lineitem filters on the
# shipdate month before the join; part is broadcast.
# ---------------------------------------------------------------------------


def tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = _d("l_extendedprice") * (F.lit(1).cast(_DEC) - _d("l_discount"))
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    return j.agg(
        F.round(
            F.lit(100.0)
            * F.sum(F.when(F.col("p_type") == "ECONOMY", rev).otherwise(F.lit(0).cast(_DEC))).cast("double")
            / F.sum(rev).cast("double"),
            6,
        ).alias("promo_revenue_pct")
    )


TPCH_Q14_SQL = """
SELECT round(
         100.0 * CAST(sum(CASE WHEN p_type = 'ECONOMY'
                               THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))
                               ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
             / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE),
         6) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
"""


# ---------------------------------------------------------------------------
# TPC-H Q19 (adapted) — discounted revenue over a disjunction of
# (brand, size, quantity) predicate branches. The OR-of-ANDs sits on the
# joined row; part is broadcast, lineitem never shuffles.
# ---------------------------------------------------------------------------


def tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    b = F.col("p_brand")
    s = F.col("p_size")
    q = F.col("l_quantity")
    cond = (
        ((b == "Brand#12") & s.between(1, 15) & q.between(1, 11))
        | ((b == "Brand#23") & s.between(1, 25) & q.between(10, 20))
        | ((b == "Brand#34") & s.between(1, 35) & q.between(20, 30))
    )
    rev = _d("l_extendedprice") * (F.lit(1).cast(_DEC) - _d("l_discount"))
    return j.filter(cond).agg(F.round(F.sum(rev).cast("double"), 4).alias("revenue"))


TPCH_Q19_SQL = """
SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 4) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)
"""


# ---------------------------------------------------------------------------
# TPC-H Q22 (adapted) — global market opportunity: per market segment, the
# well-funded customers (acctbal above the segment's positive average) with
# no RECENT order (none since 2000-01-01 — every sf0.01 customer has ordered
# at least once, so the classic never-ordered form is vacuous here). The
# per-segment averages are a tiny aggregate broadcast back; "no recent
# order" is a left-anti join against the date-filtered orders keys (filter
# pushed to the scan before the anti join).
# ---------------------------------------------------------------------------


def tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
        .distinct()
    )
    seg_avg = (
        cust.filter(F.col("c_acctbal") > 0)
        .groupBy("c_mktsegment")
        .agg((F.sum(_d("c_acctbal")).cast("double") / F.count(F.lit(1))).alias("avg_bal"))
    )
    rich = cust.join(F.broadcast(seg_avg), on="c_mktsegment").filter(F.col("c_acctbal") > F.col("avg_bal"))
    no_orders = rich.join(orders, rich.c_custkey == orders.o_custkey, "left_anti")
    return no_orders.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("numcust"),
        F.round(F.sum(_d("c_acctbal")).cast("double"), 2).alias("totacctbal"),
    )


TPCH_Q22_SQL = """
WITH seg_avg AS (
    SELECT c_mktsegment,
           CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_bal
    FROM customer WHERE c_acctbal > 0 GROUP BY c_mktsegment
)
SELECT c.c_mktsegment,
       count(*) AS numcust,
       round(CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2) AS totacctbal
FROM customer c
JOIN seg_avg s ON c.c_mktsegment = s.c_mktsegment
WHERE c.c_acctbal > s.avg_bal
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
GROUP BY c.c_mktsegment
"""


def basket_pairs(spark: SparkSession, sf_dir: str, *, min_support: int = 2) -> DataFrame:
    """Frequent co-purchased part pairs (market-basket mining over
    lineitem): parts appearing in the same order, pair support counted
    across orders.

    Scale shape: the pair generator is a self-join on l_orderkey —
    co-partitioned, and bounded per order by the order's line count (≤7 in
    TPC-H), so the blow-up is O(k²) per basket, never O(n²) global. The
    deduped (order, part) frame shrinks the join inputs first; support
    filtering happens in the same final partial-agg pass.
    """
    pairs = _copurchase_pairs(_order_parts(spark, sf_dir))
    return (
        pairs.groupBy(F.col("pa").alias("part_a"), F.col("pb").alias("part_b"))
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= min_support)
    )


BASKET_PAIRS_SQL = f"""
WITH {_OP_SQL}
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS support
FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY 1, 2
HAVING count(*) >= 2
"""


def events_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping-window aggregation: 6 h windows sliding every 2 h, so each
    event lands in 3 overlapping windows (`F.window(ts, "6 hours",
    "2 hours")` — the Structured-Streaming window spec in batch form).

    Spark expands each row into its window memberships before the ONE
    shuffle (an Expand node, ×3 rows map-side — the partial aggs still
    combine before the exchange); the oracle mirrors the expansion with a
    3-element hop generator.
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.window(F.col("ts").cast("timestamp"), "6 hours", "2 hours").start.alias("window_start"),
        F.col("event_type"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(_d("value")).cast("double"), 2).alias("sum_value"),
    )


EVENTS_WINDOW_SLIDING_SQL = """
WITH hops AS (
    SELECT event_type, value,
           make_timestamp((epoch_us(ts) // 7200000000 - h.i) * 7200000000) AS window_start
    FROM events, (SELECT unnest(range(0, 3)) AS i) h
)
SELECT window_start, event_type,
       count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
FROM hops
GROUP BY 1, 2
"""


def events_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type transition matrix (first-order user-journey Markov chain):
    for every consecutive (prev → next) pair within a user's event stream,
    the count and the row-normalized transition probability.

    Shape: ONE window ``lag`` per user (fine-grained partitions, parallel
    sorts), then a map-side-combined count on the tiny (prev, next) grid;
    the per-prev totals come from a second aggregation of the GRID (25
    rows), not a second pass over events. Probability is an exact-integer
    count ratio rounded with the cross-engine-stable floor formula."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = ev.select(
        F.col("event_type").alias("next_type"), F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    grid = steps.groupBy("prev_type", "next_type").agg(F.count(F.lit(1)).alias("n"))
    totals = grid.groupBy("prev_type").agg(F.sum("n").alias("row_total"))
    out = grid.join(F.broadcast(totals), "prev_type")
    p = F.floor(F.col("n").cast("double") / F.col("row_total") * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return out.select("prev_type", "next_type", "n", p.alias("p_transition"))


EVENTS_MARKOV_SQL = """
WITH steps AS (
    SELECT event_type AS next_type,
           lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
    FROM events
),
grid AS (
    SELECT prev_type, next_type, count(*) AS n
    FROM steps WHERE prev_type IS NOT NULL
    GROUP BY prev_type, next_type
),
totals AS (SELECT prev_type, sum(n) AS row_total FROM grid GROUP BY prev_type)
SELECT g.prev_type, g.next_type, g.n,
       floor(CAST(g.n AS DOUBLE) / t.row_total * 1e6 + 0.5) / 1e6 AS p_transition
FROM grid g JOIN totals t USING (prev_type)
"""


def events_paths(spark: SparkSession, sf_dir: str, *, top_n: int = 25) -> DataFrame:
    """Top user-journey trigrams: the most common 3-step event-type paths
    (click→view→purchase, ...) with user reach — the "common paths" funnel
    exploration query. TWO lags share ONE per-user window sort (a single
    WindowExec pass), the path grid is tiny after the map-side-combined
    count, and the top-N is a TakeOrderedAndProject with a deterministic
    path tiebreak. Same single-sort posture as events_markov, one step
    deeper."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = ev.select(
        "user_id",
        F.lag("event_type", 2).over(w).alias("s1"),
        F.lag("event_type", 1).over(w).alias("s2"),
        F.col("event_type").alias("s3"),
    ).filter(F.col("s1").isNotNull())
    path = F.concat_ws(">", "s1", "s2", "s3")
    agg = steps.groupBy(path.alias("path")).agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("user_id").alias("n_users"),
    )
    return agg.orderBy(F.col("n").desc(), F.col("path")).limit(top_n)


EVENTS_PATHS_SQL = """
WITH steps AS (
    SELECT user_id,
           lag(event_type, 2) OVER w AS s1,
           lag(event_type, 1) OVER w AS s2,
           event_type AS s3
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT s1 || '>' || s2 || '>' || s3 AS path,
       count(*) AS n,
       count(DISTINCT user_id) AS n_users
FROM steps WHERE s1 IS NOT NULL
GROUP BY 1
ORDER BY n DESC, path
LIMIT 25
"""


def events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: pull the integer ``k`` out of the JSON
    ``props`` payload and aggregate per (event_type, k-decade) — the
    schema-on-read pattern for property bags. ``get_json_object`` is a
    JVM-side codegen'd path expression (no UDF); extraction + bucketing
    ride the scan, then ONE map-side-combined shuffle on the tiny grid. At
    100 TB prefer ``from_json`` with an explicit schema when several keys
    are pulled (one parse instead of one per path)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"), "value")
        .filter(F.col("k").isNotNull())
        # floor(k/10), not `k div 10`: Spark's div truncates toward zero while
        # DuckDB's // floors, so negative k would land in different decades.
        .groupBy("event_type", F.floor(F.col("k") / F.lit(10)).cast("long").alias("k_decade"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("k_sum"),
            F.round(F.sum(_d("value")).cast("double"), 2).alias("sum_value"),
        )
    )


EVENTS_JSON_SQL = """
SELECT event_type,
       CAST(json_extract_string(props, '$.k') AS BIGINT) // 10 AS k_decade,
       count(*) AS n,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
       round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
FROM events
WHERE json_extract_string(props, '$.k') IS NOT NULL
GROUP BY 1, 2
"""


_PR_ITERS = 3
_PR_SCALE = 1_000_000


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank over the co-purchase part graph (the
    iterative-propagation family member beyond dedup_clusters' connected
    components): rank flows along undirected co-purchase edges with 0.85
    damping for 3 synchronous iterations.

    Exact-integer arithmetic throughout — ranks are 1e6-scaled ints and the
    update is r' = 0.15·S + (17·Σ(r_u div deg_u)) div 20, so partial-sum
    ORDER never matters and the DuckDB oracle is bit-identical (float
    PageRank would drift in the low bits per partitioning). Scale shape per
    iteration: one co-partitioned join of the edge list with the rank table
    on src + one map-side-combined sum on dst — the degree table joins once
    outside the loop; the edge list never re-shuffles if the (src) hash
    partitioning is reused, which AQE preserves here. With many iterations
    at 100 TB, persist/checkpoint the degree-annotated edge list (and
    localCheckpoint ranks to truncate lineage); at 3 iterations the chained
    plan evaluates in one pass and a persist barrier measured net-negative."""
    edges = _undirected(_copurchase_edges(_order_parts(spark, sf_dir))).toDF("src", "dst")
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ed = edges.join(deg, "src")
    ranks = deg.select(F.col("src").alias("node"), F.lit(_PR_SCALE).cast("long").alias("r"))
    for _ in range(_PR_ITERS):
        contrib = ed.join(ranks, ed.src == ranks.node).select("dst", F.expr("r div deg").alias("c"))
        ranks = contrib.groupBy(F.col("dst").alias("node")).agg(
            (F.lit(150_000) + F.expr(f"(17 * sum(c)) div 20")).alias("r")
        )
    return ranks.select("node", F.col("r").alias("rank"))


def _pr_iter_sql(prev: str, out: str) -> str:
    return f"""
{out} AS (
    -- CAST: sum() widens to HUGEINT in DuckDB; keep every iteration's rank
    -- column BIGINT so the final hash matches Spark's bigint.
    SELECT e.dst AS node, CAST(150000 + (17 * sum(r.r // d.deg)) // 20 AS BIGINT) AS r
    FROM edges e
    JOIN deg d ON d.src = e.src
    JOIN {prev} r ON r.node = e.src
    GROUP BY e.dst
)"""


GRAPH_PAGERANK_SQL = f"""
WITH {_PAIRS_SQL},
edges AS (
    SELECT part_a AS src, part_b AS dst FROM pairs
    UNION
    SELECT part_b AS src, part_a AS dst FROM pairs
),
deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
r0 AS (SELECT src AS node, CAST({_PR_SCALE} AS BIGINT) AS r FROM deg),
{_pr_iter_sql("r0", "r1")},
{_pr_iter_sql("r1", "r2")},
{_pr_iter_sql("r2", "r3")}
SELECT node, r AS rank FROM r3
"""


def select_orientation(max_deg: int, n_edges: int, *, hub_factor: float = 16.0) -> str:
    """Pick the wedge orientation from two cheap graph stats.

    Under id-orientation a single hub of degree d can own ~d²/2 wedges; the
    enumeration is only safe when that term stays comparable to the O(m)
    edge volume. Degree orientation (Suri & Vassilvitskii, WWW'11) bounds
    total wedge volume at O(m^1.5) regardless of hubs, at the cost of three
    prep joins. Switch when max_deg² exceeds ``hub_factor``·m — i.e. the
    worst hub's potential wedges dominate the edge list itself."""
    return "degree" if max_deg * max_deg > hub_factor * max(n_edges, 1) else "id"


#: broadcast the edge list into the wedge + closing joins when it has at
#: most this many edges (~24 B/edge ⇒ ≲120 MB broadcast) — keeps the much
#: larger wedge stream pipelined instead of shuffled. Past this, shuffle
#: joins + degree orientation are the scale path.
_TRI_BROADCAST_EDGES = 5_000_000

#: Shuffled-hash build budget for the wedge/closing joins: edge rows per
#: shuffle partition. SHJ hash builds do NOT spill — at a FIXED partition
#: count the per-partition build grows linearly with the graph and
#: eventually throws "not enough memory to build hash map" (measured: the
#: 20x probe's 24M-edge graph over 32 partitions OOM'd the build). The
#: partition count is derived from the MEASURED edge count m — the same
#: planning-scalar pattern as auto-orientation — so the plan carries its
#: own scaling knob instead of inheriting spark.sql.shuffle.partitions'
#: static default. r14 (VERDICT r13 what's-wrong #2): halved 150k → 75k
#: (~5-7 MB per build) — at 150k the 20× probe's peak concurrent memory
#: (32 tasks × build+stream in ONE local JVM) still flirted with the
#: default 8 GB heap (reproducible only at 12 GB); 75k buys that margin
#: back for one extra round of shuffle-block count, which AQE coalescing
#: absorbs at small m (the count only departs from conf_parts past
#: conf_parts × 75k edges).
_SHJ_EDGES_PER_PART = 75_000


def _shj_parts(conf_parts: int, m: int) -> int:
    """Wedge/closing join partition count: never below the session's
    shuffle partitions, grows linearly with the edge count past
    ``conf_parts * _SHJ_EDGES_PER_PART`` edges."""
    return max(conf_parts, math.ceil(m / _SHJ_EDGES_PER_PART))




def _edge_stats(edges: DataFrame):
    """(max_deg, m) planning scalars off the edge list — the 2-scalar
    collect behind auto orientation and the broadcast-vs-shuffle choice
    (the same class of decision AQE makes from runtime statistics)."""
    return (
        edges.select(F.explode(F.array("pa", "pb")).alias("node"))
        .groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
        .agg(F.max("deg").alias("max_deg"), (F.sum("deg") / 2).cast("long").alias("m"))
        .collect()[0]
    )


def _node_triangles(edges: DataFrame, orient: str, stats, deg: DataFrame | None = None) -> DataFrame:
    """Per-node triangle counts (node, n_triangles) via oriented wedge
    enumeration — the shared core of :func:`graph_triangles` and
    :func:`graph_clustering`. Every triangle is generated by exactly ONE
    wedge at its lowest-rank corner (two equi-joins: wedge at the shared
    source + the closing oriented edge; never a cartesian), and its three
    corners count through one explode + map-side-combined count.
    ``orient`` is "id", "degree" or "auto"; ``stats`` holds the planning
    scalars ``max_deg`` and ``m`` (edge count). "auto" resolves with
    :func:`select_orientation` and broadcasts the edge list when it has
    at most ``_TRI_BROADCAST_EDGES`` edges; a forced orientation always
    takes the shuffled path. A caller that already built node degrees
    (graph_clustering's lcc pass) hands them in as ``deg`` (node, deg) so
    the degree path doesn't recompute them.

    Join strategy — the part that decides whether the plan survives scale:

    - ``broadcast_edges``: both the wedge leg and the closing edge
      broadcast, so the Σ outdeg² wedge stream lives inside one codegen
      pipeline and never shuffles (measured 30 s → 6.7 s at sf0.1).
    - otherwise (the 100 TB path): SHUFFLED HASH joins, hinted on the
      edge-list sides, never sort-merge. SMJ would feed the wedge stream
      (40× the edge count on this graph) through UnsafeExternalSorter; at
      20× sf0.1 that is ~1 B rows over 32 partitions, and the spill-merge
      phase (one read-ahead buffer per spill file × 32 concurrent tasks)
      collapsed superlinearly — 47× wall at 20× data, then OOM'd an 8 GB
      heap outright when re-run instrumented (r13 diagnosis of
      SCALEPROBE_r12_x20; the r12 "broadcast flip" hypothesis was wrong —
      m(10×) = 12 M was already past the 5 M broadcast bound, both probe
      scales ran SMJ). SHJ builds the per-partition hash from the EDGE
      side and STREAMS the wedge side, so no sorter ever materializes the
      quadratic stream. SHJ's own failure mode is the build: it cannot
      spill, so at a FIXED partition count a growing graph eventually
      throws "not enough memory to build hash map" (the first SHJ cut did
      exactly that at 20×). The join partition count is therefore derived
      from the MEASURED edge count ``m`` (``max(conf shuffle partitions,
      ceil(m / _SHJ_EDGES_PER_PART))``) — per-partition builds stay
      ~10-15 MB at any scale; measured post-fix ratios live in
      SCALEPROBE_r13_x20.json.
    """
    m = stats.m or 0
    broadcast_edges = False
    if orient == "auto":
        orient = select_orientation(stats.max_deg or 0, m)
        broadcast_edges = m <= _TRI_BROADCAST_EDGES
    if orient == "degree":
        if deg is None:
            deg = _undirected(edges).groupBy(F.col("pa").alias("node")).agg(F.count(F.lit(1)).alias("deg"))
        ranked = (
            edges.join(deg.select(F.col("node").alias("pa"), F.col("deg").alias("da")), "pa")
            .join(deg.select(F.col("node").alias("pb"), F.col("deg").alias("db")), "pb")
        )
        a_lower = (F.col("da") < F.col("db")) | ((F.col("da") == F.col("db")) & (F.col("pa") < F.col("pb")))
        o = ranked.select(
            F.when(a_lower, F.col("pa")).otherwise(F.col("pb")).alias("src"),
            F.when(a_lower, F.col("pb")).otherwise(F.col("pa")).alias("dst"),
            F.when(a_lower, F.col("db")).otherwise(F.col("da")).alias("dst_deg"),
            F.when(a_lower, F.col("pb")).otherwise(F.col("pa")).alias("dst_id"),
        )
        rank_cols = ("dst_deg", "dst_id")
    else:
        o = edges.select(F.col("pa").alias("src"), F.col("pb").alias("dst"), F.col("pb").alias("dst_id"))
        rank_cols = ("dst_id",)
    o1 = o.select("src", F.col("dst").alias("v"), *[F.col(c).alias(f"v_{c}") for c in rank_cols])
    o2 = o.select(F.col("src").alias("src2"), F.col("dst").alias("w"), *[F.col(c).alias(f"w_{c}") for c in rank_cols])
    v_lower = F.struct(*[F.col(f"v_{c}") for c in rank_cols]) < F.struct(*[F.col(f"w_{c}") for c in rank_cols])
    closing = o.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    if broadcast_edges:
        o2, closing = F.broadcast(o2), F.broadcast(closing)
        wedges = o1.join(o2, F.col("src") == F.col("src2")).filter(v_lower).select("src", "v", "w")
    else:
        n_parts = _shj_parts(
            int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions")), m
        )
        o1 = o1.repartition(n_parts, "src")
        o2 = o2.repartition(n_parts, "src2").hint("shuffle_hash")
        closing = closing.repartition(n_parts, "v", "w").hint("shuffle_hash")
        wedges = (
            o1.join(o2, F.col("src") == F.col("src2")).filter(v_lower)
            .select("src", "v", "w").repartition(n_parts, "v", "w")
        )
    return (
        wedges.join(closing, ["v", "w"])
        .select(F.explode(F.array("src", "v", "w")).alias("node"))
        .groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def graph_triangles(spark: SparkSession, sf_dir: str, *, top_n: int = 20, orient: str = "auto") -> DataFrame:
    """Triangle counting over the co-purchase part graph — the clustering/
    cohesion member of the graph family (pagerank = influence,
    dedup_clusters = connectivity, this = local density). Emits the top-N
    parts by triangle participation.

    Shape: ORIENTED wedge enumeration — every triangle is generated by
    exactly one wedge at its lowest-rank corner (two equi-joins: wedge at
    the shared source + the closing oriented edge; never a cartesian),
    per-node counts from ONE corner explode + map-side-combined count.
    ``orient`` picks the rank order:

    - ``"auto"`` (default): read two scalars off the edge list (max degree,
      edge count — one extra agg over the already-checkpointed edges) and
      let :func:`select_orientation` decide. A power-law co-purchase graph
      flips to degree orientation before its hubs detonate the wedge join;
      a uniform graph keeps the zero-prep id order. The 2-scalar collect is
      a planning stat, the same class of decision AQE makes from runtime
      statistics.
    - ``"id"``: the canonical a<b<c order — zero prep cost, wedge volume
      fine when degree is roughly uniform (true for the TPC-H-style
      co-purchase graph: parts are uniform across baskets).
    - ``"degree"``: Suri & Vassilvitskii's (WWW'11) degree orientation —
      edges point low-(deg,id) → high, bounding out-degrees by ~√m so
      wedge volume is O(m^1.5) even with hub nodes. This is the 100 TB
      path for power-law graphs; on this uniform graph it only adds its
      three prep joins, which is why auto doesn't always pick it.

    All orientations produce the identical triangle set (orientation
    changes enumeration, not membership — pinned in tests); exact integers
    ⇒ bit-identical to the canonical-order oracle.

    Join strategy: when auto mode knows the edge count and the edge list is
    broadcastable (≤ _TRI_BROADCAST_EDGES), BOTH the wedge leg and the
    closing edge broadcast — the wedge stream (Σ outdeg², 40× the edge
    count on this graph) then lives entirely inside one codegen pipeline:
    scan → broadcast wedge join → filter → broadcast closing join →
    explode → partial agg, with only the tiny per-node counts shuffling.
    Shuffling the wedges was the whole cost (measured 30 s → 6.7 s at
    sf0.1). Past the threshold (the 100 TB graph) it falls back to shuffle
    joins, where the degree orientation keeps wedge volume at O(m^1.5)."""
    # pinned: the edge list feeds the stats collect and every wedge/closing
    # side. The 2-scalar stats collect feeds orientation, the
    # broadcast-vs-SHJ choice AND the SHJ partition-count derivation, so a
    # forced orient still pays it (one tiny job over the pinned edges).
    edges = _copurchase_edges(_order_parts(spark, sf_dir)).localCheckpoint(eager=False)
    return (
        _node_triangles(edges, orient, _edge_stats(edges))
        .orderBy(F.col("n_triangles").desc(), F.col("node"))
        .limit(top_n)
    )


GRAPH_TRIANGLES_SQL = f"""
WITH {_EDGES_SQL},
tri AS (
    SELECT e1.pa AS x, e1.pb AS y, e2.pb AS z
    FROM edges e1
    JOIN edges e2 ON e2.pa = e1.pb
    JOIN edges e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
),
nodes AS (
    SELECT x AS node FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri
)
SELECT node, count(*) AS n_triangles
FROM nodes GROUP BY node
ORDER BY n_triangles DESC, node
LIMIT 20
"""


_PIVOT_TYPES = ["click", "view", "purchase", "signup", "error"]


def events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event-type pivot (long → wide): one row per day, one revenue
    column per event type. ``.pivot()`` with an EXPLICIT value list — the
    implicit form runs a distinct-scan first to discover columns, which is
    a whole extra pass at 100 TB; pinned values compile straight to
    conditional aggregates in ONE map-side-combined shuffle."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("day", "ts").alias("day"))
        .pivot("event_type", _PIVOT_TYPES)
        .agg(F.round(F.sum(_d("value")).cast("double"), 2))
        .select("day", *_PIVOT_TYPES)
    )


EVENTS_PIVOT_SQL = f"""
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       {", ".join(
           "round(CAST(sum(CASE WHEN event_type = '" + t + "' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE), 2) AS " + t
           for t in _PIVOT_TYPES)}
FROM events
GROUP BY 1
"""


def events_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL ranking-function family in one query: per event_type, users
    ranked by exact-decimal total spend with ``rank`` (gapped),
    ``dense_rank``, and ``ntile(4)`` spend quartiles; top-10 per type.

    ONE aggregation shuffle on the fine (type, user) key, then one window
    sort per type partition. Ties broken inside the ORDER BY by user_id so
    every ranking function is deterministic cross-engine."""
    ev = load_table(spark, sf_dir, "events")
    spend = ev.groupBy("event_type", "user_id").agg(
        F.round(F.sum(_d("value")).cast("double"), 2).alias("total_spend")
    )
    w = Window.partitionBy("event_type").orderBy(F.col("total_spend").desc(), F.col("user_id"))
    ranked = spend.select(
        "event_type",
        "user_id",
        "total_spend",
        F.rank().over(w).alias("spend_rank"),
        F.dense_rank().over(w).alias("spend_dense_rank"),
        F.ntile(4).over(w).alias("spend_quartile"),
    )
    return ranked.filter(F.col("spend_rank") <= 10)


EVENTS_RANK_SQL = """
WITH spend AS (
    SELECT event_type, user_id,
           round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_spend
    FROM events GROUP BY 1, 2
),
ranked AS (
    SELECT event_type, user_id, total_spend,
           rank()       OVER w AS spend_rank,
           dense_rank() OVER w AS spend_dense_rank,
           ntile(4)     OVER w AS spend_quartile
    FROM spend
    WINDOW w AS (PARTITION BY event_type ORDER BY total_spend DESC, user_id)
)
SELECT * FROM ranked WHERE spend_rank <= 10
"""


# ---------------------------------------------------------------------------
# RFM segmentation (recency / frequency / monetary quintiles)
# ---------------------------------------------------------------------------


def events_rfm(spark: SparkSession, sf_dir: str, *, exact: bool = False) -> DataFrame:
    """Classic RFM segmentation over purchase events: per user, seconds
    since their last purchase (anchored at the corpus max event time so the
    result is deterministic), purchase count, and rounded spend — then
    quintile scores 1..5 per dimension (5 = best) and the concatenated
    segment label ('555' = champions).

    Scale shape: one per-user aggregation over the purchase subset (map-side
    partial), the 1-row anchor broadcast in. Default scoring computes the
    four quintile cut-points per dimension with ``percentile_approx`` (one
    tiny aggregate — 12 doubles), broadcasts them back, and assigns scores
    with pure column expressions: ZERO global sorts, so the plan has no
    "No Partition Defined for Window" single-task stage and survives 10⁸
    users. ``exact=True`` keeps the engine-stable ``ntile`` path (three
    unpartitioned windows over the |users|-sized aggregate, ties broken by
    user_id) for the DuckDB oracle.

    Semantics note (the two modes intentionally DIVERGE under ties): cut-point
    scores are quantile-THRESHOLD scores — every user with the same value gets
    the same score, and on heavily tied/skewed data the cuts can repeat (e.g.
    frequency cuts [1,1,2,3]) so some score values are never assigned.
    ``ntile`` instead guarantees 5 near-equal buckets by splitting ties via
    the user_id tiebreak. The pin test (tests/test_analytics.py) asserts the
    two modes agree wherever a value is strictly between distinct cut-points
    and documents the tie divergence.
    """
    ev = load_table(spark, sf_dir, "events")
    anchor = ev.agg(F.max(F.unix_micros(F.col("ts"))).alias("anchor_us"))
    per_user = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.max(F.unix_micros(F.col("ts"))).alias("last_us"),
            F.count(F.lit(1)).alias("frequency"),
            # exact DECIMAL(18,2) fold, not a float sum: purchase values are
            # 2-dp money, a raw double Σ is partial-order-sensitive across
            # engines (the events_srm r8 finding), and monetary feeds the
            # quintile ORDER BY where a 1-ulp flip reassigns segments.
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("monetary"),
        )
        .join(F.broadcast(anchor))
        .select(
            "user_id",
            F.expr("(anchor_us - last_us) div 1000000").alias("recency_s"),
            "frequency",
            "monetary",
        )
    )
    if exact:
        # ascending "badness" orderings: ntile 5 = most recent / most
        # frequent / highest spend. All run over the per-user aggregate,
        # not the events. Monetary is rounded BEFORE ranking so both
        # engines rank identical doubles.
        r_w = Window.orderBy(F.desc("recency_s"), F.asc("user_id"))
        f_w = Window.orderBy(F.asc("frequency"), F.asc("user_id"))
        m_w = Window.orderBy(F.asc("monetary"), F.asc("user_id"))
        scored = per_user.select(
            "user_id",
            "recency_s",
            "frequency",
            "monetary",
            F.ntile(5).over(r_w).alias("r_score"),
            F.ntile(5).over(f_w).alias("f_score"),
            F.ntile(5).over(m_w).alias("m_score"),
        )
    else:
        # cut-point mode: percentile_approx(p=[.2,.4,.6,.8]) per dimension
        # in ONE aggregate row, broadcast-joined back; score = 1 + #cuts
        # strictly below the value (recency inverted: lower = better = 5).
        probs = F.array(*[F.lit(p) for p in (0.2, 0.4, 0.6, 0.8)])
        cuts = per_user.agg(
            F.percentile_approx(F.col("recency_s").cast("double"), probs, 10000).alias("r_cuts"),
            F.percentile_approx(F.col("frequency").cast("double"), probs, 10000).alias("f_cuts"),
            F.percentile_approx(F.col("monetary"), probs, 10000).alias("m_cuts"),
        )

        def _score(value_col: str, cuts_col: str, *, invert: bool) -> F.Column:
            rank = F.lit(1) + F.aggregate(
                F.col(cuts_col),
                F.lit(0),
                lambda acc, c: acc + F.when(F.col(value_col).cast("double") > c, 1).otherwise(0),
            )
            return (F.lit(6) - rank) if invert else rank

        scored = (
            per_user.join(F.broadcast(cuts))
            .select(
                "user_id",
                "recency_s",
                "frequency",
                "monetary",
                _score("recency_s", "r_cuts", invert=True).alias("r_score"),
                _score("frequency", "f_cuts", invert=False).alias("f_score"),
                _score("monetary", "m_cuts", invert=False).alias("m_score"),
            )
        )
    return scored.withColumn(
        "segment",
        F.concat(F.col("r_score").cast("string"), F.col("f_score").cast("string"), F.col("m_score").cast("string")),
    )


EVENTS_RFM_SQL = """
WITH anchor AS (SELECT max(epoch_us(ts)) AS anchor_us FROM events),
per_user AS (
    SELECT user_id,
           (anchor_us - max(epoch_us(ts))) // 1000000 AS recency_s,
           count(*) AS frequency,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS monetary
    FROM events, anchor
    WHERE event_type = 'purchase'
    GROUP BY user_id, anchor_us
)
SELECT user_id, recency_s, frequency, monetary,
       ntile(5) OVER (ORDER BY recency_s DESC, user_id) AS r_score,
       ntile(5) OVER (ORDER BY frequency ASC, user_id) AS f_score,
       ntile(5) OVER (ORDER BY monetary ASC, user_id) AS m_score,
       ntile(5) OVER (ORDER BY recency_s DESC, user_id) || ntile(5) OVER (ORDER BY frequency ASC, user_id) || ntile(5) OVER (ORDER BY monetary ASC, user_id) AS segment
FROM per_user
"""


# ---------------------------------------------------------------------------
# A/B experiment analysis (two-proportion z-test over event conversions)
# ---------------------------------------------------------------------------


_ABTEST_VALUE_MIN = 100.0


def events_abtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment readout: users split into variants by ``user_id % 2``
    (the deterministic stand-in for an assignment column), conversion =
    "has at least one purchase of value ≥ 100" (a predicate with
    non-degenerate rates at every SF — bare "any purchase" converts ~100%
    of the testdata and the pooled variance collapses to 0). Emits
    per-variant user/converter counts and rates plus the pooled
    two-proportion z statistic — the standard significance readout an
    analytics user runs daily; z is NULL when the pooled rate is 0 or 1
    (no variance — both engines agree instead of dividing by zero).

    Scale shape: ONE pass — per-user conversion flag via a conditional max
    inside a user-grained aggregate (map-side partial), then a 2-row
    variant rollup and a 1-row cross-variant combine. Counts are exact
    integers; the only float math is the final rates/z (rounded to 6,
    matching the oracle). No distinct-count shuffle: users are already the
    grain of the first aggregate."""
    ev = load_table(spark, sf_dir, "events")
    conv = (F.col("event_type") == "purchase") & (F.col("value") >= _ABTEST_VALUE_MIN)
    per_user = ev.groupBy("user_id").agg(
        F.max(F.when(conv, 1).otherwise(0)).alias("converted")
    )
    per_variant = (
        per_user.groupBy((F.col("user_id") % 2).alias("variant"))
        .agg(F.count(F.lit(1)).alias("n_users"), F.sum("converted").alias("n_conv"))
    )
    a = per_variant.filter(F.col("variant") == 0).select(
        F.col("n_users").alias("n_a"), F.col("n_conv").alias("conv_a")
    )
    b = per_variant.filter(F.col("variant") == 1).select(
        F.col("n_users").alias("n_b"), F.col("n_conv").alias("conv_b")
    )
    j = a.join(F.broadcast(b))
    p_a = F.col("conv_a") / F.col("n_a")
    p_b = F.col("conv_b") / F.col("n_b")
    pool = (F.col("conv_a") + F.col("conv_b")) / (F.col("n_a") + F.col("n_b"))
    var = pool * (1 - pool) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
    z = F.when(var > 0, (p_b - p_a) / F.sqrt(var))
    return j.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        F.round(p_a, 6).alias("rate_a"),
        F.round(p_b, 6).alias("rate_b"),
        F.round(z, 6).alias("z_score"),
    )


EVENTS_ABTEST_SQL = f"""
WITH per_user AS (
    SELECT user_id,
           max(CASE WHEN event_type = 'purchase' AND value >= {_ABTEST_VALUE_MIN} THEN 1 ELSE 0 END) AS converted
    FROM events GROUP BY user_id
),
pv AS (
    SELECT user_id % 2 AS variant, count(*) AS n_users, sum(converted) AS n_conv
    FROM per_user GROUP BY user_id % 2
),
j AS (
    SELECT a.n_users AS n_a, CAST(a.n_conv AS BIGINT) AS conv_a,
           b.n_users AS n_b, CAST(b.n_conv AS BIGINT) AS conv_b
    FROM (SELECT * FROM pv WHERE variant = 0) a, (SELECT * FROM pv WHERE variant = 1) b
),
v AS (
    SELECT *,
           (CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
           * (1 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
           * (1.0 / n_a + 1.0 / n_b) AS var
    FROM j
)
SELECT n_a, conv_a, n_b, conv_b,
       round(CAST(conv_a AS DOUBLE) / n_a, 6) AS rate_a,
       round(CAST(conv_b AS DOUBLE) / n_b, 6) AS rate_b,
       round(CASE WHEN var > 0
                  THEN (CAST(conv_b AS DOUBLE) / n_b - CAST(conv_a AS DOUBLE) / n_a) / sqrt(var)
             END, 6) AS z_score
FROM v
"""


#: users whose last activity falls within this many days of the corpus
#: end-of-observation are right-CENSORED (still alive), not churned
_KM_CENSOR_DAYS = 3
_US_PER_DAY = 86_400_000_000


def events_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival estimate of user lifetime — the
    churn/retention curve actuarially corrected for right-censoring
    (users still active at the end of the observed window must NOT count
    as churned at their current age; naive retention curves do exactly
    that). Complements events_cohort's calendar-grid retention.

    Lifetime = whole days between a user's first and last event; a user is
    censored when their last event falls within ``_KM_CENSOR_DAYS`` of the
    corpus max timestamp. At each distinct lifetime t (ascending):
    S(t) = Π_{u ≤ t} (n_u − d_u)/n_u with n_u = users at risk (lifetime
    ≥ u), d_u = churn events at u — the standard product-limit estimator
    (censored users leave the risk set but contribute no factor).

    Scale shape: per-user span = one groupBy(user_id); the corpus max is a
    broadcast 1-row scalar; everything after runs on the per-LIFETIME
    aggregate, whose cardinality is bounded by the observation window in
    days (≤ a few thousand rows at ANY data scale) — so the global window
    and the single collected array are planning-sized, not data-sized.
    Determinism: lifetimes/counts are exact integers (epoch-µs integer
    div); the product folds in ascending-t order over a sorted array via
    ``F.aggregate`` / ``list_reduce`` — identical double-op order in both
    engines — then floor-scales to 6 dp.
    """
    ev = load_table(spark, sf_dir, "events")
    spans = ev.groupBy("user_id").agg(
        F.unix_micros(F.min("ts")).alias("f_us"), F.unix_micros(F.max("ts")).alias("l_us")
    )
    gm = ev.agg(F.unix_micros(F.max("ts")).alias("gm_us"))
    u = spans.crossJoin(F.broadcast(gm)).select(
        # floor (not cast): Spark's double->long cast truncates, DuckDB's
        # rounds — floor of the exact-integer-valued double agrees everywhere
        F.floor((F.col("l_us") - F.col("f_us")) / F.lit(_US_PER_DAY)).alias("t"),
        F.when(
            F.col("l_us") >= F.col("gm_us") - F.lit(_KM_CENSOR_DAYS * _US_PER_DAY), F.lit(0)
        ).otherwise(F.lit(1)).alias("ev"),
    )
    g = u.groupBy("t").agg(
        F.sum("ev").alias("d"), F.sum(F.lit(1) - F.col("ev")).alias("c")
    )
    # bounded: runs over the distinct-event-time aggregate, not raw events
    w = Window.orderBy(F.desc("t"))
    r = g.withColumn("n", F.sum(F.col("d") + F.col("c")).over(w))
    one = r.agg(
        F.array_sort(F.collect_list(F.struct("t", "d", "c", "n"))).alias("arr")
    )
    ex = one.select("arr", F.posexplode("arr").alias("i", "r"))
    surv = F.aggregate(
        F.slice("arr", 1, F.col("i") + 1),
        F.lit(1.0),
        lambda acc, x: acc * ((x["n"] - x["d"]).cast("double") / x["n"].cast("double")),
    )
    return ex.select(
        F.col("r")["t"].alias("duration_days"),
        F.col("r")["n"].alias("n_risk"),
        F.col("r")["d"].alias("n_events"),
        F.col("r")["c"].alias("n_censored"),
        (F.floor(surv * 1e6) / 1e6).alias("km_survival"),
    )


EVENTS_SURVIVAL_SQL = f"""
WITH spans AS (
    SELECT user_id, epoch_us(min(ts)) AS f_us, epoch_us(max(ts)) AS l_us
    FROM events GROUP BY user_id
),
gm AS (SELECT epoch_us(max(ts)) AS gm_us FROM events),
u AS (
    SELECT (l_us - f_us) // {_US_PER_DAY} AS t,
           CASE WHEN l_us >= gm_us - {_KM_CENSOR_DAYS * _US_PER_DAY} THEN 0 ELSE 1 END AS ev
    FROM spans, gm
),
g AS (
    SELECT t, CAST(sum(ev) AS BIGINT) AS d, CAST(sum(1 - ev) AS BIGINT) AS c
    FROM u GROUP BY t
),
r AS (SELECT t, d, c, CAST(sum(d + c) OVER (ORDER BY t DESC) AS BIGINT) AS n FROM g),
one AS (
    SELECT list_sort(list(struct_pack(t := t, d := d, c := c, n := n))) AS arr FROM r
),
ex AS (
    SELECT arr, unnest(arr) AS rr, unnest(range(1, len(arr) + 1)) AS i FROM one
)
SELECT rr.t AS duration_days, rr.n AS n_risk, rr.d AS n_events, rr.c AS n_censored,
       floor(list_reduce(
           list_prepend(1.0, list_transform(arr[1:i],
               x -> CAST(x.n - x.d AS DOUBLE) / CAST(x.n AS DOUBLE))),
           (a, b) -> a * b) * 1e6) / 1e6 AS km_survival
FROM ex
"""


#: fixed-point scale for the resource-allocation score: each shared
#: neighbor v contributes the exact integer 10^12 div deg(v), so the
#: per-pair sum is order-independent (no float accumulation anywhere)
_RA_SCALE = 10**12


#: default wedge-volume budget for graph_link_predict's middle-degree cap:
#: the self-join may emit at most this many candidate wedge rows. Sized so
#: the sf0.1 sweep runs in the graph_triangles band while keeping ~an order
#: of magnitude more wedges than the top-20 needs; at 100 TB the SAME budget
#: still bounds the join output absolutely — the scale guarantee is the
#: budget, the cap is just how it's enforced.
_RA_WEDGE_BUDGET = 30_000_000


def _ra_middle_cap(deg: DataFrame, wedge_budget: int) -> int:
    """Largest degree ceiling whose admitted wedge volume Σ_{deg(v)≤cap}
    deg(v)² fits the budget — cumulative by ascending degree CLASS, so the
    choice is deterministic and reproducible in one SQL window. On a
    power-law graph this excises exactly the hub middles (the ones whose
    1/deg contribution is ~0 anyway — Zhou et al.'s discount rationale); on
    a near-uniform graph it bounds the self-join volume outright. 1-row
    collect over the distinct-degree histogram — bounded by construction
    (same class as graph_triangles' orientation-stats collect)."""
    from pyspark.sql import Window

    by_deg = deg.groupBy("deg").agg(F.sum(F.col("deg") * F.col("deg")).alias("w2"))
    cum = by_deg.withColumn("cum", F.sum("w2").over(Window.orderBy("deg")))
    row = cum.agg(
        F.max(F.when(F.col("cum") <= F.lit(wedge_budget), F.col("deg"))).alias("cap"),
        F.min("deg").alias("dmin"),
    ).collect()[0]
    # Degenerate guards: empty graph → 0 (nothing to filter); even the
    # smallest degree class alone overruns the budget → admit it anyway
    # (an empty prediction helps nobody; the class is the minimum work).
    if row["dmin"] is None:
        return 0
    return int(row["cap"]) if row["cap"] is not None else int(row["dmin"])


def _link_predict_pairs(
    li: DataFrame,
    *,
    top_n: int,
    max_middle_degree: int | None,
    wedge_budget: int | None,
) -> DataFrame:
    """Core RA-index link prediction over an (ok, pk) order↔part incidence
    frame — factored from graph_link_predict so tests can plant hubs."""
    edges = _copurchase_edges(li).localCheckpoint(eager=False)
    und = _undirected(edges)
    deg = und.groupBy(F.col("pa").alias("node")).agg(F.count(F.lit(1)).alias("deg"))
    cap = max_middle_degree
    if cap is None and wedge_budget is not None:
        cap = _ra_middle_cap(deg, wedge_budget)
    m = und.select(F.col("pa").alias("v"), F.col("pb").alias("nb")).join(
        F.broadcast(deg.withColumnRenamed("node", "v")), "v"
    )
    if cap is not None:
        m = m.filter(F.col("deg") <= F.lit(cap))
    m = m.withColumn("contrib", F.expr(f"{_RA_SCALE} div deg"))
    m2 = m.select(F.col("v").alias("v2"), F.col("nb").alias("w"))
    n_edges = edges.count()
    if n_edges <= _TRI_BROADCAST_EDGES:
        m2 = F.broadcast(m2)
    pairs = (
        m.join(m2, (F.col("v") == F.col("v2")) & (F.col("nb") < F.col("w")))
        .groupBy(F.col("nb").alias("u"), "w")
        .agg(F.count(F.lit(1)).alias("cn"), F.sum("contrib").alias("ra_q"))
    )
    nonadj = pairs.join(
        edges, (pairs["u"] == edges["pa"]) & (pairs["w"] == edges["pb"]), "left_anti"
    )
    return (
        nonadj.select(
            "u", "w", "cn",
            (F.floor(F.col("ra_q").cast("double") / F.lit(float(_RA_SCALE)) * 1e6) / 1e6).alias("ra_score"),
            "ra_q",
        )
        .orderBy(F.col("ra_q").desc(), "u", "w")
        .limit(top_n)
        .drop("ra_q")
    )


def graph_link_predict(
    spark: SparkSession,
    sf_dir: str,
    *,
    top_n: int = 20,
    max_middle_degree: int | None = None,
    wedge_budget: int | None = _RA_WEDGE_BUDGET,
) -> DataFrame:
    """Link prediction over the co-purchase part graph via the
    Resource-Allocation index (Zhou, Lü & Zhang, EPJ B 2009) — for each
    non-adjacent pair (u, w), score = Σ_{v ∈ N(u)∩N(v)} 1/deg(v), the
    common-neighbors signal degree-discounted so hub intermediaries count
    less. The "which parts will be bought together next" / recommendation
    candidate generator, completing the graph family (pagerank = influence,
    triangles = cohesion, this = missing-edge prediction).

    Shape: the same two-equi-join wedge enumeration as graph_triangles —
    candidate pairs are generated ONLY through shared middles (never a
    cartesian), counted with map-side combine, then anti-joined against the
    edge list to keep non-adjacent pairs. Wedge volume is Σ deg² — inherent
    to the index's definition — so by DEFAULT middles are filtered to a
    degree ceiling before the self-join (VERDICT r6 #2): the ceiling is the
    largest degree class whose cumulative wedge volume fits
    ``wedge_budget`` (see :func:`_ra_middle_cap`), or an explicit
    ``max_middle_degree``. A hub shared by everyone predicts nothing — the
    1/deg discount already sends its contribution to ~0 — so on power-law
    graphs the capped top-N is stable (pinned by the planted-hub test);
    pass ``max_middle_degree=None, wedge_budget=None`` for the exact
    uncapped index. The degree table joins broadcast (node-count =
    dimension-sized here; past broadcast size it degrades to a shuffle join
    on the same keys). Mirrors graph_triangles' broadcast policy: when the
    edge list is small enough the wedge self-join's build side broadcasts
    and the wedge stream never shuffles.

    Determinism: each shared neighbor contributes the EXACT integer
    ``_RA_SCALE div deg(v)`` (Spark ``div`` == DuckDB ``//`` on positive
    longs), so per-pair sums are exact longs in any partial-aggregation
    order; the final score is one long→double division, floor-scaled. The
    budget-derived cap is a pure function of the degree histogram, so the
    SQL oracle recomputes it bit-for-bit.
    """
    return _link_predict_pairs(
        _order_parts(spark, sf_dir),
        top_n=top_n, max_middle_degree=max_middle_degree, wedge_budget=wedge_budget,
    )


GRAPH_LINK_PREDICT_SQL = f"""
WITH {_EDGES_SQL},
und AS (
    SELECT pa AS v, pb AS nb FROM edges
    UNION ALL SELECT pb, pa FROM edges
),
deg AS (SELECT v AS node, count(*) AS deg FROM und GROUP BY v),
-- budget-derived middle-degree cap, identical to _ra_middle_cap: largest
-- degree CLASS whose cumulative wedge volume fits _RA_WEDGE_BUDGET
bydeg AS (SELECT deg, sum(deg * deg) AS w2 FROM deg GROUP BY deg),
cap AS (
    SELECT coalesce(
        max(CASE WHEN cum <= {_RA_WEDGE_BUDGET} THEN deg END),
        min(deg)
    ) AS cap
    FROM (SELECT deg, sum(w2) OVER (ORDER BY deg) AS cum FROM bydeg)
),
m AS (
    SELECT u.v, u.nb, {_RA_SCALE} // g.deg AS contrib
    FROM und u JOIN deg g ON g.node = u.v
    WHERE g.deg <= (SELECT cap FROM cap)
),
pairs AS (
    SELECT a.nb AS u, b.nb AS w, count(*) AS cn, CAST(sum(a.contrib) AS BIGINT) AS ra_q
    FROM m a JOIN m b ON a.v = b.v AND a.nb < b.nb
    GROUP BY 1, 2
),
nonadj AS (
    SELECT p.* FROM pairs p
    LEFT JOIN edges e ON e.pa = p.u AND e.pb = p.w
    WHERE e.pa IS NULL
)
SELECT u, w, cn,
       floor(CAST(ra_q AS DOUBLE) / {float(_RA_SCALE)} * 1e6) / 1e6 AS ra_score
FROM nonadj
ORDER BY ra_q DESC, u, w
LIMIT 20
"""


# ---------------------------------------------------------------------------
# label-propagation community detection
# ---------------------------------------------------------------------------

_LP_ROUNDS = 4


def _lp_run(spark: SparkSession, sf_dir: str):
    """Shared label-propagation core: returns (undirected pair list,
    directed edge list, final label table) after ``_LP_ROUNDS`` synchronous
    rounds — used by :func:`graph_label_prop` (community readout) and
    :func:`graph_modularity` (partition quality)."""
    # pairs feeds the edge list AND graph_modularity's internal-edge /
    # edge-count branches — cut the lineage here so the lineitem self-join
    # runs once, not once per consumer.
    pairs = _copurchase_edges(_order_parts(spark, sf_dir)).localCheckpoint(eager=False)
    edges = _undirected(pairs).toDF("src", "dst").localCheckpoint(eager=False)
    labels = edges.select(F.col("src").alias("node")).distinct().withColumn("lbl", F.col("node"))
    # Per-round argmax by (c DESC, lbl ASC) as max_by over a packed
    # DECIMAL(38,0) key (r14: was a row_number window — full shuffle+sort
    # of the ~|edges| histogram every round; the r13 packed-ordering
    # finding applied to the propagation loop). Distinct lbl per (node,
    # lbl) group ⇒ distinct packed keys ⇒ the max_by pick is exactly the
    # window's rn=1 row. c ≥ 1 and lbl is a positive part id < 5e18, so
    # packed_lex's injectivity precondition holds by construction.
    for _ in range(_LP_ROUNDS):
        hist = (
            edges.join(labels, edges.src == labels.node)
            .groupBy(F.col("dst").alias("node"), "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = hist.groupBy("node").agg(
            F.max_by("lbl", packed_lex(F.col("c"), -F.col("lbl"))).alias("lbl")
        )
    # the final label table feeds ≥2 consumers in BOTH callers (sizes +
    # readout join in graph_label_prop; degree-mass + two internal-edge
    # sides in graph_modularity) — pin it so the 4-round propagation DAG
    # runs once, not once per consumer. One row per node.
    return pairs, edges, labels.localCheckpoint(eager=False)


def graph_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan et
    al. 2007) over the co-purchase part graph — the fourth member of the
    iterative-propagation family (connected components find REACHABILITY,
    PageRank CENTRALITY, this finds DENSITY clusters: parts habitually
    bought together).

    Deterministic variant (the stock algorithm is order-dependent): all
    nodes update simultaneously for ``_LP_ROUNDS`` rounds; a node adopts
    the most frequent label among its neighbours, ties broken by MIN
    label. Every update is exact integer argmax — no floats anywhere — so
    the unrolled-CTE oracle is bit-identical.

    Scale shape per round: one join of the edge list with the label table
    on src (both keyed by node id — AQE reuses the hash partitioning
    round-over-round), one map-side-combined (dst, lbl) count, one
    row_number over the per-node label histogram (bounded by degree).
    Community sizes join at the end from the final label table. The edge
    list is localCheckpoint'ed ONCE before the loop: all four rounds probe
    the same edges, and without the barrier each round replays the
    lineitem self-join (measured 16.8 s → 9.4 s at sf0.1, edge
    materialization included). For deep propagation at 100 TB, also
    localCheckpoint labels per round (dedup_clusters' pattern) to truncate
    lineage."""
    pairs, edges, labels = _lp_run(spark, sf_dir)
    sizes = labels.groupBy("lbl").agg(F.count(F.lit(1)).alias("community_size"))
    return labels.join(sizes, "lbl").select(
        "node", F.col("lbl").alias("community"), "community_size"
    )


def _lp_iter_sql(prev: str, out: str) -> str:
    return f"""
{out} AS (
    SELECT node, lbl FROM (
        SELECT e.dst AS node, l.lbl, count(*) AS c,
               row_number() OVER (PARTITION BY e.dst ORDER BY count(*) DESC, l.lbl) AS rn
        FROM edges e JOIN {prev} l ON l.node = e.src
        GROUP BY e.dst, l.lbl
    ) WHERE rn = 1
)"""


GRAPH_LABEL_PROP_SQL = f"""
WITH {_PAIRS_SQL},
edges AS (
    SELECT part_a AS src, part_b AS dst FROM pairs
    UNION
    SELECT part_b AS src, part_a AS dst FROM pairs
),
l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM edges),
{_lp_iter_sql("l0", "l1")},
{_lp_iter_sql("l1", "l2")},
{_lp_iter_sql("l2", "l3")},
{_lp_iter_sql("l3", "l4")},
sizes AS (SELECT lbl, count(*) AS community_size FROM l4 GROUP BY lbl)
SELECT l.node, l.lbl AS community, s.community_size
FROM l4 l JOIN sizes s ON s.lbl = l.lbl
"""


# ---------------------------------------------------------------------------
# behavioral entropy — user activity diversity
# ---------------------------------------------------------------------------


def events_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each user's event-type mix and hour-of-day
    activity profile — the behavior-diversity feature (bot/anomaly signal:
    scripted accounts concentrate on one action and one hour; engaged
    humans spread) plus its normalized form (H / ln(k), comparable across
    users with different alphabet sizes).

    Both entropies fold over the user's SORTED (key, count) array so the
    −Σ p·ln p accumulation order is pinned (fine-keyed counts are exact
    longs; two map-side-combined groupBys + one per-user collect are the
    only shuffles). ln() on identical doubles in identical order; outputs
    floor-scaled to 6 dp.
    """
    ev = load_table(spark, sf_dir, "events")

    def _entropy(keyed_counts):  # array<struct<k,c>> sorted by k
        total = F.aggregate(keyed_counts, F.lit(0).cast("long"), lambda a, x: a + x["c"]).cast(
            "double"
        )
        h = F.aggregate(
            keyed_counts,
            F.lit(0.0),
            lambda a, x: a - (x["c"].cast("double") / total) * F.log(x["c"].cast("double") / total),
        )
        k = F.size(keyed_counts)
        norm = F.when(k > 1, h / F.log(k.cast("double"))).otherwise(F.lit(0.0))
        return h, norm, k

    tc = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("c"))
    ta = tc.groupBy("user_id").agg(
        F.array_sort(F.collect_list(F.struct(F.col("event_type").alias("k"), F.col("c")))).alias(
            "tarr"
        )
    )
    hc = ev.groupBy("user_id", F.hour("ts").alias("hod")).agg(F.count(F.lit(1)).alias("c"))
    ha = hc.groupBy("user_id").agg(
        F.array_sort(F.collect_list(F.struct(F.col("hod").alias("k"), F.col("c")))).alias("harr")
    )
    j = ta.join(ha, "user_id")
    th, tn, tk = _entropy(F.col("tarr"))
    hh, hn, hk = _entropy(F.col("harr"))
    n_events = F.aggregate(F.col("tarr"), F.lit(0).cast("long"), lambda a, x: a + x["c"])
    return j.select(
        "user_id",
        n_events.alias("n_events"),
        tk.alias("n_types"),
        (F.floor(th * 1e6) / 1e6).alias("type_entropy"),
        (F.floor(tn * 1e6) / 1e6).alias("type_entropy_norm"),
        hk.alias("n_active_hours"),
        (F.floor(hh * 1e6) / 1e6).alias("hod_entropy"),
        (F.floor(hn * 1e6) / 1e6).alias("hod_entropy_norm"),
    )


def _entropy_sql(arr: str) -> tuple[str, str, str]:
    total = f"CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform({arr}, x -> x.c)), (a, b) -> a + b) AS DOUBLE)"
    h = (f"list_reduce(list_prepend(0.0, list_transform({arr}, x -> "
         f"-(CAST(x.c AS DOUBLE) / {total}) * ln(CAST(x.c AS DOUBLE) / {total}))), (a, b) -> a + b)")
    k = f"len({arr})"
    norm = f"CASE WHEN {k} > 1 THEN ({h}) / ln(CAST({k} AS DOUBLE)) ELSE 0.0 END"
    return h, norm, k


_TH, _TN, _TK = _entropy_sql("tarr")
_HH, _HN, _HK = _entropy_sql("harr")

EVENTS_ENTROPY_SQL = f"""
WITH tc AS (
    SELECT user_id, event_type, count(*) AS c FROM events GROUP BY 1, 2
),
ta AS (
    SELECT user_id, list_sort(list(struct_pack(k := event_type, c := c))) AS tarr
    FROM tc GROUP BY user_id
),
hc AS (
    SELECT user_id, hour(ts) AS hod, count(*) AS c FROM events GROUP BY 1, 2
),
ha AS (
    SELECT user_id, list_sort(list(struct_pack(k := hod, c := c))) AS harr
    FROM hc GROUP BY user_id
)
SELECT t.user_id,
       CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(tarr, x -> x.c)), (a, b) -> a + b) AS BIGINT) AS n_events,
       {_TK} AS n_types,
       floor(({_TH}) * 1e6) / 1e6 AS type_entropy,
       floor(({_TN}) * 1e6) / 1e6 AS type_entropy_norm,
       {_HK} AS n_active_hours,
       floor(({_HH}) * 1e6) / 1e6 AS hod_entropy,
       floor(({_HN}) * 1e6) / 1e6 AS hod_entropy_norm
FROM ta t JOIN ha h ON h.user_id = t.user_id
"""


# ---------------------------------------------------------------------------
# Association rules: support / confidence / lift
# ---------------------------------------------------------------------------

_LIFT_MIN_SUPPORT = 10


def events_lift(spark: SparkSession, sf_dir: str, *, min_support: int = _LIFT_MIN_SUPPORT) -> DataFrame:
    """Association rules over per-user behavior baskets: for every pair of
    event types co-occurring in >= min_support users, emit support, both
    directed confidences, and lift — basket_pairs' counting extended to
    the full rule readout (lift > 1 = genuine association, < 1 =
    substitution).

    Scale shape: the (user, type) frame dedupes FIRST (map-side partial
    distinct), the pair generator is a self-join co-partitioned on
    user_id and bounded per user by the event-type vocabulary (never n²
    global); per-type counts are a tiny broadcast dim joined back onto
    the pair supports, and the basket total rides a 1-row broadcast.
    All counts exact integers; confidence/lift are single double
    divisions in identical op order both engines (counts cast to double
    BEFORE multiplying, so the denominator never overflows int64 at
    100 TB cardinalities).
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type").distinct()
    n1 = ev.agg(F.countDistinct("user_id").alias("n_baskets"))
    cnt = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt"))
    a = ev.select(F.col("user_id").alias("u"), F.col("event_type").alias("type_a"))
    b = ev.select(F.col("user_id").alias("u"), F.col("event_type").alias("type_b"))
    sup = (
        a.join(b, "u")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= min_support)
    )
    dbl = lambda c: F.col(c).cast("double")  # noqa: E731
    return (
        sup.join(F.broadcast(cnt.select(F.col("event_type").alias("type_a"), F.col("cnt").alias("cnt_a"))), "type_a")
        .join(F.broadcast(cnt.select(F.col("event_type").alias("type_b"), F.col("cnt").alias("cnt_b"))), "type_b")
        .join(F.broadcast(n1))
        .select(
            "type_a",
            "type_b",
            "support",
            "cnt_a",
            "cnt_b",
            # floor-scale, never round(x, 6): engine rounding-tie divergence
            # cost red rows in r3/r5 — the documented gate convention
            (F.floor(dbl("support") / dbl("cnt_a") * 1e6) / 1e6).alias("conf_a_b"),
            (F.floor(dbl("support") / dbl("cnt_b") * 1e6) / 1e6).alias("conf_b_a"),
            (F.floor(dbl("support") * dbl("n_baskets") / (dbl("cnt_a") * dbl("cnt_b")) * 1e6) / 1e6).alias("lift"),
        )
    )


EVENTS_LIFT_SQL = f"""
WITH ev AS (SELECT DISTINCT user_id, event_type FROM events),
n1 AS (SELECT count(DISTINCT user_id) AS n_baskets FROM ev),
cnt AS (SELECT event_type, count(*) AS cnt FROM ev GROUP BY event_type),
sup AS (
    SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS support
    FROM ev a JOIN ev b ON a.user_id = b.user_id AND a.event_type < b.event_type
    GROUP BY 1, 2
    HAVING count(*) >= {_LIFT_MIN_SUPPORT}
)
SELECT s.type_a, s.type_b, s.support, ca.cnt AS cnt_a, cb.cnt AS cnt_b,
       floor(CAST(s.support AS DOUBLE) / CAST(ca.cnt AS DOUBLE) * 1e6) / 1e6 AS conf_a_b,
       floor(CAST(s.support AS DOUBLE) / CAST(cb.cnt AS DOUBLE) * 1e6) / 1e6 AS conf_b_a,
       floor(CAST(s.support AS DOUBLE) * CAST(n1.n_baskets AS DOUBLE)
             / (CAST(ca.cnt AS DOUBLE) * CAST(cb.cnt AS DOUBLE)) * 1e6) / 1e6 AS lift
FROM sup s
JOIN cnt ca ON ca.event_type = s.type_a
JOIN cnt cb ON cb.event_type = s.type_b
CROSS JOIN n1
"""


# ---------------------------------------------------------------------------
# Graph degree profile — the stats behind the orientation decision
# ---------------------------------------------------------------------------


def graph_degree_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row degree profile of the co-purchase part graph: node/edge
    counts, max/mean/median degree, the Hill tail-index estimate
    α̂ = 1 + n_tail / Σ ln(deg/d_min) over degrees ≥ the median, and the
    SAME `select_orientation` verdict graph_triangles/link_predict act on
    (`orient="auto"`) — the query that makes the wedge-orientation choice
    inspectable instead of implicit (α̂ ≲ 3 + a verdict flip = power-law
    hub risk; near-uniform degrees keep id-orientation).

    One explode + two tiny aggs; the median is an explicit sorted-array
    pick and the Hill sum folds over the degree-sorted array in pinned
    order (ln on identical doubles — the events_entropy convention).
    Degree-histogram volume is #nodes, trivially bounded.
    """
    edges = _copurchase_edges(_order_parts(spark, sf_dir))
    deg = (
        edges.select(F.explode(F.array("pa", "pb")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    g = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum("deg").alias("deg_sum"),
        F.max("deg").alias("max_deg"),
        F.array_sort(F.collect_list("deg")).alias("ds"),
    )

    g = g.withColumn("median_deg", sorted_median("ds"))
    tail = F.filter("ds", lambda d: d.cast("double") >= F.col("median_deg"))
    lnsum = F.aggregate(
        tail, F.lit(0.0), lambda acc, d: acc + F.log(d.cast("double") / F.col("median_deg"))
    )
    n_edges = (F.col("deg_sum") / 2).cast("long")
    hub = F.col("max_deg") * F.col("max_deg") > 16.0 * F.greatest(n_edges, F.lit(1))
    return g.select(
        F.col("n_nodes"),
        n_edges.alias("n_edges"),
        "max_deg",
        (F.floor(F.col("deg_sum").cast("double") / F.col("n_nodes").cast("double") * 1e6) / 1e6).alias("mean_deg"),
        F.col("median_deg"),
        F.size(tail).alias("n_tail"),
        F.when(lnsum > 0, F.floor((1.0 + F.size(tail).cast("double") / lnsum) * 1e6) / 1e6).alias("hill_alpha"),
        F.when(hub, F.lit("degree")).otherwise(F.lit("id")).alias("orientation"),
    )


GRAPH_DEGREE_PROFILE_SQL = f"""
WITH {_EDGES_SQL},
deg AS (
    SELECT node, count(*) AS deg FROM (
        SELECT pa AS node FROM edges UNION ALL SELECT pb AS node FROM edges
    ) u GROUP BY node
),
g AS (
    SELECT count(*) AS n_nodes, CAST(sum(deg) AS BIGINT) AS deg_sum,
           max(deg) AS max_deg, list_sort(list(deg)) AS ds
    FROM deg
),
m AS (
    SELECT *, {sorted_median_sql("ds")} AS median_deg
    FROM g
),
t AS (
    SELECT *, list_filter(ds, d -> CAST(d AS DOUBLE) >= median_deg) AS tail
    FROM m
),
h AS (
    SELECT *, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                  list_transform(tail, d -> ln(CAST(d AS DOUBLE) / median_deg))),
                  (a, b) -> a + b) AS lnsum
    FROM t
)
SELECT n_nodes, deg_sum // 2 AS n_edges, max_deg,
       floor(CAST(deg_sum AS DOUBLE) / CAST(n_nodes AS DOUBLE) * 1e6) / 1e6 AS mean_deg,
       median_deg,
       CAST(len(tail) AS INT) AS n_tail,
       CASE WHEN lnsum > 0 THEN floor((1.0 + CAST(len(tail) AS DOUBLE) / lnsum) * 1e6) / 1e6 END AS hill_alpha,
       CASE WHEN max_deg * max_deg > 16.0 * greatest(deg_sum // 2, 1) THEN 'degree' ELSE 'id' END AS orientation
FROM h
"""


# ---------------------------------------------------------------------------
# Inter-arrival profile — burstiness / memory of each user's event stream
# ---------------------------------------------------------------------------


def events_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-arrival-time profile: mean/median/p90 gap plus the
    Goh–Barabási burstiness coefficient B = (σ−μ)/(σ+μ) (EPL 2008) and
    the lag-1 memory coefficient of consecutive gaps — the
    bot-vs-human / scripted-vs-organic timing signature (periodic
    schedulers: B → −1, memory → 1; Poisson users: B ≈ 0; bursty humans:
    B > 0). Complements events_entropy's WHAT-mix with the WHEN shape.

    One groupBy(user) sorted collect; gaps are exact integer µs, μ/σ from
    exact Σx/Σx² folds, median/p90 explicit sorted-array picks, and the
    lag-1 memory is a single pinned-order pass over consecutive gap pairs
    (identical-op-order doubles). Users with < 3 events (< 2 gaps) are
    excluded.
    """
    ev = load_table(spark, sf_dir, "events")
    s = F.struct(F.col("ts"), F.col("event_id"))
    g = ev.groupBy("user_id").agg(F.array_sort(F.collect_list(s)).alias("hist"))
    ts_us = F.transform("hist", lambda r: F.unix_micros(r["ts"].cast("timestamp")))
    g = g.select("user_id", ts_us.alias("t")).withColumn("n", F.size("t")).filter(F.col("n") >= 3)
    gaps = F.transform(
        F.sequence(F.lit(2), F.col("n")),
        lambda i: F.element_at(F.col("t"), i) - F.element_at(F.col("t"), i - 1),
    )
    g = g.withColumn("gp", gaps).withColumn("m", F.size("gp"))
    zero = F.lit(0).cast("long")
    sx = F.aggregate("gp", zero, lambda a, x: a + x)
    sxx = F.aggregate(
        F.transform("gp", lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    mdbl = F.col("m").cast("double")
    mu = sx.cast("double") / mdbl
    g = g.withColumn("mu", mu).withColumn(
        "sigma", F.sqrt(F.greatest(sxx / mdbl - F.col("mu") * F.col("mu"), F.lit(0.0)))
    )
    srt = F.array_sort("gp")

    def pick(arr, q_num, q_den):
        # nearest-rank pick: element at ceil(q·m / den)
        idx = F.ceil(F.size(arr) * q_num / q_den).cast("int")
        return F.element_at(arr, F.greatest(idx, F.lit(1)))

    med = sorted_median(srt, F.col("m"))
    # lag-1 memory: corr of (g1..g_{m-1}) vs (g2..g_m), pinned-order sums
    a1 = F.slice("gp", 1, F.col("m") - 1)
    a2 = F.slice("gp", 2, F.col("m") - 1)
    k = (F.col("m") - 1).cast("double")
    s1 = F.aggregate(a1, zero, lambda a, x: a + x).cast("double")
    s2 = F.aggregate(a2, zero, lambda a, x: a + x).cast("double")
    s11 = F.aggregate(F.transform(a1, lambda x: x.cast("double") * x.cast("double")), F.lit(0.0), lambda a, x: a + x)
    s22 = F.aggregate(F.transform(a2, lambda x: x.cast("double") * x.cast("double")), F.lit(0.0), lambda a, x: a + x)
    s12 = F.aggregate(
        F.zip_with(a1, a2, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    cov = s12 / k - (s1 / k) * (s2 / k)
    v1 = s11 / k - (s1 / k) * (s1 / k)
    v2 = s22 / k - (s2 / k) * (s2 / k)
    memory = F.when((v1 > 0) & (v2 > 0), cov / (F.sqrt(v1) * F.sqrt(v2)))
    burst = F.when(
        F.col("sigma") + F.col("mu") > 0,
        (F.col("sigma") - F.col("mu")) / (F.col("sigma") + F.col("mu")),
    )
    return g.select(
        "user_id",
        F.col("m").alias("n_gaps"),
        (F.floor(F.col("mu") / 1e6 * 1e6) / 1e6).alias("mean_gap_s"),
        (F.floor(med / 1e6 * 1e6) / 1e6).alias("median_gap_s"),
        (pick(srt, F.lit(9), F.lit(10)).cast("double") / 1e6).alias("p90_gap_s"),
        (F.floor(burst * 1e6) / 1e6).alias("burstiness"),
        (F.floor(memory * 1e6) / 1e6).alias("memory_coef"),
    )


EVENTS_INTERARRIVAL_SQL = """
WITH hist AS (
    SELECT user_id,
           list_transform(list_sort(list(struct_pack(ts := ts, e := event_id))),
                          s -> epoch_us(s.ts)) AS t
    FROM events GROUP BY user_id
),
base AS (
    SELECT user_id, len(t) AS n,
           list_transform(range(2, len(t) + 1), i -> t[i] - t[i-1]) AS gp
    FROM hist WHERE len(t) >= 3
),
stats AS (
    SELECT user_id, len(gp) AS m, gp, list_sort(gp) AS srt,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), gp), (a, b) -> a + b) AS DOUBLE)
               / len(gp) AS mu,
           sqrt(greatest(
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list_transform(gp, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)
               / len(gp)
               - (CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), gp), (a, b) -> a + b) AS DOUBLE) / len(gp))
               * (CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), gp), (a, b) -> a + b) AS DOUBLE) / len(gp)),
               0.0)) AS sigma
    FROM base
),
mem AS (
    SELECT user_id, m, srt, mu, sigma,
           CASE WHEN m % 2 = 1 THEN CAST(srt[(m + 1) // 2] AS DOUBLE)
                ELSE CAST(srt[m // 2] + srt[m // 2 + 1] AS DOUBLE) / 2.0 END AS med,
           srt[greatest(CAST(ceil(m * 9 / 10) AS INT), 1)] AS p90,
           gp[1 : m - 1] AS a1, gp[2 : m] AS a2, CAST(m - 1 AS DOUBLE) AS k
    FROM stats
),
mm AS (
    SELECT *,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), a1), (a, b) -> a + b) AS DOUBLE) AS s1,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), a2), (a, b) -> a + b) AS DOUBLE) AS s2,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(a1, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b) AS s11,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(a2, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b) AS s22,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(range(1, CAST(k AS INT) + 1),
                   i -> CAST(a1[i] AS DOUBLE) * CAST(a2[i] AS DOUBLE))), (a, b) -> a + b) AS s12
    FROM mem
)
SELECT user_id, CAST(m AS INT) AS n_gaps,
       floor(mu / 1e6 * 1e6) / 1e6 AS mean_gap_s,
       floor(med / 1e6 * 1e6) / 1e6 AS median_gap_s,
       CAST(p90 AS DOUBLE) / 1e6 AS p90_gap_s,
       CASE WHEN sigma + mu > 0
            THEN floor((sigma - mu) / (sigma + mu) * 1e6) / 1e6 END AS burstiness,
       CASE WHEN (s11 / k - (s1 / k) * (s1 / k)) > 0 AND (s22 / k - (s2 / k) * (s2 / k)) > 0
            THEN floor((s12 / k - (s1 / k) * (s2 / k))
                 / (sqrt(s11 / k - (s1 / k) * (s1 / k)) * sqrt(s22 / k - (s2 / k) * (s2 / k)))
                 * 1e6) / 1e6 END AS memory_coef
FROM mm
"""


# ---------------------------------------------------------------------------
# Gini concentration — how unevenly activity/spend spreads across users
# ---------------------------------------------------------------------------


def events_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row Gini coefficients of per-user activity: event-count Gini
    and spend Gini (G = Σ(2i−n−1)·x_(i) / (n·Σx) over the ascending-sorted
    per-user totals) plus the top-decile share of each — the
    concentration readout behind skew planning (a count-Gini near 1 says
    a handful of hot keys dominate every user-keyed shuffle — the
    salted-join lever's trigger) and behind sampling design (spend
    concentration ⇒ stratify before subsampling).

    Two-level shape: the per-user totals are ONE map-side-combined
    groupBy (|users| rows out); the Gini fold runs over the one sorted
    array — Σ(2i−n−1)·x is EXACT integer arithmetic (weights bounded by
    n, totals by corpus cents), a single division at the end. Top-decile
    share is an explicit suffix-sum over the same array.
    """
    ev = load_table(spark, sf_dir, "events")
    per = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_ev"),
        F.sum((F.col("value").cast("decimal(18,2)") * 100).cast("long")).alias("cents"),
    )
    g = per.agg(
        F.array_sort(F.collect_list("n_ev")).alias("ce"),
        F.array_sort(F.collect_list("cents")).alias("cs"),
    )

    def gini(arr):
        n = F.size(arr).cast("long")
        tot = F.aggregate(arr, F.lit(0).cast("long"), lambda a, x: a + x)
        # Σ (2i − n − 1)·x_(i): fold state [i, acc] as exact longs
        st = F.aggregate(
            arr,
            F.array(F.lit(0).cast("long"), F.lit(0).cast("long")),
            lambda acc, x: F.array(
                F.element_at(acc, 1) + 1,
                F.element_at(acc, 2) + (2 * (F.element_at(acc, 1) + 1) - n - 1) * x,
            ),
        )
        num = F.element_at(st, 2)
        return F.when(tot > 0, F.floor(num.cast("double") / (n.cast("double") * tot.cast("double")) * 1e6) / 1e6)

    def top_decile(arr):
        n = F.size(arr)
        k = F.greatest(F.ceil(n / 10).cast("int"), F.lit(1))
        tot = F.aggregate(arr, F.lit(0).cast("long"), lambda a, x: a + x)
        topk = F.aggregate(
            F.slice(arr, n - k + 1, k), F.lit(0).cast("long"), lambda a, x: a + x
        )
        return F.when(tot > 0, F.floor(topk.cast("double") / tot.cast("double") * 1e6) / 1e6)

    return g.select(
        F.size("ce").alias("n_users"),
        gini(F.col("ce")).alias("gini_events"),
        top_decile(F.col("ce")).alias("top_decile_events"),
        gini(F.col("cs")).alias("gini_spend"),
        top_decile(F.col("cs")).alias("top_decile_spend"),
    )


def _gini_sql(arr: str) -> str:
    n = f"CAST(len({arr}) AS BIGINT)"
    tot = f"list_reduce(list_prepend(CAST(0 AS BIGINT), {arr}), (a, b) -> a + b)"
    st = (
        f"list_reduce(list_prepend([CAST(0 AS BIGINT), CAST(0 AS BIGINT)], "
        f"list_transform({arr}, x -> [x, CAST(0 AS BIGINT)])), "
        f"(acc, e) -> [acc[1] + 1, acc[2] + (2 * (acc[1] + 1) - {n} - 1) * e[1]])"
    )
    return (
        f"CASE WHEN {tot} > 0 THEN floor(CAST({st}[2] AS DOUBLE) "
        f"/ (CAST({n} AS DOUBLE) * CAST({tot} AS DOUBLE)) * 1e6) / 1e6 END"
    )


def _topdec_sql(arr: str) -> str:
    k = f"greatest(CAST(ceil(len({arr}) / 10) AS INT), 1)"
    tot = f"list_reduce(list_prepend(CAST(0 AS BIGINT), {arr}), (a, b) -> a + b)"
    topk = (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"{arr}[len({arr}) - {k} + 1 : len({arr})]), (a, b) -> a + b)"
    )
    return (
        f"CASE WHEN {tot} > 0 THEN floor(CAST({topk} AS DOUBLE) "
        f"/ CAST({tot} AS DOUBLE) * 1e6) / 1e6 END"
    )


EVENTS_GINI_SQL = f"""
WITH per AS (
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_ev,
           CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
    FROM events GROUP BY user_id
),
g AS (SELECT list_sort(list(n_ev)) AS ce, list_sort(list(cents)) AS cs FROM per)
SELECT CAST(len(ce) AS INT) AS n_users,
       {_gini_sql('ce')} AS gini_events,
       {_topdec_sql('ce')} AS top_decile_events,
       {_gini_sql('cs')} AS gini_spend,
       {_topdec_sql('cs')} AS top_decile_spend
FROM g
"""


# ---------------------------------------------------------------------------
# k-core membership — the dense backbone of the co-purchase graph
# ---------------------------------------------------------------------------

_KCORE_ROUNDS = 8

#: broadcast each round's survivor set when the graph has at most this
#: many nodes (one long per node ⇒ ≲40 MB broadcast)
_KCORE_BROADCAST_NODES = 5_000_000


def graph_kcore(
    spark: SparkSession,
    sf_dir: str,
    *,
    k: float | None = None,
    rounds: int = _KCORE_ROUNDS,
) -> DataFrame:
    """k-core membership of the co-purchase part graph after a FIXED number
    of peeling rounds: repeatedly drop nodes with degree < k and the edges
    they carry (Seidman 1983) — the dense backbone behind community
    seeding, recommendation candidate pools, and graph-size reduction
    before the expensive operators (a wedge join over the core alone is
    far smaller). k defaults to floor(0.7 × the mean initial degree),
    so the threshold adapts to scale instead of trivializing (the TPC-H co-purchase graph is near-uniform: any
    fixed small k peels nothing).

    Each round is one degree aggregation + two semi-joins on the edge
    endpoint keys — R bounded shuffles over a MONOTONICALLY SHRINKING edge
    list, never an unbounded fixpoint loop (after R rounds membership is
    the exact R-round peel, a documented approximation of the fixpoint
    that real systems also bound). Lineage is cut per round with a lazy
    localCheckpoint so the plan stays flat. The oracle replays the same R
    rounds as chained CTEs; counts and joins are exact integers.
    """
    edges = _copurchase_edges(_order_parts(spark, sf_dir)).localCheckpoint(eager=False)
    und = _undirected(edges).toDF("v", "w")
    deg0 = und.groupBy("v").agg(F.count(F.lit(1)).alias("deg0"))
    bc_keep = False
    if k is None:
        # floor(0.7 × mean degree) from exact integer sums — 1-row bounded
        # collect (the graph_triangles orientation-stats class)
        row = deg0.agg(F.sum("deg0").alias("s"), F.count(F.lit(1)).alias("n")).collect()[0]
        k = math.floor(0.7 * (float(row["s"]) / float(row["n"])))
        # the survivor set is a node list, bounded above by the measured
        # node count — when that fits the broadcast budget, hint it so the
        # two per-round semi-joins need NO edge-list shuffle (the same
        # measured-size decision as the triangles orientation stats; a
        # blanket hint would be a local-only "win" that OOMs at scale).
        bc_keep = float(row["n"]) <= _KCORE_BROADCAST_NODES
    cur = und
    for _ in range(rounds):
        # NOTE (r14): pinning this survivor set with a per-round
        # localCheckpoint measured 9.7 → 20.4 s at sf0.1 (clean control) —
        # the extra blocking job per round costs more than the duplicated
        # degree aggregation it saves. Left unpinned deliberately.
        keep = (
            cur.groupBy("v").agg(F.count(F.lit(1)).alias("d"))
            .filter(F.col("d") >= F.lit(k))
            .select("v")
        )
        if bc_keep:
            keep = F.broadcast(keep)
        # both endpoints probe the SAME survivor frame through a join
        # condition (no renamed copy), so the round plans one broadcast
        # and the second semi-join reuses its exchange
        cur = (
            cur.alias("e")
            .join(keep.alias("kv"), F.col("e.v") == F.col("kv.v"), "left_semi")
            .join(keep.alias("kw"), F.col("e.w") == F.col("kw.v"), "left_semi")
            .select("v", "w")
            .localCheckpoint(eager=False)
        )
    degf = cur.groupBy("v").agg(F.count(F.lit(1)).alias("deg_core"))
    return (
        degf.join(deg0, "v")
        .select(F.col("v").alias("node"), "deg0", "deg_core")
        .withColumnRenamed("deg0", "deg_initial")
        .orderBy("node")
    )


def graph_kcore_sql(rounds: int = _KCORE_ROUNDS) -> str:
    body = f"""
WITH {_EDGES_SQL},
e0 AS MATERIALIZED (
    SELECT pa AS v, pb AS w FROM edges
    UNION ALL SELECT pb, pa FROM edges
),
deg0 AS (SELECT v, count(*) AS deg0 FROM e0 GROUP BY v),
kq AS (SELECT floor(0.7 * (CAST(sum(deg0) AS DOUBLE) / CAST(count(*) AS DOUBLE))) AS k FROM deg0)"""
    # AS MATERIALIZED is load-bearing: DuckDB inlines plain CTEs at every
    # reference, and round i+1 references round i three times — unmarked,
    # the 8-round chain expands 3^8 scans of the base table ("too many
    # open files" before it even misplans).
    for i in range(rounds):
        body += f""",
k{i} AS MATERIALIZED (
    SELECT v FROM (SELECT v, count(*) AS d FROM e{i} GROUP BY v)
    WHERE d >= (SELECT k FROM kq)
),
e{i + 1} AS MATERIALIZED (
    SELECT e.v, e.w FROM e{i} e
    JOIN k{i} a ON a.v = e.v
    JOIN k{i} b ON b.v = e.w
)"""
    body += f"""
SELECT f.v AS node, d0.deg0 AS deg_initial, f.deg_core
FROM (SELECT v, count(*) AS deg_core FROM e{rounds} GROUP BY v) f
JOIN deg0 d0 ON d0.v = f.v
ORDER BY node
"""
    return body


GRAPH_KCORE_SQL = graph_kcore_sql()


# ---------------------------------------------------------------------------
# time-to-convert — first-touch → first-purchase latency distribution
# ---------------------------------------------------------------------------


def events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latency from a user's FIRST qualifying touch (view or click) to
    their FIRST subsequent purchase, summarized per first-touch type: how
    many users converted, and the min / interpolated p50/p90 / max of the
    conversion delay in hours — the funnel-velocity readout that
    events_funnel (did they convert within a horizon) and
    events_attribution (which touch gets credit) both leave unanswered:
    HOW LONG does conversion take?

    One groupBy(user) computes first-touch (min_by over (ts, event_id) —
    no window sort) and first purchase AFTER it (conditional min);
    the per-type rollup is a vocabulary-bounded aggregate. Delay rides
    exact integer microseconds; quantiles are exact interpolated
    percentile (== quantile_cont) over hours. Converted users only — the
    censored remainder is events_survival's subject.
    """
    ev = load_table(spark, sf_dir, "events")
    touch = (
        ev.filter(F.col("event_type").isin("view", "click"))
        .groupBy("user_id")
        .agg(
            F.min(F.struct(F.col("ts"), F.col("event_id"), F.col("event_type"))).alias("t0")
        )
        .select(
            "user_id",
            F.col("t0.ts").alias("touch_ts"),
            F.col("t0.event_type").alias("first_touch"),
        )
    )
    buy = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("buy_ts")
    )
    conv = (
        touch.join(buy, "user_id")
        .filter(F.col("buy_ts") >= F.col("touch_ts"))
        .groupBy("user_id", "first_touch", "touch_ts")
        .agg(F.min("buy_ts").alias("first_buy"))
    )
    delay_h = (
        (F.unix_micros(F.col("first_buy")) - F.unix_micros(F.col("touch_ts"))).cast("double")
        / 3600000000.0
    )
    d = conv.select("first_touch", delay_h.alias("h"))
    return d.groupBy("first_touch").agg(
        F.count(F.lit(1)).alias("n_converted"),
        (F.floor(F.min("h") * 1e6) / 1e6).alias("hours_min"),
        (F.floor(F.percentile("h", F.lit(0.5)) * 1e6) / 1e6).alias("hours_p50"),
        (F.floor(F.percentile("h", F.lit(0.9)) * 1e6) / 1e6).alias("hours_p90"),
        (F.floor(F.max("h") * 1e6) / 1e6).alias("hours_max"),
    )


EVENTS_TIME_TO_CONVERT_SQL = """
WITH touch AS (
    SELECT user_id,
           min(struct_pack(ts := ts, e := event_id, et := event_type)) AS t0
    FROM events WHERE event_type IN ('view', 'click')
    GROUP BY user_id
),
t AS (SELECT user_id, t0.ts AS touch_ts, t0.et AS first_touch FROM touch),
conv AS (
    SELECT t.user_id, t.first_touch, t.touch_ts, min(e.ts) AS first_buy
    FROM t JOIN events e ON e.user_id = t.user_id
    WHERE e.event_type = 'purchase' AND e.ts >= t.touch_ts
    GROUP BY t.user_id, t.first_touch, t.touch_ts
),
d AS (
    SELECT first_touch,
           CAST(epoch_us(first_buy) - epoch_us(touch_ts) AS DOUBLE) / 3600000000.0 AS h
    FROM conv
)
SELECT first_touch,
       count(*) AS n_converted,
       floor(min(h) * 1e6) / 1e6 AS hours_min,
       floor(quantile_cont(h, 0.5) * 1e6) / 1e6 AS hours_p50,
       floor(quantile_cont(h, 0.9) * 1e6) / 1e6 AS hours_p90,
       floor(max(h) * 1e6) / 1e6 AS hours_max
FROM d GROUP BY first_touch
"""


# ---------------------------------------------------------------------------
# diurnal/weekly seasonality profile per event type
# ---------------------------------------------------------------------------


def events_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timing profile per event type: peak hour-of-day and its share,
    weekend share, and night share (00–06 UTC) — the capacity-planning /
    scheduling readout ("when does each event class actually happen") that
    ts_periodogram answers spectrally per USER and this answers directly
    per TYPE. Peak picks deterministically (max count, then smallest
    hour).

    One (type, hour) count — 24×vocabulary keys, map-side combined — then
    a deterministic argmax via min of (-cnt, hour) struct and three exact
    conditional sums rolled up per type. All counts exact integers; two
    floor-scaled divisions."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        F.hour("ts").alias("hod"),
        F.dayofweek("ts").alias("dow"),  # 1=Sunday, 7=Saturday
    )
    by_hour = base.groupBy("event_type", "hod").agg(F.count(F.lit(1)).alias("cnt"))
    peak = by_hour.groupBy("event_type").agg(
        F.min(F.struct((-F.col("cnt")).alias("neg"), F.col("hod").alias("hod"))).alias("p"),
        F.sum("cnt").alias("n_events"),
    )
    shares = base.groupBy("event_type").agg(
        F.sum(F.when(F.col("dow").isin(1, 7), 1).otherwise(0)).cast("long").alias("n_weekend"),
        F.sum(F.when(F.col("hod") < 6, 1).otherwise(0)).cast("long").alias("n_night"),
    )
    n = F.col("n_events").cast("double")
    return peak.join(shares, "event_type").select(
        "event_type",
        "n_events",
        F.col("p.hod").alias("peak_hour"),
        (F.floor((-F.col("p.neg")).cast("double") / n * 1e6) / 1e6).alias("peak_share"),
        (F.floor(F.col("n_weekend").cast("double") / n * 1e6) / 1e6).alias("weekend_share"),
        (F.floor(F.col("n_night").cast("double") / n * 1e6) / 1e6).alias("night_share"),
    )


EVENTS_SEASONALITY_SQL = """
WITH base AS (
    SELECT event_type,
           CAST(hour(ts) AS INT) AS hod,
           dayofweek(ts) AS dow  -- DuckDB: 0=Sunday..6=Saturday
    FROM events
),
by_hour AS (
    SELECT event_type, hod, count(*) AS cnt FROM base GROUP BY event_type, hod
),
peak AS (
    SELECT event_type,
           min(struct_pack(neg := -cnt, hod := hod)) AS p,
           CAST(sum(cnt) AS BIGINT) AS n_events
    FROM by_hour GROUP BY event_type
),
shares AS (
    SELECT event_type,
           CAST(sum(CASE WHEN dow IN (0, 6) THEN 1 ELSE 0 END) AS BIGINT) AS n_weekend,
           CAST(sum(CASE WHEN hod < 6 THEN 1 ELSE 0 END) AS BIGINT) AS n_night
    FROM base GROUP BY event_type
)
SELECT p.event_type, p.n_events,
       CAST(p.p.hod AS INT) AS peak_hour,
       floor(CAST(-p.p.neg AS DOUBLE) / CAST(p.n_events AS DOUBLE) * 1e6) / 1e6 AS peak_share,
       floor(CAST(s.n_weekend AS DOUBLE) / CAST(p.n_events AS DOUBLE) * 1e6) / 1e6 AS weekend_share,
       floor(CAST(s.n_night AS DOUBLE) / CAST(p.n_events AS DOUBLE) * 1e6) / 1e6 AS night_share
FROM peak p JOIN shares s ON s.event_type = p.event_type
"""


# ---------------------------------------------------------------------------
# modularity — partition quality of the label-prop communities
# ---------------------------------------------------------------------------


def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the label-propagation partition over the
    co-purchase graph: Q = Σ_c (e_c/m − (d_c/2m)²) — the standard "are
    these communities denser than chance?" quality gate for
    graph_label_prop's output (Q > 0.3 is the usual 'real structure' bar).
    Emits one row per community (size, internal edges, degree mass,
    contribution) plus the global Q on every row.

    Composes :func:`_lp_run` (the label tables are shared code with
    graph_label_prop — same rounds, bit-identical labels), then: degree
    sums ride ONE broadcast-ready join of the label table with the degree
    table; internal-edge counts join the undirected pair list against the
    label table twice (both joins on node id — dimension-sized build
    sides); m arrives as a 1-row broadcast, never a driver collect. All
    counters exact integers; the only doubles are the final contribution
    projections (identical trees both engines, floor-scaled). Community
    count is bounded by the part dimension, so the output is small by
    construction."""
    pairs, edges, labels = _lp_run(spark, sf_dir)
    # labels arrives pinned from _lp_run (it feeds the degree-mass AND
    # both internal-edge branches here — without the barrier the whole
    # 4-round propagation DAG inlines into each; measured 18.7 s →
    # label-prop band at sf0.1).
    mdf = pairs.agg(F.count(F.lit(1)).alias("m"))
    deg = edges.groupBy(F.col("src").alias("node")).agg(F.count(F.lit(1)).alias("deg"))
    dsum = (
        labels.join(deg, "node")
        .groupBy("lbl")
        .agg(F.count(F.lit(1)).alias("community_size"), F.sum("deg").alias("degree_sum"))
    )
    la = labels.select(F.col("node").alias("pa"), F.col("lbl").alias("lbl_a"))
    lb = labels.select(F.col("node").alias("pb"), F.col("lbl").alias("lbl_b"))
    internal = (
        pairs.join(la, "pa")
        .join(lb, "pb")
        .filter(F.col("lbl_a") == F.col("lbl_b"))
        .groupBy(F.col("lbl_a").alias("lbl"))
        .agg(F.count(F.lit(1)).alias("internal_edges"))
    )
    comm = (
        dsum.join(internal, "lbl", "left")
        .withColumn("internal_edges", F.coalesce("internal_edges", F.lit(0)).cast("long"))
        .crossJoin(F.broadcast(mdf))
    )
    # exact-BIGINT modularity fold: e_c/m − (d_c/2m)² = (4m·e_c − d_c²)/(4m²),
    # so Σ(4m·e_c − d_c²) accumulates as exact integers (order-insensitive)
    # and the only double op is ONE final division — a float Σcontrib
    # window-sum is partial-order-sensitive across engines (the events_srm
    # sf0.001 finding). |num| ≤ 4m² keeps the fold under 2^63 for m up to
    # ~1.5·10⁹ edges — past that bound Spark's non-ANSI long multiply would
    # WRAP SILENTLY while the DuckDB oracle aborts (ADVICE r8), so the
    # guard below turns the Spark side equally loud instead of letting a
    # wrapped-but-plausible modularity ship.
    m_l = F.when(
        F.col("m").cast("long") <= F.lit(1_500_000_000).cast("long"),
        F.col("m").cast("long"),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("graph_modularity: m="),
                F.col("m").cast("string"),
                F.lit(" edges exceeds the exact-BIGINT fold bound (~1.5e9); "
                      "4m^2 would overflow int64 — rescale or shard the fold"),
            )
        ).cast("long")
    )
    d_l = F.col("degree_sum").cast("long")
    num = (F.lit(4).cast("long") * m_l * F.col("internal_edges") - d_l * d_l).alias("_num")
    den = (F.lit(4).cast("long") * m_l * m_l).cast("double").alias("_den")
    comm = comm.select(
        F.col("lbl").alias("community"),
        "community_size",
        "internal_edges",
        F.col("degree_sum").cast("long").alias("degree_sum"),
        num,
        den,
    )
    # bounded: runs over the per-community aggregate (|communities| rows)
    w = Window.partitionBy()
    contrib = F.col("_num").cast("double") / F.col("_den")
    q = F.sum("_num").over(w).cast("double") / F.col("_den")
    return comm.select(
        "community", "community_size", "internal_edges", "degree_sum",
        (F.floor(contrib * 1e6) / 1e6).alias("contribution"),
        (F.floor(q * 1e6) / 1e6).alias("modularity"),
    )


GRAPH_MODULARITY_SQL = f"""
WITH {_PAIRS_SQL},
edges AS (
    SELECT part_a AS src, part_b AS dst FROM pairs
    UNION
    SELECT part_b AS src, part_a AS dst FROM pairs
),
l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM edges),
{_lp_iter_sql("l0", "l1")},
{_lp_iter_sql("l1", "l2")},
{_lp_iter_sql("l2", "l3")},
{_lp_iter_sql("l3", "l4")},
mrow AS (SELECT count(*) AS m FROM pairs),
deg AS (SELECT src AS node, count(*) AS deg FROM edges GROUP BY src),
dsum AS (
    SELECT l.lbl, count(*) AS community_size, CAST(sum(d.deg) AS BIGINT) AS degree_sum
    FROM l4 l JOIN deg d ON d.node = l.node GROUP BY l.lbl
),
internal AS (
    SELECT la.lbl AS lbl, count(*) AS internal_edges
    FROM pairs p
    JOIN l4 la ON la.node = p.part_a
    JOIN l4 lb ON lb.node = p.part_b
    WHERE la.lbl = lb.lbl
    GROUP BY la.lbl
),
comm AS (
    SELECT d.lbl AS community, d.community_size,
           CAST(coalesce(i.internal_edges, 0) AS BIGINT) AS internal_edges,
           d.degree_sum, m.m
    FROM dsum d LEFT JOIN internal i ON i.lbl = d.lbl CROSS JOIN mrow m
),
x AS (
    -- exact-BIGINT modularity fold: Σ(4m·e_c − d_c²) in integers, one
    -- final double division (see graph_modularity docstring)
    SELECT community, community_size, internal_edges, degree_sum,
           CAST(4 * m * internal_edges - degree_sum * degree_sum AS BIGINT) AS num,
           CAST(4 * m * m AS DOUBLE) AS den
    FROM comm
)
SELECT community, community_size, internal_edges, degree_sum,
       floor(CAST(num AS DOUBLE) / den * 1e6) / 1e6 AS contribution,
       floor(CAST(sum(num) OVER () AS BIGINT) / den * 1e6) / 1e6 AS modularity
FROM x
"""


# ---------------------------------------------------------------------------
# local clustering coefficient + global transitivity
# ---------------------------------------------------------------------------


def graph_clustering(spark: SparkSession, sf_dir: str, *, top_n: int = 20, orient: str = "auto") -> DataFrame:
    """Local clustering coefficient per node over the co-purchase graph —
    lcc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)), "how close is v's
    neighborhood to a clique" — plus the GLOBAL transitivity
    3·triangles / wedges on every row. Top-N nodes by lcc. The per-node
    refinement of graph_triangles' raw counts (a node on many triangles of
    a hub can still have a sparse neighborhood; lcc normalizes by the
    possible pairs).

    Shares graph_triangles' oriented-wedge core (:func:`_node_triangles`
    — every triangle generated once at its lowest corner, two equi-joins,
    never cartesian) INCLUDING its ``orient="auto"`` degree-orientation
    flip (r13, VERDICT r12: this operator used to hardcode id orientation
    behind a docstring argument; at a power-law graph the hub wedge join
    detonates, and the stats collect it needs is the same degrees pass lcc
    already pays for). Orientation changes enumeration order only — the
    triangle set, and so every lcc, is orientation-invariant (pinned in
    tests), which is why the canonical-order oracle needs no change.
    Per-node counts from one corner explode + map-side combine. Transitivity avoids any double
    averaging: 3T and Σ deg(deg−1)/2 are EXACT longs combined in one final
    division (a float average over nodes would be partial-order-sensitive
    across engines). Degrees left-join the triangle counts so
    triangle-free nodes keep lcc = 0."""
    edges = _copurchase_edges(_order_parts(spark, sf_dir)).localCheckpoint(eager=False)
    deg = (
        _undirected(edges).groupBy(F.col("pa").alias("node")).agg(F.count(F.lit(1)).alias("degree"))
        # ONE degrees pass serves the stats collect, the degree-orientation
        # ranking inside _node_triangles AND the lcc join-back — cut
        # the lineage so each use doesn't re-shuffle the edge list.
        .localCheckpoint(eager=False)
    )
    # the 2-scalar orientation/broadcast/partition stats off the SAME
    # degrees aggregate lcc consumes below (one extra tiny agg, zero new
    # scans); a forced orient still needs m for the SHJ partition count.
    stats = deg.agg(
        F.max("degree").alias("max_deg"), (F.sum("degree") / 2).cast("long").alias("m")
    ).collect()[0]
    tcounts = _node_triangles(edges, orient, stats, deg=deg.select("node", F.col("degree").alias("deg")))
    nodes = (
        deg.join(tcounts, "node", "left")
        .withColumn("n_triangles", F.coalesce("n_triangles", F.lit(0)).cast("long"))
        .filter(F.col("degree") >= 2)
        # pin: nodes feeds the global transitivity agg AND the output
        # projection — unpinned, the whole triangle enumeration (the
        # expensive wedge join inside tcounts) runs twice (r14). One row
        # per node with degree ≥ 2.
        .localCheckpoint(eager=False)
    )
    glob = nodes.agg(
        F.sum("n_triangles").alias("t3"),  # Σ per-node counts = 3·triangles
        # deg·(deg−1) is always even, so `div 2` per row is exact and the
        # fold is a pure BIGINT sum — a double division here would sum
        # doubles and silently lose exactness past 2^53 (ADVICE r7),
        # diverging from the oracle's integer `// 2` fold.
        F.sum(F.expr("(degree * (degree - 1)) div 2")).cast("long").alias("wedges"),
    )
    dd = F.col("degree").cast("double")
    lcc = 2.0 * F.col("n_triangles").cast("double") / (dd * (dd - 1.0))
    return (
        nodes.crossJoin(F.broadcast(glob))
        .select(
            "node",
            "degree",
            "n_triangles",
            (F.floor(lcc * 1e6) / 1e6).alias("lcc"),
            (F.floor(F.col("t3").cast("double") / F.col("wedges").cast("double") * 1e6) / 1e6).alias("transitivity"),
        )
        .orderBy(F.col("lcc").desc(), F.col("n_triangles").desc(), F.col("node"))
        .limit(top_n)
    )


GRAPH_CLUSTERING_SQL = f"""
WITH {_EDGES_SQL},
und AS (SELECT pa, pb FROM edges UNION ALL SELECT pb, pa FROM edges),
deg AS (SELECT pa AS node, count(*) AS degree FROM und GROUP BY pa),
tri AS (
    SELECT e1.pa AS x, e1.pb AS y, e2.pb AS z
    FROM edges e1
    JOIN edges e2 ON e2.pa = e1.pb
    JOIN edges e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
),
tcounts AS (
    SELECT node, count(*) AS n_triangles FROM (
        SELECT x AS node FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri
    ) GROUP BY node
),
nodes AS (
    SELECT d.node, d.degree, CAST(coalesce(t.n_triangles, 0) AS BIGINT) AS n_triangles
    FROM deg d LEFT JOIN tcounts t ON t.node = d.node
    WHERE d.degree >= 2
),
tot AS (
    SELECT CAST(sum(n_triangles) AS BIGINT) AS t3,
           CAST(sum(degree * (degree - 1) // 2) AS BIGINT) AS wedges
    FROM nodes
)
SELECT n.node, n.degree, n.n_triangles,
       floor(2.0 * CAST(n.n_triangles AS DOUBLE)
             / (CAST(n.degree AS DOUBLE) * (CAST(n.degree AS DOUBLE) - 1.0)) * 1e6) / 1e6 AS lcc,
       floor(CAST(g.t3 AS DOUBLE) / CAST(g.wedges AS DOUBLE) * 1e6) / 1e6 AS transitivity
FROM nodes n CROSS JOIN tot g
ORDER BY lcc DESC, n.n_triangles DESC, n.node
LIMIT 20
"""


# ---------------------------------------------------------------------------
# sample-ratio mismatch — experiment assignment health
# ---------------------------------------------------------------------------

_SRM_BUCKETS = 12
_SRM_CHI2_CRIT = 24.725  # chi-square df=11, p=0.01


def events_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch health check for the experiment assignment
    behind events_abtest: users hash into {0..11} buckets via a
    Knuth-multiplicative mix of user_id; under a healthy randomizer every
    bucket holds ≈ 1/12 of users, and the df=11 χ² against uniform flags a
    broken assignment pipe at p < 0.01 — the canonical pre-test gate
    (Fabijan et al. 2019: an SRM invalidates the experiment no matter how
    good the p-value looks).

    Shape: one user-grained aggregate (users are already the grain — no
    distinct shuffle), a 12-group map-side-combined count, and a 12-row
    window rollup. The bucket mix is pure BIGINT arithmetic (multiply, mod)
    identical in both engines — no engine hash functions, which don't
    match across Spark and DuckDB.

    χ² is an exact-BIGINT fold, not a float sum: with exp = T/12, each
    contribution is (n_b − T/12)²/(T/12) = (12·n_b − T)²/(12·T), so
    Σ(12·n_b − T)² accumulates as exact integers (order-insensitive) and
    the only double op is ONE final division — a float Σcontrib window-sum
    diverged between the engines at sf0.001, where the total landed
    exactly on a 1e-6 floor boundary (17.05 vs 17.049999). The integer
    square stays under 2^63 for T up to ~8·10⁸ users per the 11·T
    worst-case deviation bound.

    The χ² is UNCONDITIONAL on observed buckets (ADVICE r8): the groupBy
    result is left-joined back onto the full 0..11 bucket domain, so an
    EMPTY bucket — the strongest possible SRM signal — surfaces as an
    n_users=0 row contributing (12·0 − T)² = T² to the numerator instead
    of being silently dropped by the aggregate."""
    ev = load_table(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    bucket = (F.col("user_id") * F.lit(2654435761).cast("long")) % F.lit(2147483648).cast("long") % _SRM_BUCKETS
    observed = users.groupBy(bucket.cast("int").alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("n_events").cast("long").alias("n_events"),
    )
    domain = spark.range(_SRM_BUCKETS).select(F.col("id").cast("int").alias("bucket"))
    d = domain.join(observed, "bucket", "left").select(
        "bucket",
        F.coalesce("n_users", F.lit(0)).cast("long").alias("n_users"),
        F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
    )
    # bounded: runs over the 12-row month-bucket aggregate
    w = Window.partitionBy()
    # |12·n_b − T| ≤ 11·T, so dev² ≤ 121·T² stays under 2^63 for T up to
    # ~8·10⁸ users. Past the bound Spark's non-ANSI multiply wraps silently
    # while the DuckDB oracle aborts (ADVICE r8) — raise loudly instead.
    total_raw = F.sum("n_users").over(w).cast("long")
    total_i = F.when(total_raw <= F.lit(800_000_000).cast("long"), total_raw).otherwise(
        F.raise_error(
            F.concat(
                F.lit("events_srm: T="),
                total_raw.cast("string"),
                F.lit(" users exceeds the exact-BIGINT chi-square bound (~8e8); "
                      "(12n-T)^2 would overflow int64 — shard the fold"),
            )
        ).cast("long")
    )
    dev = F.lit(_SRM_BUCKETS).cast("long") * F.col("n_users") - total_i
    num = (dev * dev).alias("_num")  # exact BIGINT per bucket
    denom = (F.lit(_SRM_BUCKETS).cast("long") * total_i).cast("double")
    d = d.select(
        "bucket", "n_users", "n_events",
        (F.floor(F.col("n_users").cast("double") / total_i.cast("double") * 1e6) / 1e6).alias("share"),
        num,
        denom.alias("_den"),
    )
    chi2 = F.sum("_num").over(w).cast("double") / F.col("_den")
    return d.select(
        "bucket", "n_users", "n_events", "share",
        (F.floor(F.col("_num").cast("double") / F.col("_den") * 1e6) / 1e6).alias("chi2_contrib"),
        (F.floor(chi2 * 1e6) / 1e6).alias("chi2_total"),
        F.when(chi2 > _SRM_CHI2_CRIT, F.lit("srm_detected")).otherwise(F.lit("healthy")).alias("verdict"),
    )


EVENTS_SRM_SQL = f"""
WITH users AS (
    SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id
),
observed AS (
    SELECT CAST(user_id * 2654435761 % 2147483648 % {_SRM_BUCKETS} AS INT) AS bucket,
           count(*) AS n_users, CAST(sum(n_events) AS BIGINT) AS n_events
    FROM users GROUP BY 1
),
-- unconditional χ²: left-join the full 0..11 domain so an EMPTY bucket
-- contributes (12·0 − T)² = T² instead of vanishing from the aggregate
buckets AS (
    SELECT d.bucket,
           CAST(COALESCE(o.n_users, 0) AS BIGINT) AS n_users,
           CAST(COALESCE(o.n_events, 0) AS BIGINT) AS n_events
    FROM (SELECT CAST(range AS INT) AS bucket FROM range({_SRM_BUCKETS})) d
    LEFT JOIN observed o USING (bucket)
),
c AS (
    SELECT bucket, n_users, n_events,
           CAST(sum(n_users) OVER () AS BIGINT) AS total_i
    FROM buckets
),
x AS (
    -- exact-BIGINT chi2 fold: (12·n − T)² sums as integers, the only
    -- double op is the final /(12·T) (see events_srm docstring)
    SELECT bucket, n_users, n_events, total_i,
           CAST({_SRM_BUCKETS} * n_users - total_i AS BIGINT)
           * CAST({_SRM_BUCKETS} * n_users - total_i AS BIGINT) AS num,
           CAST({_SRM_BUCKETS} * total_i AS DOUBLE) AS den
    FROM c
)
SELECT bucket, n_users, n_events,
       floor(CAST(n_users AS DOUBLE) / CAST(total_i AS DOUBLE) * 1e6) / 1e6 AS share,
       floor(CAST(num AS DOUBLE) / den * 1e6) / 1e6 AS chi2_contrib,
       floor(CAST(sum(num) OVER () AS DOUBLE) / den * 1e6) / 1e6 AS chi2_total,
       CASE WHEN CAST(sum(num) OVER () AS DOUBLE) / den > {_SRM_CHI2_CRIT!r} THEN 'srm_detected' ELSE 'healthy' END AS verdict
FROM x
"""


# ---------------------------------------------------------------------------
# experiment power analysis — MDE and required sample size
# ---------------------------------------------------------------------------

_POWER_Z_ALPHA = 1.959963984540054  # two-sided alpha = 0.05
_POWER_Z_BETA = 0.8416212335729143  # power = 0.80


def events_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power analysis for the events_abtest experiment: the minimum
    detectable effect at alpha 0.05 / power 0.80 given the observed arm
    sizes and pooled rate, the per-arm sample size the OBSERVED delta
    would need, and the powered/underpowered verdict — the question asked
    right after (or, properly, before) reading the z-test: "could this
    experiment even see the effect it's looking for?".

    Composes the same one-pass user-grained conversion aggregate as
    events_abtest (exact integer counts; the variant split and conversion
    predicate are shared constants). One row out; normal quantiles are
    python literals — no engine erf/quantile functions, which don't match
    across engines."""
    ev = load_table(spark, sf_dir, "events")
    conv = (F.col("event_type") == "purchase") & (F.col("value") >= _ABTEST_VALUE_MIN)
    per_user = ev.groupBy("user_id").agg(F.max(F.when(conv, 1).otherwise(0)).alias("converted"))
    per_variant = per_user.groupBy((F.col("user_id") % 2).alias("variant")).agg(
        F.count(F.lit(1)).alias("n_users"), F.sum("converted").alias("n_conv")
    )
    a = per_variant.filter(F.col("variant") == 0).select(
        F.col("n_users").alias("n_a"), F.col("n_conv").alias("conv_a")
    )
    b = per_variant.filter(F.col("variant") == 1).select(
        F.col("n_users").alias("n_b"), F.col("n_conv").alias("conv_b")
    )
    j = a.join(F.broadcast(b))
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    p_a = F.col("conv_a").cast("double") / na
    p_b = F.col("conv_b").cast("double") / nb
    pool = (F.col("conv_a") + F.col("conv_b")).cast("double") / (F.col("n_a") + F.col("n_b")).cast("double")
    se = F.sqrt(pool * (1.0 - pool) * (1.0 / na + 1.0 / nb))
    zsum = _POWER_Z_ALPHA + _POWER_Z_BETA
    mde = zsum * se
    delta = p_b - p_a
    need_n = F.when(
        delta != 0.0,
        F.ceil(zsum * zsum * 2.0 * pool * (1.0 - pool) / (delta * delta)).cast("long"),
    )
    verdict = F.when(F.abs(delta) >= mde, F.lit("powered")).otherwise(F.lit("underpowered"))
    return j.select(
        "n_a", "conv_a", "n_b", "conv_b",
        (F.floor(delta * 1e6) / 1e6).alias("observed_delta"),
        (F.floor(mde * 1e6) / 1e6).alias("mde_abs"),
        need_n.alias("needed_n_per_arm"),
        verdict.alias("verdict"),
    )


EVENTS_POWER_SQL = f"""
WITH per_user AS (
    SELECT user_id,
           max(CASE WHEN event_type = 'purchase' AND value >= {_ABTEST_VALUE_MIN} THEN 1 ELSE 0 END) AS converted
    FROM events GROUP BY user_id
),
pv AS (
    SELECT user_id % 2 AS variant, count(*) AS n_users, CAST(sum(converted) AS BIGINT) AS n_conv
    FROM per_user GROUP BY 1
),
j AS (
    SELECT a.n_users AS n_a, a.n_conv AS conv_a, b.n_users AS n_b, b.n_conv AS conv_b
    FROM (SELECT * FROM pv WHERE variant = 0) a, (SELECT * FROM pv WHERE variant = 1) b
),
m AS (
    SELECT n_a, conv_a, n_b, conv_b,
           CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE)
               - CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS delta,
           CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) AS pool
    FROM j
),
x AS (
    SELECT *,
           {_POWER_Z_ALPHA + _POWER_Z_BETA!r}
               * sqrt(pool * (1.0 - pool) * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))) AS mde
    FROM m
)
SELECT n_a, conv_a, n_b, conv_b,
       floor(delta * 1e6) / 1e6 AS observed_delta,
       floor(mde * 1e6) / 1e6 AS mde_abs,
       CASE WHEN delta != 0.0 THEN CAST(ceil({(_POWER_Z_ALPHA + _POWER_Z_BETA) ** 2!r} * 2.0 * pool * (1.0 - pool)
                                             / (delta * delta)) AS BIGINT) END AS needed_n_per_arm,
       CASE WHEN abs(delta) >= mde THEN 'powered' ELSE 'underpowered' END AS verdict
FROM x
"""


# ---------------------------------------------------------------------------
# daily volume anomalies — platform-level monitoring
# ---------------------------------------------------------------------------

_DAILY_Z_CRIT = 2.0


def events_anomaly_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Platform-level daily volume anomalies, day-of-week adjusted: each
    day's event count is z-scored against ITS OWN weekday's mean/σ (a quiet
    Sunday is normal; a Sunday-sized Wednesday is the incident) — the
    monitoring complement to the per-user detectors (ts_anomaly_*,
    stream_anomaly_v2) at the whole-platform grain.

    The weekday index is pure integer arithmetic (days-since-epoch mod 7)
    — engine dow() conventions differ (Spark 1=Sun, DuckDB 0=Sun), so
    neither is used. One daily count (map-side combined), a 7-key weekday
    rollup broadcast back, and exact-integer sums feeding the only double
    math at the end. Output is #days rows — bounded by the calendar, not
    the data.

    Sensitivity note: each day sits inside its own weekday baseline, so a
    single outlier among k same-weekday samples is bounded at
    |z| ≤ √(k−1) — the detector needs ≥ 6 weeks of history before the
    |z| > 2 gate is even reachable (pinned in the spike test)."""
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts")
    daily = ev.groupBy(day.alias("day")).agg(F.count(F.lit(1)).alias("n_events"))
    dow = (F.datediff(F.col("day"), F.lit("1970-01-01")) % 7).cast("int")
    daily = daily.withColumn("dow_idx", dow)
    stats = daily.groupBy("dow_idx").agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n_events").alias("s1"),
        F.sum(F.col("n_events") * F.col("n_events")).alias("s2"),
    )
    j = daily.join(F.broadcast(stats), "dow_idx")
    kd = F.col("k").cast("double")
    mean = F.col("s1").cast("double") / kd
    sd = F.sqrt(F.greatest(F.col("s2").cast("double") / kd - mean * mean, F.lit(0.0)))
    z = F.when(sd > 0.0, (F.col("n_events").cast("double") - mean) / sd)
    verdict = (
        F.when(F.abs(z) > _DAILY_Z_CRIT, F.lit("anomalous"))
        .when(z.isNotNull(), F.lit("normal"))
    )
    return j.select(
        "day",
        "dow_idx",
        "n_events",
        (F.floor(mean * 1e6) / 1e6).alias("dow_mean"),
        F.when(z.isNotNull(), F.floor(z * 1e6) / 1e6).alias("z"),
        verdict.alias("verdict"),
    )


EVENTS_ANOMALY_DAILY_SQL = f"""
WITH daily AS (
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, count(*) AS n_events
    FROM events GROUP BY 1
),
d AS (
    SELECT day, n_events,
           CAST(datediff('day', DATE '1970-01-01', day) % 7 AS INT) AS dow_idx
    FROM daily
),
stats AS (
    SELECT dow_idx, count(*) AS k,
           CAST(sum(n_events) AS BIGINT) AS s1,
           CAST(sum(n_events * n_events) AS BIGINT) AS s2
    FROM d GROUP BY dow_idx
),
j AS (
    SELECT d.day, d.dow_idx, d.n_events,
           CAST(s.s1 AS DOUBLE) / CAST(s.k AS DOUBLE) AS mean,
           sqrt(greatest(CAST(s.s2 AS DOUBLE) / CAST(s.k AS DOUBLE)
                - (CAST(s.s1 AS DOUBLE) / CAST(s.k AS DOUBLE)) * (CAST(s.s1 AS DOUBLE) / CAST(s.k AS DOUBLE)), 0.0)) AS sd
    FROM d JOIN stats s ON s.dow_idx = d.dow_idx
)
SELECT day, dow_idx, n_events,
       floor(mean * 1e6) / 1e6 AS dow_mean,
       CASE WHEN sd > 0.0 THEN floor((CAST(n_events AS DOUBLE) - mean) / sd * 1e6) / 1e6 END AS z,
       CASE WHEN sd > 0.0 AND abs((CAST(n_events AS DOUBLE) - mean) / sd) > {_DAILY_Z_CRIT!r} THEN 'anomalous'
            WHEN sd > 0.0 THEN 'normal' END AS verdict
FROM j
"""


# ---------------------------------------------------------------------------
# Markov stationary distribution — long-run journey mix
# ---------------------------------------------------------------------------

_STATIONARY_ITERS = 6


def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-run stationary distribution of the events_markov journey
    chain: where does a user's action mix converge if the observed
    transition behavior persists — the steady-state complement to
    events_markov's one-step matrix (capacity planning reads this as the
    eventual per-action load shares). Fixed-point via ``_STATIONARY_ITERS``
    synchronous power iterations from the uniform vector.

    Chain closure: the universe is the types WITH outgoing transitions and
    rows renormalize within it (a sink type would otherwise leak mass and
    the totals stop summing to 1 — documented spec, applied identically in
    the oracle). Each iteration is a ≤k²-row join; the per-type Σ p·π
    accumulates through a SORTED-array fold so the double addition order
    is pinned cross-engine (k ≤ 5 — the grid is vocabulary-sized, the
    events scan happens exactly once)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = ev.select(
        F.col("event_type").alias("next_type"), F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    grid = steps.groupBy("prev_type", "next_type").agg(F.count(F.lit(1)).alias("n"))
    universe = grid.select(F.col("prev_type").alias("t")).distinct()
    closed = grid.join(universe.select(F.col("t").alias("next_type")), "next_type")
    totals = closed.groupBy("prev_type").agg(F.sum("n").alias("row_total"))
    p = closed.join(totals, "prev_type").select(
        "prev_type", "next_type",
        (F.col("n").cast("double") / F.col("row_total").cast("double")).alias("p"),
    ).localCheckpoint(eager=False)
    k = universe.agg(F.count(F.lit(1)).alias("k"))
    pi = universe.crossJoin(F.broadcast(k)).select(
        F.col("t").alias("event_type"), (F.lit(1.0) / F.col("k").cast("double")).alias("pi")
    )
    for _ in range(_STATIONARY_ITERS):
        terms = pi.join(p, pi.event_type == p.prev_type).select(
            F.col("next_type"), F.col("prev_type"), (F.col("pi") * F.col("p")).alias("term")
        )
        pi = (
            terms.groupBy(F.col("next_type").alias("event_type"))
            .agg(F.array_sort(F.collect_list(F.struct("prev_type", "term"))).alias("arr"))
            .select(
                "event_type",
                F.aggregate("arr", F.lit(0.0), lambda a, x: a + x["term"]).alias("pi"),
            )
        )
    # bounded: ranks the |event_type|-row stationary vector
    r = Window.orderBy(F.col("pi").desc(), F.col("event_type"))
    return pi.select(
        "event_type",
        (F.floor(F.col("pi") * 1e6) / 1e6).alias("stationary_p"),
        F.row_number().over(r).alias("rank"),
    )


def _stationary_iter_sql(prev: str, out: str) -> str:
    return f"""
{out} AS (
    SELECT next_type AS event_type,
           list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE),
                   list_transform(list_sort(list(struct_pack(pt := prev_type, term := pi * p))),
                                  s -> s.term)),
               (a, b) -> a + b) AS pi
    FROM {prev} v JOIN p ON p.prev_type = v.event_type
    GROUP BY next_type
)"""


EVENTS_MARKOV_STATIONARY_SQL = f"""
WITH steps AS (
    SELECT event_type AS next_type,
           lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
    FROM events
),
grid AS (
    SELECT prev_type, next_type, count(*) AS n FROM steps
    WHERE prev_type IS NOT NULL GROUP BY 1, 2
),
universe AS (SELECT DISTINCT prev_type AS t FROM grid),
closed AS (
    SELECT g.* FROM grid g JOIN universe u ON u.t = g.next_type
),
totals AS (SELECT prev_type, sum(n) AS row_total FROM closed GROUP BY prev_type),
p AS (
    SELECT c.prev_type, c.next_type,
           CAST(c.n AS DOUBLE) / CAST(t.row_total AS DOUBLE) AS p
    FROM closed c JOIN totals t ON t.prev_type = c.prev_type
),
pi0 AS (
    SELECT t AS event_type, 1.0 / CAST((SELECT count(*) FROM universe) AS DOUBLE) AS pi
    FROM universe
),
{",".join(_stationary_iter_sql(f"pi{i}", f"pi{i + 1}") for i in range(_STATIONARY_ITERS))}
SELECT event_type,
       floor(pi * 1e6) / 1e6 AS stationary_p,
       row_number() OVER (ORDER BY pi DESC, event_type) AS rank
FROM pi{_STATIONARY_ITERS}
"""


# ---------------------------------------------------------------------------
# degree assortativity — hub-mixing structure
# ---------------------------------------------------------------------------

_ASSORT_NEUTRAL = 0.05


def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase graph (Newman 2002): the
    Pearson correlation of endpoint degrees over all directed edges —
    positive = hubs link to hubs (social-style), negative = hubs link to
    leaves (hub-and-spoke), the one-number mixing profile that predicts
    whether degree-orientation (graph_triangles' power-law path) buys
    anything. Complements graph_degree_profile's tail index: α̂ reads the
    degree DISTRIBUTION, r reads the degree CORRELATION STRUCTURE.

    One-row output from exact BIGINT moment sums (Σx, Σy, Σxy, Σx², Σy²
    over the 2m directed edge rows — degrees are dimension-bounded ints,
    sums exact; both directions included so x/y are symmetric and r is
    orientation-free). Two node-keyed joins of the KB-sized degree table,
    one map-side-combined rollup, one final double projection."""
    # the edge list feeds the degree agg AND the edge join
    und = _undirected(_copurchase_edges(_order_parts(spark, sf_dir)).localCheckpoint(eager=False))
    deg = und.groupBy(F.col("pa").alias("node")).agg(F.count(F.lit(1)).alias("deg"))
    j = (
        und.join(F.broadcast(deg.select(F.col("node").alias("pa"), F.col("deg").alias("dx"))), "pa")
        .join(F.broadcast(deg.select(F.col("node").alias("pb"), F.col("deg").alias("dy"))), "pb")
    )
    g = j.agg(
        F.count(F.lit(1)).alias("n_dir_edges"),
        F.sum("dx").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
    )
    n = F.col("n_dir_edges").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx, syy = F.col("sxy").cast("double"), F.col("sxx").cast("double"), F.col("syy").cast("double")
    num = n * sxy - sx * sy
    den = F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    r = F.when(den > 0.0, num / den)
    verdict = (
        F.when(r > _ASSORT_NEUTRAL, F.lit("assortative"))
        .when(r < -_ASSORT_NEUTRAL, F.lit("disassortative"))
        .when(r.isNotNull(), F.lit("neutral"))
    )
    return g.select(
        (F.col("n_dir_edges") / 2).cast("long").alias("n_edges"),
        F.when(r.isNotNull(), F.floor(r * 1e6) / 1e6).alias("assortativity"),
        verdict.alias("verdict"),
    )


GRAPH_ASSORTATIVITY_SQL = f"""
WITH {_EDGES_SQL},
und AS (SELECT pa, pb FROM edges UNION ALL SELECT pb, pa FROM edges),
deg AS (SELECT pa AS node, count(*) AS deg FROM und GROUP BY pa),
j AS (
    SELECT dx.deg AS dx, dy.deg AS dy
    FROM und u JOIN deg dx ON dx.node = u.pa JOIN deg dy ON dy.node = u.pb
),
g AS (
    SELECT count(*) AS n_dir_edges,
           CAST(sum(dx) AS BIGINT) AS sx, CAST(sum(dy) AS BIGINT) AS sy,
           CAST(sum(dx * dy) AS BIGINT) AS sxy,
           CAST(sum(dx * dx) AS BIGINT) AS sxx,
           CAST(sum(dy * dy) AS BIGINT) AS syy
    FROM j
),
m AS (
    SELECT n_dir_edges,
           CAST(n_dir_edges AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
           sqrt(CAST(n_dir_edges AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
           * sqrt(CAST(n_dir_edges AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) AS den
    FROM g
)
SELECT CAST(n_dir_edges // 2 AS BIGINT) AS n_edges,
       CASE WHEN den > 0.0 THEN floor(num / den * 1e6) / 1e6 END AS assortativity,
       CASE WHEN den > 0.0 AND num / den > {_ASSORT_NEUTRAL!r} THEN 'assortative'
            WHEN den > 0.0 AND num / den < -{_ASSORT_NEUTRAL!r} THEN 'disassortative'
            WHEN den > 0.0 THEN 'neutral' END AS verdict
FROM m
"""


# ---------------------------------------------------------------------------
# LTV curve — cumulative revenue per user by cohort age
# ---------------------------------------------------------------------------


def events_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curve: for each first-activity-week cohort, cumulative
    purchase revenue PER COHORT USER by week offset — the payback-period
    readout ("when does a January user clear acquisition cost?") that
    events_cohort's retention counts feed but don't answer. One row per
    (cohort, age) cell, revenue in exact cents until the final division.

    Shape: first-seen is one user-grained aggregate (events_cohort's);
    weekly purchase revenue re-uses the same user→cohort join; the
    cumulative sum is a window over the per-cohort age axis — a few
    hundred cells, not the event stream. Cohort size divides at the end,
    so mid-cohort churn correctly drags the average (the standard LTV
    definition)."""
    ev = load_table(spark, sf_dir, "events")
    wk = F.date_trunc("week", "ts")
    uw = ev.select("user_id", wk.alias("wk")).distinct()
    first = uw.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    sizes = first.groupBy("cohort_wk").agg(F.count(F.lit(1)).alias("n_users"))
    rev = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", wk.alias("wk"), (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"))
        .join(first, "user_id")
    )
    week_off = (
        (F.unix_micros("wk") - F.unix_micros("cohort_wk")) / (7 * 24 * 3600 * 1_000_000)
    ).cast("int")
    cells = rev.groupBy("cohort_wk", week_off.alias("week_offset")).agg(
        F.sum("cents").alias("rev_cents")
    )
    w = Window.partitionBy("cohort_wk").orderBy("week_offset").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cells = cells.withColumn("cum_cents", F.sum("rev_cents").over(w)).join(
        F.broadcast(sizes), "cohort_wk"
    )
    return cells.select(
        "cohort_wk",
        "week_offset",
        "n_users",
        (F.floor(F.col("rev_cents").cast("double") / 100.0 * 1e6) / 1e6).alias("revenue"),
        (F.floor(F.col("cum_cents").cast("double") / F.col("n_users").cast("double") / 100.0 * 1e6) / 1e6).alias("cum_ltv"),
    )


EVENTS_LTV_SQL = """
WITH uw AS (
    SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS wk FROM events
),
first AS (
    SELECT user_id, min(wk) AS cohort_wk FROM uw GROUP BY user_id
),
sizes AS (
    SELECT cohort_wk, count(*) AS n_users FROM first GROUP BY cohort_wk
),
rev AS (
    SELECT f.cohort_wk,
           CAST((epoch_us(CAST(date_trunc('week', e.ts) AS TIMESTAMP)) - epoch_us(f.cohort_wk))
                // (7 * 24 * 3600 * CAST(1000000 AS BIGINT)) AS INT) AS week_offset,
           CAST(CAST(e.value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
    FROM events e JOIN first f ON f.user_id = e.user_id
    WHERE e.event_type = 'purchase'
),
cells AS (
    SELECT cohort_wk, week_offset, CAST(sum(cents) AS BIGINT) AS rev_cents
    FROM rev GROUP BY 1, 2
),
c AS (
    SELECT cohort_wk, week_offset, rev_cents,
           CAST(sum(rev_cents) OVER (PARTITION BY cohort_wk ORDER BY week_offset
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents
    FROM cells
)
SELECT c.cohort_wk, c.week_offset, s.n_users,
       floor(CAST(c.rev_cents AS DOUBLE) / 100.0 * 1e6) / 1e6 AS revenue,
       floor(CAST(c.cum_cents AS DOUBLE) / CAST(s.n_users AS DOUBLE) / 100.0 * 1e6) / 1e6 AS cum_ltv
FROM c JOIN sizes s ON s.cohort_wk = c.cohort_wk
"""


# ---------------------------------------------------------------------------
# DAU / new-vs-returning / stickiness — the daily engagement board
# ---------------------------------------------------------------------------


def events_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The daily engagement board: DAU split into new vs returning users,
    trailing-7-day WAU, and stickiness DAU/WAU — the first dashboard every
    product team builds on an event stream (events_cohort reads retention
    by cohort; this reads the same dynamics calendar-first).

    Shape: ONE (user, day) distinct pre-aggregation feeds everything —
    new/returning via a user-grained first-day join (never a second event
    scan), WAU via a bounded 7-row day-range join against the (user, day)
    frame followed by a distinct-by-construction count (users are already
    deduped per day, so counting (window_day, user) pairs after the range
    join needs one more distinct on a calendar-bounded frame, not a
    count-distinct shuffle over events). Stickiness is the only double,
    floor-scaled."""
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts")
    ud = ev.select("user_id", day.alias("day")).distinct().localCheckpoint(eager=False)
    first = ud.groupBy("user_id").agg(F.min("day").alias("first_day"))
    dau = (
        ud.join(first, "user_id")
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("dau"),
            F.sum(F.when(F.col("day") == F.col("first_day"), 1).otherwise(0)).cast("long").alias("new_users"),
        )
        .withColumn("returning_users", (F.col("dau") - F.col("new_users")).cast("long"))
    )
    days = ud.select("day").distinct()
    # trailing 7-day window membership: day-range join bounded by the calendar
    wau = (
        days.join(
            ud.select(F.col("day").alias("uday"), "user_id"),
            (F.col("uday") <= F.col("day"))
            & (F.col("uday") > F.col("day") - F.expr("INTERVAL 7 DAYS")),
        )
        .select("day", "user_id")
        .distinct()
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("wau"))
    )
    out = dau.join(wau, "day")
    return out.select(
        "day",
        "dau",
        "new_users",
        "returning_users",
        "wau",
        (F.floor(F.col("dau").cast("double") / F.col("wau").cast("double") * 1e6) / 1e6).alias("stickiness"),
    )


EVENTS_DAU_SQL = """
WITH ud AS (
    SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day FROM events
),
first AS (
    SELECT user_id, min(day) AS first_day FROM ud GROUP BY user_id
),
dau AS (
    SELECT u.day,
           count(*) AS dau,
           CAST(sum(CASE WHEN u.day = f.first_day THEN 1 ELSE 0 END) AS BIGINT) AS new_users
    FROM ud u JOIN first f ON f.user_id = u.user_id
    GROUP BY u.day
),
days AS (SELECT DISTINCT day FROM ud),
wau AS (
    SELECT d.day, count(*) AS wau FROM (
        SELECT DISTINCT d.day, u.user_id
        FROM days d JOIN ud u
          ON u.day <= d.day AND u.day > d.day - INTERVAL 7 DAY
    ) d GROUP BY d.day
)
SELECT d.day, d.dau, d.new_users,
       CAST(d.dau - d.new_users AS BIGINT) AS returning_users,
       w.wau,
       floor(CAST(d.dau AS DOUBLE) / CAST(w.wau AS DOUBLE) * 1e6) / 1e6 AS stickiness
FROM dau d JOIN wau w ON w.day = d.day
"""
