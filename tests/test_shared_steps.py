"""Shared steps of the operator families, checked directly against the
DuckDB expressions their oracles use: the sorted-array median
(``functions.arrays.sorted_median`` against ``sorted_median_sql``, the
oracles' ``CAST(a + b AS DOUBLE) / 2.0`` form) and the co-purchase edge
list (``analytics._copurchase_edges`` against the oracles' ``edges``
CTE)."""

import os

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from timedb_spark.functions.arrays import sorted_median, sorted_median_sql
from timedb_spark.operators import analytics

# 2^53 + 1 and 2^53 + 5: the sum 2^54 + 6 rounds once to 2^54 + 8 (median
# 2^53 + 4); casting each to double first rounds twice and gives 2^53 + 2.
_BIG = [9007199254740993, 9007199254740997]


def _duck_medians(arrays: list[list], elem: str) -> list:
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"i": range(len(arrays)), "x": arrays}))
    rows = con.execute(
        f"SELECT i, {sorted_median_sql('x')} FROM (SELECT i, CAST(x AS {elem}[]) AS x FROM t) ORDER BY i"
    ).fetchall()
    return [m for _, m in rows]


def test_sorted_median_long_arrays_match_oracle(spark):
    arrays = [[1, 2, 3], [1, 2, 3, 10], [7], [], _BIG, [-5, -1]]
    df = spark.createDataFrame([(i, a) for i, a in enumerate(arrays)], "i int, x array<bigint>")
    got = [r.m for r in df.orderBy("i").select(sorted_median("x").alias("m")).collect()]
    assert got == [2.0, 2.5, 7.0, None, 9007199254740996.0, -3.0]
    assert got == _duck_medians(arrays, "BIGINT")


def test_sorted_median_double_arrays_match_oracle(spark):
    # a double array must never pass through long: 0.35 and 0.2 would
    # truncate to 0
    arrays = [[0.1, 0.2, 0.35, 0.4], [0.25], [0.1, 0.2, 0.3]]
    df = spark.createDataFrame([(i, a) for i, a in enumerate(arrays)], "i int, x array<double>")
    got = [r.m for r in df.orderBy("i").select(sorted_median("x").alias("m")).collect()]
    assert got == [(0.2 + 0.35) / 2.0, 0.25, 0.2]
    assert got == _duck_medians(arrays, "DOUBLE")


def test_sorted_median_with_known_length(spark):
    """A caller holding the length as a column gets the same median,
    including NULL for length 0."""
    arrays = [[3, 1, 2], [4, 1, 3, 2], [], _BIG]
    df = spark.createDataFrame([(i, a) for i, a in enumerate(arrays)], "i int, x array<bigint>")
    got = [
        r.m
        for r in df.orderBy("i").select(sorted_median(F.array_sort("x"), F.size("x")).alias("m")).collect()
    ]
    assert got == [2.0, 2.5, None, 9007199254740996.0]


def test_copurchase_edges_match_oracle_edges_cte(spark, tmp_path):
    """Duplicate (order, part) lines, single-line orders and one pair bought
    in two orders: every distinct pa < pb edge appears exactly once, as in
    the oracles' ``edges`` CTE."""
    rows = [
        (1, 10), (1, 11), (1, 11), (1, 12),  # duplicate line of part 11
        (2, 10), (2, 11),                    # (10, 11) again in another order
        (3, 13),                             # single-line order: no edge
        (4, 14), (4, 14),                    # one part twice: no self-edge
        (5, 12), (5, 13), (5, 10),
    ]
    pdf = pd.DataFrame(rows, columns=["l_orderkey", "l_partkey"])
    d = str(tmp_path / "sf")
    os.makedirs(d)
    pdf.to_parquet(os.path.join(d, "lineitem.parquet"))

    got = sorted(
        (r.pa, r.pb) for r in analytics._copurchase_edges(analytics._order_parts(spark, d)).collect()
    )
    con = duckdb.connect()
    con.register("lineitem", pdf)
    want = sorted(con.execute(f"WITH {analytics._EDGES_SQL} SELECT pa, pb FROM edges").fetchall())
    assert got == want == [(10, 11), (10, 12), (10, 13), (11, 12), (12, 13)]
