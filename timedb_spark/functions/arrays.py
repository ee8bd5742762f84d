"""Order statistics over sorted array columns.

The registry's exact medians are explicit picks from an ascending-sorted
array (the middle element, or the mean of the two middles), written the
same way in every DuckDB oracle, so both engines agree to the bit without
an interpolated percentile.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def sorted_median(arr: Column | str, n: Column | None = None) -> Column:
    """Median of an ascending-sorted array as a double; NULL when it is empty.

    The two middles are added in the array's own element type and the sum
    is cast after: a long pair whose sum passes 2^53 rounds once, as the
    oracles' ``CAST(a + b AS DOUBLE) / 2.0`` does, and a double array is
    never cast through long (its casts are no-ops). The even arm reads the
    middles with 0-based ``get``, which is NULL out of bounds, so an empty
    array yields NULL without a further reference to ``arr``.

    ``n`` is the array's length when the caller already holds it as a
    column; an inline ``array_sort(...)`` is then not repeated just to be
    measured.
    """
    arr = F.col(arr) if isinstance(arr, str) else arr
    p = F.size(arr) if n is None else n
    half = (p / 2).cast("int")
    return F.when(p % 2 == 1, F.element_at(arr, ((p + 1) / 2).cast("int")).cast("double")).otherwise(
        (F.get(arr, half - 1) + F.get(arr, half)).cast("double") / 2.0
    )


def sorted_median_sql(arr: str) -> str:
    """DuckDB twin of :func:`sorted_median` over the list expression
    ``arr`` (1-based indexing; an out-of-range index is NULL, so an empty
    list also yields NULL)."""
    return (
        f"CASE WHEN len({arr}) % 2 = 1 THEN CAST({arr}[(len({arr}) + 1) // 2] AS DOUBLE) "
        f"ELSE CAST({arr}[len({arr}) // 2] + {arr}[len({arr}) // 2 + 1] AS DOUBLE) / 2.0 END"
    )
