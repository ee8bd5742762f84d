"""Time-series analytics operators over ``events`` (SURVEY §2f).

The query surface a TimeDB user reaches for right after the bitemporal
reads: regular-grid resampling with gap-fill (locf + linear interpolation),
multi-resolution rollups, gap-timeout sessionization, binned range joins,
top-k heavy hitters and exact quantiles.

Scale posture:
- grids are generated with ``sequence``+``explode`` (JVM, pipelined — never
  a driver loop);
- gap-fill/interpolation use windows partitioned by ``series`` — fine-
  grained keys ⇒ parallel sorts, no global sort anywhere;
- the range join is BINNED: both sides bucketed to days, the interval side
  exploded over its (bounded) day span, equi-join on the bucket, refined by
  the exact predicate — a shuffle-hash/sort-merge join at scale instead of
  the O(n·m) broadcast-nested-loop Spark would otherwise pick;
- rollup uses GROUPING SETS — one shuffle for all resolutions (partial aggs
  combine map-side).

The per-user array operators (theta, cusum, rsi, ljung_box, …) are built
from a few shared per-series steps: :func:`_cents_history` (each user's
values as exact integer cents in ``(ts, event_id)`` order, from one sorted
collect), :func:`_first_diffs` (one-step changes), :func:`_acf` (the
pinned centre → lag-k autocorrelation chain) with :func:`_ljung_box_q`,
and :func:`_holdout_maes` (the baseline holdout errors). Their DuckDB
oracles share the matching SQL fragments (``_CENTS_HIST_SQL``,
``_ACF_DENOM_SQL``, ``_LB_Q_SQL``).

Other shared steps: :func:`_dense_hourly` (each user's dense hourly cents
grid, ``_DENSE_HOURLY_SQL``) with :func:`_dft_fold` / :func:`_dft_power`
(one fused DFT fold over several periods, ``_dft_fold_sql`` per period)
for periodogram and spectral_entropy; :func:`_trailing_fold` (a left fold
over a ROWS-bounded trailing window) for ewma, holt and kalman_filter;
:func:`_moment_sums` + :func:`_pearson_r` (exact co-moment sums, one
double expression, ``_PEARSON_R_SQL``) for corr_matrix and ccf; and
:func:`timedb_spark.functions.arrays.sorted_median` for the exact medians
of hampel, anomaly_residual, mk_trend and runs_test.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from timedb_spark.functions.arrays import sorted_median, sorted_median_sql
from timedb_spark.functions.ordering import packed_lex
from timedb_spark.functions.rounding import floor6, floor6_sql, floor_scale, floor_scale_sql
from timedb_spark.io.tables import load_table


def _d(col: str):
    return F.col(col).cast("decimal(18,2)")


# ---------------------------------------------------------------------------
# shared per-series steps of the per-user array operators
# ---------------------------------------------------------------------------


def _cents_history(spark: SparkSession, sf_dir: str, min_obs: int | None = None) -> DataFrame:
    """Per-user ``(user_id, c, n_obs)``: the event values as exact integer
    cents (``array<long>``) in ``(ts, event_id)`` order, from ONE
    groupBy(user) sorted collect — the only shuffle of every operator built
    on it; per-user arrays are bounded by entity history (pre-filter by time
    for unbounded feeds). ``min_obs`` keeps users with at least that many
    observations."""
    ev = load_table(spark, sf_dir, "events")
    s = F.struct(F.col("ts"), F.col("event_id"), F.col("value"))
    g = ev.groupBy("user_id").agg(F.array_sort(F.collect_list(s)).alias("hist"))
    cents = F.transform("hist", lambda r: (r["value"].cast("decimal(18,2)") * 100).cast("long"))
    g = g.select("user_id", cents.alias("c"), F.size("hist").alias("n_obs"))
    return g if min_obs is None else g.filter(F.col("n_obs") >= min_obs)


#: DuckDB twin of :func:`_cents_history` (without the ``min_obs`` filter):
#: the ``hist(user_id, c)`` CTE the per-user array oracles start from.
_CENTS_HIST_SQL = """hist AS (
    SELECT user_id,
           list_transform(
               list_sort(list(struct_pack(ts := ts, e := event_id, v := value))),
               s -> CAST(CAST(s.v AS DECIMAL(18,2)) * 100 AS BIGINT)) AS c
    FROM events GROUP BY user_id
)"""


def _first_diffs() -> Column:
    """One-step changes ``c[i] − c[i−1]`` (i = 2..n_obs) of a
    :func:`_cents_history` frame, in exact integer cents."""
    return F.transform(
        F.sequence(F.lit(2), F.col("n_obs")),
        lambda i: F.element_at("c", i) - F.element_at("c", i - 1),
    )


def _acf(g: DataFrame, lags: int) -> DataFrame:
    """Sample autocorrelations ``r1..r{lags}`` of each user's array ``c``
    (length ``n_obs``): μ from an exact integer fold, the centred series,
    the squared-deviation denominator, then each lag's cross-product
    Σ(x_t−μ)(x_{t+k}−μ) as a fixed-order fold over the deviations, divided
    by the denominator (identical double op order in the list_reduce
    oracle, :func:`_lb_num_sql`). Zero-variance series drop. Returns
    ``(user_id, n_obs, r1..r{lags})``.

    The three lazy ``localCheckpoint`` pins hold one row per user — the
    query's own output cardinality. Without them Catalyst inlines ``mu``
    (itself a fold) into the ``dev`` lambda per element, ``dev`` into every
    ``element_at`` of the lag folds (25 fold nodes instead of 7 at five
    lags), and each r_k into every textual reference downstream (the
    Ljung–Box Q squares each r_k and is itself referenced twice). The
    denom > 0 guard runs BEFORE the last pin materializes the ANSI
    divisions."""
    zero = F.lit(0).cast("long")
    mu = F.aggregate("c", zero, lambda acc, x: acc + x).cast("double") / F.col("n_obs").cast("double")
    g = g.withColumn("mu", mu).localCheckpoint(eager=False)
    g = g.withColumn("dev", F.transform("c", lambda x: x.cast("double") - F.col("mu")))
    g = g.withColumn("denom", F.aggregate("dev", F.lit(0.0), lambda acc, x: acc + x * x))
    g = g.select("user_id", "n_obs", "dev", "denom").localCheckpoint(eager=False)

    def _num(k: int):
        return F.aggregate(
            F.sequence(F.lit(1), F.col("n_obs") - k),
            F.lit(0.0),
            lambda acc, t: acc
            + F.element_at("dev", t.cast("int")) * F.element_at("dev", (t + k).cast("int")),
        )

    g = g.filter(F.col("denom") > 0)
    return g.select(
        "user_id",
        "n_obs",
        *[(_num(k) / F.col("denom")).alias(f"r{k}") for k in range(1, lags + 1)],
    ).localCheckpoint(eager=False)


def _ljung_box_q() -> Column:
    """Ljung–Box Q = n(n+2) Σ_{k=1..5} r_k²/(n−k) over :func:`_acf`'s
    columns."""
    nd = F.col("n_obs").cast("double")
    q = F.lit(0.0)
    for k in range(1, _LB_LAGS + 1):
        q = q + F.col(f"r{k}") * F.col(f"r{k}") / (nd - float(k))
    return nd * (nd + 2.0) * q


# ---------------------------------------------------------------------------
# resample + gap-fill + interpolation
# ---------------------------------------------------------------------------


def resample_locf(
    series: DataFrame,
    *,
    key: str = "series_id",
    ts: str = "valid_time",
    value: str = "value",
    step: str = "1 hour",
) -> DataFrame:
    """Regular-grid resample with last-observation-carried-forward.

    Gap-pair generation, NOT grid-then-join: each observation knows its
    successor via ONE ``lead`` window, then explodes exactly the ticks it
    covers — ``[its tick, next tick)`` (the final observation emits only
    itself). The output is identical to the materialize-[min,max]-grid +
    left-join formulation (the grid's endpoints ARE observations), but the
    plan drops a whole aggregation (span), a grid/obs shuffle join, and the
    carry window: one shuffle for the tick collapse, one per-key sort,
    explode rides the scan. The carried value is simply the exploding row's
    own observation.
    """
    tick = F.date_trunc("hour", F.col(ts)).alias("tick")
    obs = series.select(F.col(key), tick, F.col(value)).groupBy(key, "tick").agg(F.max(value).alias("_obs"))
    w = Window.partitionBy(key).orderBy("tick")
    nxt = F.lead("tick").over(w)
    end = F.when(nxt.isNull(), F.col("tick")).otherwise(nxt - F.expr(f"interval {step}"))
    return (
        obs.select(F.col(key), F.col("tick").alias("_src"), F.col("_obs"), end.alias("_end"))
        .select(
            F.col(key),
            F.explode(F.sequence("_src", "_end", F.expr(f"interval {step}"))).alias(ts),
            F.col("_obs").alias(value),
            F.col("_src"),
        )
        .select(key, ts, value, (F.col(ts) != F.col("_src")).alias("gap_filled"))
    )


def interpolate_linear(
    series: DataFrame,
    *,
    key: str = "series_id",
    ts: str = "valid_time",
    value: str = "value",
    step: str = "1 hour",
) -> DataFrame:
    """Regular-grid resample with LINEAR interpolation between observations
    (endpoints carry; interior gaps get the time-weighted blend).

    Same gap-pair generation as :func:`resample_locf` — each observation
    carries its successor's (tick, value) from ONE ``lead`` window and
    explodes the ticks it covers, so BOTH interpolation endpoints arrive
    with the exploding row. This replaces the old grid-join + two
    opposite-direction carry windows (and sidesteps Spark's O(n²)
    shrinking-frame evaluation entirely): one shuffle, one per-key sort.
    Grid endpoints are observations, so the "no previous obs" case of the
    grid formulation cannot occur; the final observation (no successor)
    emits only itself.
    """
    tick = F.date_trunc("hour", F.col(ts)).alias("tick")
    obs = series.select(F.col(key), tick, F.col(value)).groupBy(key, "tick").agg(F.max(value).alias("_obs"))
    w = Window.partitionBy(key).orderBy("tick")
    nxt_t = F.lead("tick").over(w)
    nxt_v = F.lead("_obs").over(w)
    end = F.when(nxt_t.isNull(), F.col("tick")).otherwise(nxt_t - F.expr(f"interval {step}"))
    g = obs.select(
        F.col(key),
        F.col("tick").alias("_src"),
        F.col("_obs"),
        nxt_t.alias("_nt"),
        nxt_v.alias("_nv"),
        end.alias("_end"),
    ).select(
        F.col(key),
        F.explode(F.sequence("_src", "_end", F.expr(f"interval {step}"))).alias("tick"),
        "_src",
        "_obs",
        "_nt",
        "_nv",
    )
    # integer microseconds on both sides (== oracle's epoch_us) so the
    # interpolation's double arithmetic is bit-identical to DuckDB's
    t, t0, t1 = F.unix_micros("tick"), F.unix_micros("_src"), F.unix_micros("_nt")
    on_obs = F.col("tick") == F.col("_src")
    interp = F.when(on_obs, F.col("_obs")).otherwise(
        F.col("_obs") + (F.col("_nv") - F.col("_obs")) * (t - t0) / F.nullif(t1 - t0, F.lit(0))
    )
    # floor(x*1e6+0.5)/1e6 instead of round(): identical halfway behaviour in
    # every engine (Spark HALF_UPs the decimal repr, DuckDB rounds the scaled
    # double — they disagree on exact .5 ulps like 65.4046875)
    r6 = F.floor(interp * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return g.select(F.col(key), F.col("tick").alias(ts), r6.alias(value), (~on_obs).alias("gap_filled"))


# ---------------------------------------------------------------------------
# multi-resolution rollup (hypertable continuous-aggregate analogue)
# ---------------------------------------------------------------------------


def rollup_multires(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour + day + month aggregates of events in ONE pass via GROUPING SETS
    (one shuffle; partial aggs combine map-side — the Spark-native analogue
    of a hypertable's stacked continuous aggregates)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("hour", "ts").alias("h"),
        F.date_trunc("day", "ts").alias("d"),
        F.date_trunc("month", "ts").alias("m"),
        "value",
    )
    ev.createOrReplaceTempView("_ev_rollup")
    return spark.sql(
        """
        SELECT event_type,
               CASE WHEN h IS NOT NULL THEN 'hour' WHEN d IS NOT NULL THEN 'day' ELSE 'month' END AS resolution,
               coalesce(h, d, m) AS bucket,
               count(*) AS n_events,
               round(cast(sum(cast(value AS decimal(18,2))) AS double), 2) AS sum_value
        FROM _ev_rollup
        GROUP BY event_type, GROUPING SETS ((event_type, h), (event_type, d), (event_type, m))
        """
    ).drop("event_type1")


ROLLUP_MULTIRES_SQL = """
WITH ev AS (
    SELECT event_type,
           date_trunc('hour', ts)  AS h,
           date_trunc('day', ts)   AS d,
           date_trunc('month', ts) AS m,
           value
    FROM events
)
SELECT event_type,
       CASE WHEN h IS NOT NULL THEN 'hour' WHEN d IS NOT NULL THEN 'day' ELSE 'month' END AS resolution,
       coalesce(h, d, m) AS bucket,
       count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
FROM ev
GROUP BY GROUPING SETS ((event_type, h), (event_type, d), (event_type, m))
"""


# ---------------------------------------------------------------------------
# sessionization
# ---------------------------------------------------------------------------


def sessionize(spark: SparkSession, sf_dir: str, *, gap_minutes: int = 30) -> DataFrame:
    """Gap-timeout sessions per user: a new session starts when the gap to
    the previous event exceeds ``gap_minutes``. lag + running sum over the
    per-user time order — per-user partitions keep the sorts parallel."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    new_sess = F.when(gap.isNull() | (gap > gap_minutes * 60), 1).otherwise(0)
    sessions = ev.withColumn("_new", new_sess).withColumn(
        "session_seq", F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return sessions.groupBy("user_id", "session_seq").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(_d("value")).cast("double"), 2).alias("sum_value"),
    )


SESSIONIZE_SQL = """
WITH g AS (
    SELECT user_id, event_id, ts, value,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 30*60*1000000
                THEN 1 ELSE 0 END AS new_sess
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
    SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
    FROM g
)
SELECT user_id, session_seq,
       min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
FROM s GROUP BY user_id, session_seq
"""


def session_window_agg(spark: SparkSession, sf_dir: str, *, gap_minutes: int = 30) -> DataFrame:
    """Gap-timeout sessions via Spark's BUILT-IN ``session_window`` — the
    idiomatic spelling of :func:`sessionize` (and the one that transfers
    unchanged to Structured Streaming, where session_window + watermark is
    the native streaming sessionization).

    Semantics note vs the lag formulation: each event extends its session's
    window to ``ts + gap``; windows MERGE while they overlap, so a gap of
    EXACTLY ``gap_minutes`` starts a new session (end-exclusive windows) —
    the oracle therefore splits on ``>=`` where SESSIONIZE_SQL uses ``>``.
    Plan: session_window compiles to a per-user sort + merging aggregation,
    ONE shuffle on user_id — no running-sum window pass at all.
    """
    ev = load_table(spark, sf_dir, "events")
    sw = F.session_window("ts", f"{gap_minutes} minutes")
    return ev.groupBy("user_id", sw).agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(_d("value")).cast("double"), 2).alias("sum_value"),
    ).select("user_id", "session_start", "session_end", "n_events", "sum_value")


SESSION_WINDOW_SQL = """
WITH g AS (
    SELECT user_id, event_id, ts, value,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 30*60*1000000
                THEN 1 ELSE 0 END AS new_sess
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
    SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS session_seq
    FROM g
)
SELECT user_id,
       min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
FROM s GROUP BY user_id, session_seq
"""


#: LTTB target points per series
LTTB_POINTS = 50


def lttb_downsample(spark: SparkSession, sf_dir: str, *, n_out: int = LTTB_POINTS) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling per series (Steinarsson
    2013) — the perceptual line-chart downsampler complementing ts_m4's
    min/max envelope: pick, per bucket, the point forming the largest
    triangle with the previously selected point and the next bucket's
    average.

    The selection is a sequential greedy per series (each pick depends on
    the previous), so it runs as an Arrow-batched ``applyInPandas`` over
    series groups — the group is ONE series' render window (here ≤ a few
    thousand points; a dashboard query is bounded by its time range), never
    the raw table, so group size is a product contract, not a skew hazard.
    First/last points always kept; ties break to the earliest point ⇒
    deterministic. FULL ORACLE since round 3 (was rows-only): the greedy
    recursion runs as a DuckDB RECURSIVE CTE over buckets (LTTB_SQL) —
    state = the previously selected point, candidates and avg-bucket sums
    prebuilt as ordered lists. Cross-engine bit-identity needs two
    commitments both sides honor: x in EXACT µs (epoch-µs < 2^53, so the
    float64 x coordinates are exact; ns would round to 256 ns ULPs), and
    bucket means as ORDERED SEQUENTIAL sums (DuckDB's list_sum over an
    ORDER BY rn list == a left-to-right fold; numpy's pairwise-summation
    .mean() would diverge in ULPs and flip near-tie argmaxes). The
    pure-python recompute in tests/test_timeseries.py stays as a second,
    engine-independent pin."""
    import numpy as np
    import pandas as pd

    s = _hourly_series(spark, sf_dir)

    def _seq_mean(arr) -> float:
        # np.add.accumulate is DEFINED as the left-to-right prefix fold
        # (result[i] = result[i-1] + arr[i]) — the same float sequence as
        # the scalar loop and as DuckDB's rn-ordered list_sum, at C speed
        # (the python loop here was the lttb wall-clock bottleneck: it
        # touched nearly every grid point once per series).
        import numpy as np

        return float(np.add.accumulate(arr)[-1]) / len(arr)

    def _lttb(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("valid_time").reset_index(drop=True)
        n = len(pdf)
        if n <= n_out:
            idx = list(range(n))
        else:
            x = (pdf["valid_time"].astype("int64") // 1000).to_numpy(dtype=np.float64)
            y = pdf["value"].to_numpy(dtype=np.float64)
            edges = [1 + int(i * (n - 2) / (n_out - 2)) for i in range(n_out - 1)]
            idx = [0]
            for b in range(n_out - 2):
                lo, hi = edges[b], edges[b + 1]
                nlo, nhi = (edges[b + 1], edges[b + 2]) if b + 2 < len(edges) else (edges[b + 1], n - 1)
                if b == n_out - 3:
                    nhi = n  # last interior bucket averages through the tail
                ax = _seq_mean(x[nlo:nhi]) if nhi > nlo else x[n - 1]
                ay = _seq_mean(y[nlo:nhi]) if nhi > nlo else y[n - 1]
                p = idx[-1]
                cand = np.arange(lo, hi)
                area = np.abs(
                    (x[p] - ax) * (y[cand] - y[p]) - (x[p] - x[cand]) * (ay - y[p])
                )
                idx.append(int(cand[int(area.argmax())]))  # argmax ties -> first
            idx.append(n - 1)
        out = pdf.iloc[idx][["series_id", "valid_time", "value"]].copy()
        out["pt_index"] = range(len(idx))
        return out

    # Route the n <= n_out identity case through pure Spark (r14, guide
    # §4): _lttb passes such series through untouched (sort + positional
    # index), yet every group still paid the per-group pandas dispatch —
    # measured ~4 ms/group, ~6 s of lttb's 6.4 s at sf0.1 where most
    # series are short. row_number-1 over the valid_time order is the
    # exact same pt_index (valid_time is unique per series — it is the
    # aggregation key of _hourly_series). Only series that actually
    # downsample (n > n_out) reach Python; both legs share one exchange
    # (the count window and the groupBy hash-partition by series_id).
    wn = Window.partitionBy("series_id")
    counted = s.withColumn("n", F.count(F.lit(1)).over(wn))
    wo = Window.partitionBy("series_id").orderBy("valid_time")
    small = (
        counted.filter(F.col("n") <= n_out)
        .select(
            "series_id",
            "valid_time",
            "value",
            (F.row_number().over(wo) - 1).cast("long").alias("pt_index"),
        )
    )
    big = (
        counted.filter(F.col("n") > n_out)
        .select("series_id", "valid_time", "value")
        .groupBy("series_id")
        .applyInPandas(_lttb, "series_id long, valid_time timestamp, value double, pt_index long")
    )
    return small.unionByName(big)


# The greedy bucket recursion as a RECURSIVE CTE: candidates and avg-bucket
# sequential sums prebuilt as rn-ordered lists; each iteration advances every
# series one bucket, carrying the previously selected point. list_indexof on
# the max area == numpy argmax's first-tie rule.
_LTTB_N = LTTB_POINTS
LTTB_SQL = f"""
WITH RECURSIVE s AS ({{hourly}}),
g AS (
    SELECT series_id, valid_time, value,
           row_number() OVER (PARTITION BY series_id ORDER BY valid_time) - 1 AS rn,
           count(*) OVER (PARTITION BY series_id) AS n,
           epoch_us(valid_time)::DOUBLE AS x, value::DOUBLE AS y
    FROM s
),
small AS (SELECT series_id, valid_time, value, rn AS pt_index FROM g WHERE n <= {_LTTB_N}),
big AS (SELECT * FROM g WHERE n > {_LTTB_N}),
edges AS (
    SELECT sn.series_id, sn.n, i.i,
           1 + CAST(floor((i.i * (sn.n - 2))::DOUBLE / {_LTTB_N - 2}) AS BIGINT) AS e
    FROM (SELECT DISTINCT series_id, n FROM big) sn,
         (SELECT unnest(range(0, {_LTTB_N - 1})) AS i) i
),
buckets AS (
    SELECT e1.series_id, e1.i AS b, e1.e AS lo, e2.e AS hi,
           e2.e AS alo,
           CASE WHEN e1.i = {_LTTB_N - 3} THEN e1.n ELSE e3.e END AS ahi
    FROM edges e1
    JOIN edges e2 ON e2.series_id = e1.series_id AND e2.i = e1.i + 1
    LEFT JOIN edges e3 ON e3.series_id = e1.series_id AND e3.i = e1.i + 2
    WHERE e1.i <= {_LTTB_N - 3}
),
cand AS (
    SELECT b.series_id, b.b,
           list(struct_pack(rn := g.rn, x := g.x, y := g.y) ORDER BY g.rn) AS cs
    FROM buckets b JOIN big g ON g.series_id = b.series_id AND g.rn >= b.lo AND g.rn < b.hi
    GROUP BY 1, 2
),
avgs AS (
    SELECT b.series_id, b.b,
           list_sum(list(g.x ORDER BY g.rn)) / count(*) AS ax,
           list_sum(list(g.y ORDER BY g.rn)) / count(*) AS ay
    FROM buckets b JOIN big g ON g.series_id = b.series_id AND g.rn >= b.alo AND g.rn < b.ahi
    GROUP BY 1, 2
),
sel AS (
    SELECT series_id, -1 AS b, 0::BIGINT AS sel_rn, x AS px, y AS py FROM big WHERE rn = 0
    UNION ALL
    SELECT series_id, b, chosen.rn, chosen.x, chosen.y FROM (
        SELECT s.series_id AS series_id, c.b AS b,
               list_transform(c.cs, e ->
                   abs((s.px - a.ax) * (e.y - s.py) - (s.px - e.x) * (a.ay - s.py))) AS areas,
               c.cs[list_indexof(areas, list_aggregate(areas, 'max'))] AS chosen
        FROM sel s
        JOIN cand c ON c.series_id = s.series_id AND c.b = s.b + 1
        JOIN avgs a ON a.series_id = c.series_id AND a.b = c.b
    ) t
)
SELECT * FROM (
    SELECT series_id, valid_time, value, pt_index FROM small
    UNION ALL
    SELECT g.series_id, g.valid_time, g.value, s.b + 1 AS pt_index
    FROM sel s JOIN big g ON g.series_id = s.series_id AND g.rn = s.sel_rn
    UNION ALL
    SELECT series_id, valid_time, value, {_LTTB_N - 1} AS pt_index FROM big WHERE rn = n - 1
)
"""  # .format(hourly=...) applied after _HOURLY_SERIES_SQL is defined below


# ---------------------------------------------------------------------------
# binned range join
# ---------------------------------------------------------------------------


def range_join_events(spark: SparkSession, sf_dir: str, *, hours: int = 3) -> DataFrame:
    """Each event joined to the SAME user's strictly-later events within the
    following ``hours`` (half-open (ts, ts+hours]) — "what happened next"
    fact-fact interval join.

    Binned: the probe side explodes over the hour-buckets its interval
    touches (bounded by ``hours``+1 rows), equi-join on (user, hour-bucket),
    exact refine — the standard trick that turns an inequality join into a
    shuffle equi-join (sort-merge/hash at scale) instead of the O(n·m)
    broadcast-nested-loop Spark would otherwise pick.
    """
    ev = load_table(spark, sf_dir, "events")
    left = ev.select("event_id", F.col("user_id").alias("k"), F.col("ts").alias("ev_ts"))
    right = ev.select(F.col("user_id").alias("k"), F.col("ts").alias("r_ts"), F.col("value").alias("r_value"))
    # probe side: one row per hour bucket the interval (ev_ts, ev_ts+hours] touches
    left_b = left.withColumn(
        "bucket",
        F.explode(
            F.sequence(
                F.date_trunc("hour", "ev_ts"),
                F.date_trunc("hour", F.col("ev_ts") + F.expr(f"interval {hours} hours")),
                F.expr("interval 1 hour"),
            )
        ),
    )
    right_b = right.withColumn("bucket", F.date_trunc("hour", "r_ts"))
    # merge hint: left_b is explode-derived (x4 hour buckets, linear in
    # events) — without it the static planner can broadcast it (the
    # scaleprobe r12 driver-OOM class), defeating the binning that exists
    # precisely to avoid a broadcast-nested-loop at scale.
    j = left_b.hint("merge").join(right_b, on=["k", "bucket"]).filter(
        (F.col("r_ts") > F.col("ev_ts"))
        & (F.col("r_ts") <= F.col("ev_ts") + F.expr(f"interval {hours} hours"))
    )
    return j.groupBy("event_id").agg(
        F.count(F.lit(1)).alias("n_later"),
        F.round(F.sum(_d("r_value")).cast("double"), 2).alias("sum_later_value"),
    )


RANGE_JOIN_SQL = """
SELECT e.event_id,
       count(*) AS n_later,
       round(CAST(sum(CAST(r.value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_later_value
FROM events e
JOIN events r
  ON r.user_id = e.user_id
 AND r.ts >  e.ts
 AND r.ts <= e.ts + INTERVAL 3 HOUR
GROUP BY e.event_id
"""


# ---------------------------------------------------------------------------
# top-k heavy hitters + exact quantiles
# ---------------------------------------------------------------------------


def topk_users(spark: SparkSession, sf_dir: str, *, k: int = 25) -> DataFrame:
    """Exact top-k users by event count (deterministic tiebreak on user_id).
    groupBy + a single TakeOrderedAndProject — no full sort materializes."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(_d("value")).cast("double"), 2).alias("sum_value"),
    )
    return counts.orderBy(F.col("n_events").desc(), F.col("user_id")).limit(k)


TOPK_USERS_SQL = """
SELECT user_id, count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
FROM events
GROUP BY user_id
ORDER BY n_events DESC, user_id
LIMIT 25
"""


#: percentile_approx accuracy (1/eps): rank error ≤ n/10000 per group
_APPROX_PCT_ACCURACY = 10_000


def quantiles_by_type(spark: SparkSession, sf_dir: str, exact: bool = False) -> DataFrame:
    """Continuous quantiles of value per event_type. DEFAULT is
    ``percentile_approx`` (KLL-style sketch, map-side combinable, bounded
    memory per group) — the exact form buffers every group's values in the
    aggregator, which is the 100 TB per-group memory hazard. ``exact=True``
    restores Spark ``percentile`` == DuckDB ``quantile_cont`` (linear
    interpolation) for the oracle entry; the two modes are pinned against
    each other within sketch rank error in tests."""
    ev = load_table(spark, sf_dir, "events")
    qs = F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99))
    pct = (
        F.percentile("value", qs)
        if exact
        else F.percentile_approx("value", qs, F.lit(_APPROX_PCT_ACCURACY))
    )
    return ev.groupBy("event_type").agg(
        F.round(pct[0], 6).alias("p50"),
        F.round(pct[1], 6).alias("p90"),
        F.round(pct[2], 6).alias("p99"),
    )


QUANTILES_SQL = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 6)  AS p50,
       round(quantile_cont(value, 0.9), 6)  AS p90,
       round(quantile_cont(value, 0.99), 6) AS p99
FROM events
GROUP BY event_type
"""

_MAD_K = 5.0


def mad_anomaly(spark: SparkSession, sf_dir: str, exact: bool = False) -> DataFrame:
    """Robust outliers per event_type via median absolute deviation:
    flag rows with |x − median| > k·MAD — the heavy-tail-safe complement to
    :func:`anomaly_zscore` (mean/std are themselves dragged by the outliers
    they're meant to find; median/MAD are 50%-breakdown robust).

    Two grouped medians, each broadcast back — the flag is a scan-side
    filter, no per-row shuffle. DEFAULT medians are ``percentile_approx``
    (sketch, bounded per-group memory — the 100 TB path, exactly as in
    ts_quantiles); ``exact=True`` restores Spark ``percentile`` == DuckDB
    ``quantile_cont`` for the oracle entry."""
    ev = load_table(spark, sf_dir, "events")
    med_agg = (
        F.percentile("value", F.lit(0.5))
        if exact
        else F.percentile_approx("value", F.lit(0.5), F.lit(_APPROX_PCT_ACCURACY))
    )
    med = ev.groupBy("event_type").agg(med_agg.alias("med"))
    dev = ev.join(F.broadcast(med), "event_type").withColumn("dev", F.abs(F.col("value") - F.col("med")))
    mad_agg = (
        F.percentile("dev", F.lit(0.5))
        if exact
        else F.percentile_approx("dev", F.lit(0.5), F.lit(_APPROX_PCT_ACCURACY))
    )
    mad = dev.groupBy("event_type").agg(mad_agg.alias("mad"))
    out = dev.join(F.broadcast(mad), "event_type").filter(F.col("dev") > F.lit(_MAD_K) * F.col("mad"))
    return out.select(
        "event_id",
        "event_type",
        "value",
        floor6(F.col("med")).alias("med"),
        floor6(F.col("mad")).alias("mad"),
        floor6(F.col("dev")).alias("dev"),
    )


MAD_ANOMALY_SQL = f"""
WITH med AS (
    SELECT event_type, quantile_cont(value, 0.5) AS med FROM events GROUP BY event_type
),
dev AS (
    SELECT e.event_id, e.event_type, e.value, m.med, abs(e.value - m.med) AS dev
    FROM events e JOIN med m USING (event_type)
),
mad AS (SELECT event_type, quantile_cont(dev, 0.5) AS mad FROM dev GROUP BY event_type)
SELECT d.event_id, d.event_type, d.value,
       {floor6_sql('d.med')} AS med, {floor6_sql('m.mad')} AS mad,
       {floor6_sql('d.dev')} AS dev
FROM dev d JOIN mad m USING (event_type)
WHERE d.dev > {_MAD_K} * m.mad
"""


# ---------------------------------------------------------------------------
# driver-contract wrappers for the grid ops (events → series shape)
# ---------------------------------------------------------------------------


def _hourly_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse per-user hourly series derived from events: mean value of each
    user's events in hours ≡ 0 or 1 (mod 3) — leaves real holes to fill."""
    ev = load_table(spark, sf_dir, "events")
    keep = (F.hour("ts") % 3) < 2
    return (
        ev.filter(keep)
        .groupBy(F.col("user_id").alias("series_id"), F.date_trunc("hour", "ts").alias("valid_time"))
        .agg(floor6(F.avg("value")).alias("value"))
    )


_HOURLY_SERIES_SQL = f"""
SELECT user_id AS series_id,
       date_trunc('hour', ts) AS valid_time,
       {floor6_sql('avg(value)')} AS value
FROM events
WHERE hour(ts) % 3 < 2
GROUP BY 1, 2
"""


LTTB_SQL = LTTB_SQL.format(hourly=_HOURLY_SERIES_SQL)


def resample_locf_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return resample_locf(_hourly_series(spark, sf_dir))


RESAMPLE_LOCF_SQL = f"""
WITH s AS ({_HOURLY_SERIES_SQL}),
span AS (
    SELECT series_id, min(valid_time) AS lo, max(valid_time) AS hi FROM s GROUP BY series_id
),
grid AS (
    SELECT series_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS tick FROM span
),
j AS (
    SELECT g.series_id, g.tick, s.value AS obs
    FROM grid g LEFT JOIN s ON s.series_id = g.series_id AND s.valid_time = g.tick
)
SELECT series_id, tick AS valid_time,
       last_value(obs IGNORE NULLS) OVER (PARTITION BY series_id ORDER BY tick
                                          ROWS UNBOUNDED PRECEDING) AS value,
       obs IS NULL AS gap_filled
FROM j
"""


def interpolate_linear_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return interpolate_linear(_hourly_series(spark, sf_dir))


INTERPOLATE_SQL = f"""
WITH s AS ({_HOURLY_SERIES_SQL}),
span AS (
    SELECT series_id, min(valid_time) AS lo, max(valid_time) AS hi FROM s GROUP BY series_id
),
grid AS (
    SELECT series_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS tick FROM span
),
j AS (
    SELECT g.series_id, g.tick, s.value AS obs
    FROM grid g LEFT JOIN s ON s.series_id = g.series_id AND s.valid_time = g.tick
),
pn AS (
    SELECT *,
           last_value(CASE WHEN obs IS NOT NULL THEN tick END IGNORE NULLS)
               OVER wb AS pt,
           last_value(obs IGNORE NULLS) OVER wb AS pv,
           first_value(CASE WHEN obs IS NOT NULL THEN tick END IGNORE NULLS)
               OVER wf AS nt,
           first_value(obs IGNORE NULLS) OVER wf AS nv
    FROM j
    WINDOW wb AS (PARTITION BY series_id ORDER BY tick ROWS UNBOUNDED PRECEDING),
           wf AS (PARTITION BY series_id ORDER BY tick
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT series_id, tick AS valid_time,
       floor((CASE WHEN obs IS NOT NULL THEN obs
                   WHEN pt IS NULL THEN nv
                   WHEN nt IS NULL THEN pv
                   ELSE pv + (nv - pv) * (epoch_us(tick) - epoch_us(pt))
                             / nullif(epoch_us(nt) - epoch_us(pt), 0)
              END) * 1e6 + 0.5) / 1e6 AS value,
       obs IS NULL AS gap_filled
FROM pn
"""


# ---------------------------------------------------------------------------
# OHLC bars, moving stats, anomaly flags, gap detection
# ---------------------------------------------------------------------------


def ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC candles per user — the canonical TSDB downsample.

    open/close are ``min_by``/``max_by`` over the (ts, event_id) order (the
    same argmax pattern as the bitemporal latest read). The ordering is
    the packed DECIMAL(38,0) ``unix_micros(ts) * 1e19 + event_id``
    (functions/ordering.packed_lex — the shared injectivity/exactness
    argument lives there; events' ts/event_id are non-null by schema): a
    struct ordering key would force the whole aggregate sort-based
    (struct buffers are not Tungsten-mutable), while the packed decimal
    keeps it a HashAggregate with the same map-side PARTIAL combine —
    each partition collapses to one row per (user, hour) before the
    shuffle and nothing is ever sorted.
    """
    ev = load_table(spark, sf_dir, "events")
    okey = packed_lex(F.unix_micros(F.col("ts")), F.col("event_id"))
    return ev.groupBy("user_id", F.date_trunc("hour", "ts").alias("bucket")).agg(
        F.min_by("value", okey).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", okey).alias("close"),
        F.count(F.lit(1)).alias("n_ticks"),
    )


OHLC_SQL = """
WITH b AS (
    SELECT user_id, date_trunc('hour', ts) AS bucket, value,
           row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                              ORDER BY ts, event_id) AS ra,
           row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                              ORDER BY ts DESC, event_id DESC) AS rd
    FROM events
)
SELECT user_id, bucket,
       max(CASE WHEN ra = 1 THEN value END) AS open,
       max(value) AS high,
       min(value) AS low,
       max(CASE WHEN rd = 1 THEN value END) AS close,
       count(*) AS n_ticks
FROM b GROUP BY user_id, bucket
"""


def moving_stats(spark: SparkSession, sf_dir: str, *, n: int = 24) -> DataFrame:
    """Trailing-``n``-event moving average / min / max per user (deterministic
    (ts, event_id) order). Sliding ROWS frame — O(n·w) per partition, w
    bounded at 24; per-user partitions keep the sorts parallel at scale."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-(n - 1), 0)
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        floor6(F.avg("value").over(w)).alias("mov_avg"),
        F.min("value").over(w).alias("mov_min"),
        F.max("value").over(w).alias("mov_max"),
        F.count(F.lit(1)).over(w).alias("n_in_window"),
    )


MOVING_STATS_SQL = f"""
SELECT user_id, event_id, ts,
       {floor6_sql('avg(value) OVER w')} AS mov_avg,
       min(value) OVER w AS mov_min,
       max(value) OVER w AS mov_max,
       count(*) OVER w AS n_in_window
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
"""


def anomaly_zscore(spark: SparkSession, sf_dir: str, *, threshold: float = 2.5) -> DataFrame:
    """Per-user z-score outliers: |value − μ_user| > t·σ_user. Whole-partition
    stats come from an unbounded window (computed ONCE per partition — not a
    shrinking frame), so the op is one shuffle, no self-join."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    mu = F.avg("value").over(w)
    sd = F.stddev_samp("value").over(w)
    z = (F.col("value") - mu) / sd
    return (
        ev.select("user_id", "event_id", "ts", "value", floor_scale(z, 4).alias("zscore"))
        .filter(F.abs(F.col("zscore")) > threshold)
    )


ANOMALY_ZSCORE_SQL = f"""
SELECT user_id, event_id, ts, value, zscore FROM (
    SELECT user_id, event_id, ts, value,
           {floor_scale_sql('(value - avg(value) OVER w) / stddev_samp(value) OVER w', 4)} AS zscore
    FROM events
    WINDOW w AS (PARTITION BY user_id)
) t WHERE abs(zscore) > 2.5
"""


def gap_detect(spark: SparkSession, sf_dir: str, *, min_gap_minutes: int = 120) -> DataFrame:
    """Silence gaps per user: consecutive-event spacings above the threshold,
    reported as (gap_start, gap_end, gap_minutes). lag over the per-user time
    order; integer-µs arithmetic keeps it exact in every engine."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    gap_us = F.unix_micros("ts") - F.unix_micros(prev)
    return (
        ev.select("user_id", prev.alias("gap_start"), F.col("ts").alias("gap_end"), gap_us.alias("_us"))
        .filter(F.col("_us") > min_gap_minutes * 60 * 1_000_000)
        .select("user_id", "gap_start", "gap_end", (F.col("_us") / 60_000_000.0).alias("gap_minutes"))
    )


GAP_DETECT_SQL = """
SELECT user_id, gap_start, gap_end, us / 60000000.0 AS gap_minutes FROM (
    SELECT user_id,
           lag(ts) OVER w AS gap_start,
           ts AS gap_end,
           epoch_us(ts) - epoch_us(lag(ts) OVER w) AS us
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
) t WHERE us > CAST(120 AS BIGINT) * 60 * 1000000
"""


# ---------------------------------------------------------------------------
# Cross-series correlation matrix (which signals move together?)
# ---------------------------------------------------------------------------


def corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation between the hourly sums of each
    event_type — the "which sensors co-move" query.

    Determinism: ``corr()``'s streaming co-moment accumulation is
    order-dependent in the low bits, so instead the five co-moment sums
    (Σx, Σy, Σxy, Σx², Σy²) are aggregated as EXACT decimals and the
    correlation is assembled from them in one deterministic double
    expression — bit-identical across partitionings and engines.

    Scale: the full scan collapses to a bounded frame (hours × types) before
    the self-join, and the pair join broadcasts — no fact-fact shuffle.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("h"), F.col("event_type").alias("etype")
    ).agg(F.sum(_d("value")).alias("v"))
    a = hourly.select(F.col("h"), F.col("etype").alias("type_a"), F.col("v").alias("va"))
    b = hourly.select(F.col("h").alias("hb"), F.col("etype").alias("type_b"), F.col("v").alias("vb"))
    pairs = a.join(F.broadcast(b), (a.h == b.hb) & (F.col("type_a") < F.col("type_b")))
    g = _moment_sums(pairs, "type_a", "type_b")
    return g.select("type_a", "type_b", F.col("n").alias("n_points"), F.round(_pearson_r(), 6).alias("corr"))


def _moment_sums(pairs: DataFrame, *keys: str) -> DataFrame:
    """Per ``keys`` group of ``(va, vb)`` pairs: n and the five exact
    co-moment sums Σx, Σy, Σxy, Σx², Σy² (decimal inputs sum exactly, so
    partial-aggregation order never shows in the low bits)."""
    return pairs.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("va").alias("sx"),
        F.sum("vb").alias("sy"),
        F.sum(F.col("va") * F.col("vb")).alias("sxy"),
        F.sum(F.col("va") * F.col("va")).alias("sxx"),
        F.sum(F.col("vb") * F.col("vb")).alias("syy"),
    )


def _pearson_r() -> Column:
    """Pearson r of a :func:`_moment_sums` row in one fixed-order double
    expression (twin: ``_PEARSON_R_SQL``)."""
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx, syy = (F.col(c).cast("double") for c in ("sxy", "sxx", "syy"))
    return (n * sxy - sx * sy) / F.sqrt(n * sxx - sx * sx) / F.sqrt(n * syy - sy * sy)


_PEARSON_R_SQL = """(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             / sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))"""

CORR_MATRIX_SQL = f"""
WITH hourly AS (
    SELECT date_trunc('hour', ts) AS h, event_type AS etype,
           sum(CAST(value AS DECIMAL(18,2))) AS v
    FROM events GROUP BY 1, 2
),
g AS (
    SELECT a.etype AS type_a, b.etype AS type_b,
           count(*) AS n,
           sum(a.v) AS sx, sum(b.v) AS sy,
           sum(a.v * b.v) AS sxy, sum(a.v * a.v) AS sxx, sum(b.v * b.v) AS syy
    FROM hourly a JOIN hourly b ON a.h = b.h AND a.etype < b.etype
    GROUP BY 1, 2
)
SELECT type_a, type_b, n AS n_points,
       round({_PEARSON_R_SQL}, 6) AS corr
FROM g
"""


_ACF_LAGS = (1, 24)


def autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series lag-k autocorrelation (the ACF a forecaster reads first)
    at the hourly grain, for k ∈ {1, 24} — persistence vs daily seasonality.

    Same determinism discipline as :func:`corr_matrix`: co-moment sums over
    EXACT decimals, one double expression at the end (never the streaming
    ``corr()`` accumulator). Lag pairing is a shifted equi-join on the
    integer hour axis of the BOUNDED hourly frame (both lags ride one
    small cross join — no window sort, no fact-scale shuffle); pairs only
    exist where both hours were observed, so n varies per (series, lag)."""
    s = _hourly_series(spark, sf_dir).withColumn("h", F.expr("unix_micros(valid_time) div 3600000000"))
    dv = F.col("value").cast("decimal(18,6)")
    base = s.select("series_id", "h", dv.alias("v"))
    lagged = base.select(
        F.col("series_id").alias("sid_l"),
        F.col("v").alias("vl"),
        F.explode(F.array(*[F.lit(k) for k in _ACF_LAGS])).alias("lag"),
        F.col("h").alias("hl"),
    )
    # merge hint: lagged is explode-derived (x|_ACF_LAGS|, linear in the
    # hourly frame) — a static broadcast of it is the scaleprobe r12
    # driver-OOM class at scale.
    pairs = base.join(
        lagged.hint("merge"),
        (F.col("series_id") == F.col("sid_l")) & (F.col("h") == F.col("hl") + F.col("lag")),
    ).select(F.col("series_id").alias("sid"), "lag", F.col("v").alias("x"), F.col("vl").alias("y"))
    g = pairs.groupBy(F.col("sid").alias("series_id"), "lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx, syy = (F.col(c).cast("double") for c in ("sxy", "sxx", "syy"))
    r = (n * sxy - sx * sy) / F.sqrt(n * sxx - sx * sx) / F.sqrt(n * syy - sy * sy)
    return g.filter(F.col("n") >= 4).select(
        "series_id", "lag", F.col("n").alias("n_pairs"), floor6(r).alias("acf")
    )


AUTOCORR_SQL = f"""
WITH s AS ({_HOURLY_SERIES_SQL}),
base AS (
    SELECT series_id, epoch_us(valid_time) // 3600000000 AS h,
           CAST(value AS DECIMAL(18,6)) AS v
    FROM s
),
pairs AS (
    SELECT a.series_id AS sid, k.lag, a.v AS x, b.v AS y
    FROM base a
    JOIN (SELECT unnest([{", ".join(str(k) for k in _ACF_LAGS)}]) AS lag) k ON TRUE
    JOIN base b ON b.series_id = a.series_id AND b.h = a.h - k.lag
),
g AS (
    SELECT sid AS series_id, lag,
           count(*) AS n,
           sum(x) AS sx, sum(y) AS sy,
           sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
    FROM pairs GROUP BY 1, 2
)
SELECT series_id, lag, n AS n_pairs,
       {floor6_sql("(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))")} AS acf
FROM g WHERE n >= 4
"""


# ---------------------------------------------------------------------------
# Seasonal-naive forecast skill (value now vs same hour last week)
# ---------------------------------------------------------------------------


def seasonal_naive(spark: SparkSession, sf_dir: str, *, period_hours: int = 168) -> DataFrame:
    """Per-series error of the seasonal-naive forecast ŷ(t) = y(t - period):
    the baseline every forecasting pipeline scores against.

    The lagged side is the SAME bounded hourly aggregate with its timestamps
    shifted forward by one period, equi-joined back — no window sort, no
    per-row lag over raw events. Error terms are rounded per row and summed
    as DECIMAL (order-independent, oracle-exact).
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.col("user_id").alias("series_id"), F.date_trunc("hour", "ts").alias("h")
    ).agg(F.sum(_d("value")).cast("double").alias("v"))
    shift = F.timestamp_seconds(F.unix_timestamp("h") + period_hours * 3600)
    past = hourly.select(F.col("series_id").alias("p_sid"), shift.alias("h_fore"), F.col("v").alias("v_past"))
    err_d = floor6(F.col("v") - F.col("v_past")).cast("decimal(28,6)")
    err2_d = floor6((F.col("v") - F.col("v_past")) * (F.col("v") - F.col("v_past"))).cast("decimal(28,6)")
    n = F.count(F.lit(1))
    return (
        hourly.join(past, (hourly.series_id == past.p_sid) & (hourly.h == past.h_fore))
        .groupBy("series_id")
        .agg(
            n.alias("n_points"),
            floor6(F.sum(F.abs(err_d)).cast("double") / n).alias("mae"),
            floor6(F.sqrt(F.sum(err2_d).cast("double") / n)).alias("rmse"),
        )
    )


SEASONAL_NAIVE_SQL = f"""
WITH hourly AS (
    SELECT user_id AS series_id, date_trunc('hour', ts) AS h,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
    FROM events GROUP BY 1, 2
),
j AS (
    SELECT cur.series_id,
           CAST({floor6_sql('cur.v - past.v')} AS DECIMAL(28,6)) AS err,
           CAST({floor6_sql('(cur.v - past.v) * (cur.v - past.v)')} AS DECIMAL(28,6)) AS err2
    FROM hourly cur JOIN hourly past
      ON cur.series_id = past.series_id
     AND cur.h = past.h + INTERVAL 168 HOUR
)
SELECT series_id, count(*) AS n_points,
       {floor6_sql('CAST(sum(abs(err)) AS DOUBLE) / count(*)')} AS mae,
       {floor6_sql('sqrt(CAST(sum(err2) AS DOUBLE) / count(*))')} AS rmse
FROM j
GROUP BY series_id
"""


def value_histogram(spark: SparkSession, sf_dir: str, *, n_bins: int = 20) -> DataFrame:
    """Equal-width value histogram per event type — the data-profiling
    primitive (ClickHouse ``histogram()`` / numeric_histogram analogue), as
    two aggregations: a tiny per-type min/max that broadcasts back onto the
    scan, then the binned count.

    Bin assignment is exact integer arithmetic over cent-quantized values
    (``(v-min)*n // (max-min+1)``) — no float boundary, so bin membership is
    bit-identical across engines and stable under any evaluation order.
    Scale shape: pass 1 is a map-side-combined 5-row agg; pass 2 is one
    shuffle on (type, bin). Nothing global, nothing sorted.
    """
    ev = load_table(spark, sf_dir, "events")
    cents = (_d("value") * 100).cast("long")
    vals = ev.select("event_type", cents.alias("c"))
    bounds = vals.groupBy("event_type").agg(
        F.min("c").alias("min_c"), F.max("c").alias("max_c")
    )
    binned = vals.join(F.broadcast(bounds), "event_type").withColumn(
        "bin",
        F.expr(f"CAST(((c - min_c) * {n_bins}) div (max_c - min_c + 1) AS INT)"),
    )
    return binned.groupBy("event_type", "bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("c") / 100.0, 2).alias("bin_min_value"),
        F.round(F.max("c") / 100.0, 2).alias("bin_max_value"),
    )


VALUE_HISTOGRAM_SQL = """
WITH v AS (
    SELECT event_type, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
    FROM events
),
b AS (SELECT event_type, min(c) AS min_c, max(c) AS max_c FROM v GROUP BY event_type),
binned AS (
    SELECT v.event_type, v.c,
           CAST(((v.c - b.min_c) * 20) // (b.max_c - b.min_c + 1) AS INT) AS bin
    FROM v JOIN b USING (event_type)
)
SELECT event_type, bin, count(*) AS n,
       round(min(c) / 100.0, 2) AS bin_min_value,
       round(max(c) / 100.0, 2) AS bin_max_value
FROM binned GROUP BY event_type, bin
"""


def _trailing_fold(span: int, init, step) -> Column:
    """Left fold of ``step`` over each event's trailing ``span``-row frame
    of its user's values in ``(ts, event_id)`` order, the accumulator
    seeded with ``init(oldest value in the frame)``. The frame is
    ROWS-bounded, so the window carries O(span) state per row — no
    unbounded running aggregate, partitions stay spillable at 100 TB. The
    oracles fold ``list(value) OVER (... ROWS BETWEEN span-1 PRECEDING AND
    CURRENT ROW)`` with ``list_reduce`` in the same operation order."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-(span - 1), 0)
    arr = F.collect_list("value").over(w)
    return F.aggregate(F.slice(arr, 2, span), init(F.element_at(arr, 1)), step)


def ewma(spark: SparkSession, sf_dir: str, *, span: int = 24, alpha: float = 0.25) -> DataFrame:
    """Trailing exponential moving average per user (the monitoring
    dashboard smoother; pandas ``ewm``/ClickHouse
    ``exponentialMovingAverage`` analogue), over a bounded 24-event frame.

    The recursion s ← α·x + (1-α)·s is a left fold over the frame's values
    seeded with its oldest element — ``F.aggregate`` here, ``list_reduce``
    in the oracle: identical operation order, so the doubles agree
    bit-for-bit across engines. The frame is ROWS-bounded (24 doubles per
    row in flight), so the window carries O(span) state — no unbounded
    running aggregate, partitions stay spillable at 100 TB.
    """
    ev = load_table(spark, sf_dir, "events")
    fold = _trailing_fold(span, lambda x0: x0, lambda acc, x: acc * (1.0 - alpha) + x * alpha)
    # floor-scale instead of round: the fold's doubles are bit-identical
    # across engines, but round() tie modes differ (HALF_UP vs HALF_EVEN)
    # and 2-decimal inputs × dyadic α make exact .5 ties common.
    return ev.select(
        "user_id", "ts", "event_id", "value",
        (F.floor(fold * 1e6) / 1e6).alias("ewma"),
    )


EWMA_SQL = """
WITH arr AS (
    SELECT user_id, ts, event_id, value,
           list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN 23 PRECEDING AND CURRENT ROW) AS a
    FROM events
)
SELECT user_id, ts, event_id, value,
       floor(list_reduce(a, (acc, x) -> acc * 0.75 + x * 0.25) * 1e6) / 1e6 AS ewma
FROM arr
"""


_HOLT_ALPHA = 0.5
_HOLT_BETA = 0.5
_HOLT_SPAN = 24


def holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear (double exponential) smoothing per user over a bounded
    trailing frame — the trend-aware upgrade of :func:`ewma`, emitting the
    smoothed level and the one-step-ahead forecast (level + trend).

    The 2-state recursion  l' = α·x + (1-α)(l+b);  b' = β(l'-l) + (1-β)b  is
    a left fold whose accumulator is a 2-element double array — ``F.aggregate``
    with an array zero on Spark, ``list_reduce`` over array-wrapped elements
    in the oracle (the init state is prepended; each value rides as [x, 0]).
    Dyadic α/β keep the double arithmetic bit-identical across engines; the
    frame is ROWS-bounded so the window carries O(span) state. Seeded with
    (l₀ = oldest value, b₀ = 0) — the standard zero-trend init."""
    ev = load_table(spark, sf_dir, "events")
    a, b_ = _HOLT_ALPHA, _HOLT_BETA

    def _step(acc, x):
        l_, tr = F.element_at(acc, 1), F.element_at(acc, 2)
        lp = a * x + (1.0 - a) * (l_ + tr)
        return F.array(lp, b_ * (lp - l_) + (1.0 - b_) * tr)

    fold = _trailing_fold(_HOLT_SPAN, lambda x0: F.array(x0, F.lit(0.0)), _step)
    level, trend = F.element_at(fold, 1), F.element_at(fold, 2)
    # floor-scale (not round): bit-identical folds, engine-divergent tie modes
    return ev.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        (F.floor(level * 1e6) / 1e6).alias("holt_level"),
        (F.floor((level + trend) * 1e6) / 1e6).alias("holt_forecast"),
    )


HOLT_SQL = f"""
WITH arr AS (
    SELECT user_id, ts, event_id, value,
           list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN {_HOLT_SPAN - 1} PRECEDING AND CURRENT ROW) AS a
    FROM events
),
folded AS (
    SELECT user_id, ts, event_id, value,
           list_reduce(
               list_prepend([a[1], 0.0], list_transform(a[2:], x -> [x, 0.0])),
               (acc, x) -> [
                   {_HOLT_ALPHA} * x[1] + {1.0 - _HOLT_ALPHA} * (acc[1] + acc[2]),
                   {_HOLT_BETA} * (({_HOLT_ALPHA} * x[1] + {1.0 - _HOLT_ALPHA} * (acc[1] + acc[2])) - acc[1])
                   + {1.0 - _HOLT_BETA} * acc[2]
               ]) AS s
    FROM arr
)
SELECT user_id, ts, event_id, value,
       floor(s[1] * 1e6) / 1e6 AS holt_level,
       floor((s[1] + s[2]) * 1e6) / 1e6 AS holt_forecast
FROM folded
"""


#: Holt-Winters seasonal period (hours) + smoothing constants
_HW_PERIOD = 24
_HW_ALPHA, _HW_BETA, _HW_GAMMA = 0.5, 0.25, 0.25
_HW_BANDS = 64  # cross-series vectorization bands (see holt_winters)


def holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt-Winters (TRIPLE exponential smoothing) per series over
    the gap-filled hourly grid — the seasonal member completing the
    smoothing family (ewma → level, holt → +trend, this → +24 h season):

        l' = α(x − s_{t−m}) + (1−α)(l + b)
        b' = β(l' − l) + (1−β)b
        s' = γ(x − l') + (1−γ)s_{t−m}

    Textbook full-series recursion: every output depends on the entire
    prefix, so it runs as ONE sequential pass per series inside
    Arrow-batched ``applyInPandas`` — O(n) per series (the SQL-fold
    alternative recomputes an O(span·m) array fold per ROW; measured 77 s
    at sf0.01 vs ~2 s here), with the group bounded by one series' grid
    like ts_lttb. Input is the LOCF-resampled grid: a seasonal ring only
    means "m hours" when consecutive rows are one hour apart (on the
    sparse series it would track an observation-count pseudo-period —
    caught by the planted-seasonality test). Oracle: the same recursion as
    a DuckDB RECURSIVE CTE carrying [level, trend, 24-slot ring] across
    rn → rn+1 (HOLT_WINTERS_SQL) — sequential state is not ONE-PASS-SQL
    expressible, but it is recursive-SQL expressible, which upgrades this
    from rows-only to fully oracle-gated; the pure-python recompute in
    tests stays as a second, engine-independent pin."""
    import pandas as pd

    grid = resample_locf(_hourly_series(spark, sf_dir)).drop("gap_filled")
    a, b_, g, m = _HW_ALPHA, _HW_BETA, _HW_GAMMA, _HW_PERIOD

    def _hw_band(pdf: pd.DataFrame) -> pd.DataFrame:
        """Vectorized ACROSS the band's series, sequential over time steps:
        row s of each state matrix is one series, and step i applies the
        identical scalar recursion to every active series at once. The
        per-series float sequence is bit-identical to the scalar fold
        (numpy elementwise float64 = the same IEEE ops in the same order;
        padded tail entries compute garbage that is never emitted and can
        never leak across rows), so the recursive-CTE oracle and the
        python pin still match exactly. Python-level iterations drop from
        Σ len(series) (~10⁶ at sf0.1) to max len(series) (~700)."""
        import numpy as np

        pdf = pdf.sort_values(["series_id", "valid_time"]).reset_index(drop=True)
        if not len(pdf):
            return pdf[["series_id", "valid_time", "value", "hw_level", "hw_forecast"]]
        sizes = pdf.groupby("series_id", sort=True).size()
        lens = sizes.to_numpy()
        n, L = len(lens), int(lens.max())
        offs = np.concatenate(([0], np.cumsum(lens)[:-1]))
        vals = pdf["value"].to_numpy(dtype="float64")
        X = np.zeros((n, L))
        for s in range(n):
            X[s, : lens[s]] = vals[offs[s] : offs[s] + lens[s]]

        level = X[:, 0].copy()
        trend = np.zeros(n)
        ring = np.zeros((n, m))  # ring slot p is shared: p depends only on
        p = 0                    # the within-series step index i (= i % m)
        out_l = np.empty((n, L))
        out_f = np.empty((n, L))
        for i in range(L):
            x = X[:, i]
            if i:
                s_old = ring[:, p].copy()
                lp = a * (x - s_old) + (1.0 - a) * (level + trend)
                trend = b_ * (lp - level) + (1.0 - b_) * trend
                level = lp
                ring[:, p] = g * (x - level) + (1.0 - g) * s_old
                p += 1
                if p == m:
                    p = 0
            out_l[:, i] = np.floor(level * 1e6) / 1e6
            out_f[:, i] = np.floor((level + trend + ring[:, p]) * 1e6) / 1e6
        pdf["hw_level"] = np.concatenate([out_l[s, : lens[s]] for s in range(n)])
        pdf["hw_forecast"] = np.concatenate([out_f[s, : lens[s]] for s in range(n)])
        return pdf[["series_id", "valid_time", "value", "hw_level", "hw_forecast"]]

    # band key instead of series_id: ~#series/_HW_BANDS series per pandas
    # group, vectorized together above. Per-group memory is (series in
    # band) × (longest series) doubles — size _HW_BANDS ∝ series count at
    # scale to bound it; the shuffle count is unchanged (still one).
    return grid.groupBy(F.pmod("series_id", F.lit(_HW_BANDS))).applyInPandas(
        _hw_band, "series_id long, valid_time timestamp, value double, hw_level double, hw_forecast double"
    )


# The sequential recursion as a RECURSIVE CTE: one iteration advances every
# series one grid row, carrying [level, trend, ring(24)] — total work is
# O(total rows), recursion depth = longest series. Explicit ::DOUBLE casts
# keep DuckDB's decimal literal inference out of the float recursion (the
# arithmetic must match the python fold bit-for-bit up to the floor-scale).
_HW_ZEROS = "[" + ", ".join(["0.0::DOUBLE"] * _HW_PERIOD) + "]"
_HW_LP = (
    f"{_HW_ALPHA}::DOUBLE * (n.value - h.ring[1]) "
    f"+ {1.0 - _HW_ALPHA}::DOUBLE * (h.level + h.trend)"
)
HOLT_WINTERS_SQL = f"""
WITH RECURSIVE s AS ({_HOURLY_SERIES_SQL}),
span AS (SELECT series_id, min(valid_time) AS lo, max(valid_time) AS hi FROM s GROUP BY series_id),
grid AS (SELECT series_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS tick FROM span),
j AS (SELECT g.series_id, g.tick, s.value AS obs
      FROM grid g LEFT JOIN s ON s.series_id = g.series_id AND s.valid_time = g.tick),
g AS (
    SELECT series_id, tick AS valid_time,
           last_value(obs IGNORE NULLS) OVER (PARTITION BY series_id ORDER BY tick
                                              ROWS UNBOUNDED PRECEDING) AS value,
           row_number() OVER (PARTITION BY series_id ORDER BY tick) AS rn
    FROM j
),
hw AS (
    SELECT series_id, rn, valid_time, value,
           value AS level, 0.0::DOUBLE AS trend, {_HW_ZEROS} AS ring
    FROM g WHERE rn = 1
    UNION ALL
    SELECT n.series_id, n.rn, n.valid_time, n.value,
           {_HW_LP} AS level,
           {_HW_BETA}::DOUBLE * (({_HW_LP}) - h.level) + {1.0 - _HW_BETA}::DOUBLE * h.trend AS trend,
           h.ring[2:] || [{_HW_GAMMA}::DOUBLE * (n.value - ({_HW_LP})) + {1.0 - _HW_GAMMA}::DOUBLE * h.ring[1]] AS ring
    FROM hw h JOIN g n ON n.series_id = h.series_id AND n.rn = h.rn + 1
)
SELECT series_id, valid_time, value,
       floor(level * 1e6) / 1e6 AS hw_level,
       floor((level + trend + ring[1]) * 1e6) / 1e6 AS hw_forecast
FROM hw
"""


def counter_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user value rate between consecutive samples with counter-reset
    detection — the PromQL ``rate()`` / ClickHouse ``runningDifference``
    analogue, treating ``value`` as a cumulative counter that may reset to a
    lower value (process restart): a negative delta counts from zero.

    Exact arithmetic end to end: cent-quantized value deltas over integer-µs
    time deltas, rate floor-scaled to 6 decimals (dodges round-tie modes).
    One window sort per user partition; no self-join.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cents = (_d("value") * 100).cast("long")
    prev_c = F.lag(cents).over(w)
    prev_t = F.lag("ts").over(w)
    dt_us = F.unix_micros("ts") - F.unix_micros(prev_t)
    # reset: counter dropped → the increase since the reset is the new value
    inc_c = F.when(cents >= prev_c, cents - prev_c).otherwise(cents)
    rate = F.floor((inc_c / 100.0) / (dt_us / 1_000_000.0) * 1e6) / 1e6
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        F.when(prev_t.isNotNull(), inc_c / 100.0).alias("increase"),
        F.when(prev_t.isNotNull() & (dt_us > 0), rate).alias("rate_per_s"),
        (cents < prev_c).alias("reset"),
    )


COUNTER_RATE_SQL = """
WITH w AS (
    SELECT user_id, event_id, ts,
           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
           lag(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
               OVER win AS prev_c,
           lag(ts) OVER win AS prev_t
    FROM events
    WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)
),
d AS (
    SELECT *, epoch_us(ts) - epoch_us(prev_t) AS dt_us,
           CASE WHEN c >= prev_c THEN c - prev_c ELSE c END AS inc_c
    FROM w
)
SELECT user_id, event_id, ts,
       CASE WHEN prev_t IS NOT NULL THEN inc_c / 100.0 END AS increase,
       CASE WHEN prev_t IS NOT NULL AND dt_us > 0
            THEN floor((inc_c / 100.0) / (dt_us / 1000000.0) * 1e6) / 1e6
       END AS rate_per_s,
       c < prev_c AS reset
FROM d
"""


def retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention-cohort matrix: users grouped by first-activity week
    (cohort), counted distinct in each subsequent activity week offset —
    the product-analytics staple.

    Shape: first-seen is ONE map-side-combined agg on user_id; the activity
    grid reuses the same (user, week) pre-aggregation; the cohort join is on
    user_id (co-partitioned with the first agg's output). Distinct counts
    happen on the already-deduped (user, week) frame — no count(distinct)
    shuffle explosion at 100 TB.
    """
    ev = load_table(spark, sf_dir, "events")
    uw = ev.select("user_id", F.date_trunc("week", "ts").alias("wk")).distinct()
    first = uw.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    j = uw.join(first, "user_id")
    week_off = (
        (F.unix_micros("wk") - F.unix_micros("cohort_wk")) / (7 * 24 * 3600 * 1_000_000)
    ).cast("int")
    return (
        j.groupBy("cohort_wk", week_off.alias("week_offset"))
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


RETENTION_COHORT_SQL = """
WITH uw AS (
    SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS wk FROM events
),
first AS (
    SELECT user_id, min(wk) AS cohort_wk FROM uw GROUP BY user_id
)
SELECT first.cohort_wk,
       CAST((epoch_us(uw.wk) - epoch_us(first.cohort_wk))
            // (7 * 24 * 3600 * CAST(1000000 AS BIGINT)) AS INT) AS week_offset,
       count(*) AS n_users
FROM uw JOIN first USING (user_id)
GROUP BY 1, 2
"""


def m4_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 visualization downsampling: per (user, hour bucket) the first,
    last, min and max samples — the four points that make a line chart of
    the bucket pixel-exact (Jugel et al., VLDB 2014). The TSDB dashboard
    primitive (Timescale/InfluxDB downsample path).

    Pure min_by/max_by aggregation keyed by (ts, event_id) / (value, ts,
    event_id) structs — map-side partial, ONE shuffle, no window sort;
    same shape as OHLC but carrying the coordinates needed for exact
    rendering. Unlike ohlc_bars this aggregate stays sort-based by
    necessity: the v_min/v_max ordering (decimal value, ts, event_id)
    cannot pack into one DECIMAL(38,0) (~53 digits), and a single
    immutable buffer field forces the whole node to SortAggregate — the
    partial combine before the shuffle is the part that matters at scale.
    """
    ev = load_table(spark, sf_dir, "events")
    okey = F.struct(F.col("ts"), F.col("event_id"))
    vkey = F.struct(_d("value").alias("v"), F.col("ts"), F.col("event_id"))
    return ev.groupBy("user_id", F.date_trunc("hour", "ts").alias("bucket")).agg(
        F.min_by("value", okey).alias("v_first"),
        F.max_by("value", okey).alias("v_last"),
        F.min_by("value", vkey).alias("v_min"),
        F.max_by("value", vkey).alias("v_max"),
        F.unix_micros(F.min_by("ts", vkey)).alias("t_min_us"),
        F.unix_micros(F.max_by("ts", vkey)).alias("t_max_us"),
        F.count(F.lit(1)).alias("n_samples"),
    )


M4_SQL = """
WITH w AS (
    SELECT user_id, date_trunc('hour', ts) AS bucket, value, ts, event_id,
           row_number() OVER (win ORDER BY ts, event_id) AS rf,
           row_number() OVER (win ORDER BY ts DESC, event_id DESC) AS rl,
           row_number() OVER (win ORDER BY CAST(value AS DECIMAL(18,2)), ts, event_id) AS rmin,
           row_number() OVER (win ORDER BY CAST(value AS DECIMAL(18,2)) DESC, ts DESC, event_id DESC) AS rmax
    FROM events
    WINDOW win AS (PARTITION BY user_id, date_trunc('hour', ts))
)
SELECT user_id, bucket,
       max(CASE WHEN rf = 1 THEN value END) AS v_first,
       max(CASE WHEN rl = 1 THEN value END) AS v_last,
       max(CASE WHEN rmin = 1 THEN value END) AS v_min,
       max(CASE WHEN rmax = 1 THEN value END) AS v_max,
       max(CASE WHEN rmin = 1 THEN epoch_us(ts) END) AS t_min_us,
       max(CASE WHEN rmax = 1 THEN epoch_us(ts) END) AS t_max_us,
       count(*) AS n_samples
FROM w GROUP BY 1, 2
"""


def seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition of each user's hourly series:
    trend (centered ±12 h moving average) + seasonal (hour-of-day mean of
    the detrended values) + residual — the statsmodels
    ``seasonal_decompose`` shape, re-expressed exactly.

    All three components live in integer micro-units (cents × 10⁴) so both
    engines agree bit-for-bit: the window average and the seasonal mean are
    integer divisions (truncation toward zero — Spark ``div`` == DuckDB
    ``//``), never float accumulations. One window over (user, hour order)
    + one (user, hour-of-day) agg joined back — two shuffles total, both on
    fine-grained keys.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.col("user_id").alias("series_id"), F.date_trunc("hour", "ts").alias("h")
    ).agg(F.sum((_d("value") * 100).cast("long")).alias("c"))
    w = Window.partitionBy("series_id").orderBy("h").rowsBetween(-12, 12)
    t = hourly.select(
        "series_id",
        "h",
        "c",
        F.expr("sum(c) OVER (PARTITION BY series_id ORDER BY h ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)").alias("_tsum"),
        F.count(F.lit(1)).over(w).alias("_tn"),
    ).withColumn("trend_micro", F.expr("(_tsum * 10000) div _tn"))
    t = t.withColumn("detr_micro", F.col("c") * 10000 - F.col("trend_micro"))
    seas = t.groupBy(
        F.col("series_id").alias("s_sid"), F.hour("h").alias("hod")
    ).agg(F.expr("sum(detr_micro) div count(1)").alias("seasonal_micro"))
    out = t.join(
        seas, (t.series_id == seas.s_sid) & (F.hour(t.h) == seas.hod)
    ).select(
        "series_id",
        "h",
        (F.col("c") / 100.0).alias("value"),
        "trend_micro",
        "seasonal_micro",
        (F.col("detr_micro") - F.col("seasonal_micro")).alias("resid_micro"),
    )
    return out


SEASONAL_DECOMPOSE_SQL = """
WITH hourly AS (
    SELECT user_id AS series_id, date_trunc('hour', ts) AS h,
           CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS c
    FROM events GROUP BY 1, 2
),
t AS (
    SELECT series_id, h, c,
           CAST((sum(c) OVER win * 10000) // count(*) OVER win AS BIGINT) AS trend_micro
    FROM hourly
    WINDOW win AS (PARTITION BY series_id ORDER BY h
                   ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
),
d AS (SELECT *, c * 10000 - trend_micro AS detr_micro FROM t),
seas AS (
    SELECT series_id, extract(hour FROM h) AS hod,
           CAST(sum(detr_micro) // count(*) AS BIGINT) AS seasonal_micro
    FROM d GROUP BY 1, 2
)
SELECT d.series_id, d.h, d.c / 100.0 AS value,
       d.trend_micro, seas.seasonal_micro,
       d.detr_micro - seas.seasonal_micro AS resid_micro
FROM d JOIN seas ON seas.series_id = d.series_id AND seas.hod = extract(hour FROM d.h)
"""


_THETA_ALPHA = 0.5  # dyadic SES constant — bit-identical folds across engines


def theta_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-method forecast per user series (Assimakopoulos & Nikolopoulos
    2000; the M4 competition's winning statistical baseline) — completes the
    forecasting family (seasonal_naive, holt, holt_winters): OLS trend +
    SES over the theta(2)-line, combined half-and-half.

    Reference parity: the reference's forecasting surface is client-side
    (timedb/read.py:404-527 serves the vintages; models run on top) — this
    is the canonical model a timedb user runs on a read_latest frame.

    Determinism/scale shape (one shuffle, zero Python):
    - One :func:`_cents_history` sorted collect — the only shuffle.
    - OLS moments in EXACT integer cents (Σx, Σtx as longs; Σt, Σt² closed
      forms), so slope/intercept are one long→double division per engine —
      no float-summation order dependence.
    - SES l ← ½x + ½l is a left fold over the sorted theta-line
      (``F.aggregate`` / ``list_reduce``), identical operation order.
    - Outputs floor-scaled to 6 dp (engine-divergent round() tie modes).
    """
    g = _cents_history(spark, sf_dir)
    g = g.select(
        "user_id",
        "c",
        F.col("n_obs").cast("long").alias("n"),
        F.aggregate("c", F.lit(0).cast("long"), lambda acc, x: acc + x).alias("sx"),
        F.aggregate(
            F.transform("c", lambda x, i: x * (i.cast("long") + 1)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("stx"),
    )
    st = F.expr("(n * (n + 1)) div 2")
    st2 = F.expr("(n * (n + 1) * (2 * n + 1)) div 6")
    num = F.col("n") * F.col("stx") - st * F.col("sx")
    den = F.col("n") * st2 - st * st
    b = F.when(F.col("n") >= 2, num.cast("double") / den.cast("double")).otherwise(F.lit(0.0))
    g = g.select("user_id", "c", "n", "sx", st.alias("st"), b.alias("b"))
    a = (F.col("sx").cast("double") - F.col("b") * F.col("st").cast("double")) / F.col(
        "n"
    ).cast("double")
    g = g.withColumn("a", a)
    # theta(2)-line: z_t = 2·x_t − (a + b·t), doubles over exact cents
    z = F.transform(
        "c",
        lambda x, i: 2.0 * x.cast("double") - (F.col("a") + F.col("b") * (i.cast("double") + 1.0)),
    )
    g = g.withColumn("z", z)
    ses = F.aggregate(
        F.slice("z", F.lit(2), (F.col("n") - 1).cast("int")),
        F.element_at("z", 1),
        lambda acc, x: acc * (1.0 - _THETA_ALPHA) + x * _THETA_ALPHA,
    )
    g = g.withColumn("ses", ses)

    def _fc(h: int):
        f = 0.5 * F.col("ses") + 0.5 * (F.col("a") + F.col("b") * (F.col("n").cast("double") + h))
        return F.floor(f / 100.0 * 1e6) / 1e6

    return g.select(
        "user_id",
        F.col("n").alias("n_points"),
        (F.floor(F.col("b") / 100.0 * 1e6) / 1e6).alias("theta_slope"),
        (F.floor(F.col("ses") / 100.0 * 1e6) / 1e6).alias("theta_level"),
        _fc(1).alias("theta_f1"),
        _fc(24).alias("theta_f24"),
    )


THETA_SQL = f"""
WITH h AS (
    SELECT user_id,
           list_sort(list(struct_pack(ts := ts, event_id := event_id, value := value))) AS hist
    FROM events GROUP BY user_id
),
c AS (
    SELECT user_id,
           list_transform(hist, r -> CAST(CAST(r.value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS c
    FROM h
),
m AS (
    SELECT user_id, c,
           CAST(len(c) AS BIGINT) AS n,
           list_sum(c) AS sx,
           list_sum(list_transform(c, (x, i) -> x * CAST(i AS BIGINT))) AS stx
    FROM c
),
ab AS (
    SELECT user_id, c, n, sx,
           (n * (n + 1)) // 2 AS st,
           CASE WHEN n >= 2
                THEN CAST(n * stx - ((n * (n + 1)) // 2) * sx AS DOUBLE)
                   / CAST(n * ((n * (n + 1) * (2 * n + 1)) // 6)
                          - ((n * (n + 1)) // 2) * ((n * (n + 1)) // 2) AS DOUBLE)
                ELSE 0.0 END AS b
    FROM m
),
abz AS (
    SELECT user_id, n, b,
           (CAST(sx AS DOUBLE) - b * CAST(st AS DOUBLE)) / CAST(n AS DOUBLE) AS a,
           list_transform(c, (x, i) -> 2.0 * CAST(x AS DOUBLE)
               - ((CAST(sx AS DOUBLE) - b * CAST(st AS DOUBLE)) / CAST(n AS DOUBLE)
                  + b * CAST(i AS DOUBLE))) AS z
    FROM ab
),
sesd AS (
    SELECT user_id, n, b, a,
           list_reduce(z, (acc, x) -> acc * {1.0 - _THETA_ALPHA} + x * {_THETA_ALPHA}) AS ses
    FROM abz
)
SELECT user_id, n AS n_points,
       floor(b / 100.0 * 1e6) / 1e6 AS theta_slope,
       floor(ses / 100.0 * 1e6) / 1e6 AS theta_level,
       floor((0.5 * ses + 0.5 * (a + b * (n + 1))) / 100.0 * 1e6) / 1e6 AS theta_f1,
       floor((0.5 * ses + 0.5 * (a + b * (n + 24))) / 100.0 * 1e6) / 1e6 AS theta_f24
FROM sesd
"""


#: local-level Kalman filter constants (dyadic: bit-identical across engines)
_KF_Q = 0.25   # process-noise variance
_KF_R = 1.0    # observation-noise variance
_KF_SPAN = 24  # trailing frame (rows): bounded per-row state, as in holt


def kalman_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-level (random-walk-plus-noise) Kalman filter per user over a
    bounded trailing frame — the probabilistic member of the smoothing
    family (ewma fixes its gain a-priori; the Kalman gain adapts from the
    error covariance and converges to the steady-state ewma).

    Per step:  P ← P_prev + Q;  K = P/(P+R);  l ← l + K·(x − l);
    P ← (1−K)·P  — a 2-state scalar fold with accumulator [level, cov],
    exactly the shape of :func:`holt`: ``F.aggregate`` over the
    ROWS-bounded collect on Spark, ``list_reduce`` with the prepended init
    state in the oracle. Seeded (l₀ = oldest value in frame, P₀ = 1.0).

    Determinism: dyadic Q/R keep every multiply exact-scaled; the divide in
    the gain is a single IEEE-754 double division per step performed in the
    identical order by both engines; outputs floor-scaled to 6 dp. Scale
    shape: one window shuffle on (user_id), O(span) state per row, zero
    Python — identical to holt's 100 TB profile.
    """
    ev = load_table(spark, sf_dir, "events")

    def _step(acc, x):
        l_, p_ = F.element_at(acc, 1), F.element_at(acc, 2)
        pp = p_ + F.lit(_KF_Q)
        k = pp / (pp + F.lit(_KF_R))
        return F.array(l_ + k * (x - l_), (1.0 - k) * pp)

    fold = _trailing_fold(_KF_SPAN, lambda x0: F.array(x0, F.lit(1.0)), _step)
    level, cov = F.element_at(fold, 1), F.element_at(fold, 2)
    gain = (cov + _KF_Q) / (cov + _KF_Q + _KF_R)
    return ev.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        (F.floor(level * 1e6) / 1e6).alias("kf_level"),
        (F.floor(gain * 1e6) / 1e6).alias("kf_gain"),
    )


KALMAN_SQL = f"""
WITH arr AS (
    SELECT user_id, ts, event_id, value,
           list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN {_KF_SPAN - 1} PRECEDING AND CURRENT ROW) AS a
    FROM events
),
folded AS (
    SELECT user_id, ts, event_id, value,
           list_reduce(
               list_prepend([a[1], 1.0], list_transform(a[2:], x -> [x, 0.0])),
               (acc, x) -> [
                   acc[1] + ((acc[2] + {_KF_Q}) / ((acc[2] + {_KF_Q}) + {_KF_R}))
                          * (x[1] - acc[1]),
                   (1.0 - ((acc[2] + {_KF_Q}) / ((acc[2] + {_KF_Q}) + {_KF_R})))
                   * (acc[2] + {_KF_Q})
               ]) AS s
    FROM arr
)
SELECT user_id, ts, event_id, value,
       floor(s[1] * 1e6) / 1e6 AS kf_level,
       floor(((s[2] + {_KF_Q}) / ((s[2] + {_KF_Q}) + {_KF_R})) * 1e6) / 1e6 AS kf_gain
FROM folded
"""


#: Croston smoothing constant (dyadic: bit-identical across engines)
_CROSTON_ALPHA = 0.25


def croston(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's method (1972) per user over the purchase-demand series —
    THE intermittent-demand forecaster (spare-parts / sparse-SKU pattern):
    most periods carry zero demand, so a plain SES chases zeros down while
    Croston smooths demand SIZE and demand INTERVAL separately and
    forecasts their ratio.

    Every event in a user's history is one period; demand is the purchase
    value (exact cents), zero otherwise. At the t-th demand:
    z ← α·d + (1−α)·z  (size),  p ← α·q + (1−α)·p  (interval, q = periods
    since previous demand); between demands only q advances. Seeded at the
    first demand with (z = d₁, p = q₁) — the standard init.

    Shape is :func:`theta_forecast`'s: ONE groupBy(user) with
    array_sort(collect_list(struct)) as the only shuffle, the recursion as
    a 4-state ``F.aggregate`` fold ([z, p, q, started]) / ``list_reduce``
    with a prepended init in the oracle — identical operation order, demand
    in exact integer cents, dyadic α, outputs floor-scaled to 6 dp. Per-user
    arrays bounded by entity history (pre-filter by time for unbounded
    feeds), zero Python.
    """
    ev = load_table(spark, sf_dir, "events")
    s = F.struct(F.col("ts"), F.col("event_id"), F.col("value"), F.col("event_type"))
    g = ev.groupBy("user_id").agg(F.array_sort(F.collect_list(s)).alias("hist"))
    cents = F.transform(
        "hist",
        lambda r: F.when(
            r["event_type"] == "purchase",
            (r["value"].cast("decimal(18,2)") * 100).cast("long").cast("double"),
        ).otherwise(F.lit(0.0)),
    )
    g = g.select("user_id", cents.alias("c"))
    a = _CROSTON_ALPHA

    def _step(acc, x):
        z, p, q, started = (F.element_at(acc, i) for i in (1, 2, 3, 4))
        return (
            F.when(
                x > 0.0,
                F.when(
                    started > 0.0,
                    F.array(a * x + (1.0 - a) * z, a * (q + 1.0) + (1.0 - a) * p, F.lit(0.0), F.lit(1.0)),
                ).otherwise(F.array(x, q + 1.0, F.lit(0.0), F.lit(1.0))),
            ).otherwise(F.array(z, p, q + 1.0, started))
        )

    fold = F.aggregate("c", F.array(*[F.lit(0.0)] * 4), _step)
    z, p, started = F.element_at(fold, 1), F.element_at(fold, 2), F.element_at(fold, 4)
    fc = F.when(started > 0.0, F.floor((z / 100.0) / p * 1e6) / 1e6)
    return g.select(
        "user_id",
        F.size("c").alias("n_periods"),
        F.size(F.filter("c", lambda x: x > 0.0)).alias("n_demands"),
        F.when(started > 0.0, F.floor(z / 100.0 * 1e6) / 1e6).alias("croston_size"),
        F.when(started > 0.0, F.floor(p * 1e6) / 1e6).alias("croston_interval"),
        fc.alias("croston_forecast"),
    )


CROSTON_SQL = f"""
WITH h AS (
    SELECT user_id,
           list_sort(list(struct_pack(ts := ts, event_id := event_id,
                                      value := value, event_type := event_type))) AS hist
    FROM events GROUP BY user_id
),
c AS (
    SELECT user_id,
           list_transform(hist, r -> CASE WHEN r.event_type = 'purchase'
               THEN CAST(CAST(CAST(r.value AS DECIMAL(18,2)) * 100 AS BIGINT) AS DOUBLE)
               ELSE 0.0 END) AS c
    FROM h
),
folded AS (
    SELECT user_id, c,
           list_reduce(
               list_prepend([0.0, 0.0, 0.0, 0.0], list_transform(c, x -> [x, 0.0, 0.0, 0.0])),
               (acc, x) -> CASE
                   WHEN x[1] > 0.0 AND acc[4] > 0.0 THEN [
                       {_CROSTON_ALPHA} * x[1] + {1.0 - _CROSTON_ALPHA} * acc[1],
                       {_CROSTON_ALPHA} * (acc[3] + 1.0) + {1.0 - _CROSTON_ALPHA} * acc[2],
                       0.0, 1.0]
                   WHEN x[1] > 0.0 THEN [x[1], acc[3] + 1.0, 0.0, 1.0]
                   ELSE [acc[1], acc[2], acc[3] + 1.0, acc[4]]
               END) AS s
    FROM c
)
SELECT user_id,
       len(c) AS n_periods,
       len(list_filter(c, x -> x > 0.0)) AS n_demands,
       CASE WHEN s[4] > 0.0 THEN floor(s[1] / 100.0 * 1e6) / 1e6 END AS croston_size,
       CASE WHEN s[4] > 0.0 THEN floor(s[2] * 1e6) / 1e6 END AS croston_interval,
       CASE WHEN s[4] > 0.0 THEN floor((s[1] / 100.0) / s[2] * 1e6) / 1e6 END AS croston_forecast
FROM folded
"""


#: SAX word length (PAA segments) and the N(0,1) quartile breakpoints of
#: the 4-symbol alphabet a|b|c|d (Lin, Keogh, Lonardi & Chiu, DMKD'03)
_SAX_W = 8
_SAX_BREAKPOINTS = (-0.6745, 0.0, 0.6745)


def sax_symbolize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX (Symbolic Aggregate approXimation) per user series: z-normalize,
    Piecewise-Aggregate-Approximate into ``_SAX_W`` segments, and map each
    segment mean to a 4-symbol alphabet at the N(0,1) quartile breakpoints
    — the classic shape-indexing symbolization (motif discovery, shape
    dedup, symbolic sequence joins run on the words downstream).

    Shape is :func:`theta_forecast`'s: ONE groupBy(user) whose sorted
    per-user array is the only shuffle; the 8 segment sums are unrolled
    array-lambda folds over that array (no second shuffle, no explode).

    Determinism: values ride as exact integer cents, so Σx and Σx² are
    exact longs (Σx² stays within int64 up to ~10⁹ rows/user at this value
    range — promote to decimal beyond); mean/variance/normalized segment
    means then derive through the IDENTICAL double-op sequence in both
    engines, so breakpoint comparisons cannot diverge. Segment membership
    is floor((i·w)/n) over exact small ints. Flat-series degenerate
    (std = 0) pins every symbol at 'b'.
    """
    g = _cents_history(spark, sf_dir).select(
        "user_id",
        "c",
        F.col("n_obs").cast("long").alias("n"),
        F.aggregate("c", F.lit(0).cast("long"), lambda acc, x: acc + x).alias("sx"),
        F.aggregate(
            F.transform("c", lambda x: x * x),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("sxx"),
    )
    nd = F.col("n").cast("double")
    mean = F.col("sx").cast("double") / nd
    var = F.col("sxx").cast("double") / nd - mean * mean
    std = F.sqrt(F.greatest(var, F.lit(0.0)))
    g = g.withColumn("mean_c", mean).withColumn("std_c", std)

    b1, b2, b3 = _SAX_BREAKPOINTS

    def _member_of(seg: int):
        # closure (not a default arg): PySpark reads the lambda's arity to
        # pick the HOF form, so the lambda must take exactly (x, i)
        return lambda x, i: F.floor(i.cast("double") * float(_SAX_W) / F.col("n")) == seg

    syms = []
    for seg in range(_SAX_W):
        member = F.filter("c", _member_of(seg))
        seg_n = F.size(member)
        seg_sx = F.aggregate(member, F.lit(0).cast("long"), lambda acc, x: acc + x)
        norm = (seg_sx.cast("double") / seg_n.cast("double") - F.col("mean_c")) / F.col("std_c")
        syms.append(
            F.when(seg_n == 0, F.lit(""))
            .when(F.col("std_c") == 0.0, F.lit("b"))
            .when(norm < b1, F.lit("a"))
            .when(norm < b2, F.lit("b"))
            .when(norm < b3, F.lit("c"))
            .otherwise(F.lit("d"))
        )
    return g.select(
        "user_id",
        F.col("n").alias("n_points"),
        F.concat(*syms).alias("sax_word"),
        (F.floor(F.col("mean_c") / 100.0 * 1e6) / 1e6).alias("series_mean"),
        (F.floor(F.col("std_c") / 100.0 * 1e6) / 1e6).alias("series_std"),
    )


def _sax_sym_sql(seg: int) -> str:
    b1, b2, b3 = _SAX_BREAKPOINTS
    member = f"list_filter(c, (x, i) -> floor(CAST(i - 1 AS DOUBLE) * {float(_SAX_W)} / n) = {seg})"
    norm = (
        f"(CAST(CAST(list_sum({member}) AS BIGINT) AS DOUBLE)"
        f" / CAST(len({member}) AS DOUBLE) - mean_c) / std_c"
    )
    return f"""CASE WHEN len({member}) = 0 THEN ''
                WHEN std_c = 0.0 THEN 'b'
                WHEN {norm} < {b1} THEN 'a'
                WHEN {norm} < {b2} THEN 'b'
                WHEN {norm} < {b3} THEN 'c'
                ELSE 'd' END"""


SAX_SQL = f"""
WITH h AS (
    SELECT user_id,
           list_sort(list(struct_pack(ts := ts, event_id := event_id, value := value))) AS hist
    FROM events GROUP BY user_id
),
c AS (
    SELECT user_id,
           list_transform(hist, r -> CAST(CAST(r.value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS c
    FROM h
),
m AS (
    SELECT user_id, c,
           CAST(len(c) AS BIGINT) AS n,
           CAST(list_sum(c) AS BIGINT) AS sx,
           CAST(list_sum(list_transform(c, x -> x * x)) AS BIGINT) AS sxx
    FROM c
),
z AS (
    SELECT user_id, c, n,
           CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_c,
           sqrt(greatest(CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE)
                         - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                           * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)), 0.0)) AS std_c
    FROM m
)
SELECT user_id, n AS n_points,
       {" || ".join(f"({_sax_sym_sql(seg)})" for seg in range(_SAX_W))} AS sax_word,
       floor(mean_c / 100.0 * 1e6) / 1e6 AS series_mean,
       floor(std_c / 100.0 * 1e6) / 1e6 AS series_std
FROM z
"""


# ---------------------------------------------------------------------------
# CUSUM control chart — sequential mean-shift alarms per user series
# ---------------------------------------------------------------------------

_CUSUM_K = 0.5  # slack, in σ units
_CUSUM_H = 4.0  # decision threshold, in σ units


def cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided standardized CUSUM (Page 1954) per user over the event
    value sequence: S⁺ ← max(0, S⁺ + z − k), S⁻ ← max(0, S⁻ − z − k) with
    z = (x − μ)/σ; an alarm fires when either side crosses h and the side
    resets — the classic sequential mean-shift detector (drift/quality
    monitoring over metric streams; complements ts_changepoint's offline
    segmentation with an online-semantics chart).

    Shape is :func:`croston`'s: ONE groupBy(user) with
    array_sort(collect_list(struct)) as the only shuffle; μ and σ come
    from exact integer-cent Σx/Σx² folds over the SAME array (no second
    pass over the data, no join), and the chart recursion is a 7-state
    ``F.aggregate`` fold. The oracle twin is a RECURSIVE CTE (not a
    list_reduce): the step's fired-predicate is needed in five state slots
    and DuckDB v1.0.0 mis-evaluates identical predicates duplicated across
    fold slots (the ts_drawdown finding) — the CTE's lateral column
    aliases compute z/sp2/sn2/fired once per step instead.
    Per-user arrays bounded by entity history; zero Python.

    Determinism: values ride as exact integer cents; μ, σ and every z
    derive through the identical double-op sequence in both engines;
    outputs floor-scaled to 6 dp. σ = 0 (constant series) short-circuits
    to z = 0 — no alarms, no NaN.
    """
    g = _cents_history(spark, sf_dir)
    zero = F.lit(0).cast("long")
    n = F.col("n_obs").cast("long")
    sx = F.aggregate("c", zero, lambda acc, x: acc + x)
    sxx = F.aggregate("c", zero, lambda acc, x: acc + x * x)
    mu = sx.cast("double") / n.cast("double")
    var = sxx.cast("double") / n.cast("double") - mu * mu
    sigma = F.sqrt(F.greatest(var, F.lit(0.0)))
    g = g.select("user_id", "c", n.alias("n_events"), mu.alias("mu"), sigma.alias("sigma"))
    k, h = _CUSUM_K, _CUSUM_H

    def _step(acc, x):
        sp, sn, alarms, mxp, mxn, first, t = (F.element_at(acc, i) for i in range(1, 8))
        z = F.when(
            F.col("sigma") > 0.0, (x.cast("double") - F.col("mu")) / F.col("sigma")
        ).otherwise(F.lit(0.0))
        sp2 = F.greatest(F.lit(0.0), sp + z - k)
        sn2 = F.greatest(F.lit(0.0), sn - z - k)
        fired = (sp2 > h) | (sn2 > h)
        return F.array(
            F.when(fired, F.lit(0.0)).otherwise(sp2),
            F.when(fired, F.lit(0.0)).otherwise(sn2),
            alarms + F.when(fired, 1.0).otherwise(0.0),
            F.greatest(mxp, sp2),
            F.greatest(mxn, sn2),
            F.when(fired & (first < 0.0), t).otherwise(first),
            t + 1.0,
        )

    init = F.array(
        F.lit(0.0), F.lit(0.0), F.lit(0.0), F.lit(0.0), F.lit(0.0), F.lit(-1.0), F.lit(0.0)
    )
    fold = F.aggregate("c", init, _step)
    return g.select(
        "user_id",
        "n_events",
        F.element_at(fold, 3).cast("long").alias("n_alarms"),
        F.element_at(fold, 6).cast("long").alias("first_alarm_idx"),
        (F.floor(F.element_at(fold, 4) * 1e6) / 1e6).alias("max_cusum_pos"),
        (F.floor(F.element_at(fold, 5) * 1e6) / 1e6).alias("max_cusum_neg"),
        (F.floor(F.col("mu") / 100.0 * 1e6) / 1e6).alias("mean_value"),
        (F.floor(F.col("sigma") / 100.0 * 1e6) / 1e6).alias("std_value"),
    )


CUSUM_SQL = f"""
WITH RECURSIVE h AS (
    SELECT user_id,
           list_sort(list(struct_pack(ts := ts, event_id := event_id, value := value))) AS hist
    FROM events GROUP BY user_id
),
c AS (
    SELECT user_id,
           list_transform(hist, r -> CAST(CAST(r.value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS c
    FROM h
),
m AS (
    SELECT user_id, c,
           CAST(len(c) AS BIGINT) AS n_events,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), c), (a, x) -> a + x) AS DOUBLE)
               / CAST(len(c) AS DOUBLE) AS mu,
           sqrt(greatest(
               CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(c, x -> x * x)),
                                (a, x) -> a + x) AS DOUBLE) / CAST(len(c) AS DOUBLE)
               - (CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), c), (a, x) -> a + x) AS DOUBLE)
                  / CAST(len(c) AS DOUBLE))
               * (CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), c), (a, x) -> a + x) AS DOUBLE)
                  / CAST(len(c) AS DOUBLE)),
               0.0)) AS sigma
    FROM c
),
-- Row-at-a-time recursion instead of a list_reduce fold: DuckDB v1.0.0
-- mis-evaluates IDENTICAL CASE predicates duplicated across fold struct
-- slots on multi-step chains (the ts_drawdown finding), and the CUSUM step
-- needs its fired-predicate in five slots. The recursive CTE computes
-- z / sp2 / sn2 / fired ONCE per step via lateral column aliases — exactly
-- the Spark F.aggregate lambda's evaluation order — so no predicate is
-- ever duplicated. zt pre-unnests (step, z) so the recursion carries only
-- scalar state, never the per-user array.
zt AS (
    SELECT user_id,
           unnest(range(1, len(c) + 1)) AS t,
           unnest(list_transform(c, x ->
               CASE WHEN sigma > 0.0 THEN (CAST(x AS DOUBLE) - mu) / sigma ELSE 0.0 END)) AS z
    FROM m
),
steps AS (
    SELECT user_id, n_events, mu, sigma,
           CAST(0 AS BIGINT) AS t,
           CAST(0.0 AS DOUBLE) AS sp, CAST(0.0 AS DOUBLE) AS sn,
           CAST(0.0 AS DOUBLE) AS alarms,
           CAST(0.0 AS DOUBLE) AS mxp, CAST(0.0 AS DOUBLE) AS mxn,
           CAST(-1.0 AS DOUBLE) AS first_t
    FROM m
    UNION ALL
    SELECT user_id, n_events, mu, sigma, t,
           CASE WHEN fired THEN 0.0 ELSE sp2 END,
           CASE WHEN fired THEN 0.0 ELSE sn2 END,
           alarms + CASE WHEN fired THEN 1.0 ELSE 0.0 END,
           greatest(mxp, sp2),
           greatest(mxn, sn2),
           CASE WHEN fired AND first_t < 0.0 THEN CAST(t - 1 AS DOUBLE) ELSE first_t END
    FROM (
        SELECT s.user_id, s.n_events, s.mu, s.sigma, z.t,
               s.sp, s.sn, s.alarms, s.mxp, s.mxn, s.first_t,
               greatest(0.0, s.sp + z.z - {_CUSUM_K}) AS sp2,
               greatest(0.0, s.sn - z.z - {_CUSUM_K}) AS sn2,
               sp2 > {_CUSUM_H} OR sn2 > {_CUSUM_H} AS fired
        FROM steps s JOIN zt z ON z.user_id = s.user_id AND z.t = s.t + 1
    )
)
SELECT user_id, n_events,
       CAST(alarms AS BIGINT) AS n_alarms,
       CAST(first_t AS BIGINT) AS first_alarm_idx,
       floor(mxp * 1e6) / 1e6 AS max_cusum_pos,
       floor(mxn * 1e6) / 1e6 AS max_cusum_neg,
       floor(mu / 100.0 * 1e6) / 1e6 AS mean_value,
       floor(sigma / 100.0 * 1e6) / 1e6 AS std_value
FROM steps WHERE t = n_events
"""


# ---------------------------------------------------------------------------
# Mann–Kendall trend test + Sen's slope
# ---------------------------------------------------------------------------

_MK_Z_CRIT = 1.959964  # two-sided 5%


def mk_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall monotonic-trend test with Sen's slope per user series —
    THE nonparametric trend detector (hydrology/climate standard; no
    normality or linearity assumption, robust to outliers): S = Σ_{i<j}
    sign(x_j − x_i), tie-corrected variance, and the trend magnitude as the
    median of all pairwise slopes (Sen 1968).

    Shape is :func:`croston`'s: ONE groupBy(user) with the sorted per-user
    array as the only shuffle; the O(n²) pair enumeration runs as nested
    array lambdas inside codegen — per-user work bounded by entity history
    (pre-filter by time for unbounded feeds; at very long histories swap S
    for the O(n log n) inversion-count formulation and Sen for a
    quantile-sketch over sampled pairs).

    Determinism: S, the tie counts, and the variance numerator are exact
    longs; variance, z and every slope derive through identical double-op
    sequences (slopes in exact cents over exact index gaps); the median is
    an explicit sorted-array pick with the same even/odd rule in both
    engines; outputs floor-scaled to 6 dp.
    """
    g = _cents_history(spark, sf_dir)
    n = F.col("n_obs")
    zero = F.lit(0).cast("long")
    empty_l = F.array().cast("array<long>")
    empty_d = F.array().cast("array<double>")

    def el(i):  # 0-based element
        return F.element_at("c", i + 1)

    signs = F.when(
        n >= 2,
        F.flatten(
            F.transform(
                F.sequence(F.lit(1), n - 1),
                lambda j: F.transform(
                    F.sequence(F.lit(0), j - 1),
                    lambda i: F.signum((el(j) - el(i)).cast("double")).cast("long"),
                ),
            )
        ),
    ).otherwise(empty_l)
    slopes = F.when(
        n >= 2,
        F.array_sort(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), n - 1),
                    lambda j: F.transform(
                        F.sequence(F.lit(0), j - 1),
                        lambda i: (el(j) - el(i)).cast("double") / (j - i).cast("double"),
                    ),
                )
            )
        ),
    ).otherwise(empty_d)
    s_stat = F.aggregate(signs, zero, lambda acc, x: acc + x)
    tcounts = F.transform(
        F.array_distinct("c"), lambda v: F.size(F.filter("c", lambda x: x == v)).cast("long")
    )
    corr = F.aggregate(tcounts, zero, lambda acc, t: acc + t * (t - 1) * (2 * t + 5))
    # pin the three O(n²)-ish aggregates once (r14 audit): downstream, z
    # references s_stat/var_s four times, the Sen's-slope median reads the
    # sorted pair-slopes array m six times, and the verdict re-references
    # z — unpinned, Catalyst re-evaluated the flatten+sort per reference.
    g = g.select(
        "user_id", "n_obs", s_stat.alias("s_stat"), slopes.alias("m"), corr.alias("tie_corr")
    ).localCheckpoint(eager=False)
    nl = n.cast("long")
    var_s = (nl * (nl - 1) * (2 * nl + 5) - F.col("tie_corr")).cast("double") / 18.0
    sd = F.sqrt(var_s)
    z = (
        F.when((F.col("s_stat") > 0) & (sd > 0.0), (F.col("s_stat") - 1).cast("double") / sd)
        .when((F.col("s_stat") < 0) & (sd > 0.0), (F.col("s_stat") + 1).cast("double") / sd)
        .otherwise(F.lit(0.0))
    )
    med_cents = sorted_median("m")
    g = g.select(
        "user_id",
        F.col("n_obs").alias("n_events"),
        "s_stat",
        (F.floor(var_s * 1e6) / 1e6).alias("var_s"),
        (F.floor(z * 1e6) / 1e6).alias("z_stat"),
        (F.floor(med_cents / 100.0 * 1e6) / 1e6).alias("sen_slope"),
        F.when(z > _MK_Z_CRIT, F.lit("increasing"))
        .when(z < -_MK_Z_CRIT, F.lit("decreasing"))
        .otherwise(F.lit("no_trend"))
        .alias("trend"),
    )
    return g


MK_TREND_SQL = f"""
WITH h AS (
    SELECT user_id,
           list_sort(list(struct_pack(ts := ts, event_id := event_id, value := value))) AS hist
    FROM events GROUP BY user_id
),
c AS (
    SELECT user_id,
           list_transform(hist, r -> CAST(CAST(r.value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS c,
           len(hist) AS n
    FROM h
),
m AS (
    SELECT user_id, n, c,
           CASE WHEN n >= 2 THEN
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                   flatten(list_transform(range(1, n), j ->
                       list_transform(range(0, j), i ->
                           CAST(sign(CAST(c[j + 1] - c[i + 1] AS DOUBLE)) AS BIGINT))))),
                   (a, x) -> a + x)
           ELSE CAST(0 AS BIGINT) END AS s_stat,
           CASE WHEN n >= 2 THEN
               list_sort(flatten(list_transform(range(1, n), j ->
                   list_transform(range(0, j), i ->
                       CAST(c[j + 1] - c[i + 1] AS DOUBLE) / CAST(j - i AS DOUBLE)))))
           ELSE CAST([] AS DOUBLE[]) END AS slopes,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(list_distinct(c), v ->
                   CAST(len(list_filter(c, x -> x = v)) AS BIGINT))),
               (a, t) -> a + t * (t - 1) * (2 * t + 5)) AS tie_corr
    FROM c
),
v AS (
    SELECT user_id, n, s_stat, slopes,
           CAST(CAST(n AS BIGINT) * (CAST(n AS BIGINT) - 1) * (2 * CAST(n AS BIGINT) + 5)
                - tie_corr AS DOUBLE) / 18.0 AS var_s
    FROM m
),
z AS (
    SELECT user_id, n, s_stat, slopes, var_s,
           CASE WHEN s_stat > 0 AND sqrt(var_s) > 0.0
                    THEN CAST(s_stat - 1 AS DOUBLE) / sqrt(var_s)
                WHEN s_stat < 0 AND sqrt(var_s) > 0.0
                    THEN CAST(s_stat + 1 AS DOUBLE) / sqrt(var_s)
                ELSE 0.0 END AS zv,
           CASE WHEN len(slopes) = 0 THEN NULL
                WHEN len(slopes) % 2 = 1 THEN slopes[(len(slopes) + 1) // 2]
                ELSE (slopes[len(slopes) // 2] + slopes[len(slopes) // 2 + 1]) / 2.0 END AS med_cents
    FROM v
)
SELECT user_id,
       n AS n_events,
       s_stat,
       floor(var_s * 1e6) / 1e6 AS var_s,
       floor(zv * 1e6) / 1e6 AS z_stat,
       floor(med_cents / 100.0 * 1e6) / 1e6 AS sen_slope,
       CASE WHEN zv > {_MK_Z_CRIT} THEN 'increasing'
            WHEN zv < -{_MK_Z_CRIT} THEN 'decreasing'
            ELSE 'no_trend' END AS trend
FROM z
"""


# ---------------------------------------------------------------------------
# periodogram — spectral power at fixed candidate periods
# ---------------------------------------------------------------------------

def _dense_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user ``(user_id, x, n_hours)``: hourly spend in exact cents,
    summed per hour and densified over the user's own [first, last] hour
    span (the RESAMPLE shape: per-user span × hour ticks, LEFT JOIN,
    COALESCE 0 — missing hours are true zeros of the spend signal), then
    collected in hour order as doubles ``x = cents / 100``. Per-user array
    length is the span in hours, bounded by the retention window."""
    ev = load_table(spark, sf_dir, "events")
    hc = (
        ev.select(
            "user_id",
            F.expr("unix_micros(ts) div 3600000000").alias("h"),
            (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("c"),
        )
        .groupBy("user_id", "h")
        .agg(F.sum("c").alias("c"))
    )
    span = hc.groupBy("user_id").agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
    grid = span.select("user_id", F.explode(F.sequence("lo", "hi")).alias("h"))
    dense = grid.join(hc, ["user_id", "h"], "left").select(
        "user_id", "h", F.coalesce("c", F.lit(0).cast("long")).alias("c")
    )
    g = dense.groupBy("user_id").agg(
        F.array_sort(F.collect_list(F.struct("h", "c"))).alias("hist")
    )
    xs = F.transform("hist", lambda r: r["c"].cast("double") / 100.0)
    return g.select("user_id", xs.alias("x"), F.size("hist").alias("n_hours"))


#: DuckDB twin of :func:`_dense_hourly` up to the dense ``(user_id, h, c)``
#: grid; each oracle collects its own ``arr`` from ``dense``.
_DENSE_HOURLY_SQL = """hc AS (
    SELECT user_id, epoch_us(ts) // 3600000000 AS h,
           CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS c
    FROM events GROUP BY user_id, epoch_us(ts) // 3600000000
),
span AS (SELECT user_id, min(h) AS lo, max(h) AS hi FROM hc GROUP BY user_id),
grid AS (SELECT user_id, unnest(generate_series(lo, hi)) AS h FROM span),
dense AS (
    SELECT g.user_id, g.h, coalesce(hc.c, CAST(0 AS BIGINT)) AS c
    FROM grid g LEFT JOIN hc ON hc.user_id = g.user_id AND hc.h = g.h
)"""


def _dft_fold(rotations) -> Column:
    """DFT of ``x`` at several fixed periods as ONE fused ``F.aggregate``:
    per ``(cos, sin)`` unit-rotation constant pair, four slots
    [cos, sin, Σx·cos, Σx·sin] where the (cos, sin) pair advances by
    complex rotation. Each period's slot chain is the same +/× sequence as
    a lone 4-slot fold (and as the oracle's :func:`_dft_fold_sql`), so the
    doubles are bit-identical, while the collected array is traversed once
    (measured 9.8 s → 7.3 s at sf0.1 for eight periods). Aliased ``f``."""
    rot = list(rotations)
    init = F.array(*[F.lit(v) for _ in rot for v in (1.0, 0.0, 0.0, 0.0)])

    def _step(acc, x):
        slots = []
        for i, (cp, sp) in enumerate(rot):
            b = 4 * i
            slots += [
                F.element_at(acc, b + 1) * cp - F.element_at(acc, b + 2) * sp,
                F.element_at(acc, b + 1) * sp + F.element_at(acc, b + 2) * cp,
                F.element_at(acc, b + 3) + x * F.element_at(acc, b + 1),
                F.element_at(acc, b + 4) + x * F.element_at(acc, b + 2),
            ]
        return F.array(*slots)

    return F.aggregate("x", init, _step).alias("f")


def _dft_power(i: int) -> Column:
    """Normalized power (Σx·cos)² + (Σx·sin)² over n_hours² of the i-th
    period of a pinned :func:`_dft_fold` column ``f``."""
    sx = F.element_at(F.col("f"), 4 * i + 3)
    sy = F.element_at(F.col("f"), 4 * i + 4)
    n = F.col("n_hours").cast("double")
    return (sx * sx + sy * sy) / (n * n)


def _dft_fold_sql(cp: float, sp: float) -> str:
    """DuckDB twin of one period's chain of :func:`_dft_fold` over ``x``."""
    return f"""list_reduce(
               list_prepend([1.0, 0.0, 0.0, 0.0], list_transform(x, v -> [v, 0.0, 0.0, 0.0])),
               (acc, e) -> [
                   acc[1] * {cp!r} - acc[2] * {sp!r},
                   acc[1] * {sp!r} + acc[2] * {cp!r},
                   acc[3] + e[1] * acc[1],
                   acc[4] + e[1] * acc[2]
               ])"""


#: candidate periods (hours) with their unit-rotation constants, computed
#: ONCE in python and embedded as shortest-round-trip literals: both
#: engines parse them to the identical IEEE double (correctly-rounded
#: strtod / Double.parseDouble), so neither engine ever calls its own
#: libm trig — the one source of cross-engine ulp drift a spectral
#: operator would otherwise have.
_PERIODOGRAM_PERIODS: dict[int, tuple[float, float]] = {
    24: (0.9659258262890683, 0.25881904510252074),
    12: (0.8660254037844387, 0.49999999999999994),
    168: (0.9993007047883985, 0.037391194276325625),
}


def periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral power of each user's hourly-spend series at the daily,
    half-daily and weekly candidate periods — the "is there a cycle, and
    which one" reading (seasonality model selection for holt_winters /
    seasonal_naive; anomaly baselining): P(T) = (Σx·cos(2πt/T))² +
    (Σx·sin(2πt/T))², normalized by n², over the DENSE hourly grid
    (missing hours are true zeros of the spend signal).

    The DFT at each fixed period runs as ONE 4-state ``F.aggregate`` fold
    over the sorted dense series — [cos, sin, Σx·cos, Σx·sin] — where the
    (cos, sin) pair advances by complex rotation with the period's literal
    constants (see ``_PERIODOGRAM_PERIODS``): pure +/× in identical order,
    so the ``list_reduce`` oracle is bit-identical. No engine trig, no
    explode-per-(t,period), no second shuffle: the grid join is the
    RESAMPLE shape (per-user span × hour ticks, LEFT JOIN, COALESCE 0) and
    all three periods fold over the same collected array. Per-user array
    length is the corpus span in hours — bounded by the retention window
    at any scale.

    Determinism: hour indices and cent sums exact longs; the folds are
    fixed-order double chains; outputs floor-scaled to 6 dp. Dominant
    period ties break toward the shorter period (fixed CASE order).
    """
    g = _dense_hourly(spark, sf_dir)
    # pin the fold once: each power references it twice, the
    # dominant-period CASE and the floor outputs re-reference the powers —
    # unpinned, the plan carried 36 fold copies (r14 audit)
    g = g.select("user_id", "n_hours", _dft_fold(_PERIODOGRAM_PERIODS.values())).localCheckpoint(eager=False)
    p24, p12, p168 = (_dft_power(i) for i in range(len(_PERIODOGRAM_PERIODS)))
    dominant = (
        F.when((p12 >= p24) & (p12 >= p168), F.lit("12h"))
        .when(p24 >= p168, F.lit("24h"))
        .otherwise(F.lit("168h"))
    )
    return g.select(
        "user_id",
        "n_hours",
        (F.floor(p24 * 1e6) / 1e6).alias("power_24h"),
        (F.floor(p12 * 1e6) / 1e6).alias("power_12h"),
        (F.floor(p168 * 1e6) / 1e6).alias("power_168h"),
        dominant.alias("dominant_period"),
    )


_P24 = _dft_fold_sql(*_PERIODOGRAM_PERIODS[24])
_P12 = _dft_fold_sql(*_PERIODOGRAM_PERIODS[12])
_P168 = _dft_fold_sql(*_PERIODOGRAM_PERIODS[168])

PERIODOGRAM_SQL = f"""
WITH {_DENSE_HOURLY_SQL},
arr AS (
    SELECT user_id,
           list_transform(list_sort(list(struct_pack(h := h, c := c))),
                          r -> CAST(r.c AS DOUBLE) / 100.0) AS x,
           count(*) AS n_hours
    FROM dense GROUP BY user_id
),
folded AS (
    SELECT user_id, n_hours,
           {_P24} AS f24,
           {_P12} AS f12,
           {_P168} AS f168
    FROM arr
),
pw AS (
    SELECT user_id, n_hours,
           (f24[3] * f24[3] + f24[4] * f24[4]) / (CAST(n_hours AS DOUBLE) * CAST(n_hours AS DOUBLE)) AS p24,
           (f12[3] * f12[3] + f12[4] * f12[4]) / (CAST(n_hours AS DOUBLE) * CAST(n_hours AS DOUBLE)) AS p12,
           (f168[3] * f168[3] + f168[4] * f168[4]) / (CAST(n_hours AS DOUBLE) * CAST(n_hours AS DOUBLE)) AS p168
    FROM folded
)
SELECT user_id, n_hours,
       floor(p24 * 1e6) / 1e6 AS power_24h,
       floor(p12 * 1e6) / 1e6 AS power_12h,
       floor(p168 * 1e6) / 1e6 AS power_168h,
       CASE WHEN p12 >= p24 AND p12 >= p168 THEN '12h'
            WHEN p24 >= p168 THEN '24h'
            ELSE '168h' END AS dominant_period
FROM pw
"""


# ---------------------------------------------------------------------------
# seasonal/trend strength — the decompose readout
# ---------------------------------------------------------------------------


def seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trend and seasonal STRENGTH per series (Hyndman & Athanasopoulos,
    fpp3 §4.3) from the classical decomposition: F_trend = max(0, 1 −
    Var(resid)/Var(deseasonalized)), F_seasonal = max(0, 1 −
    Var(resid)/Var(detrended)) — the scalar that turns ts_decompose's
    component table into a model-selection decision (seasonal_naive vs
    holt vs holt_winters) and a dashboard-ranking key.

    Components come from the SAME exact integer-micro pipeline as
    ts_decompose (bit-identical by construction); the variances fold over
    each series' hour-sorted component array in fixed order (micro² sums
    overflow int64, so they accumulate as doubles — order-pinned by the
    fold, immune to partial-aggregation reordering). One extra shuffle
    (the per-series collect) on top of decompose's two.
    """
    base = seasonal_decompose(spark, sf_dir)
    comp = base.select(
        "series_id",
        "h",
        F.col("resid_micro").cast("double").alias("r"),
        (F.col("trend_micro") + F.col("resid_micro")).cast("double").alias("ds"),
        (F.col("resid_micro") + F.col("seasonal_micro")).cast("double").alias("dt"),
    )
    g = comp.groupBy("series_id").agg(
        F.array_sort(F.collect_list(F.struct("h", "r", "ds", "dt"))).alias("hist")
    )
    n = F.size("hist").cast("double")

    def var_of(field):
        s1 = F.aggregate(
            "hist", F.lit(0.0), lambda acc, x: acc + x[field]
        )
        s2 = F.aggregate(
            "hist", F.lit(0.0), lambda acc, x: acc + x[field] * x[field]
        )
        m = s1 / n
        return s2 / n - m * m

    # pin the three variance folds once: ft/fs reference them 2-3× and are
    # themselves re-referenced by the verdict CASE and the floor outputs —
    # unpinned, the plan carried 54 fold copies instead of 6 (r14 audit)
    g = g.select(
        "series_id",
        F.size("hist").alias("n_hours"),
        var_of("r").alias("vr"),
        var_of("ds").alias("vds"),
        var_of("dt").alias("vdt"),
    ).localCheckpoint(eager=False)
    vr, vds, vdt = F.col("vr"), F.col("vds"), F.col("vdt")
    ft = F.greatest(F.lit(0.0), F.when(vds > 0.0, 1.0 - vr / vds).otherwise(F.lit(0.0)))
    fs = F.greatest(F.lit(0.0), F.when(vdt > 0.0, 1.0 - vr / vdt).otherwise(F.lit(0.0)))
    label = (
        F.when((ft >= 0.6) & (fs >= 0.6), F.lit("trend+seasonal"))
        .when(ft >= 0.6, F.lit("trending"))
        .when(fs >= 0.6, F.lit("seasonal"))
        .otherwise(F.lit("noisy"))
    )
    return g.select(
        "series_id",
        "n_hours",
        (F.floor(ft * 1e6) / 1e6).alias("f_trend"),
        (F.floor(fs * 1e6) / 1e6).alias("f_seasonal"),
        label.alias("character"),
    )


def _ss_var_sql(field: str) -> str:
    s1 = (f"list_reduce(list_prepend(0.0, list_transform(hist, x -> x.{field})), "
          f"(a, b) -> a + b)")
    s2 = (f"list_reduce(list_prepend(0.0, list_transform(hist, x -> x.{field} * x.{field})), "
          f"(a, b) -> a + b)")
    return f"(({s2}) / n - (({s1}) / n) * (({s1}) / n))"


SEASONAL_STRENGTH_SQL = f"""
WITH comp AS ({SEASONAL_DECOMPOSE_SQL}),
arr AS (
    SELECT series_id,
           list_sort(list(struct_pack(h := h,
                                      r := CAST(resid_micro AS DOUBLE),
                                      ds := CAST(trend_micro + resid_micro AS DOUBLE),
                                      dt := CAST(resid_micro + seasonal_micro AS DOUBLE)))) AS hist
    FROM comp GROUP BY series_id
),
v AS (
    SELECT series_id, hist, CAST(len(hist) AS DOUBLE) AS n FROM arr
),
f AS (
    SELECT series_id, len(hist) AS n_hours,
           {_ss_var_sql('r')} AS vr, {_ss_var_sql('ds')} AS vds, {_ss_var_sql('dt')} AS vdt
    FROM v
),
s AS (
    SELECT series_id, n_hours,
           greatest(0.0, CASE WHEN vds > 0.0 THEN 1.0 - vr / vds ELSE 0.0 END) AS ft,
           greatest(0.0, CASE WHEN vdt > 0.0 THEN 1.0 - vr / vdt ELSE 0.0 END) AS fs
    FROM f
)
SELECT series_id, n_hours,
       floor(ft * 1e6) / 1e6 AS f_trend,
       floor(fs * 1e6) / 1e6 AS f_seasonal,
       CASE WHEN ft >= 0.6 AND fs >= 0.6 THEN 'trend+seasonal'
            WHEN ft >= 0.6 THEN 'trending'
            WHEN fs >= 0.6 THEN 'seasonal'
            ELSE 'noisy' END AS character
FROM s
"""


# ---------------------------------------------------------------------------
# Hampel filter — local rolling-median outlier repair
# ---------------------------------------------------------------------------

_HAMPEL_HALF = 3  # window = 2k+1 = 7 samples
_HAMPEL_NSIG = 3.0
_HAMPEL_SCALE = 1.4826  # MAD → σ under normality


def hampel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel identifier per user series: flag (and repair to the window
    median) any sample farther than 3·1.4826·MAD from its ±3-sample
    rolling median — the LOCAL robust-cleaning step (ts_anomaly_mad is the
    same statistic globally; a level-shifted series re-baselines the
    global gate while the Hampel window keeps flagging point spikes).

    One window per user (ROWS ±3, shared sort with a plain windowed
    collect), medians as explicit sorted-array picks — the same even/odd
    rule both engines — on exact integer cents; MAD leaves integers only
    at the final ×1.4826 comparison (identical-op-order doubles). Zero
    Python; edge windows shrink naturally (ROWS frame semantics).
    """
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-_HAMPEL_HALF, _HAMPEL_HALF)
    )
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    base = ev.select("user_id", "event_id", "ts", cents.alias("c")).withColumn(
        "win", F.array_sort(F.collect_list("c").over(w))
    )
    base = base.withColumn("med", sorted_median("win"))
    devs = F.array_sort(
        F.transform("win", lambda x: F.abs(x.cast("double") - F.col("med")))
    )
    base = base.withColumn("mad", sorted_median(devs))
    is_out = F.abs(F.col("c").cast("double") - F.col("med")) > _HAMPEL_NSIG * _HAMPEL_SCALE * F.col("mad")
    return base.select(
        "user_id",
        "event_id",
        "ts",
        (F.col("c") / 100.0).alias("value"),
        (F.floor(F.col("med") / 100.0 * 1e6) / 1e6).alias("win_median"),
        is_out.alias("is_outlier"),
        F.when(is_out, F.floor(F.col("med") / 100.0 * 1e6) / 1e6).otherwise(
            F.floor(F.col("c").cast("double") / 100.0 * 1e6) / 1e6
        ).alias("cleaned"),
    )


HAMPEL_SQL = f"""
WITH base AS (
    SELECT user_id, event_id, ts,
           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
           list_sort(list(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN {_HAMPEL_HALF} PRECEDING AND {_HAMPEL_HALF} FOLLOWING)) AS win
    FROM events
),
m AS (
    SELECT *, {sorted_median_sql("win")} AS med
    FROM base
),
d AS (
    SELECT *, list_sort(list_transform(win, x -> abs(CAST(x AS DOUBLE) - med))) AS devs
    FROM m
),
md AS (
    SELECT *, CASE WHEN len(devs) % 2 = 1
                   THEN devs[(len(devs) + 1) // 2]
                   ELSE (devs[len(devs) // 2] + devs[len(devs) // 2 + 1]) / 2.0
              END AS mad
    FROM d
)
SELECT user_id, event_id, ts,
       c / 100.0 AS value,
       floor(med / 100.0 * 1e6) / 1e6 AS win_median,
       abs(CAST(c AS DOUBLE) - med) > {_HAMPEL_NSIG} * {_HAMPEL_SCALE} * mad AS is_outlier,
       CASE WHEN abs(CAST(c AS DOUBLE) - med) > {_HAMPEL_NSIG} * {_HAMPEL_SCALE} * mad
            THEN floor(med / 100.0 * 1e6) / 1e6
            ELSE floor(CAST(c AS DOUBLE) / 100.0 * 1e6) / 1e6 END AS cleaned
FROM md
"""


# ---------------------------------------------------------------------------
# Permutation entropy — ordinal-pattern complexity
# ---------------------------------------------------------------------------

_PE_LN6 = 1.791759469228055  # ln(3!) — python-computed literal, no libm call
_PE_PIDS = [0, 1, 2, 3, 4, 5, 6, 7]  # 2 of 8 are transitivity-impossible (count 0)


def permutation_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bandt–Pompe permutation entropy (order 3, delay 1) per user series:
    the ordinal-pattern complexity readout — low for regular/predictable
    dynamics (ramps score 0: one pattern), maximal (≈1 normalized) for
    white noise; robust to monotone transforms since only ORDER matters.
    Complements ts_seasonal_strength (linear structure) with a nonlinear
    determinism measure.

    Each consecutive value triple maps to one of 3! ordinal patterns via
    three ≤ comparisons (ties broken by position, the Bandt–Pompe
    convention) encoded as a 3-bit id; pattern counts are exact-integer
    folds over the user's ONE sorted array (the croston/theta shuffle
    shape — no explode, no second pass), and −Σ p·ln p accumulates in
    pinned pid order. ln(3!) is an embedded python literal so neither
    engine's libm constant enters; ln(p) on identical doubles in
    identical order (the events_entropy convention).
    """
    base = _cents_history(spark, sf_dir, 3)

    def el(i):
        return F.element_at(F.col("c"), i)

    pats = F.transform(
        F.sequence(F.lit(1), F.col("n_obs") - 2),
        lambda i: (
            (el(i) <= el(i + 1)).cast("int") * 4
            + (el(i) <= el(i + 2)).cast("int") * 2
            + (el(i + 1) <= el(i + 2)).cast("int")
        ),
    )
    base = base.withColumn("pats", pats).withColumn("m", F.size("pats"))
    carr = F.filter(
        F.transform(
            F.array(*[F.lit(p) for p in _PE_PIDS]),
            lambda p: F.size(F.filter(F.col("pats"), lambda x: x == p)),
        ),
        lambda c: c > 0,
    )
    base = base.withColumn("carr", carr)
    mdbl = F.col("m").cast("double")
    h = F.aggregate(
        F.col("carr"),
        F.lit(0.0),
        lambda a, c: a - (c.cast("double") / mdbl) * F.log(c.cast("double") / mdbl),
    )
    return base.select(
        "user_id",
        F.col("m").alias("n_triples"),
        F.size("carr").alias("n_patterns"),
        (F.floor(h * 1e6) / 1e6).alias("perm_entropy"),
        (F.floor(h / F.lit(_PE_LN6) * 1e6) / 1e6).alias("perm_entropy_norm"),
    )


PERMUTATION_ENTROPY_SQL = f"""
WITH base AS (
    SELECT user_id,
           list_transform(
               list_sort(list(struct_pack(ts := ts, e := event_id,
                   c := CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)))),
               s -> s.c) AS vals
    FROM events GROUP BY user_id
),
p AS (
    SELECT user_id, len(vals) AS n,
           list_transform(range(1, len(vals) - 1), i ->
               CAST(vals[i] <= vals[i+1] AS INT) * 4
             + CAST(vals[i] <= vals[i+2] AS INT) * 2
             + CAST(vals[i+1] <= vals[i+2] AS INT)) AS pats
    FROM base WHERE len(vals) >= 3
),
c AS (
    SELECT user_id, len(pats) AS m,
           list_filter(
               list_transform([{", ".join(str(p) for p in _PE_PIDS)}],
                   q -> len(list_filter(pats, x -> x = q))),
               cc -> cc > 0) AS carr
    FROM p
),
h AS (
    SELECT user_id, m, len(carr) AS n_patterns,
           -(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(carr, cc ->
                   (CAST(cc AS DOUBLE) / CAST(m AS DOUBLE))
                   * ln(CAST(cc AS DOUBLE) / CAST(m AS DOUBLE)))),
               (a, b) -> a + b)) AS hval
    FROM c
)
SELECT user_id, m AS n_triples, n_patterns,
       floor(hval * 1e6) / 1e6 AS perm_entropy,
       floor(hval / {_PE_LN6!r} * 1e6) / 1e6 AS perm_entropy_norm
FROM h
"""


# ---------------------------------------------------------------------------
# Seasonal-aware residual anomaly detection
# ---------------------------------------------------------------------------

_ANOM_NSIG = 3.0


def anomaly_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-aware anomaly detection: decompose each series (trend +
    hour-of-day seasonal, the ts_decompose pipeline verbatim), then flag
    hours whose RESIDUAL sits more than 3·1.4826·MAD from the residual
    median — the production alert query (a raw-value gate fires every
    daily peak; the residual gate fires only on deviations the seasonal
    model cannot explain). Emits flagged hours only.

    Composition: the decompose components stay exact integer micro-units;
    per-series residual median and MAD are explicit sorted-array picks
    (the ts_hampel even/odd rule) off ONE groupBy(series) collect, joined
    back co-partitioned on series_id. The only floating-point steps are
    the final ×1.4826 comparison and the score division — identical op
    order both engines. MAD = 0 degenerates to |resid − med| > 0 with a
    NULL score.

    Edge handling: rows whose ±12 h trend window is PARTIAL (the first/
    last 12 hours of a series, and hours near gaps) carry a biased trend
    — statsmodels marks their trend NaN and drops them; this operator
    excludes them from both the MAD statistics and the alert set (a
    full-window count recomputed with the decompose window spec).
    """
    dec = seasonal_decompose(spark, sf_dir).select("series_id", "h", "value", "resid_micro")
    wfull = Window.partitionBy("series_id").orderBy("h").rowsBetween(-12, 12)
    dec = dec.withColumn("_wn", F.count(F.lit(1)).over(wfull)).filter(F.col("_wn") == 25).drop("_wn")
    arr = dec.groupBy("series_id").agg(F.array_sort(F.collect_list("resid_micro")).alias("rs"))
    arr = arr.withColumn("med", sorted_median("rs"))
    devs = F.array_sort(F.transform("rs", lambda x: F.abs(x.cast("double") - F.col("med"))))
    stats = arr.select("series_id", "med", sorted_median(devs).alias("mad"))
    j = dec.join(stats, "series_id")
    dev = F.abs(F.col("resid_micro").cast("double") - F.col("med"))
    thresh = F.lit(_ANOM_NSIG) * F.lit(_HAMPEL_SCALE) * F.col("mad")
    flagged = j.filter(
        F.when(F.col("mad") > 0, dev > thresh).otherwise(dev > 0)
    )
    return flagged.select(
        "series_id",
        "h",
        "value",
        (F.floor(F.col("resid_micro").cast("double") / 1e6 * 1e6) / 1e6).alias("resid"),
        F.when(F.col("mad") > 0, F.floor(dev / (F.lit(_HAMPEL_SCALE) * F.col("mad")) * 1e6) / 1e6).alias("score"),
    )


ANOMALY_RESIDUAL_SQL = f"""
WITH dec0 AS ({{decompose}}),
dec AS (
    SELECT * FROM (
        SELECT *, count(*) OVER (PARTITION BY series_id ORDER BY h
                                 ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING) AS _wn
        FROM dec0
    ) t WHERE _wn = 25
),
arr AS (
    SELECT series_id, list_sort(list(resid_micro)) AS rs
    FROM dec GROUP BY series_id
),
m AS (
    SELECT series_id,
           {sorted_median_sql("rs")} AS med,
           rs
    FROM arr
),
s AS (
    SELECT series_id, med,
           list_sort(list_transform(rs, x -> abs(CAST(x AS DOUBLE) - med))) AS devs
    FROM m
),
st AS (
    SELECT series_id, med,
           CASE WHEN len(devs) % 2 = 1 THEN devs[(len(devs) + 1) // 2]
                ELSE (devs[len(devs) // 2] + devs[len(devs) // 2 + 1]) / 2.0 END AS mad
    FROM s
)
SELECT d.series_id, d.h, d.value,
       floor(CAST(d.resid_micro AS DOUBLE) / 1e6 * 1e6) / 1e6 AS resid,
       CASE WHEN st.mad > 0
            THEN floor(abs(CAST(d.resid_micro AS DOUBLE) - st.med) / ({_HAMPEL_SCALE} * st.mad) * 1e6) / 1e6
            END AS score
FROM dec d JOIN st ON st.series_id = d.series_id
WHERE CASE WHEN st.mad > 0
           THEN abs(CAST(d.resid_micro AS DOUBLE) - st.med) > {_ANOM_NSIG} * {_HAMPEL_SCALE} * st.mad
           ELSE abs(CAST(d.resid_micro AS DOUBLE) - st.med) > 0 END
""".format(decompose=SEASONAL_DECOMPOSE_SQL.strip())


# ---------------------------------------------------------------------------
# Rolling-origin backtest — baseline model selection per series
# ---------------------------------------------------------------------------

_BT_HOLD = 24  # holdout = last 24 observations
_BT_SEASON = 24


def _holdout_maes(g: DataFrame) -> DataFrame:
    """Holdout MAEs (value units) of the three baselines — naive (last
    train value), seasonal naive (one season earlier), train mean — over
    the last ``_BT_HOLD`` observations of a :func:`_cents_history` frame:
    adds ``mn``, ``ms``, ``mm``. naive/snaive errors are EXACT integer-cent
    sums with one final division; the mean model's per-point |mean − x|
    terms accumulate left-to-right in holdout order (identical doubles
    both engines)."""
    n = F.col("n_obs")
    zero = F.lit(0).cast("long")
    train_sum = F.aggregate(F.slice("c", 1, n - _BT_HOLD), zero, lambda a, x: a + x)
    g = (
        g.withColumn("hold", F.slice("c", n - _BT_HOLD + 1, _BT_HOLD))
        .withColumn("lt", F.element_at("c", n - _BT_HOLD))
        .withColumn("mu", train_sum.cast("double") / (n - _BT_HOLD).cast("double"))
    )
    ae_naive = F.aggregate(F.transform("hold", lambda x: F.abs(x - F.col("lt"))), zero, lambda a, x: a + x)
    ae_snaive = F.aggregate(
        F.transform(
            F.sequence(F.lit(1), F.lit(_BT_HOLD)),
            lambda j: F.abs(
                F.element_at("c", n - _BT_HOLD + j) - F.element_at("c", n - _BT_HOLD - _BT_SEASON + j)
            ),
        ),
        zero,
        lambda a, x: a + x,
    )
    ae_mean = F.aggregate(
        F.transform("hold", lambda x: F.abs(x.cast("double") - F.col("mu"))), F.lit(0.0), lambda a, x: a + x
    )
    return (
        g.withColumn("mn", ae_naive.cast("double") / (100.0 * _BT_HOLD))
        .withColumn("ms", ae_snaive.cast("double") / (100.0 * _BT_HOLD))
        .withColumn("mm", ae_mean / (100.0 * _BT_HOLD))
    )


def backtest_models(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holdout backtest of the three forecasting BASELINES per user
    series — naive (last train value), seasonal naive (value one season
    earlier), train mean — MAE on the last 24 observations plus the
    winning model: the model-selection readout that tells a user WHICH of
    the fancier operators (ts_theta / ts_holt_winters / seasonal_naive)
    is even worth fitting, and the floor any of them must beat
    (Hyndman's "never report a forecast without its naive benchmark").

    One groupBy(user) sorted collect (theta/croston's shuffle shape);
    train/holdout splits, all three predictions and the MAE folds are
    array expressions over that one array. naive/snaive MAEs are EXACT
    integer-cent sums with one final /24 division; the mean model's
    per-point |mean − x| terms accumulate left-to-right in holdout order
    (identical doubles both engines). Winner tiebreak: mean ≺ naive ≺
    snaive at equal MAE. Series shorter than 48 observations are
    excluded (no full train season).
    """
    g = _holdout_maes(_cents_history(spark, sf_dir, 2 * _BT_SEASON))
    mn, ms, mm = F.col("mn"), F.col("ms"), F.col("mm")
    best = (
        F.when((mm <= mn) & (mm <= ms), F.lit("mean"))
        .when(mn <= ms, F.lit("naive"))
        .otherwise(F.lit("snaive"))
    )
    return g.select(
        F.col("user_id").alias("series_id"),
        (F.col("n_obs") - _BT_HOLD).cast("long").alias("n_train"),
        (F.floor(mn * 1e6) / 1e6).alias("mae_naive"),
        (F.floor(ms * 1e6) / 1e6).alias("mae_snaive"),
        (F.floor(mm * 1e6) / 1e6).alias("mae_mean"),
        best.alias("best_model"),
    )


BACKTEST_MODELS_SQL = f"""
WITH {_CENTS_HIST_SQL},
base AS (
    SELECT user_id, c, len(c) AS n,
           len(c) - {_BT_HOLD} AS n_train,
           c[len(c) - {_BT_HOLD} + 1 : len(c)] AS hold,
           c[len(c) - {_BT_HOLD}] AS lt,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), c[1 : len(c) - {_BT_HOLD}]),
                (a, b) -> a + b) AS DOUBLE) / (len(c) - {_BT_HOLD}) AS mu
    FROM hist WHERE len(c) >= {2 * _BT_SEASON}
),
errs AS (
    SELECT user_id, n_train,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(hold, x -> abs(x - lt))), (a, b) -> a + b) AS ae_naive,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(range(1, {_BT_HOLD} + 1), j ->
                   abs(c[n - {_BT_HOLD} + j] - c[n - {_BT_HOLD} - {_BT_SEASON} + j]))),
               (a, b) -> a + b) AS ae_snaive,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(hold, x -> abs(CAST(x AS DOUBLE) - mu))), (a, b) -> a + b) AS ae_mean
    FROM base
)
SELECT user_id AS series_id, CAST(n_train AS BIGINT) AS n_train,
       floor(CAST(ae_naive AS DOUBLE) / {100.0 * _BT_HOLD} * 1e6) / 1e6 AS mae_naive,
       floor(CAST(ae_snaive AS DOUBLE) / {100.0 * _BT_HOLD} * 1e6) / 1e6 AS mae_snaive,
       floor(ae_mean / {100.0 * _BT_HOLD} * 1e6) / 1e6 AS mae_mean,
       CASE WHEN ae_mean / {100.0 * _BT_HOLD} <= CAST(ae_naive AS DOUBLE) / {100.0 * _BT_HOLD}
             AND ae_mean / {100.0 * _BT_HOLD} <= CAST(ae_snaive AS DOUBLE) / {100.0 * _BT_HOLD}
            THEN 'mean'
            WHEN CAST(ae_naive AS DOUBLE) / {100.0 * _BT_HOLD} <= CAST(ae_snaive AS DOUBLE) / {100.0 * _BT_HOLD}
            THEN 'naive'
            ELSE 'snaive' END AS best_model
FROM errs
"""


# ---------------------------------------------------------------------------
# Maximum drawdown — worst peak-to-trough decline per series
# ---------------------------------------------------------------------------


def drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per user series: the worst peak-to-trough decline
    of the value level, in absolute cents and as a fraction of the peak —
    the risk/monitoring readout (for a KPI series: the worst regression
    from any historical high; finance's max-drawdown verbatim).

    One groupBy(user) sorted collect (theta's shuffle shape); the running
    peak / worst drop / fractional drawdown recursion is a single 3-state
    `F.aggregate` fold — peak and absolute drop in exact integer cents,
    the fraction as `(peak−x)/peak` doubles in identical op order both
    engines (one division per step, max is order-stable).

    Oracle-compat note: the fold deliberately avoids DUPLICATING a
    conditional across two struct fields (an earlier 4-state version kept
    the fraction as an exact rational with the same CASE predicate in the
    numerator and denominator slots — DuckDB v1.0.0's list_reduce
    evaluates the two identical predicates INCONSISTENTLY on multi-step
    folds: verified, the isolated step is correct but the 3-step chain
    updates one slot and not the other). Each state field here is a
    single independent `greatest`, which both engines fold correctly.
    Zero Python, no window.
    """
    g = _cents_history(spark, sf_dir, 2)
    init = F.struct(
        F.lit(0).cast("long").alias("dd"),
        F.lit(0.0).alias("mf"),
        F.element_at(F.col("c"), 1).alias("peak"),
    )
    fold = F.aggregate(
        F.slice("c", 2, F.col("n_obs") - 1),
        init,
        lambda st, x: F.struct(
            F.greatest(st.dd, st.peak - x).alias("dd"),
            F.greatest(
                st.mf,
                F.when(
                    st.peak > 0,
                    (st.peak - x).cast("double") / st.peak.cast("double"),
                ).otherwise(F.lit(0.0)),
            ).alias("mf"),
            F.greatest(st.peak, x).alias("peak"),
        ),
    )
    g = g.withColumn("st", fold)
    return g.select(
        F.col("user_id").alias("series_id"),
        "n_obs",
        (F.col("st.dd").cast("double") / 100.0).alias("max_drawdown"),
        (F.floor(F.col("st.mf") * 1e6) / 1e6).alias("max_drawdown_frac"),
        (F.col("st.peak").cast("double") / 100.0).alias("final_peak"),
    )


DRAWDOWN_SQL = f"""
WITH {_CENTS_HIST_SQL},
f AS (
    -- each field is one independent greatest() on purpose: duplicating a
    -- CASE predicate across two struct slots trips a DuckDB v1.0.0
    -- list_reduce mis-evaluation on multi-step folds (see operator doc).
    SELECT user_id, len(c) AS n_obs,
           list_reduce(
               list_prepend(
                   struct_pack(dd := CAST(0 AS BIGINT), mf := CAST(0.0 AS DOUBLE), peak := c[1]),
                   list_transform(c[2:len(c)], x ->
                       struct_pack(dd := CAST(0 AS BIGINT), mf := CAST(0.0 AS DOUBLE), peak := x))),
               (st, e) -> struct_pack(
                   dd := greatest(st.dd, st.peak - e.peak),
                   mf := greatest(st.mf,
                       CASE WHEN st.peak > 0
                            THEN CAST(st.peak - e.peak AS DOUBLE) / CAST(st.peak AS DOUBLE)
                            ELSE 0.0 END),
                   peak := greatest(st.peak, e.peak))) AS st
    FROM hist WHERE len(c) >= 2
)
SELECT user_id AS series_id, CAST(n_obs AS INT) AS n_obs,
       CAST(st.dd AS DOUBLE) / 100.0 AS max_drawdown,
       floor(st.mf * 1e6) / 1e6 AS max_drawdown_frac,
       CAST(st.peak AS DOUBLE) / 100.0 AS final_peak
FROM f
"""


# ---------------------------------------------------------------------------
# Empirical prediction intervals — uncertainty for the naive forecaster
# ---------------------------------------------------------------------------

_PI_MIN_OBS = 10


def pi_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical 90% prediction interval for each series' one-step naive
    forecast: residual quantiles of the in-sample one-step errors
    (r_j = x_j − x_{j−1}) added to the last observation — the
    distribution-free uncertainty readout (fpp3 §5.5: bootstrap/empirical
    residual intervals) that completes the forecasting surface: point
    forecasts (theta/holt/…), model selection (ts_backtest), and now
    interval width. Also reports the in-sample coverage of the interval —
    the calibration check (≈0.90 when residuals are i.i.d.; ≪ that on
    regime-switching series, flagging the naive PI as too narrow).

    One groupBy(user) sorted collect; residuals are exact integer cents,
    the q05/q95 picks are explicit nearest-rank indexes on the sorted
    residual array, and coverage is an exact integer count over one more
    array pass — a single division at the end. Series with fewer than
    10 observations are excluded (no quantile support).
    """
    g = _cents_history(spark, sf_dir, _PI_MIN_OBS)
    g = g.withColumn("r", _first_diffs()).withColumn("m", F.size("r")).withColumn("srt", F.array_sort("r"))

    def rank_pick(q_num, q_den):
        idx = F.greatest(F.ceil(F.col("m") * q_num / q_den).cast("int"), F.lit(1))
        return F.element_at(F.col("srt"), idx)

    q05 = rank_pick(F.lit(5), F.lit(100))
    q95 = rank_pick(F.lit(95), F.lit(100))
    g = g.withColumn("q05", q05).withColumn("q95", q95)
    covered = F.size(
        F.filter("r", lambda x: (x >= F.col("q05")) & (x <= F.col("q95")))
    )
    last = F.element_at(F.col("c"), F.col("n_obs"))
    return g.select(
        F.col("user_id").alias("series_id"),
        "n_obs",
        (F.col("q05").cast("double") / 100.0).alias("q05_resid"),
        (F.col("q95").cast("double") / 100.0).alias("q95_resid"),
        ((last + F.col("q05")).cast("double") / 100.0).alias("pi_lo"),
        ((last + F.col("q95")).cast("double") / 100.0).alias("pi_hi"),
        (F.floor(covered.cast("double") / F.col("m").cast("double") * 1e6) / 1e6).alias("coverage"),
    )


PI_NAIVE_SQL = f"""
WITH {_CENTS_HIST_SQL},
base AS (
    SELECT user_id, c, len(c) AS n,
           list_transform(range(2, len(c) + 1), i -> c[i] - c[i-1]) AS r
    FROM hist WHERE len(c) >= {_PI_MIN_OBS}
),
q AS (
    SELECT user_id, c, n, r, len(r) AS m, list_sort(r) AS srt
    FROM base
),
p AS (
    SELECT *,
           srt[greatest(CAST(ceil(m * 5 / 100) AS INT), 1)] AS q05,
           srt[greatest(CAST(ceil(m * 95 / 100) AS INT), 1)] AS q95
    FROM q
)
SELECT user_id AS series_id, CAST(n AS INT) AS n_obs,
       CAST(q05 AS DOUBLE) / 100.0 AS q05_resid,
       CAST(q95 AS DOUBLE) / 100.0 AS q95_resid,
       CAST(c[n] + q05 AS DOUBLE) / 100.0 AS pi_lo,
       CAST(c[n] + q95 AS DOUBLE) / 100.0 AS pi_hi,
       floor(CAST(len(list_filter(r, x -> x >= q05 AND x <= q95)) AS DOUBLE)
             / CAST(m AS DOUBLE) * 1e6) / 1e6 AS coverage
FROM p
"""


# ---------------------------------------------------------------------------
# Hurst exponent — long-memory / persistence via aggregated variance
# ---------------------------------------------------------------------------

_HURST_KS = [1, 4, 16]
_HURST_LNK = [0.0, 1.3862943611198906, 2.772588722239781]  # ln k, python literals
_HURST_MIN_OBS = 64


def hurst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent per user series via the aggregated-variance method:
    variance of k-block SUMS scales as k^2H for self-similar increments,
    so H is half the OLS slope of ln Var(S_k) against ln k over
    k ∈ {1, 4, 16} — the long-memory readout (H > ½: persistent trends,
    momentum; H < ½: mean-reverting/anti-persistent; ≈ ½: random walk)
    that complements ts_mk_trend (monotone drift) and ts_perm_entropy
    (determinism) with the memory axis.

    Block SUMS (not means) keep the statistic exact-integer until the
    variance: per k, block sums fold over array slices of the ONE sorted
    per-user collect (k ≤ 16, counts exact longs), Σs/Σs² accumulate in
    pinned block order as doubles, and the three ln k abscissae are
    python literals (only ln Var(k) touches libm, on identical doubles —
    the events_entropy convention). Series shorter than 64 observations
    (4 full blocks at k = 16) are excluded.
    """
    g = _cents_history(spark, sf_dir, _HURST_MIN_OBS)

    def block_var(k: int):
        nk = (F.col("n_obs") / k).cast("int")
        sums = F.transform(
            F.sequence(F.lit(1), nk),
            lambda j: F.aggregate(
                F.slice(F.col("c"), (j - 1) * k + 1, k), F.lit(0).cast("long"), lambda a, x: a + x
            ),
        )
        nd = nk.cast("double")
        s1 = F.aggregate(F.transform(sums, lambda x: x.cast("double")), F.lit(0.0), lambda a, x: a + x)
        s2 = F.aggregate(
            F.transform(sums, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        return F.greatest(s2 / nd - (s1 / nd) * (s1 / nd), F.lit(0.0))

    for k in _HURST_KS:
        g = g.withColumn(f"v{k}", block_var(k))
    # OLS slope over the 3 (ln k, ln Var) points; ln k are literals
    lnks = _HURST_LNK
    mx = sum(lnks) / 3.0
    vx_ = sum((x - mx) ** 2 for x in lnks) / 3.0
    valid = (F.col("v1") > 0) & (F.col("v4") > 0) & (F.col("v16") > 0)
    lys = [F.log(F.col(f"v{k}")) for k in _HURST_KS]
    my = (lys[0] + lys[1] + lys[2]) / 3.0
    cov = (
        (F.lit(lnks[0] - mx)) * (lys[0] - my)
        + (F.lit(lnks[1] - mx)) * (lys[1] - my)
        + (F.lit(lnks[2] - mx)) * (lys[2] - my)
    ) / 3.0
    h = cov / F.lit(vx_) / 2.0
    label = (
        F.when(h > 0.55, F.lit("persistent"))
        .when(h < 0.45, F.lit("anti-persistent"))
        .otherwise(F.lit("random-walk"))
    )
    return g.select(
        "user_id",
        "n_obs",
        F.when(valid, F.floor(h * 1e6) / 1e6).alias("hurst"),
        F.when(valid, label).alias("character"),
    )


def _hurst_var_sql(k: int) -> str:
    nk = f"CAST(len(c) // {k} AS INT)"
    sums = (
        f"list_transform(range(1, {nk} + 1), j -> "
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), c[(j-1)*{k}+1 : (j-1)*{k}+{k}]), (a, b) -> a + b))"
    )
    s1 = f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform({sums}, x -> CAST(x AS DOUBLE))), (a, b) -> a + b)"
    s2 = (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform({sums}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)"
    )
    nd = f"CAST({nk} AS DOUBLE)"
    return f"greatest({s2} / {nd} - ({s1} / {nd}) * ({s1} / {nd}), 0.0)"


HURST_SQL = f"""
WITH {_CENTS_HIST_SQL},
base AS (
    SELECT user_id, len(c) AS n,
           {_hurst_var_sql(1)} AS v1,
           {_hurst_var_sql(4)} AS v4,
           {_hurst_var_sql(16)} AS v16
    FROM hist WHERE len(c) >= {_HURST_MIN_OBS}
),
-- ln over nullif, NOT over the raw variance: DuckDB ln(0) throws 'Out of
-- Range Error', so one constant (zero-variance) series with >= 64 obs would
-- abort the ENTIRE oracle query even though its output row is gated NULL by
-- `valid`. ln(NULL) = NULL flows harmlessly into hv, which `valid` masks.
h AS (
    SELECT user_id, n, valid,
           (({_HURST_LNK[0]} - {sum(_HURST_LNK)/3.0}) * (lv1 - (lv1 + lv4 + lv16) / 3.0)
          + ({_HURST_LNK[1]} - {sum(_HURST_LNK)/3.0}) * (lv4 - (lv1 + lv4 + lv16) / 3.0)
          + ({_HURST_LNK[2]} - {sum(_HURST_LNK)/3.0}) * (lv16 - (lv1 + lv4 + lv16) / 3.0)) / 3.0
           / {sum((x - sum(_HURST_LNK)/3.0)**2 for x in _HURST_LNK)/3.0} / 2.0 AS hv
    FROM (
        SELECT user_id, n, v1 > 0 AND v4 > 0 AND v16 > 0 AS valid,
               ln(nullif(v1, 0.0)) AS lv1,
               ln(nullif(v4, 0.0)) AS lv4,
               ln(nullif(v16, 0.0)) AS lv16
        FROM base
    )
)
SELECT user_id, CAST(n AS INT) AS n_obs,
       CASE WHEN valid THEN floor(hv * 1e6) / 1e6 END AS hurst,
       CASE WHEN valid THEN
            CASE WHEN hv > 0.55 THEN 'persistent'
                 WHEN hv < 0.45 THEN 'anti-persistent'
                 ELSE 'random-walk' END
       END AS character
FROM h
"""


# ---------------------------------------------------------------------------
# Wald–Wolfowitz runs test — is the series random around its median?
# ---------------------------------------------------------------------------

_RUNS_MIN_SIGNS = 10
_RUNS_Z_CRIT = 1.959964


def runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test per user series: count runs of
    above/below-median signs along the time axis and score the normal
    approximation z = (R − μ_R)/σ_R — the distribution-free "is this
    sequence random?" check (too FEW runs → clustered / trending regimes;
    too MANY → alternating / mean-reverting). Complements ts_mk_trend
    (monotone trend) and ts_hurst (long memory) with the classic
    randomness readout.

    Shape is :func:`croston`'s: ONE groupBy(user) sorted collect; the
    median comes EXACTLY from the value-sorted integer-cent array (middle
    element, or the mean of the two middles — no interpolated percentile),
    signs and the run count are pure array lambdas, and the z formula is
    one fixed-order double expression. At-median observations drop, per
    the classic test. Zero Python, no window, per-user cost bounded by
    entity history.

    The two lazy ``localCheckpoint`` pins (dedup_editdist's r14 fix —
    CollapseProject/PushDownPredicates inline derived columns into lambda
    BODIES, re-evaluating them per array element: the pushed min-signs
    filter was re-running ``array_sort`` O(n) times per row) hold the
    per-user frame, one row per user — the query's own output cardinality.
    """
    g = _cents_history(spark, sf_dir)
    g = g.withColumn("med", sorted_median(F.array_sort("c"), F.col("n_obs")))
    g = g.localCheckpoint(eager=False)
    signs = F.filter(
        F.transform(
            "c",
            lambda x: F.when(x.cast("double") > F.col("med"), F.lit(1))
            .when(x.cast("double") < F.col("med"), F.lit(-1))
            .otherwise(F.lit(0)),
        ),
        lambda s_: s_ != 0,
    )
    g = g.withColumn("s", signs).withColumn("m", F.size("s"))
    g = g.filter(F.col("m") >= _RUNS_MIN_SIGNS)
    g = g.select("user_id", "n_obs", "s", "m").localCheckpoint(eager=False)
    runs = F.lit(1) + F.aggregate(
        F.sequence(F.lit(2), F.col("m")),
        F.lit(0),
        lambda acc, i: acc
        + F.when(F.element_at("s", i.cast("int")) != F.element_at("s", (i - 1).cast("int")), 1).otherwise(0),
    )
    n1 = F.size(F.filter("s", lambda s_: s_ == 1))
    g = g.withColumn("n_runs", runs).withColumn("n_above", n1).withColumn(
        "n_below", F.col("m") - n1
    )
    a, b = F.col("n_above").cast("double"), F.col("n_below").cast("double")
    m = F.col("m").cast("double")
    mu = 2.0 * a * b / m + 1.0
    var = 2.0 * a * b * (2.0 * a * b - m) / (m * m * (m - 1.0))
    z = F.when(var > 0, (F.col("n_runs").cast("double") - mu) / F.sqrt(var))
    verdict = (
        F.when(z < -_RUNS_Z_CRIT, F.lit("clustered"))
        .when(z > _RUNS_Z_CRIT, F.lit("alternating"))
        .when(z.isNotNull(), F.lit("random"))
    )
    return g.select(
        "user_id",
        "n_obs",
        "n_above",
        "n_below",
        "n_runs",
        F.when(z.isNotNull(), F.floor(z * 1e6) / 1e6).alias("z"),
        verdict.alias("verdict"),
    )


RUNS_TEST_SQL = f"""
WITH {_CENTS_HIST_SQL},
base AS (
    SELECT user_id, c, len(c) AS n_obs, list_sort(c) AS cs FROM hist
),
med AS (
    SELECT user_id, c, n_obs,
           CASE WHEN n_obs % 2 = 1
                THEN CAST(cs[CAST((n_obs + 1) // 2 AS INT)] AS DOUBLE)
                ELSE CAST(cs[CAST(n_obs // 2 AS INT)]
                          + cs[CAST(n_obs // 2 AS INT) + 1] AS DOUBLE) / 2.0
           END AS med
    FROM base
),
sg AS (
    SELECT user_id, n_obs,
           list_filter(
               list_transform(c, x -> CASE WHEN CAST(x AS DOUBLE) > med THEN 1
                                           WHEN CAST(x AS DOUBLE) < med THEN -1
                                           ELSE 0 END),
               s -> s != 0) AS s
    FROM med
),
rn AS (
    SELECT user_id, n_obs, len(s) AS m,
           1 + list_reduce(
                   list_prepend(0, list_transform(range(2, len(s) + 1),
                       i -> CASE WHEN s[CAST(i AS INT)] != s[CAST(i AS INT) - 1] THEN 1 ELSE 0 END)),
                   (a, b) -> a + b) AS n_runs,
           len(list_filter(s, x -> x = 1)) AS n_above
    FROM sg WHERE len(s) >= {_RUNS_MIN_SIGNS}
),
zc AS (
    SELECT user_id, n_obs, n_above, m - n_above AS n_below, n_runs,
           2.0 * CAST(n_above AS DOUBLE) * CAST(m - n_above AS DOUBLE) / CAST(m AS DOUBLE) + 1.0 AS mu,
           2.0 * CAST(n_above AS DOUBLE) * CAST(m - n_above AS DOUBLE)
             * (2.0 * CAST(n_above AS DOUBLE) * CAST(m - n_above AS DOUBLE) - CAST(m AS DOUBLE))
             / (CAST(m AS DOUBLE) * CAST(m AS DOUBLE) * (CAST(m AS DOUBLE) - 1.0)) AS var
    FROM rn
)
SELECT user_id, CAST(n_obs AS INT) AS n_obs,
       CAST(n_above AS INT) AS n_above, CAST(n_below AS INT) AS n_below,
       CAST(n_runs AS INT) AS n_runs,
       CASE WHEN var > 0 THEN floor((CAST(n_runs AS DOUBLE) - mu) / sqrt(var) * 1e6) / 1e6 END AS z,
       CASE WHEN var > 0 THEN
            CASE WHEN (CAST(n_runs AS DOUBLE) - mu) / sqrt(var) < -{_RUNS_Z_CRIT} THEN 'clustered'
                 WHEN (CAST(n_runs AS DOUBLE) - mu) / sqrt(var) > {_RUNS_Z_CRIT} THEN 'alternating'
                 ELSE 'random' END
       END AS verdict
FROM zc
"""


# ---------------------------------------------------------------------------
# Wilder RSI — bounded momentum oscillator
# ---------------------------------------------------------------------------

_RSI_PERIOD = 14
_RSI_MIN_OBS = _RSI_PERIOD + 1


def rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative Strength Index (Wilder 1978, period 14) per user series:
    smoothed average gain vs average loss of one-step changes, folded to
    RSI = 100 − 100/(1 + AG/AL) — the bounded momentum oscillator read as
    overbought (> 70) / oversold (< 30). For a KPI series: "has the recent
    movement been one-sidedly up or down?" — complements ts_ewma (level)
    and ts_mk_trend (monotone trend) with a bounded rate-of-change signal.

    One groupBy(user) sorted collect (theta's shuffle shape); deltas are
    exact integer cents; the Wilder recursion AG ← (13·AG + gain)/14 is a
    2-state ``F.aggregate`` fold with each slot a single independent
    arithmetic expression (no conditional duplicated across slots — the
    DuckDB list_reduce constraint), zero-seeded so the rule is uniform
    from the first delta. Zero Python, per-user cost bounded by history.
    """
    g = _cents_history(spark, sf_dir, _RSI_MIN_OBS)
    g = g.withColumn("d", F.transform(_first_diffs(), lambda x: x.cast("double")))
    p = float(_RSI_PERIOD)
    fold = F.aggregate(
        "d",
        F.struct(F.lit(0.0).alias("ag"), F.lit(0.0).alias("al")),
        lambda st, x: F.struct(
            ((st.ag * (p - 1.0) + F.greatest(x, F.lit(0.0))) / p).alias("ag"),
            ((st.al * (p - 1.0) + F.greatest(-x, F.lit(0.0))) / p).alias("al"),
        ),
    )
    g = g.withColumn("st", fold)
    ag, al = F.col("st.ag"), F.col("st.al")
    rsi_c = (
        F.when((ag == 0.0) & (al == 0.0), F.lit(None).cast("double"))
        .when(al == 0.0, F.lit(100.0))
        .otherwise(100.0 - 100.0 / (1.0 + ag / al))
    )
    verdict = (
        F.when(rsi_c > 70.0, F.lit("overbought"))
        .when(rsi_c < 30.0, F.lit("oversold"))
        .when(rsi_c.isNotNull(), F.lit("neutral"))
    )
    return g.select(
        "user_id",
        "n_obs",
        (F.floor(ag / 100.0 * 1e6) / 1e6).alias("avg_gain"),
        (F.floor(al / 100.0 * 1e6) / 1e6).alias("avg_loss"),
        F.when(rsi_c.isNotNull(), F.floor(rsi_c * 1e6) / 1e6).alias("rsi"),
        verdict.alias("verdict"),
    )


RSI_SQL = f"""
WITH {_CENTS_HIST_SQL},
base AS (
    SELECT user_id, len(c) AS n_obs,
           list_transform(range(2, len(c) + 1),
                          i -> CAST(c[CAST(i AS INT)] - c[CAST(i AS INT) - 1] AS DOUBLE)) AS d
    FROM hist WHERE len(c) >= {_RSI_MIN_OBS}
),
folded AS (
    SELECT user_id, n_obs,
           list_reduce(
               list_prepend(struct_pack(ag := CAST(0.0 AS DOUBLE), al := CAST(0.0 AS DOUBLE)),
                            list_transform(d, x -> struct_pack(ag := x, al := x))),
               (st, e) -> struct_pack(
                   ag := (st.ag * {float(_RSI_PERIOD) - 1.0!r} + greatest(e.ag, 0.0)) / {float(_RSI_PERIOD)!r},
                   al := (st.al * {float(_RSI_PERIOD) - 1.0!r} + greatest(-e.al, 0.0)) / {float(_RSI_PERIOD)!r})) AS st
    FROM base
),
r AS (
    SELECT user_id, n_obs, st.ag AS ag, st.al AS al,
           CASE WHEN st.ag = 0.0 AND st.al = 0.0 THEN NULL
                WHEN st.al = 0.0 THEN 100.0
                ELSE 100.0 - 100.0 / (1.0 + st.ag / st.al) END AS rsi_raw
    FROM folded
)
SELECT user_id, CAST(n_obs AS INT) AS n_obs,
       floor(ag / 100.0 * 1e6) / 1e6 AS avg_gain,
       floor(al / 100.0 * 1e6) / 1e6 AS avg_loss,
       CASE WHEN rsi_raw IS NOT NULL THEN floor(rsi_raw * 1e6) / 1e6 END AS rsi,
       CASE WHEN rsi_raw > 70.0 THEN 'overbought'
            WHEN rsi_raw < 30.0 THEN 'oversold'
            WHEN rsi_raw IS NOT NULL THEN 'neutral' END AS verdict
FROM r
"""


# ---------------------------------------------------------------------------
# Bollinger bands — rolling-volatility envelope breaches
# ---------------------------------------------------------------------------

_BOLL_WINDOW = 20
_BOLL_K = 2.0


def bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger-band readout per user series (window 20, ±2σ): how often
    the value pierced its own rolling-volatility envelope, and where the
    latest observation sits inside the band (%B) — the volatility-adaptive
    outlier/monitoring envelope (vs ts_anomaly_zscore's GLOBAL z-score and
    ts_hampel's median window, this one scales its threshold to LOCAL
    volatility).

    ONE per-user window sort shared by every column: rolling Σx and Σx²
    over exact integer cents (ROWS 19 PRECEDING), population σ per window,
    breach flags and %B as fixed-order double expressions, then one
    groupBy(user) rollup (count/sum/max_by — the last full window's %B
    rides max_by on the row number, no second sort). Bands evaluate only
    on full windows. At 100 TB the window is per-entity and
    history-bounded; no global sort anywhere.
    """
    ev = load_table(spark, sf_dir, "events")
    c = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    base = ev.select("user_id", "ts", "event_id", c.alias("c"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    roll = w.rowsBetween(-(_BOLL_WINDOW - 1), 0)
    n = F.count(F.lit(1)).over(roll)
    sx = F.sum("c").over(roll)
    sxx = F.sum(F.col("c") * F.col("c")).over(roll)
    rn = F.row_number().over(w)
    d = base.select(
        "user_id",
        "c",
        rn.alias("rn"),
        n.alias("wn"),
        sx.alias("sx"),
        sxx.alias("sxx"),
    )
    wn = F.col("wn").cast("double")
    mu = F.col("sx").cast("double") / wn
    sd = F.sqrt(F.greatest(F.col("sxx").cast("double") / wn - mu * mu, F.lit(0.0)))
    upper, lower = mu + _BOLL_K * sd, mu - _BOLL_K * sd
    x = F.col("c").cast("double")
    full = F.col("wn") == _BOLL_WINDOW
    pct_b = F.when(upper > lower, (x - lower) / (upper - lower))
    d = d.select(
        "user_id",
        "rn",
        full.alias("full"),
        (full & (x > upper)).alias("up"),
        (full & (x < lower)).alias("dn"),
        F.when(full, pct_b).alias("pb"),
    )
    return (
        d.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.sum(F.when(F.col("full"), 1).otherwise(0)).cast("long").alias("n_eval"),
            F.sum(F.when(F.col("up"), 1).otherwise(0)).cast("long").alias("n_breach_upper"),
            F.sum(F.when(F.col("dn"), 1).otherwise(0)).cast("long").alias("n_breach_lower"),
            F.max_by(F.when(F.col("pb").isNotNull(), F.floor(F.col("pb") * 1e6) / 1e6), F.when(F.col("pb").isNotNull(), F.col("rn"))).alias("pct_b_last"),
        )
        .filter(F.col("n_eval") > 0)
        .withColumn("n_obs", F.col("n_obs").cast("long"))
    )


BOLLINGER_SQL = f"""
WITH base AS (
    SELECT user_id,
           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
           count(*) OVER w AS wn,
           sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) OVER w AS sx,
           sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
               * CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) OVER w AS sxx
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN {_BOLL_WINDOW - 1} PRECEDING AND CURRENT ROW)
),
bands AS (
    SELECT user_id, rn, c,
           wn = {_BOLL_WINDOW} AS is_full,
           CAST(sx AS DOUBLE) / CAST(wn AS DOUBLE) AS mu,
           sqrt(greatest(CAST(sxx AS DOUBLE) / CAST(wn AS DOUBLE)
                - (CAST(sx AS DOUBLE) / CAST(wn AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(wn AS DOUBLE)), 0.0)) AS sd
    FROM base
),
fl AS (
    SELECT user_id, rn, is_full,
           is_full AND CAST(c AS DOUBLE) > mu + {_BOLL_K!r} * sd AS up,
           is_full AND CAST(c AS DOUBLE) < mu - {_BOLL_K!r} * sd AS dn,
           CASE WHEN is_full AND mu + {_BOLL_K!r} * sd > mu - {_BOLL_K!r} * sd
                THEN (CAST(c AS DOUBLE) - (mu - {_BOLL_K!r} * sd))
                     / ((mu + {_BOLL_K!r} * sd) - (mu - {_BOLL_K!r} * sd)) END AS pb
    FROM bands
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_obs,
       CAST(sum(CASE WHEN is_full THEN 1 ELSE 0 END) AS BIGINT) AS n_eval,
       CAST(sum(CASE WHEN up THEN 1 ELSE 0 END) AS BIGINT) AS n_breach_upper,
       CAST(sum(CASE WHEN dn THEN 1 ELSE 0 END) AS BIGINT) AS n_breach_lower,
       arg_max(floor(pb * 1e6) / 1e6, CASE WHEN pb IS NOT NULL THEN rn END) AS pct_b_last
FROM fl
GROUP BY user_id
HAVING sum(CASE WHEN is_full THEN 1 ELSE 0 END) > 0
"""


# ---------------------------------------------------------------------------
# Ljung–Box portmanteau test — residual/series whiteness
# ---------------------------------------------------------------------------

_LB_LAGS = 5
_LB_MIN_OBS = 30
#: chi-square 95% critical value at 5 degrees of freedom
_LB_CRIT = 11.070497693516351


def ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung–Box portmanteau whiteness test per user series:
    Q = n(n+2) Σ_{k=1..5} r_k²/(n−k) over the first five sample
    autocorrelations of the event-value sequence — THE standard "is
    anything left to model?" check (applied to a raw series it answers
    "is there autocorrelation at all"; the complement of ts_autocorr's
    per-lag readout with a single calibrated decision).

    One :func:`_cents_history` sorted collect, then the pinned
    :func:`_acf` chain (exact integer-cent μ, fixed-order lag folds over
    the deviation array — identical double op order in the list_reduce
    oracle) and :func:`_ljung_box_q`. Per-user cost is 5 linear passes
    over a history-bounded array; zero Python, no window.
    """
    g = _acf(_cents_history(spark, sf_dir, _LB_MIN_OBS), _LB_LAGS)
    q = _ljung_box_q()
    return g.select(
        "user_id",
        "n_obs",
        (F.floor(F.col("r1") * 1e6) / 1e6).alias("acf_lag1"),
        (F.floor(q * 1e6) / 1e6).alias("q_stat"),
        F.when(q > _LB_CRIT, F.lit("correlated")).otherwise(F.lit("white")).alias("verdict"),
    )


def _lb_num_sql(k: int) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(1, n_obs - {k} + 1), "
        f"t -> dev[CAST(t AS INT)] * dev[CAST(t AS INT) + {k}])), (a, b) -> a + b)"
    )


#: DuckDB twins of :func:`_acf`'s denominator step (over a ``dv(user_id,
#: n_obs, dev)`` CTE) and of the five lag folds + :func:`_ljung_box_q`.
_ACF_DENOM_SQL = """dn AS (
    SELECT user_id, n_obs, dev,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                    list_transform(dev, x -> x * x)), (a, b) -> a + b) AS denom
    FROM dv
)"""
_LB_Q_SQL = f"""rk AS (
    SELECT user_id, n_obs, denom,
           {_lb_num_sql(1)} / denom AS r1,
           {_lb_num_sql(2)} / denom AS r2,
           {_lb_num_sql(3)} / denom AS r3,
           {_lb_num_sql(4)} / denom AS r4,
           {_lb_num_sql(5)} / denom AS r5
    FROM dn WHERE denom > 0
),
q AS (
    SELECT user_id, n_obs, r1,
           CAST(n_obs AS DOUBLE) * (CAST(n_obs AS DOUBLE) + 2.0) *
           (r1 * r1 / (CAST(n_obs AS DOUBLE) - 1.0)
          + r2 * r2 / (CAST(n_obs AS DOUBLE) - 2.0)
          + r3 * r3 / (CAST(n_obs AS DOUBLE) - 3.0)
          + r4 * r4 / (CAST(n_obs AS DOUBLE) - 4.0)
          + r5 * r5 / (CAST(n_obs AS DOUBLE) - 5.0)) AS q_stat
    FROM rk
)"""


LJUNG_BOX_SQL = f"""
WITH {_CENTS_HIST_SQL},
base AS (
    SELECT user_id, len(c) AS n_obs,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), c), (a, x) -> a + x) AS DOUBLE)
               / CAST(len(c) AS DOUBLE) AS mu,
           c
    FROM hist WHERE len(c) >= {_LB_MIN_OBS}
),
dv AS (
    SELECT user_id, n_obs,
           list_transform(c, x -> CAST(x AS DOUBLE) - mu) AS dev
    FROM base
),
{_ACF_DENOM_SQL},
{_LB_Q_SQL}
SELECT user_id, CAST(n_obs AS INT) AS n_obs,
       floor(r1 * 1e6) / 1e6 AS acf_lag1,
       floor(q_stat * 1e6) / 1e6 AS q_stat,
       CASE WHEN q_stat > {_LB_CRIT!r} THEN 'correlated' ELSE 'white' END AS verdict
FROM q
"""


# ---------------------------------------------------------------------------
# Spectral entropy — forecastability of the hourly-spend signal
# ---------------------------------------------------------------------------

#: candidate periods (hours) for the spectral-entropy estimate, with unit
#: rotation constants computed ONCE in the driver and embedded as
#: shortest-round-trip literals (the _PERIODOGRAM_PERIODS discipline: both
#: engines parse the same IEEE double; no engine libm trig anywhere).
_SPECENT_PERIODS: dict[int, tuple[float, float]] = {
    p: (math.cos(2.0 * math.pi / p), math.sin(2.0 * math.pi / p))
    for p in (4, 6, 8, 12, 24, 48, 84, 168)
}
#: ln(#periods) as one driver-computed literal shared by both engines —
#: DuckDB's own ln(8.0) could differ from the JVM/python value in the last
#: ulp, which a floor-scale can amplify across the boundary.
_SPECENT_LN_K = math.log(float(len(_SPECENT_PERIODS)))


def spectral_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized spectral entropy of each user's dense hourly-spend
    series over eight candidate periods (4 h … weekly):
    H = −Σ p_k ln p_k / ln 8 with p_k the share of total candidate power —
    the forecastability score (tsfeatures/M4 "entropy"): ≈0 means one
    dominant cycle (forecast it), ≈1 means flat spectrum (nothing to
    exploit). Completes the spectral family: ts_periodogram ranks the
    candidates, ts_seasonal_strength sizes one of them, this grades the
    whole spectrum's concentration.

    Same shape and determinism as :func:`periodogram` — the dense grid is
    the RESAMPLE join, all eight DFT folds ride ONE collected array per
    user with complex-rotation literals (fixed-order double chains,
    bit-equal list_reduce oracle), and the entropy is one fixed-order
    expression over the eight powers. p_k = 0 terms contribute exactly 0.
    """
    g = _dense_hourly(spark, sf_dir).filter(F.col("n_hours") >= 24)
    # pin the fused fold: every power reads f twice, total/entropy/verdict
    # re-reference the powers, and the total>0 filter pushes below it all —
    # unpinned, the 32-slot fold appeared 33× in the plan (r14 audit)
    g = g.select("user_id", "n_hours", _dft_fold(_SPECENT_PERIODS.values())).localCheckpoint(eager=False)
    powers = [_dft_power(i) for i in range(len(_SPECENT_PERIODS))]
    total = powers[0]
    for p in powers[1:]:
        total = total + p
    g = g.withColumn("total", total)
    for i, p in enumerate(powers):
        g = g.withColumn(f"p{i}", p)
    ent = F.lit(0.0)
    for i in range(len(powers)):
        share = F.col(f"p{i}") / F.col("total")
        ent = ent + F.when(share > 0, -share * F.log(share)).otherwise(F.lit(0.0))
    h_norm = ent / _SPECENT_LN_K
    return g.filter(F.col("total") > 0).select(
        "user_id",
        "n_hours",
        (F.floor(F.col("total") * 1e6) / 1e6).alias("total_power"),
        (F.floor(h_norm * 1e6) / 1e6).alias("spectral_entropy"),
        F.when(h_norm < 0.5, F.lit("concentrated")
        ).when(h_norm > 0.9, F.lit("flat")).otherwise(F.lit("mixed")).alias("verdict"),
    )


_SPECENT_POWER_COLS = ",\n           ".join(
    f"{_dft_fold_sql(cp, sp)} AS f{i}"
    for i, (cp, sp) in enumerate(_SPECENT_PERIODS.values())
)
_SPECENT_P_EXPRS = ",\n           ".join(
    f"(f{i}[3] * f{i}[3] + f{i}[4] * f{i}[4]) / (CAST(n_hours AS DOUBLE) * CAST(n_hours AS DOUBLE)) AS p{i}"
    for i in range(len(_SPECENT_PERIODS))
)
_SPECENT_TOTAL = " + ".join(f"p{i}" for i in range(len(_SPECENT_PERIODS)))
_SPECENT_ENT = " + ".join(
    f"(CASE WHEN p{i} / total > 0 THEN -(p{i} / total) * ln(p{i} / total) ELSE 0.0 END)"
    for i in range(len(_SPECENT_PERIODS))
)

SPECTRAL_ENTROPY_SQL = f"""
WITH {_DENSE_HOURLY_SQL},
arr AS (
    SELECT user_id,
           list_transform(list_sort(list(struct_pack(h := h, c := c))),
                          r -> CAST(r.c AS DOUBLE) / 100.0) AS x,
           count(*) AS n_hours
    FROM dense GROUP BY user_id
    HAVING count(*) >= 24
),
folded AS (
    SELECT user_id, n_hours,
           {_SPECENT_POWER_COLS}
    FROM arr
),
pw AS (
    SELECT user_id, n_hours,
           {_SPECENT_P_EXPRS}
    FROM folded
),
tot AS (
    SELECT user_id, n_hours, p0, p1, p2, p3, p4, p5, p6, p7,
           {_SPECENT_TOTAL} AS total
    FROM pw
),
ent AS (
    SELECT user_id, n_hours, total,
           ({_SPECENT_ENT}) / {_SPECENT_LN_K!r} AS h_norm
    FROM tot WHERE total > 0
)
SELECT user_id, CAST(n_hours AS INT) AS n_hours,
       floor(total * 1e6) / 1e6 AS total_power,
       floor(h_norm * 1e6) / 1e6 AS spectral_entropy,
       CASE WHEN h_norm < 0.5 THEN 'concentrated'
            WHEN h_norm > 0.9 THEN 'flat'
            ELSE 'mixed' END AS verdict
FROM ent
"""


# ---------------------------------------------------------------------------
# online Welford z-score anomaly monitor (batch twin of stream_anomaly_v2)
# ---------------------------------------------------------------------------

_ANOM_Z = 3.0
_ANOM_MIN_N = 10


def anomaly_online(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online (prefix-statistics) z-score anomaly monitor per user: Welford
    running (n, mean, M2); observation t alerts when the stats of the
    FIRST t−1 points put it beyond 3σ — the self-calibrating monitor that
    needs no training pass and never peeks ahead (ts_anomaly_zscore scores
    against the WHOLE series' μ/σ — fine for offline audits, leaky as a
    production detector; this is the deployable semantics, and
    stream_anomaly_v2 runs the identical recursion on the v2 state API
    sharing this oracle).

    One groupBy(user) sorted collect; the Welford recursion is a 5-slot
    ``F.aggregate`` fold in exact-cents doubles. The oracle is a RECURSIVE
    CTE (the ts_cusum pattern): the alert predicate is needed in two
    state slots, which a DuckDB list_reduce would duplicate — the CTE's
    lateral aliases evaluate it once per step.
    """
    g = _cents_history(spark, sf_dir).select(
        "user_id",
        F.transform("c", lambda x: x.cast("double")).alias("x"),
        F.col("n_obs").cast("long").alias("n_events"),
    )

    def _step(acc, x):
        pred = (
            (acc.n >= _ANOM_MIN_N)
            & (acc.m2 > 0.0)
            & (F.abs(x - acc.mean) / F.sqrt(acc.m2 / acc.n.cast("double")) > _ANOM_Z)
        )
        mean2 = acc.mean + (x - acc.mean) / (acc.n + 1).cast("double")
        return F.struct(
            (acc.n + 1).alias("n"),
            mean2.alias("mean"),
            (acc.m2 + (x - acc.mean) * (x - mean2)).alias("m2"),
            (acc.alerts + F.when(pred, 1).otherwise(0)).alias("alerts"),
            F.when(pred & (acc.first < 0), acc.n).otherwise(acc.first).alias("first"),
        )

    init = F.struct(
        F.lit(0).cast("long").alias("n"),
        F.lit(0.0).alias("mean"),
        F.lit(0.0).alias("m2"),
        F.lit(0).cast("long").alias("alerts"),
        F.lit(-1).cast("long").alias("first"),
    )
    g = g.withColumn("st", F.aggregate("x", init, _step))
    st = F.col("st")
    return g.select(
        "user_id",
        "n_events",
        st.alerts.alias("n_alerts"),
        st.first.alias("first_alert_idx"),
        (F.floor(st.mean / 100.0 * 1e6) / 1e6).alias("mean_value"),
        (F.floor(F.sqrt(st.m2 / st.n.cast("double")) / 100.0 * 1e6) / 1e6).alias("std_value"),
    )


ANOMALY_ONLINE_SQL = f"""
WITH RECURSIVE {_CENTS_HIST_SQL},
m AS (SELECT user_id, c, CAST(len(c) AS BIGINT) AS n_events FROM hist),
zt AS (
    SELECT user_id,
           unnest(range(1, len(c) + 1)) AS t,
           unnest(list_transform(c, x -> CAST(x AS DOUBLE))) AS x
    FROM m
),
steps AS (
    SELECT user_id, n_events,
           CAST(0 AS BIGINT) AS n,
           CAST(0.0 AS DOUBLE) AS mean, CAST(0.0 AS DOUBLE) AS m2,
           CAST(0 AS BIGINT) AS alerts, CAST(-1 AS BIGINT) AS first_i
    FROM m
    UNION ALL
    SELECT user_id, n_events,
           n + 1,
           mean2,
           m2 + delta * (x - mean2),
           alerts + al,
           CASE WHEN al = 1 AND first_i < 0 THEN n ELSE first_i END
    FROM (
        SELECT s.user_id, s.n_events, s.n, s.mean, s.m2, s.alerts, s.first_i, z.x,
               CASE WHEN s.n >= {_ANOM_MIN_N} AND s.m2 > 0.0
                         AND abs(z.x - s.mean) / sqrt(s.m2 / CAST(s.n AS DOUBLE)) > {_ANOM_Z!r}
                    THEN 1 ELSE 0 END AS al,
               z.x - s.mean AS delta,
               s.mean + (z.x - s.mean) / CAST(s.n + 1 AS DOUBLE) AS mean2
        FROM steps s JOIN zt z ON z.user_id = s.user_id AND z.t = s.n + 1
    )
)
SELECT user_id, n_events,
       alerts AS n_alerts,
       first_i AS first_alert_idx,
       floor(mean / 100.0 * 1e6) / 1e6 AS mean_value,
       floor(sqrt(m2 / CAST(n AS DOUBLE)) / 100.0 * 1e6) / 1e6 AS std_value
FROM steps WHERE n = n_events
"""


# ---------------------------------------------------------------------------
# partial autocorrelation — unrolled Durbin–Levinson (lags 1..3)
# ---------------------------------------------------------------------------

_PACF_MIN_OBS = 30


def pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation at lags 1–3 per user series via the
    Durbin–Levinson recursion unrolled in closed form — the AR-order
    selector (φ_kk is lag-k correlation with shorter lags regressed out;
    the first k where it dies inside the ±1.96/√n band is the AR cutoff
    box-Jenkins reads). Completes the identification pair: ts_autocorr /
    ts_ljung_box read the ACF, this reads the PACF, and `ar_order`
    reports the suggested order directly.

    Same shape as ts_ljung_box: one :func:`_cents_history` collect, the
    pinned :func:`_acf` chain for r1..r3, then the φ algebra as ONE chained
    double expression per lag (identical operation order both engines;
    degenerate denominators NULL via nullif). Zero Python.
    """
    g = _acf(_cents_history(spark, sf_dir, _PACF_MIN_OBS), 3)
    r1, r2, r3 = F.col("r1"), F.col("r2"), F.col("r3")
    phi11 = r1
    phi22 = (r2 - phi11 * r1) / F.nullif(F.lit(1.0) - phi11 * r1, F.lit(0.0))
    g = g.withColumn("phi22", phi22)
    p22 = F.col("phi22")
    phi21 = phi11 - p22 * phi11
    g = g.withColumn("phi21", phi21)
    p21 = F.col("phi21")
    phi33 = (r3 - (p21 * r2 + p22 * r1)) / F.nullif(
        F.lit(1.0) - (p21 * r1 + p22 * r2), F.lit(0.0)
    )
    g = g.withColumn("phi33", phi33)
    nd = F.col("n_obs").cast("double")
    band = F.lit(1.959964) / F.sqrt(nd)
    order = (
        F.when(F.abs(F.col("phi33")) > band, F.lit(3))
        .when(F.abs(F.col("phi22")) > band, F.lit(2))
        .when(F.abs(r1) > band, F.lit(1))
        .otherwise(F.lit(0))
    )
    return g.select(
        "user_id",
        "n_obs",
        (F.floor(r1 * 1e6) / 1e6).alias("pacf1"),
        F.when(F.col("phi22").isNotNull(), F.floor(F.col("phi22") * 1e6) / 1e6).alias("pacf2"),
        F.when(F.col("phi33").isNotNull(), F.floor(F.col("phi33") * 1e6) / 1e6).alias("pacf3"),
        order.alias("ar_order"),
    )


PACF_SQL = f"""
WITH {_CENTS_HIST_SQL},
base AS (
    SELECT user_id, len(c) AS n_obs,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), c), (a, x) -> a + x) AS DOUBLE)
               / CAST(len(c) AS DOUBLE) AS mu,
           c
    FROM hist WHERE len(c) >= {_PACF_MIN_OBS}
),
dv AS (
    SELECT user_id, n_obs, list_transform(c, x -> CAST(x AS DOUBLE) - mu) AS dev FROM base
),
{_ACF_DENOM_SQL},
rk AS (
    SELECT user_id, n_obs,
           {_lb_num_sql(1)} / denom AS r1,
           {_lb_num_sql(2)} / denom AS r2,
           {_lb_num_sql(3)} / denom AS r3
    FROM dn WHERE denom > 0
),
dl AS (
    SELECT user_id, n_obs, r1, r2, r3,
           (r2 - r1 * r1) / nullif(1.0 - r1 * r1, 0.0) AS phi22,
           r1 - ((r2 - r1 * r1) / nullif(1.0 - r1 * r1, 0.0)) * r1 AS phi21
    FROM rk
),
dl3 AS (
    SELECT user_id, n_obs, r1, phi22,
           (r3 - (phi21 * r2 + phi22 * r1)) / nullif(1.0 - (phi21 * r1 + phi22 * r2), 0.0) AS phi33
    FROM dl
)
SELECT user_id, CAST(n_obs AS INT) AS n_obs,
       floor(r1 * 1e6) / 1e6 AS pacf1,
       CASE WHEN phi22 IS NOT NULL THEN floor(phi22 * 1e6) / 1e6 END AS pacf2,
       CASE WHEN phi33 IS NOT NULL THEN floor(phi33 * 1e6) / 1e6 END AS pacf3,
       CASE WHEN abs(phi33) > 1.959964 / sqrt(CAST(n_obs AS DOUBLE)) THEN 3
            WHEN abs(phi22) > 1.959964 / sqrt(CAST(n_obs AS DOUBLE)) THEN 2
            WHEN abs(r1) > 1.959964 / sqrt(CAST(n_obs AS DOUBLE)) THEN 1
            ELSE 0 END AS ar_order
FROM dl3
"""


# ---------------------------------------------------------------------------
# lead-lag cross-correlation between event-type hourly signals
# ---------------------------------------------------------------------------

_CCF_LAGS = (-2, -1, 0, 1, 2)
_CCF_MIN_PAIRS = 8


def ccf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation function between every event-type pair's hourly
    sums at lags −2…+2 hours: corr(x_t, y_{t+lag}) — the LEAD-LAG
    discovery query (positive-lag peak = type_a LEADS type_b; clicks
    leading purchases by an hour is the classic read). ts_corr answers
    "do they co-move", this answers "who moves FIRST" — together the
    causal-screening pair.

    Same determinism as ts_corr: co-moment sums over EXACT decimals,
    correlation assembled in one double expression. The lag axis rides
    the autocorr trick — one explode of 5 literal lags against the
    BOUNDED (hours × types) frame, one broadcast join; no fact-scale
    shuffle, no window.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.expr("unix_micros(ts) div 3600000000").alias("h"),
        F.col("event_type").alias("etype"),
    ).agg(F.sum(_d("value")).alias("v"))
    a = hourly.select(
        "h",
        F.col("etype").alias("type_a"),
        F.col("v").alias("va"),
        F.explode(F.array(*[F.lit(k) for k in _CCF_LAGS])).alias("lag"),
    )
    b = hourly.select(
        F.col("h").alias("hb"), F.col("etype").alias("type_b"), F.col("v").alias("vb")
    )
    pairs = a.join(
        F.broadcast(b),
        (F.col("hb") == F.col("h") + F.col("lag")) & (F.col("type_a") < F.col("type_b")),
    )
    g = _moment_sums(pairs, "type_a", "type_b", "lag")
    return g.filter(F.col("n") >= _CCF_MIN_PAIRS).select(
        "type_a",
        "type_b",
        "lag",
        F.col("n").alias("n_points"),
        (F.floor(_pearson_r() * 1e6) / 1e6).alias("ccf"),
    )


CCF_SQL = f"""
WITH hourly AS (
    SELECT epoch_us(ts) // 3600000000 AS h, event_type AS etype,
           sum(CAST(value AS DECIMAL(18,2))) AS v
    FROM events GROUP BY 1, 2
),
pairs AS (
    SELECT a.etype AS type_a, b.etype AS type_b, k.lag, a.v AS va, b.v AS vb
    FROM hourly a
    JOIN (SELECT unnest([{", ".join(str(k) for k in _CCF_LAGS)}]) AS lag) k ON TRUE
    JOIN hourly b ON b.h = a.h + k.lag AND a.etype < b.etype
),
g AS (
    SELECT type_a, type_b, lag, count(*) AS n,
           sum(va) AS sx, sum(vb) AS sy,
           sum(va * vb) AS sxy, sum(va * va) AS sxx, sum(vb * vb) AS syy
    FROM pairs GROUP BY 1, 2, 3
)
SELECT type_a, type_b, CAST(lag AS INT) AS lag, n AS n_points,
       floor({_PEARSON_R_SQL}
             * 1e6) / 1e6 AS ccf
FROM g WHERE n >= {_CCF_MIN_PAIRS}
"""


# ---------------------------------------------------------------------------
# MACD — moving-average convergence/divergence momentum readout
# ---------------------------------------------------------------------------

_MACD_FAST = 2.0 / 13.0   # EMA-12 smoothing
_MACD_SLOW = 2.0 / 27.0   # EMA-26 smoothing
_MACD_SIG = 0.2           # EMA-9 smoothing of the MACD line
_MACD_MIN_OBS = 30


def macd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MACD(12, 26, 9) momentum readout per user series (Appel's
    moving-average convergence/divergence): fast-minus-slow EMA spread, its
    signal EMA, and the histogram (spread − signal) whose sign is the
    classic momentum verdict. Completes the finance-style monitor family:
    ts_rsi (bounded oscillator), ts_bollinger (volatility envelope),
    ts_drawdown (peak loss) — this one reads trend ACCELERATION, the first
    derivative the level smoothers miss.

    One groupBy(user) sorted collect (the theta/rsi shuffle shape); all
    three EMA recursions advance in a SINGLE 5-slot ``F.aggregate`` fold
    (e12, e26, signal, running hist max/min) — each slot one independent
    arithmetic expression (inlined, never a conditional duplicated across
    slots — the DuckDB list_reduce constraint), seeded from the first
    observation with a zero signal so the rule is uniform from step two.
    Values fold as exact integer cents cast to double; both engines run the
    identical expression tree, so the doubles agree bit-for-bit and the
    floor-scale projection hashes clean. Zero Python; per-user cost bounded
    by entity history — the 100 TB shape."""
    g = _cents_history(spark, sf_dir, _MACD_MIN_OBS)
    g = g.select("user_id", F.transform("c", lambda x: x.cast("double")).alias("x"), "n_obs")
    fa, sl, sg = _MACD_FAST, _MACD_SLOW, _MACD_SIG

    def _step(st, x):
        e12 = st.e12 + (x - st.e12) * fa
        e26 = st.e26 + (x - st.e26) * sl
        sig = st.sig + ((st.e12 + (x - st.e12) * fa) - (st.e26 + (x - st.e26) * sl) - st.sig) * sg
        hist = (
            (st.e12 + (x - st.e12) * fa) - (st.e26 + (x - st.e26) * sl)
            - (st.sig + ((st.e12 + (x - st.e12) * fa) - (st.e26 + (x - st.e26) * sl) - st.sig) * sg)
        )
        return F.struct(
            e12.alias("e12"),
            e26.alias("e26"),
            sig.alias("sig"),
            F.greatest(st.hmax, hist).alias("hmax"),
            F.least(st.hmin, hist).alias("hmin"),
        )

    x0 = F.element_at("x", 1)
    init = F.struct(
        x0.alias("e12"), x0.alias("e26"),
        F.lit(0.0).alias("sig"), F.lit(0.0).alias("hmax"), F.lit(0.0).alias("hmin"),
    )
    g = g.withColumn("st", F.aggregate(F.slice("x", 2, F.size("x") - 1), init, _step))
    macd_c = F.col("st.e12") - F.col("st.e26")
    hist_c = macd_c - F.col("st.sig")
    verdict = (
        F.when(hist_c > 0.0, F.lit("bullish"))
        .when(hist_c < 0.0, F.lit("bearish"))
        .otherwise(F.lit("flat"))
    )
    return g.select(
        "user_id",
        "n_obs",
        (F.floor(macd_c / 100.0 * 1e6) / 1e6).alias("macd"),
        (F.floor(F.col("st.sig") / 100.0 * 1e6) / 1e6).alias("macd_signal"),
        (F.floor(hist_c / 100.0 * 1e6) / 1e6).alias("macd_hist"),
        (F.floor(F.col("st.hmax") / 100.0 * 1e6) / 1e6).alias("hist_max"),
        (F.floor(F.col("st.hmin") / 100.0 * 1e6) / 1e6).alias("hist_min"),
        verdict.alias("verdict"),
    )


MACD_SQL = f"""
WITH RECURSIVE hist AS (
    SELECT user_id,
           list_transform(
               list_sort(list(struct_pack(ts := ts, e := event_id, v := value))),
               s -> CAST(CAST(CAST(s.v AS DECIMAL(18,2)) * 100 AS BIGINT) AS DOUBLE)) AS x
    FROM events GROUP BY user_id
),
base AS (
    SELECT user_id, len(x) AS n_obs, x[1] AS x0, x AS x
    FROM hist WHERE len(x) >= {_MACD_MIN_OBS}
),
-- Row-at-a-time recursion instead of a list_reduce fold: DuckDB v1.0.0
-- mis-evaluates IDENTICAL arithmetic subexpressions duplicated across fold
-- struct slots (the ts_drawdown/ts_cusum finding — here the inlined
-- e12'/e26' appear in the sig/hmax/hmin slots and the fold silently
-- diverges, verified against the Python reference). The recursive CTE
-- computes e12/e26/sig/hist ONCE per step via lateral aliases — exactly
-- the Spark F.aggregate lambda's evaluation order.
xt AS (
    SELECT user_id, unnest(range(2, CAST(n_obs AS INT) + 1)) AS t,
           unnest(x[2:]) AS xv
    FROM base
),
steps AS (
    SELECT user_id, n_obs, CAST(1 AS BIGINT) AS t,
           x0 AS e12, x0 AS e26,
           CAST(0.0 AS DOUBLE) AS sig,
           CAST(0.0 AS DOUBLE) AS hmax, CAST(0.0 AS DOUBLE) AS hmin
    FROM base
    UNION ALL
    SELECT user_id, n_obs, t, e12b, e26b, sigb,
           greatest(hmax, e12b - e26b - sigb),
           least(hmin, e12b - e26b - sigb)
    FROM (
        SELECT s.user_id, s.n_obs, CAST(x.t AS BIGINT) AS t,
               s.hmax, s.hmin,
               s.e12 + (x.xv - s.e12) * {_MACD_FAST!r} AS e12b,
               s.e26 + (x.xv - s.e26) * {_MACD_SLOW!r} AS e26b,
               s.sig + (e12b - e26b - s.sig) * {_MACD_SIG!r} AS sigb
        FROM steps s JOIN xt x ON x.user_id = s.user_id AND x.t = s.t + 1
    )
)
SELECT user_id, CAST(n_obs AS INT) AS n_obs,
       floor((e12 - e26) / 100.0 * 1e6) / 1e6 AS macd,
       floor(sig / 100.0 * 1e6) / 1e6 AS macd_signal,
       floor((e12 - e26 - sig) / 100.0 * 1e6) / 1e6 AS macd_hist,
       floor(hmax / 100.0 * 1e6) / 1e6 AS hist_max,
       floor(hmin / 100.0 * 1e6) / 1e6 AS hist_min,
       CASE WHEN e12 - e26 - sig > 0.0 THEN 'bullish'
            WHEN e12 - e26 - sig < 0.0 THEN 'bearish'
            ELSE 'flat' END AS verdict
FROM steps WHERE t = n_obs
"""


# ---------------------------------------------------------------------------
# Sharpe/Sortino — risk-adjusted change statistics per series
# ---------------------------------------------------------------------------

_SHARPE_MIN_OBS = 30


def sharpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Risk-adjusted change statistics per user series: mean one-step
    change, volatility (population σ), downside deviation (RMS of negative
    changes), and the Sharpe / Sortino ratios — "is this series drifting up
    relative to its own noise, and does the downside carry the risk?". The
    per-step complement to ts_drawdown's path-wise loss readout.

    One groupBy(user) sorted collect; deltas are exact integer cents and
    the three moment sums (Σd, Σd², Σ min(d,0)²) accumulate as ONE 3-slot
    integer ``F.aggregate`` fold — exact BIGINT arithmetic, so the fold is
    order-insensitive and the only doubles are the final five projections
    (identical expression trees both engines, floor-scaled). d² ≤ 1e14 and
    per-series Σ ≤ 1e17 stay far under the 2^63 ceiling. Zero Python."""
    g = _cents_history(spark, sf_dir, _SHARPE_MIN_OBS)
    g = g.withColumn("d", _first_diffs())
    zero = F.lit(0).cast("long")
    fold = F.aggregate(
        "d",
        F.struct(zero.alias("s1"), zero.alias("s2"), zero.alias("sd2")),
        lambda st, x: F.struct(
            (st.s1 + x).alias("s1"),
            (st.s2 + x * x).alias("s2"),
            (st.sd2 + F.least(x, F.lit(0).cast("long")) * F.least(x, F.lit(0).cast("long"))).alias("sd2"),
        ),
    )
    g = g.withColumn("st", fold).withColumn("n_ret", (F.col("n_obs") - 1).cast("long"))
    n = F.col("n_ret").cast("double")
    mean = F.col("st.s1").cast("double") / n
    var = F.col("st.s2").cast("double") / n - mean * mean
    vol = F.sqrt(F.greatest(var, F.lit(0.0)))
    ddev = F.sqrt(F.col("st.sd2").cast("double") / n)
    return g.select(
        "user_id",
        "n_ret",
        (F.floor(mean / 100.0 * 1e6) / 1e6).alias("mean_chg"),
        (F.floor(vol / 100.0 * 1e6) / 1e6).alias("volatility"),
        (F.floor(ddev / 100.0 * 1e6) / 1e6).alias("downside_dev"),
        F.when(vol > 0.0, F.floor(mean / vol * 1e6) / 1e6).alias("sharpe"),
        F.when(ddev > 0.0, F.floor(mean / ddev * 1e6) / 1e6).alias("sortino"),
    )


SHARPE_SQL = f"""
WITH {_CENTS_HIST_SQL},
base AS (
    SELECT user_id, len(c) AS n_obs,
           list_transform(range(2, len(c) + 1),
                          i -> c[CAST(i AS INT)] - c[CAST(i AS INT) - 1]) AS d
    FROM hist WHERE len(c) >= {_SHARPE_MIN_OBS}
),
folded AS (
    SELECT user_id, CAST(n_obs - 1 AS BIGINT) AS n_ret,
           -- x*x and min(x,0)^2 are precomputed in the prepacked element
           -- struct so every fold slot is a single st.f + e.f addition
           -- with NO repeated subexpression — the duplicated-predicate
           -- list_reduce miscompile class that forced MACD/CUSUM onto
           -- recursive CTEs (ADVICE r7).
           list_reduce(
               list_prepend(
                   struct_pack(s1 := CAST(0 AS BIGINT), s2 := CAST(0 AS BIGINT), sd2 := CAST(0 AS BIGINT)),
                   list_transform(d, x -> struct_pack(
                       s1 := x,
                       s2 := x * x,
                       sd2 := CASE WHEN x < 0 THEN x * x ELSE CAST(0 AS BIGINT) END))),
               (st, e) -> struct_pack(
                   s1 := st.s1 + e.s1,
                   s2 := st.s2 + e.s2,
                   sd2 := st.sd2 + e.sd2)) AS st
    FROM base
),
m AS (
    SELECT user_id, n_ret,
           CAST(st.s1 AS DOUBLE) / CAST(n_ret AS DOUBLE) AS mean,
           sqrt(greatest(CAST(st.s2 AS DOUBLE) / CAST(n_ret AS DOUBLE)
                - (CAST(st.s1 AS DOUBLE) / CAST(n_ret AS DOUBLE)) * (CAST(st.s1 AS DOUBLE) / CAST(n_ret AS DOUBLE)), 0.0)) AS vol,
           sqrt(CAST(st.sd2 AS DOUBLE) / CAST(n_ret AS DOUBLE)) AS ddev
    FROM folded
)
SELECT user_id, n_ret,
       floor(mean / 100.0 * 1e6) / 1e6 AS mean_chg,
       floor(vol / 100.0 * 1e6) / 1e6 AS volatility,
       floor(ddev / 100.0 * 1e6) / 1e6 AS downside_dev,
       CASE WHEN vol > 0.0 THEN floor(mean / vol * 1e6) / 1e6 END AS sharpe,
       CASE WHEN ddev > 0.0 THEN floor(mean / ddev * 1e6) / 1e6 END AS sortino
FROM m
"""


# ---------------------------------------------------------------------------
# Benford first-digit audit — data-integrity screening
# ---------------------------------------------------------------------------

_BENFORD_CHI2_CRIT = 20.09  # chi-square df=8, p=0.01
#: log10(1 + 1/d) for d = 1..9, computed ONCE driver-side and shipped as
#: literals to BOTH engines (no per-engine libm; see benford docstring).
_BENFORD_EXP_SHARES = [math.log10(1.0 + 1.0 / d) for d in range(1, 10)]


def benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit audit over the event values — the
    classic fabricated/synthetic-data screen (Newcomb 1881, Benford 1938):
    naturally-occurring multi-scale amounts follow P(d) = log10(1 + 1/d);
    uniform or hand-entered data doesn't. Emits one row per digit 1-9 with
    observed vs expected shares, the per-digit χ² contribution, and the
    dataset verdict at the df=8, p=0.01 critical value.

    Shape: ONE map-side-combined groupBy over nine keys, then a 9-row
    window rollup for the total and the verdict. At 100 TB this is a
    single scan with a 9-group partial aggregate — the cheapest possible
    audit pass.

    First-digit extraction (ADVICE r7): NOT float log10/pow/floor — a
    value at an exact power of ten sits on the floor(log10) boundary,
    where a 1-ulp libm difference between the JVM and DuckDB would flip a
    digit bin or drop the row via the 1..9 filter. Instead the value is
    cast to DECIMAL(38,18) (fixed-point rendering, no scientific notation)
    and the first [1-9] character of its string form is the first
    significant digit — exact for every |value| ≥ 1, and for (1e-9, 1) up
    to a residual ulp band (ADVICE r8): the double→decimal conversions are
    not bit-identical across engines (Spark: shortest-repr BigDecimal +
    HALF_UP setScale(18); DuckDB: ×10¹⁸ in double precision, then round),
    so a double within ~1 ulp below a negative power of ten can in
    principle round across the boundary in one engine only, flipping the
    bin 9↔1. Current data never enters the band (3-SF parity green), and
    tests/test_timeseries.py plants nextafter(10⁻ᵏ, 0) probes for k=2..9
    so any engine disagreement in the band fails the Spark-vs-DuckDB
    replay loudly. The >1e-9 filter and the events domain bound |value|
    inside (1e-9, 1e18)."""
    ev = load_table(spark, sf_dir, "events")
    a = F.abs(F.col("value"))
    # nullif makes the cast TOTAL: a zero value renders as all-zero decimal
    # digits, regexp_extract returns '', and DuckDB's optimizer reorders
    # filter conjuncts so the cast CAN see such a row before the
    # abs>1e-9 guard applies (observed at sf0.1: CAST('' AS INT) aborted
    # the oracle). '' -> NULL -> dropped by the 1..9 gate on both engines.
    digit = F.nullif(
        F.regexp_extract(a.cast("decimal(38,18)").cast("string"), "[1-9]", 0), F.lit("")
    ).cast("int")
    d = (
        ev.filter(a > 1e-9)
        .select(digit.alias("digit"))
        .filter((F.col("digit") >= 1) & (F.col("digit") <= 9))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # bounded: runs over the 9-row leading-digit aggregate
    w = Window.partitionBy()
    total = F.sum("n").over(w).cast("double")
    # log10(1 + 1/d) for d in 1..9 are NINE CONSTANTS — ship them as
    # driver-computed literals instead of calling each engine's libm (a
    # 1-ulp log10 disagreement near a 1e-6 multiple would flip the
    # floor-scaled exp_share / chi2 columns).
    exp_share = F.element_at(
        F.array(*[F.lit(v) for v in _BENFORD_EXP_SHARES]), F.col("digit").cast("int")
    )
    contrib = (F.col("n").cast("double") - total * exp_share) * (
        F.col("n").cast("double") - total * exp_share
    ) / (total * exp_share)
    d = d.select(
        "digit",
        "n",
        (F.floor(F.col("n").cast("double") / total * 1e6) / 1e6).alias("obs_share"),
        (F.floor(exp_share * 1e6) / 1e6).alias("exp_share"),
        (F.floor(contrib * 1e6) / 1e6).alias("chi2_contrib"),
        contrib.alias("_c"),
    )
    # chi2 total: fold the ≤9 contributions in ASCENDING DIGIT ORDER (an
    # unordered float window-sum is partial-order-sensitive across engines
    # — the events_srm sf0.001 finding; the oracle folds the same order).
    tot = d.agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct(F.col("digit"), F.col("_c").alias("c")))),
            F.lit(0.0),
            lambda acc, x: acc + x["c"],
        ).alias("_chi2")
    )
    d = d.crossJoin(F.broadcast(tot))
    chi2 = F.col("_chi2")
    return d.select(
        "digit", "n", "obs_share", "exp_share", "chi2_contrib",
        (F.floor(chi2 * 1e6) / 1e6).alias("chi2_total"),
        F.when(chi2 > _BENFORD_CHI2_CRIT, F.lit("deviates")).otherwise(F.lit("benford_ok")).alias("verdict"),
    )


BENFORD_SQL = f"""
WITH digits AS (
    -- first significant digit from the DECIMAL string rendering, not float
    -- log10/pow math (exact-digit convention; see benford docstring).
    -- nullif keeps the cast total: the optimizer reorders filter conjuncts,
    -- so the cast can see a zero row (all-zero digits -> '') before the
    -- abs>1e-9 guard applies.
    SELECT CAST(nullif(regexp_extract(CAST(CAST(abs(value) AS DECIMAL(38,18)) AS VARCHAR), '[1-9]'), '') AS INT) AS digit
    FROM events WHERE abs(value) > 1e-9
),
counts AS (
    SELECT digit, count(*) AS n FROM digits WHERE digit BETWEEN 1 AND 9 GROUP BY digit
),
c AS (
    -- exp_share as the SAME driver-computed literals the Spark side ships
    -- (no per-engine libm log10; see benford docstring)
    SELECT digit, n,
           CAST(sum(n) OVER () AS DOUBLE) AS total,
           [{", ".join(repr(v) for v in _BENFORD_EXP_SHARES)}][digit] AS exp_share
    FROM counts
),
x AS (
    SELECT digit, n, total, exp_share,
           (CAST(n AS DOUBLE) - total * exp_share) * (CAST(n AS DOUBLE) - total * exp_share)
               / (total * exp_share) AS contrib
    FROM c
),
tot AS (
    -- chi2 folded in ascending digit order (single-slot scalar fold; an
    -- unordered float window-sum is partial-order-sensitive across engines)
    SELECT list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE),
                   list_transform(list_sort(list(struct_pack(d := digit, c := contrib))), s -> s.c)),
               (a, b) -> a + b) AS chi2
    FROM x
)
SELECT digit, n,
       floor(CAST(n AS DOUBLE) / total * 1e6) / 1e6 AS obs_share,
       floor(exp_share * 1e6) / 1e6 AS exp_share,
       floor(contrib * 1e6) / 1e6 AS chi2_contrib,
       floor(chi2 * 1e6) / 1e6 AS chi2_total,
       CASE WHEN chi2 > {_BENFORD_CHI2_CRIT!r} THEN 'deviates' ELSE 'benford_ok' END AS verdict
FROM x CROSS JOIN tot
"""


# ---------------------------------------------------------------------------
# ADF — Dickey-Fuller unit-root / stationarity test
# ---------------------------------------------------------------------------

_ADF_MIN_OBS = 30
_ADF_CRIT_5PCT = -2.86  # DF tau-mu critical value, 5%, large n


def adf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dickey-Fuller unit-root test per user series (the lag-0 DF
    regression Δy_t = α + β·y_{t-1} + ε): a significantly negative β means
    shocks mean-revert (stationary); β ≈ 0 means a random walk. The
    stationarity gate that decides whether ts_ewma-style level smoothing or
    ts_rate-style differencing is the right downstream transform —
    complements ts_mk_trend (monotone drift) and ts_hurst (long memory).

    Shape: ONE per-user window lag (no arrays, no fold) feeding exact
    BIGINT moment sums (Σy, Σy², ΣΔ, ΣΔ², ΣyΔ) in a map-side-combined
    aggregate; the OLS slope, intercept, residual variance (computed from
    the sums — no second pass), standard error, and t-statistic are final
    double projections with identical expression trees both engines.
    Per-user cost is O(history); the aggregate is order-insensitive
    (exact integers), so no sort is needed beyond the lag window's."""
    ev = load_table(spark, sf_dir, "events")
    c = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    d = ev.select("user_id", c.alias("y"), F.lag(c).over(w).alias("yp"))
    d = d.filter(F.col("yp").isNotNull()).withColumn("dy", F.col("y") - F.col("yp"))
    g = d.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("yp").alias("sy"),
        F.sum(F.col("yp") * F.col("yp")).alias("syy"),
        F.sum("dy").alias("sd"),
        F.sum(F.col("dy") * F.col("dy")).alias("sdd"),
        F.sum(F.col("yp") * F.col("dy")).alias("syd"),
    )
    g = g.filter(F.col("n") >= _ADF_MIN_OBS)
    nd = F.col("n").cast("double")
    sy, syy = F.col("sy").cast("double"), F.col("syy").cast("double")
    sd, sdd = F.col("sd").cast("double"), F.col("sdd").cast("double")
    syd = F.col("syd").cast("double")
    var_y = syy - sy * sy / nd
    beta = (nd * syd - sy * sd) / (nd * syy - sy * sy)
    alpha = (sd - beta * sy) / nd
    ssr = sdd - 2.0 * alpha * sd - 2.0 * beta * syd + nd * alpha * alpha + 2.0 * alpha * beta * sy + beta * beta * syy
    se2 = F.greatest(ssr, F.lit(0.0)) / (nd - 2.0) / var_y
    df_stat = F.when((var_y > 0.0) & (se2 > 0.0), beta / F.sqrt(se2))
    verdict = (
        F.when(df_stat < _ADF_CRIT_5PCT, F.lit("stationary"))
        .when(df_stat.isNotNull(), F.lit("unit_root"))
    )
    return g.select(
        "user_id",
        "n",
        F.when(var_y > 0.0, F.floor(beta * 1e6) / 1e6).alias("beta"),
        F.when(var_y > 0.0, F.floor(alpha / 100.0 * 1e6) / 1e6).alias("alpha"),
        F.when(df_stat.isNotNull(), F.floor(df_stat * 1e6) / 1e6).alias("df_stat"),
        verdict.alias("verdict"),
    )


ADF_SQL = f"""
WITH lagged AS (
    SELECT user_id,
           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS y,
           lag(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS yp
    FROM events
),
g AS (
    SELECT user_id, count(*) AS n,
           CAST(sum(yp) AS BIGINT) AS sy,
           CAST(sum(yp * yp) AS BIGINT) AS syy,
           CAST(sum(y - yp) AS BIGINT) AS sd,
           CAST(sum((y - yp) * (y - yp)) AS BIGINT) AS sdd,
           CAST(sum(yp * (y - yp)) AS BIGINT) AS syd
    FROM lagged WHERE yp IS NOT NULL GROUP BY user_id
),
m AS (
    SELECT user_id, n,
           CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS var_y,
           (CAST(n AS DOUBLE) * CAST(syd AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sd AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) AS beta,
           CAST(sy AS DOUBLE) AS sy_d, CAST(sd AS DOUBLE) AS sd_d,
           CAST(sdd AS DOUBLE) AS sdd_d, CAST(syd AS DOUBLE) AS syd_d, CAST(syy AS DOUBLE) AS syy_d,
           CAST(n AS DOUBLE) AS nd
    FROM g WHERE n >= {_ADF_MIN_OBS}
),
f AS (
    SELECT user_id, n, var_y, beta, nd,
           (sd_d - beta * sy_d) / nd AS alpha,
           sd_d, sdd_d, syd_d, syy_d, sy_d
    FROM m
),
r AS (
    SELECT user_id, n, var_y, beta, alpha,
           greatest(sdd_d - 2.0 * alpha * sd_d - 2.0 * beta * syd_d + nd * alpha * alpha
                    + 2.0 * alpha * beta * sy_d + beta * beta * syy_d, 0.0)
               / (nd - 2.0) / var_y AS se2
    FROM f
)
SELECT user_id, n,
       CASE WHEN var_y > 0.0 THEN floor(beta * 1e6) / 1e6 END AS beta,
       CASE WHEN var_y > 0.0 THEN floor(alpha / 100.0 * 1e6) / 1e6 END AS alpha,
       CASE WHEN var_y > 0.0 AND se2 > 0.0 THEN floor(beta / sqrt(se2) * 1e6) / 1e6 END AS df_stat,
       CASE WHEN var_y > 0.0 AND se2 > 0.0 AND beta / sqrt(se2) < {_ADF_CRIT_5PCT!r} THEN 'stationary'
            WHEN var_y > 0.0 AND se2 > 0.0 THEN 'unit_root' END AS verdict
FROM r
"""


# ---------------------------------------------------------------------------
# VaR / Expected Shortfall — tail-risk readout on one-step changes
# ---------------------------------------------------------------------------

_VAR_MIN_OBS = 30


def var_es(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Historical Value-at-Risk and Expected Shortfall per user series, on
    one-step changes: VaR95 = the loss at the empirical 5th percentile of
    changes, ES95 = the average loss beyond it (CVaR) — plus the 99% pair.
    Exact ORDER STATISTICS (k = ⌈0.05·n⌉ smallest deltas), not interpolated
    quantiles, so there is no interpolation-mode ambiguity between engines.
    The tail-risk complement to ts_sharpe's central moments.

    One groupBy(user) sorted collect; deltas are exact integer cents,
    sorted once per series (array_sort, per-key cost bounded by history);
    the k-th element and the exact-integer tail sums are array projections
    — zero Python, one shuffle, no global sort."""
    g = _cents_history(spark, sf_dir, _VAR_MIN_OBS)
    g = g.select("user_id", F.array_sort(_first_diffs()).alias("d"), (F.col("n_obs") - 1).cast("long").alias("n_ret"))
    k95 = F.floor((F.col("n_ret") + 19) / 20).cast("int")
    k99 = F.floor((F.col("n_ret") + 99) / 100).cast("int")
    g = g.withColumn("k95", k95).withColumn("k99", k99)
    zero = F.lit(0).cast("long")

    def tail_sum(k):
        return F.aggregate(F.slice("d", 1, k), zero, lambda a, x: a + x)

    var95 = -F.element_at("d", F.col("k95")).cast("double")
    var99 = -F.element_at("d", F.col("k99")).cast("double")
    es95 = -tail_sum(F.col("k95")).cast("double") / F.col("k95").cast("double")
    es99 = -tail_sum(F.col("k99")).cast("double") / F.col("k99").cast("double")
    return g.select(
        "user_id",
        "n_ret",
        (F.floor(var95 / 100.0 * 1e6) / 1e6).alias("var95"),
        (F.floor(es95 / 100.0 * 1e6) / 1e6).alias("es95"),
        (F.floor(var99 / 100.0 * 1e6) / 1e6).alias("var99"),
        (F.floor(es99 / 100.0 * 1e6) / 1e6).alias("es99"),
    )


VAR_ES_SQL = f"""
WITH {_CENTS_HIST_SQL},
base AS (
    SELECT user_id, CAST(len(c) - 1 AS BIGINT) AS n_ret,
           list_sort(list_transform(range(2, len(c) + 1),
                          i -> c[CAST(i AS INT)] - c[CAST(i AS INT) - 1])) AS d
    FROM hist WHERE len(c) >= {_VAR_MIN_OBS}
),
ks AS (
    SELECT user_id, n_ret, d,
           CAST((n_ret + 19) // 20 AS INT) AS k95,
           CAST((n_ret + 99) // 100 AS INT) AS k99
    FROM base
),
t AS (
    SELECT user_id, n_ret, k95, k99,
           -CAST(d[k95] AS DOUBLE) AS var95,
           -CAST(d[k99] AS DOUBLE) AS var99,
           -CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), d[1:k95]), (a, x) -> a + x) AS DOUBLE)
               / CAST(k95 AS DOUBLE) AS es95,
           -CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), d[1:k99]), (a, x) -> a + x) AS DOUBLE)
               / CAST(k99 AS DOUBLE) AS es99
    FROM ks
)
SELECT user_id, n_ret,
       floor(var95 / 100.0 * 1e6) / 1e6 AS var95,
       floor(es95 / 100.0 * 1e6) / 1e6 AS es95,
       floor(var99 / 100.0 * 1e6) / 1e6 AS var99,
       floor(es99 / 100.0 * 1e6) / 1e6 AS es99
FROM t
"""


# ---------------------------------------------------------------------------
# SAX-word motif discovery — cross-series shape clustering
# ---------------------------------------------------------------------------


def sax_motif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-series shape motifs: group series by their SAX word (the
    8-segment symbolization from :func:`sax_symbolize`) and rank the
    recurring shapes — "which weekly/level patterns does this fleet of
    series share, and how common is each" (Lin et al.'s motif-discovery
    use of SAX, lifted from within-series subsequences to the cross-series
    catalog a monitoring team actually browses). ``example_user`` pins a
    deterministic representative per shape.

    Pure composition: sax_symbolize's one sorted-collect shuffle, then a
    word-keyed map-side-combined count (alphabet⁸ ≤ 65k distinct words, so
    the rollup is dimension-sized at any scale) and one tiny window for
    the share; exact integers everywhere but the floor-scaled share."""
    words = sax_symbolize(spark, sf_dir)
    g = words.groupBy("sax_word").agg(
        F.count(F.lit(1)).cast("long").alias("n_series"),
        F.min("user_id").alias("example_user"),
        F.min("n_points").alias("min_points"),
        F.max("n_points").alias("max_points"),
    )
    # bounded: runs over the |alphabet|^word SAX-word aggregate
    w = Window.partitionBy()
    total = F.sum("n_series").over(w).cast("double")
    return (
        g.select(
            "sax_word", "n_series", "example_user", "min_points", "max_points",
            (F.floor(F.col("n_series").cast("double") / total * 1e6) / 1e6).alias("share"),
        )
        .orderBy(F.col("n_series").desc(), F.col("sax_word"))
    )


SAX_MOTIF_SQL = f"""
WITH sax AS ({SAX_SQL}),
g AS (
    SELECT sax_word, count(*) AS n_series, min(user_id) AS example_user,
           min(n_points) AS min_points, max(n_points) AS max_points
    FROM sax GROUP BY sax_word
)
SELECT sax_word, n_series, example_user, min_points, max_points,
       floor(CAST(n_series AS DOUBLE) / CAST(sum(n_series) OVER () AS DOUBLE) * 1e6) / 1e6 AS share
FROM g
ORDER BY n_series DESC, sax_word
"""


# ---------------------------------------------------------------------------
# inverse-MAE forecast ensemble — blended one-step-ahead forecast
# ---------------------------------------------------------------------------

_ENS_EPS = 1.0  # one cent — keeps a zero-MAE model from dividing by zero


def forecast_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-MAE forecast combination per series (Bates–Granger 1969,
    the simple combination that routinely beats its members in the M
    competitions): holdout-MAE the three baselines exactly as ts_backtest,
    convert to weights w_m ∝ 1/(MAE_m + 1¢), and blend their one-step-
    ahead forecasts (naive = last value, seasonal naive = one season back,
    mean = full-series mean). ts_backtest picks a WINNER; this hedges
    across all three — the production default when the winner flips
    series to series.

    Same one-shuffle sorted-collect shape and exact-integer error folds as
    ts_backtest (docstring there); weights and the blend are final double
    projections in identical op order, floor-scaled. Series shorter than
    two seasons are excluded."""
    g = _holdout_maes(_cents_history(spark, sf_dir, 2 * _BT_SEASON))
    eps = _ENS_EPS / 100.0  # one cent in value units
    iv_n = 1.0 / (F.col("mn") + eps)
    iv_s = 1.0 / (F.col("ms") + eps)
    iv_m = 1.0 / (F.col("mm") + eps)
    tot = iv_n + iv_s + iv_m
    # one-step-ahead member forecasts (full series)
    f_naive = F.element_at("c", F.col("n_obs")).cast("double")
    f_snaive = F.element_at("c", F.col("n_obs") - _BT_SEASON + 1).cast("double")
    full_sum = F.aggregate("c", F.lit(0).cast("long"), lambda a, x: a + x)
    f_mean = full_sum.cast("double") / F.col("n_obs").cast("double")
    blend = (iv_n * f_naive + iv_s * f_snaive + iv_m * f_mean) / tot
    return g.select(
        F.col("user_id").alias("series_id"),
        (F.floor(F.col("mn") * 1e6) / 1e6).alias("mae_naive"),
        (F.floor(F.col("ms") * 1e6) / 1e6).alias("mae_snaive"),
        (F.floor(F.col("mm") * 1e6) / 1e6).alias("mae_mean"),
        (F.floor(iv_n / tot * 1e6) / 1e6).alias("w_naive"),
        (F.floor(iv_s / tot * 1e6) / 1e6).alias("w_snaive"),
        (F.floor(iv_m / tot * 1e6) / 1e6).alias("w_mean"),
        (F.floor(blend / 100.0 * 1e6) / 1e6).alias("forecast_blend"),
    )


FORECAST_ENSEMBLE_SQL = f"""
WITH {_CENTS_HIST_SQL},
base AS (
    SELECT user_id, c, len(c) AS n,
           c[len(c) - {_BT_HOLD} + 1 : len(c)] AS hold,
           c[len(c) - {_BT_HOLD}] AS lt,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), c[1 : len(c) - {_BT_HOLD}]),
                (a, b) -> a + b) AS DOUBLE) / (len(c) - {_BT_HOLD}) AS mu
    FROM hist WHERE len(c) >= {2 * _BT_SEASON}
),
errs AS (
    SELECT user_id, c, n, mu,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(hold, x -> abs(x - lt))), (a, b) -> a + b) AS DOUBLE)
               / {100.0 * _BT_HOLD} AS mn,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(range(1, {_BT_HOLD} + 1), j ->
                   abs(c[n - {_BT_HOLD} + j] - c[n - {_BT_HOLD} - {_BT_SEASON} + j]))),
               (a, b) -> a + b) AS DOUBLE) / {100.0 * _BT_HOLD} AS ms,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(hold, x -> abs(CAST(x AS DOUBLE) - mu))), (a, b) -> a + b)
               / {100.0 * _BT_HOLD} AS mm
    FROM base
),
w AS (
    SELECT user_id, c, n, mu, mn, ms, mm,
           1.0 / (mn + {_ENS_EPS / 100.0!r}) AS iv_n,
           1.0 / (ms + {_ENS_EPS / 100.0!r}) AS iv_s,
           1.0 / (mm + {_ENS_EPS / 100.0!r}) AS iv_m
    FROM errs
),
f AS (
    SELECT user_id, mn, ms, mm, iv_n, iv_s, iv_m,
           iv_n + iv_s + iv_m AS tot,
           CAST(c[n] AS DOUBLE) AS f_naive,
           CAST(c[n - {_BT_SEASON} + 1] AS DOUBLE) AS f_snaive,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), c), (a, b) -> a + b) AS DOUBLE)
               / CAST(n AS DOUBLE) AS f_mean
    FROM w
)
SELECT user_id AS series_id,
       floor(mn * 1e6) / 1e6 AS mae_naive,
       floor(ms * 1e6) / 1e6 AS mae_snaive,
       floor(mm * 1e6) / 1e6 AS mae_mean,
       floor(iv_n / tot * 1e6) / 1e6 AS w_naive,
       floor(iv_s / tot * 1e6) / 1e6 AS w_snaive,
       floor(iv_m / tot * 1e6) / 1e6 AS w_mean,
       floor((iv_n * f_naive + iv_s * f_snaive + iv_m * f_mean) / tot / 100.0 * 1e6) / 1e6 AS forecast_blend
FROM f
"""


# ---------------------------------------------------------------------------
# Granger lead-lag test — does X's past improve predicting Y?
# ---------------------------------------------------------------------------

_GRANGER_F_CRIT = 6.635  # F(1, large-n) at p = 0.01 (= chi-square_1)
_GRANGER_MIN_OBS = 30


def granger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 Granger causality between every ORDERED event-type pair on
    the hourly-sum grid: does adding x_{t−1} to the autoregression
    y_t ~ y_{t−1} significantly shrink the residual (F-test on one
    restriction)? ts_ccf finds WHO MOVES FIRST by correlation; this one
    asks whether the lead is PREDICTIVE beyond y's own momentum — the
    final member of the causal-screening family (corr → lead-lag →
    incremental predictability).

    Closed-form OLS throughout: centered co-moments from EXACT decimal
    sums over the bounded hourly grid (one triple self-join on adjacent
    hours per ordered pair — no fact-scale shuffle), the restricted slope
    as one division, the unrestricted pair via 2×2 Cramer, SSRs and the
    F statistic as final double projections in identical op order both
    engines. No iteration, no matrix library."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.expr("unix_micros(ts) div 3600000000").alias("h"),
        F.col("event_type").alias("etype"),
    ).agg(F.sum(_d("value")).alias("v")).localCheckpoint(eager=False)
    y = hourly.select("h", F.col("etype").alias("type_y"), F.col("v").alias("yt"))
    y1 = hourly.select(
        (F.col("h") + 1).alias("h"), F.col("etype").alias("type_y"), F.col("v").alias("y1")
    )
    x1 = hourly.select(
        (F.col("h") + 1).alias("h"), F.col("etype").alias("type_x"), F.col("v").alias("x1")
    )
    rows = (
        y.join(y1, ["h", "type_y"])
        .join(F.broadcast(x1), "h")
        .filter(F.col("type_x") != F.col("type_y"))
    )
    g = rows.groupBy("type_x", "type_y").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("yt").alias("sy"),
        F.sum("y1").alias("sy1"),
        F.sum("x1").alias("sx1"),
        F.sum(F.col("yt") * F.col("yt")).alias("syy"),
        F.sum(F.col("y1") * F.col("y1")).alias("sy1y1"),
        F.sum(F.col("x1") * F.col("x1")).alias("sx1x1"),
        F.sum(F.col("yt") * F.col("y1")).alias("syy1"),
        F.sum(F.col("yt") * F.col("x1")).alias("syx1"),
        F.sum(F.col("y1") * F.col("x1")).alias("sy1x1"),
    ).filter(F.col("n") >= _GRANGER_MIN_OBS)
    nd = F.col("n").cast("double")

    def cm(sab, sa, sb):  # centered co-moment from raw decimal sums
        return F.col(sab).cast("double") - F.col(sa).cast("double") * F.col(sb).cast("double") / nd

    cyy = cm("syy", "sy", "sy")
    cy1y1 = cm("sy1y1", "sy1", "sy1")
    cx1x1 = cm("sx1x1", "sx1", "sx1")
    cyy1 = cm("syy1", "sy", "sy1")
    cyx1 = cm("syx1", "sy", "sx1")
    cy1x1 = cm("sy1x1", "sy1", "sx1")
    ssr_r = cyy - cyy1 * cyy1 / cy1y1
    det = cy1y1 * cx1x1 - cy1x1 * cy1x1
    b_u = (cyy1 * cx1x1 - cyx1 * cy1x1) / det
    c_u = (cyx1 * cy1y1 - cyy1 * cy1x1) / det
    ssr_u = cyy - b_u * cyy1 - c_u * cyx1
    valid = (cy1y1 > 0.0) & (det > 0.0) & (ssr_u > 0.0)
    f_stat = F.when(valid, (ssr_r - ssr_u) / (ssr_u / (nd - 3.0)))
    verdict = (
        F.when(f_stat > _GRANGER_F_CRIT, F.lit("granger_causal"))
        .when(f_stat.isNotNull(), F.lit("no_evidence"))
    )
    return g.select(
        "type_x",
        "type_y",
        "n",
        F.when(valid, F.floor(c_u * 1e6) / 1e6).alias("beta_x"),
        F.when(valid, F.floor(f_stat * 1e6) / 1e6).alias("f_stat"),
        verdict.alias("verdict"),
    )


GRANGER_SQL = f"""
WITH hourly AS (
    SELECT epoch_us(ts) // 3600000000 AS h, event_type AS etype,
           sum(CAST(value AS DECIMAL(18,2))) AS v
    FROM events GROUP BY 1, 2
),
rows_ AS (
    SELECT x1.etype AS type_x, y.etype AS type_y, y.v AS yt, y1.v AS y1, x1.v AS x1
    FROM hourly y
    JOIN hourly y1 ON y1.h = y.h - 1 AND y1.etype = y.etype
    JOIN hourly x1 ON x1.h = y.h - 1 AND x1.etype != y.etype
),
g AS (
    SELECT type_x, type_y, count(*) AS n,
           sum(yt) AS sy, sum(y1) AS sy1, sum(x1) AS sx1,
           sum(yt * yt) AS syy, sum(y1 * y1) AS sy1y1, sum(x1 * x1) AS sx1x1,
           sum(yt * y1) AS syy1, sum(yt * x1) AS syx1, sum(y1 * x1) AS sy1x1
    FROM rows_ GROUP BY 1, 2 HAVING count(*) >= {_GRANGER_MIN_OBS}
),
c AS (
    SELECT type_x, type_y, n, CAST(n AS DOUBLE) AS nd,
           CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS cyy,
           CAST(sy1y1 AS DOUBLE) - CAST(sy1 AS DOUBLE) * CAST(sy1 AS DOUBLE) / CAST(n AS DOUBLE) AS cy1y1,
           CAST(sx1x1 AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(sx1 AS DOUBLE) / CAST(n AS DOUBLE) AS cx1x1,
           CAST(syy1 AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy1 AS DOUBLE) / CAST(n AS DOUBLE) AS cyy1,
           CAST(syx1 AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sx1 AS DOUBLE) / CAST(n AS DOUBLE) AS cyx1,
           CAST(sy1x1 AS DOUBLE) - CAST(sy1 AS DOUBLE) * CAST(sx1 AS DOUBLE) / CAST(n AS DOUBLE) AS cy1x1
    FROM g
),
m AS (
    SELECT type_x, type_y, n, nd, cyy, cy1y1, cx1x1, cyy1, cyx1, cy1x1,
           cyy - cyy1 * cyy1 / cy1y1 AS ssr_r,
           cy1y1 * cx1x1 - cy1x1 * cy1x1 AS det
    FROM c
),
u AS (
    SELECT type_x, type_y, n, nd, cyy, cyy1, cyx1, cy1y1, ssr_r, det, cx1x1,
           (cyy1 * cx1x1 - cyx1 * cy1x1) / det AS b_u,
           (cyx1 * cy1y1 - cyy1 * cy1x1) / det AS c_u
    FROM m
),
r AS (
    SELECT type_x, type_y, n, nd, cy1y1, det, c_u, ssr_r,
           cyy - b_u * cyy1 - c_u * cyx1 AS ssr_u
    FROM u
)
SELECT type_x, type_y, n,
       CASE WHEN cy1y1 > 0.0 AND det > 0.0 AND ssr_u > 0.0
            THEN floor(c_u * 1e6) / 1e6 END AS beta_x,
       CASE WHEN cy1y1 > 0.0 AND det > 0.0 AND ssr_u > 0.0
            THEN floor((ssr_r - ssr_u) / (ssr_u / (nd - 3.0)) * 1e6) / 1e6 END AS f_stat,
       CASE WHEN cy1y1 > 0.0 AND det > 0.0 AND ssr_u > 0.0
                 AND (ssr_r - ssr_u) / (ssr_u / (nd - 3.0)) > {_GRANGER_F_CRIT!r} THEN 'granger_causal'
            WHEN cy1y1 > 0.0 AND det > 0.0 AND ssr_u > 0.0 THEN 'no_evidence' END AS verdict
FROM r
"""


# ---------------------------------------------------------------------------
# load-duration curve — exceedance quantiles + load factor per series
# ---------------------------------------------------------------------------

_LDC_MIN_OBS = 20


def load_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load-duration-curve readout per user series — the energy-analytics
    staple the reference's users live on (sort the observations descending
    and read the exceedance levels): peak, p10/p50/p90 exceedance values
    as EXACT order statistics, load factor (mean/peak — how flat is the
    profile), and the peak-to-trough ratio. A flat industrial base load
    reads load_factor ≈ 1; a spiky residential profile reads ≪ 1 and
    drives capacity sizing.

    One groupBy(user) sorted collect (the theta shuffle shape); the curve
    IS the descending sort of the cents array, levels are k = ⌈q·n⌉
    element picks (integer-div formula, no interpolation-mode ambiguity —
    the ts_var_es convention), mean from the exact integer sum. Doubles
    only in the two final ratios, floor-scaled."""
    g = _cents_history(spark, sf_dir, _LDC_MIN_OBS)
    g = g.select("user_id", F.array_sort("c").alias("asc"), F.col("n_obs").cast("long").alias("n_obs"))
    # descending curve = ascending array read from the top
    n = F.col("n_obs")

    def exceed(q_num: int, q_den: int):
        # value exceeded q of the time = element ⌈q·n⌉ from the top
        k = F.floor((n * q_num + q_den - 1) / q_den).cast("int")
        return F.element_at("asc", (n.cast("int") - k + 1))

    peak = F.element_at("asc", n.cast("int"))
    trough = F.element_at("asc", 1)
    total = F.aggregate("asc", F.lit(0).cast("long"), lambda a, x: a + x)
    mean = total.cast("double") / n.cast("double")
    lf = F.when(peak > 0, mean / peak.cast("double"))
    ptr = F.when(trough > 0, peak.cast("double") / trough.cast("double"))
    return g.select(
        "user_id",
        "n_obs",
        (peak.cast("double") / 100.0).alias("peak"),
        (exceed(1, 10).cast("double") / 100.0).alias("p10_exceed"),
        (exceed(1, 2).cast("double") / 100.0).alias("p50_exceed"),
        (exceed(9, 10).cast("double") / 100.0).alias("p90_exceed"),
        (F.floor(mean / 100.0 * 1e6) / 1e6).alias("mean_load"),
        F.when(lf.isNotNull(), F.floor(lf * 1e6) / 1e6).alias("load_factor"),
        F.when(ptr.isNotNull(), F.floor(ptr * 1e6) / 1e6).alias("peak_trough_ratio"),
    )


LOAD_CURVE_SQL = f"""
WITH hist AS (
    SELECT user_id,
           list_sort(list_transform(
               list_sort(list(struct_pack(ts := ts, e := event_id, v := value))),
               s -> CAST(CAST(s.v AS DECIMAL(18,2)) * 100 AS BIGINT))) AS asc_,
           count(*) AS n_obs
    FROM events GROUP BY user_id
),
base AS (
    SELECT user_id, asc_, CAST(n_obs AS BIGINT) AS n_obs,
           CAST(len(asc_) AS INT) AS ni
    FROM hist WHERE n_obs >= {_LDC_MIN_OBS}
),
m AS (
    SELECT user_id, n_obs, ni, asc_,
           asc_[ni] AS peak, asc_[1] AS trough,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), asc_), (a, x) -> a + x) AS DOUBLE)
               / CAST(n_obs AS DOUBLE) AS mean_c,
           asc_[ni - CAST((n_obs * 1 + 9) // 10 AS INT) + 1] AS e10,
           asc_[ni - CAST((n_obs * 1 + 1) // 2 AS INT) + 1] AS e50,
           asc_[ni - CAST((n_obs * 9 + 9) // 10 AS INT) + 1] AS e90
    FROM base
)
SELECT user_id, n_obs,
       CAST(peak AS DOUBLE) / 100.0 AS peak,
       CAST(e10 AS DOUBLE) / 100.0 AS p10_exceed,
       CAST(e50 AS DOUBLE) / 100.0 AS p50_exceed,
       CAST(e90 AS DOUBLE) / 100.0 AS p90_exceed,
       floor(mean_c / 100.0 * 1e6) / 1e6 AS mean_load,
       CASE WHEN peak > 0 THEN floor(mean_c / CAST(peak AS DOUBLE) * 1e6) / 1e6 END AS load_factor,
       CASE WHEN trough > 0 THEN floor(CAST(peak AS DOUBLE) / CAST(trough AS DOUBLE) * 1e6) / 1e6 END AS peak_trough_ratio
FROM m
"""


# ---------------------------------------------------------------------------
# peak detection — demand peaks with a prominence floor
# ---------------------------------------------------------------------------

_PEAK_HALF_WIN = 2      # ±2 neighbors
_PEAK_PROM_PCT = 20     # prominence: 20·(x − wmin) ≥ x  ⇔  (x − wmin) ≥ 5% of x


def peak_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Demand-peak detection per user series: a peak is a STRICT local
    maximum over ±2 neighbors whose prominence over the window minimum
    clears 5% of its own level — the capacity/billing-relevant events
    (energy demand charges bill the monthly peak; ts_anomaly_* hunts
    errors, this hunts legitimate extremes). Emits per-series peak count,
    peak rate, the maximum peak level, and the mean inter-peak spacing.

    ONE per-user window sort shared by every column (bollinger's shape):
    the ±2 frame rides as a 5-element collected array, strictness is
    "exactly one element ≥ x" and prominence is pure integer-cent
    arithmetic (20·(x−min) ≥ x — no floats in the predicate); the rollup
    is map-side combined. Mean spacing = (last − first)/(n−1) on exact
    microseconds — one double division, floor-scaled."""
    ev = load_table(spark, sf_dir, "events")
    c = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    frame = w.rowsBetween(-_PEAK_HALF_WIN, _PEAK_HALF_WIN)
    d = ev.select("user_id", "ts", c.alias("x"), F.collect_list(c).over(frame).alias("arr"))
    full = F.size("arr") == (2 * _PEAK_HALF_WIN + 1)
    strict_max = F.size(F.filter("arr", lambda v: v >= F.col("x"))) == 1
    wmin = F.array_min("arr")
    prominent = (F.lit(_PEAK_PROM_PCT) * (F.col("x") - wmin)) >= F.col("x")
    d = d.withColumn("is_peak", full & strict_max & prominent & (F.col("x") > 0))
    peaks = d.filter(F.col("is_peak"))
    g = peaks.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_peaks"),
        F.max("x").alias("max_peak_c"),
        F.min(F.unix_micros("ts")).alias("first_us"),
        F.max(F.unix_micros("ts")).alias("last_us"),
    )
    totals = d.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_obs"))
    g = g.join(totals, "user_id")
    spacing = F.when(
        F.col("n_peaks") > 1,
        (F.col("last_us") - F.col("first_us")).cast("double")
        / (F.col("n_peaks") - 1).cast("double") / 60_000_000.0,
    )
    return g.select(
        "user_id",
        "n_obs",
        "n_peaks",
        (F.col("max_peak_c").cast("double") / 100.0).alias("max_peak"),
        (F.floor(F.col("n_peaks").cast("double") / F.col("n_obs").cast("double") * 1e6) / 1e6).alias("peak_rate"),
        F.when(spacing.isNotNull(), F.floor(spacing * 1e6) / 1e6).alias("mean_gap_minutes"),
    )


PEAK_DETECT_SQL = f"""
WITH base AS (
    SELECT user_id, ts,
           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
           list(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN {_PEAK_HALF_WIN} PRECEDING AND {_PEAK_HALF_WIN} FOLLOWING) AS arr
    FROM events
),
flags AS (
    SELECT user_id, ts, x,
           len(arr) = {2 * _PEAK_HALF_WIN + 1}
           AND len(list_filter(arr, v -> v >= x)) = 1
           AND {_PEAK_PROM_PCT} * (x - list_min(arr)) >= x
           AND x > 0 AS is_peak
    FROM base
),
peaks AS (
    SELECT user_id, count(*) AS n_peaks,
           CAST(max(x) AS BIGINT) AS max_peak_c,
           CAST(min(epoch_us(ts)) AS BIGINT) AS first_us,
           CAST(max(epoch_us(ts)) AS BIGINT) AS last_us
    FROM flags WHERE is_peak GROUP BY user_id
),
totals AS (SELECT user_id, count(*) AS n_obs FROM flags GROUP BY user_id)
SELECT p.user_id, t.n_obs, p.n_peaks,
       CAST(p.max_peak_c AS DOUBLE) / 100.0 AS max_peak,
       floor(CAST(p.n_peaks AS DOUBLE) / CAST(t.n_obs AS DOUBLE) * 1e6) / 1e6 AS peak_rate,
       CASE WHEN p.n_peaks > 1
            THEN floor(CAST(p.last_us - p.first_us AS DOUBLE)
                       / CAST(p.n_peaks - 1 AS DOUBLE) / 60000000.0 * 1e6) / 1e6 END AS mean_gap_minutes
FROM peaks p JOIN totals t ON t.user_id = p.user_id
"""


# ---------------------------------------------------------------------------
# missingness — feed completeness on the hourly grid
# ---------------------------------------------------------------------------

_MISS_COMPLETE = 0.99


def missingness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feed-completeness scorecard per user series on the hourly grid:
    distinct observed hours vs the hours the series' own [first, last]
    extent implies — the single number ("98.4% complete, 37 holes") that
    decides whether ts_resample_locf/ts_interpolate is safe to run, where
    ts_gap_detect lists the individual holes. One fine-keyed distinct +
    one map-side-combined rollup; all exact integers except the
    floor-scaled ratio."""
    ev = load_table(spark, sf_dir, "events")
    h = F.expr("unix_micros(ts) div 3600000000")
    hours = ev.select("user_id", h.alias("h")).distinct()
    g = hours.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_hours_observed"),
        F.min("h").alias("first_h"),
        F.max("h").alias("last_h"),
    )
    expected = (F.col("last_h") - F.col("first_h") + 1).cast("long")
    ratio = F.col("n_hours_observed").cast("double") / expected.cast("double")
    return g.select(
        "user_id",
        "n_hours_observed",
        expected.alias("n_hours_expected"),
        (expected - F.col("n_hours_observed")).cast("long").alias("n_missing"),
        (F.floor(ratio * 1e6) / 1e6).alias("completeness"),
        F.when(ratio >= _MISS_COMPLETE, F.lit("complete")).otherwise(F.lit("gappy")).alias("verdict"),
    )


MISSINGNESS_SQL = f"""
WITH hours AS (
    SELECT DISTINCT user_id, epoch_us(ts) // 3600000000 AS h FROM events
),
g AS (
    SELECT user_id, count(*) AS n_hours_observed,
           min(h) AS first_h, max(h) AS last_h
    FROM hours GROUP BY user_id
)
SELECT user_id, n_hours_observed,
       CAST(last_h - first_h + 1 AS BIGINT) AS n_hours_expected,
       CAST(last_h - first_h + 1 - n_hours_observed AS BIGINT) AS n_missing,
       floor(CAST(n_hours_observed AS DOUBLE) / CAST(last_h - first_h + 1 AS DOUBLE) * 1e6) / 1e6 AS completeness,
       CASE WHEN CAST(n_hours_observed AS DOUBLE) / CAST(last_h - first_h + 1 AS DOUBLE) >= {_MISS_COMPLETE!r}
            THEN 'complete' ELSE 'gappy' END AS verdict
FROM g
"""


# ---------------------------------------------------------------------------
# ARCH-effect test — volatility clustering on squared changes
# ---------------------------------------------------------------------------

_ARCH_CRIT = 15.08627246938899  # chi-square df=5, p=0.01
_ARCH_MIN_OBS = 31  # >= 30 squared deltas


def arch_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARCH-effect (volatility-clustering) screen per user series: the
    Ljung-Box portmanteau applied to SQUARED one-step changes — quiet and
    turbulent periods alternating (GARCH territory) autocorrelate the
    squared changes even when the changes themselves are white
    (McLeod–Li 1983). ts_ljung_box reads level structure; this reads RISK
    structure — the check that decides whether ts_bollinger's
    local-volatility envelope is needed over ts_anomaly_zscore's global
    σ. Verdict at the χ²₅, p = 0.01 critical value.

    Past its own squared-change barrier the chain is ts_ljung_box's:
    :func:`_acf` + :func:`_ljung_box_q` over exact integer-cent deltas
    squared as exact longs; only the input sequence differs. The squared
    deltas come from a row-level lag
    window COLLECTED into the per-user array — an aggregation-boundary
    column the folds read physically. Deriving c² as an array transform
    instead lets Catalyst inline the transform into the folds' element
    accesses and the md5-class O(n²) re-evaluation returns (the
    dedup_winnowing finding; measured 281 s → ljung_box band at sf0.1)."""
    ev = load_table(spark, sf_dir, "events")
    c = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    d = ev.select("user_id", "ts", "event_id", (c - F.lag(c).over(w)).alias("d"))
    d = d.filter(F.col("d").isNotNull())
    s = F.struct(F.col("ts"), F.col("event_id"), (F.col("d") * F.col("d")).alias("sq"))
    g = d.groupBy("user_id").agg(F.array_sort(F.collect_list(s)).alias("hist"))
    g = g.select("user_id", F.transform("hist", lambda r: r["sq"]).alias("c"), F.size("hist").alias("n_obs"))
    g = g.filter(F.col("n_obs") >= _ARCH_MIN_OBS - 1)
    # materialize c/n_obs at an exchange-free projection boundary: the
    # transform above is single-referenced downstream, so without the
    # barrier Catalyst would inline it into every fold element access
    g = _acf(g.localCheckpoint(eager=False), _LB_LAGS)
    q = _ljung_box_q()
    return g.select(
        "user_id",
        F.col("n_obs").cast("long").alias("n_sq_changes"),
        (F.floor(F.col("r1") * 1e6) / 1e6).alias("acf_sq_lag1"),
        (F.floor(q * 1e6) / 1e6).alias("q_stat"),
        F.when(q > _ARCH_CRIT, F.lit("arch_effect")).otherwise(F.lit("homoskedastic")).alias("verdict"),
    )


ARCH_TEST_SQL = f"""
WITH {_CENTS_HIST_SQL},
sq AS (
    SELECT user_id, len(c) - 1 AS n_obs,
           list_transform(range(2, len(c) + 1),
               i -> (c[CAST(i AS INT)] - c[CAST(i AS INT) - 1])
                  * (c[CAST(i AS INT)] - c[CAST(i AS INT) - 1])) AS c2
    FROM hist WHERE len(c) >= {_ARCH_MIN_OBS}
),
base AS (
    SELECT user_id, n_obs,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), c2), (a, x) -> a + x) AS DOUBLE)
               / CAST(n_obs AS DOUBLE) AS mu,
           c2
    FROM sq
),
dv AS (
    SELECT user_id, n_obs,
           list_transform(c2, x -> CAST(x AS DOUBLE) - mu) AS dev
    FROM base
),
{_ACF_DENOM_SQL},
{_LB_Q_SQL}
SELECT user_id, CAST(n_obs AS BIGINT) AS n_sq_changes,
       floor(r1 * 1e6) / 1e6 AS acf_sq_lag1,
       floor(q_stat * 1e6) / 1e6 AS q_stat,
       CASE WHEN q_stat > {_ARCH_CRIT!r} THEN 'arch_effect' ELSE 'homoskedastic' END AS verdict
FROM q
"""


# ---------------------------------------------------------------------------
# distribution drift — first-half vs second-half value shift per series
# ---------------------------------------------------------------------------

_DRIFT_MIN_OBS = 40
_DRIFT_CHI2_CRIT = 11.345  # chi-square df=3, p=0.01


def dist_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series value-distribution drift: split each series' history in
    half, bin BOTH halves at the FULL series' exact quartile cut points
    (order statistics — no interpolation), and χ²-test the second half's
    bin counts against the first half's shares — "did this sensor/feed
    change its operating regime", the per-series complement of
    profile_drift's corpus-level PSI (a level shift ts_cusum sees AND any
    shape change it doesn't: variance regime, bimodality, clipping).

    One sorted-collect shuffle (theta's shape); cut points are ⌈q·n⌉
    element picks of the sorted cents; bin counts are exact integer folds
    over each half (strict-inequality binning, deterministic on ties);
    the χ² is the only float, floor-scaled."""
    g = _cents_history(spark, sf_dir, _DRIFT_MIN_OBS)
    n = F.col("n_obs")
    g = g.withColumn("srt", F.array_sort("c")).withColumn("nh", F.floor(n / 2).cast("int"))

    def cut(qn: int, qd: int):
        k = F.floor((n * qn + qd - 1) / qd).cast("int")
        return F.element_at("srt", k)

    g = (
        g.withColumn("q1", cut(1, 4))
        .withColumn("q2", cut(1, 2))
        .withColumn("q3", cut(3, 4))
    )

    def bin_counts(arr):
        # 4 bins by strict thresholds: x <= q1 | <= q2 | <= q3 | rest
        def cnt(pred):
            return F.size(F.filter(arr, pred)).cast("long")

        b1 = cnt(lambda x: x <= F.col("q1"))
        b2 = cnt(lambda x: (x > F.col("q1")) & (x <= F.col("q2")))
        b3 = cnt(lambda x: (x > F.col("q2")) & (x <= F.col("q3")))
        b4 = cnt(lambda x: x > F.col("q3"))
        return b1, b2, b3, b4

    first = F.slice("c", 1, F.col("nh"))
    second = F.slice("c", F.col("nh") + 1, n - F.col("nh"))
    a1, a2, a3, a4 = bin_counts(first)
    b1, b2, b3, b4 = bin_counts(second)
    g = g.select(
        "user_id", "n_obs", "nh",
        a1.alias("a1"), a2.alias("a2"), a3.alias("a3"), a4.alias("a4"),
        b1.alias("b1"), b2.alias("b2"), b3.alias("b3"), b4.alias("b4"),
    )
    n2 = (F.col("n_obs") - F.col("nh")).cast("double")
    chi2 = F.lit(0.0)
    for ac, bc in (("a1", "b1"), ("a2", "b2"), ("a3", "b3"), ("a4", "b4")):
        exp = F.greatest(
            F.col(ac).cast("double") / F.col("nh").cast("double") * n2, F.lit(0.5)
        )
        chi2 = chi2 + (F.col(bc).cast("double") - exp) * (F.col(bc).cast("double") - exp) / exp
    verdict = F.when(chi2 > _DRIFT_CHI2_CRIT, F.lit("drifted")).otherwise(F.lit("stable"))
    return g.select(
        "user_id",
        "n_obs",
        F.col("b1").alias("h2_bin1"), F.col("b2").alias("h2_bin2"),
        F.col("b3").alias("h2_bin3"), F.col("b4").alias("h2_bin4"),
        (F.floor(chi2 * 1e6) / 1e6).alias("chi2"),
        verdict.alias("verdict"),
    )


DIST_DRIFT_SQL = f"""
WITH {_CENTS_HIST_SQL},
base AS (
    SELECT user_id, c, len(c) AS n_obs, list_sort(c) AS srt,
           CAST(len(c) // 2 AS INT) AS nh
    FROM hist WHERE len(c) >= {_DRIFT_MIN_OBS}
),
cuts AS (
    SELECT user_id, c, n_obs, nh,
           srt[CAST((n_obs * 1 + 3) // 4 AS INT)] AS q1,
           srt[CAST((n_obs * 1 + 1) // 2 AS INT)] AS q2,
           srt[CAST((n_obs * 3 + 3) // 4 AS INT)] AS q3
    FROM base
),
halves AS (
    SELECT user_id, n_obs, nh, q1, q2, q3,
           c[1:nh] AS h1, c[nh+1:CAST(n_obs AS INT)] AS h2
    FROM cuts
),
bins AS (
    SELECT user_id, n_obs, nh,
           CAST(len(list_filter(h1, x -> x <= q1)) AS BIGINT) AS a1,
           CAST(len(list_filter(h1, x -> x > q1 AND x <= q2)) AS BIGINT) AS a2,
           CAST(len(list_filter(h1, x -> x > q2 AND x <= q3)) AS BIGINT) AS a3,
           CAST(len(list_filter(h1, x -> x > q3)) AS BIGINT) AS a4,
           CAST(len(list_filter(h2, x -> x <= q1)) AS BIGINT) AS b1,
           CAST(len(list_filter(h2, x -> x > q1 AND x <= q2)) AS BIGINT) AS b2,
           CAST(len(list_filter(h2, x -> x > q2 AND x <= q3)) AS BIGINT) AS b3,
           CAST(len(list_filter(h2, x -> x > q3)) AS BIGINT) AS b4
    FROM halves
),
x AS (
    SELECT user_id, n_obs, b1, b2, b3, b4,
           (CAST(b1 AS DOUBLE) - greatest(CAST(a1 AS DOUBLE) / CAST(nh AS DOUBLE) * CAST(n_obs - nh AS DOUBLE), 0.5))
         * (CAST(b1 AS DOUBLE) - greatest(CAST(a1 AS DOUBLE) / CAST(nh AS DOUBLE) * CAST(n_obs - nh AS DOUBLE), 0.5))
         / greatest(CAST(a1 AS DOUBLE) / CAST(nh AS DOUBLE) * CAST(n_obs - nh AS DOUBLE), 0.5)
         + (CAST(b2 AS DOUBLE) - greatest(CAST(a2 AS DOUBLE) / CAST(nh AS DOUBLE) * CAST(n_obs - nh AS DOUBLE), 0.5))
         * (CAST(b2 AS DOUBLE) - greatest(CAST(a2 AS DOUBLE) / CAST(nh AS DOUBLE) * CAST(n_obs - nh AS DOUBLE), 0.5))
         / greatest(CAST(a2 AS DOUBLE) / CAST(nh AS DOUBLE) * CAST(n_obs - nh AS DOUBLE), 0.5)
         + (CAST(b3 AS DOUBLE) - greatest(CAST(a3 AS DOUBLE) / CAST(nh AS DOUBLE) * CAST(n_obs - nh AS DOUBLE), 0.5))
         * (CAST(b3 AS DOUBLE) - greatest(CAST(a3 AS DOUBLE) / CAST(nh AS DOUBLE) * CAST(n_obs - nh AS DOUBLE), 0.5))
         / greatest(CAST(a3 AS DOUBLE) / CAST(nh AS DOUBLE) * CAST(n_obs - nh AS DOUBLE), 0.5)
         + (CAST(b4 AS DOUBLE) - greatest(CAST(a4 AS DOUBLE) / CAST(nh AS DOUBLE) * CAST(n_obs - nh AS DOUBLE), 0.5))
         * (CAST(b4 AS DOUBLE) - greatest(CAST(a4 AS DOUBLE) / CAST(nh AS DOUBLE) * CAST(n_obs - nh AS DOUBLE), 0.5))
         / greatest(CAST(a4 AS DOUBLE) / CAST(nh AS DOUBLE) * CAST(n_obs - nh AS DOUBLE), 0.5) AS chi2
    FROM bins
)
SELECT user_id, CAST(n_obs AS INT) AS n_obs,
       b1 AS h2_bin1, b2 AS h2_bin2, b3 AS h2_bin3, b4 AS h2_bin4,
       floor(chi2 * 1e6) / 1e6 AS chi2,
       CASE WHEN chi2 > {_DRIFT_CHI2_CRIT!r} THEN 'drifted' ELSE 'stable' END AS verdict
FROM x
"""
