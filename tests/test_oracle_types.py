"""Guard against DuckDB integer type-widening in the oracle SQL.

Round-1 lesson: the driver's correctness hash is TYPE-sensitive. DuckDB
widens `sum()` over integers to HUGEINT (int128) while Spark emits bigint,
so an oracle whose output column binds as HUGEINT hash-fails even when
every value is equal (CORRECTNESS_r01: bt_interval_merge, bt_restatements,
events_attribution, events_json, graph_pagerank — all value-equal, all
hash-red). Fix pattern: `CAST(sum(...) AS BIGINT)` on every integer-sum
output column.

This test binds EVERY oracle query with `DESCRIBE` (no execution) against
the sf0.001 tables and fails if any output column is HUGEINT/UHUGEINT —
so a newly added oracle can never re-introduce the failure mode.
"""

from __future__ import annotations

import os

import duckdb
import pytest

import __spark_entry__ as entrymod
from timedb_spark.io.tables import TABLE_NAMES

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.001")

BANNED_TYPES = {"HUGEINT", "UHUGEINT", "INT128", "UINT128"}


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLE_NAMES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    return c


def test_no_hugeint_in_any_oracle(con):
    oracles = entrymod.oracle_sql()
    assert oracles, "oracle_sql() returned nothing"
    offenders: dict[str, list[tuple[str, str]]] = {}
    for name, sql in oracles.items():
        desc = con.sql(f"DESCRIBE ({sql})").fetchall()
        bad = [(col, typ) for col, typ, *_ in desc if typ.upper() in BANNED_TYPES]
        if bad:
            offenders[name] = bad
    assert not offenders, f"oracle output columns widen to int128 (will hash-fail the gate): {offenders}"


def test_every_gate_query_output_schema_is_flat(spark):
    """The driver canonicalizer sorts result cells with pandas; array/map/
    struct/binary cells raise TypeError: unhashable type even when every
    value is correct. This has cost two rounds (multimodal_decode `thumb`
    in r3, embed_quantize `codes` in r5) because tools/parity.py str()'d
    lists and so the local mimic passed. Build EVERY queries() DataFrame at
    sf0.001 and assert its schema contains only flat sortable scalars —
    a gate query that needs an array must serialize it in a _q_* wrapper
    (concat_ws / array_to_string on both sides)."""
    from tools.parity import nonflat_columns

    # Leaves whose rows reach the plan through an RDD boundary instead of a
    # data source scan. Two very different populations share this shape:
    # (a) driver-side Python objects fed to createDataFrame — the
    #     partition_stats class, where cell RENDERING is driver-controlled;
    # (b) Spark-computed rows round-tripped through localCheckpoint (lineage
    #     cuts) or a streaming memory sink — values born in Spark execution,
    #     exactly like every scan-rooted query.
    # Population (b) is exempted explicitly below; anything else whose plan
    # has ONLY RDD/local leaves must keep to driver-safe cell types.
    DRIVER_DATA_LEAVES = {"LogicalRDD", "LocalRelation", "OneRowRelation"}
    # Cell classes with exactly ONE rendering everywhere — python, JVM,
    # pyarrow, pandas, and the driver canonicalizer all agree on them.
    DRIVER_SAFE_TYPES = {"string", "tinyint", "smallint", "int", "bigint", "boolean"}
    # Queries whose only-RDD-leaf plans hold SPARK-COMPUTED rows:
    # every stream_* drain (micro-batch results round-tripped through the
    # memory sink) plus the localCheckpoint lineage cuts (the checkpointed
    # RDD is a materialized Spark plan, not driver Python). A NEW gate query
    # built from driver-side Python is NOT in this set and gets flagged.
    SPARK_ORIGIN_RDD = {
        "graph_link_predict",    # analytics.py edges localCheckpoint
        "graph_modularity",
        "graph_clustering",
        "graph_assortativity",
        "events_dau",
        "dedup_semantic",        # dedup_minhash pairs localCheckpoint
        "dedup_lsh_tuning",
        "dedup_winnowing",       # r13: selected-fingerprint localCheckpoint
        "dedup_report",          # r14: per-leg pair-frame localCheckpoints
        "dedup_editdist",        # r14: scored-pairs localCheckpoint (1 DP eval)
        "sample_kcenter",        # per-round chosen-set localCheckpoint
        "embed_knn_graph",
        "ts_granger",
        "ts_arch_test",
        # r14 §9: per-user/per-series frame localCheckpoint pins so each
        # O(n)/O(n²) HOF fold evaluates once — the checkpointed RDD is a
        # materialized Spark plan (population b), not driver Python
        "ts_runs_test",
        "ts_ljung_box",
        "ts_pacf",               # shares ts_ljung_box's pinned _acf chain
        "ts_spectral_entropy",
        "ts_mk_trend",
        "ts_periodogram",
        "ts_seasonal_strength",
        # r14: _lp_run's pinned labels (same population-(b) lineage cut;
        # graph_modularity is already listed above)
        "graph_label_prop",
    }

    offenders = {}
    plan_offenders = {}
    local_offenders = {}
    for name, fn in entrymod.queries().items():
        df = fn(spark, SF_DIR)
        bad = nonflat_columns(df.schema)
        if bad:
            offenders[name] = bad
        # fleet-wide plan hygiene on the same build: no cartesian product
        # anywhere, and no row-at-a-time Python UDF (BatchEvalPython) —
        # Arrow-batched pandas exec nodes (ArrowEvalPython / mapInPandas /
        # FlatMapGroupsInPandas) are the sanctioned Python path.
        qe = df._jdf.queryExecution()
        phys = qe.executedPlan().toString()
        hazards = [h for h in ("CartesianProduct", "BatchEvalPython") if h in phys]
        if hazards:
            plan_offenders[name] = hazards
        # createDataFrame-canonicalization class (VERDICT r7 task #2):
        # partition_stats hash-redded TWO rounds while value-identical to
        # its oracle — the one distinguishing property being that its gate
        # values are driver-side Python, not a Spark SQL plan output. Close
        # the CLASS: any query whose analyzed plan reads ONLY driver-data
        # leaves (no file/source scan anywhere) must restrict its output
        # schema to {str, int} cells, which have a single canonical
        # rendering on every engine. Queries with at least one real source
        # scan derive their values from Spark SQL and are exempt.
        leaves = qe.analyzed().collectLeaves()
        leaf_names = {leaves.apply(i).nodeName() for i in range(leaves.size())}
        if (
            leaf_names
            and leaf_names <= DRIVER_DATA_LEAVES
            and name not in SPARK_ORIGIN_RDD
            and not name.startswith("stream_")
        ):
            risky = [
                (f.name, f.dataType.simpleString())
                for f in df.schema.fields
                if f.dataType.simpleString() not in DRIVER_SAFE_TYPES
            ]
            if risky:
                local_offenders[name] = risky
    assert not offenders, (
        f"gate queries with driver-unsortable output columns: {offenders}"
    )
    assert not plan_offenders, (
        f"gate queries with plan hazards (cartesian / row-at-a-time UDF): {plan_offenders}"
    )
    assert not local_offenders, (
        "gate queries built from driver-side Python whose cells are not "
        f"{{str,int}} (the partition_stats r6/r7 hash-red class): {local_offenders}"
    )


def test_driver_side_gate_values_collect_naive(spark):
    """The tz sibling of the flat-schema assert (VERDICT r6 task #2).

    Gate values normally originate in Spark SQL and collect as naive UTC;
    the one exception class is driver-side Python fed to createDataFrame.
    partition_stats (pyarrow footer statistics → tz-aware datetimes) is the
    instance that shipped hash-red in r6; fast_count shares the same store
    materialization. Collect both and assert no aware datetime survives —
    tools/parity.py now applies the same check fleet-wide at sf0.01."""
    from tools.parity import aware_datetime_columns

    qs = entrymod.queries()
    for name in ("partition_stats", "fast_count"):
        df = qs[name](spark, SF_DIR)
        rows = df.collect()
        assert rows, f"{name} returned no rows"
        bad = aware_datetime_columns(df.columns, rows)
        assert not bad, f"{name} collected tz-aware datetimes in {bad}"


def test_every_query_has_oracle_or_documented_exemption(con):
    """Every queries() entry either has an oracle or is in the single
    authoritative ROWS_ONLY registry exported by __spark_entry__ (non-SQL-
    expressible by design, judge sees the weaker check). Deriving the
    exemption from the registry — not a copy here — means a stale entry
    can't silently mask a removed oracle (VERDICT r4 task #2)."""
    rows_only = entrymod.ROWS_ONLY
    qs = set(entrymod.queries())
    oracles = set(entrymod.oracle_sql())
    missing = qs - oracles - rows_only
    assert not missing, f"queries without oracle_sql and not documented rows-only: {sorted(missing)}"
    assert not (oracles - qs), f"orphan oracles: {sorted(oracles - qs)}"
    stale = rows_only & oracles
    assert not stale, f"ROWS_ONLY entries that HAVE an oracle (stale exemption): {sorted(stale)}"
    assert rows_only <= qs, f"ROWS_ONLY entries not registered in queries(): {sorted(rows_only - qs)}"
