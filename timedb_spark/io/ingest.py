"""CSV / JSON landing-zone ingestion into the bitemporal store.

The reference's write path takes in-process DataFrames
(ref ``timedb/write.py:236-368``); a Spark deployment additionally ingests
files that land in object storage. These readers give that path the same
safety properties the reference enforces at write():

* **explicit schema, never inference** — schema inference is an extra full
  pass over the data (fatal at 100 TB) and non-deterministic under dirty
  input; the landing schema is declared once.
* **PERMISSIVE + corrupt-record capture** — a malformed line must neither
  kill the job (FAILFAST at TB scale = one bad row wastes hours) nor
  silently vanish (DROPMALFORMED): bad rows land in a quarantine frame
  with their raw text for replay, good rows flow on. Mirrors the
  reference's validate-then-raise contract, adapted to bulk ingestion
  where raising is not an option.
* **tz discipline** — ``valid_time`` strings must carry an explicit UTC
  offset; offset-less rows are quarantined, matching the reference's
  tz-aware-or-raise validation (``write.py``).

Scale notes: one scan, no shuffle (quarantine split is two filters over the
same cached scan); CSV/JSON scans parallelize per file-split like any
other source. Timestamps parse with ``to_timestamp`` + format, JVM-side.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Landing schema for series-values batches (all strings except value —
#: quarantine decisions happen *after* the scan, on typed parse results).
LANDING_FIELDS = [
    ("series_id", T.StringType()),
    ("valid_time", T.StringType()),
    ("value", T.StringType()),
    ("retention", T.StringType()),
]

_CORRUPT = "_corrupt_record"


def _landing_schema() -> T.StructType:
    return T.StructType(
        [T.StructField(n, t) for n, t in LANDING_FIELDS] + [T.StructField(_CORRUPT, T.StringType())]
    )


class LandingBatch(NamedTuple):
    good: DataFrame  # typed series_values rows, ready for TimeDB.write
    bad: DataFrame  # quarantined raw rows + reject reason


#: ISO-8601 with mandatory offset: 2024-01-02T03:04:05(.ffffff)?+00:00
_TS_FMT = "yyyy-MM-dd'T'HH:mm:ss[.SSSSSS]XXX"


def _split_landing(raw: DataFrame) -> LandingBatch:
    """Type the raw string columns; quarantine rows that fail any parse."""
    parsed = raw.select(
        F.col(_CORRUPT),
        F.col("series_id").alias("_sid_raw"),
        F.col("valid_time").alias("_vt_raw"),
        F.col("value").alias("_val_raw"),
        F.col("retention"),
        F.col("series_id").try_cast("long").alias("series_id"),
        F.try_to_timestamp(F.col("valid_time"), F.lit(_TS_FMT)).alias("valid_time"),
        F.col("value").try_cast("double").alias("value"),
    )
    reason = (
        F.when(F.col(_CORRUPT).isNotNull(), "malformed_record")
        .when(F.col("_sid_raw").isNull() | F.col("series_id").isNull(), "bad_series_id")
        .when(F.col("_vt_raw").isNull() | F.col("valid_time").isNull(), "bad_valid_time_or_no_offset")
        .when(F.col("_val_raw").isNotNull() & F.col("value").isNull(), "bad_value")
        .when(
            F.col("retention").isNotNull()
            & ~F.col("retention").isin("short", "medium", "long", "forever"),
            "bad_retention",
        )
    )
    tagged = parsed.withColumn("_reject", reason)
    good = tagged.filter(F.col("_reject").isNull()).select(
        "series_id", "valid_time", "value", "retention"
    )
    bad = tagged.filter(F.col("_reject").isNotNull()).select(
        F.col("_reject").alias("reject_reason"),
        F.coalesce(
            F.col(_CORRUPT),
            F.concat_ws("|", "_sid_raw", "_vt_raw", "_val_raw", "retention"),
        ).alias("raw"),
    )
    return LandingBatch(good=good, bad=bad)


def read_csv_landing(spark: SparkSession, path: str, *, header: bool = True) -> LandingBatch:
    """CSV landing files → (good, quarantine). Explicit schema, PERMISSIVE
    parse, corrupt lines captured verbatim."""
    raw = (
        spark.read.schema(_landing_schema())
        .option("header", header)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", _CORRUPT)
        .csv(path)
    )
    return _split_landing(raw)


def read_json_landing(spark: SparkSession, path: str) -> LandingBatch:
    """JSON-lines landing files → (good, quarantine). Same contract as CSV."""
    raw = (
        spark.read.schema(_landing_schema())
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", _CORRUPT)
        .json(path)
    )
    return _split_landing(raw)


class IngestResult(NamedTuple):
    written: int
    quarantined: int


def _default_retention(good: DataFrame) -> DataFrame:
    """Retention precedence for landing rows: per-row column when any row
    sets it (unset rows take the default), else the column is dropped so
    the write's own retention applies."""
    from timedb_spark.schema import DEFAULT_RETENTION

    if good.where(F.col("retention").isNotNull()).isEmpty():
        return good.drop("retention")
    return good.withColumn("retention", F.coalesce("retention", F.lit(DEFAULT_RETENTION)))


def ingest_landing(db, batch: LandingBatch, **write_kwargs) -> IngestResult:
    """Write a landing batch's good rows through the client write path
    (defaults stamping, run_id, skip_unchanged all apply); count the
    quarantine. Retention precedence: :func:`_default_retention`."""
    # valid_time parsed with offset → session-tz instant; store is UTC.
    res = db.write(_default_retention(batch.good), **write_kwargs)
    return IngestResult(written=res.written, quarantined=batch.bad.count())


# ---------------------------------------------------------------------------
# streaming landing ingestion (exactly-once, quarantine-preserving)
# ---------------------------------------------------------------------------


def stream_csv_landing(
    spark: SparkSession, path: str, *, header: bool = True, max_files_per_trigger: int | None = None
) -> DataFrame:
    """The :func:`read_csv_landing` scan as a STREAM (same explicit schema,
    PERMISSIVE + corrupt capture) — new landing files become micro-batches."""
    reader = (
        spark.readStream.schema(_landing_schema())
        .option("header", header)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", _CORRUPT)
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.csv(path)


def stream_landing_to_store(
    raw_stream: DataFrame,
    db,
    *,
    checkpoint_dir: str,
    quarantine_dir: str,
    app_id: str = "timedb-landing",
    timeout_s: int = 600,
) -> int:
    """Drain a landing stream into the snapshot store with availableNow:
    per micro-batch, good rows commit through the full client write path
    (stamping, validation, run_series) under an idempotent
    ``txn=(app_id, batch_id)``, and quarantined rows land in
    ``quarantine_dir/batch_id=N`` with ``mode("overwrite")`` — BOTH sides
    replay-safe, so a crash between sink write and checkpoint advance
    duplicates nothing and loses nothing (malformed rows keep their raw
    text for replay, matching the batch ingester's contract).

    Returns the number of foreachBatch invocations this drain executed.
    """
    n_batches = 0

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal n_batches
        n_batches += 1
        split = _split_landing(batch_df)
        good = _default_retention(split.good)
        if not good.isEmpty():
            db.write(good, txn=(app_id, int(batch_id)))
        from timedb_spark.session import micros_parquet_writes

        with micros_parquet_writes(batch_df.sparkSession):
            split.bad.write.mode("overwrite").parquet(f"{quarantine_dir}/batch_id={batch_id}")

    q = (
        raw_stream.writeStream.foreachBatch(_write)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_s)
    return n_batches
