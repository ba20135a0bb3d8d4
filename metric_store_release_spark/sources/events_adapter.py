"""Adapters: driver testdata parquet → canonical samples DataFrame.

The `events` table (event_id, ts timestamp, user_id, event_type, value,
props) is the metric-shaped driver fixture (FIXTURES.md §F7). Two series
granularities:

  by_type:        one series per event_type            (5 series, dense)
  by_type_user:   one series per (event_type, user bucket)  (50 series)

Equality on `name` (= event_type) pushes down to the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def ts_ms(df: DataFrame, col: str = "ts") -> F.Column:
    """Timestamp column → epoch ms. The driver testdata is TIMESTAMP(NANOS)
    parquet, which Spark reads as long nanoseconds under
    spark.sql.legacy.parquet.nanosAsLong; handle both representations."""
    from pyspark.sql.types import LongType

    field = df.schema[col]
    if isinstance(field.dataType, LongType):
        return F.floor(F.col(col) / F.lit(1_000_000)).cast("long")
    # TIMESTAMP_NTZ (timestamp[us] with isAdjustedToUTC=false) needs a cast to
    # session-local TIMESTAMP before unix_millis; the session runs UTC, so the
    # naive wall-clock maps 1:1 to epoch — same as DuckDB's epoch_ms(ts).
    return F.unix_millis(F.col(col).cast("timestamp"))


def samples_from_events(
    spark: SparkSession, sf_dir: str, granularity: str = "by_type_user"
) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    base = ev.select(
        ts_ms(ev).alias("ts"),
        F.col("event_type").alias("name"),
        F.col("value").cast("double").alias("value"),
        F.col("user_id"),
    )
    if granularity == "by_type":
        labels = F.expr("map('kind', 'event')")
        return base.select("ts", "name", "value", labels.alias("labels"))
    if granularity == "by_type_user":
        user = (F.col("user_id") % 10).cast("string")
        labels = F.create_map(F.lit("user"), user)
        # `user` is also PROMOTED to a top-level column so equality matchers
        # evaluate on the column (and push down when physically stored) —
        # the analog of the reference's indexed tags
        return base.select(
            "ts", "name", "value", labels.alias("labels"), user.alias("user")
        )
    raise ValueError(granularity)

