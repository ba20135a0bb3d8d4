"""Point-batch ingest: the TCP gob listener analog.

Reference write path (src/pkg/ingressclient/ingressclient.go:64-80 +
src/internal/metric-store/metric_store.go:441-508): length-prefixed gob
`Batch{[]Point}` over mutual-TLS TCP, decoded, validated, sanitized,
appended. The Spark-native transport is any Structured Streaming source
(socket, Kafka, files) carrying one JSON point per line:

    {"ts": <epoch_ms>, "name": "...", "value": <float>, "labels": {...}}

The same parse/validate/sanitize projection applies to batch DataFrames and
streams; micro-batches stand in for the 500 ms / 32 KiB client batching.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from metric_store_release_spark.datamodel import (
    sanitize_metric_name,
    truncate_label_values,
)

POINT_JSON_SCHEMA = StructType(
    [
        StructField("ts", LongType(), True),
        StructField("name", StringType(), True),
        StructField("value", DoubleType(), True),
        StructField("labels", MapType(StringType(), StringType()), True),
    ]
)


def parse_point_lines(lines: DataFrame, value_col: str = "value") -> DataFrame:
    """(value: string) JSON lines → validated samples.

    Validation mirrors the ingress listener (metric_store.go:455-469):
    NaN/Inf rejected, names sanitized, label values truncated; malformed
    JSON rows dropped.
    """
    parsed = lines.select(
        F.from_json(F.col(value_col), POINT_JSON_SCHEMA).alias("p")
    ).select("p.*")
    finite = (
        F.col("value").isNotNull()
        & ~F.isnan("value")
        & (F.col("value") != float("inf"))
        & (F.col("value") != float("-inf"))
    )
    return (
        parsed.filter(F.col("ts").isNotNull() & F.col("name").isNotNull() & finite)
        .select(
            F.col("ts"),
            sanitize_metric_name(F.col("name")).alias("name"),
            F.col("value"),
            truncate_label_values(
                F.coalesce(F.col("labels"), F.expr("map()"))
            ).alias("labels"),
        )
    )
