"""SparkSession factory with engine-appropriate defaults.

Defaults chosen for the 100 TB design target (AQE on, partition coalescing,
skew-join handling) while remaining correct on local[*] test runs. UTC session
timezone keeps PromQL date functions deterministic (the reference evaluates
date math in UTC — vendor promql/functions.go:1358-1413).

Two settings cut the fixed cost of every PromQL query; neither changes an
answer. Both were measured on a 4-core VM over the perfbench `dashboard`
workload (one 7-panel refresh through `api.query_range`/`api.query`, "now"
sliding one minute per refresh, warm session):

- `spark.sql.codegen.cache.maxEntries` = 1000 (Spark's default is 100). A
  refresh generates well over 100 classes, so the default LRU evicted each
  of them before its next use and every refresh re-ran 147-184 Janino
  compiles of a few ms each. At 1000 entries a refresh compiles 32-42
  classes, only the stages whose time literals Spark inlines into the
  generated code, and 0-4 when "now" stays fixed.
- `spark.python.sql.dataFrameDebugging.enabled` = false. With it on, every
  PySpark Column and DataFrame call also records its Python call site in
  the JVM (`getActiveSession`, `PySparkCurrentOrigin.set`/`clear`, a conf
  read), each a py4j round trip. Off, a refresh makes
  8.6-10.3 k round trips instead of 18.7-20.4 k, and its plan building
  takes 0.71-1.0 s instead of 1.05-1.16 s. What is lost is the Python
  call site in the "DataFrame context" section of Spark errors; the error
  messages themselves, which the engine matches on, are unchanged. PySpark
  reads this setting once per process, from the first active session.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "metric-store-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or int(cpus)))
        # AQE: runtime re-planning — coalesces small shuffle partitions and
        # splits skewed ones; essential at scale, harmless locally.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for the few mapInPandas paths (scrape I/O, media codecs) —
        # no Python UDFs remain in any query hot path.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # some driver testdata generations write TIMESTAMP(NANOS) parquet
        # (read as long ns); current ones are timestamp[us] NTZ — both are
        # handled by sources/events_adapter.ts_ms
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # measured reasons for both in the module docstring
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
