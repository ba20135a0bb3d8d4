"""Timer rollups: 10 s tumbling pre-aggregation of HTTP timer envelopes.

Reference semantics (src/internal/nozzle/rollup/):
  counter.go:31-70   — per interval, count of timers per (source_id, tags)
                       → `http_total` counter points
  histogram.go:36-130 — same interval, durations observed into fixed
                       Prometheus buckets, grouped WITHOUT status_code →
                       `http_duration_seconds_bucket` (cumulative, le label)
                       + `_count` + `_sum` points
  nozzle.go:240-251  — only gorouter HTTP timers, client peer rows ignored
  app/nozzle.go:113-126 — interval 10 s; rollup tag allowlist

Each rollup is one plan branch over a batch DataFrame, written as SQL
text: one aggregation per (10 s window, series), one running-sum window
over a series' windows, and one projection to (ts, name, value, labels).
The histogram's projection explodes each window's 12 `_bucket` rows,
`_count` and `_sum` together, so its aggregation and window run once for
all 14. `nozzle.envelopes_to_samples` unions the rollups onto the gauge
and counter points, and `nozzle.ingest_stream` applies that to each
micro-batch. The interval, tag allowlist and buckets are constants, as in
the reference. Late envelopes land in the right window (the reference
accepts any timestamp into the right 24 h shard and has no watermark —
influx_adapter.go:63-86 — so none is imposed here either).

Open defect: the running sums cover one micro-batch, and a window whose
envelopes arrive in two micro-batches is stored once per batch, at the
same (series, ts) (see `rollup_counters`).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from metric_store_release_spark.datamodel import aggregate, sql_string

#: app/nozzle.go:115-126
ROLLUP_TAGS = (
    "status_code",
    "app_name",
    "app_id",
    "space_name",
    "space_id",
    "organization_name",
    "organization_id",
    "process_id",
    "process_instance_id",
    "process_type",
    "instance_id",
)

#: Prometheus default buckets (histogram.go uses prometheus.DefBuckets)
BUCKETS = (0.005, 0.01, 0.025, 0.05, 0.1, 0.25, 0.5, 1.0, 2.5, 5.0, 10.0)

#: `rollup_histograms`' grouping: the allowlist without status_code
HISTOGRAM_TAGS = tuple(t for t in ROLLUP_TAGS if t != "status_code")

#: app/nozzle.go:113-126
ROLLUP_INTERVAL_MS = 10_000

#: SQL text: an envelope's ts (epoch ns) as epoch ms
ENVELOPE_TS_MS = "CAST(ts / 1000000 AS BIGINT)"

#: SQL text, nozzle.go:240-251: HTTP timers, server peer only
_HTTP_SERVER_TIMERS = (
    "type = 'timer' AND name = 'http' "
    "AND coalesce(tags['peer_type'], 'server') != 'client'"
)

#: SQL text: a timer's duration in seconds
_DURATION_S = "(stop - start) / 1e9D"


def _per_window(envelopes: DataFrame, tags: tuple[str, ...], agg: str) -> DataFrame:
    """`agg` (SQL text) over the HTTP server timers of `envelopes`, per
    10 s window and series, as (ts, series, a). A window is keyed by its
    end, `ts`: the time of its points (emitted at interval close,
    nozzle.go:253-286). A series is the struct of source_id and `tags`."""
    end = f"{ENVELOPE_TS_MS} - pmod({ENVELOPE_TS_MS}, {ROLLUP_INTERVAL_MS}) + {ROLLUP_INTERVAL_MS}"
    fields = ", ".join(f"{sql_string(t)}, tags[{sql_string(t)}]" for t in tags)
    series = f"named_struct('source_id', source_id, {fields})"
    return aggregate(
        envelopes.where(_HTTP_SERVER_TIMERS),
        [F.expr(f"{end} AS ts"), F.expr(f"{series} AS series")],
        [f"{agg} AS a"],
    )


def _running_sum(col: str) -> str:
    """SQL text: the sum of `col` over a series' windows up to this one."""
    return f"sum({col}) OVER (PARTITION BY series ORDER BY ts)"


def _field_ref(name: str) -> str:
    if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
        raise ValueError(f"not a tag field name: {name!r}")
    return f"`{name}`"


def _labels(tags: tuple[str, ...], node_index: str | None) -> str:
    """SQL text: the point's label map: source_id, node_index, then every
    tag of the series that is not null."""
    base = ["'source_id', series.source_id"]
    if node_index is not None:
        base.append(f"'node_index', {sql_string(node_index)}")
    entries = ", ".join(f"{sql_string(t)}, series.{_field_ref(t)}" for t in tags)
    return (
        f"map_concat(map({', '.join(base)}), "
        f"map_filter(map({entries}), (k, v) -> v IS NOT NULL))"
    )


def rollup_counters(envelopes: DataFrame, node_index: str | None = "0") -> DataFrame:
    """`http_total` CUMULATIVE counter points, one per active window.

    counter.go:31-70: the counters map persists across intervals (only the
    active-key set resets), so each emission carries the running total — a
    true Prometheus counter, rate()-able downstream. One aggregation counts
    each window's timers; one running-sum window adds up a series' windows.

    The running sum covers the DataFrame it is given: `ingest_stream` rolls
    up each micro-batch on its own, so the sum restarts per batch — a
    counter reset, which PromQL rate()/increase() absorb by design.

    Open defect: a 10 s window whose envelopes arrive in two micro-batches
    is rolled up once per batch, so the store gets two `http_total` rows
    at one (series, window-end ts), which breaks the engine's one row per
    (series, ts). Repro: write two envelope files of timers for one series
    in window [0, 10 s), 2 envelopes then 1, and run `ingest_stream(...,
    max_files_per_trigger=1)`: `http_total` is stored at ts 10000 twice,
    values 2.0 and 1.0. Mending it needs state carried across batches.
    """
    per_window = _per_window(envelopes, ROLLUP_TAGS, "CAST(count(1) AS DOUBLE)")
    return per_window.selectExpr(
        "ts",
        "'http_total' AS name",
        f"{_running_sum('a')} AS value",
        f"{_labels(ROLLUP_TAGS, node_index)} AS labels",
    )


def rollup_histograms(envelopes: DataFrame, node_index: str | None = "0") -> DataFrame:
    """`http_duration_seconds` histogram points per window
    (histogram.go:36-130): cumulative `_bucket` series per le, plus `_count`
    and `_sum`. status_code is excluded from the grouping — HTTP status is
    not a histogram dimension (histogram.go:84-90).

    One aggregation counts each window's timers per bucket and sums their
    durations; one window computes every running sum (prometheus.Histogram
    instances persist across intervals, so emissions are cumulative over
    time as well as over le); one projection explodes the 12 `_bucket`
    rows, `_count` and `_sum` of each window. The running sums restart per
    micro-batch, and a window split across two batches is stored twice:
    see `rollup_counters`.
    """
    counts = [(f"le{i}", f"count_if({_DURATION_S} <= {b!r}D)") for i, b in enumerate(BUCKETS)]
    aggs = counts + [("n", "count(1)"), ("s", f"sum({_DURATION_S})")]
    per_window = _per_window(
        envelopes,
        HISTOGRAM_TAGS,
        f"named_struct({', '.join(f'{sql_string(c)}, CAST({a} AS DOUBLE)' for c, a in aggs)})",
    )
    running = per_window.selectExpr(
        "ts",
        f"{_labels(HISTOGRAM_TAGS, node_index)} AS base",
        *[f"{_running_sum(f'a.{c}')} AS {c}" for c, _ in aggs],
    )
    les = [(f"le{i}", str(b)) for i, b in enumerate(BUCKETS)] + [("n", "+Inf")]
    entries = [
        f"struct('http_duration_seconds_bucket' AS name, {c} AS value, "
        f"map_concat(base, map('le', '{le}')) AS labels)"
        for c, le in les
    ] + [
        "struct('http_duration_seconds_count' AS name, n AS value, base AS labels)",
        "struct('http_duration_seconds_sum' AS name, s AS value, base AS labels)",
    ]
    return running.selectExpr("ts", f"inline(array({', '.join(entries)}))")
