"""Prometheus HTTP API v1 surface (reference: vendored web/api/v1).

The reference mounts Prometheus's own v1 router over the engine
(src/internal/api/prom_api.go:74-108). Here the same response shapes are
produced from DataFrames — `query`, `query_range`, `labels`,
`label/<name>/values`, `series` — as plain dicts ready for JSON encoding
(api.go:425-582 result envelopes). Values are stringified like Prometheus
(Go strconv 'g' formatting approximated by repr-style minimal floats).
"""

from __future__ import annotations

import math
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from metric_store_release_spark.datamodel import NAME_LABEL, sig
from metric_store_release_spark.engine.engine import PromQLEngine
from metric_store_release_spark.engine.selectors import matcher_condition
from metric_store_release_spark.promql.parser import parse
from metric_store_release_spark.promql.ast import VectorSelector


def _fmt(v: float) -> str:
    if math.isnan(v):
        return "NaN"
    if v == math.inf:
        return "+Inf"
    if v == -math.inf:
        return "-Inf"
    if v == int(v) and abs(v) < 1e15:
        return str(int(v))
    return repr(v)


def _metric(labels: dict | None) -> dict:
    return dict(sorted((labels or {}).items()))


def query(
    engine: PromQLEngine, samples: DataFrame, promql: str, time_ms: int
) -> dict[str, Any]:
    """GET /api/v1/query → vector envelope (api.go:425-503)."""
    df = engine.query_instant(samples, promql, time_ms)
    result = [
        {
            "metric": _metric(r["labels"]),
            "value": [r["t"] / 1000.0, _fmt(r["value"])],
        }
        for r in df.collect()
    ]
    return {
        "status": "success",
        "data": {"resultType": "vector", "result": result},
    }


def query_range(
    engine: PromQLEngine,
    samples: DataFrame,
    promql: str,
    start_ms: int,
    end_ms: int,
    step_ms: int,
) -> dict[str, Any]:
    """GET /api/v1/query_range → matrix envelope, series sorted by labels
    (engine.go:778-780)."""
    df = engine.query_range(samples, promql, start_ms, end_ms, step_ms)
    series: dict[tuple, dict] = {}
    for r in df.collect():
        key = tuple(sorted((r["labels"] or {}).items()))
        entry = series.setdefault(key, {"metric": _metric(r["labels"]), "values": []})
        entry["values"].append((r["t"], _fmt(r["value"])))
    result = []
    for key in sorted(series):
        entry = series[key]
        entry["values"] = [
            [t / 1000.0, v] for t, v in sorted(entry["values"])
        ]
        result.append(entry)
    return {
        "status": "success",
        "data": {"resultType": "matrix", "result": result},
    }


def _bounded(samples: DataFrame, start_ms: int | None, end_ms: int | None) -> DataFrame:
    if start_ms is not None:
        samples = samples.filter(F.col("ts") >= start_ms)
    if end_ms is not None:
        samples = samples.filter(F.col("ts") <= end_ms)
    return samples


def labels(
    samples: DataFrame, start_ms: int | None = None, end_ms: int | None = None
) -> dict[str, Any]:
    """GET /api/v1/labels — all label names incl. __name__ (api.go:609+)."""
    df = _bounded(samples, start_ms, end_ms)
    names = (
        df.select(F.explode(F.map_keys("labels")).alias("k")).distinct().collect()
    )
    out = sorted({r["k"] for r in names} | {NAME_LABEL})
    return {"status": "success", "data": out}


def label_values(
    samples: DataFrame,
    label: str,
    start_ms: int | None = None,
    end_ms: int | None = None,
) -> dict[str, Any]:
    """GET /api/v1/label/<name>/values (api.go:650+)."""
    df = _bounded(samples, start_ms, end_ms)
    col = F.col("name") if label == NAME_LABEL else F.col("labels").getItem(label)
    vals = df.select(col.alias("v")).filter(F.col("v").isNotNull()).distinct().collect()
    return {"status": "success", "data": sorted(r["v"] for r in vals)}


def series(
    samples: DataFrame,
    matches: list[str],
    start_ms: int | None = None,
    end_ms: int | None = None,
) -> dict[str, Any]:
    """GET /api/v1/series — distinct label sets matching any selector
    (api.go:694+)."""
    df = _bounded(samples, start_ms, end_ms)
    out: set[tuple] = set()
    for m in matches:
        node = parse(m)
        if not isinstance(node, VectorSelector):
            raise ValueError(f"series match must be a selector: {m!r}")
        cond = F.lit(True)
        if node.name is not None:
            cond = cond & (F.col("name") == node.name)
        for matcher in node.matchers:
            cond = cond & matcher_condition(matcher)
        rows = (
            df.filter(cond)
            .select("name", sig(F.col("labels")).alias("sig"))
            .distinct()
            .collect()
        )
        for r in rows:
            entries = {e["key"]: e["value"] for e in (r["sig"] or [])}
            out.add(tuple(sorted({**entries, NAME_LABEL: r["name"]}.items())))
    return {"status": "success", "data": [dict(t) for t in sorted(out)]}
