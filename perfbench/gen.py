"""Seeded generator of Loggregator-shaped envelopes.

A fleet of S sources x I instances emits, every 10 s tick:

- one gauge envelope carrying `cpu` (unit `percentage`) and `memory`
  (unit `bytes`), tagged `instance_id`;
- one counter envelope `ingress` with a running total;
- one to three HTTP timer envelopes, tagged `instance_id`, `status_code`
  (`200` or `500`) and `peer_type=server`, stamped just before the tick so
  the 10 s rollup windows close exactly on tick boundaries.

Everything is drawn from one `random.Random(seed)` in a fixed order, so a
seed fixes every envelope. Only the envelopes reach the program under test;
the bookkeeping kept here (gauge values and stored points per tick) exists
to check answers.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

TICK_MS = 10_000
#: 2026-03-02T00:00:00Z; all generated ticks stay inside that UTC day
T0_MS = 1_772_409_600_000
NS_PER_MS = 1_000_000
MEMORY_UNIT = 16_384
#: per instance and tick: cpu + memory + ingress, and the rollup histogram's
#: 12 `_bucket` series (11 default bounds and +Inf) + `_count` + `_sum`;
#: `http_total` adds one series per status code seen in the tick
POINTS_PER_INSTANCE_TICK = 3 + 14


@dataclass(frozen=True)
class Fleet:
    sources: int
    instances: int

    @property
    def size(self) -> int:
        return self.sources * self.instances

    def members(self):
        for s in range(self.sources):
            for i in range(self.instances):
                yield f"app-{s}", str(i), s * self.instances + i


@dataclass
class Timeline:
    """Columnar envelopes plus the gauge values used by answer checks."""

    fleet: Fleet
    n_ticks: int
    columns: dict[str, list] = field(default_factory=dict)
    #: tick index → {(source_id, instance_id): (cpu, memory)}
    gauges: list[dict[tuple[str, str], tuple[float, float]]] = field(
        default_factory=list
    )
    #: tick index → samples the nozzle and rollups must store for it
    points: list[int] = field(default_factory=list)

    def tick_ms(self, k: int) -> int:
        return T0_MS + k * TICK_MS


def generate(seed: int, fleet: Fleet, n_ticks: int) -> Timeline:
    """Envelopes for ticks 0..n_ticks-1 (tick k at T0_MS + k*10 s). The
    `tick` column carries each envelope's tick index so callers can split
    the timeline into a history and later ingest cycles."""
    rng = random.Random(seed)
    cols: dict[str, list] = {
        k: []
        for k in (
            "tick", "ts", "source_id", "type", "name", "total",
            "gauges", "start", "stop", "tags",
        )
    }
    tl = Timeline(fleet, n_ticks, cols)
    totals = {idx: 0.0 for _, _, idx in fleet.members()}

    def emit(tick, ts_ns, source_id, typ, name=None, total=None, gauges=None,
             start=None, stop=None, tags=None):
        cols["tick"].append(tick)
        cols["ts"].append(ts_ns)
        cols["source_id"].append(source_id)
        cols["type"].append(typ)
        cols["name"].append(name)
        cols["total"].append(total)
        cols["gauges"].append(gauges)
        cols["start"].append(start)
        cols["stop"].append(stop)
        cols["tags"].append(tags)

    for k in range(n_ticks):
        t_ns = tl.tick_ms(k) * NS_PER_MS
        values: dict[tuple[str, str], tuple[float, float]] = {}
        points = 0
        for source_id, inst, idx in fleet.members():
            cpu = rng.randint(1, 9999) / 100.0
            # the instance index in the low bits keeps memory values
            # distinct within a tick, so topk has exactly one answer
            mem = float((rng.randint(64, 4096) * fleet.size + idx) * MEMORY_UNIT)
            values[(source_id, inst)] = (cpu, mem)
            emit(k, t_ns, source_id, "gauge",
                 gauges=[("cpu", {"unit": "percentage", "value": cpu}),
                         ("memory", {"unit": "bytes", "value": mem})],
                 tags=[("instance_id", inst)])
            totals[idx] += rng.randint(0, 50)
            emit(k, t_ns, source_id, "counter", name="ingress",
                 total=totals[idx], tags=[("instance_id", inst)])
            codes = set()
            for j in range(rng.randint(1, 3)):
                code = "500" if rng.random() < 0.1 else "200"
                codes.add(code)
                dur_ns = int(rng.lognormvariate(-3.5, 1.2) * 1e9) + 1
                stop = t_ns - (j + 1) * NS_PER_MS
                emit(k, stop, source_id, "timer", name="http",
                     start=stop - dur_ns, stop=stop,
                     tags=[("instance_id", inst), ("status_code", code),
                           ("peer_type", "server")])
            points += POINTS_PER_INSTANCE_TICK + len(codes)
        tl.gauges.append(values)
        tl.points.append(points)
    return tl


def write_parquet(tl: Timeline, path: str) -> None:
    """Write the timeline as one parquet file in the nozzle's envelope
    layout plus the `tick` column."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    gauge_t = pa.map_(
        pa.string(),
        pa.struct([("unit", pa.string()), ("value", pa.float64())]),
    )
    schema = pa.schema([
        ("tick", pa.int64()),
        ("ts", pa.int64()),
        ("source_id", pa.string()),
        ("type", pa.string()),
        ("name", pa.string()),
        ("total", pa.float64()),
        ("gauges", gauge_t),
        ("start", pa.int64()),
        ("stop", pa.int64()),
        ("tags", pa.map_(pa.string(), pa.string())),
    ])
    table = pa.table({f.name: tl.columns[f.name] for f in schema}, schema=schema)
    pq.write_table(table, path)
