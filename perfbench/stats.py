"""Summary statistics, metric records and answer digests."""

from __future__ import annotations

import hashlib
import json
import math
import re
import statistics

#: a metric name starts with a letter or digit: letters, digits, `_`, `.`, `-`
NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")
#: a tail percentile is reported only with this many samples beyond it
MIN_BEYOND = 10


def median(values) -> float:
    values = list(values)
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def percentile(values, q: float) -> float:
    """Nearest-rank percentile, refused unless at least MIN_BEYOND samples
    lie beyond it (so p90 needs 100 samples)."""
    if not 0.5 <= q < 1:
        raise ValueError(f"tail percentile must lie in [0.5, 1), got {q}")
    ordered = sorted(values)
    rank = math.ceil(q * len(ordered))
    beyond = len(ordered) - rank
    if rank < 1 or beyond < MIN_BEYOND:
        raise ValueError(
            f"p{q * 100:g} of {len(ordered)} samples has {max(beyond, 0)} "
            f"beyond it; {MIN_BEYOND} are needed"
        )
    return ordered[rank - 1]


class Metrics:
    """Named values with units, checked against the metric-name and unit
    patterns, each with the sample count it summarizes."""

    def __init__(self) -> None:
        self.values: dict[str, tuple[float, str, int]] = {}

    def put(self, name: str, value: float, unit: str, samples: int = 1) -> None:
        if not NAME_RE.fullmatch(name):
            raise ValueError(f"bad metric name {name!r}")
        if not UNIT_RE.fullmatch(unit):
            raise ValueError(f"bad unit {unit!r} for {name}")
        if name in self.values:
            raise ValueError(f"metric {name} reported twice")
        if not math.isfinite(value):
            raise ValueError(f"metric {name} is {value}")
        self.values[name] = (float(value), unit, samples)

    def as_json(self, names) -> dict:
        return {
            n: {"value": self.values[n][0], "unit": self.values[n][1]}
            for n in names
        }

    def report(self, names) -> list[str]:
        return [
            f"{n:<36} {self.values[n][0]:>16.6g} {self.values[n][1]:<10} "
            f"n={self.values[n][2]}"
            for n in names
        ]


def _round_sig(v: float, digits: int = 10) -> str:
    return f"{v:.{digits}g}"


def digest(response: dict) -> str:
    """Order-free digest of a Prometheus API response. Values are rounded
    to 10 significant digits, so float sums merged in another order hash
    alike."""
    data = response["data"]
    rows = []
    for series in data["result"]:
        points = series.get("values") or [series["value"]]
        rows.append([
            sorted(series["metric"].items()),
            [[t, _round_sig(float(v))] for t, v in points],
        ])
    rows.sort(key=lambda r: json.dumps(r[0]))
    blob = json.dumps([data["resultType"], rows], separators=(",", ":"))
    return hashlib.sha256(blob.encode()).hexdigest()[:16]
