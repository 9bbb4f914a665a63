"""Summary statistics and the result line.

- ``tail``: the highest percentile that still has at least
  ``TAIL_BEYOND`` samples beyond it, reported with its percentile and
  sample count (None when there are too few samples for any tail).
- ``Tally``: operations attempted vs failed, where a wrong answer
  counts as a failure of the operation that produced it.
- ``metric`` / ``result_line``: unit-tagged output for every named
  metric, checked against the metric names the caller declares.
"""

from __future__ import annotations

import json
import math
import statistics
from dataclasses import dataclass, field
from typing import Optional

TAIL_BEYOND = 10


def p50(samples: list[float]) -> Optional[float]:
    return statistics.median(samples) if samples else None


def tail(samples: list[float]) -> Optional[dict]:
    """Highest order statistic with at least TAIL_BEYOND samples above
    it: with n sorted samples that is index n-1-TAIL_BEYOND, i.e. the
    (n-1-TAIL_BEYOND)/(n-1) quantile. None when n <= TAIL_BEYOND."""
    n = len(samples)
    if n <= TAIL_BEYOND:
        return None
    idx = n - 1 - TAIL_BEYOND
    return {"value": sorted(samples)[idx],
            "percentile": round(100.0 * idx / (n - 1), 2), "n": n}


@dataclass
class Tally:
    """Failure counting: an operation is attempted once and fails at
    most once, whether it raised or returned a wrong answer."""
    attempted: int = 0
    failed_ops: set = field(default_factory=set)
    reasons: list = field(default_factory=list)

    def attempt(self) -> int:
        self.attempted += 1
        return self.attempted - 1

    def fail(self, op_id: int, reason: str) -> None:
        if op_id not in self.failed_ops:
            self.failed_ops.add(op_id)
            self.reasons.append(f"op {op_id}: {reason}"[:300])

    @property
    def failed(self) -> int:
        return len(self.failed_ops)

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def metric(value, unit: str) -> dict:
    return {"value": value, "unit": unit}


def result_line(tally: Tally, metrics: dict, declared: list[dict]) -> str:
    """The final stdout line. Every declared metric must be present
    with its declared unit and a finite value."""
    out = {}
    for d in declared:
        m = metrics.get(d["name"])
        if m is None:
            raise KeyError(f"metric {d['name']!r} was not measured")
        if m["unit"] != d["unit"]:
            raise ValueError(f"metric {d['name']!r} has unit {m['unit']!r}, "
                             f"declared {d['unit']!r}")
        if not isinstance(m["value"], (int, float)) or not math.isfinite(m["value"]):
            raise ValueError(f"metric {d['name']!r} is not a finite number: "
                             f"{m['value']!r}")
        out[d["name"]] = m
    return json.dumps({"correct": tally.failed == 0 and tally.attempted > 0,
                       "attempted": tally.attempted, "failed": tally.failed,
                       "metrics": out})
