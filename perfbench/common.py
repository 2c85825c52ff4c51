"""Shared pieces of the benchmark: run context, pass results, percentiles."""

from __future__ import annotations

import dataclasses
import math

# set-ups per run, the first cold and the second warm; setup_s takes their
# median (with two, their mean). More would not fit the time all runs of a
# full measurement may take.
SETUP_REPS = 2


@dataclasses.dataclass
class Ctx:
    spark: object
    tracer: object
    seed: int
    seconds: float
    work_dir: str
    data_dir: str
    cfg: dict  # this workload's section of config.json


@dataclasses.dataclass
class Pass:
    """One measured pass of a workload."""

    throughput_per_s: float
    latency_p50_s: float
    latency_tail_s: float
    attempted: int
    failed: int
    spark_ops: int  # operations the Spark per-op figures divide by
    named: dict  # the workload's own metric names -> (value, unit)


def percentile(values: list[float], q: float, failed: int = 0) -> float:
    """Percentile by linear interpolation between the two nearest ranks
    (the median of two values is their mean); ``failed`` operations count
    as slower than every measured one (they missed any latency limit), so
    a percentile that reaches them is infinite."""
    ranked = sorted(values) + [math.inf] * failed
    if not ranked:
        return math.inf
    pos = q / 100.0 * (len(ranked) - 1)
    lo, hi = ranked[math.floor(pos)], ranked[math.ceil(pos)]
    if hi == math.inf:
        return math.inf
    return lo + (hi - lo) * (pos - math.floor(pos))
