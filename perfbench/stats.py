"""Pure statistics of the benchmark: percentiles with a sample-count
rule, run-to-run spread, and failure counting. No Spark here, so the
rules are testable on their own."""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass, field

# a reported percentile needs this many samples strictly above it
MIN_BEYOND = 10


class TooFewSamples(ValueError):
    """The percentile asked for is not supported by the sample count."""


def min_samples(q: float) -> int:
    """Smallest sample count whose ``q``-quantile has MIN_BEYOND samples
    above it: n * (1 - q) >= MIN_BEYOND."""
    return math.ceil(MIN_BEYOND / (1.0 - q) - 1e-9)


def percentile(values: list[float], q: float) -> float:
    """The ``q``-quantile (nearest rank) of ``values``. Raises
    TooFewSamples unless at least MIN_BEYOND samples lie beyond it, so a
    tail figure is never read off a handful of samples."""
    if not 0.0 < q < 1.0:
        raise ValueError(f"quantile {q} outside (0, 1)")
    n = len(values)
    if n < min_samples(q):
        raise TooFewSamples(
            f"p{q * 100:g} needs >= {min_samples(q)} samples, have {n}")
    rank = math.ceil(q * n)  # 1-based nearest rank
    return sorted(values)[rank - 1]


def median(values: list[float]) -> float:
    if not values:
        raise TooFewSamples("median of no samples")
    return statistics.median(values)


def mix_median(samples: dict[str, list[float]]) -> float:
    """Mean over all samples once each is replaced by the median of its
    kind: a per-operation figure that keeps the mix of kinds, while one
    slow sample of a kind (a garbage collection, a compiler burst) does
    not move it."""
    n = sum(len(v) for v in samples.values())
    return sum(len(v) * statistics.median(v) for v in samples.values()) / n


def spread(values: list[float]) -> float:
    """Interquartile distance as a share of the median, the run-to-run
    steadiness measure (statistics.quantiles, n=4)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else math.inf


@dataclass
class OpLog:
    """Per-kind latencies plus attempted / failed counts. An operation
    that raised or returned a wrong result counts as failed and adds no
    latency sample."""

    latencies: dict[str, list[float]] = field(default_factory=dict)
    cpu: dict[str, list[float]] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def ok(self, kind: str, seconds: float, cpu_s: float | None = None) -> None:
        self.attempted += 1
        self.latencies.setdefault(kind, []).append(seconds)
        if cpu_s is not None:
            self.cpu.setdefault(kind, []).append(cpu_s)

    def fail(self, kind: str, why: str) -> None:
        self.attempted += 1
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(f"{kind}: {why}")

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0
