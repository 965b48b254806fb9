"""Pure decision logic of the benchmark: percentiles, the paired rule,
the stage-reuse guard and open-loop accounting.

Nothing here imports Spark, so ``selftest.py`` exercises every rule on
hand-made inputs in well under a second.
"""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass, field

# A percentile is reported only when at least this many samples lie
# beyond it (choosing-metrics guide, section 1).
TAIL_SAMPLES = 10
# A gain needs at least this many parent/change pairs.
MIN_PAIRS = 10


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no values")
    return float(statistics.median(values))


def geomean(values: list[float]) -> float:
    """Geometric mean: each value weighs by its ratio, not its size, so a
    summary over unlike operations is not just the slowest one."""
    if not values:
        raise ValueError("geometric mean of no values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile: the smallest value with at least ``q``
    of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no values")
    if not 0.0 < q <= 1.0:
        raise ValueError(f"percentile rank must be in (0, 1], got {q}")
    s = sorted(values)
    return float(s[max(0, math.ceil(q * len(s)) - 1)])


def tail_percentile(n: int, wanted: tuple[float, ...] = (0.99, 0.95, 0.9, 0.75)) -> float | None:
    """Highest of ``wanted`` ranks that leaves ``TAIL_SAMPLES`` samples
    beyond it among ``n``; None when even the lowest does not."""
    for q in sorted(wanted, reverse=True):
        if n - math.ceil(q * n) >= TAIL_SAMPLES:
            return q
    return None


def tail(values) -> dict | None:
    """The highest percentile with ``TAIL_SAMPLES`` samples beyond it, as
    {"q", "value", "n"}; None when there are too few samples."""
    values = list(values)
    q = tail_percentile(len(values))
    return None if q is None else {"q": q, "value": percentile(values, q), "n": len(values)}


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    if len(values) < 2:
        v = float(values[0])
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return float(q1), float(q2), float(q3)


def spread(values: list[float]) -> float:
    """Interquartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / abs(q2) if q2 else math.inf


@dataclass
class PairVerdict:
    wins: int
    losses: int
    ties: int
    parent: tuple[float, float, float]
    change: tuple[float, float, float]
    gain: bool
    regression: bool
    unresolved: bool

    @property
    def label(self) -> str:
        if self.gain:
            return "gain"
        if self.regression:
            return "regression"
        if self.unresolved:
            return "unresolved"
        return "no regression"


def paired_verdict(
    pairs: list[tuple[float, float]], better: str, bound: float | None
) -> PairVerdict:
    """Judge (parent, change) readings of one metric.

    Gain: at least ``MIN_PAIRS`` pairs, the change wins at least 9/10 of
    them (ties count for neither side) and the medians are further apart
    than the parent's interquartile distance. Regression: the change's median is worse
    than the parent's by more than ``bound`` (a share of the parent's
    median). Unresolved: no regression is shown but the parent's own
    spread exceeds the bound, unless every change reading beats every
    parent reading.
    """
    if better not in ("lower", "higher"):
        raise ValueError(f"better must be 'lower' or 'higher', got {better!r}")
    if not pairs:
        raise ValueError("no pairs")
    sign = 1.0 if better == "lower" else -1.0
    wins = sum(1 for p, c in pairs if sign * (p - c) > 0)
    losses = sum(1 for p, c in pairs if sign * (c - p) > 0)
    ties = len(pairs) - wins - losses
    parent = [p for p, _ in pairs]
    change = [c for _, c in pairs]
    pq, cq = quartiles(parent), quartiles(change)
    parent_iqr = pq[2] - pq[0]
    gain = (
        len(pairs) >= MIN_PAIRS
        and wins * 10 >= 9 * len(pairs)
        and sign * (pq[1] - cq[1]) > parent_iqr
    )
    regression = False
    unresolved = False
    if bound is not None and not gain:
        worse_by = sign * (cq[1] - pq[1]) / abs(pq[1]) if pq[1] else 0.0
        regression = worse_by > bound
        all_better = all(sign * (p - c) > 0 for p in parent for c in change)
        unresolved = not regression and spread(parent) > bound and not all_better
    return PairVerdict(wins, losses, ties, pq, cq, gain, regression, unresolved)


@dataclass(frozen=True)
class StageCounts:
    """What one execution of a query ran, read after the listener bus
    drained: completed (not skipped) stages and shuffle bytes written."""

    stages: int
    shuffle_write_bytes: int


def reused_stages(reference: StageCounts, sample: StageCounts) -> int:
    """Stages a sample apparently took from an earlier execution.

    A fresh execution re-runs every stage, so it completes at least as
    many stages and writes at least as much shuffle as the query's
    ``reference`` execution. AQE runs each query stage as its own job and
    the final job skips them, so the skipped-stage count alone is no
    test; this comparison is. Each stage short counts as reused; less
    shuffle with no stage short counts as one.
    """
    missing = max(0, reference.stages - sample.stages)
    if missing == 0 and sample.shuffle_write_bytes < reference.shuffle_write_bytes:
        return 1
    return missing


def due_times(rate: float, seconds: float, start: float = 0.0) -> list[float]:
    """Evenly spaced open-loop send times for ``rate`` requests/s over
    ``seconds`` seconds, starting at ``start``."""
    if rate <= 0 or seconds <= 0:
        raise ValueError("rate and seconds must be positive")
    n = int(math.floor(rate * seconds + 1e-9))
    return [start + i / rate for i in range(n)]


@dataclass
class Outcome:
    """One open-loop request: when it was due, when it was sent and when
    its response arrived (all on one monotonic clock), and whether it
    succeeded with a correct body."""

    op: str
    due: float
    sent: float
    done: float
    ok: bool

    @property
    def latency(self) -> float:
        """Time from due to done: counts the wait a stall imposed."""
        return self.done - self.due

    @property
    def lag(self) -> float:
        """How late the generator sent the request."""
        return max(0.0, self.sent - self.due)

    @property
    def service(self) -> float:
        return self.done - self.sent


def backlog_at(outcomes: list[Outcome], t: float) -> int:
    """Requests due by ``t`` but not yet sent at ``t``: they wait for a
    connection because every one is busy."""
    return sum(1 for o in outcomes if o.due <= t < o.sent)


def backlog_grows(outcomes: list[Outcome], start: float, end: float) -> bool:
    """True when the queue at the end of a rung is longer than at its
    middle and at least two requests deep: the system fell behind and
    kept falling behind."""
    mid = start + (end - start) / 2
    late = backlog_at(outcomes, end)
    return late >= 2 and late > backlog_at(outcomes, mid)


@dataclass
class Rung:
    rate: float
    outcomes: list[Outcome] = field(default_factory=list)
    start: float = 0.0
    end: float = 0.0

    def latencies(self) -> list[float]:
        """Latency from due time; a failed request counts as infinitely
        slow so it misses any limit."""
        return [o.latency if o.ok else math.inf for o in self.outcomes]

    def meets(self, q: float, limit: float) -> bool:
        lat = self.latencies()
        if not lat:
            return False
        return percentile(lat, q) <= limit and not backlog_grows(self.outcomes, self.start, self.end)


def max_rate(rungs: list[Rung], q: float, limit: float) -> float:
    """Highest rate of a fixed ladder whose ``q`` latency meets ``limit``
    with no growing backlog, interpolated inside the first rung that
    fails so the figure moves continuously with the system's speed.

    Between the last met rung (rate r0, latency l0 <= limit) and the
    first failed one (r1, l1 > limit), the rate is interpolated where the
    latency line crosses the limit. 0.0 when the lowest rung fails.
    """
    met: Rung | None = None
    for rung in sorted(rungs, key=lambda r: r.rate):
        if rung.meets(q, limit):
            met = rung
            continue
        if met is None:
            return 0.0
        l0 = percentile(met.latencies(), q)
        l1 = percentile(rung.latencies(), q)
        if not math.isfinite(l1) or l1 <= limit:
            # failed requests or a growing queue: no crossing to find
            return met.rate
        frac = (limit - l0) / (l1 - l0)
        return met.rate + (rung.rate - met.rate) * min(1.0, max(0.0, frac))
    return met.rate if met else 0.0


def goodput(rung: Rung, limit: float) -> float:
    """Requests per second of the rung that succeeded within ``limit`` of
    their due time. Above capacity this is the rate the system sustains
    under the limit; it moves continuously with the system's speed."""
    good = sum(1 for o in rung.outcomes if o.ok and o.latency <= limit)
    return good / (rung.end - rung.start)


def drain_rate(rung: Rung) -> float:
    """Requests per second from the rung's start until its last response.
    Below capacity this is the offered rate; above it the queue only
    drains as fast as the system serves, so it is the sustained rate."""
    if not rung.outcomes:
        raise ValueError("empty rung")
    return len(rung.outcomes) / (max(o.done for o in rung.outcomes) - rung.start)
