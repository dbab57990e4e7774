"""Pure arithmetic shared by the workloads: percentiles, the closed loop's
failure accounting, and span self times. No Spark, no I/O."""

from __future__ import annotations

import math
import statistics
import time
from collections.abc import Callable, Iterable

TAIL_MIN_BEYOND = 10


def median(values: Iterable[float]) -> float:
    return statistics.median(list(values))


def tail(values: Iterable[float], min_beyond: int = TAIL_MIN_BEYOND) -> tuple[float, float]:
    """(value, percentile) of the highest sample that still has at least
    `min_beyond` samples above it in sorted order.

    With n samples sorted ascending, the sample at 1-based rank r has
    n - r samples beyond it, so the tail is rank n - min_beyond and its
    percentile is 100 * r / n. Fewer than min_beyond + 1 samples have no
    such sample."""
    s = sorted(values)
    rank = len(s) - min_beyond
    if rank < 1:
        raise ValueError(f"{len(s)} samples: a tail needs at least {min_beyond + 1}")
    return s[rank - 1], 100.0 * rank / len(s)


class OpRecord:
    __slots__ = ("kind", "seconds", "ok", "error", "traced")

    def __init__(self, kind: str, seconds: float, ok: bool, error: str | None, traced: bool):
        self.kind = kind
        self.seconds = seconds
        self.ok = ok
        self.error = error
        self.traced = traced

    def as_dict(self) -> dict:
        return {s: getattr(self, s) for s in self.__slots__}


def run_op(
    kind: str,
    fn: Callable[[], object],
    check: Callable[[object], bool],
    traced: bool = False,
    after: Callable[[object], None] | None = None,
) -> OpRecord:
    """Time one closed-loop op: `fn` is timed; then, untimed, `after`
    reads what the op left behind (before the check can launch jobs of
    its own) and `check` judges its output. An exception anywhere and a
    wrong answer both count as a failed op; the loop goes on."""
    t0 = time.perf_counter()
    seconds = None
    try:
        out = fn()
        seconds = time.perf_counter() - t0
        if after is not None:
            after(out)
        ok = bool(check(out))
        err = None if ok else "wrong answer"
    except Exception as e:  # noqa: BLE001 - every failure is counted, not raised
        ok, err = False, f"{type(e).__name__}: {e}"[:500]
    if seconds is None:
        seconds = time.perf_counter() - t0
    return OpRecord(kind, seconds, ok, err, traced)


def error_rate(records: list[OpRecord]) -> float:
    return sum(not r.ok for r in records) / len(records)


def kind_p50_geomean(records: list[OpRecord]) -> float:
    """Geometric mean of each op kind's median latency, each kind weighted
    by its op count. Every op counts at its kind's median, so the value
    does not jump with which kind happens to land at the overall median,
    and a kind that gets 10% slower moves it by the same share whether the
    kind is cheap or costly (among kinds with as many ops)."""
    by_kind: dict[str, list[float]] = {}
    for r in records:
        by_kind.setdefault(r.kind, []).append(r.seconds)
    logs = [len(v) * math.log(median(v)) for v in by_kind.values()]
    return math.exp(sum(logs) / len(records))


def latency_summary(records: list[OpRecord]) -> dict:
    """Latency and throughput of a loop's ops. `ops_per_min` divides by
    the ops' own timed seconds, so the harness's untimed preparation and
    checks between ops never count. The tail follows the ten-beyond rule
    and carries its percentile and the sample count `n`; it is None when
    the loop has too few ops for one."""
    secs = [r.seconds for r in records]
    t, pct = tail(secs) if len(secs) > TAIL_MIN_BEYOND else (None, None)
    return {
        "n": len(secs),
        "p50_s": median(secs),
        "p50_geomean_s": kind_p50_geomean(records),
        "tail_s": t,
        "tail_pct": pct,
        "ops_per_min": 60.0 * len(secs) / sum(secs),
    }


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part of [start, end] covered by
    its direct children (children clipped to the parent, overlaps among
    children counted once)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered, cur_lo, cur_hi = 0.0, None, None
        for a, b in sorted((max(a, lo), min(b, hi)) for a, b in kids.get(s["id"], [])):
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out
