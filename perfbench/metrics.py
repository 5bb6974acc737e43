"""Pure helpers of the benchmark: percentiles, failure counting, interval
unions, span self time and the order-insensitive result digest. Nothing
here touches Spark, so the unit tests in perfbench/tests run without a JVM."""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math
import statistics
import time
import traceback
from collections.abc import Callable, Iterable, Sequence
from typing import TypeVar

T = TypeVar("T")

# A tail percentile is reported only where at least this many samples lie
# beyond it; with fewer samples the "tail" is noise from one or two runs.
MIN_BEYOND = 10


def tail_percentile(n: int) -> int:
    """Highest whole percentile that has at least MIN_BEYOND of `n` samples
    above it, capped at 99 (p90 needs 100 samples, p88 fits 84). Below
    2 * MIN_BEYOND samples no tail is supported and the median is used."""
    if n < 2 * MIN_BEYOND:
        return 50
    return min(99, math.floor(100 * (1 - MIN_BEYOND / n)))


def percentile(values: Sequence[float], p: int) -> float:
    """Percentile `p` (1..99) by linear interpolation between closest ranks
    (statistics.quantiles' inclusive method); one value is its own
    percentile."""
    if not values:
        raise ValueError("percentile of no values")
    if len(values) == 1:
        return float(values[0])
    return statistics.quantiles(values, n=100, method="inclusive")[p - 1]


def run_checked(work: Callable[[], T], check: Callable[[T], bool]) -> tuple[bool, float]:
    """(ok, seconds) of one operation: `work` is timed, `check` judges its
    result outside the timed part. An operation that raises and one whose
    result fails the check both count as failed; the traceback goes to
    stderr."""
    t0 = time.perf_counter()
    try:
        result = work()
    except Exception:
        traceback.print_exc()
        return False, time.perf_counter() - t0
    seconds = time.perf_counter() - t0
    try:
        return bool(check(result)), seconds
    except Exception:
        traceback.print_exc()
        return False, seconds


class Tally:
    """Operations attempted and failed over one run."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def record(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += not ok

    def fail_ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def union_seconds(intervals: Iterable[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: Sequence[dict]) -> dict[int, float]:
    """span id -> duration minus the part of its interval that its child
    spans cover (children that overlap each other count once; a child
    running past its parent's end is clipped to the parent)."""
    children: dict[int, list[tuple[float, float]]] = {}
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        parent = by_id.get(s["parent"])
        if parent is not None:
            children.setdefault(parent["id"], []).append(
                (max(s["start"], parent["start"]), min(s["end"], parent["end"]))
            )
    return {
        s["id"]: (s["end"] - s["start"])
        - union_seconds(iv for iv in children.get(s["id"], []) if iv[1] > iv[0])
        for s in spans
    }


def _canon(v) -> str:
    """Type-blind token for one value. Every number becomes a float, as in
    the pandas compare of tools/driver_dryrun.py (a DuckDB DECIMAL and a
    Spark double holding the same value agree); NaN payloads collapse to one
    token, while -0.0 keeps its sign bit, because that compare is bitwise."""
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, (int, float, decimal.Decimal)) or hasattr(v, "dtype"):
        f = float(v)
        return "nan" if math.isnan(f) else repr(f)
    if isinstance(v, str):
        return "s" + repr(v)
    if isinstance(v, (bytes, bytearray)):
        return "b" + bytes(v).hex()
    if isinstance(v, (datetime.date, datetime.datetime)):
        return "t" + v.isoformat()
    if hasattr(v, "asDict"):  # pyspark Row holding a struct
        v = v.asDict()
    if isinstance(v, dict):
        return "{" + ",".join(
            sorted(f"{_canon(k)}:{_canon(x)}" for k, x in v.items())
        ) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return "?" + repr(v)


def digest(columns: Sequence[str], rows: Iterable[Sequence]) -> str:
    """Order-insensitive digest of a result: columns are taken in name
    order, rows as a sorted multiset, so neither column nor row order
    matters but every value and the row count do."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    tokens = sorted(
        "|".join(_canon(row[i]) for i in order) for row in rows
    )
    h = hashlib.sha256()
    h.update(("\x1f".join(columns[i] for i in order)).encode())
    for t in tokens:
        h.update(b"\x1e" + t.encode())
    return f"{len(tokens)}:{h.hexdigest()[:32]}"
