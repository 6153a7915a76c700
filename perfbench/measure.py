"""Measurement helpers: spans, percentiles, outcome counts, host samples."""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

PERCENTILES = (50.0, 90.0, 99.0, 99.9)


def percentile(sorted_xs: list[float], p: float) -> float:
    """Nearest-rank percentile of an ascending list."""
    if not sorted_xs:
        raise ValueError("no samples")
    rank = max(1, -(-len(sorted_xs) * p // 100))  # ceil(n * p / 100)
    return sorted_xs[int(rank) - 1]


def summarize(samples: list[float], min_beyond: int = 10) -> dict:
    """Median, sample count, and the highest percentile of ``PERCENTILES``
    that still has at least ``min_beyond`` samples above it (None when even
    the median has fewer)."""
    xs = sorted(samples)
    out = {"n": len(xs), "median": percentile(xs, 50.0), "top_p": None,
           "top_value": None}
    for p in sorted(PERCENTILES, reverse=True):
        v = percentile(xs, p)
        if sum(x > v for x in xs) >= min_beyond:
            out["top_p"], out["top_value"] = p, v
            break
    return out


class Outcomes:
    """Operations attempted and failed; an operation fails when it raises or
    when one of its checks does not hold."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def record(self, ok: bool, note: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if note and len(self.notes) < 20:
                self.notes.append(note)

    def call(self, fn, *args, **kwargs):
        """Run ``fn``; a raised exception is a failed operation (returns
        None). Success is left for the caller to ``record`` after checks."""
        try:
            return fn(*args, **kwargs)
        except Exception as e:  # the benchmark must keep going and report
            self.record(False, f"{type(e).__name__}: {e}"[:300])
            return None

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


class Tracer:
    """In-memory spans: name, start, end, parent and a per-query id."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, qid: int | None = None):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name, "qid": qid,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        if qid is None and rec["parent"] is not None:
            rec["qid"] = self.spans[rec["parent"]]["qid"]
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[int, float]:
        """span id -> seconds not covered by its child spans."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(kids.get(s["id"], [])):
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def self_by_name(self) -> dict[str, list[float]]:
        st = self.self_times()
        out: dict[str, list[float]] = {}
        for s in self.spans:
            out.setdefault(s["name"], []).append(st[s["id"]])
        return out

    def dump(self, path: str) -> None:
        st = self.self_times()
        t0 = self.spans[0]["start"] if self.spans else 0.0
        rows = [dict(s, start=s["start"] - t0, end=s["end"] - t0,
                     self=st[s["id"]]) for s in self.spans]
        with open(path, "w") as fh:
            json.dump(rows, fh)


def span_cost_us(n: int = 20000) -> float:
    """Cost of one enabled span enter+exit, in microseconds."""
    tr = Tracer(True)
    t = time.perf_counter()
    for _ in range(n):
        with tr.span("x"):
            pass
    return 1e6 * (time.perf_counter() - t) / n


def cpu_sample() -> list[int]:
    with open("/proc/stat") as fh:
        return list(map(int, fh.readline().split()[1:9]))


def cpu_mix(before: list[int], after: list[int]) -> dict:
    """sys+steal and idle shares (%) of all CPU time between two samples."""
    d = [b - a for a, b in zip(before, after)]
    tot = max(1, sum(d))
    return {"sys_steal_pct": round(100 * (d[2] + d[7]) / tot, 1),
            "idle_pct": round(100 * (d[3] + d[4]) / tot, 1)}
