"""In-memory spans for the traced run, and the self-time report over them.

Spans are recorded by the benchmark around its own calls into the
engine (one ``run_crawl`` call, one ``extract_pages`` pass, a
``Catalog`` read, a kernel call); nothing inside ``langscrape_spark``
is instrumented.  They are kept in memory and written once, at the end
of the run, next to the run's artifact.

Usage::

    python3 perfbench/trace.py <artifact.json>

prints, for every span path (``workload/measure/round`` ...) in the
order the run first entered it, the number of spans, their total time
and their self time (duration minus the time covered by child spans).
"""

from __future__ import annotations

import json
import os
import sys
import time
from contextlib import contextmanager
from typing import Dict, List, Optional


class Tracer:
    """Spans of one run: name, start, end, parent and the shared run id.

    With ``enabled=False`` every call is a no-op, so the untraced run
    pays nothing.  Single-threaded: spans nest in call order.
    """

    def __init__(self, enabled: bool, run_id: str) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: List[dict] = []
        self._stack: List[int] = []
        self._t0 = time.perf_counter()
        # Seconds spent in probes that exist only because tracing is on
        # (listener-bus drains, status-store reads); see overhead().
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter() - self._t0,
            "end": None,
        }
        rec.update(attrs)
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()

    @contextmanager
    def overhead(self):
        """Time a tracing-only probe; it is charged to trace.overhead_frac."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f)


def self_times(spans: List[dict]) -> Dict[str, dict]:
    """Aggregate spans by path: first start, count, total and self seconds."""
    by_id = {s["id"]: s for s in spans}
    child_time: Dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + (
                s["end"] - s["start"]
            )

    def path(s: dict) -> str:
        parts = [s["name"]]
        p: Optional[int] = s["parent"]
        while p is not None:
            parts.append(by_id[p]["name"])
            p = by_id[p]["parent"]
        return "/".join(reversed(parts))

    out: Dict[str, dict] = {}
    for s in spans:
        dur = s["end"] - s["start"]
        row = out.setdefault(
            path(s), {"first": s["start"], "count": 0, "total_s": 0.0, "self_s": 0.0}
        )
        row["count"] += 1
        row["total_s"] += dur
        row["self_s"] += dur - child_time.get(s["id"], 0.0)
    return out


def report(artifact_path: str) -> str:
    with open(artifact_path) as f:
        art = json.load(f)
    lines = [
        f"workload {art['workload']}  seed {art['seed']}  nproc {art['nproc']}  "
        f"git {art['git_sha']}  run {art['run_id']}"
    ]
    trace_path = art.get("trace_file")
    if not trace_path:
        lines.append("no trace: this run was untraced (--trace 0)")
        return "\n".join(lines)
    with open(os.path.join(os.path.dirname(artifact_path), trace_path)) as f:
        spans = json.load(f)["spans"]
    rows = self_times(spans)
    wall = sum(r["total_s"] for p, r in rows.items() if "/" not in p)
    lines.append(f"{'span path':<44}{'n':>5}{'total s':>10}{'self s':>10}{'self %':>8}")
    for p, r in sorted(rows.items(), key=lambda kv: kv[1]["first"]):
        share = 100.0 * r["self_s"] / wall if wall else 0.0
        lines.append(
            f"{p:<44}{r['count']:>5}{r['total_s']:>10.3f}{r['self_s']:>10.3f}{share:>7.1f}%"
        )
    phases = art.get("per_layer", {}).get("program_phases_s")
    if phases:
        lines.append("program-reported phases inside run_crawl (mean s/round, not spans):")
        for k, v in phases.items():
            lines.append(f"  {k:<20}{v:>8.3f}")
    return "\n".join(lines)


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit("usage: python3 perfbench/trace.py <artifact.json>")
    print(report(sys.argv[1]))
