"""Per-layer probes, all taken from outside the engine.

- Spark: job ids from ``statusTracker()``, stage metrics from the
  status store through the JVM gateway;
- process memory: resident memory of the driver JVM and its Python
  workers, read from ``/proc``;
- html: direct single-core calls into ``langscrape_spark.html``;
- catalog: direct ``Catalog`` calls and bytes on disk.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from typing import Dict, List

from langscrape_spark.html import (
    clean_html_for_extraction,
    extract_by_xpath_map,
    extract_links,
    parse,
)

_MB = 1024.0 * 1024.0


class JobCounter:
    """Counts Spark jobs and stages launched between two marks.

    Job and stage ids are assigned in sequence, so the number launched
    between two marks is the difference of the largest known id.  The
    listener bus is drained first: the status store is fed
    asynchronously and would otherwise miss the last jobs of a round.
    """

    def __init__(self, sc) -> None:
        self.sc = sc
        self._store = sc._jsc.sc().statusStore()
        gw = sc._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)

    def drain(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def last_job_id(self) -> int:
        self.drain()
        return max(self.sc.statusTracker().getJobIdsForGroup(), default=-1)

    def last_stage_id(self) -> int:
        self.drain()
        stages = self._store.stageList(None, False, False, self._no_quantiles, None)
        return stages.apply(0).stageId() if stages.size() else -1

    def stages_after(self, stage_id: int) -> List[Dict[str, float]]:
        """Metrics of every stage attempt with an id above ``stage_id``.
        The store lists stages newest first."""
        self.drain()
        stages = self._store.stageList(None, False, False, self._no_quantiles, None)
        out = []
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() <= stage_id:
                break
            out.append(
                {
                    "stage_id": s.stageId(),
                    "status": str(s.status()),
                    "tasks": s.numTasks(),
                    "run_ms": s.executorRunTime(),
                    "shuffle_write_b": s.shuffleWriteBytes(),
                    "input_b": s.inputBytes(),
                    "output_b": s.outputBytes(),
                    "failed_tasks": s.numFailedTasks(),
                }
            )
        return out


def spark_window(stages: List[Dict[str, float]], jobs: int, wall_s: float, cores: int) -> dict:
    """Counts and volumes of one measured operation (a round or a pass)."""
    run = [s for s in stages if s["status"] != "SKIPPED"]
    return {
        "jobs": jobs,
        "stages": len(run),
        "tasks": sum(s["tasks"] for s in run),
        "core_busy_frac": sum(s["run_ms"] for s in run) / 1000.0 / (wall_s * cores),
        "shuffle_write_mb": sum(s["shuffle_write_b"] for s in run) / _MB,
        "input_mb": sum(s["input_b"] for s in run) / _MB,
        "output_mb": sum(s["output_b"] for s in run) / _MB,
        "failed_tasks": sum(s["failed_tasks"] for s in run),
    }


# -- memory -----------------------------------------------------------------
def children() -> Dict[int, List[int]]:
    """parent pid -> child pids, for every process in /proc."""
    kids: Dict[int, List[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _proc_kb(path: str, key: str) -> int:
    with open(path) as f:
        for line in f:
            if line.startswith(key):
                return int(line.split()[1])
    return 0


def tree_mem_mb(root_pid: int) -> float:
    """Resident memory of ``root_pid`` and all its descendants, summed as
    PSS so that pages the forked Python workers share are counted once."""
    kids = children()
    total_kb, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            total_kb += _proc_kb(f"/proc/{pid}/smaps_rollup", "Pss:")
        except (OSError, ValueError):
            pass
    return total_kb / 1024.0


class MemorySampler:
    """Peak of ``tree_mem_mb``, sampled on a background thread."""

    def __init__(self, root_pid: int, interval_s: float = 0.25) -> None:
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_mem_mb(self.root_pid))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


# -- html kernel ------------------------------------------------------------
def html_us_per_page(pages: List[tuple], field_map: dict, reps: int = 3) -> Dict[str, float]:
    """Single-core µs/page of parse, links, clean and extract over
    ``pages`` [(url, html)], median of ``reps`` passes."""
    cleaned = [clean_html_for_extraction(h) for _, h in pages]
    calls = {
        "parse_us": lambda: [parse(h) for _, h in pages],
        "links_us": lambda: [extract_links(h, u) for u, h in pages],
        "clean_us": lambda: [clean_html_for_extraction(h) for _, h in pages],
        "extract_us": lambda: [extract_by_xpath_map(c, field_map) for c in cleaned],
    }
    out = {}
    for name, fn in calls.items():
        times = []
        for _ in range(reps):
            t = time.perf_counter()
            fn()
            times.append(time.perf_counter() - t)
        out[name] = statistics.median(times) / len(pages) * 1e6
    return out


# -- catalog ----------------------------------------------------------------
def dir_stats(path: str) -> tuple:
    """(files, bytes) under ``path``."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            try:
                size += os.path.getsize(os.path.join(dirpath, n))
                files += 1
            except OSError:
                pass
    return files, size


def catalog_resume_s(catalog, reps: int = 3) -> float:
    """Restart cost of a submission: the marker, the committed frontier
    and the seen-set count, as ``run_crawl`` reads them on resume."""
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        r = catalog.committed_round()
        catalog.read("frontier", r)
        catalog.read_appended("seen", r).count()
        times.append(time.perf_counter() - t)
    return statistics.median(times)
