#!/usr/bin/env python3
"""Crawl benchmark: one workload, one process, ``local[nproc]``.

    python3 perfbench/run.py --workload crawl_fresh --seed 1 --seconds 12 --trace 0

Run from the root of a checkout.  The run builds its inputs from
``--seed``, measures for about ``--seconds`` seconds (never fewer than
three operations), checks the engine's outputs against the simulator
and the direct kernel, writes one artifact under ``.perfbench_out/``
and prints one JSON object as the last line of standard output::

    {"correct": true, "attempted": 3, "failed": 0, "metrics": {...}}

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` records
spans, takes the per-layer probes and prints the per-layer metrics.
Every file the run writes, Spark's own included, lives under
``.perfbench_tmp/<run id>/``, which is deleted at the end.
``perfbench/README.md`` explains the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
TMP_DIR = os.path.join(ROOT, ".perfbench_tmp")
# Peak size of one run's temp root (pages, catalogs, Spark local dirs),
# measured on a 4-core box at 33 MB and 2 MB; a run refuses to start
# unless this much plus MARGIN_MB is free.
FOOTPRINT_MB = {"crawl_fresh": 40, "extract_bulk": 4}
MARGIN_MB = 512
DRIVER_MEM = "2g"
# Operations the 1-core scaling leg runs; the nproc side is the same
# operations of the traced run itself.
LEG_OPS = {"crawl_fresh": 1, "extract_bulk": 1}
# A traced run must end within 180 s; without its leg it takes ~80 s.
LEG_TIMEOUT_S = 90
E2E_UNITS = {
    "setup_s": "s",
    "urls_per_s": "1/s",
    "round_p50_s": "s",
    "catalog_bytes_per_url": "B",
    "peak_rss_mb": "MB",
}
LAYER_UNITS = {
    "html.parse_us": "us",
    "html.links_us": "us",
    "html.clean_us": "us",
    "html.extract_us": "us",
    "kernel.boundary_ratio": "ratio",
    "scheduler.jobs_per_round": "count",
    "scheduler.stages_per_round": "count",
    "scheduler.tasks_per_round": "count",
    "scheduler.admit_fill": "ratio",
    "scheduler.new_per_admitted": "ratio",
    "scheduler.phase.admit_s": "s",
    "scheduler.phase.extract_s": "s",
    "scheduler.phase.harvest_s": "s",
    "scheduler.phase.membership_s": "s",
    "scheduler.phase.writes_barrier_s": "s",
    "scheduler.phase.compact_s": "s",
    "spark.core_busy_frac": "ratio",
    "spark.shuffle_write_mb_per_round": "MB",
    "spark.input_mb_per_round": "MB",
    "spark.output_mb_per_round": "MB",
    "spark.failed_tasks": "count",
    "catalog.resume_s": "s",
    "catalog.files": "count",
    "catalog.seen_mb": "MB",
    "catalog.frontier_mb": "MB",
    "session.scaling_eff": "ratio",
    "trace.overhead_frac": "ratio",
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def summary(values) -> dict:
    """Sample count, median and quartiles (statistics.quantiles, n=4)."""
    values = list(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else values * 3
    return {"n": len(values), "median": statistics.median(values), "q1": q1, "q3": q3}


def tail(values) -> tuple:
    """The highest percentile with at least ten samples beyond it, and
    its label; with ten samples or fewer no percentile qualifies and
    the maximum is reported as p100."""
    xs = sorted(values)
    n = len(xs)
    p = int(100 * (1 - 10 / n)) if n > 10 else 100
    idx = min(n - 1, max(0, -(-p * n // 100) - 1))  # nearest rank
    return xs[idx], f"p{p}"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # internal: the 1-core scaling leg of a traced run
    ap.add_argument("--leg-cores", type=int, default=0, help=argparse.SUPPRESS)
    ap.add_argument("--leg-inputs", default="", help=argparse.SUPPRESS)
    return ap.parse_args(argv)


def spark_env(tmp: str) -> None:
    """Keep the JVM, Spark and the Python workers inside ``tmp``."""
    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(tmp, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["TMPDIR"] = os.path.join(tmp, "tmp")
    # Driver heap cap (the session's own knob; its 8g default lets the
    # heap grow with GC timing, which makes peak RSS wander and presses
    # on memory shared with other processes).
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp}/tmp -XX:-UsePerfData' "
        f"--conf spark.sql.warehouse.dir={tmp}/warehouse "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def stop_spark(spark) -> None:
    """Stop Spark, then wait for the JVM and every Python worker it forked.
    A later session in this process starts a JVM of its own."""
    from pyspark import SparkContext

    from perfbench.layers import children

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    tree = []
    if proc is not None:
        kids, todo = children(), [proc.pid]
        while todo:
            pid = todo.pop()
            tree.append(pid)
            todo.extend(kids.get(pid, []))
    try:
        spark.stop()
        gw.shutdown()
    finally:
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            _wait_tree(proc, tree)


def _wait_tree(proc, tree) -> None:
    """Wait for the gateway JVM, then for every process it forked; kill
    what is still alive after 30 s."""
    proc.stdin.close()  # the gateway exits on EOF
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    for pid in tree[1:]:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def git_sha() -> str:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown (not a git checkout)"
    r = subprocess.run(
        ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=30
    )
    return r.stdout.strip() or "unknown"


def scaling_leg(args, inputs: str) -> list:
    """Run the same input on one core in a fresh JVM; return its op walls.
    The leg reads the crawl's pages and seeds from ``inputs`` rather than
    building them again."""
    cmd = [
        sys.executable, os.path.abspath(__file__), "--workload", args.workload,
        "--seed", str(args.seed), "--seconds", "0", "--trace", "0", "--leg-cores", "1",
        "--leg-inputs", inputs,
    ]
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=LEG_TIMEOUT_S)
    if r.returncode != 0:
        raise RuntimeError(f"scaling leg failed: {r.stderr[-2000:]}")
    return json.loads(r.stdout.strip().splitlines()[-1])["walls"]


def main(argv=None) -> int:
    if not os.path.isdir(os.path.join(ROOT, "langscrape_spark")):
        print(f"perfbench: no langscrape_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    args = parse_args(argv)
    from perfbench import layers, workloads
    from perfbench.trace import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    free_mb = shutil.disk_usage(ROOT).free / 2**20
    need_mb = FOOTPRINT_MB[args.workload] + MARGIN_MB
    if free_mb < need_mb:
        print(f"perfbench: {free_mb:.0f} MB free, need {need_mb} MB", file=sys.stderr)
        return 3

    # A terminated run still stops Spark and deletes its temp root.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    n = nproc()
    cores = args.leg_cores or n
    run_id = uuid.uuid4().hex[:12]
    tmp = os.path.join(TMP_DIR, run_id)
    os.makedirs(tmp)
    spark_env(tmp)
    load_start = os.getloadavg()
    tracer = Tracer(bool(args.trace), run_id)
    ctx = workloads.Context(
        args.workload, args.seed, args.seconds, cores, n, tmp, tracer,
        leg_ops=LEG_OPS[args.workload] if args.leg_cores else 0,
        inputs=args.leg_inputs,
    )
    from langscrape_spark.session import get_spark

    spark = None
    try:
        with tracer.span("workload", workload=args.workload):
            with tracer.span("jvm"):
                t = time.perf_counter()
                spark = get_spark(
                    app_name="perfbench", master=f"local[{cores}]", shuffle_partitions=2 * n
                )
                spark.sparkContext.setLogLevel("ERROR")
                jvm_s = time.perf_counter() - t
            ctx.spark = spark
            from pyspark import SparkContext

            with layers.MemorySampler(SparkContext._gateway.proc.pid) as mem:
                outcome = workloads.WORKLOADS[args.workload](ctx)
        disk_mb = layers.dir_stats(tmp)[1] / 2**20
        spark, running = None, spark
        stop_spark(running)
        walls = [o["wall_s"] for o in outcome.ops]
        correct = outcome.failed == 0 and outcome.attempted > 0 and bool(walls)
        leg = []
        if args.trace and correct:  # before the inputs under tmp are deleted
            try:
                with tracer.span("scaling_leg"):
                    leg = scaling_leg(args, tmp)
            except (RuntimeError, subprocess.TimeoutExpired) as e:
                correct = False
                outcome.notes["scaling_leg"] = str(e)
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    if args.leg_cores:
        if not correct:
            print(f"perfbench: scaling leg failed: {outcome.notes}", file=sys.stderr)
            return 1
        print(json.dumps({"walls": walls}))
        return 0

    per_layer = dict(outcome.per_layer)
    program_phases = per_layer.pop("program_phases_s", None)
    if args.trace and correct:
        per_layer["session.scaling_eff"] = sum(leg) / (n * sum(walls[: len(leg)]))
        measure = outcome.checks["measure_wall_s"]
        per_layer["trace.overhead_frac"] = tracer.overhead_s / (measure - tracer.overhead_s)

    e2e = {"setup_s": jvm_s + outcome.setup_s}
    samples = {}
    tail_s, tail_label = float("nan"), "none"
    if walls:  # a run whose first operation failed has no timings
        tail_s, tail_label = tail(walls)
        rates = [o["urls"] / o["wall_s"] for o in outcome.ops]
        e2e.update(
            {
                "urls_per_s": statistics.median(rates),
                "round_p50_s": statistics.median(walls),
                "catalog_bytes_per_url": outcome.catalog_bytes_per_url,
            }
        )
        samples = {"round_wall_s": summary(walls), "urls_per_s": summary(rates)}
    e2e["peak_rss_mb"] = mem.peak_mb
    artifact = {
        "run_id": run_id,
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "traced": bool(args.trace),
        "git_sha": git_sha(),
        "nproc": n,
        "loadavg_start": load_start,
        "loadavg_end": os.getloadavg(),
        "runs": len(walls),
        "correct": correct,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "error_rate": outcome.failed / max(1, outcome.attempted),
        "end_to_end": {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()},
        # Not a gated metric: with ten operations or fewer no percentile
        # has ten beyond it, and this is their maximum (p100).
        "round_tail_s": {"value": tail_s, "percentile": tail_label, "n": len(walls)},
        "samples": samples,
        "setup_parts_s": {"jvm": jvm_s, **outcome.setup_parts},
        "disk_mb": disk_mb,
        "per_layer": {
            **{k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in per_layer.items()},
            "program_phases_s": program_phases,
        },
        "notes": outcome.notes,
        "checks": outcome.checks,
        "ops": outcome.ops,
    }
    os.makedirs(OUT_DIR, exist_ok=True)
    stem = os.path.join(OUT_DIR, f"{args.workload}-s{args.seed}-t{args.trace}-{run_id}")
    if args.trace:
        tracer.dump(stem + ".trace.json")
        artifact["trace_file"] = os.path.basename(stem) + ".trace.json"
    with open(stem + ".json", "w") as f:
        json.dump(artifact, f, indent=1, default=str)

    # A failed run may lack some metrics; it prints those it has.
    metrics = {k: per_layer[k] for k in LAYER_UNITS if k in per_layer} if args.trace else e2e
    units = LAYER_UNITS if args.trace else E2E_UNITS
    print(
        f"artifact: {stem}.json\n"
        + " ".join(f"{k}={v:.4g}" for k, v in e2e.items())
        + f" round_tail_s={tail_s:.4g} ({tail_label}, n={len(walls)})"
        + f" error_rate={artifact['error_rate']:.4g}",
        file=sys.stderr,
    )
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": outcome.attempted,
                "failed": outcome.failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
