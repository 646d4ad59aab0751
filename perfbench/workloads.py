"""The benchmark's workloads.

Each workload is a closed loop with one client: the next operation (a
resumed ``run_crawl`` round, or an ``extract_pages`` pass) is submitted
only after the previous one has finished.  A workload returns its
set-up time, one sample per measured operation, what the correctness
gate found and, when traced, its per-layer numbers.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time
import traceback
from dataclasses import dataclass, field
from typing import Dict, List, Optional

from langscrape_spark import synth
from langscrape_spark.plans.extract import extract_pages
from langscrape_spark.scheduler.frontier import CrawlConfig, run_crawl
from langscrape_spark.scheduler.simulator import simulate_crawl
from langscrape_spark.sources.catalog import Catalog

from . import gate, gen, layers
from .trace import Tracer

FIELD_MAP = synth.FIELD_MAP
# Young crawl.  Batch and depth are the engine's defaults
# (policy.DEFAULT_BATCH, DEFAULT_MAX_DEPTH); depth 4 is also
# scripts/run_round.py's default.  The world has synth's 20 hosts and
# bench.py's one seed per 8 pages; every harvested link is a page of
# that world, which is large enough that most harvested links are
# still new in the third measured round (README.md, "World size").
FRESH = dict(pages=80_000, hosts=synth.N_HOSTS, seeds=10_000, batch=1_000, max_depth=4)
# Extract-only: a seeded 2 KB .. ~40 KB page-size mix.
BULK = dict(pages=1_500, hosts=synth.N_HOSTS, max_extra_paras=60)
GATE_SAMPLE = 24  # pages whose extraction is compared byte for byte
HTML_SAMPLE = 40  # pages timed through the single-core html kernel
MIN_OPS = 3  # measured operations per run, whatever --seconds says


@dataclass
class Context:
    workload: str
    seed: int
    seconds: float
    cores: int  # local[cores] for this process
    nproc: int
    tmp: str  # every file the run writes lives under here
    tracer: Tracer
    spark: object = None
    # scaling leg: run exactly this many operations, skip gate and layers
    leg_ops: int = 0
    inputs: str = ""  # scaling leg: where the traced run wrote its inputs


@dataclass
class Outcome:
    setup_parts: Dict[str, float] = field(default_factory=dict)
    ops: List[dict] = field(default_factory=list)  # one per measured operation
    attempted: int = 0
    failed: int = 0
    checks: Dict[str, object] = field(default_factory=dict)
    catalog_bytes_per_url: float = 0.0
    per_layer: Dict[str, float] = field(default_factory=dict)
    notes: Dict[str, str] = field(default_factory=dict)

    @property
    def setup_s(self) -> float:
        return sum(self.setup_parts.values())


def _timed(out: Dict[str, float], key: str, tracer: Tracer, fn):
    with tracer.span(key):
        t = time.perf_counter()
        val = fn()
        out[key] = time.perf_counter() - t
    return val


def _probe_before(ctx: Context, jc: Optional[layers.JobCounter]):
    if jc is None:
        return None
    with ctx.tracer.overhead():
        return jc.last_job_id(), jc.last_stage_id()


def _probe_after(ctx: Context, jc, before, wall: float) -> dict:
    if jc is None:
        return {}
    with ctx.tracer.overhead():
        jobs = jc.last_job_id() - before[0]
        return layers.spark_window(jc.stages_after(before[1]), jobs, wall, ctx.cores)


def _spark_layer(ops: List[dict]) -> Dict[str, float]:
    def med(k):
        return statistics.median(o["spark"][k] for o in ops)

    return {
        "scheduler.jobs_per_round": med("jobs"),
        "scheduler.stages_per_round": med("stages"),
        "scheduler.tasks_per_round": med("tasks"),
        "spark.core_busy_frac": med("core_busy_frac"),
        "spark.shuffle_write_mb_per_round": med("shuffle_write_mb"),
        "spark.input_mb_per_round": med("input_mb"),
        "spark.output_mb_per_round": med("output_mb"),
        "spark.failed_tasks": sum(o["spark"]["failed_tasks"] for o in ops),
    }


def _html_sample(corpus: gen.Corpus, htmls: Dict[str, str], salt: int, n: int) -> List[str]:
    rng = random.Random(corpus.seed * 104729 + salt)
    urls = sorted(htmls)
    return rng.sample(urls, min(n, len(urls)))


# -- crawl_fresh ------------------------------------------------------------
def crawl_fresh(ctx: Context) -> Outcome:
    out = Outcome()
    tr = ctx.tracer
    spark = ctx.spark
    p = FRESH
    corpus = gen.Corpus(gen.Shape(p["pages"], p["hosts"]), ctx.seed)
    seed_urls = corpus.seed_urls(p["seeds"])
    pages_path = os.path.join(ctx.inputs or ctx.tmp, "pages")
    seeds_path = os.path.join(ctx.inputs or ctx.tmp, "seeds")

    def materialize():
        corpus.write_pages(pages_path, n_files=4 * ctx.nproc)
        gen.write_seeds(seeds_path, seed_urls)

    if not ctx.inputs:
        _timed(out.setup_parts, "corpus", tr, materialize)
    pages = spark.read.parquet(pages_path)
    seeds = spark.read.parquet(seeds_path)
    robots, host_rank = gen.dim_tables(spark, corpus)

    def cfg(rounds: int) -> CrawlConfig:
        return CrawlConfig(
            batch_size=p["batch"],
            max_depth=p["max_depth"],
            max_rounds=rounds,
            extract_field_map=FIELD_MAP,
        )

    # The seeding call, cold as every first submission runs it (it also
    # spawns the Python workers).
    catalog = Catalog(spark, os.path.join(ctx.tmp, "catalog"))
    _timed(
        out.setup_parts,
        "seed",
        tr,
        lambda: run_crawl(spark, pages, seeds, robots, host_rank, catalog, cfg(0)),
    )

    # The first resumed round compiles every generated class and plan of
    # the round (later rounds hit Spark's caches), so it is set-up, not a
    # measured round.
    state = _timed(
        out.setup_parts,
        "warmup_round",
        tr,
        lambda: run_crawl(spark, pages, seeds, robots, host_rank, catalog, cfg(1)),
    )
    warmup_urls = state.metrics[0]["admitted"]

    jc = layers.JobCounter(spark.sparkContext) if tr.enabled else None
    n_ops = ctx.leg_ops
    t_start = time.perf_counter()
    with tr.span("measure"):
        r = 1
        while (n_ops and r <= n_ops) or (
            not n_ops and (r <= MIN_OPS or time.perf_counter() - t_start < ctx.seconds)
        ):
            r += 1
            before = _probe_before(ctx, jc)
            out.attempted += 1
            try:
                with tr.span("round", round=r - 1):
                    t = time.perf_counter()
                    state = run_crawl(spark, pages, seeds, robots, host_rank, catalog, cfg(r))
                    wall = time.perf_counter() - t
            except Exception:  # a failed round is counted, and ends the run
                out.failed += 1
                out.notes["round_error"] = f"round {r - 1}: {traceback.format_exc()[-4000:]}"
                break
            m = state.metrics[0] if state.metrics else {"admitted": 0, "new_urls": 0}
            out.ops.append(
                {
                    "round": r - 1,
                    "wall_s": wall,
                    "urls": m["admitted"],
                    "admitted": m["admitted"],
                    "new_urls": m["new_urls"],
                    "phases": m.get("phases", {}),
                    "spark": _probe_after(ctx, jc, before, wall),
                }
            )
            if not state.metrics:
                out.notes["exhausted"] = f"frontier empty at round {r - 1}"
                break
    measure_wall = time.perf_counter() - t_start
    if ctx.leg_ops or not out.ops:  # nothing measured: no gate, no layers
        return out

    scheduled = warmup_urls + sum(o["admitted"] for o in out.ops)
    cat_files, cat_bytes = layers.dir_stats(catalog.root)
    out.catalog_bytes_per_url = cat_bytes / max(1, scheduled)

    with tr.span("gate"):
        htmls = corpus.htmls()
        _gate_crawl(ctx, out, catalog, corpus, seed_urls, htmls, 1 + len(out.ops))

    if tr.enabled:
        with tr.span("layers"):
            with tr.span("kernel"):
                sample = _html_sample(corpus, htmls, 2, HTML_SAMPLE)
                html = layers.html_us_per_page([(u, htmls[u]) for u in sample], FIELD_MAP)
            with tr.span("catalog"):
                resume = layers.catalog_resume_s(catalog)
        phases = {
            k: sum(o["phases"].get(k, 0.0) for o in out.ops) / len(out.ops)
            for k in ("admit", "extract", "harvest", "membership", "writes_barrier", "compact")
        }
        if not any("compact" in o["phases"] for o in out.ops):
            out.notes["scheduler.phase.compact_s"] = (
                "0: no compaction round (every 16th) inside the measured rounds"
            )
        admitted = statistics.mean(o["admitted"] for o in out.ops)
        out.per_layer = {
            **{f"html.{k}": v for k, v in html.items()},
            "kernel.boundary_ratio": phases["extract"] * ctx.cores / admitted * 1e6
            / (html["clean_us"] + html["extract_us"]),
            **_spark_layer(out.ops),
            "scheduler.admit_fill": admitted / p["batch"],
            "scheduler.new_per_admitted": statistics.mean(
                o["new_urls"] / max(1, o["admitted"]) for o in out.ops
            ),
            **{f"scheduler.phase.{k}_s": v for k, v in phases.items()},
            "catalog.resume_s": resume,
            "catalog.files": cat_files,
            "catalog.seen_mb": layers.dir_stats(os.path.join(catalog.root, "seen"))[1] / 2**20,
            "catalog.frontier_mb": layers.dir_stats(os.path.join(catalog.root, "frontier"))[1]
            / 2**20,
        }
        out.per_layer["program_phases_s"] = phases
        out.checks["measure_wall_s"] = measure_wall
    return out


def _gate_crawl(ctx, out, catalog, corpus, seed_urls, htmls, n_rounds) -> None:
    got = [
        (r["round"], r["seq"], r["url"])
        for r in catalog.read_appended("schedule").select("round", "seq", "url").collect()
    ]
    want, _ = simulate_crawl(
        seed_urls,
        htmls,
        corpus.robots_dict(),
        dict(corpus.host_rank_rows()),
        batch_size=FRESH["batch"],
        max_depth=FRESH["max_depth"],
        max_rounds=n_rounds,
    )
    bad = gate.bad_rounds(got, want)
    out.checks["schedule_md5"] = gate.schedule_md5(got)
    out.checks["simulator_md5"] = gate.schedule_md5(want)

    # every fetched scheduled url yields exactly one result row
    results = catalog.read_appended("results")
    counts = {r["round"]: r["count"] for r in results.groupBy("round").count().collect()}
    fetched = {}
    for r, _, u in got:
        if u in htmls:
            fetched.setdefault(r, []).append(u)
    for r in set(fetched) | set(counts):
        if counts.get(r, 0) != len(fetched.get(r, [])):
            bad.add(r)
    sample_urls = random.Random(ctx.seed).sample(
        sorted(u for us in fetched.values() for u in us),
        min(GATE_SAMPLE, sum(len(v) for v in fetched.values())),
    )
    rows = {
        r["url"]: (r["extracted"], None)
        for r in results.where(results.url.isin(sample_urls))
        .select("url", "extracted")
        .collect()
    }
    mism = gate.bad_extractions(rows, {u: htmls[u] for u in sample_urls}, FIELD_MAP)
    round_of = {u: r for r, _, u in got}
    bad |= {round_of[u] for u in mism}
    out.checks.update(
        {
            "bad_rounds": sorted(bad),
            "extraction_mismatches": mism,
            "extraction_sample": len(sample_urls),
        }
    )
    out.failed += len(bad)


# -- extract_bulk -----------------------------------------------------------
def extract_bulk(ctx: Context) -> Outcome:
    out = Outcome()
    tr = ctx.tracer
    spark = ctx.spark
    p = BULK
    n_hosts = p["hosts"]
    corpus = gen.Corpus(
        gen.Shape(p["pages"], n_hosts, max_extra_paras=p["max_extra_paras"], heavy_tail=True),
        ctx.seed,
    )
    staging = os.path.join(ctx.tmp, "staging")
    _timed(
        out.setup_parts,
        "corpus",
        tr,
        lambda: corpus.write_pages(staging, n_files=4 * ctx.nproc),
    )
    # The pages table is stored through the catalog, as the crawl's
    # tables are.
    catalog = Catalog(spark, os.path.join(ctx.tmp, "catalog"))
    _timed(
        out.setup_parts,
        "store",
        tr,
        lambda: catalog.write("pages", spark.read.parquet(staging), 0, keep=1),
    )
    shutil.rmtree(staging)
    pages = catalog.read("pages")

    def one_pass():
        extract_pages(pages, FIELD_MAP).write.format("noop").mode("overwrite").save()

    _timed(out.setup_parts, "warmup", tr, one_pass)

    jc = layers.JobCounter(spark.sparkContext) if tr.enabled else None
    n_ops = ctx.leg_ops
    t_start = time.perf_counter()
    with tr.span("measure"):
        k = 0
        while (n_ops and k < n_ops) or (
            not n_ops and (k < MIN_OPS or time.perf_counter() - t_start < ctx.seconds)
        ):
            k += 1
            before = _probe_before(ctx, jc)
            out.attempted += p["pages"]
            try:
                with tr.span("pass", n=k - 1):
                    t = time.perf_counter()
                    one_pass()
                    wall = time.perf_counter() - t
            except Exception:  # a failed pass counts every page, and ends the run
                out.failed += p["pages"]
                out.notes["pass_error"] = f"pass {k - 1}: {traceback.format_exc()[-4000:]}"
                break
            out.ops.append(
                {
                    "pass": k - 1,
                    "wall_s": wall,
                    "urls": p["pages"],
                    "spark": _probe_after(ctx, jc, before, wall),
                }
            )
    measure_wall = time.perf_counter() - t_start
    if ctx.leg_ops or not out.ops:  # nothing measured: no gate, no layers
        return out

    walls = [o["wall_s"] for o in out.ops]
    cat_files, cat_bytes = layers.dir_stats(catalog.root)
    out.catalog_bytes_per_url = cat_bytes / p["pages"]

    with tr.span("gate"):
        htmls = corpus.htmls()
        sample = _html_sample(corpus, htmls, 1, GATE_SAMPLE)
        full = extract_pages(pages, FIELD_MAP, keep_cleaned=True)
        n_rows = full.count()
        rows = {
            r["url"]: (r["extracted"], r["cleaned"])
            for r in full.where(full.url.isin(sample))
            .select("url", "extracted", "cleaned")
            .collect()
        }
        mism = gate.bad_extractions(rows, {u: htmls[u] for u in sample}, FIELD_MAP)
        missing = abs(n_rows - p["pages"])
        out.failed += (len(mism) + missing) * len(out.ops)
        out.checks.update(
            {
                "rows": n_rows,
                "extraction_mismatches": mism,
                "extraction_sample": len(sample),
            }
        )

    if tr.enabled:
        with tr.span("layers"):
            with tr.span("kernel"):
                hs = _html_sample(corpus, htmls, 2, HTML_SAMPLE)
                html = layers.html_us_per_page([(u, htmls[u]) for u in hs], FIELD_MAP)
            with tr.span("catalog"):
                t = time.perf_counter()
                catalog.read("pages").count()
                resume = time.perf_counter() - t
        out.per_layer = {
            **{f"html.{k}": v for k, v in html.items()},
            "kernel.boundary_ratio": statistics.median(walls) * ctx.cores / p["pages"] * 1e6
            / (html["clean_us"] + html["extract_us"]),
            **_spark_layer(out.ops),
            # no scheduler in this workload: it admits nothing and
            # reports no phases
            "scheduler.admit_fill": 0.0,
            "scheduler.new_per_admitted": 0.0,
            **{
                f"scheduler.phase.{k}_s": 0.0
                for k in ("admit", "extract", "harvest", "membership", "writes_barrier", "compact")
            },
            "catalog.resume_s": resume,
            "catalog.files": cat_files,
            "catalog.seen_mb": 0.0,
            "catalog.frontier_mb": 0.0,
        }
        out.notes["scheduler.*"] = "0: extract_bulk runs no scheduler"
        out.notes["catalog.resume_s"] = "time to read and count the stored pages table"
        out.checks["measure_wall_s"] = measure_wall
    return out


WORKLOADS = {"crawl_fresh": crawl_fresh, "extract_bulk": extract_bulk}
