"""Seeded input generator for the benchmark.

``langscrape_spark.synth`` is a pure function of the page id and has no
seed, so this module layers a seed on top of its page builders: the
seed picks the host assignment and its skew, the seed list and the
page sizes, while hosts, politeness and ranks follow synth's.  Every
page body is still ``synth.page_html``; only its urls are rewritten
onto the seeded hosts and, for larger pages, extra body paragraphs
(taken from other synth pages) are spliced in.

The engine sees only the tables this module returns: pages (parquet),
seeds, robots and host_rank.  The same seed gives the same tables.
"""

from __future__ import annotations

import os
import random
import re
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone
from typing import Dict, List, Tuple

import pyarrow as pa
import pyarrow.parquet as pq

from langscrape_spark import synth

_SYNTH_URL = re.compile(r"https://www\.site\d+\.example/(\w+)/article-(\d{8})\.html")
_SYNTH_HOME = re.compile(r"https://www\.site\d+\.example/about")
_BODY_OPEN = '<div class="body">'
_BODY = re.compile(r'<div class="body">(.*?)</div>')
_LANGS = ["en", "he", "fr", "de"]
_BASE_TS = datetime(2025, 1, 1, tzinfo=timezone.utc)
# The hot host's share of pages is drawn from HOT_HOST_SHARE +- 2 ids
# in 32 (synth puts 10 in 32, ~31%, on its host 0); the rest are spread
# evenly over the other hosts, as ``synth.host_of`` spreads them.
_HOT_SHARE = ((synth.HOT_HOST_SHARE - 2) / 32, (synth.HOT_HOST_SHARE + 2) / 32)
# Politeness as synth's robots table has it (the hot host waits 2 s,
# every other host 0.5 s, the last host is disallowed), with the delays
# divided by bench.py's default divisor: its budget floor(4 / delay)
# then admits 200 urls a round from the hot host and 800 from each
# other, so admission is bound by batch size and frontier rather than
# by the politeness of synth's 20 hosts (bench.py explains the same).
_HOT_DELAY, _DELAY, _DELAY_DIV = 2.0, 0.5, 100.0


@dataclass(frozen=True)
class Shape:
    """What a workload asks of the generator."""

    n_pages: int
    n_hosts: int
    # Page size mix: each page gets 0..max_extra_paras extra body
    # paragraphs, spread log-uniformly when ``heavy_tail`` (a 2 KB to
    # tens-of-KB mix), else evenly (synth-sized pages).
    max_extra_paras: int = 2
    heavy_tail: bool = False


class Corpus:
    """A seeded crawl world: pages, hosts, politeness and seeds."""

    def __init__(self, shape: Shape, seed: int) -> None:
        self.shape = shape
        self.seed = seed
        rng = random.Random(seed)
        tag = rng.randrange(36**4)
        self.hosts = [f"www.h{j}-{tag:x}.example" for j in range(shape.n_hosts)]
        self.hot_share = rng.uniform(*_HOT_SHARE)
        self.page_host = [
            0 if rng.random() < self.hot_share else rng.randrange(1, shape.n_hosts)
            for _ in range(shape.n_pages)
        ]
        # A fixed size mix, dealt to pages in a seeded order: the seed
        # moves which pages are large, not how much work there is.
        self.extra = [self._extra_paras(i) for i in range(shape.n_pages)]
        rng.shuffle(self.extra)
        self._urls = [
            synth.url_of(i).replace(synth.host_of(i), self.hosts[self.page_host[i]], 1)
            for i in range(shape.n_pages)
        ]
        self._htmls: Dict[str, str] = {}
        self._filler = [
            _BODY.search(synth.page_html(i, shape.n_pages)).group(1) for i in range(64)
        ]

    def _extra_paras(self, i: int) -> int:
        top = self.shape.max_extra_paras
        if self.shape.heavy_tail:
            return int(round((top + 1) ** ((i + 0.5) / self.shape.n_pages))) - 1
        return i % (top + 1)

    # -- urls and pages ---------------------------------------------------
    def url(self, page_id: int) -> str:
        return self._urls[page_id]

    def html(self, page_id: int) -> str:
        page = synth.page_html(page_id, self.shape.n_pages)
        page = _SYNTH_URL.sub(lambda m: self.url(int(m.group(2))), page)
        page = _SYNTH_HOME.sub(
            f"https://{self.hosts[self.page_host[page_id]]}/about", page
        )
        extra = self.extra[page_id]
        if extra:
            pad = "".join(
                self._filler[(page_id + k) % len(self._filler)] for k in range(extra)
            )
            page = page.replace(_BODY_OPEN, _BODY_OPEN + pad, 1)
        return page

    def htmls(self) -> Dict[str, str]:
        """url -> html of every page (the simulator's fetch table), built once."""
        if not self._htmls:
            self._htmls = {self.url(i): self.html(i) for i in range(self.shape.n_pages)}
        return self._htmls

    def write_pages(self, path: str, n_files: int) -> None:
        """Materialize the pages table as ``n_files`` parquet files."""
        os.makedirs(path, exist_ok=True)
        n = self.shape.n_pages
        step = -(-n // n_files)
        pages = list(self.htmls().items())
        for f, lo in enumerate(range(0, n, step)):
            ids = range(lo, min(n, lo + step))
            table = pa.table(
                {
                    "url": [pages[i][0] for i in ids],
                    "warc_ts": [_BASE_TS + timedelta(seconds=i) for i in ids],
                    "html": pa.array([pages[i][1].encode("utf-8") for i in ids], pa.binary()),
                    "lang": [_LANGS[(i + self.seed) % len(_LANGS)] for i in ids],
                }
            )
            pq.write_table(table, os.path.join(path, f"part-{f:05d}.parquet"))

    # -- dimension tables -------------------------------------------------
    def robots_rows(self) -> List[Tuple[str, List[str], float, bool]]:
        last = len(self.hosts) - 1
        delays = [_HOT_DELAY] + [_DELAY] * last
        return [
            (h, ["/private/", "/admin/"], delays[j] / _DELAY_DIV, j != last)
            for j, h in enumerate(self.hosts)
        ]

    def robots_dict(self) -> Dict[str, tuple]:
        return {h: (p, d, a) for h, p, d, a in self.robots_rows()}

    def host_rank_rows(self) -> List[Tuple[str, float]]:
        """synth's ranks: 1.0 for the hot host, 0.04 less for each next."""
        return [(h, round(1.0 - j * 0.04, 4)) for j, h in enumerate(self.hosts)]

    # -- seed lists -------------------------------------------------------
    def seed_urls(self, n_seeds: int, n_unfetched: int = 0) -> List[str]:
        """``n_seeds`` distinct page urls (all pages when n_seeds equals
        n_pages) plus ``n_unfetched`` urls on the same hosts that are
        not in the pages table (fetch misses: admitted and seen, no
        links), and the invalid/ftp probes ``synth.seeds_df`` carries."""
        rng = random.Random(self.seed * 7919 + n_seeds)
        ids = sorted(rng.sample(range(self.shape.n_pages), n_seeds))
        urls = [self.url(i) for i in ids]
        urls += [
            f"https://{self.hosts[rng.randrange(len(self.hosts))]}/vault/item-{k:08d}.html"
            for k in range(n_unfetched)
        ]
        urls += ["not a url", "ftp://site.example/x"]
        return urls


def write_seeds(path: str, seeds: List[str]) -> None:
    """The seed list as parquet (url, depth), as a first submission reads it."""
    os.makedirs(path, exist_ok=True)
    table = pa.table({"url": seeds, "depth": pa.array([0] * len(seeds), pa.int32())})
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


def dim_tables(spark, corpus: Corpus):
    """robots and host_rank as Spark frames (schemas as synth's)."""
    robots = spark.createDataFrame(
        corpus.robots_rows(),
        "host string, disallow_prefixes array<string>, crawl_delay double, allowed boolean",
    )
    host_rank = spark.createDataFrame(corpus.host_rank_rows(), "host string, rank double")
    return robots, host_rank
