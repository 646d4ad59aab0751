import pyarrow.parquet as pq

from langscrape_spark import synth
from perfbench import gen

SHAPE = gen.Shape(n_pages=300, n_hosts=20)


def _world(seed, shape=SHAPE):
    c = gen.Corpus(shape, seed)
    return c.htmls(), c.robots_rows(), c.host_rank_rows(), c.seed_urls(10, 5)


def test_same_seed_same_inputs():
    assert _world(7) == _world(7)


def test_seed_changes_hosts_seeds_and_sizes():
    a, b = gen.Corpus(SHAPE, 1), gen.Corpus(SHAPE, 2)
    assert a.page_host != b.page_host
    assert a.seed_urls(10) != b.seed_urls(10)
    assert a.extra != b.extra
    assert a.hot_share != b.hot_share


def test_pages_are_synth_pages_on_seeded_hosts():
    c = gen.Corpus(SHAPE, 3)
    html = c.htmls()[c.url(5)]
    assert "Article 00000005:" in html
    assert "www.site" not in html  # every synth url was moved to a seeded host
    for t in synth.out_link_ids(5, SHAPE.n_pages):
        assert c.url(t) in html


def test_heavy_tail_mixes_small_and_large_pages():
    c = gen.Corpus(gen.Shape(400, 10, max_extra_paras=60, heavy_tail=True), 4)
    sizes = sorted(len(h) for h in c.htmls().values())
    assert sizes[0] < 3_000 and sizes[-1] > 20_000


def test_written_pages_match_the_generator(tmp_path):
    c = gen.Corpus(SHAPE, 5)
    c.write_pages(str(tmp_path), n_files=3)
    table = pq.read_table(str(tmp_path)).to_pydict()
    got = dict(zip(table["url"], (h.decode() for h in table["html"])))
    assert got == c.htmls()
