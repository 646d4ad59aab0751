from langscrape_spark import synth
from langscrape_spark.html import clean_html_for_extraction, extract_by_xpath_map
from perfbench import gate

SCHED = [(0, 0, "https://a/1"), (0, 1, "https://b/1"), (1, 0, "https://a/2"), (1, 1, "https://c/9")]


def test_identical_schedule_passes():
    assert gate.bad_rounds(SCHED, list(reversed(SCHED))) == set()
    assert gate.schedule_md5(SCHED) == gate.schedule_md5(list(reversed(SCHED)))


def test_swapped_schedule_rows_fail():
    within = [SCHED[1][:2] + SCHED[0][2:], SCHED[0][:2] + SCHED[1][2:]] + SCHED[2:]
    assert gate.bad_rounds(within, SCHED) == {0}
    across = [SCHED[0], (0, 1, SCHED[2][2]), (1, 0, SCHED[1][2]), SCHED[3]]
    assert gate.bad_rounds(across, SCHED) == {0, 1}
    assert gate.schedule_md5(across) != gate.schedule_md5(SCHED)


def test_missing_round_fails():
    assert gate.bad_rounds(SCHED[:2], SCHED) == {1}


def _rows(urls):
    out = {}
    for u in urls:
        cleaned = clean_html_for_extraction(synth.page_html(int(u), 50))
        out[u] = (extract_by_xpath_map(cleaned, synth.FIELD_MAP), cleaned)
    return out


HTMLS = {str(i): synth.page_html(i, 50) for i in (3, 4)}


def test_exact_extraction_passes():
    assert gate.bad_extractions(_rows(HTMLS), HTMLS, synth.FIELD_MAP) == []


def test_one_byte_corrupted_extraction_fails():
    rows = _rows(HTMLS)
    extracted, cleaned = rows["3"]
    title = extracted["title"][0]
    bad = dict(extracted, title=[title[:-1] + chr(ord(title[-1]) ^ 1)])
    rows["3"] = (bad, cleaned)
    assert gate.bad_extractions(rows, HTMLS, synth.FIELD_MAP) == ["3"]


def test_one_byte_corrupted_cleaned_html_fails():
    rows = _rows(HTMLS)
    extracted, cleaned = rows["4"]
    rows["4"] = (extracted, cleaned.replace("<p>", "<P>", 1))
    assert gate.bad_extractions(rows, HTMLS, synth.FIELD_MAP) == ["4"]


def test_missing_row_fails():
    rows = _rows(HTMLS)
    del rows["4"]
    assert gate.bad_extractions(rows, HTMLS, synth.FIELD_MAP) == ["4"]
