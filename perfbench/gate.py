"""Correctness gate, checked outside the timed window.

- Schedule: the ordered ``(round, seq, url)`` rows the engine committed
  must equal ``scheduler.simulator.simulate_crawl`` on the same inputs.
- Extraction: each sampled output row must be byte-identical to a
  direct ``clean_html_for_extraction`` + ``extract_by_xpath_map`` call.

Every check returns what failed, so a mismatch is counted as a failed
operation (a round, or a page) rather than stopping the run.
"""

from __future__ import annotations

import hashlib
import json
from typing import Dict, Iterable, List, Optional, Set, Tuple

from langscrape_spark.html import clean_html_for_extraction, extract_by_xpath_map

Row = Tuple[int, int, str]


def schedule_md5(rows: Iterable[Row]) -> str:
    h = hashlib.md5()
    for r, s, u in sorted(rows):
        h.update(f"{r}\t{s}\t{u}\n".encode())
    return h.hexdigest()


def bad_rounds(got: Iterable[Row], want: Iterable[Row]) -> Set[int]:
    """Rounds whose ordered schedule differs between engine and oracle."""
    def by_round(rows):
        out: Dict[int, List[Tuple[int, str]]] = {}
        for r, s, u in rows:
            out.setdefault(r, []).append((s, u))
        return {r: sorted(v) for r, v in out.items()}

    g, w = by_round(got), by_round(want)
    return {r for r in set(g) | set(w) if g.get(r) != w.get(r)}


def _canon(extracted: dict) -> bytes:
    return json.dumps(extracted, sort_keys=True, ensure_ascii=False).encode("utf-8")


def bad_extractions(
    rows: Dict[str, Tuple[dict, Optional[str]]],
    htmls: Dict[str, str],
    field_map: dict,
) -> List[str]:
    """Urls of ``htmls`` whose engine row is missing or differs by a byte.

    ``rows`` maps url -> (extracted map, cleaned html or None when the
    engine did not keep it)."""
    bad = []
    for url, html in htmls.items():
        cleaned = clean_html_for_extraction(html)
        want = _canon(extract_by_xpath_map(cleaned, field_map))
        got = rows.get(url)
        if got is None or _canon(got[0]) != want:
            bad.append(url)
        elif got[1] is not None and got[1].encode("utf-8") != cleaned.encode("utf-8"):
            bad.append(url)
    return bad
