"""bench.py's fixed query surfaces: the headline subset is pinned to
real registry specs, and the printed keep-list covers every query the
committed records printed."""

import json
import os

from bench import HEADLINE, PRINT_PRIORITY
from lofar_bf_pulsar_scripts_spark.registry import HEADLINE_QUERIES, specs

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_headline_queries_exist_and_are_distinct():
    names = {s.name for s in specs()}
    missing = [n for n in HEADLINE_QUERIES if n not in names]
    assert not missing, missing
    assert len(HEADLINE_QUERIES) == len(set(HEADLINE_QUERIES))
    # "~50 structurally distinct plans" (r11 VERDICT item 8)
    assert 45 <= len(HEADLINE_QUERIES) <= 70


def test_print_priority_covers_committed_printed_sets():
    """The printed bench line must never silently evict queries the
    committed bench series already tracks: the HEADLINE +
    PRINT_PRIORITY keep-list must cover every query name the committed
    r13 and r14 records printed."""
    keep = set(HEADLINE) | set(PRINT_PRIORITY)
    for rec_name in ("BENCH_r13.json", "BENCH_r14.json"):
        rec = json.load(open(os.path.join(REPO, rec_name)))
        printed = set((rec.get("parsed") or {}).get("queries") or {})
        assert printed <= keep, (rec_name, sorted(printed - keep))
