"""BENCH/PLANS.md must cover every bench headline query (r6 VERDICT
wrong #1: a hand-maintained plan list silently lagged the bench and
three headline entries had no snapshot). The bench's own AST is the
single source of truth for the headline; dump_plans.py renders from it
and this test pins the file's coverage so the audit surface cannot lag
again. In reverse, every section and every plans/r07 snapshot must name
a live query, so retiring a query cannot leave its plans behind."""

from __future__ import annotations

import os
import re
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(_ROOT, "scripts"))

import __spark_entry__ as entrymod  # noqa: E402
from dump_plans import bench_headline  # noqa: E402


def test_every_bench_headline_query_has_a_plan_section():
    plans = open(os.path.join(_ROOT, "BENCH", "PLANS.md")).read()
    sections = set(re.findall(r"^## (\S+)$", plans, re.M))
    headline = set(bench_headline())
    missing = sorted(headline - sections)
    assert not missing, (
        f"BENCH/PLANS.md lacks plan sections for bench headline queries: "
        f"{missing}; regenerate with `python scripts/dump_plans.py`"
    )

    # the reverse: no section and no plans/r07 snapshot outlives its
    # query (snapshots are named <query>_<tag>.txt)
    names = set(entrymod.queries())
    stale = sorted(sections - names)
    assert not stale, f"BENCH/PLANS.md sections for removed queries: {stale}"
    snaps = os.listdir(os.path.join(_ROOT, "plans", "r07"))
    stale = sorted(
        f for f in snaps if not any(f.startswith(f"{n}_") for n in names)
    )
    assert not stale, f"plans/r07 snapshots for removed queries: {stale}"
