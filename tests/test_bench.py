"""Unit tests for bench.py's query rows: every row must resolve to a
registry entry, and the headline must stay the BASELINE.md ten so its
``value`` remains comparable to the recorded baseline total."""

from __future__ import annotations

import re
from pathlib import Path

import pytest

from bench import HEADLINE, SENTINELS
from map_reduce_engine_spark.queries import REGISTRY

pytestmark = pytest.mark.quick


def test_every_bench_row_names_a_registry_entry():
    missing = [reg for _, reg, _ in HEADLINE + SENTINELS if reg not in REGISTRY]
    assert missing == []


def test_bench_names_are_unique():
    names = [b for b, _, _ in HEADLINE + SENTINELS]
    assert len(names) == len(set(names)) == 23


def test_headline_is_the_ten_baseline_queries():
    """BASELINE.md's "Baseline definition" table lists Q1-Q10; the headline
    rows are exactly those, in order, and the sentinels continue at q11."""
    text = (Path(__file__).resolve().parents[1] / "BASELINE.md").read_text()
    table = text.split("## Baseline definition", 1)[1].split("\n## ", 1)[0]
    baseline = re.findall(r"^\| Q(\d+) ", table, flags=re.M)
    assert baseline == [str(i) for i in range(1, 11)]
    assert [b.split("_")[0] for b, _, _ in HEADLINE] == [f"q{i}" for i in baseline]
    assert [b.split("_")[0] for b, _, _ in SENTINELS] == [f"q{i}" for i in range(11, 24)]
