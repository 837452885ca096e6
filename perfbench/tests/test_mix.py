import datetime as dt

import pandas as pd
import pytest

from clp_spark.fixtures.pages import generate_pages_pdf
from perfbench import mix


@pytest.fixture(scope="module")
def pages():
    return generate_pages_pdf(0, 3000, seed=5)


def _rounds(pages, seed, classes, k=3):
    src = mix.MixSource(pages, seed)
    it = src.rounds(classes)
    return [next(it) for _ in range(k)]


@pytest.mark.parametrize("classes", [mix.ARCHIVE_CLASSES, mix.STREAM_CLASSES])
def test_mix_is_deterministic_per_seed(pages, classes):
    assert _rounds(pages, 7, classes) == _rounds(pages, 7, classes)
    assert _rounds(pages, 7, classes) != _rounds(pages, 8, classes)


@pytest.mark.parametrize("classes", [mix.ARCHIVE_CLASSES, mix.STREAM_CLASSES])
def test_every_round_holds_each_class_once(pages, classes):
    for r in _rounds(pages, 3, classes, k=5):
        assert sorted(q.cls for q in r) == sorted(classes)


def test_queries_hit_except_the_infeasible_class(pages):
    for r in _rounds(pages, 11, mix.ARCHIVE_CLASSES, k=5):
        for q in r:
            n = mix.reference_count(pages, q)
            assert (n == 0) == (q.cls == "infeasible"), q


def test_wildcards_are_substring_and_span_lines():
    text = pd.DataFrame({
        "text": ["a stack\n  overflow b", "stack overflow", "no match", "x.y"],
        "warc_ts": pd.to_datetime(["2025-01-01"] * 4),
    })
    assert mix.reference_count(text, mix.Query("static", "stack*overflow")) == 2
    assert mix.reference_count(text, mix.Query("static", "stack overflow")) == 1
    # '.' is literal, '?' is one character
    assert mix.reference_count(text, mix.Query("static", "x?y")) == 1
    assert mix.reference_count(text, mix.Query("static", "x.?")) == 1


def test_ts_range_is_inclusive_and_matches_kql_bounds():
    t = pd.to_datetime(["2025-01-01 00:00:00", "2025-01-01 00:00:01", "2025-01-01 00:00:02"])
    text = pd.DataFrame({"text": ["k"] * 3, "warc_ts": t})
    lo, hi = dt.datetime(2025, 1, 1, 0, 0, 0), dt.datetime(2025, 1, 1, 0, 0, 1)
    q = mix.Query("ts_range", "k", ts_range=(lo, hi))
    assert mix.reference_count(text, q) == 2
    assert q.ts_ms() == (1735689600000, 1735689601000)
    assert q.kql() == 'message: "*k*" AND ts_ms >= 1735689600000 AND ts_ms <= 1735689601000'


def test_ts_windows_hold_a_hit(pages):
    src = mix.MixSource(pages, 2)
    for _ in range(200):
        q = src.query("ts_range")
        assert mix.reference_count(pages, q) > 0, q
        lo, hi = q.ts_range
        assert lo.microsecond == hi.microsecond == 0
