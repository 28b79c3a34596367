"""Tests of the benchmark's own pieces; no Spark session needed.

    python3 -m pytest pipebench/tests -q
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import oracle  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402
from spans import covered, self_time  # noqa: E402


class TestNormaliser:
    def test_column_order_and_row_order_do_not_matter(self):
        a = oracle.digest([(1, "x"), (2, "y")], ["id", "name"])
        b = oracle.digest([("y", 2), ("x", 1)], ["name", "id"])
        assert a == b

    def test_floats_compare_to_six_significant_digits(self):
        assert oracle.normalize([(0.1 + 0.2,)], ["v"]) == oracle.normalize([(0.3,)], ["v"])
        assert oracle.normalize([(1234567.0,)], ["v"]) != oracle.normalize([(1234578.0,)], ["v"])

    def test_null_and_nan_are_distinct(self):
        assert oracle.normalize([(None,), (float("nan"),)], ["v"]) == [("NULL",), ("NaN",)]

    def test_column_names_are_part_of_the_digest(self):
        assert oracle.digest([(1,)], ["a"]) != oracle.digest([(1,)], ["b"])

    def test_stored_digest_used_only_for_the_same_sql_and_fixture(self, monkeypatch):
        stored = {"q": {"key": oracle.sql_key("SELECT 1", "v1"), "digest": "stored"}}
        monkeypatch.setattr(oracle, "duck_digest", lambda sf_dir, sql: "live")
        assert oracle.expected_digest("q", "SELECT 1", "/x", "v1", stored) == "stored"
        assert oracle.expected_digest("q", "SELECT 2", "/x", "v1", stored) == "live"
        assert oracle.expected_digest("q", "SELECT 1", "/x", "v2", stored) == "live"


class TestSelfTime:
    def test_no_children(self):
        assert self_time(0.0, 5.0, []) == 5.0

    def test_sequential_children(self):
        assert self_time(0.0, 10.0, [(1.0, 3.0), (4.0, 8.0)]) == pytest.approx(4.0)

    def test_overlapping_children_count_once(self):
        assert covered(0.0, 10.0, [(1.0, 5.0), (3.0, 7.0)]) == pytest.approx(6.0)
        assert self_time(0.0, 10.0, [(1.0, 5.0), (3.0, 7.0)]) == pytest.approx(4.0)

    def test_children_are_clipped_to_the_parent(self):
        assert covered(2.0, 6.0, [(0.0, 3.0), (5.0, 9.0), (7.0, 8.0)]) == pytest.approx(2.0)


class TestTail:
    def test_too_few_samples_gives_the_maximum(self):
        assert stats.tail([3.0, 1.0, 2.0]) == (100, 3.0)
        assert stats.tail(list(range(10))) == (100, 9)

    def test_ten_samples_beyond(self):
        xs = list(range(1, 21))  # 20 samples: p50 is the 10th, with 10 above it
        assert stats.tail(xs) == (50, 10)

    def test_large_sample(self):
        xs = list(range(1, 1001))
        pct, value = stats.tail(xs)
        assert pct == 99 and value == 990
        assert sum(x > value for x in xs) >= 10


class _Boom(Exception):
    pass


class TestFailureCounting:
    """A wrong result or a raised error counts as a failed operation."""

    def _ctx(self, seconds=1):
        return workloads.Ctx(spark=None, run_dir="", seed=0, seconds=seconds, tracer=None, log=lambda m: None)

    def test_fail_counts(self):
        ctx = self._ctx()
        ctx.attempted = 3
        ctx.fail("wrong aggregate")
        assert (ctx.attempted, ctx.failed) == (3, 1)

    def test_wrong_query_result_is_a_failure(self, monkeypatch):
        ctx = self._ctx()
        monkeypatch.setattr(oracle, "expected_digest", lambda *a: oracle.digest([(1,)], ["n"]))
        fails = workloads.check_digests(ctx, {"q": [oracle.digest([(1,)], ["n"]), oracle.digest([(2,)], ["n"])]},
                                        {"q": "SELECT 1"}, "/x", {})
        assert fails == 1 and ctx.failed == 1
