"""Unit tests of the benchmark's own logic; no JVM needed.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import decimal
import math
import statistics
import struct
import time

import numpy as np

import pytest

from perfbench import metrics
from perfbench.workloads import WORKLOADS, pass_order


class TestTailPercentile:
    @pytest.mark.parametrize(
        "n, p",
        [(1, 50), (5, 50), (19, 50), (20, 50), (28, 64), (84, 88), (99, 89),
         (100, 90), (200, 95), (1000, 99), (100_000, 99)],
    )
    def test_ten_samples_beyond(self, n, p):
        assert metrics.tail_percentile(n) == p

    def test_at_least_ten_beyond_whenever_a_tail_is_chosen(self):
        for n in range(20, 2000):
            p = metrics.tail_percentile(n)
            assert n * (100 - p) / 100 >= metrics.MIN_BEYOND
            # one percentile higher would leave fewer than ten beyond it
            assert p == 99 or n * (99 - p) / 100 < metrics.MIN_BEYOND

    def test_percentile_interpolates(self):
        values = list(range(1, 102))  # 1..101
        assert metrics.percentile(values, 90) == pytest.approx(91.0)
        assert metrics.percentile(values, 50) == statistics.median(values)

    def test_percentile_of_one_sample(self):
        assert metrics.percentile([2.5], 90) == 2.5
        with pytest.raises(ValueError):
            metrics.percentile([], 50)


class TestSelfTime:
    @staticmethod
    def span(id_, parent, start, end):
        return {"id": id_, "parent": parent, "start": start, "end": end}

    def test_leaf_self_time_is_its_duration(self):
        got = metrics.self_times([self.span(1, None, 2.0, 5.5)])
        assert got == {1: pytest.approx(3.5)}

    def test_children_subtracted_overlaps_counted_once(self):
        spans = [
            self.span(1, None, 0.0, 10.0),
            self.span(2, 1, 1.0, 3.0),
            self.span(3, 1, 2.0, 5.0),  # overlaps 2: together 1..5
            self.span(4, 1, 8.0, 12.0),  # runs past the parent: clipped to 8..10
            self.span(5, 2, 1.5, 2.5),  # grandchild: only its parent's self shrinks
        ]
        got = metrics.self_times(spans)
        assert got[1] == pytest.approx(10.0 - 4.0 - 2.0)
        assert got[2] == pytest.approx(2.0 - 1.0)
        assert got[3] == pytest.approx(3.0)
        assert got[4] == pytest.approx(4.0)
        assert got[5] == pytest.approx(1.0)

    def test_union_seconds(self):
        assert metrics.union_seconds([]) == 0.0
        assert metrics.union_seconds([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)
        assert metrics.union_seconds([(3, 4), (0, 1), (1, 2)]) == pytest.approx(3.0)


class TestDigest:
    COLS = ["b", "a"]
    ROWS = [(1, "x"), (2.5, "y"), (None, "z")]

    def test_row_order_insensitive(self):
        assert metrics.digest(self.COLS, self.ROWS) == metrics.digest(
            self.COLS, list(reversed(self.ROWS))
        )

    def test_column_order_insensitive(self):
        swapped = [(a, b) for b, a in self.ROWS]
        assert metrics.digest(["a", "b"], swapped) == metrics.digest(self.COLS, self.ROWS)

    def test_value_and_count_sensitive(self):
        base = metrics.digest(self.COLS, self.ROWS)
        assert metrics.digest(self.COLS, [(1, "x"), (2.5, "y"), (0, "z")]) != base
        assert metrics.digest(self.COLS, self.ROWS + [self.ROWS[0]]) != base
        assert metrics.digest(self.COLS, self.ROWS).startswith("3:")

    def test_nan_payloads_normalized(self):
        other_nan = struct.unpack("<d", struct.pack("<Q", 0x7FF8000000000BAD))[0]
        assert math.isnan(other_nan)
        assert metrics.digest(["x"], [(float("nan"),)]) == metrics.digest(
            ["x"], [(other_nan,)]
        )
        assert metrics.digest(["x"], [(float("nan"),)]) != metrics.digest(["x"], [(None,)])

    def test_negative_zero_kept_apart_like_the_bitwise_compare(self):
        # tools/driver_dryrun.py compares float bytes, so -0.0 != 0.0 there
        assert metrics.digest(["x"], [(-0.0,)]) != metrics.digest(["x"], [(0.0,)])

    def test_numbers_compare_by_value_across_types(self):
        expected = metrics.digest(["x"], [(2.5,)])
        assert metrics.digest(["x"], [(decimal.Decimal("2.5"),)]) == expected
        assert metrics.digest(["x"], [(np.float32(2.5),)]) == expected
        assert metrics.digest(["x"], [(2,)]) == metrics.digest(["x"], [(2.0,)])

    def test_nested_values(self):
        a = metrics.digest(["m"], [({"k": 1, "j": [1.0, None]},)])
        b = metrics.digest(["m"], [({"j": [1.0, None], "k": 1},)])
        assert a == b


class TestFailureCounting:
    def test_ok_operation(self):
        ok, sec = metrics.run_checked(lambda: 41, lambda r: r == 41)
        assert ok and sec >= 0

    def test_raise_counts_as_failure(self):
        def boom():
            raise RuntimeError("operator failed")

        assert metrics.run_checked(boom, lambda r: True)[0] is False

    def test_wrong_result_counts_as_failure(self):
        assert metrics.run_checked(lambda: 1, lambda r: r == 2)[0] is False

    def test_raising_check_counts_as_failure(self):
        assert metrics.run_checked(lambda: None, lambda r: r[0])[0] is False

    def test_check_is_not_timed(self):
        _, sec = metrics.run_checked(lambda: 0, lambda r: time.sleep(0.2) or True)
        assert sec < 0.1

    def test_tally(self):
        t = metrics.Tally()
        assert t.fail_ratio() == 0.0
        for ok in (True, False, True, True):
            t.record(ok)
        assert (t.attempted, t.failed) == (4, 1)
        assert t.fail_ratio() == 0.25


class TestWorkloads:
    def test_pass_order_is_a_seeded_permutation_of_sorted_names(self):
        names = WORKLOADS["sql_analytics"].names
        a = pass_order(names, 7, 0)
        assert sorted(a) == sorted(names)
        assert a == pass_order(tuple(reversed(names)), 7, 0)
        assert a != pass_order(names, 8, 0)
        assert a != pass_order(names, 7, 1)

    def test_membership_is_frozen_and_distinct(self):
        for w in WORKLOADS.values():
            assert len(set(w.names)) == len(w.names)
