"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import check
import stats


def span(i, parent, start, end, name="s"):
    return {"id": i, "parent": parent, "start": start, "end": end, "name": name}


class PercentileTest(unittest.TestCase):
    def test_position_is_the_midpoint_of_the_share(self):
        self.assertEqual(stats.position(10, 50), 4.5)    # between the 5th and 6th
        self.assertEqual(stats.position(15, 90), 13.0)   # the 14th of 15
        self.assertEqual(stats.position(40, 75), 29.5)
        self.assertEqual(stats.position(5, 99), 4.0)     # clipped to the last
        self.assertEqual(stats.position(5, 1), 0.0)      # and to the first
        self.assertEqual(stats.position(1, 50), 0.0)

    def test_percentile_interpolates(self):
        vals = list(range(1, 101))[::-1]
        self.assertEqual(stats.percentile(vals, 90), 90.5)
        self.assertEqual(stats.percentile(vals, 50), 50.5)
        self.assertEqual(stats.percentile([5.0], 90), 5.0)
        self.assertEqual(stats.percentile([], 90), 0.0)
        for vals in ([3, 1, 2], [4, 1, 2, 3], [7, 7.5]):
            self.assertEqual(stats.percentile(vals, 50), stats.median(vals))

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)
        self.assertEqual(stats.median([]), 0.0)


class SelfTimeTest(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.union_length([(0, 10)], 2, 5), 3)
        self.assertEqual(stats.union_length([(8, 12)], 0, 10), 2)
        self.assertEqual(stats.union_length([]), 0)

    def test_self_time_subtracts_children(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 10, 40), span(2, 0, 50, 90),
                 span(3, 1, 20, 30)]
        self.assertEqual(stats.self_times(spans), {0: 30, 1: 20, 2: 40, 3: 10})

    def test_overlapping_children_count_once(self):
        # two jobs running at once inside one span
        spans = [span(0, -1, 0, 100)]
        got = stats.self_times(spans, [(0, 10, 60), (0, 40, 80)])
        self.assertEqual(got, {0: 30})

    def test_child_outside_parent_is_clipped(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 90, 130)]
        self.assertEqual(stats.self_times(spans)[0], 90)

    def test_self_times_sum_to_root_wall(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 0, 60), span(2, 0, 60, 95),
                 span(3, 1, 5, 50)]
        extra = [(2, 70, 90), (3, 10, 40)]
        selfs = stats.self_times(spans, extra)
        total = selfs[0] + selfs[1] + selfs[2] + selfs[3] + 20 + 30
        self.assertAlmostEqual(total, 100)


class AttributionTest(unittest.TestCase):
    def setUp(self):
        # op(0) > statement(1) then format(2); format ends at 30.4
        self.spans = [span(0, -1, 0.2, 40.0, "op"), span(1, 0, 0.5, 10.7, "engine.statement"),
                      span(2, 0, 10.9, 30.4, "engine.format")]

    def test_innermost_span_wins(self):
        self.assertEqual(stats.attribute(5, self.spans), 1)
        self.assertEqual(stats.attribute(20, self.spans), 2)
        self.assertEqual(stats.attribute(35, self.spans), 0)

    def test_truncated_millisecond_counts_from_span_floor(self):
        # a job submitted at 10.95 is stamped 10: inside format, whose
        # start floors to 10, not in the statement that ended at 10.7
        self.assertEqual(stats.attribute(10, self.spans), 2)

    def test_outside_every_span(self):
        self.assertIsNone(stats.attribute(41, self.spans))
        self.assertIsNone(stats.attribute(-1, self.spans))


class CheckTest(unittest.TestCase):
    def test_table_output_parses_per_statement(self):
        text = ("+---+-----+\n| n | s   |\n+---+-----+\n| 1 | ab  |\n| 2 |     |\n"
                "+---+-----+\n++\n++")
        got = check.parse_table(text)
        self.assertEqual(got, [(["n", "s"], [["1", "ab"], ["2", ""]]), ([], [])])

    def test_equal_up_to_order_float_noise_and_cell_types(self):
        want = (["a", "b"], [(2, 0.30000000000000004), (1, None)])
        got = (["a", "b"], [["1", ""], ["2", "0.3"]])
        self.assertIsNone(check.same(check.canonical(*got), check.canonical(*want)))

    def test_wrong_value_is_reported(self):
        want = (["a"], [(1,), (2,)])
        got = (["a"], [["1"], ["3"]])
        self.assertIsNotNone(check.same(check.canonical(*got), check.canonical(*want)))

    def test_json_output_missing_field_is_null(self):
        got = check.parse_json('[]\n[{"a":1},{"a":2,"b":"x"}]', [[], ["a", "b"]])
        self.assertEqual(got[1], (["a", "b"], [[1, None], [2, "x"]]))


if __name__ == "__main__":
    unittest.main()
