"""Tests of the metric arithmetic: python3 -m unittest discover -s perfbench/tests"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import metrics  # noqa: E402


def span(i, name, start, end, parent=0, op=1):
    return {"id": i, "name": name, "start": start, "end": end, "parent": parent, "op": op}


class PercentileRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond(self):
        values = list(range(1, 101))
        v, used = metrics.tail_percentile(values)
        self.assertEqual(used, 0.9)
        self.assertEqual(v, 90)
        self.assertEqual(sum(1 for x in values if x > v), 10)

    def test_fewer_samples_fall_back_to_a_lower_percentile(self):
        values = list(range(1, 51))
        v, used = metrics.tail_percentile(values)
        self.assertLess(used, 0.9)
        self.assertGreaterEqual(sum(1 for x in values if x > v), 10)
        # and it is the highest such percentile
        self.assertEqual(sum(1 for x in values if x > v), 10)

    def test_large_samples_keep_p90(self):
        values = list(range(1000))
        _, used = metrics.tail_percentile(values)
        self.assertEqual(used, 0.9)
        self.assertGreaterEqual(metrics.beyond(1000, 0.9), 10)

    def test_nearest_rank(self):
        self.assertEqual(metrics.percentile([3, 1, 2], 0.5), 2)
        self.assertEqual(metrics.percentile([5], 0.9), 5)


class GeometricMean(unittest.TestCase):
    def test_value(self):
        self.assertAlmostEqual(metrics.geomean([1.0, 4.0]), 2.0)

    def test_a_change_to_any_op_moves_it_alike(self):
        ops = [0.2, 0.5, 1.6]
        base = metrics.geomean(ops)
        for i in range(len(ops)):
            slower = list(ops)
            slower[i] *= 1.21
            self.assertAlmostEqual(metrics.geomean(slower) / base, 1.21 ** (1 / 3))


# the listener records of a query op that planned and ran one job
GROUP = {"planned": True, "construct": {"jobs": 1, "jobs_ended": 1},
         "action": {"jobs": 1, "jobs_ended": 1}}


class SelfTime(unittest.TestCase):
    def test_union_of_overlapping_children(self):
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(metrics.union_length([]), 0)

    def test_parent_keeps_only_the_time_its_children_leave(self):
        spans = [span(1, "action", 0, 100),
                 span(2, "plan", 0, 20, parent=1),
                 span(3, "snapshot.read", 20, 100, parent=1),
                 span(4, "exec.job", 30, 60, parent=3),
                 span(5, "exec.job", 50, 90, parent=3)]
        layers = metrics.op_layers(spans)[1]
        self.assertAlmostEqual(layers["plan"], 20 / 1e6)
        self.assertAlmostEqual(layers["exec"], 60 / 1e6)
        self.assertAlmostEqual(layers["snapshot"], 20 / 1e6)

    def test_children_are_clipped_to_the_parent(self):
        spans = [span(1, "op", 10, 20), span(2, "construct.job", 0, 30, parent=1)]
        self.assertAlmostEqual(metrics.op_layers(spans)[1]["construct"], 10 / 1e6)

    def test_layers_sum_to_the_op_wall(self):
        op = {"id": 1, "kind": "query", "start": 0, "split": 400_000, "act": 450_000, "end": 1_450_000}
        spans = [span(1, "op", 0, 1_450_000),
                 span(2, "construct", 0, 400_000, parent=1),
                 span(3, "construct.job", 100_000, 300_000, parent=2),
                 span(4, "action", 450_000, 1_450_000, parent=1),
                 span(5, "plan", 450_000, 550_000, parent=4),
                 span(6, "exec", 550_000, 1_450_000, parent=4),
                 span(7, "exec.job", 600_000, 1_400_000, parent=6)]
        layers = metrics.op_layers(spans)[1]
        self.assertAlmostEqual(layers["construct"], 0.4)
        self.assertAlmostEqual(layers["plan"], 0.1)
        self.assertAlmostEqual(layers["exec"], 0.9)
        self.assertAlmostEqual(metrics.wall(op), 1.4)
        self.assertTrue(metrics.covered(op, layers, GROUP))
        self.assertFalse(metrics.covered(op, {"exec": 0.9}, GROUP))

    def test_overlapping_jobs_count_once(self):
        spans = [span(1, "op", 0, 100),
                 span(2, "action", 0, 100, parent=1),
                 span(3, "plan", 0, 10, parent=2),
                 span(4, "exec", 10, 100, parent=2),
                 span(5, "exec.job", 20, 80, parent=4),
                 span(6, "exec.job", 30, 90, parent=4)]
        layers = metrics.op_layers(spans)[1]
        self.assertAlmostEqual(layers["exec"], 90 / 1e6)
        self.assertAlmostEqual(layers["plan"], 10 / 1e6)

    def test_uncovered_glue_counts_for_no_layer(self):
        spans = [span(1, "op", 0, 100),
                 span(2, "construct", 0, 40, parent=1),
                 span(3, "action", 50, 100, parent=1),
                 span(4, "snapshot.commit", 50, 100, parent=3),
                 span(5, "exec.job", 60, 70, parent=4)]
        layers = metrics.op_layers(spans)[1]
        self.assertAlmostEqual(sum(layers.values()), 90 / 1e6)
        self.assertAlmostEqual(layers["snapshot"], 40 / 1e6)
        self.assertAlmostEqual(layers["exec"], 10 / 1e6)


class Evidence(unittest.TestCase):
    OP = {"id": 1, "kind": "query", "start": 0, "split": 10, "act": 10, "end": 100}
    LAYERS = {"construct": 10 / 1e6, "exec": 90 / 1e6}

    def test_a_query_op_without_a_plan_record_is_not_covered(self):
        group = dict(GROUP, planned=False)
        self.assertEqual(metrics.missing_evidence(self.OP, group), ["no plan record"])
        # exec absorbed the missing plan, so the spans alone still sum up
        self.assertFalse(metrics.covered(self.OP, self.LAYERS, group))
        self.assertTrue(metrics.covered(self.OP, self.LAYERS, GROUP))

    def test_an_op_without_job_records_is_not_covered(self):
        op = dict(self.OP, kind="snapshot.commit")
        group = {"action": {"jobs": 0, "jobs_ended": 0}}
        self.assertEqual(metrics.missing_evidence(op, group), ["no job record"])
        self.assertFalse(metrics.covered(op, {"snapshot": 100 / 1e6}, group))

    def test_a_job_without_an_end_is_reported(self):
        group = dict(GROUP, construct={"jobs": 2, "jobs_ended": 1})
        self.assertEqual(metrics.missing_evidence(self.OP, group),
                         ["construct job without an end"])


class WholePasses(unittest.TestCase):
    def test_partial_pass_is_left_out(self):
        ops = [{"pass": p} for p in (0, 0, 0, 1, 1)]
        raw = {"pass_size": 3, "ops": ops}
        self.assertEqual(len(metrics.whole_passes(raw)), 3)

    def test_no_whole_pass_keeps_every_op(self):
        raw = {"pass_size": 3, "ops": [{"pass": 0}]}
        self.assertEqual(len(metrics.whole_passes(raw)), 1)

    def test_warm_up_passes_are_left_out(self):
        ops = [{"pass": p} for p in (0, 0, 1, 1, 1, 2)]
        raw = {"pass_size": 3, "first_pass": 1, "ops": ops}
        self.assertEqual([o["pass"] for o in metrics.whole_passes(raw)], [1, 1, 1])


if __name__ == "__main__":
    unittest.main()
