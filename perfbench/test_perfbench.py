"""Tests of the benchmark's own arithmetic and generator.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import hashlib
import json
import os
import shutil
import statistics
import tempfile
import unittest

import k8sgen
import run
import stats


class QuantileTest(unittest.TestCase):
    def test_median_odd_and_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_quantile_interpolates(self):
        xs = [10, 20, 30, 40, 50]
        self.assertEqual(stats.quantile(xs, 0.0), 10)
        self.assertEqual(stats.quantile(xs, 0.5), 30)
        self.assertEqual(stats.quantile(xs, 1.0), 50)
        self.assertAlmostEqual(stats.quantile(xs, 0.9), 46.0)
        self.assertAlmostEqual(stats.quantile([1, 2], 0.25), 1.25)

    def test_quantile_single_sample(self):
        self.assertEqual(stats.quantile([7.5], 0.9), 7.5)

    def test_spread_matches_statistics_quartiles(self):
        xs = [1.0, 1.1, 0.9, 1.3, 1.2, 1.0, 0.95, 1.05, 1.15, 1.02]
        q1, _, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.spread(xs),
                               (q3 - q1) / statistics.median(xs))

    def test_spread_of_constant_is_zero(self):
        self.assertEqual(stats.spread([2.0] * 5), 0.0)


class SelfTimeTest(unittest.TestCase):
    @staticmethod
    def span(i, parent, a, b):
        return {"id": i, "parent": parent, "start_ns": a, "end_ns": b,
                "name": "s%d" % i}

    def test_leaf_self_time_is_duration(self):
        self.assertEqual(stats.self_times([self.span(1, 0, 5, 9)]), {1: 4})

    def test_children_are_subtracted(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 10, 30),
                 self.span(3, 1, 50, 60)]
        self.assertEqual(stats.self_times(spans)[1], 70)

    def test_overlapping_children_count_once(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 10, 40),
                 self.span(3, 1, 30, 50)]
        self.assertEqual(stats.self_times(spans)[1], 60)

    def test_child_outside_parent_is_clipped(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 90, 120)]
        self.assertEqual(stats.self_times(spans)[1], 90)

    def test_grandchildren_count_against_their_parent_only(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 0, 50),
                 self.span(3, 2, 0, 20)]
        st = stats.self_times(spans)
        self.assertEqual((st[1], st[2], st[3]), (50, 30, 20))

    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.union_length([]), 0)


class GeneratorTest(unittest.TestCase):
    SMALL = dict(pods=300, nodes=12, services=20)

    def digest(self, seed):
        files, mix = k8sgen.generate(seed, **self.SMALL)
        return ({k: hashlib.sha256(v).hexdigest() for k, v in files.items()},
                mix)

    def test_same_seed_same_bytes(self):
        self.assertEqual(self.digest(11), self.digest(11))

    def test_other_seed_other_bytes(self):
        self.assertNotEqual(self.digest(11)[0], self.digest(12)[0])

    def test_fixture_coverage(self):
        files, _ = k8sgen.generate(3, **self.SMALL)
        pods = json.loads(files["pods.json"])["items"]
        self.assertTrue(any(len(p["spec"]["containers"]) > 1 for p in pods))
        pending = [p for p in pods if p["status"]["phase"] == "Pending"]
        self.assertTrue(pending)
        self.assertTrue(all("containerStatuses" not in p["status"]
                            for p in pending))
        emails = [p["metadata"]["annotations"].get("email") for p in pods]
        self.assertIn(None, emails)
        self.assertIn("", emails)
        self.assertTrue(any(emails))
        counts = [s.get("restartCount", "absent") for p in pods
                  for s in p["status"].get("containerStatuses", [])]
        self.assertIn(0, counts)
        self.assertIn("absent", counts)

    def test_expected_rows_follow_the_data(self):
        files, mix = k8sgen.generate(5, **self.SMALL)
        pods = json.loads(files["pods.json"])["items"]
        images = [c["image"] for p in pods for c in p["spec"]["containers"]]
        count_sql, count_rows = mix[0]
        self.assertIn("count(*)", count_sql)
        self.assertEqual(count_rows,
                         [(sum(i.startswith("mysql") for i in images),)])
        lookup_rows = mix[4][1]
        self.assertEqual(len(lookup_rows), 1)

    def test_match_is_order_independent_multiset(self):
        expected = [("a", 1), ("b", None), ("a", 1)]
        body = json.dumps({"headers": ["x", "y"],
                           "data": [["b", None], ["a", 1], ["a", 1]]})
        self.assertTrue(k8sgen.matches(body, expected))
        short = json.dumps({"headers": ["x", "y"],
                            "data": [["b", None], ["a", 1]]})
        self.assertFalse(k8sgen.matches(short, expected))
        self.assertFalse(k8sgen.matches("error: boom", expected))


class FingerprintTest(unittest.TestCase):
    def test_order_independent(self):
        rows = [(1, "a", 2.5), (2, "b", None)]
        self.assertEqual(run.fingerprint(rows),
                         run.fingerprint(list(reversed(rows))))

    def test_ignores_last_bit_float_noise(self):
        self.assertEqual(run.fingerprint([(0.1 + 0.2,)]),
                         run.fingerprint([(0.3,)]))

    def test_detects_changed_value(self):
        self.assertNotEqual(run.fingerprint([(1, "a")]),
                            run.fingerprint([(1, "b")]))


class SourceKeyTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()
        self.root = os.path.join(self.tmp, "a")
        for f in ("build.sbt", "src/main/scala/A.scala",
                  "perfbench/src/main/scala/B.scala", "project/target/x"):
            path = os.path.join(self.root, f)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "w") as out:
                out.write("x")

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def test_source_edit_changes_key(self):
        before = run.source_key(self.root)
        self.assertEqual(before, run.source_key(self.root))
        with open(os.path.join(self.root, "perfbench/src/main/scala/B.scala"),
                  "a") as f:
            f.write("y")
        self.assertNotEqual(before, run.source_key(self.root))

    def test_build_output_does_not_change_key(self):
        before = run.source_key(self.root)
        with open(os.path.join(self.root, "project/target/x"), "a") as f:
            f.write("y")
        self.assertEqual(before, run.source_key(self.root))

    def test_copied_checkout_has_its_own_key(self):
        copy = os.path.join(self.tmp, "b")
        shutil.copytree(self.root, copy, copy_function=shutil.copy2)
        self.assertNotEqual(run.source_key(self.root), run.source_key(copy))

    def test_inside(self):
        self.assertTrue(run.inside(self.root, os.path.join(self.root, "t")))
        self.assertFalse(run.inside(self.root, self.root + "x"))
        self.assertFalse(run.inside(self.root, self.tmp))


if __name__ == "__main__":
    unittest.main()
