"""Tests of the benchmark's own code. Run from the repository root:

    python3 -m unittest discover -s loadbench -p 'test_*.py'

The generator test builds the engine and starts one JVM per seed."""

import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_needs_eleven_samples(self):
        self.assertIsNone(stats.tail(range(10)))

    def test_eleven_samples_give_the_minimum(self):
        value, pct, n = stats.tail(range(11))
        self.assertEqual((value, n), (0, 11))
        self.assertAlmostEqual(pct, 100.0 / 11)

    def test_ten_samples_beyond(self):
        xs = list(range(100, 0, -1))  # unsorted input
        value, pct, n = stats.tail(xs)
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        self.assertEqual((value, pct, n), (90, 90.0, 100))

    def test_percentile_rises_with_samples(self):
        self.assertAlmostEqual(stats.tail(range(1000))[1], 99.0)


class SelfTime(unittest.TestCase):
    def span(self, i, parent, a, b, op=0, name="x"):
        return {"id": i, "parent": parent, "op": op, "name": name,
                "start": a, "end": b}

    def test_children_overlapping_and_clipped(self):
        spans = [self.span(0, -1, 0, 10), self.span(1, 0, 1, 3),
                 self.span(2, 0, 2, 5), self.span(3, 0, 8, 12)]
        st = stats.self_times(spans)
        # children cover [1,5] and [8,10] of the parent: 6 of its 10
        self.assertAlmostEqual(st[0], 4.0)
        self.assertEqual((st[1], st[2], st[3]), (2, 3, 4))

    def test_nested_grandchild_only_charged_to_its_parent(self):
        spans = [self.span(0, -1, 0, 10), self.span(1, 0, 2, 8),
                 self.span(2, 1, 3, 4)]
        st = stats.self_times(spans)
        self.assertEqual((st[0], st[1], st[2]), (4, 5, 1))

    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)], 0, 10), 4)
        self.assertEqual(stats.union_length([(-5, 20)], 0, 10), 10)
        self.assertEqual(stats.union_length([], 0, 10), 0)

    def test_table_open_jobs_become_model_spans(self):
        spans = [self.span(0, -1, 0, 10, name="entry.construct")]
        jobs = [{"id": 1, "op": 0, "start": 2, "end": 4, "site": "parquet at Tables.scala:88"},
                {"id": 2, "op": 0, "start": 5, "end": 6, "site": "collect at SparkEntry.scala:9"}]
        out = stats.with_job_spans(spans, jobs)
        model = [s for s in out if s["name"] == "model.open"]
        self.assertEqual(len(model), 1)
        self.assertEqual(model[0]["parent"], 0)
        self.assertAlmostEqual(stats.self_times(out)[0], 8.0)
        self.assertEqual(jobs[1]["in"], "entry.construct")

    def test_overhead_ratio_matches_names(self):
        ops = [{"name": n, "traced": t, "start": 0, "end": d}
               for n, t, d in (("a", True, 11), ("a", False, 10),
                               ("b", True, 22), ("b", False, 20), ("c", True, 99))]
        self.assertAlmostEqual(stats.overhead_ratio(ops), 33 / 30)


class GeneratorDeterminism(unittest.TestCase):
    """The same seed gives byte-identical inputs; another seed does not."""

    def digests(self, classes, seed):
        root = tempfile.mkdtemp(prefix="loadbench-gen-", dir=self.scratch)
        out = subprocess.run(
            run.java_cmd(classes, root, ["gen-digest", "--workload", "all",
                                         "--seed", str(seed), "--root", root,
                                         "--fixture", run.FIXTURE, "--cores", "2"]),
            cwd=root, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
            text=True, check=True).stdout
        return dict(line.split() for line in out.splitlines() if line.strip())

    def setUp(self):
        os.makedirs(os.path.join(REPO, ".bench_runs"), exist_ok=True)
        self.scratch = tempfile.mkdtemp(prefix="test-", dir=os.path.join(REPO, ".bench_runs"))

    def tearDown(self):
        shutil.rmtree(self.scratch, ignore_errors=True)

    def test_seeded_inputs(self):
        classes = build.build(REPO)
        a, b, c = self.digests(classes, 7), self.digests(classes, 7), self.digests(classes, 8)
        self.assertEqual(set(a), set(run.WORKLOADS))
        self.assertEqual(a, b)
        for w in a:
            self.assertNotEqual(a[w], c[w], w)


if __name__ == "__main__":
    unittest.main()
