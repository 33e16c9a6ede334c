"""Tests of the benchmark itself.

    python3 perfbench/test_perfbench.py            # all tests
    python3 perfbench/test_perfbench.py Units      # the fast ones only

The run tests execute `run.py --trace 1` for every workload at two
seeds (about three minutes) and check that each op runs the same number
of Spark jobs in every pass, that two seeds give different inputs or op
order but the same ops, and that the recorded spans nest with self times
summing to each op's wall time.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402
import tables  # noqa: E402


def span(i, parent, op, name, start, end):
    return {"id": i, "parent": parent, "op": op, "name": name,
            "start_ns": start, "end_ns": end}


class Units(unittest.TestCase):

    def test_self_times_sum_to_op_wall(self):
        spans = [span(0, -1, 7, "op", 0, 100),
                 span(1, 0, 7, "operators.call", 10, 30),
                 span(2, 0, 7, "plans.plan", 30, 40),
                 span(3, 0, 7, "spark.exec", 45, 95)]
        selfs = metrics.self_times(spans)
        self.assertAlmostEqual(selfs[0], 20e-9)
        self.assertAlmostEqual(sum(selfs.values()), 100e-9)
        self.assertEqual(metrics.tree_problems(spans), [])

    def test_tree_problems_found(self):
        escaped = [span(0, -1, 1, "op", 0, 100),
                   span(1, 0, 1, "spark.exec", 50, 120)]
        self.assertTrue(metrics.tree_problems(escaped))
        orphan = [span(0, -1, 1, "op", 0, 100),
                  span(1, 5, 1, "spark.exec", 10, 20)]
        self.assertTrue(metrics.tree_problems(orphan))

    def test_tail_keeps_ten_samples_beyond(self):
        self.assertIsNone(metrics.tail(list(range(10))))
        value, pct, n = metrics.tail(list(range(40)))
        self.assertEqual((value, pct, n), (29, 75.0, 40))

    def test_seeded_tables(self):
        out = os.path.join(ROOT, ".bench_out")
        os.makedirs(out, exist_ok=True)

        def digest(seed):
            with tempfile.TemporaryDirectory(dir=out) as d:
                tables.generate(d, seed)
                return tables.digest(d)
        self.assertEqual(digest(1), digest(1))
        self.assertNotEqual(digest(1), digest(2))


def traced_run(workload, seed):
    subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                    "--workload", workload, "--seed", str(seed),
                    "--seconds", "1", "--trace", "1"],
                   cwd=ROOT, check=True, stdout=subprocess.DEVNULL)
    with open(os.path.join(ROOT, ".bench_out",
                           f"trace-{workload}-s{seed}.json")) as f:
        return json.load(f)


class Runs(unittest.TestCase):

    def check_workload(self, workload):
        a, b = traced_run(workload, 1), traced_run(workload, 2)
        for r in (a, b):
            timed = [o for o in r["ops"] if o["pass"] >= 0
                     and o["kind"] != "probe"]
            self.assertGreaterEqual(len({o["pass"] for o in timed}), 2)
            jobs = {}
            for o in timed:
                jobs.setdefault(o["name"], set()).add(o["counts"]["jobs"])
            self.assertTrue(all(len(v) == 1 for v in jobs.values()), jobs)
            self.assertEqual(metrics.tree_problems(r["spans"]), [])
            self.assertTrue(r["spans"])
        self.assertEqual(sorted(a["op_names"]), sorted(b["op_names"]))
        self.assertTrue(a["op_names"] != b["op_names"] or
                        a["inputs"] != b["inputs"])

    def test_criteo_feed(self):
        self.check_workload("criteo_feed")

    def test_curation_loops(self):
        self.check_workload("curation_loops")


if __name__ == "__main__":
    unittest.main()
