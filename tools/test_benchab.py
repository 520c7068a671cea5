"""Unit tests for tools/benchab.py with a fake benchmark runner.

    python3 -m unittest tools/test_benchab.py
"""
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import benchab  # noqa: E402

METRICS = [{"name": "setup_s", "better": "lower", "bound": 0.25},
           {"name": "steady_s", "better": "lower", "bound": 0.25}]


def result(setup, steady, correct=True, failed=0):
    return {"correct": correct, "attempted": 10, "failed": failed,
            "metrics": {"setup_s": {"value": setup, "unit": "s"},
                        "steady_s": {"value": steady, "unit": "s"}}}


class FakeRunner:
    """Change is 1 s faster on setup_s except on seed 105; steady_s is equal."""

    def __init__(self):
        self.calls = []

    def __call__(self, tree, workload, seed, trace):
        self.calls.append((tree, workload, seed, trace))
        base = 3.0 + (seed % 3) * 0.1
        faster = tree == "/c" and seed != 105
        return result(base - (1.0 if faster else 0.0), 2.0)


class BenchAbTest(unittest.TestCase):
    def run_fake(self, seeds):
        runner = FakeRunner()
        with tempfile.TemporaryDirectory() as d:
            out = os.path.join(d, "ab.jsonl")
            benchab.run_pairs({"parent": "/p", "change": "/c"}, "engine_sf001", seeds, out,
                              trace=0, runner=runner, loadavg=lambda: 1.234)
            return runner, benchab.load_records(out)

    def test_alternates_sides_one_seed_per_pair(self):
        runner, recs = self.run_fake([101, 102, 103])
        self.assertEqual([(c[0], c[2]) for c in runner.calls],
                         [("/p", 101), ("/c", 101), ("/c", 102), ("/p", 102),
                          ("/p", 103), ("/c", 103)])
        self.assertTrue(all(c[1] == "engine_sf001" and c[3] == 0 for c in runner.calls))

    def test_one_record_per_run(self):
        _, recs = self.run_fake([101, 102])
        self.assertEqual(len(recs), 4)
        self.assertEqual(set(recs[0]), {"workload", "side", "seed", "loadavg", "r"})
        self.assertEqual(recs[0]["loadavg"], 1.23)
        self.assertEqual([r["side"] for r in recs], ["parent", "change", "change", "parent"])
        self.assertTrue(recs[1]["r"]["correct"])

    def test_summary_claims_gain_only_at_nine_tenths(self):
        _, recs = self.run_fake(list(range(101, 111)))
        rows = {r["metric"]: r for r in benchab.summarize(recs, METRICS)}
        setup = rows["setup_s"]
        self.assertEqual((setup["pairs"], setup["wins"], setup["losses"]), (10, 9, 0))
        self.assertEqual(setup["verdict"], "gain")
        self.assertLess(setup["change"][1], setup["parent"][1])
        steady = rows["steady_s"]
        self.assertEqual((steady["wins"], steady["losses"]), (0, 0))
        self.assertEqual(steady["verdict"], "within bound")
        # seven wins of nine pairs is not a gain
        _, recs = self.run_fake([101, 102, 103, 104, 105, 106, 107, 108, 109])
        recs = [r for r in recs if not (r["seed"] == 109 and r["side"] == "change")]
        recs.append({"workload": "engine_sf001", "side": "change", "seed": 109,
                     "loadavg": 1.0, "r": result(9.0, 2.0)})
        setup = {r["metric"]: r for r in benchab.summarize(recs, METRICS)}["setup_s"]
        self.assertEqual((setup["pairs"], setup["wins"]), (9, 7))
        self.assertNotEqual(setup["verdict"], "gain")
        # nine straight wins are still too few pairs
        _, recs = self.run_fake([101, 102, 103, 104, 106, 107, 108, 109, 110])
        setup = {r["metric"]: r for r in benchab.summarize(recs, METRICS)}["setup_s"]
        self.assertEqual((setup["pairs"], setup["wins"]), (9, 9))
        self.assertNotEqual(setup["verdict"], "gain")

    def test_quartiles_and_regression(self):
        self.assertEqual(benchab.quartiles([1.0, 2.0, 3.0, 4.0, 5.0]), (2.0, 3.0, 4.0))
        recs = []
        for seed in range(10):
            recs.append({"workload": "w", "side": "parent", "seed": seed, "loadavg": 0,
                         "r": result(1.0, 1.0)})
            recs.append({"workload": "w", "side": "change", "seed": seed, "loadavg": 0,
                         "r": result(1.0, 1.5)})
        steady = {r["metric"]: r for r in benchab.summarize(recs, METRICS)}["steady_s"]
        self.assertEqual(steady["verdict"], "regression")

    def test_incorrect_runs_are_excluded_and_reported(self):
        recs = [{"workload": "w", "side": "parent", "seed": 1, "loadavg": 0, "r": result(1, 1)},
                {"workload": "w", "side": "change", "seed": 1, "loadavg": 0,
                 "r": result(0.5, 0.5, correct=False)},
                {"workload": "w", "side": "parent", "seed": 2, "loadavg": 0, "r": result(1, 1)},
                {"workload": "w", "side": "change", "seed": 2, "loadavg": 0, "r": result(0.9, 1)}]
        row = benchab.summarize(recs, METRICS)[0]
        self.assertEqual(row["pairs"], 1)
        self.assertEqual(row["bad_runs"], [("change", 1)])

    def test_more_failed_change_runs_are_never_a_gain(self):
        # ten clean 1 s wins remain after two failed change runs
        recs = []
        for seed in range(12):
            recs.append({"workload": "w", "side": "parent", "seed": seed, "loadavg": 0,
                         "r": result(3.0 + seed * 0.01, 2.0)})
            recs.append({"workload": "w", "side": "change", "seed": seed, "loadavg": 0,
                         "r": result(2.0, 2.0, failed=1 if seed < 2 else 0)})
        rows = {r["metric"]: r for r in benchab.summarize(recs, METRICS)}
        self.assertEqual((rows["setup_s"]["pairs"], rows["setup_s"]["wins"]), (10, 10))
        self.assertEqual(rows["setup_s"]["verdict"], "failed runs")
        self.assertEqual(rows["steady_s"]["verdict"], "failed runs")
        # as many failed parent runs: the clean pairs are judged
        recs += [{"workload": "w", "side": "parent", "seed": s, "loadavg": 0,
                  "r": result(3.0, 2.0, correct=False)} for s in (0, 1)]
        rows = {r["metric"]: r for r in benchab.summarize(recs, METRICS)}
        self.assertEqual(rows["setup_s"]["verdict"], "gain")
        # no clean pair at all still yields a row naming the failures
        only_bad = [r for r in recs if r["seed"] < 2]
        self.assertEqual(benchab.summarize(only_bad[:2], METRICS),
                         [{"workload": "w", "metric": None, "pairs": 0,
                           "bad_runs": [("change", 0)], "verdict": "failed runs"}])

    def test_traced_runs_without_end_to_end_metrics_are_skipped(self):
        traced = {"correct": True, "attempted": 1, "failed": 0,
                  "metrics": {"spark.jobs": {"value": 28.0, "unit": "count"}}}
        recs = [{"workload": "w", "side": side, "seed": 1, "loadavg": 0, "r": traced}
                for side in ("parent", "change")]
        self.assertEqual(benchab.summarize(recs, METRICS), [])

    def test_seed_spec_and_metrics_file(self):
        self.assertEqual(benchab.parse_seeds("5-7,9"), [5, 6, 7, 9])
        names = [m["name"] for m in benchab.end_to_end_metrics()]
        self.assertIn("setup_s", names)
        self.assertIn("steady_s", names)

    def test_bench_runner_reads_the_last_result_line(self):
        with tempfile.TemporaryDirectory() as tree:
            os.makedirs(os.path.join(tree, "graftbench"))
            with open(os.path.join(tree, "graftbench", "run.py"), "w") as f:
                f.write("import json, sys\nprint('setup_s = 1 s')\n"
                        f"r = {json.dumps(result(1.5, 2.5))!r}\n"
                        "print(json.dumps(dict(json.loads(r), argv=sys.argv[1:])))\n")
            r = benchab.bench_runner(tree, "mr_corpus", 1, 0)
            self.assertEqual(r["metrics"]["setup_s"]["value"], 1.5)
            # the run length is BENCHMARK.json's, not a knob of the tool
            seconds = str(benchab.benchmark()["run_seconds"])
            self.assertEqual(r["argv"], ["--workload", "mr_corpus", "--seed", "1",
                                         "--seconds", seconds, "--trace", "0"])

if __name__ == "__main__":
    unittest.main()
