"""Tests for the benchmark's own logic. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests
"""

import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import analysis  # noqa: E402
import inputs  # noqa: E402


class Percentiles(unittest.TestCase):
    def test_linear_between_ranks(self):
        xs = list(range(1, 101))  # 1..100
        self.assertEqual(analysis.median(xs), 50.5)
        self.assertAlmostEqual(analysis.percentile(xs, 90), 90.1)
        self.assertEqual(analysis.percentile([7], 99), 7)

    def test_reports_count_and_samples_beyond(self):
        p = analysis.pct(list(range(1, 101)), 90)
        self.assertEqual(p["n"], 100)
        self.assertEqual(p["beyond"], 10)  # 91..100 lie above 90.1

    def test_no_samples_is_an_error(self):
        with self.assertRaises(ValueError):
            analysis.percentile([], 50)


class CommitJoin(unittest.TestCase):
    batches = [
        {"batch_id": 0, "timestamp_ms": 1000, "rows": 5, "durations_ms": {"triggerExecution": 400}},
        {"batch_id": 1, "timestamp_ms": 2000, "rows": 3, "durations_ms": {"triggerExecution": 900}},
        {"batch_id": 2, "timestamp_ms": 3000, "rows": 0, "durations_ms": {"triggerExecution": 5}},
    ]

    def test_commit_is_trigger_start_plus_execution(self):
        self.assertEqual(analysis.commit_times(self.batches), {0: 1400, 1: 2900})

    def test_each_job_joins_the_batch_that_wrote_it(self):
        results = [["a", "success", None, 10, 1, "x", None, 0],
                   ["b", "dlq", "not_found", 0, 1, None, "gone", 1]]
        dlq = [['{"job_id":"b","source":{},"destination":{}}', "not_found", 1],
               ['{"raw":"{\\"job_id\\": \\"c\\", \\"sour"}', "parse", 1]]
        batch_of = analysis.job_batches(results, dlq)
        self.assertEqual(batch_of, {"a": 0, "b": 1, "c": 1})
        lat, missing = analysis.latencies({"a": 900, "b": 1500, "c": 2000, "d": 2500},
                                          batch_of, analysis.commit_times(self.batches))
        self.assertEqual(sorted(lat), [500, 900, 1400])
        self.assertEqual(missing, ["d"])


class OpenLoop(unittest.TestCase):
    def test_lateness_is_written_minus_due_never_negative(self):
        log = [[1000.0, 1003.5, ["a"]], [1100.0, 1099.0, []], [1200.0, 1250.0, ["b", "c"]]]
        self.assertEqual(analysis.lateness(log), [3.5, 0.0, 50.0])
        self.assertEqual(analysis.generator_due(log), {"a": 1000.0, "b": 1200.0, "c": 1200.0})

    def test_generator_keeps_its_schedule(self):
        with tempfile.TemporaryDirectory() as d:
            plan = os.path.join(d, "plan-1.json")
            ticks = [[0.0, [["j0", "{}"]]], [0.05, []], [0.1, [["j1", "{}"], ["j2", "{}"]]]]
            with open(plan, "w") as f:
                json.dump(ticks, f)
            in_dir = os.path.join(d, "in")
            os.makedirs(in_dir)
            logp = os.path.join(d, "log.json")
            subprocess.run([sys.executable, os.path.join(os.path.dirname(HERE), "streamgen.py"),
                            plan, in_dir, os.path.join(d, "stage"), logp], check=True)
            with open(logp) as f:
                log = json.load(f)
            self.assertEqual([ids for _, _, ids in log], [["j0"], [], ["j1", "j2"]])
            dues = [due for due, _, _ in log]
            self.assertAlmostEqual(dues[1] - dues[0], 50.0, places=3)
            self.assertAlmostEqual(dues[2] - dues[0], 100.0, places=3)
            self.assertTrue(all(x < 100 for x in analysis.lateness(log)))
            # empty ticks write no file; the others land whole
            self.assertEqual(sorted(os.listdir(in_dir)), ["plan-1-00000.jsonl", "plan-1-00002.jsonl"])
            self.assertEqual(os.listdir(os.path.join(d, "stage")), [])


class Outcomes(unittest.TestCase):
    ok = {"kind": "ok", "sha": "aa", "size": 3}

    def test_classify(self):
        c = analysis.classify
        self.assertEqual(c(self.ok, ["aa"], []), "ok")
        self.assertEqual(c(self.ok, [], []), "missing")
        self.assertEqual(c(self.ok, ["aa", "aa"], []), "duplicate")
        self.assertEqual(c(self.ok, ["aa"], ["io"]), "duplicate")
        self.assertEqual(c(self.ok, [], ["io"]), "dlq:io")
        self.assertEqual(c({"kind": "parse"}, [], ["parse"]), "ok")
        self.assertEqual(c({"kind": "config"}, [], ["not_found"]), "wrong_error_type:not_found")
        self.assertEqual(c({"kind": "not_found"}, ["aa"], []), "unexpected_success")

    def test_wrong_bytes_are_caught(self):
        expected = {"a": self.ok, "b": {"kind": "ok", "sha": "bb", "size": 3}}
        results = [["a", "success", None, 3, 1, "aa", None],
                   ["b", "success", None, 3, 1, "not-bb", None]]
        v = analysis.check_outcomes(expected, results, [])
        self.assertEqual(v, {"a": "ok", "b": "bytes_differ"})

    def test_missing_destination_file_is_caught(self):
        v = analysis.check_outcomes({"a": self.ok}, [["a", "success", None, 3, 1, None, None]], [])
        self.assertEqual(v, {"a": "no_destination_file"})

    def test_unexpected_and_failed_outputs_are_reported(self):
        results = [["a", "dlq", "io", 0, 1, None, "IOException: boom"],
                   ["zz", "success", None, 3, 1, "aa", None]]
        dlq = [['{"job_id":"a"}', "io"]]
        v = analysis.check_outcomes({"a": self.ok}, results, dlq)
        self.assertEqual(v["a"], "dlq:io (IOException: boom)")
        self.assertEqual(v["unexpected:zz"], "unexpected")

    def test_dlq_rows_name_their_job(self):
        self.assertEqual(analysis.dlq_job_id('{"job_id":"x","source":null}'), "x")
        raw = inputs.corrupt_line("s1-00007", "/in/s1-00007.bin")
        self.assertEqual(analysis.dlq_job_id(json.dumps({"raw": raw})), "s1-00007")
        self.assertIsNone(analysis.dlq_job_id('{"raw":"garbage"}'))

    def test_borrows(self):
        exp = {"a": self.ok, "b": {"kind": "not_found"}, "c": {"kind": "parse"}, "d": {"kind": "config"}}
        self.assertEqual(analysis.borrows_of(exp), 3)


class Reconcile(unittest.TestCase):
    def test_wall_splits_into_transfer_spark_and_idle(self):
        # 4 slots; tasks span 0..1000 ms and each runs 1000 ms, of which
        # 3000 ms in total are transfers; the pass took 1.2 s
        p = {"wall_s": 1.2, "results": [[None, "success", None, 0, 750]] * 4,
             "spark": {"task_times": [[0, 1000]] * 4}}
        r = analysis.reconcile([p], 4)
        self.assertAlmostEqual(r["transfer_s"], 0.75)
        self.assertAlmostEqual(r["spark_s"], 0.2 + 0.25)
        self.assertAlmostEqual(r["residual_share"], 0.0)


class Host(unittest.TestCase):
    def test_others_share_excludes_own_cpu(self):
        # 4 CPUs for 10 s = 4000 ticks; 2500 busy, 15 s of them the engine's
        self.assertAlmostEqual(analysis.others_share({"busy": 2500, "all": 4000}, 15.0), 0.25)
        self.assertEqual(analysis.others_share({"busy": 1000, "all": 4000}, 15.0), 0.0)


class Oracle(unittest.TestCase):
    def test_rules(self):
        c = analysis.compare_rows
        self.assertEqual(c(["b", "a"], [(1, "x"), (2, "y")], ["a", "b"], [("x", 1), ("y", 2)]), "ok")
        # same multiset in another order passes; NaN equals NaN
        self.assertEqual(c(["a"], [(2,), (1,)], ["a"], [(1,), (2,)]), "ok")
        self.assertEqual(c(["a"], [(float("nan"),)], ["a"], [(float("nan"),)]), "ok")
        self.assertIn("columns", c(["a"], [(1,)], ["b"], [(1,)]))
        self.assertIn("rows !=", c(["a"], [(1,)], ["a"], [(1,), (1,)]))
        self.assertEqual(c(["a"], [(1,), (3,)], ["a"], [(1,), (2,)]),
                         "1 of 2 rows differ from the oracle")
        self.assertNotEqual(c(["a"], [(1.0000001,)], ["a"], [(1.0,)]), "ok")

    def test_wrong_output_fails_against_duckdb(self):
        import pyarrow as pa
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as d:
            tables, outs = os.path.join(d, "tables"), os.path.join(d, "out")
            os.makedirs(tables)
            pq.write_table(pa.table({"k": [1, 2, 3], "v": [10, 20, 30]}),
                           os.path.join(tables, "orders.parquet"))
            for q, vals in (("good", [30, 20]), ("bad", [30, 21])):
                os.makedirs(os.path.join(outs, q))
                pq.write_table(pa.table({"v": vals}), os.path.join(outs, q, "part-0.parquet"))
            sql = "SELECT v FROM orders WHERE k > 1 ORDER BY v DESC"
            v = analysis.oracle_check(tables, outs, {"good": sql, "bad": sql, "none": sql})
            self.assertEqual(v["good"], "ok")
            self.assertEqual(v["bad"], "1 of 2 rows differ from the oracle")
            self.assertTrue(v["none"].startswith("error:"))

    def test_analytics_layers(self):
        an = {"warm_s": {"q1_a": 1.5, "s2_b": 0.5},
              "builds": [["pairs", 2.0], ["grams", 1.0], ["pairs", 0.5]],
              "spark": {"tasks": 7, "stages": 2, "executor_run_ms": 3000, "executor_cpu_ns": 2e9,
                        "gc_ms": 100, "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
                        "spill_bytes": 0}}
        m = analysis.analytics_layers(an, ["q1", "s2"], ["grams", "pairs", "bands"])
        self.assertEqual((m["query.q1_s"], m["query.s2_s"], m["analytics.total_s"]), (1.5, 0.5, 2.0))
        self.assertEqual((m["builds.pairs_s"], m["builds.grams_s"], m["builds.bands_s"]), (2.5, 1.0, 0.0))
        self.assertEqual((m["analytics.spark_tasks"], m["analytics.spark_executor_cpu_s"]), (7, 2.0))


class Inputs(unittest.TestCase):
    def digest(self, workload, seed):
        with tempfile.TemporaryDirectory() as d:
            expected, _ = inputs.transfer(d, workload, seed)
            with open(os.path.join(d, "jobs.jsonl")) as f:
                return expected, f.read()

    def test_same_seed_same_inputs(self):
        self.assertEqual(self.digest("transfer_small", 5), self.digest("transfer_small", 5))
        self.assertNotEqual(self.digest("transfer_small", 5), self.digest("transfer_small", 6))

    def test_stream_mix_and_arrivals_follow_the_seed(self):
        with tempfile.TemporaryDirectory() as d:
            e1, p1, _ = inputs.stream(d, 3, 2.0, 1)
        with tempfile.TemporaryDirectory() as d:
            e2, p2, _ = inputs.stream(d, 3, 2.0, 1)
        self.assertEqual((e1, p1), (e2, p2))
        kinds = {e["kind"] for e in e1.values()}
        self.assertTrue({"ok", "not_found"} <= kinds)


if __name__ == "__main__":
    unittest.main()
