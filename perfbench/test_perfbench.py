"""Self-tests of the benchmark's own arithmetic and checks.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import tempfile
import unittest

import duckdb
import pandas as pd

import oracle
import run
import stats


class TailTest(unittest.TestCase):
    def test_small_counts_report_the_maximum(self):
        for n in (1, 5, 10, 19):
            xs = list(range(n, 0, -1))
            self.assertEqual(stats.tail(xs), (100.0, n, n))

    def test_rule_keeps_ten_samples_beyond(self):
        for n in (20, 37, 100, 1000):
            xs = [float(i) for i in range(1, n + 1)]
            pct, value, count = stats.tail(xs)
            self.assertEqual(count, n)
            self.assertEqual(sum(1 for x in xs if x > value), 10)
            self.assertAlmostEqual(pct, 100.0 * (n - 10) / n)
        self.assertEqual(stats.tail(range(1, 21))[:2], (50.0, 10))
        self.assertEqual(stats.tail(range(1, 101))[:2], (90.0, 90))

    def test_no_samples(self):
        with self.assertRaises(ValueError):
            stats.tail([])


class SelfTimeTest(unittest.TestCase):
    def span(self, parent, start, end):
        return {"parent": parent, "start": start, "end": end}

    def test_nested_and_overlapping_children(self):
        spans = {
            "q": self.span(None, 0.0, 10.0),
            "a": self.span("q", 1.0, 4.0),
            "b": self.span("q", 3.0, 6.0),   # overlaps a on [3, 4]
            "g": self.span("a", 2.0, 3.0),
            "late": self.span("b", 5.0, 12.0),  # clipped to [5, 6]
        }
        got = stats.self_times(spans)
        self.assertAlmostEqual(got["q"], 10.0 - 5.0)   # minus union [1, 6]
        self.assertAlmostEqual(got["a"], 1.0 + 0.5)    # [1,2] + half of [3,4]
        self.assertAlmostEqual(got["g"], 1.0)
        self.assertAlmostEqual(got["b"], 0.5 + 1.0)    # half of [3,4] + [4,5]
        self.assertAlmostEqual(got["late"], 1.0)
        self.assertAlmostEqual(sum(got.values()), 10.0)
        self.assertAlmostEqual(stats.outside_parent(spans), 6.0)  # late's [6, 12]

    def test_union_length(self):
        self.assertAlmostEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4.0)
        self.assertAlmostEqual(stats.union_length([(0, 2), (1, 3)], 1.5, 2.5), 1.0)
        self.assertEqual(stats.union_length([]), 0.0)


def synthetic_run():
    """Two traced executions and one untraced; jobs tagged by group."""
    def execution(i, p, start, traced):
        return {"pass": p, "query": f"q{i}", "traced": traced, "group": f"pb:{i}",
                "start": start, "built": start + 2.0, "ran": start + 3.0,
                "released": start + 3.5, "error": ""}

    def job(jid, group, start, end):
        return {"id": jid, "group": group, "start": start, "end": end, "ok": True}

    def stage(sid, jid, start, end, tasks=4):
        return {"id": sid, "attempt": 0, "job": jid, "start": start, "end": end,
                "num_tasks": tasks, "tasks": tasks, "failed_tasks": 0,
                "failed": False, "task_s": 1.0, "task_max_s": 0.4,
                "task_median_s": 0.2, "gc_s": 0.0, "shuffle_write_bytes": 0,
                "shuffle_read_bytes": 0, "spill_bytes": 0}

    return {
        "setup": {"session_s": 1.0, "table_warm_s": 1.0, "first_pass_s": 1.0},
        "timed": {"start": 0.0, "end": 20.0, "pinned_live": [3, 3]},
        "executions": [execution(0, 0, 0.0, False), execution(1, 1, 10.0, True),
                       execution(2, 1, 14.0, True)],
        "jobs": [job(1, "pb:1:build", 10.5, 11.0), job(2, "pb:1:build", 11.0, 11.5),
                 job(3, "pb:1:exec", 12.0, 13.0), job(4, "pb:2:exec", 16.0, 17.0),
                 job(5, "", 18.0, 18.1)],
        "stages": [stage(10, 1, 10.5, 11.0), stage(11, 3, 12.0, 12.5),
                   stage(12, 4, 16.0, 16.9, tasks=1)],
        "plans": [], "block_bytes": 0,
    }


class JobAttributionTest(unittest.TestCase):
    def test_jobs_attach_to_their_group_span(self):
        trees, unattributed = stats.query_trees(synthetic_run())
        self.assertEqual(unattributed, 1)  # job 5 carries no group
        (e1, t1), (e2, t2) = trees
        parents = {s["job"]["id"]: s["parent"] for s in t1.values() if s["name"] == "job"}
        self.assertEqual(parents, {1: "build", 2: "build", 3: "exec"})
        self.assertEqual([s["job"]["id"] for s in t2.values() if s["name"] == "job"], [4])

    def test_layer_metrics_account_for_the_wall(self):
        m, self_table, jobs_per_query = stats.layer_metrics(synthetic_run(), cores=4)
        self.assertEqual(jobs_per_query, {"q1": 3, "q2": 1})
        self.assertEqual(m["queries.build_jobs"][0], 1.0)
        self.assertEqual(m["exec.jobs"][0], 1.0)
        self.assertEqual(m["scheduler.jobs"][0], 2.0)
        self.assertAlmostEqual(m["scheduler.job_s"][0], 1.5)
        self.assertAlmostEqual(m["scheduler.gap_s"][0], 2.0)
        self.assertAlmostEqual(m["trace.outside_span_s"][0], 0.0)
        self.assertAlmostEqual(sum(v for k, v in self_table.items()
                                   if k not in ("pass", "run")), 3.5)


    def test_job_past_its_span_is_reported_not_hidden(self):
        r = synthetic_run()
        r["jobs"][3]["end"] = 18.0  # q2's exec span ends at 17.0
        m, self_table, _ = stats.layer_metrics(r, cores=4)
        self.assertAlmostEqual(m["trace.outside_span_s"][0], 1.0 / 2)
        self.assertAlmostEqual(sum(v for k, v in self_table.items()
                                   if k not in ("pass", "run")), 3.5)


class LatencyTest(unittest.TestCase):
    def test_geometric_mean_of_per_query_medians(self):
        lat = {"a": [1.0, 9.0, 1.1, 0.9, 1.0], "b": [4.0, 4.2, 3.8]}
        execs = [(q, x) for q, xs in lat.items() for x in xs]
        self.assertAlmostEqual(stats.median_latency(execs), (1.0 * 4.0) ** 0.5)

    def test_pooled_order_does_not_matter(self):
        execs = [("a", 1.0), ("b", 3.0), ("a", 2.0), ("b", 5.0), ("a", 1.5)]
        self.assertAlmostEqual(stats.median_latency(execs),
                               stats.median_latency(list(reversed(execs))))
        self.assertAlmostEqual(stats.median_latency(execs), (1.5 * 4.0) ** 0.5)


    def test_pass_medians_skip_one_slow_pass(self):
        def e(p, q, start, secs, error=""):
            return {"pass": p, "query": q, "start": start,
                    "released": start + secs, "error": error}
        execs = [e(0, "a", 0, 1), e(0, "b", 1, 1),
                 e(1, "a", 2, 1), e(1, "b", 3, 1, error="boom"),
                 e(2, "a", 4, 5), e(2, "b", 9, 5)]
        qpm, cpu = stats.pass_medians(execs, [2.0, 3.0, 20.0],
                                      lambda x: not x["error"])
        self.assertAlmostEqual(qpm, 30.0)  # passes read 60, 30 and 12 per minute
        self.assertAlmostEqual(cpu, 1.5)   # 1.0, 1.5 and 10.0 per execution


class OutputCheckTest(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.TemporaryDirectory()
        d = self.dir.name
        con = duckdb.connect()
        con.sql("CREATE TABLE t AS SELECT range AS k, range * 0.5 AS v FROM range(5)")
        con.sql(f"COPY t TO '{d}/t.parquet' (FORMAT parquet)")
        os.makedirs(f"{d}/results/q1")
        con.sql(f"COPY (SELECT k, v FROM t) TO '{d}/results/q1/part-0.parquet' (FORMAT parquet)")
        self.con = oracle.connect(d)

    def tearDown(self):
        self.dir.cleanup()

    def check(self, sql):
        return oracle.check(self.con, f"{self.dir.name}/results", {"q1": sql}, ["q1"], {})

    def test_matching_output_passes(self):
        self.assertEqual(self.check("SELECT v, k FROM t ORDER BY k DESC"), {"q1": None})

    def test_corrupted_expected_output_counts_as_failure(self):
        failures = self.check("SELECT k, CASE WHEN k = 3 THEN v + 1e-6 ELSE v END AS v FROM t")
        self.assertIn("column v", failures["q1"])
        run_record = {"executions": [{"error": ""}, {"error": ""}]}
        self.assertEqual(run.tally(run_record, failures), (3, 1))

    def test_corrupted_cached_oracle_result_counts_as_failure(self):
        cache = f"{self.dir.name}/oracle"
        sql = "SELECT k, v FROM t"
        args = (self.con, f"{self.dir.name}/results", {"q1": sql}, ["q1"], {}, cache)
        self.assertEqual(oracle.check(*args), {"q1": None})
        cached, = os.listdir(cache)
        self.con.sql(f"COPY (SELECT k, v * 2 AS v FROM t) TO '{cache}/{cached}' (FORMAT parquet)")
        self.assertIn("column v", oracle.check(*args)["q1"])

    def test_missing_rows_and_engine_errors_fail(self):
        self.assertIn("rows", self.check("SELECT * FROM t WHERE k < 4")["q1"])
        got = oracle.check(self.con, f"{self.dir.name}/results", {"q1": "SELECT 1"},
                           ["q1", "q2"], {"q2": "boom"})
        self.assertIsNotNone(got["q1"])
        self.assertEqual(got["q2"], "engine error: boom")

    def test_float_tolerance(self):
        a = pd.DataFrame({"x": [1.0, 2.0]})
        self.assertIsNone(oracle.mismatch(a, pd.DataFrame({"x": [2.0 + 1e-12, 1.0]})))
        self.assertIsNotNone(oracle.mismatch(a, pd.DataFrame({"x": [1.0, 2.1]})))


if __name__ == "__main__":
    unittest.main()
