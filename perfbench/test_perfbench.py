"""Tests of the benchmark's own logic (no Spark needed):

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import datetime as dt
import decimal
import json
import os
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import gen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402


class TailTest(unittest.TestCase):
    def test_ten_samples_above(self):
        xs = list(range(1, 101))  # 1..100
        value, pct, n = metrics.tail(xs)
        self.assertEqual(value, 90)
        self.assertEqual(pct, 90.0)
        self.assertEqual(n, 100)
        self.assertEqual(sum(x > value for x in xs), 10)

    def test_order_does_not_matter(self):
        self.assertEqual(metrics.tail([5, 1, 4, 2, 3, 9, 8, 7, 6, 10, 11, 12]),
                         metrics.tail(list(range(1, 13))))

    def test_too_few_samples(self):
        self.assertIsNone(metrics.tail(list(range(10))))
        self.assertEqual(metrics.tail(list(range(11)))[0], 0)

    def test_end_to_end_reports_percentile(self):
        run_rec = _run_record(latencies=[float(i) for i in range(1, 22)])
        e2e, info = metrics.end_to_end(run_rec)
        self.assertEqual(e2e["query_tail_s"], 11.0)
        self.assertAlmostEqual(info["tail_percentile"], 100.0 * 11 / 21)
        self.assertEqual(info["samples"], 21)
        self.assertEqual(e2e["query_p50_s"], 11.0)

    def test_end_to_end_uses_the_maximum_up_to_20_samples(self):
        e2e, info = metrics.end_to_end(_run_record(latencies=[float(i) for i in range(1, 21)]))
        self.assertEqual(e2e["query_tail_s"], 20.0)
        self.assertEqual(info["tail_percentile"], 100.0)


class CompareTest(unittest.TestCase):
    EXPECTED = {"columns": ["b", "a"], "rows": [[2.0, "x"], [1.0, "y"]]}

    def test_same_rows_other_order_and_column_order(self):
        actual = {"columns": ["a", "b"], "rows": [["y", 1.0], ["x", 2.0 + 1e-9]]}
        self.assertIsNone(metrics.compare(actual, self.EXPECTED))

    def test_wrong_answer_is_caught(self):
        actual = {"columns": ["a", "b"], "rows": [["y", 1.0], ["x", 2.001]]}
        self.assertIn("row", metrics.compare(actual, self.EXPECTED))

    def test_missing_row_and_wrong_columns(self):
        self.assertIn("rows", metrics.compare(
            {"columns": ["a", "b"], "rows": [["y", 1.0]]}, self.EXPECTED))
        self.assertIn("columns", metrics.compare(
            {"columns": ["a", "c"], "rows": [["y", 1.0], ["x", 2.0]]}, self.EXPECTED))

    def test_tolerance_is_1e_7(self):
        self.assertTrue(metrics.values_equal(1e6, 1e6 * (1 + 5e-8)))
        self.assertFalse(metrics.values_equal(1e6, 1e6 * (1 + 5e-7)))
        self.assertFalse(metrics.values_equal(True, 1))
        self.assertTrue(metrics.values_equal(None, None))
        self.assertFalse(metrics.values_equal(None, 0))

    def test_duckdb_values_take_the_jvm_form(self):
        self.assertEqual(metrics.canon_value(dt.datetime(1995, 3, 1, 2, 3, 4)),
                         "1995-03-01 02:03:04.000000")
        self.assertEqual(metrics.canon_value(dt.date(1995, 3, 1)), "1995-03-01")
        self.assertEqual(metrics.canon_value(decimal.Decimal("1.25")), 1.25)
        self.assertEqual(metrics.canon_value({"x": 1, "y": [2]}), [1, [2]])

    def test_check_counts_wrong_answers_per_execution(self):
        good = json.dumps({"columns": ["a"], "rows": [[1]]})
        bad = json.dumps({"columns": ["a"], "rows": [[2]]})
        rec = {"ann_exact": [], "setups": [{"warm_failures": 0}], "results": [
            {"query": "q1", "hash": "g", "json": good},
            {"query": "q1", "hash": "b", "json": bad}],
            "executions": [
                {"query": "q1", "result": "g", "error": None},
                {"query": "q1", "result": "b", "error": None},
                {"query": "q1", "result": None, "error": "boom"}]}
        failed, reasons, _ = run.check(rec, {"q1": {"columns": ["a"], "rows": [[1]]}})
        self.assertEqual(failed, 2)
        self.assertEqual(len(reasons), 2)


class SpanTest(unittest.TestCase):
    def test_union_and_clipping(self):
        self.assertEqual(metrics.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(metrics.union_length([(0, 10)], 2, 5), 3)
        self.assertEqual(metrics.union_length([]), 0)

    def test_self_time(self):
        self.assertEqual(metrics.self_time((0, 10), [(1, 3), (2, 4), (8, 12)]), 5)
        self.assertEqual(metrics.self_time((0, 10), []), 10)

    def test_phase_layers_sum_to_phase(self):
        phase = {"start": 0.0, "end": 10.0,
                 "jobs": [{"start": 1.0, "end": 6.0}],
                 "stages": [{"submit": 1.5, "end": 5.5, "task_intervals": [[2.0, 4.0]]},
                            {"submit": 7.0, "end": 8.0, "task_intervals": [[7.0, 7.5]]}]}
        layers = metrics.phase_layers(phase)
        self.assertAlmostEqual(layers["exec"], 2.5)
        self.assertAlmostEqual(layers["sched"], 3.5)  # 1-6 and 7-8 minus tasks
        self.assertAlmostEqual(layers["driver"], 4.0)
        self.assertAlmostEqual(sum(layers.values()), 10.0)

    def test_breakdown_accounts_for_wall_time(self):
        rec = _run_record(latencies=[1.0], label="traced")
        b = metrics.query_breakdown(rec)["q1"]
        parts = sum(v for k, v in b.items() if k != "wall")
        self.assertAlmostEqual(parts, b["wall"])
        self.assertAlmostEqual(b["unattributed"], 0.1)


class BudgetTest(unittest.TestCase):
    def test_cuts_are_recorded_by_name(self):
        cuts = [{"at": "untraced pass 1 before q8", "elapsed_s": 151.0, "deadline_s": 150.0}]
        self.assertEqual(metrics.cut_summary(cuts), ["untraced pass 1 before q8"])

    def test_a_cut_run_is_not_correct(self):
        rec = _run_record(latencies=[1.0])
        rec["cuts"] = [{"at": "untraced pass 0 before q1", "elapsed_s": 1, "deadline_s": 0}]
        self.assertFalse(run.is_correct(rec, failed=0, reasons=[]))
        rec["cuts"] = []
        self.assertTrue(run.is_correct(rec, failed=0, reasons=[]))


class GenTest(unittest.TestCase):
    def test_same_scale_same_tables(self):
        a, b = gen.tables(0.001), gen.tables(0.001)
        self.assertTrue(all(a[t].equals(b[t]) for t in a))
        self.assertNotIn("events", a)

    def test_one_document_in_20_is_a_marked_copy(self):
        texts = gen.tables(0.01)["documents"]["text"].to_pylist()
        copies = [t for t in texts if t.endswith(" dup")]
        self.assertEqual(len(copies), len(texts) // 20)
        vocabulary = set(gen.WORDS)
        self.assertTrue(all(set(t.split()) <= vocabulary for t in texts if t not in copies))

    def test_write_checks_row_counts(self):
        with tempfile.TemporaryDirectory() as d:
            counts = gen.write(d, 0.001)
            self.assertEqual(counts["embeddings"], gen.MIN_AI_ROWS)
            self.assertTrue(gen.verify(d, counts))
            os.remove(os.path.join(d, "orders.parquet"))
            self.assertFalse(gen.verify(d, counts))

    def test_rewrite_drops_files_derived_from_older_tables(self):
        with tempfile.TemporaryDirectory() as d:
            gen.write(d, 0.001)
            stale = os.path.join(d, "expected")
            os.mkdir(stale)
            gen.write(d, 0.001)  # marker matches: reused as it is
            self.assertTrue(os.path.isdir(stale))
            os.remove(os.path.join(d, "_DONE"))
            gen.write(d, 0.001)
            self.assertFalse(os.path.exists(stale))
            self.assertTrue(gen.verify(d, gen.written(0.001)))


class QueryListTest(unittest.TestCase):
    def test_sql_entries_are_answered_by_their_key(self):
        self.assertEqual(run.oracle_key("sql_q3"), "q3")
        self.assertEqual(run.oracle_key("q3"), "q3")
        self.assertIn("q3", run.all_queries())


class EntryTest(unittest.TestCase):
    def test_refuses_to_run_without_engine_sources(self):
        with tempfile.TemporaryDirectory() as d:
            bench = Path(d) / "perfbench"
            bench.mkdir()
            for f in ("run.py", "gen.py", "metrics.py"):
                (bench / f).write_bytes((HERE / f).read_bytes())
            out = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "tpch-sf0.1",
                                  "--seed", "1", "--seconds", "1", "--trace", "0"],
                                 cwd=d, capture_output=True, text=True, timeout=60)
            self.assertNotEqual(out.returncode, 0)
            self.assertEqual(out.stdout, "")


def _run_record(latencies, label="untraced"):
    """A minimal run record: one query per execution, each with a build,
    execute and release phase and 0.1 s of loop overhead."""
    execs, t = [], 0.0
    for lat in latencies:
        b, e = t + 0.1, t + 0.1 + (lat - 0.1) / 2
        phases = [{"name": "build", "start": b, "end": e},
                  {"name": "execute", "start": e, "end": t + lat, "jobs": [], "stages": []},
                  {"name": "release", "start": t + lat, "end": t + lat}]
        execs.append({"label": label, "query": "q1", "start": t, "end": t + lat,
                      "phases": phases, "rows": 1, "cache": {}, "error": None})
        t += lat
    return {"executions": execs, "cuts": [],
            "passes": [{"label": label, "start": 0.0, "end": t}],
            "setups": [{"setup_s": 3.0, "session_s": 1.0, "warm_s": 1.0}],
            "peak_rss_mb": 100.0, "cores": "4"}


if __name__ == "__main__":
    unittest.main()
