"""Tests of the benchmark's own arithmetic and checkers.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
import metrics  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        v = list(range(1, 101))
        self.assertEqual(stats.nearest_rank(v, 50), 50)
        self.assertEqual(stats.nearest_rank(v, 95), 95)
        self.assertEqual(stats.nearest_rank([3, 1, 2], 100), 3)

    def test_tail_takes_highest_percentile_with_ten_beyond(self):
        self.assertEqual(stats.tail(list(range(1, 1001))), (99, 990))  # 10 beyond p99
        self.assertEqual(stats.tail(list(range(1, 201))), (95, 190))   # 10 beyond p95
        self.assertEqual(stats.tail(list(range(1, 200))), (90, 180))   # p95 leaves 9
        self.assertEqual(stats.tail(list(range(1, 41))), (75, 30))
        self.assertEqual(stats.tail(list(range(1, 21))), (50, 10))

    def test_tail_falls_back_to_max(self):
        self.assertEqual(stats.tail([5.0, 1.0, 9.0]), (100, 9.0))

    def test_summary(self):
        s = stats.summary([1, 2, 3, 4])
        self.assertEqual((s["n"], s["p50"], s["tail_p"], s["tail"]), (4, 2.5, 100, 4))


def span(i, parent, start, end, layer="l", name="n"):
    return {"id": i, "parent": parent, "layer": layer, "name": name, "start_ns": start, "end_ns": end}


class SelfTime(unittest.TestCase):
    def test_covered_merges_overlaps_and_clips(self):
        self.assertEqual(spans.covered(0, 100, [(10, 30), (20, 40), (90, 120)]), 40)
        self.assertEqual(spans.covered(0, 100, [(-10, 5), (50, 60), (52, 55)]), 15)
        self.assertEqual(spans.covered(0, 100, []), 0)

    def test_self_time_subtracts_children_once(self):
        # children 2 and 3 overlap (concurrent calls): the root loses 50, not 60
        s = [span(1, 0, 0, 100), span(2, 1, 10, 50), span(3, 1, 40, 60), span(4, 2, 20, 30)]
        self.assertEqual(spans.self_times(s), {1: 50, 2: 30, 3: 20, 4: 10})
        # sequential children: self times partition the root's duration
        s = [span(1, 0, 0, 100), span(2, 1, 10, 50), span(3, 1, 50, 60), span(4, 2, 20, 30)]
        self.assertEqual(sum(spans.self_times(s).values()), 100)

    def test_self_by_layer_and_durations(self):
        s = [span(1, 0, 0, 10**9, "pipeline", "run_all"),
             span(2, 1, 0, 4 * 10**8, "kg", "link"),
             span(3, 0, 0, 2 * 10**8, "kg", "link")]
        by = spans.self_by_layer(s)
        self.assertAlmostEqual(by["pipeline"], 0.6)
        self.assertAlmostEqual(by["kg"], 0.6)
        self.assertEqual(spans.durations(s, "kg", "link"), [0.4, 0.2])


class AnswerChecker(unittest.TestCase):
    A = checks.rows_key([["ent:1"], ["ent:2"]])
    B = checks.rows_key([["ent:1"], ["ent:2"], ["ent:9"]])

    def test_rows_key_ignores_order_and_normalises_values(self):
        self.assertEqual(checks.rows_key([[2, "x"], [1, None]]), checks.rows_key([[1.0, None], ["2", "x"]]))
        self.assertNotEqual(checks.rows_key([["a"], ["a"]]), checks.rows_key([["a"]]))

    def test_classify_committed_stale_wrong(self):
        self.assertEqual(checks.classify(checks.rows_key([["ent:2"], ["ent:1"]]), self.A, self.B, "A"), "A")
        self.assertEqual(checks.classify(self.B, self.A, self.B, "B"), "B")
        # the other state's answer: the read missed an acknowledged update
        self.assertEqual(checks.classify(self.A, self.A, self.B, "B"), "stale")
        self.assertEqual(checks.classify(self.B, self.A, self.B, "A"), "stale")
        half = checks.rows_key([["ent:1"], ["ent:9"]])  # a half-committed state
        self.assertEqual(checks.classify(half, self.A, self.B, "A"), "wrong")
        # a read the batch does not change matches either state
        self.assertEqual(checks.classify(self.A, self.A, self.A, "B"), "B")

    def test_check_reads_counts_http_failures_stale_and_wrong_answers(self):
        bodies = {"a": json.dumps({"rows": [["ent:1"], ["ent:2"]]}),
                  "w": json.dumps({"rows": [["ent:1"]]})}
        reqs = [{"status": 200, "body": "a", "qid": 0, "state": "A"},
                {"status": 200, "body": "a", "qid": 0, "state": "B"},
                {"status": 200, "body": "w", "qid": 0, "state": "A"},
                {"status": 500, "body": "", "qid": 0, "state": "A"}]
        self.assertEqual(checks.check_reads(reqs, bodies, {0: (self.A, self.B)}),
                         ["A", "stale", "wrong", "http_500"])

    def test_expected_answers_flip_with_the_batch(self):
        import tempfile
        import duckdb
        with tempfile.TemporaryDirectory() as d:
            duckdb.sql("SELECT * FROM (VALUES ('ent:1','inDoc','d1'), ('ent:2','inDoc','d1'), "
                       "('ent:1','category','PER'), ('ent:1','category','PER')) t(subj, pred, obj)"
                       ).write_parquet(os.path.join(d, "part-0.parquet"))
            pool = [{"shape": "two_hop", "const": "ent:1"}, {"shape": "count", "const": "category"},
                    {"shape": "point", "const": "ent:1"}, {"shape": "group", "const": "ent:1"}]
            exp = checks.expected_answers(d, pool, [("ent:1", "inDoc", "d9"), ("ent:7", "inDoc", "d9")])
        self.assertEqual(exp[0], (checks.rows_key([["ent:1"], ["ent:2"]]),
                                  checks.rows_key([["ent:1"], ["ent:2"], ["ent:7"]])))
        self.assertEqual(exp[1][0], checks.rows_key([[2]]))  # COUNT counts stored rows
        self.assertEqual(exp[2][0], exp[2][1])
        self.assertEqual(exp[3][1], checks.rows_key([["ent:1", 2], ["ent:2", 1], ["ent:7", 1]]))

    def test_compare_matches_columns_by_name(self):
        self.assertIsNone(checks.compare(["a", "b"], [(1, "x")], ["b", "a"], [("x", 1)]))
        self.assertEqual(checks.compare(["a"], [(1,)], ["a"], [(1,), (2,)]), "row count 2, oracle 1")
        self.assertEqual(checks.compare(["a"], [(1,)], ["a"], [(2,)]), "values differ")


class Definitions(unittest.TestCase):
    def test_benchmark_json_lists_the_metrics_this_package_reports(self):
        root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        with open(os.path.join(root, "BENCHMARK.json")) as fh:
            b = json.load(fh)
        self.assertEqual([w["name"] for w in b["workloads"]], list(metrics.WORKLOADS))
        self.assertEqual([(m["name"], m["unit"], m["better"], m["bound"]) for m in b["end_to_end"]],
                         metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in b["per_layer"]],
                         [(n, u) for n, u, _, _ in metrics.PER_LAYER])


if __name__ == "__main__":
    unittest.main()
