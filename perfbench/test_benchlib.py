"""Tests of the benchmark's own logic: python3 -m unittest discover perfbench"""
import json
import unittest

import benchlib


class PercentileRule(unittest.TestCase):
    def test_tail_needs_ten_samples_beyond(self):
        xs = list(range(1, 100))  # 99 samples: rank 90 leaves 9 beyond
        self.assertIsNone(benchlib.percentile(xs, 90))
        xs = list(range(1, 101))  # 100 samples: rank 90 leaves 10 beyond
        self.assertEqual(benchlib.percentile(xs, 90), 90)

    def test_p99_needs_a_thousand(self):
        self.assertIsNone(benchlib.percentile(list(range(999)), 99))
        self.assertEqual(benchlib.percentile(list(range(1, 1001)), 99), 990)

    def test_median_is_always_reported(self):
        self.assertEqual(benchlib.percentile([3, 1, 2], 50), 2)
        self.assertIsNone(benchlib.percentile([], 50))


class FailureClassifier(unittest.TestCase):
    def test_rows_mentioning_error_are_not_failures(self):
        body = json.dumps({"data": [{"event_type": "error", "n": 3},
                                    {"event_type": "view", "n": 5}],
                           "columns": ["event_type", "n"]})
        self.assertIn('"error"', body)
        self.assertIsNone(benchlib.classify(200, body))

    def test_top_level_error_key_fails(self):
        self.assertEqual(benchlib.classify(200, '{"error": "bad sql"}'), "error key")

    def test_status_codes(self):
        self.assertEqual(benchlib.classify(503, '{"error": "saturated"}'), "rejected")
        self.assertEqual(benchlib.classify(404, "{}"), "status 404")
        self.assertEqual(benchlib.classify(200, "not json"), "body is not JSON")

    def test_sse_error_event_fails_but_error_text_in_result_does_not(self):
        good = ('event: stage\ndata: {"stage":"planner","text":"error handling"}\n\n'
                'event: result\ndata: {"data":[{"event_type":"error"}],"columns":["event_type"]}\n\n')
        self.assertIsNone(benchlib.classify(200, good, sse=True))
        bad = 'event: stage\ndata: {"stage":"planner"}\n\nevent: error\ndata: {"error":"x"}\n\n'
        self.assertEqual(benchlib.classify(200, bad, sse=True), "sse error event")
        self.assertEqual(benchlib.classify(200, "event: stage\ndata: {}\n\n", sse=True),
                         "no result event")

    def test_parse_sse(self):
        ev = benchlib.parse_sse("event: a\ndata: 1\n\nevent: b\ndata: 2\n\n")
        self.assertEqual(ev, [("a", "1"), ("b", "2")])


def span(i, parent, name, start, end, req=""):
    return {"id": i, "parent": parent, "name": name, "req": req, "start": start, "end": end}


class SelfTime(unittest.TestCase):
    def test_nested_spans_partition_the_root(self):
        spans = [span(1, 0, "harness.timed", 0, 100),
                 span(2, 1, "operators.build", 10, 50),
                 span(3, 2, "spark.job", 20, 30),
                 span(4, 1, "spark.action", 50, 90),
                 span(5, 4, "catalyst.planning", 50, 55),
                 span(6, 4, "codegen.compile", -1, 5)]
        t = benchlib.self_times(spans, 1)
        self.assertEqual(t, {"harness": 20, "operators": 30, "spark": 10 + 30,
                             "catalyst": 5, "codegen": 5})
        self.assertEqual(sum(t.values()), 100)

    def test_overlapping_children_are_not_double_counted(self):
        spans = [span(1, 0, "harness.timed", 0, 100),
                 span(2, 1, "spark.job", 10, 60),
                 span(3, 1, "catalyst.analysis", 40, 80),
                 span(4, 1, "spark.job", 90, 130)]  # runs past the root
        t = benchlib.self_times(spans, 1)
        self.assertEqual(sum(t.values()), 100)
        self.assertEqual(t["catalyst"], 40)
        self.assertEqual(t["spark"], 30 + 10)

    def test_duration_child_is_capped_by_parent_self_time(self):
        spans = [span(1, 0, "harness.timed", 0, 10),
                 span(2, 1, "codegen.compile", -1, 25)]
        self.assertEqual(benchlib.self_times(spans, 1), {"codegen": 10, "harness": 0})

    def test_listener_spans_find_their_innermost_host(self):
        spans = [span(1, 0, "harness.timed", 0, 100, "timed"),
                 span(2, 1, "harness.op", 0, 60, "q1"),
                 span(3, 2, "operators.build", 0, 40, "q1"),
                 span(4, 0, "spark.job", 10, 20, "q1"),
                 span(5, 0, "catalyst.analysis", 45, 50),
                 span(6, 0, "spark.job", 70, 80, "q2")]
        benchlib.assign_parents(spans, {"harness.timed", "harness.op", "operators.build"})
        self.assertEqual([s["parent"] for s in spans[3:]], [3, 2, 1])


class SeededInputs(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        for w in ("suite", "serve"):
            self.assertEqual(json.dumps(benchlib.make_inputs(w, 7)),
                             json.dumps(benchlib.make_inputs(w, 7)))

    def test_other_seed_other_order_same_work(self):
        a, b = benchlib.make_inputs("suite", 1), benchlib.make_inputs("suite", 2)
        self.assertNotEqual(a["passes"][0], b["passes"][0])
        self.assertEqual(sorted(a["passes"][0]), sorted(b["passes"][0]))
        self.assertEqual(sorted(a["passes"][0]), sorted(benchlib.SUITE_OPS))
        s1, s2 = benchlib.make_inputs("serve", 1), benchlib.make_inputs("serve", 2)
        self.assertNotEqual(s1["order_keys"], s2["order_keys"])
        self.assertEqual(s1["questions"], s2["questions"])

    def test_serve_clients_start_out_of_step(self):
        s = benchlib.make_inputs("serve", 3, clients=4)
        self.assertEqual([c[0]["kind"] for c in s["scripts"]],
                         ["query", "execute", "execute", "execute"])
        self.assertEqual([[op["kind"] for op in c] for c in s["warmup"]],
                         [["query", "execute", "write"]])


if __name__ == "__main__":
    unittest.main()
