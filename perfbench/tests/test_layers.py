"""Self-time arithmetic of the tracer's spans (perfbench/layers.py)."""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import layers  # noqa: E402


def span(i, parent, op, name, start, end):
    return {"id": i, "parent": parent, "op": op, "name": name,
            "thread": "t", "start_ns": start, "end_ns": end}


class SelfTime(unittest.TestCase):
    def test_union(self):
        self.assertEqual(layers.union_ns([]), 0)
        self.assertEqual(layers.union_ns([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(layers.union_ns([(0, 10), (2, 3), (10, 12)]), 12)

    def test_nested_tree(self):
        # op 0: cg [0,100) with children tokenize [10,30) and
        # als_recommend [40,70), which itself has a child load [50,55)
        spans = [span(1, 0, 0, "reco.cg", 0, 100),
                 span(2, 1, 0, "text.tokenize", 10, 30),
                 span(3, 1, 0, "reco.als_recommend", 40, 70),
                 span(4, 3, 0, "sources.load", 50, 55)]
        st = layers.self_times(spans)
        self.assertEqual(st, {1: 50, 2: 20, 3: 25, 4: 5})
        # self times of a tree add up to the root's duration
        self.assertEqual(sum(st.values()), 100)

    def test_overlapping_children_counted_once(self):
        # children on helper threads that overlap each other
        spans = [span(1, 0, 0, "p", 0, 100),
                 span(2, 1, 0, "a", 10, 60),
                 span(3, 1, 0, "b", 40, 80),
                 span(4, 1, 0, "c", 90, 120)]   # runs past its parent
        self.assertEqual(layers.self_times(spans)[1], 100 - 70 - 10)

    def test_two_concurrent_olap_clients(self):
        # two clients run overlapping queries; each op's span tree is
        # independent, so neither subtracts the other's time
        spans = [span(1, 0, 0, "queries.relational", 0, 100),
                 span(2, 0, 1, "queries.relational", 20, 60),
                 span(3, 1, 0, "sources.load", 30, 40),
                 span(4, 0, 2, "queries.relational", 70, 130)]
        st = layers.self_times(spans)
        self.assertEqual(st, {1: 90, 2: 40, 3: 10, 4: 60})
        t = layers.layer_times(spans, {0, 1, 2})
        self.assertAlmostEqual(t["queries.relational"], (90 + 40 + 60) / 1e9 / 3)
        self.assertAlmostEqual(t["sources.load"], 10 / 1e9 / 3)
        # restricting to one op only sees that op's spans
        self.assertAlmostEqual(layers.layer_times(spans, {1})["queries.relational"],
                               40 / 1e9)

    def test_diag_spans_excluded(self):
        spans = [span(1, 0, 0, "llmops.minhash", 0, 50),
                 span(2, 0, 0, "diag", 50, 80),
                 span(3, 2, 0, "sources.load", 55, 60),
                 span(4, 0, 0, "llmops.semantic_dedup", 80, 200),
                 span(5, 4, 0, "diag", 150, 190)]
        self.assertEqual(layers.excluded(spans), {2, 3, 5})
        t = layers.layer_times(spans, {0})
        self.assertNotIn("diag", t)
        self.assertNotIn("sources.load", t)
        self.assertAlmostEqual(t["llmops.semantic_dedup"], 80 / 1e9)

    def test_per_layer_reports_every_metric(self):
        run = {
            "ops": [
                {"id": 0, "client": 0, "name": "q", "start_ns": 0, "end_ns": 100,
                 "ok": True, "traced": False, "jobs": 1, "info": {}},
                {"id": 1, "client": 0, "name": "q", "start_ns": 100, "end_ns": 200,
                 "ok": True, "traced": True, "jobs": 1,
                 "info": {"compile_ns": 5, "compilations": 2}},
                {"id": 2, "client": 0, "name": "q", "start_ns": 200, "end_ns": 280,
                 "ok": True, "traced": False, "jobs": 1, "info": {}}],
            "spans": [span(1, 0, 1, "llmops.chunk", 100, 200)],
            "span_stats": {"1": {"jobs": 3, "tasks": 7, "input_records": 50}},
            "counters": {},
            "check": {"result_rows": {"q": 10}},
        }
        m = layers.per_layer(run)
        self.assertEqual(list(m), list(layers.METRICS))
        self.assertEqual(m["spark.exec.jobs"][0], 3)
        self.assertEqual(m["sources.rows_read_per_row_out"][0], 5.0)
        self.assertAlmostEqual(m["llmops.chunk_s"][0], 100 / 1e9)
        # traced 100 vs the untraced op after the warm-up op, 80
        self.assertAlmostEqual(m["trace.overhead_frac"][0], 0.25)


if __name__ == "__main__":
    unittest.main()
