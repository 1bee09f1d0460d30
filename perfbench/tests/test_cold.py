"""Cold operations: the second timed operation of reco_nightly and
corpus_curation launches as many Spark jobs as the first, so nothing in
it was served from a memo, and it publishes the same output.

Slow (one JVM per workload, two cold pipeline runs each); needs java
and the Spark jars."""
import os
import sys
import tempfile
import time
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


class ColdOperations(unittest.TestCase):
    def check(self, workload):
        classes = build.build()
        with tempfile.TemporaryDirectory() as d:
            in_dir = os.path.join(d, "in")
            gen.stage(workload, 1, in_dir)
            r = run.run_jvm(classes, workload, 1, 0, 0, d, in_dir,
                            time.time() + 600, extra=("--min-ops", "2"))
        ops = r["ops"]
        self.assertEqual(len(ops), 2)
        self.assertTrue(all(o["ok"] for o in ops), [o["err"] for o in ops])
        self.assertGreater(ops[0]["jobs"], 0)
        self.assertEqual(ops[1]["jobs"], ops[0]["jobs"])
        self.assertEqual(ops[1]["info"]["digest"], ops[0]["info"]["digest"])

    def test_reco_nightly(self):
        self.check("reco_nightly")

    def test_corpus_curation(self):
        self.check("corpus_curation")


if __name__ == "__main__":
    unittest.main()
