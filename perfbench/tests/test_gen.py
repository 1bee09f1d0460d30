"""The seeded input generator: same seed, same bytes; new seed, new data."""
import filecmp
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402


class Seeded(unittest.TestCase):
    def stage(self, root, workload, seed):
        out = os.path.join(root, f"{workload}-{seed}")
        rows = gen.stage(workload, seed, out)
        return out, rows

    def test_same_seed_byte_identical_and_new_seed_differs(self):
        for w in ("olap_mix", "reco_nightly", "corpus_curation"):
            with self.subTest(workload=w), tempfile.TemporaryDirectory() as d:
                a, rows = self.stage(os.path.join(d, "a"), w, 7)
                b, _ = self.stage(os.path.join(d, "b"), w, 7)
                c, _ = self.stage(os.path.join(d, "c"), w, 8)
                names = sorted(os.listdir(a))
                self.assertEqual(names, sorted(f"{t}.parquet" for t in rows))
                self.assertEqual(sorted(os.listdir(b)), names)
                _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
                self.assertEqual((mismatch, errors), ([], []))
                # every table that depends on the seed changes with it
                _, changed, _ = filecmp.cmpfiles(a, c, names, shallow=False)
                fixed = {"region.parquet", "nation.parquet"}
                self.assertEqual(sorted(set(names) - fixed), sorted(changed))

    def test_writes_only_the_output_directory(self):
        with tempfile.TemporaryDirectory() as d:
            out = os.path.join(d, "in")
            gen.stage("reco_nightly", 3, out)
            self.assertEqual(os.listdir(d), ["in"])

    def test_redelivered_events_share_the_logical_key(self):
        t = gen.events(5, n=2000, dup_every=7).to_pandas()
        dups = t[t["event_id"] >= 10_000_000]
        self.assertGreater(len(dups), 0)
        keys = t.groupby(["user_id", "ts"]).size()
        self.assertEqual(int((keys == 2).sum()), len(dups))
        self.assertEqual(int((keys > 2).sum()), 0)


if __name__ == "__main__":
    unittest.main()
