"""The reco_nightly list check: lists that agree with the staged events
and the reported NDCG pass; each kind of wrong list is caught."""
import math
import os
import sys
import tempfile
import unittest

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
import gen  # noqa: E402


class RecoLists(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.in_dir = os.path.join(cls.tmp.name, "in")
        gen.stage("reco_nightly", 3, cls.in_dir)
        train_users, train_items, cls.held = checks.reco_split(cls.in_dir)
        cls.train_items = train_items
        # ten training items per user that it does not hold out: NDCG 0
        rows = []
        for u in sorted(set(cls.held) & train_users):
            miss = [i for i in sorted(train_items) if i not in cls.held[u]]
            rows += [(u, i, r + 1) for r, i in enumerate(miss[:checks.TOP_K])]
        cls.lists = pd.DataFrame(rows, columns=["user_id", "item_id", "rn"])

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def reason(self, lists, ndcg=0.0, n_users=None):
        n = len(self.held) if n_users is None else n_users
        return checks.reco_lists_reason(lists, ndcg, n, self.in_dir)

    def test_consistent_lists_pass(self):
        self.assertIsNone(self.reason(self.lists))

    def test_one_hit_moves_ndcg(self):
        u = self.lists.user_id.iloc[0]
        hit = min(self.held[u] & self.train_items)
        lists = self.lists.copy()
        lists.loc[(lists.user_id == u) & (lists.rn == 1), "item_id"] = hit
        idcg = sum(1 / math.log2(i + 2)
                   for i in range(min(checks.TOP_K, len(self.held[u]))))
        want = 1.0 / idcg / len(self.held)
        self.assertIsNone(self.reason(lists, ndcg=want))
        self.assertIn("ndcg", self.reason(lists, ndcg=0.0))

    def test_wrong_lists_fail(self):
        first = self.lists.user_id.iloc[0]
        dup = self.lists.copy()
        dup.loc[dup.rn == 2, "item_id"] = dup.loc[dup.rn == 1, "item_id"].values
        short = self.lists[self.lists.rn <= checks.TOP_K - 1]
        for name, lists, kw in [
                ("ndcg", self.lists, {"ndcg": 0.01}),
                ("n_users", self.lists, {"n_users": len(self.held) + 1}),
                ("missing user", self.lists[self.lists.user_id != first], {}),
                ("duplicate item", dup, {}),
                ("short list", short, {})]:
            with self.subTest(name):
                self.assertIsNotNone(self.reason(lists, **kw))


if __name__ == "__main__":
    unittest.main()
