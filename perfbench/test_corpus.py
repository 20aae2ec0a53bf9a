"""Corpus generator tests: python3 perfbench/test_corpus.py"""
import filecmp
import os
import shutil
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import corpus  # noqa: E402

TMP = os.path.join(os.path.dirname(HERE), ".perfbench", "test-corpus")


class CorpusTest(unittest.TestCase):
    def setUp(self):
        shutil.rmtree(TMP, ignore_errors=True)

    def tearDown(self):
        shutil.rmtree(TMP, ignore_errors=True)

    def gen(self, seed, name):
        out = os.path.join(TMP, name)
        corpus.generate(seed, 2, 300, out)
        return out

    def test_same_seed_gives_identical_bytes(self):
        a, b = self.gen(7, "a"), self.gen(7, "b")
        names = sorted(os.listdir(a))
        self.assertEqual(names, ["day-1.jsonl", "day-2.jsonl", "truth.jsonl"])
        self.assertEqual(names, sorted(os.listdir(b)))
        for n in names:
            self.assertTrue(filecmp.cmp(os.path.join(a, n), os.path.join(b, n),
                                        shallow=False), n)

    def test_other_seed_differs(self):
        a, b = self.gen(7, "a"), self.gen(8, "b")
        self.assertFalse(filecmp.cmp(os.path.join(a, "day-1.jsonl"),
                                     os.path.join(b, "day-1.jsonl"),
                                     shallow=False))

    def test_traffic_dimensions_present(self):
        truth = corpus.read_truth(self.gen(7, "a"))
        self.assertEqual(len({t["id"] for t in truth}), 600)
        self.assertEqual({t["depth"] for t in truth}, set(range(1, 7)))
        deep = [t for t in truth if t["depth"] > 4]
        self.assertTrue(all(t["body_shallow"] != t["body"] for t in deep))
        self.assertTrue(any(t["date_string"] is None for t in truth))
        self.assertTrue(any(t["from"] == "indeedapply@indeed.com"
                            for t in truth))
        self.assertTrue(any(len(t["body"]) > 3000 for t in truth))

    def test_expected_body_follows_the_text_spec(self):
        chunks = ["plain  text\n", "<html><style>p{}</style><p> a &amp; b </p>"
                  "<p>café</p></html>"]
        self.assertEqual(corpus.expected_body(chunks), "plain  texta & bcaf")


if __name__ == "__main__":
    unittest.main()
