"""Inputs are a function of the seed: the same seed writes byte-identical
files, another seed writes different ones.

    python3 -m unittest perfbench/test_gen.py
"""
import hashlib
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402

MIX = {"a": 13, "u": 1, "d": 1}


def digest(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def write_all(out, seed):
    gen.write_corpus(f"{out}/corpus", seed, 300, 120)
    gen.write_requests(f"{out}/requests.json", seed, ["a", "b", "c"], 50)
    return gen.write_feeds(f"{out}/feed", seed, 300, 120, 4, 30, 12, MIX, 5000)


class SeededInputs(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_differs(self):
        with tempfile.TemporaryDirectory() as tmp:
            m1 = write_all(f"{tmp}/a", 7)
            m2 = write_all(f"{tmp}/b", 7)
            write_all(f"{tmp}/c", 8)
            self.assertEqual(m1, m2)
            for part in ("corpus", "requests.json", "feed"):
                a, b, c = (f"{tmp}/{x}/{part}" for x in "abc")
                if os.path.isfile(a):
                    a, b, c = (open(p, "rb").read() for p in (a, b, c))
                else:
                    a, b, c = digest(a), digest(b), digest(c)
                self.assertEqual(a, b, part)
                self.assertNotEqual(a, c, part)

    def test_feed_batches_follow_the_crawl_window(self):
        import numpy as np
        rng = np.random.default_rng(3)
        n, window = 200, 50
        split = gen.watermark(n)
        batches = gen._feed(rng, n, 6, 30, MIX, window, lambda r: "x")
        dead, adds = set(), []
        for rows in batches:
            ids = [i for i, _, _ in rows]
            self.assertEqual(len(ids), len(set(ids)))
            self.assertFalse(dead & set(ids), "a deleted id is touched again")
            dead |= {i for i, op, _ in rows if op == "d"}
            ops = [op for _, op, _ in rows]
            self.assertEqual((ops.count("u"), ops.count("d")), (2, 2))
            for i, op, _ in rows:
                if op == "a":
                    adds.append(i)
                else:
                    self.assertTrue(split - window < i <= split)
        self.assertEqual(sorted(adds), list(range(split + 1, split + 1 + len(adds))))


if __name__ == "__main__":
    unittest.main()
