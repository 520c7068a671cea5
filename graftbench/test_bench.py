"""Tests of the benchmark's Python half: python3 -m unittest graftbench/test_bench.py"""
import hashlib
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402
import metrics  # noqa: E402


def tree_digest(d):
    h = hashlib.sha256()
    for name in sorted(os.listdir(d)):
        h.update(name.encode())
        with open(os.path.join(d, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def gen(self, seed, corpus_tokens):
        with tempfile.TemporaryDirectory() as d:
            gen.generate(d, 0.001, seed, corpus_tokens)
            return tree_digest(d), sorted(os.listdir(d))

    def test_byte_deterministic_per_seed_and_distinct_across_seeds(self):
        for tokens in (0, 20_000):
            a, names = self.gen(7, tokens)
            self.assertEqual(a, self.gen(7, tokens)[0])
            self.assertNotEqual(a, self.gen(8, tokens)[0])
            self.assertEqual(len(names), 10)

    def test_corpus_tokens_use_reference_delimiters(self):
        texts = gen._zipf_corpus(__import__("numpy").random.default_rng(1), 5000, 50)
        joined = "".join(texts)
        self.assertTrue(all(c in joined for c in " \t\n\r"))
        tokens = [t for t in joined.replace("\t", " ").replace("\n", " ")
                  .replace("\r", " ").split(" ") if t]
        self.assertEqual(len(tokens), 5000)


class PercentileTest(unittest.TestCase):
    def test_ten_samples_beyond_rule(self):
        # 100 samples: p90 is rank 90 with exactly 10 above it
        self.assertEqual(metrics.percentile_with_support(range(1, 101), (99, 95, 90, 50)),
                         (90, 90))
        # 99 samples: p90 is rank 90 with 9 above, so fall back to p50
        self.assertEqual(metrics.percentile_with_support(range(1, 100), (90, 50)), (50, 50))
        # 19 samples: p50 is rank 10 with 9 above — nothing is supported
        self.assertIsNone(metrics.percentile_with_support(range(19), (90, 50)))
        self.assertEqual(metrics.percentile_with_support(range(1, 21), (50,)), (50, 10))


if __name__ == "__main__":
    unittest.main()
