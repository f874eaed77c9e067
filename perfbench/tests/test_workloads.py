import collections
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import workloads  # noqa: E402

# A catalog-shaped name list: families of very different sizes.
NAMES = ([f"q{i:02d}_x" for i in range(150)] + [f"ev{i}_y" for i in range(60)]
         + [f"gr{i}_z" for i in range(40)] + [f"tx{i}" for i in range(30)]
         + [f"dd{i}_w" for i in range(25)] + [f"sim{i}" for i in range(10)]
         + ["pp4_incremental_corpus", "pp5_more", "solo1_only"])
COST = {n: 0.1 + (sum(map(ord, n)) * 31 % 97) / 20 for n in NAMES}


class SamplerTest(unittest.TestCase):
    def test_same_seed_same_operations(self):
        for seed in (0, 1, 12345):
            self.assertEqual(workloads.catalog_cold(seed, NAMES, COST),
                             workloads.catalog_cold(seed, list(reversed(NAMES)), COST))
            self.assertEqual(workloads.olap_warm(seed), workloads.olap_warm(seed))
            self.assertEqual(workloads.corpus_ingest(seed, 5000),
                             workloads.corpus_ingest(seed, 5000))

    def test_different_seeds_differ(self):
        self.assertNotEqual(workloads.stratified_sample(NAMES, COST, 1),
                            workloads.stratified_sample(NAMES, COST, 2))

    def test_family_coverage_and_proportion(self):
        counts = collections.Counter(map(workloads.family, NAMES))
        for seed in range(20):
            s = workloads.stratified_sample(NAMES, COST, seed)
            self.assertEqual(len(s), workloads.CATALOG_SAMPLE)
            self.assertEqual(len(set(s)), len(s))
            got = collections.Counter(map(workloads.family, s))
            for fam, n in counts.items():
                if n >= 2:
                    self.assertGreaterEqual(got[fam], 1, fam)
                quota = len(s) * n / len(NAMES)
                self.assertLessEqual(abs(got[fam] - quota), 1.0, fam)

    def test_every_block_has_one_entry_per_cost_group(self):
        k = workloads.COST_STRATA
        for seed in range(5):
            s = workloads.stratified_sample(NAMES, COST, seed)
            ranked = sorted(s, key=lambda n: (COST[n], n))
            group = {n: i * k // len(s) for i, n in enumerate(ranked)}
            for b in range(0, len(s) - k + 1, k):
                self.assertEqual(sorted(group[n] for n in s[b:b + k]), list(range(k)))

    def test_olap_rounds_are_permutations(self):
        ops = [n for _, n in workloads.olap_warm(3)["ops"]]
        k = len(workloads.HEADLINE)
        for r in range(0, len(ops), k):
            self.assertEqual(sorted(ops[r:r + k]), sorted(workloads.HEADLINE))

    def test_batches_cover_the_table_in_order(self):
        ops = workloads.corpus_ingest(5, 5000)["ops"]
        by_pass = collections.defaultdict(list)
        for _, p, b, lo, hi in ops:
            by_pass[p].append((b, lo, hi))
        for batches in by_pass.values():
            self.assertEqual(batches[0][1], 0)
            self.assertEqual(batches[-1][2], 5000)
            for (_, _, hi), (_, lo, _) in zip(batches, batches[1:]):
                self.assertEqual(hi, lo)
            mean = 5000 / len(batches)
            for _, lo, hi in batches:
                self.assertLessEqual(abs((hi - lo) - mean), 0.25 * mean)


if __name__ == "__main__":
    unittest.main()
