"""Twin-board mutation: builds the harness and runs `graft.TwinMutate`
(ScaleSmoke's mutators with the seed folded into the copy index).

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import build  # noqa: E402
import run  # noqa: E402

TEXTS = [" ".join(f"w{i % 7}" for i in range(n)) for n in (40, 60, 80)] + [""]
VECS = [np.linspace(-1.0, 1.0, 64, dtype=np.float32), np.ones(64, dtype=np.float32)]


class TwinMutation(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.classes = build.build()

    def mutate(self, seed):
        return run.mutate_copies(self.classes, seed, 4, TEXTS, VECS)

    def test_copy_zero_unmutated_and_others_near(self):
        texts, vecs = self.mutate(7)
        self.assertEqual(texts[0], TEXTS)
        for i in range(1, 4):
            self.assertEqual([len(t.split(" ")) for t in texts[i]],
                             [len(t.split(" ")) for t in TEXTS])
            for v, w in zip(vecs[i], VECS):
                self.assertEqual(v.dtype, np.float32)
                np.testing.assert_allclose(v, w, rtol=1.01e-3)
        self.assertNotEqual(texts[1], texts[2])

    def test_seed_reproducible_and_distinct(self):
        a, b, c = self.mutate(7), self.mutate(7), self.mutate(8)
        self.assertEqual(a[0], b[0])
        for i in range(4):
            for v, w in zip(a[1][i], b[1][i]):
                np.testing.assert_array_equal(v, w)
        self.assertNotEqual(a[0][1:], c[0][1:])


if __name__ == "__main__":
    unittest.main()
