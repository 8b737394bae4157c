import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import corpus  # noqa: E402


def _bytes(root):
    text = os.path.join(root, "text")
    out = b""
    for name in sorted(os.listdir(text)):
        with open(os.path.join(text, name), "rb") as f:
            out += f.read()
    with open(os.path.join(root, "counts.npy"), "rb") as f:
        return out, f.read()


class GeneratorDeterminism(unittest.TestCase):
    def generate(self, tmp, name, shape, seed):
        path = os.path.join(tmp, name)
        meta = corpus.generate(path, shape, seed, 3 * corpus.TOKENS_PER_LINE * 19)
        return meta, _bytes(path)

    def test_same_seed_same_bytes_and_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as tmp:
            for shape in corpus.SHAPES:
                meta, a = self.generate(tmp, f"{shape}-a", shape, 7)
                _, b = self.generate(tmp, f"{shape}-b", shape, 7)
                _, c = self.generate(tmp, f"{shape}-c", shape, 8)
                self.assertEqual(a, b, shape)
                self.assertNotEqual(a[0], c[0], shape)
                self.assertEqual(meta["tokens"], meta["lines"] * corpus.TOKENS_PER_LINE)

    def test_counts_match_the_text(self):
        with tempfile.TemporaryDirectory() as tmp:
            for shape in corpus.SHAPES:
                path = os.path.join(tmp, shape)
                corpus.generate(path, shape, 3, 2 * corpus.TOKENS_PER_LINE * 19)
                text, _ = _bytes(path)
                seen = {}
                for tok in text.split():
                    seen[tok.decode()] = seen.get(tok.decode(), 0) + 1
                counts = corpus.load_counts(path)
                idx = [i for i in range(len(counts)) if counts[i]]
                expected = dict(zip(corpus.key_strings(shape, idx),
                                    (int(counts[i]) for i in idx)))
                self.assertEqual(seen, expected, shape)

    def test_reference_key_shape(self):
        names = corpus.key_strings("uniform")
        self.assertEqual(len(set(names)), 26 ** 3)
        self.assertTrue(all(len(n) == 15 and n.startswith("https://") and n.endswith(".com")
                            for n in names))


if __name__ == "__main__":
    unittest.main()
