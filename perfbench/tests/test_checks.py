import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
import corpus  # noqa: E402


def _write_sinks(root, shape, counts):
    idx = [i for i in range(len(counts)) if counts[i]]
    names = corpus.key_strings(shape, idx)
    pairs = sorted(zip(names, (int(counts[i]) for i in idx)))
    os.makedirs(os.path.join(root, "json"))
    os.makedirs(os.path.join(root, "text"))
    with open(os.path.join(root, "json", "part-00000.json"), "w") as f:
        f.writelines(json.dumps({"token": t, "cnt": c}) + "\n" for t, c in pairs)
    with open(os.path.join(root, "text", "part-00000.txt"), "w") as f:
        f.writelines(f"{t}: {c}\n" for t, c in pairs)


class CountCheck(unittest.TestCase):
    def run_check(self, mutate):
        with tempfile.TemporaryDirectory() as tmp:
            path = os.path.join(tmp, "corpus")
            corpus.generate(path, "uniform", 5, 4 * corpus.TOKENS_PER_LINE * 16)
            counts = corpus.load_counts(path)
            _write_sinks(os.path.join(tmp, "job"), "uniform", counts)
            top = corpus.expected_top("uniform", counts, 100)
            it = {"n_keys": int((counts > 0).sum()), "mass": int(counts.sum()),
                  "top": [list(t) for t in top],
                  "json_dir": os.path.join(tmp, "job", "json"),
                  "text_dir": os.path.join(tmp, "job", "text")}
            mutate(it)
            return checks.check_url({"iterations": [it]}, "uniform", path)

    def test_correct_answers_pass(self):
        v = self.run_check(lambda it: None)
        self.assertEqual((v["attempted"], v["failed"], v["bad_iterations"]), (3, 0, []))

    def test_wrong_top100_is_flagged(self):
        def swap(it):
            it["top"][0], it["top"][1] = it["top"][1], it["top"][0]
        v = self.run_check(swap)
        self.assertEqual((v["failed"], v["bad_iterations"]), (1, [0]))
        self.assertIn("topk", v["problems"][0])

    def test_wrong_count_is_flagged(self):
        def off_by_one(it):
            it["top"][-1][1] += 1
        self.assertEqual(self.run_check(off_by_one)["failed"], 1)

    def test_wrong_token_mass_is_flagged(self):
        def mass(it):
            it["mass"] -= 1
        self.assertEqual(self.run_check(mass)["failed"], 1)

    def test_wrong_sink_is_flagged(self):
        def sink(it):
            with open(os.path.join(it["text_dir"], "part-00000.txt"), "a") as f:
                f.write("https://zzz.com: 1\n")
        v = self.run_check(sink)
        self.assertEqual(v["failed"], 1)
        self.assertIn("sink_text", v["problems"][0])


if __name__ == "__main__":
    unittest.main()
