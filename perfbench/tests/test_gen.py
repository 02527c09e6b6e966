import json
import os
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402


def brute_force(seed, block, errors, blocks=1):
    """Evaluate the capture projection row by row, as the engine would."""
    out = {"n_rows": 0, "n_errors": 0, "by_class": {gen.DIV_ZERO: 0, gen.BAD_CAST: 0},
           "values_rows": 0, "sum_q": 0, "sum_n": 0, "sum_id": 0}
    for i in range(blocks * block):
        r, _ = gen.row(i, seed, block, errors)
        out["n_rows"] += 1
        if r["b"] == 0:
            out["n_errors"] += 1
            out["by_class"][gen.DIV_ZERO] += 1
        elif not r["s"].isdigit():
            out["n_errors"] += 1
            out["by_class"][gen.BAD_CAST] += 1
        else:
            out["values_rows"] += 1
            out["sum_q"] += r["a"] // r["b"]
            out["sum_n"] += int(r["s"])
            out["sum_id"] += i
    return out


class GenTest(unittest.TestCase):
    def test_expected_matches_row_by_row_evaluation(self):
        for seed in (0, 1, 977):
            for block, errors, blocks in ((1000, 10, 1), (1000, 100, 3), (250, 2, 4)):
                with self.subTest(seed=seed, block=block, errors=errors, blocks=blocks):
                    self.assertEqual(gen.expected(seed, block, errors, blocks),
                                     brute_force(seed, block, errors, blocks))

    def test_each_block_holds_exact_class_counts(self):
        e = gen.expected(5, 1000, 100, blocks=7)
        self.assertEqual(e["by_class"], {gen.DIV_ZERO: 350, gen.BAD_CAST: 350})
        self.assertEqual(e["values_rows"], 7000 - 700)

    def test_seed_moves_the_failing_rows(self):
        k0 = gen.kinds(range(1000), 0, 1000, 10)
        k1 = gen.kinds(range(1000), 1, 1000, 10)
        self.assertEqual((k0 != 0).sum(), (k1 != 0).sum())
        self.assertTrue((k0 != k1).any())

    def test_input_value_is_compact_json_of_the_row(self):
        v = gen.input_value(7, 3, 1000, 10)
        self.assertEqual(json.loads(v)["id"], 7)
        self.assertNotIn(" ", v)
        self.assertEqual(list(json.loads(v)), ["id", "a", "b", "s"])

    def test_written_files_hold_the_rows_block_by_block(self):
        with tempfile.TemporaryDirectory() as d:
            gen.write(d, 9, 500, 10, blocks=4, files=4)
            names = sorted(os.listdir(d))
            self.assertEqual(len(names), 4)
            for f, name in enumerate(names):
                t = pq.read_table(os.path.join(d, name)).to_pylist()
                self.assertEqual([r["id"] for r in t], list(range(f * 500, (f + 1) * 500)))
                self.assertEqual(t, [gen.row(r["id"], 9, 500, 10)[0] for r in t])


if __name__ == "__main__":
    unittest.main()
