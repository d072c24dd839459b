"""Tests of the benchmark's correctness check.

    python3 -m unittest feederbench/test_check.py      # from the repository root

The first tests are pure Python. The last runs the whole benchmark on
feeder with one loaded row of each table corrupted in Derby before the
read-back, and needs the build (about a minute on 4 cores).
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

import pyarrow as pa

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402


class CompareTest(unittest.TestCase):
    def test_one_corrupted_row_fails_the_wave_check(self):
        with tempfile.TemporaryDirectory() as d:
            manifest = gen.generate("feeder", 3, d)
            con = check._con(d, ["wave_rows", "recruits_log"])
            want = con.execute(check.wave_sql(manifest["wave"])).arrow()
            # the loaded table as Derby returns it: upper-case names, other order
            got = want.rename_columns([c.upper() for c in want.column_names])
            got = got.take(pa.array(list(range(got.num_rows))[::-1]))
            self.assertTrue(check.compare("loaded", got, want)[1])
            ages = got.column("AGE").to_pylist()
            i = next(k for k, a in enumerate(ages) if a is not None)
            ages[i] += 1
            bad = got.set_column(got.column_names.index("AGE"), "AGE",
                                 pa.array(ages, pa.int64()))
            name, ok, msg = check.compare("loaded", bad, want)
            self.assertFalse(ok, msg)
            self.assertIn("unexpected", msg)

    def test_null_and_nan_compare_equal_but_values_do_not(self):
        a = pa.table({"x": [1.5, None, float("nan")], "s": ["a", None, "c"]})
        b = pa.table({"s": ["c", "a", None], "x": [None, 1.5, None]})
        self.assertTrue(check.compare("t", a, b)[1])
        c = pa.table({"s": ["c", "a", None], "x": [None, 1.25, None]})
        self.assertFalse(check.compare("t", a, c)[1])


class PlantedCorruptionRunTest(unittest.TestCase):
    def test_run_fails_when_a_loaded_row_is_corrupted(self):
        root = os.path.dirname(HERE)
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                            "--workload", "feeder", "--seed", "3", "--seconds", "1",
                            "--trace", "0", "--plant-corruption"],
                           cwd=root, capture_output=True, text=True, timeout=900)
        self.assertEqual(r.returncode, 1, r.stderr[-3000:])
        result = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertFalse(result["correct"])
        self.assertGreaterEqual(result["failed"], 1)
        self.assertIn("appended_table: FAIL", r.stdout)
        self.assertIn("upserted_table: FAIL", r.stdout)


if __name__ == "__main__":
    unittest.main()
