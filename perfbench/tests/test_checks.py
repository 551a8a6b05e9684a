"""Hash parity between the benchmark's output check and the repository's
DuckDB gate check (`tools/gatecheck.py`)."""
import ast
import math
import os
import sys
import unittest

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(HERE, ".."))
import checks  # noqa: E402

GATECHECK = os.path.join(HERE, "..", "..", "tools", "gatecheck.py")


def gatecheck_canon():
    """The `canon` function of tools/gatecheck.py, loaded without running
    the script's main()."""
    with open(GATECHECK) as f:
        tree = ast.parse(f.read())
    keep = [n for n in tree.body if isinstance(n, (ast.Import, ast.ImportFrom)) or
            (isinstance(n, ast.FunctionDef) and n.name == "canon")]
    ns = {}
    exec(compile(ast.Module(body=keep, type_ignores=[]), GATECHECK, "exec"), ns)
    return ns["canon"]


FRAMES = [
    pd.DataFrame({"b": [2, 1, 3], "a": ["x", "y", None]}),
    pd.DataFrame({"v": [0.1 + 0.2, 1e-12, 123456789.123456789, math.nan, -0.0],
                  "k": [1, 2, 3, 4, 5]}),
    pd.DataFrame({"t": pd.to_datetime(["2020-01-01", "2021-06-30"]), "f": [True, False]}),
    pd.DataFrame({"x": pd.Series([], dtype="int64")}),
]


@unittest.skipUnless(os.path.exists(GATECHECK), "tools/gatecheck.py not in this checkout")
class GatecheckParity(unittest.TestCase):
    def test_same_canon_on_varied_frames(self):
        ref = gatecheck_canon()
        for df in FRAMES:
            self.assertEqual(checks.canon(df), ref(df))

    def test_duckdb_round_trip_matches(self):
        ref = gatecheck_canon()
        sql = "SELECT * FROM (VALUES (1, 2.5, 'a'), (2, NULL, 'b')) t(i, d, s)"
        df = checks.duckdb.sql(sql).df()
        self.assertEqual(checks.canon_sql(sql), ref(df))


class Canon(unittest.TestCase):
    def test_row_and_column_order_free(self):
        a = pd.DataFrame({"x": [1, 2], "y": ["p", "q"]})
        b = pd.DataFrame({"y": ["q", "p"], "x": [2, 1]})
        self.assertEqual(checks.canon(a), checks.canon(b))

    def test_compare_reports_each_part(self):
        ok, _ = checks.compare((["a"], 1, "h"), (["a"], 1, "h"))
        self.assertTrue(ok)
        ok, detail = checks.compare((["a"], 1, "h"), (["a"], 2, "h"))
        self.assertFalse(ok)
        self.assertIn('"oracle_rows": 2', detail)

    def test_ingest_cycle_invariants(self):
        good = {"manifests": [{"bucket": 0, "rowCount": 3, "nPixelsOk": 3, "nCaptionsOk": 3},
                              {"bucket": 1, "rowCount": 1, "nPixelsOk": 1, "nCaptionsOk": 1}],
                "committed_rows": 4,
                "summary": {"n_rows": 4, "n_pixels_ok": 4, "n_captions_ok": 4,
                            "n_phash_ok": 4, "jpg_psnr_above_40": True}}
        self.assertEqual(checks.ingest_cycle(good, 4), [])
        bad = dict(good, manifests=[dict(good["manifests"][0], nPixelsOk=2)])
        self.assertTrue(checks.ingest_cycle(bad, 4))


if __name__ == "__main__":
    unittest.main()
