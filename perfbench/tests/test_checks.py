"""The benchmark's own tests: every checker accepts a correct output and
rejects a doctored one, and the generator is byte-deterministic.

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
import gen  # noqa: E402


def view(con, name, sql):
    con.execute(f"CREATE OR REPLACE VIEW {name} AS {sql}")


class CheckerTest(unittest.TestCase):
    def setUp(self):
        self.con = checks.connect()

    def tearDown(self):
        self.con.close()

    def test_landing(self):
        view(self.con, "src", "SELECT * FROM (VALUES (1, 'a'), (2, 'b'), (3, 'c')) t(k, v)")
        view(self.con, "arch", "SELECT * FROM src")
        view(self.con, "land", "SELECT * FROM src")
        self.assertEqual(checks.check_landing(self.con, "t", "land", "arch", "src", "k"), [])
        view(self.con, "land", "SELECT * FROM src WHERE k < 3")
        self.assertTrue(checks.check_landing(self.con, "t", "land", "arch", "src", "k"))
        view(self.con, "land", "SELECT * FROM src UNION ALL SELECT 1, 'a'")
        self.assertTrue(checks.check_landing(self.con, "t", "land", "arch", "src", "k"))

    def test_watermark(self):
        view(self.con, "b", "SELECT * FROM (VALUES (5), (9), (7)) t(u)")
        self.assertEqual(checks.check_watermark(self.con, "t", "9", "b", "u"), [])
        self.assertTrue(checks.check_watermark(self.con, "t", "7", "b", "u"))

    def test_qc_report(self):
        view(self.con, "d", "SELECT * FROM (VALUES (1, 'x', 5), (1, NULL, 1), (2, 'y', 3)) t(a, b, c)")
        spec = (["b"], [("b", "'x'")], ["a"], [("big", "c", "c > 2")])
        report = {"null_b": 1, "viol_b": 1, "valid_big": 2, "total_big": 3, "dup_rows": 1,
                  "n_rows": 3, "n_cols": 3, "rate_big": 200.0 / 3}
        self.assertEqual(checks.check_qc_report(self.con, "r", report, "d", spec), [])
        for k in report:
            bad = dict(report)
            bad[k] += 1
            self.assertTrue(checks.check_qc_report(self.con, "r", bad, "d", spec), k)

    def test_sessions(self):
        # user 1: 0 s, +600 s, re-sent copy (dropped), +2400 s -> two sessions
        view(self.con, "ev", """SELECT * FROM (VALUES
            (10, TIMESTAMPTZ '2024-06-01 00:00:00', 1, 'view', 2.0, 'p1'),
            (11, TIMESTAMPTZ '2024-06-01 00:10:00', 1, 'view', 3.0, 'p2'),
            (12, TIMESTAMPTZ '2024-06-01 00:15:00', 1, 'view', 9.0, 'p2'),
            (13, TIMESTAMPTZ '2024-06-01 00:50:00', 1, 'click', 1.0, 'p3'),
            (20, TIMESTAMPTZ '2024-06-01 00:05:00', 2, 'view', 4.0, 'p1'))
            t(event_id, ts, user_id, event_type, value, props)""")
        good = """SELECT * FROM (VALUES
            (1, 2, 10, TIMESTAMP '2024-06-01 00:00:00', 5),
            (1, 3, 13, TIMESTAMP '2024-06-01 00:50:00', 1),
            (2, 2, 20, TIMESTAMP '2024-06-01 00:05:00', 4))
            t(user_id, session_id, entry_id, session_start, pageview_count_sum)"""
        view(self.con, "bronze", good)
        self.assertEqual(checks.check_sessions(self.con, "bronze", "ev"), [])
        view(self.con, "bronze", good.replace("(1, 3, 13", "(1, 2, 13"))
        self.assertTrue(checks.check_sessions(self.con, "bronze", "ev"))
        view(self.con, "bronze", good.replace("00:00:00', 5)", "00:00:00', 14)"))
        self.assertTrue(checks.check_sessions(self.con, "bronze", "ev"))

    def test_incremental(self):
        view(self.con, "sl", "SELECT * FROM (VALUES (1, 100, 0), (2, 101, 0), (1, 205, 1)) t(key, upd, slice)")
        self.con.execute("CREATE TABLE bt AS SELECT * FROM (VALUES (0, 's0'), (1, 's1')) t(slice, stamp)")
        view(self.con, "landed", "SELECT * FROM (VALUES (1, 100, 's0'), (2, 101, 's0'), (1, 205, 's1')) "
                                 "t(key, upd, stamp)")
        self.assertEqual(checks.check_incremental(self.con, "landed", "sl", "bt"), [])
        view(self.con, "landed", "SELECT * FROM (VALUES (1, 100, 's0'), (2, 101, 's0'), (2, 101, 's1'), "
                                 "(1, 205, 's1')) t(key, upd, stamp)")
        self.assertTrue(checks.check_incremental(self.con, "landed", "sl", "bt"))
        view(self.con, "landed", "SELECT * FROM (VALUES (1, 100, 's0'), (1, 205, 's1')) t(key, upd, stamp)")
        self.assertTrue(checks.check_incremental(self.con, "landed", "sl", "bt"))
        view(self.con, "landed", "SELECT * FROM (VALUES (1, 100, 's0'), (2, 101, 's1'), (1, 205, 's1')) "
                                 "t(key, upd, stamp)")
        self.assertTrue(checks.check_incremental(self.con, "landed", "sl", "bt"))

    def test_keep_latest(self):
        view(self.con, "landed", "SELECT * FROM (VALUES (1, 100), (2, 101), (1, 205)) t(key, upd)")
        view(self.con, "bronze", "SELECT * FROM (VALUES (1, 205), (2, 101)) t(key, upd)")
        self.assertEqual(checks.check_keep_latest(self.con, "t", "bronze", "landed"), [])
        view(self.con, "bronze", "SELECT * FROM (VALUES (1, 100), (2, 101)) t(key, upd)")
        self.assertTrue(checks.check_keep_latest(self.con, "t", "bronze", "landed"))

    def test_exact_dedup(self):
        view(self.con, "st", "SELECT * FROM (VALUES (3, 'a b'), (1, 'a b'), (2, 'c')) t(doc_id, text)")
        view(self.con, "kept", "SELECT * FROM (VALUES (1, 2), (2, 1)) t(doc_id, n_copies)")
        self.assertEqual(checks.check_exact_dedup(self.con, "kept", "st"), [])
        view(self.con, "kept", "SELECT * FROM (VALUES (3, 2), (2, 1)) t(doc_id, n_copies)")
        self.assertTrue(checks.check_exact_dedup(self.con, "kept", "st"))
        view(self.con, "kept", "SELECT * FROM (VALUES (1, 2), (3, 1), (2, 1)) t(doc_id, n_copies)")
        self.assertTrue(checks.check_exact_dedup(self.con, "kept", "st"))

    def test_pairs(self):
        texts = {1: "a b c d e f", 2: "a b c d e g", 3: "x y z w"}
        j = 3 / 5
        view(self.con, "p", f"SELECT 1 AS id_a, 2 AS id_b, {j} AS jaccard")
        self.assertEqual(checks.check_pairs(self.con, "p", texts), [])
        view(self.con, "p", "SELECT 1 AS id_a, 3 AS id_b, 0.9 AS jaccard")
        self.assertTrue(checks.check_pairs(self.con, "p", texts))
        view(self.con, "p", f"SELECT 2 AS id_a, 1 AS id_b, {j} AS jaccard")
        self.assertTrue(checks.check_pairs(self.con, "p", texts))

    def test_clusters(self):
        view(self.con, "p", "SELECT * FROM (VALUES (1, 5), (5, 9), (2, 3)) t(id_a, id_b)")
        view(self.con, "c", "SELECT * FROM (VALUES (1, 1), (5, 1), (9, 1), (2, 2), (3, 2)) t(id, cluster)")
        self.assertEqual(checks.check_clusters(self.con, "c", "p"), [])
        # a path cut short: 9 keeps an unconverged label
        view(self.con, "c", "SELECT * FROM (VALUES (1, 1), (5, 1), (9, 5), (2, 2), (3, 2)) t(id, cluster)")
        self.assertTrue(checks.check_clusters(self.con, "c", "p"))

    def test_planted(self):
        view(self.con, "kept", "SELECT unnest([1, 2, 3, 4, 5, 6]) AS doc_id")
        view(self.con, "c", "SELECT * FROM (VALUES (1, 1), (2, 1), (3, 3), (4, 3)) t(id, cluster)")
        planted = [[1, 2], [3, 4]]
        self.assertEqual(checks.check_planted(self.con, "c", "kept", planted), [])
        view(self.con, "c", "SELECT * FROM (VALUES (1, 1), (2, 1), (3, 1), (4, 1)) t(id, cluster)")
        self.assertTrue(checks.check_planted(self.con, "c", "kept", planted))
        view(self.con, "c", "SELECT * FROM (VALUES (1, 1), (2, 1), (5, 5), (6, 5)) t(id, cluster)")
        self.assertTrue(checks.check_planted(self.con, "c", "kept", planted))

    def test_survivors(self):
        view(self.con, "kept", "SELECT unnest([1, 2, 3, 4]) AS doc_id")
        view(self.con, "c", "SELECT * FROM (VALUES (1, 1), (2, 1)) t(id, cluster)")
        view(self.con, "s", "SELECT unnest([1, 3, 4]) AS doc_id")
        self.assertEqual(checks.check_survivors(self.con, "s", "kept", "c"), [])
        view(self.con, "s", "SELECT unnest([1, 2, 3, 4]) AS doc_id")
        self.assertTrue(checks.check_survivors(self.con, "s", "kept", "c"))


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        for w in gen.GENERATORS:
            with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
                gen.generate(w, 7, a)
                gen.generate(w, 7, b)
                cmp = filecmp.dircmp(a, b)
                self.assertEqual(_diffs(cmp), [], w)

    def test_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            gen.generate("curation_corpus", 7, a)
            gen.generate("curation_corpus", 8, b)
            self.assertFalse(filecmp.cmp(f"{a}/corpus.parquet", f"{b}/corpus.parquet", shallow=False))

    def test_csv_column_fast_paths_match_cells(self):
        for col in ([1, 22, -3], ["a", 5, "b"], [True, False], [None, "x&y"], [0.5, 2.0, None]):
            self.assertEqual(gen._csv_column(col), [gen._csv_cell(v) for v in col], col)


def _diffs(cmp):
    """Files that differ in content or exist on one side only, recursively."""
    _, mismatch, errors = filecmp.cmpfiles(cmp.left, cmp.right, cmp.common_files, shallow=False)
    out = mismatch + errors + cmp.left_only + cmp.right_only
    for sub in cmp.subdirs.values():
        out += _diffs(sub)
    return out


if __name__ == "__main__":
    unittest.main()
