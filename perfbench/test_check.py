"""Self-test of the output check: a deliberately altered result must be
caught, both by the DuckDB oracle (tools/check.py, through
run.oracle_check), which validates what perfbench/expected.json records,
and by the fingerprint comparison each run makes (run.fingerprint_check).
Uses a tiny corpus, so it needs no JVM.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import tempfile
import unittest
from pathlib import Path

import duckdb

import run

ORACLE = "SELECT user_id, count(*) AS n, sum(value) AS total FROM events GROUP BY user_id"


class OracleCheckTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        root = Path(self.tmp.name)
        self.data, self.check = root / "data", root / "check"
        self.data.mkdir()
        (self.check / "k").mkdir(parents=True)
        self.con = duckdb.connect()
        self.con.execute(
            "CREATE TABLE events AS SELECT * FROM (VALUES (1, 0.5), (1, 2.25), (2, 4.0)) "
            "t(user_id, value)")
        self.con.execute("ALTER TABLE events ALTER user_id TYPE BIGINT")
        self.con.execute("ALTER TABLE events ALTER value TYPE DOUBLE")
        self.con.execute(f"COPY events TO '{self.data}/events.parquet' (FORMAT parquet)")
        (self.check / "oracle_sql.json").write_text(json.dumps({"k": ORACLE}))

    def tearDown(self):
        self.tmp.cleanup()

    def write_result(self, sql):
        self.con.execute(f"COPY ({sql}) TO '{self.check}/k/part-0.parquet' (FORMAT parquet)")

    def test_matching_result_passes(self):
        self.write_result(ORACLE + " ORDER BY user_id DESC")
        self.assertEqual(run.oracle_check(self.data, self.check, ["k"]), {})

    def test_altered_value_is_caught(self):
        self.write_result(
            "SELECT user_id, n, CASE WHEN user_id = 2 THEN total + 1e-9 ELSE total END AS total "
            f"FROM ({ORACLE})")
        self.assertIn("value mismatch", run.oracle_check(self.data, self.check, ["k"])["k"])

    def test_dropped_row_is_caught(self):
        self.write_result(ORACLE + " LIMIT 1")
        self.assertIn("rows", run.oracle_check(self.data, self.check, ["k"])["k"])

    def test_key_without_oracle_sql_is_caught(self):
        self.write_result(ORACLE)
        self.assertEqual(run.oracle_check(self.data, self.check, ["k", "j"]),
                         {"j": "no verdict from tools/check.py"})

    def test_missing_output_is_caught(self):
        self.assertIn("no spark output", run.oracle_check(self.data, self.check, ["k"])["k"])
        self.assertEqual(run.fingerprint_check(self.check, ["k"], {"k": "0"}),
                         {"k": "no output"})

    def test_fingerprint_ignores_file_split_row_and_column_order(self):
        self.write_result(ORACLE)
        before = run.fingerprint(self.check / "k")
        (self.check / "k" / "part-0.parquet").unlink()
        for i, cond in enumerate(["user_id = 1", "user_id <> 1"]):
            self.con.execute(
                f"COPY (SELECT total, n, user_id FROM ({ORACLE}) WHERE {cond}) "
                f"TO '{self.check}/k/part-{i}.parquet' (FORMAT parquet)")
        self.assertEqual(run.fingerprint(self.check / "k"), before)
        self.assertEqual(run.fingerprint_check(self.check, ["k"], {"k": before}), {})

    def test_fingerprint_catches_altered_value(self):
        self.write_result(ORACLE)
        expected = {"k": run.fingerprint(self.check / "k")}
        self.write_result(
            "SELECT user_id, n, CASE WHEN user_id = 2 THEN total + 1e-9 ELSE total END AS total "
            f"FROM ({ORACLE})")
        self.assertIn("differs", run.fingerprint_check(self.check, ["k"], expected)["k"])

    def test_key_without_fingerprint_is_caught(self):
        self.write_result(ORACLE)
        self.assertEqual(run.fingerprint_check(self.check, ["k"], {}),
                         {"k": "no oracle-validated fingerprint"})


if __name__ == "__main__":
    unittest.main()
