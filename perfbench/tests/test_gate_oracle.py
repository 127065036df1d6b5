#!/usr/bin/env python3
"""Tests of the gate checksum's DuckDB side.

Run from the root of the checkout:

    python3 -m unittest discover -s perfbench/tests

`python3 perfbench/tests/test_gate_oracle.py --write` regenerates the
fixture that perfbench's ChecksumSpec reads from Spark and its stored
checksum.
"""
import importlib.util
import json
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
BENCH = HERE.parent
sys.path.insert(0, str(BENCH))
import gate_oracle  # noqa: E402

RESOURCES = BENCH / "harness" / "src" / "test" / "resources"
FIXTURE = RESOURCES / "checksum_fixture.parquet"
EXPECTED = RESOURCES / "checksum_fixture.json"
CHECK_ORACLE = BENCH.parent / "scripts" / "check_oracle.py"

# one of each value kind the mix's outputs can hold, NULLs included
FIXTURE_SQL = """
SELECT * FROM (VALUES
  (1::BIGINT, 10::INTEGER, 0.1::DOUBLE, 12.50::DECIMAL(12,2), 'alpha',
   DATE '2024-01-02', TIMESTAMP '2024-01-02 03:04:05.123456', true,
   [1, 2, 3], {'a': 1, 'b': 'x'}),
  (2, NULL, -1e-5, -0.01, 'beta ✓ unicode', DATE '1999-12-31',
   TIMESTAMP '1970-01-01 00:00:00', false, [], {'a': 2, 'b': NULL}),
  (3, 30, 'NaN'::DOUBLE, 0.00, NULL, NULL, NULL, NULL, NULL, NULL),
  (4, 40, 3.141592653589793, 99999.99, '', DATE '2024-02-29',
   TIMESTAMP '2024-02-29 23:59:59.999999', true, [NULL, 5],
   {'a': NULL, 'b': 'y'})
) t(id, n, x, d, s, day, ts, flag, xs, st)
"""


def oracle_equal(con, a, b):
    """check_oracle.py's value comparison, as a multiset of rows."""
    spec = importlib.util.spec_from_file_location("check_oracle", CHECK_ORACLE)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    def rows(q):
        rel = con.sql(q)
        cols = sorted(rel.columns)
        return sorted(tuple(mod.norm(v) for v in r) for r in
                      con.sql(f"SELECT {', '.join(cols)} FROM ({q})").fetchall())
    return rows(a) == rows(b)


class GateChecksumTest(unittest.TestCase):

    def setUp(self):
        import duckdb
        self.con = duckdb.connect()
        self.base = f"SELECT * FROM '{FIXTURE}'"

    def test_stored_fixture_checksum(self):
        want = json.loads(EXPECTED.read_text())
        got = gate_oracle.relation_checksum(self.con.sql(self.base))
        self.assertEqual(got, (want["rows"], want["checksum"]))

    @unittest.skipUnless(CHECK_ORACLE.exists(), "scripts/check_oracle.py absent")
    def test_agrees_with_check_oracle(self):
        b = self.base
        variants = {
            "rows reordered": f"SELECT * FROM ({b}) ORDER BY id DESC",
            "columns reordered": f"SELECT st, xs, ts, s, x, n, id, d, day, flag FROM ({b})",
            "one double off by one ulp":
                f"SELECT * REPLACE (CASE WHEN id = 4 THEN nextafter(x, 4.0) ELSE x END AS x) FROM ({b})",
            "one row dropped": f"SELECT * FROM ({b}) WHERE id <> 2",
            "one string changed":
                f"SELECT * REPLACE (CASE WHEN id = 1 THEN 'alphb' ELSE s END AS s) FROM ({b})",
            "null turned empty":
                f"SELECT * REPLACE (coalesce(s, '') AS s) FROM ({b})",
        }
        base_sum = gate_oracle.relation_checksum(self.con.sql(b))
        for name, q in variants.items():
            with self.subTest(name):
                same_sum = gate_oracle.relation_checksum(self.con.sql(q)) == base_sum
                self.assertEqual(same_sum, oracle_equal(self.con, b, q))


def write_fixture():
    import duckdb
    con = duckdb.connect()
    RESOURCES.mkdir(parents=True, exist_ok=True)
    con.sql(f"COPY ({FIXTURE_SQL}) TO '{FIXTURE}' (FORMAT PARQUET)")
    rows, cs = gate_oracle.relation_checksum(con.sql(f"SELECT * FROM '{FIXTURE}'"))
    EXPECTED.write_text(json.dumps({"rows": rows, "checksum": cs}) + "\n")


if __name__ == "__main__":
    if "--write" in sys.argv:
        write_fixture()
    else:
        unittest.main()
