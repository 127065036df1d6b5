#!/usr/bin/env python3
"""Derive perfbench/data/gate_checksums.json from the DuckDB oracles.

Usage, from the root of the checkout, after one `perfbench/run.py` build:

    python3 perfbench/gate_oracle.py

Runs each gate_mix gate's oracle SQL (printed by perfbench.OracleSql) in
DuckDB over perfbench/data/sf0.01 and stores its row count and checksum.
The benchmark only reads the stored file; rerun this when the mix, the
data or an oracle changes.

The checksum mirrors scripts/check_oracle.py's comparison: columns in
name order, every value exact (doubles to the last bit). Each row renders
as its values joined by U+001F; the checksum is the sum modulo 2**64 of
the first 8 bytes (big-endian) of each rendered row's MD5. perfbench
Checksum.scala computes the same from Spark rows.
"""
import datetime
import decimal
import hashlib
import json
import struct
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
DATA = HERE / "data" / "sf0.01"
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def render(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return "f:" + struct.pack(">d", v).hex()
    if isinstance(v, decimal.Decimal):
        return format(v, "f")
    if isinstance(v, str):
        return v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(render(x) for x in v) + "]"
    if isinstance(v, dict):  # a STRUCT, fields in declared order
        return "{" + ",".join(f"{k}:{render(x)}" for k, x in v.items()) + "}"
    raise TypeError(f"no canonical form for {type(v).__name__}")


def checksum(columns, rows):
    """(row count, 16-hex checksum) of rows whose values follow `columns`."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    n = 0
    for r in rows:
        s = "\x1f".join(render(r[i]) for i in order)
        total += int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[:8], "big")
        n += 1
    return n, format(total % (1 << 64), "016x")


def relation_checksum(rel):
    if any("MAP(" in str(t) for t in rel.types):
        raise TypeError("MAP columns have no canonical form here")
    return checksum(rel.columns, rel.fetchall())


def connect(data_dir):
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        p = Path(data_dir) / f"{t}.parquet"
        if p.exists():
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def main():
    cp = (Path(".bench_build") / "classpath.txt").read_text().strip()
    sql = json.loads(subprocess.run(
        ["java", "-cp", cp, "perfbench.OracleSql"], check=True,
        capture_output=True, text=True).stdout.strip().splitlines()[-1])
    con = connect(DATA)
    out = {}
    for gate, q in sorted(sql.items()):
        rows, cs = relation_checksum(con.sql(q))
        out[gate] = {"rows": rows, "checksum": cs}
        print(f"{gate}: {rows} rows {cs}", file=sys.stderr)
    (HERE / "data" / "gate_checksums.json").write_text(
        json.dumps(out, indent=2, sort_keys=True) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
