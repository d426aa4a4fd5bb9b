"""Expected results for the benchmark's queries.

``result_hash`` reduces a result to an order-insensitive value hash:
columns are sorted by name, each value is rendered with its kind
(int, float, decimal, string, timestamp, list, struct), the rendered
rows are sorted, and the lot is hashed with SHA-256. Spark's
``collect()`` rows and DuckDB's ``fetchall()`` rows of the same values
hash alike.

Run this file to regenerate ``expected.json``: it writes the benchmark
tables at each scale the benchmark uses, runs every benchmark query's
DuckDB oracle (``queries.ORACLE``) over them and stores the hashes.

    python3 perfbench/oracle.py
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import sys
import tempfile
from decimal import Decimal
from pathlib import Path

HERE = Path(__file__).resolve().parent
EXPECTED = HERE / "expected.json"


def _canon(v) -> str:
    if v is None:
        return "N"
    if isinstance(v, bool):
        return f"b{int(v)}"
    if isinstance(v, int):
        return f"i{v}"
    if isinstance(v, float):
        if v != v:
            return "fnan"
        return "f" + repr(v + 0.0)  # -0.0 + 0.0 == 0.0
    if isinstance(v, Decimal):
        return "d" + format(v.normalize(), "f")
    if isinstance(v, str):
        return "s" + v
    if isinstance(v, dt.datetime):
        return "t" + v.isoformat()
    if isinstance(v, dt.date):
        return "D" + v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return "x" + bytes(v).hex()
    if hasattr(v, "asDict"):  # a Spark struct Row
        v = v.asDict()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    raise TypeError(f"no canonical form for {type(v).__name__}")


def result_hash(columns: list[str], rows) -> str:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(_canon(row[i]) for i in order) for row in rows)
    h = hashlib.sha256("\x1f".join(columns[i] for i in order).encode())
    for line in lines:
        h.update(b"\n" + line.encode())
    return h.hexdigest()


def oracle_hashes(data_dir: Path, names: list[str]) -> dict[str, str]:
    import duckdb

    from datagouv_tools_spark.queries import ORACLE

    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute("SET memory_limit = '5GB'")
    con.execute(f"SET temp_directory = '{data_dir / 'duckdb_spill'}'")
    for path in sorted(data_dir.glob("*.parquet")):
        con.execute(f"CREATE VIEW {path.stem} AS SELECT * FROM read_parquet('{path}')")
    out = {}
    for name in names:
        cur = con.execute(ORACLE[name])
        out[name] = result_hash([d[0] for d in cur.description], cur.fetchall())
    return out


def main() -> int:
    sys.path.insert(0, str(HERE.parent))
    from perfbench import datagen
    from perfbench.workloads import SCALES, WORKLOADS

    names = sorted({op for w in WORKLOADS.values() for op in w.queries})
    expected = {}
    for scale in sorted(set(SCALES.values())):
        with tempfile.TemporaryDirectory(dir=HERE.parent) as tmp:
            datagen.write_tables(Path(tmp), scale)
            expected[str(scale)] = oracle_hashes(Path(tmp), names)
    EXPECTED.write_text(json.dumps(expected, indent=1, sort_keys=True) + "\n")
    print(f"wrote {EXPECTED} ({len(names)} queries x {len(expected)} scales)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
