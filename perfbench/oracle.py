"""Output check: an order-insensitive value hash of each query's result,
computed the same way for Spark's rows and for the DuckDB oracle's rows.

The normalisation is the parity suite's (``tests/test_parity.py``):
columns sorted by lower-cased name, rows sorted, floats rounded to 9
places, integers below 2**52 compared as floats, NULL and NaN as markers.
The oracle SQL runs in a fresh Python subprocess (``python oracle.py``
reads a JSON spec on stdin), so DuckDB never shares a process with the
Spark JVM, as in the repository's ``bench.py``.
"""

from __future__ import annotations

import decimal
import hashlib
import json
import math
import subprocess
import sys


def _norm_val(v):
    if v is None:
        return ("\x00null",)
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, float):
        return ("f", "nan") if math.isnan(v) else ("f", round(v, 9))
    if isinstance(v, int):
        return ("f", float(v)) if abs(v) < 2**52 else ("i", v)
    if isinstance(v, decimal.Decimal):
        return ("f", round(float(v), 9))
    return ("s", str(v))


def normalize(rows, columns: list[str]) -> list[tuple]:
    """Columns sorted by name, then rows sorted; values normalised."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(_norm_val(r[i]) for i in order) for r in rows)


def value_hash(rows, columns: list[str]) -> str:
    """Digest of the sorted column names and the normalised sorted rows."""
    cols = [c.lower() for c in columns]
    h = hashlib.sha256(repr(sorted(cols)).encode())
    for row in normalize(rows, cols):
        h.update(repr(row).encode())
    return h.hexdigest()


def oracle_hashes(data_dir: str, tables: list[str], sql: dict[str, str], timeout: float = 150.0) -> dict[str, str]:
    """Run each oracle SQL over ``data_dir``'s parquet files in a fresh
    subprocess; returns ``{name: hash}`` or ``{name: "error: ..."}``."""
    spec = json.dumps({"data_dir": data_dir, "tables": tables, "sql": sql})
    out = subprocess.run(
        [sys.executable, __file__], input=spec, capture_output=True, text=True, timeout=timeout
    )
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise RuntimeError(f"oracle subprocess failed (rc={out.returncode}): {out.stderr[-2000:]}")
    return json.loads(lines[-1])


def _child() -> None:
    import duckdb

    spec = json.load(sys.stdin)
    con = duckdb.connect()
    for t in spec["tables"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{spec['data_dir']}/{t}.parquet'")
    result = {}
    for name, sql in spec["sql"].items():
        try:
            res = con.execute(sql)
            cols = [d[0] for d in res.description]
            result[name] = value_hash(res.fetchall(), cols)
        except duckdb.Error as exc:
            result[name] = f"error: {exc}"
    print(json.dumps(result))


if __name__ == "__main__":
    _child()
