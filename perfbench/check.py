"""Output checks: canonical row digests and the registry's DuckDB oracles.

A result is reduced to a digest that ignores row order and column
order but nothing else: every value is rendered with its type (an int
3 and a float 3.0 differ), floats bit-exactly (``float.hex``, so -0.0
and 0.0 differ), timestamps as naive UTC. The same rendering is applied
to Spark rows and to DuckDB rows, so a step is correct when its digest
equals the digest of its oracle's result on the same input files.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import json
import math
import os

EXPECTED_FILE = "expected.json"


def _canon(v) -> str:
    if v is None:
        return "~"
    if isinstance(v, bool):
        return "b1" if v else "b0"
    if isinstance(v, int):
        return f"i{v}"
    if isinstance(v, float):
        return "fnan" if math.isnan(v) else "f" + v.hex()
    if isinstance(v, decimal.Decimal):
        return "D" + format(v.normalize(), "f")
    if isinstance(v, str):
        return "s" + json.dumps(v)
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "x" + bytes(v).hex()
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return "t" + v.isoformat()
    if isinstance(v, dt.date):
        return "d" + v.isoformat()
    if isinstance(v, dict):
        # DuckDB structs arrive as dicts, Spark structs as Rows (tuples):
        # both render as their field values in declaration order
        return _canon(list(v.values()))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    raise TypeError(f"no canonical form for {type(v).__name__}")


def digest(columns: list[str], rows) -> dict:
    """Order-insensitive digest of a result given as column names plus
    row tuples; also returns the row count."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("|".join(_canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256(",".join(columns[i] for i in order).encode())
    for line in lines:
        h.update(b"\n")
        h.update(line.encode())
    return {"sha256": h.hexdigest(), "rows": len(lines)}


def spark_digest(columns: list[str], rows) -> dict:
    return digest(columns, [tuple(r) for r in rows])


def duckdb_connection(sf_dir: str, tables):
    import duckdb

    con = duckdb.connect()
    # engine parity: x/0.0 is NULL (DuckDB < 1.1 default); the setting
    # does not exist on older DuckDB, where the default already matches
    try:
        con.execute("SET ieee_floating_point_ops = false")
    except duckdb.Error:
        pass
    con.execute("SET threads = 2")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(sf_dir, t + '.parquet')}'")
    return con


def expected_digests(sf_dir: str, tables, oracles: dict[str, str]) -> dict[str, dict]:
    """Digest of every oracle's result on ``sf_dir``, computed once per
    input dir and kept next to the inputs (``expected.json``); later
    runs on the same inputs read the recorded digests. A digest is
    recorded under the oracle's name and a hash of its SQL, so an edited
    oracle is run again."""
    path = os.path.join(sf_dir, EXPECTED_FILE)
    recorded = {}
    if os.path.exists(path):
        with open(path) as fh:
            recorded = json.load(fh)
    keys = {k: f"{k}:{hashlib.sha256(v.encode()).hexdigest()[:12]}" for k, v in oracles.items()}
    missing = {k: v for k, v in oracles.items() if keys[k] not in recorded}
    if missing:
        con = duckdb_connection(sf_dir, tables)
        for name, sql in missing.items():
            cur = con.execute(sql)
            cols = [d[0] for d in cur.description]
            recorded[keys[name]] = digest(cols, cur.fetchall())
        con.close()
        tmp = f"{path}.tmp{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump(recorded, fh, indent=1, sort_keys=True)
        os.replace(tmp, path)
    return {k: recorded[keys[k]] for k in oracles}
