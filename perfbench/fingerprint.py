"""Order-insensitive fingerprints of query results.

A fingerprint is the row count plus a SHA-256 over the sorted column
names and the sorted, canonically rendered rows. Values are compared the
way `tools/oracle_check.py` compares them: column order and row order do
not matter, integer width does not matter, timestamps compare by their
UTC wall-clock rendering, and floats compare exactly. The same function
fingerprints DuckDB's answer (when pinning) and Spark's output (every
run), so both sides go through one rendering.
"""
import datetime
import decimal
import glob
import hashlib
import json
import math
import os

import pyarrow.parquet as pq


def canon(v):
    """Render one value; equal values from either engine render equally."""
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return "null" if math.isnan(v) else repr(v)
    if isinstance(v, decimal.Decimal):
        return "null" if v.is_nan() else format(v.normalize(), "f")
    if isinstance(v, str):
        return json.dumps(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat(sep=" ")
    if isinstance(v, (datetime.date, datetime.time)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, dict):
        return "{" + ",".join(f"{json.dumps(str(k))}:{canon(x)}"
                              for k, x in sorted(v.items(), key=lambda kv: str(kv[0]))) + "}"
    if isinstance(v, (list, tuple)):
        # map columns arrive from Arrow as lists of (key, value) tuples
        return "[" + ",".join(canon(x) for x in v) + "]"
    return json.dumps(str(v))


def of_rows(columns, rows):
    """Fingerprint of rows given as dicts keyed by column name."""
    cols = sorted(columns)
    rendered = sorted("\t".join(canon(r[c]) for c in cols) for r in rows)
    h = hashlib.sha256()
    h.update(("\t".join(cols) + "\n").encode())
    for line in rendered:
        h.update(line.encode())
        h.update(b"\n")
    return {"rows": len(rendered), "hash": h.hexdigest()}


def of_arrow(table):
    return of_rows(table.column_names, table.to_pylist())


def of_parquet_dir(path):
    """Fingerprint of a Spark parquet output directory."""
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no parquet output in {path}")
    return of_arrow(pq.ParquetDataset(files).read())
