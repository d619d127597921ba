"""Result digests for the query panel, normalized the way the
repository's oracle gate (tools/check_correctness.py) normalizes them:
columns sorted by name, rows sorted, floats as `.6g`, decimals
normalized, bytes as hex, NULL as "NULL"."""
import decimal
import hashlib
import math


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6g}"
    if isinstance(v, decimal.Decimal):
        n = v.normalize()
        return format(n, "f") if n == n.to_integral_value() else str(n)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def table_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x01".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def digest(cols, rows):
    """{rows, cols (sorted), hash} of one result."""
    return {"rows": len(rows), "cols": sorted(cols), "hash": table_hash(cols, rows)}


def arrow_digest(t):
    cols = list(t.column_names)
    data = [t.column(c).to_pylist() for c in cols]
    return digest(cols, list(zip(*data)) if cols else [])


def parquet_digest(path):
    import pyarrow.parquet as pq
    return arrow_digest(pq.read_table(path))
