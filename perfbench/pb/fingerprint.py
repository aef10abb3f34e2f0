"""Order-insensitive result fingerprints, computed the same way for the
engine's rows and for the DuckDB twin's rows: columns ordered by name,
every cell canonicalised, rows sorted, then hashed."""
import datetime
import decimal
import hashlib
import math

NON_FINITE = {"NaN": "NaN", "Infinity": "Infinity", "-Infinity": "-Infinity"}


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, decimal.Decimal):
        return canon(float(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Infinity" if v > 0 else "-Infinity"
        if v == 0:
            return "0"  # folds -0.0
        return format(v, ".10g")
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, str):
        # the engine side ships non-finite doubles as these strings
        return NON_FINITE.get(v, v)
    return str(v)


def fingerprint(columns, rows):
    """(row count, hash) of a result, independent of row and column order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(canon(row[i]) for i in order) for row in rows)
    digest = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return len(rows), digest
