"""Fingerprints of the catalog queries' DuckDB twins
(`SparkEntry.oracleSql`) over the generated tables, computed once per
table set and kept next to it (keyed by the tables' bytes and the SQL)."""
import hashlib
import json
import os

from . import catalog_data
from .fingerprint import fingerprint


def fingerprints(data_dir, sqls):
    """{query: [rows, hash]} for every query with an oracle."""
    h = hashlib.sha256(json.dumps(sqls, sort_keys=True).encode())
    for t in catalog_data.TABLES:
        with open(os.path.join(data_dir, f"{t}.parquet"), "rb") as f:
            h.update(f.read())
    key = h.hexdigest()
    cache = os.path.join(data_dir, "oracle.json")
    if os.path.exists(cache):
        with open(cache) as f:
            saved = json.load(f)
        if saved.get("key") == key:
            return saved["fingerprints"]
    import duckdb
    con = duckdb.connect()
    for t in catalog_data.TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    out = {}
    for q, sql in sqls.items():
        res = con.execute(sql)
        cols = [d[0] for d in res.description]
        out[q] = list(fingerprint(cols, res.fetchall()))
    con.close()
    with open(cache, "w") as f:
        json.dump({"key": key, "fingerprints": out}, f)
    return out
