"""DuckDB oracle check of the statements' results.

The harness dumps each statement's result as parquet plus the
statement's `SparkEntry.oracleSql` text. Each oracle runs in DuckDB over
the same dataset; both sides are canonicalised (columns sorted by name,
rows sorted, floats by repr) and compared by digest. Expected digests are
cached per dataset content tag and oracle text, so DuckDB runs once per
dataset, outside every timed region.
"""
import hashlib
import json
import math
from pathlib import Path

import duckdb
import pyarrow.parquet as pq

from datasets import TABLES, content_tag, table_glob


def _canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, list):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    return repr(v)


def digest(tbl) -> dict:
    cols = sorted(tbl.column_names)
    data = [tbl.column(c).to_pylist() for c in cols]
    rows = sorted("|".join(_canon(v) for v in row) for row in zip(*data))
    h = hashlib.sha256("\n".join(rows).encode()).hexdigest()
    return {"cols": cols, "rows": len(rows), "digest": h}


def check(results: Path, data_dir: Path, cache_root: Path, names) -> dict:
    """Return {statement: None if it matches its oracle, else a reason}."""
    oracle = json.loads((results / "oracle_sql.json").read_text())
    cache = cache_root / content_tag(data_dir)
    cache.mkdir(parents=True, exist_ok=True)
    con = None
    out = {}
    for name in names:
        try:
            got = digest(pq.read_table(results / name))
        except Exception as e:  # missing or unreadable dump
            out[name] = f"no result: {e}"
            continue
        sql = oracle.get(name)
        if sql is None:
            out[name] = None if got["rows"] > 0 else "no rows and no oracle"
            continue
        key = cache / (hashlib.md5(sql.encode()).hexdigest() + ".json")
        if key.is_file():
            want = json.loads(key.read_text())
        else:
            if con is None:
                con = duckdb.connect()
                for t in TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"read_parquet('{table_glob(data_dir, t)}')")
            try:
                want = digest(con.sql(sql).arrow())
            except duckdb.Error as e:
                out[name] = f"oracle error: {e}"
                continue
            key.write_text(json.dumps(want))
        out[name] = None if got == want else (
            f"mismatch: spark {got['rows']} rows {got['cols']}, "
            f"oracle {want['rows']} rows {want['cols']}")
    if con is not None:
        con.close()
    return out
