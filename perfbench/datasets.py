"""Benchmark datasets.

`sf0.01` and `sf0.001` are copies of the deterministic synthetic test
tables (TPC-H-style star schema plus `events`, `documents` and
`embeddings`; one parquet file per table) kept under `perfbench/data`.
`sf0.1` is a 10x replica of `sf0.01` made once per checkout with the
program's own `graft.ScaleGen` under `.bench_build/data`. Row counts are
checked before every run; a replica that is partial or stale is rebuilt,
never timed.
"""
import hashlib
import shutil
import time
from pathlib import Path

import duckdb

HERE = Path(__file__).resolve().parent
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
FIXED = {"region", "nation"}  # ScaleGen keeps the dimension tables as they are
REPLICAS = 10

BASE_ROWS = {
    "sf0.001": {"region": 5, "nation": 25, "customer": 150, "supplier": 10,
                "part": 200, "orders": 1500, "lineitem": 6000, "events": 1000,
                "documents": 500, "embeddings": 500},
    "sf0.01": {"region": 5, "nation": 25, "customer": 1500, "supplier": 100,
               "part": 2000, "orders": 15000, "lineitem": 60000,
               "events": 10000, "documents": 500, "embeddings": 500},
}
ROWS = dict(BASE_ROWS, **{"sf0.1": {
    t: n if t in FIXED else n * REPLICAS for t, n in BASE_ROWS["sf0.01"].items()}})


def table_glob(data_dir: Path, table: str) -> str:
    p = data_dir / f"{table}.parquet"
    return str(p / "*.parquet") if p.is_dir() else str(p)


def row_counts(data_dir: Path) -> dict:
    con = duckdb.connect()
    out = {}
    for t in TABLES:
        try:
            out[t] = con.execute(
                f"SELECT count(*) FROM read_parquet('{table_glob(data_dir, t)}')"
            ).fetchone()[0]
        except duckdb.Error:
            out[t] = None
    con.close()
    return out


def content_tag(data_dir: Path) -> str:
    """Fingerprint of a dataset: md5 over the sorted (path, size, mtime)
    listing of its files, as `graft.T.contentTag` fingerprints one table."""
    sig = []
    for t in TABLES:
        root = data_dir / f"{t}.parquet"
        files = sorted(root.rglob("*")) if root.is_dir() else [root]
        for f in files:
            if f.is_file():
                st = f.stat()
                sig.append(f"{f.relative_to(data_dir)}:{st.st_size}:{int(st.st_mtime * 1000)}")
    return hashlib.md5("|".join(sig).encode()).hexdigest()[:16]


def prepare(name: str, build_dir: Path, launch) -> tuple:
    """Return (data dir, generation seconds) for dataset `name`, after
    checking its row counts; builds the sf0.1 replica when needed with
    `launch(main, args)`, which runs a program main."""
    if name in BASE_ROWS:
        d = HERE / "data" / name
        got = row_counts(d)
        if got != ROWS[name]:
            raise SystemExit(f"dataset {name}: row counts {got} != {ROWS[name]}")
        return d, 0.0
    d = build_dir / "data" / name
    # The replica is stale when its generator or its source data changed.
    key = hashlib.md5((HERE.parent / "src" / "main" / "scala" / "graft" / "ScaleGen.scala")
                      .read_bytes()).hexdigest() + content_tag(HERE / "data" / "sf0.01")
    stamp = build_dir / "data" / f"{name}.stamp"
    if (d.is_dir() and stamp.is_file() and stamp.read_text() == key
            and row_counts(d) == ROWS[name]):
        return d, 0.0
    shutil.rmtree(d, ignore_errors=True)
    tmp = build_dir / "data" / f"{name}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    t0 = time.time()
    r = launch("graft.ScaleGen", [str(HERE / "data" / "sf0.01"), str(tmp), str(REPLICAS)])
    got = row_counts(tmp) if r.returncode == 0 else None
    if got != ROWS[name]:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"ScaleGen failed for {name} (exit {r.returncode}, "
                         f"rows {got}):\n{r.stdout[-2000:]}")
    tmp.rename(d)
    stamp.write_text(key)
    return d, time.time() - t0
