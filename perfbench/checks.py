"""Output checks, run after the timed region: DuckDB recomputes what the
engine wrote or served, over the same parquet store.

Each check returns a list of failure messages (empty = pass).
"""
import math
import os
import subprocess
import sys
from urllib.parse import parse_qs, urlparse

import duckdb


def _close(a, b, rel=1e-9):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) and math.isnan(a):
        return isinstance(b, float) and math.isnan(b)
    return abs(a - b) <= rel * max(1.0, abs(a), abs(b))


def _store_view(con, name, path):
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                f"read_parquet('{path}/**/*.parquet', hive_partitioning = false)")


def serve(store_dir, samples):
    """``samples``: [(path, parsed JSON body)] of point and stats responses."""
    con = duckdb.connect()
    _store_view(con, "g", store_dir)
    fails = []
    for path, body in samples:
        q = {k: float(v[0]) for k, v in parse_qs(urlparse(path).query).items()}
        data = body.get("data") if isinstance(body, dict) else None
        if data is None:
            fails.append(f"{path}: no data in payload")
            continue
        if "/point" in path:
            exp = [r[0] for r in con.execute(
                "SELECT temperature FROM g WHERE abs(lat - ?) < 1e-9 AND abs(lon - ?) < 1e-9 "
                "ORDER BY ts", [q["lat"], q["lon"]]).fetchall()]
            got = [r["temperature"] for r in data]
            if exp != got:
                fails.append(f"{path}: {len(got)} values served, {len(exp)} expected "
                             f"or values differ")
        else:
            exp = con.execute(
                "SELECT count(*), avg(temperature), stddev_pop(temperature), min(temperature), "
                "max(temperature), quantile_cont(temperature, 0.1), "
                "quantile_cont(temperature, 0.5), quantile_cont(temperature, 0.9) FROM g "
                "WHERE lat BETWEEN ? AND ? AND lon BETWEEN ? AND ?",
                [q["min_lat"], q["max_lat"], q["min_lon"], q["max_lon"]]).fetchone()
            row = data[0] if data else {}
            got = [row.get(k) for k in ("n", "mean", "std", "min", "max", "p10", "p50", "p90")]
            if got[0] != exp[0] or not all(_close(a, b) for a, b in zip(got[1:], exp[1:])):
                fails.append(f"{path}: served {got}, expected {list(exp)}")
    return fails


def query_suite(root, tables_dir, out_dir):
    """The repo's own oracle gate, scripts/check.py, over the written results."""
    p = subprocess.run([sys.executable, os.path.join(root, "scripts", "check.py"),
                        tables_dir, out_dir], capture_output=True, text=True)
    lines = p.stdout.splitlines()
    fails = [line for line in lines if line.startswith(("FAIL", "SKIP", "ROWS-ONLY"))]
    if p.returncode != 0 or not lines or not lines[-1].startswith("=="):
        fails.append(f"check.py exited {p.returncode}: {p.stderr.strip()[-300:]}")
    return fails
