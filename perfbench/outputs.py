"""Output checks for the batch workload, on top of `scripts/check.py`.

Each query's DuckDB oracle (`SparkEntry.oracleSql`) is run once per
checkout against the scale-factor tables, with `check.run_oracle`, and
its result kept as parquet under the work directory, keyed by the SQL
text and the input files. A run's Spark results (one parquet file per
query, in the query's row order) are compared with it by the gate's
own rule: columns sorted by name, row counts equal, then row by row
through `check.norm`. A column whose values Arrow finds identical to
the oracle's skips the value-by-value loop: identical values are equal
under `check.norm` too. Over the 36 `olap_short` results the loop
alone takes ~16 s on a 4-vCPU VM, against ~1 s with the skip, and the
same verdicts; the skip keeps that out of every run's wall.
"""
import glob
import hashlib
import json
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "scripts"))

import check  # noqa: E402  (scripts/check.py)
import duckdb  # noqa: E402

# Changing how oracles are computed invalidates every cached result.
ORACLE_VERSION = "2"


def connect(sf_dir, threads):
    con = duckdb.connect()
    con.execute(f"SET threads = {int(threads)}")
    for t in check.TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _input_key(sf_dir):
    parts = []
    for t in check.TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            st = os.stat(p)
            parts.append(f"{t}:{st.st_size}:{int(st.st_mtime)}")
    return ";".join(parts)


def oracle_paths(names, sqls, sf_dir, cache_dir):
    """name -> cached oracle parquet path (existing or not)."""
    inputs = _input_key(sf_dir)
    out = {}
    for n in names:
        key = hashlib.sha256("\n".join(
            [ORACLE_VERSION, inputs, sqls[n]]).encode()).hexdigest()[:16]
        out[n] = os.path.join(cache_dir, f"{n}-{key}.parquet")
    return out


def prepare_oracles(names, sqls, sf_dir, cache_dir, threads, log):
    """Runs every oracle missing from the cache; returns name -> path."""
    paths = oracle_paths(names, sqls, sf_dir, cache_dir)
    todo = [n for n in names if not os.path.exists(paths[n])]
    if not todo:
        return paths
    os.makedirs(cache_dir, exist_ok=True)
    con = connect(sf_dir, threads)
    for n in todo:
        table = check.run_oracle(con, sqls[n])
        tmp = paths[n] + ".tmp"
        pq.write_table(table, tmp)
        os.replace(tmp, paths[n])
        log(f"oracle {n}: {table.num_rows} rows")
    con.close()
    return paths


def _identical(g, w):
    """Whether two columns hold the same values by Arrow's own equality
    (integers widened to a common type first). False is no verdict."""
    if g.type != w.type:
        if not (pa.types.is_integer(g.type) and pa.types.is_integer(w.type)):
            return False
        g, w = g.cast(pa.int64()), w.cast(pa.int64())
    return g.equals(w)


def compare(con, got_dir, want_path):
    """(None when the Spark result equals the oracle, else why not;
    the result's row count). Both sides are read as `scripts/check.py`
    reads a Spark result."""
    files = sorted(glob.glob(os.path.join(got_dir, "*.parquet")))
    if len(files) != 1:
        return f"expected one result file, found {len(files)}", 0

    def read(path):
        return con.execute(f"SELECT * FROM read_parquet({path!r})").fetch_arrow_table()
    got, want = read(files[0]), read(want_path)
    gcols, wcols = sorted(got.column_names), sorted(want.column_names)
    if gcols != wcols:
        return f"columns {gcols} != oracle {wcols}", got.num_rows
    if got.num_rows != want.num_rows:
        return f"{got.num_rows} rows != oracle {want.num_rows}", got.num_rows
    cols = [c for c in gcols if not _identical(got.column(c), want.column(c))]
    grows = zip(*[got.column(c).to_pylist() for c in cols])
    wrows = zip(*[want.column(c).to_pylist() for c in cols])
    for i, (g, w) in enumerate(zip(grows, wrows)):
        if tuple(map(check.norm, g)) != tuple(map(check.norm, w)):
            return f"row {i} of {cols}: {g} != oracle {w}", got.num_rows
    return None, got.num_rows


def check_all(names, check_dir, oracles, threads):
    """name -> (error or None, result rows)."""
    con = duckdb.connect()
    con.execute(f"SET threads = {int(threads)}")
    out = {}
    for n in names:
        d = os.path.join(check_dir, n)
        if not os.path.isdir(d):
            out[n] = ("no result written", 0)
            continue
        try:
            out[n] = compare(con, d, oracles[n])
        except duckdb.Error as e:
            out[n] = (f"compare failed: {e}", 0)
    con.close()
    return out


def num_rows(paths):
    """name -> row count of each cached oracle result."""
    return {n: pq.read_metadata(p).num_rows for n, p in paths.items()}


def load_sql(path):
    with open(path) as f:
        return json.load(f)["oracle_sql"]
