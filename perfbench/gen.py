"""Seeded input generator. Everything a workload reads is derived here from
the read-only test tables and the seed; the same seed gives the same files,
rows and modification times. `generate` returns the manifest the JVM side
reads, plus the input shape it recorded."""
import os
import random
import shutil

import duckdb
import numpy as np
import pyarrow.parquet as pq

TESTDATA = os.environ.get("PERFBENCH_TESTDATA", os.path.expanduser("~/testdata"))
NOTEBOOK_SF = "sf0.1"
OPS_SF = "sf0.01"

# Input shape. Where a value has no measured source it is an assumption,
# marked so; CHANGES.md lists each with the per-pass weight it produces.
MF_DIRS = 40          # the many-file copy: 1,000+ files over many directories;
MF_FILES_PER_DIR = 26  # 40 x 26 = 1,040 files (the split is assumed)
DIRECT_ROWS = 100_000  # 100k x 10, the row set whose hashing was probed at 75-160 ms
INGEST_FILES = 8       # assumed: each version replaces one of 8 files
INGEST_VERSIONS = 20   # a cap: a 15 s run uses about 11
INGEST_DIRECT_ROWS = 10_000  # assumed
# Assumed: version gaps of 1.5-30 s. Freshness keeps whole seconds, so a
# version is only visible to the program if its gap crosses a whole
# second; every gap here does. Which gaps are drawn does not change what is
# timed, only the modification times.
GAP_MS = (1_500, 30_000)
EPOCH_MS = 1_735_689_600_000  # 2025-01-01T00:00:00Z


def mtime_schedule(seed, n):
    """Arrival times (epoch ms) of `n` versions on the generator's clock,
    each 1.5-30 s after the one before."""
    rng = random.Random(seed * 7919 + 17)
    t = EPOCH_MS + rng.randrange(86_400_000)
    out = []
    for _ in range(n):
        t += rng.randrange(*GAP_MS)
        out.append(t)
    return out


def _src(sf, table):
    path = os.path.join(TESTDATA, sf, f"{table}.parquet")
    if not os.path.exists(path):
        raise FileNotFoundError(f"test table missing: {path}")
    return path


def _copy(con, sql, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    con.execute(f"COPY ({sql}) TO '{out_dir}/part-0.parquet' (FORMAT parquet)")


def _keep(seed, key, tenths=9):
    """A seeded subset predicate keeping about `tenths`/10 of the keys."""
    rng = random.Random(seed)
    # `a` coprime to 10, so the kept share does not depend on the seed.
    a = rng.choice([x for x in range(3, 98, 2) if x % 5])
    b, r = rng.randrange(1000), rng.randrange(10)
    return f"((({key} * {a} + {b}) % 10 + 10 - {r}) % 10) < {tenths}"


def _direct_sql(seed, rows, offset):
    """`rows` x 10 columns of mixed types, unique to (seed, offset)."""
    rng = random.Random(seed * 131 + offset)
    a, b, c, d = (rng.randrange(3, 10_000, 2) for _ in range(4))
    return f"""
      SELECT CAST(i + {offset} AS BIGINT) AS id,
             CAST((i * {a}) % 1000 AS INTEGER) AS k1,
             CAST((i * {b}) % 100000 AS DOUBLE) / 100 AS price,
             'key-' || CAST((i * {c}) % 5000 AS VARCHAR) AS tag,
             CAST((i * {d}) % 7 = 0 AS BOOLEAN) AS flag,
             CAST(i % 97 AS SMALLINT) AS bucket,
             CAST((i * {a} + {b}) % 1000003 AS BIGINT) AS h1,
             CAST((i + {offset}) AS DOUBLE) / 3 AS ratio,
             repeat('x', CAST(i % 13 AS INTEGER)) AS pad,
             CAST((i * {c} + {d}) % 65536 AS INTEGER) AS k2
      FROM range({rows}) t(i) ORDER BY i"""


def _many_files(con, seed, where, out_dir):
    """lineitem split over MF_DIRS directories of MF_FILES_PER_DIR files."""
    rng = random.Random(seed * 3 + 1)
    # `c` coprime to MF_DIRS, so every seed fills every directory.
    c = rng.choice([x for x in range(3, 98, 2) if x % 5])
    d = rng.randrange(1000)
    tbl = con.execute(f"""
      WITH l AS (SELECT *, row_number() OVER (ORDER BY l_orderkey, l_linenumber) AS rn_
                 FROM read_parquet('{_src(NOTEBOOK_SF, 'lineitem')}') WHERE {where})
      SELECT * EXCLUDE (rn_), CAST((rn_ * {c} + {d}) % {MF_DIRS} AS INTEGER) AS shard_,
             CAST((rn_ // {MF_DIRS}) % {MF_FILES_PER_DIR} AS INTEGER) AS file_
      FROM l ORDER BY shard_, file_, l_orderkey, l_linenumber""").fetch_arrow_table()
    keys = (tbl.column("shard_").to_numpy() * MF_FILES_PER_DIR
            + tbl.column("file_").to_numpy())
    body = tbl.drop(["shard_", "file_"])
    bounds = np.flatnonzero(np.diff(keys)) + 1
    starts = np.concatenate([[0], bounds])
    ends = np.concatenate([bounds, [len(keys)]])
    for s, e in zip(starts, ends):
        shard, f = divmod(int(keys[s]), MF_FILES_PER_DIR)
        d = os.path.join(out_dir, f"shard={shard}")
        os.makedirs(d, exist_ok=True)
        pq.write_table(body.slice(s, e - s), os.path.join(d, f"part-{f:03d}.parquet"))


def generate(workload, seed, data):
    """Writes the inputs of `workload` under `data`; returns the manifest."""
    os.makedirs(data, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    manifest = {"data": data}
    _copy(con, f"SELECT * FROM read_parquet('{_src(NOTEBOOK_SF, 'nation')}')",
          f"{data}/nation")
    if workload == "notebook_rerun":
        okeep = _keep(seed, "o_orderkey")
        _copy(con, f"SELECT * FROM read_parquet('{_src(NOTEBOOK_SF, 'orders')}') WHERE {okeep}",
              f"{data}/orders")
        _copy(con, f"SELECT * FROM read_parquet('{_src(NOTEBOOK_SF, 'customer')}')",
              f"{data}/customer")
        lkeep = _keep(seed, "l_orderkey", 3)
        _copy(con, f"SELECT * FROM read_parquet('{_src(NOTEBOOK_SF, 'lineitem')}') WHERE {lkeep}",
              f"{data}/lineitem")
        _many_files(con, seed, lkeep, f"{data}/lineitem_mf")
        _copy(con, _direct_sql(seed, DIRECT_ROWS, 0), f"{data}/direct")
        manifest["direct"] = f"{data}/direct"
    elif workload == "ingest_refresh":
        okeep = _keep(seed, "o_orderkey")
        base = f"SELECT * FROM read_parquet('{_src(NOTEBOOK_SF, 'orders')}') WHERE {okeep}"
        _copy(con, f"SELECT * FROM read_parquet('{_src(NOTEBOOK_SF, 'customer')}')",
              f"{data}/customer")
        live = f"{data}/ingest/orders"
        os.makedirs(live, exist_ok=True)
        os.makedirs(f"{data}/ingest_versions", exist_ok=True)
        schedule = mtime_schedule(seed, INGEST_VERSIONS)
        t0 = (schedule[0] - 60_000) / 1000
        for k in range(INGEST_FILES):
            path = f"{live}/part-{k}.parquet"
            con.execute(f"COPY ({base} AND o_orderkey % {INGEST_FILES} = {k} ORDER BY o_orderkey) "
                        f"TO '{path}' (FORMAT parquet)")
            os.utime(path, (t0, t0))
        versions = []
        for n, mtime in enumerate(schedule, start=1):
            k = n % INGEST_FILES
            staged = f"{data}/ingest_versions/v{n:04d}.parquet"
            # A version re-prices every order in one file: every aggregate
            # over the table changes.
            con.execute(f"""COPY (SELECT * REPLACE (o_totalprice + {n} * 0.37 AS o_totalprice)
                            FROM ({base} AND o_orderkey % {INGEST_FILES} = {k}) ORDER BY o_orderkey)
                            TO '{staged}' (FORMAT parquet)""")
            versions.append({"n": n, "staged": staged, "target": f"{live}/part-{k}.parquet",
                             "mtime_ms": mtime, "direct": f"{data}/ingest_direct/d{n:04d}"})
        for n in range(INGEST_VERSIONS + 1):
            _copy(con, _direct_sql(seed, INGEST_DIRECT_ROWS, (n + 1) * 1_000_000),
                  f"{data}/ingest_direct/d{n:04d}")
        manifest["versions"] = versions
        manifest["initial_direct"] = f"{data}/ingest_direct/d0000"
    elif workload == "operator_sweep":
        ops = f"{data}/ops"
        os.makedirs(ops, exist_ok=True)
        for t in ("documents", "embeddings"):
            shutil.copyfile(_src(OPS_SF, t), f"{ops}/{t}.parquet")
        manifest["ops_dir"] = ops
    else:
        raise ValueError(f"unknown workload {workload}")
    con.close()
    manifest["shape"] = input_shape(data)
    return manifest


def input_shape(data):
    """Files, directories and bytes of each generated input table."""
    shape = {}
    for name in sorted(os.listdir(data)):
        root = os.path.join(data, name)
        files, dirs, size = 0, set(), 0
        for d, _, fs in os.walk(root):
            for f in fs:
                if f.endswith(".parquet"):
                    files += 1
                    dirs.add(d)
                    size += os.path.getsize(os.path.join(d, f))
        shape[name] = {"files": files, "dirs": len(dirs), "bytes": size}
    return shape
