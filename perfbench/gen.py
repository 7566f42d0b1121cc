"""Seeded input generator for the benchmark.

The table *content* comes from `fixture/sf0.01`, a committed copy of the
engine's sf0.01 test fixture (the tables `tools/check_oracle.py` and
`graft.Verify` run on), so the benchmark reads nothing outside its
checkout and its inputs do not move when the fixture is regenerated.
For a larger scale, `lineitem` and `orders` are replicated `reps` times
with a per-replica order-key offset, the recipe `graft.Bench` uses for its
SF~1 tables; every other table is taken as it is.

The workload seed only decides the physical layout: the row order of every
table and where `lineitem` and `orders` are cut into parquet files. So two
seeds give the same row multiset (and the same query answers) in a
different order and file split, and one seed always gives byte-identical
files.

Usage:
    python3 perfbench/gen.py <out_dir> --reps 10 --seed 7
    python3 perfbench/gen.py --selfcheck      # determinism check
"""
import argparse
import hashlib
import os
import shutil
import sys
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "fixture", "sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
SPLIT = {"lineitem", "orders"}
# Each split file is one parquet row group, i.e. one scan task. A fixed
# count keeps scan parallelism out of the seed's reach; the seed moves the
# cut points by up to a tenth of a file.
SPLIT_FILES = 4


def content(reps):
    """All tables, with `lineitem` and `orders` replicated `reps` times;
    independent of any workload seed."""
    t = {name: pq.read_table(os.path.join(FIXTURE, f"{name}.parquet"))
         for name in TABLES}
    step = 1 + max(pc.max(t["lineitem"]["l_orderkey"]).as_py(),
                   pc.max(t["orders"]["o_orderkey"]).as_py())
    for name, key in (("lineitem", "l_orderkey"), ("orders", "o_orderkey")):
        tbl, i = t[name], t[name].schema.get_field_index(key)
        t[name] = pa.concat_tables(
            tbl.set_column(i, key, pc.add(tbl[key], rep * step))
            for rep in range(reps))
    return t


def write_layout(tables, out_dir, seed):
    """Write every table as `out_dir/<name>.parquet` with its rows permuted
    by `seed`. The two big fact tables are directories of SPLIT_FILES
    parquet files cut at seeded points; every other table is one file, the
    fixture layout the streaming rows' file source expects."""
    for i, name in enumerate(TABLES):
        tbl = tables[name]
        rng = np.random.default_rng([seed, i])
        perm = rng.permutation(tbl.num_rows)
        path = os.path.join(out_dir, f"{name}.parquet")
        if name not in SPLIT:
            pq.write_table(tbl.take(pa.array(perm)), path)
            continue
        even = np.arange(1, SPLIT_FILES) * tbl.num_rows // SPLIT_FILES
        jitter = tbl.num_rows // (10 * SPLIT_FILES)
        cuts = even + rng.integers(-jitter, jitter + 1, SPLIT_FILES - 1)
        os.makedirs(path)
        for k, part in enumerate(np.split(perm, cuts)):
            pq.write_table(tbl.take(pa.array(part)),
                           os.path.join(path, f"part-{k:02d}.parquet"))


def table_files(data_dir, name):
    """The parquet file(s) of one generated table, as a DuckDB path."""
    path = os.path.join(data_dir, f"{name}.parquet")
    return os.path.join(path, "*.parquet") if os.path.isdir(path) else path


def generate(out_dir, reps, seed):
    """Build the inputs for (reps, seed) into `out_dir` unless a complete
    copy is already there; publish atomically."""
    if os.path.exists(os.path.join(out_dir, "_BUILT")):
        return out_dir
    parent = os.path.dirname(os.path.abspath(out_dir))
    os.makedirs(parent, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=".gen-", dir=parent)
    write_layout(content(reps), tmp, seed)
    open(os.path.join(tmp, "_BUILT"), "w").close()
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)
    return out_dir


def _file_hashes(d):
    out = {}
    for root, _, files in os.walk(d):
        for f in sorted(files):
            p = os.path.join(root, f)
            out[os.path.relpath(p, d)] = hashlib.sha256(
                open(p, "rb").read()).hexdigest()
    return out


def _table_digests(d, name):
    """(order-sensitive, order-free) digests of one table's rows."""
    path = os.path.join(d, f"{name}.parquet")
    files = (sorted(os.path.join(path, f) for f in os.listdir(path))
             if os.path.isdir(path) else [path])
    rows = []
    for f in files:
        rows.extend(map(repr, pq.read_table(f).to_pylist()))
    ordered = hashlib.sha256("\n".join(rows).encode()).hexdigest()
    multiset = hashlib.sha256("\n".join(sorted(rows)).encode()).hexdigest()
    return ordered, multiset


def selfcheck(reps=2):
    """Same seed -> identical files; other seed -> same row multiset in
    another order. Exits non-zero on any violation."""
    with tempfile.TemporaryDirectory() as d:
        a, a2, b = (os.path.join(d, x) for x in ("a", "a2", "b"))
        generate(a, reps, 1)
        generate(a2, reps, 1)
        generate(b, reps, 2)
        same = _file_hashes(a) == _file_hashes(a2)
        print(f"seed 1 twice: {len(_file_hashes(a))} files, "
              f"identical content hashes: {same}")
        ok = same
        for name in TABLES:
            (oa, ma), (ob, mb) = (_table_digests(a, name),
                                  _table_digests(b, name))
            reordered = oa != ob or name in ("region", "nation")
            print(f"seed 1 vs 2 {name:10s}: same multiset {ma == mb}, "
                  f"different order {oa != ob}")
            ok = ok and ma == mb and reordered
        print("selfcheck", "ok" if ok else "FAILED")
        return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("out_dir", nargs="?")
    ap.add_argument("--reps", type=int, default=1)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--selfcheck", action="store_true")
    a = ap.parse_args()
    if a.selfcheck:
        return selfcheck()
    generate(a.out_dir, a.reps, a.seed)
    return 0


if __name__ == "__main__":
    sys.exit(main())
