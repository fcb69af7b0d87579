#!/usr/bin/env python3
"""Seeded copy of the benchmark corpus.

The copy holds every table of the source corpus with the same schema,
the same parquet column encodings and the same multiset of rows; only
the row order differs, drawn from the seed. The oracle's answers are
therefore unchanged, while the engine sees a different physical input
per seed. The same seed gives byte-identical files.

run.py calls make_copy(); `corpus.py --self-test <src_dir>` checks the
properties above on copies of <src_dir>.
"""
import hashlib
import os
import shutil
import sys
import tempfile

import numpy as np
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def make_copy(src, dst, seed):
    """Write the seeded copy of every table in `src` to `dst`."""
    parent = os.path.dirname(os.path.abspath(dst))
    os.makedirs(parent, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=".corpus-", dir=parent)
    try:
        for i, name in enumerate(TABLES):
            table = pq.read_table(os.path.join(src, f"{name}.parquet"))
            perm = np.random.default_rng([seed, i]).permutation(table.num_rows)
            # One row group per file, as in the source, so Spark splits
            # the copy into the same number of partitions.
            pq.write_table(table.take(perm), os.path.join(tmp, f"{name}.parquet"),
                           compression="snappy", version="2.6",
                           row_group_size=max(table.num_rows, 1))
        shutil.rmtree(dst, ignore_errors=True)
        os.rename(tmp, dst)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def column_types(path):
    schema = pq.ParquetFile(path).schema
    return [(c.path, c.physical_type, str(c.logical_type))
            for c in (schema.column(i) for i in range(len(schema)))]


def canonical(table):
    """The table sorted by every sortable column: equal multisets of
    rows give equal canonical tables."""
    keys = [f.name for f in table.schema
            if not (f.type.num_fields or str(f.type).startswith("list"))]
    return table.sort_by([(k, "ascending") for k in keys])


def digest(d):
    h = hashlib.sha256()
    for name in TABLES:
        with open(os.path.join(d, f"{name}.parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def self_test(src, work):
    a, b, c = (os.path.join(work, n) for n in ("a", "b", "c"))
    make_copy(src, a, 1)
    make_copy(src, b, 1)
    make_copy(src, c, 2)
    problems = []
    if digest(a) != digest(b):
        problems.append("same seed gave different bytes")
    reordered = 0
    for name in TABLES:
        s = os.path.join(src, f"{name}.parquet")
        x, y = os.path.join(a, f"{name}.parquet"), os.path.join(c, f"{name}.parquet")
        ts, tx = pq.read_table(s), pq.read_table(x)
        if not tx.schema.equals(ts.schema, check_metadata=True):
            problems.append(f"{name}: schema differs")
        if column_types(x) != column_types(s):
            problems.append(f"{name}: parquet column encodings differ")
        if not canonical(tx).equals(canonical(ts)):
            problems.append(f"{name}: rows differ from the source")
        if ts.num_rows > 1 and not pq.read_table(y).equals(tx):
            reordered += 1
    if reordered == 0:
        problems.append("a different seed gave the same row order")
    return problems


def main(argv):
    if argv[:1] == ["--self-test"] and len(argv) == 2:
        bench = os.path.dirname(os.path.abspath(__file__))
        os.makedirs(os.path.join(bench, ".work"), exist_ok=True)
        work = tempfile.mkdtemp(prefix="corpus-self-test-", dir=os.path.join(bench, ".work"))
        try:
            problems = self_test(argv[1], work)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        for p in problems:
            print("FAIL", p)
        print("corpus self-test:", "ok" if not problems else f"{len(problems)} problems")
        return 1 if problems else 0
    print(__doc__, file=sys.stderr)
    return 2


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
