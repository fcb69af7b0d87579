"""Output check against the catalog's DuckDB oracle.

Reuses the repo's own oracle comparison helpers (tools/check.py:
path retargeting, the decimal-width lint, canonical ordering, cell
equality and the bounds-mode check) on the benchmark's seeded corpus
copy, so a query passes here exactly when it would pass that tool.

The seeded copy holds the same rows as the source corpus in another
order, so an oracle's answer over those rows does not depend on the
seed. Answers are therefore kept in `cache_dir`, keyed by the oracle SQL
and the source corpus files; some graph oracles take DuckDB tens of
seconds. Oracles over the files' bytes are the exception (see answer).
"""
import hashlib
import importlib.util
import os
import pickle

import duckdb


def load_check_module(root):
    path = os.path.join(root, "tools", "check.py")
    spec = importlib.util.spec_from_file_location("graft_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def compare(check, want, got):
    """tools/check.py's frame comparison: None when equal, else why."""
    if list(want.columns) != list(got.columns):
        return f"columns want={list(want.columns)} got={list(got.columns)}"
    if len(want) != len(got):
        return f"rows want={len(want)} got={len(got)}"
    for c in want.columns:
        wd, gd = want[c].dtype, got[c].dtype
        if wd != gd and wd.kind != gd.kind:
            return f"dtype mismatch col={c} oracle={wd} spark={gd}"
    for c in want.columns:
        for i, (a, b) in enumerate(zip(want[c].tolist(), got[c].tolist())):
            if not check.cell_eq(a, b):
                return f"value mismatch col={c} row={i} want={a!r} got={b!r}"
    return None


class Oracle:
    def __init__(self, root, corpus_dir, oracle_sql, oracle_bounds, cache_dir, source_id):
        self.check = load_check_module(root)
        self.corpus = corpus_dir
        self.sql = oracle_sql
        self.bounds = oracle_bounds
        self.cache_dir = cache_dir
        self.source_id = source_id
        self.con = duckdb.connect()
        for t in self.check.TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{corpus_dir}/{t}.parquet'")

    def output_rows(self, out_dir, q):
        return self.con.sql(f"SELECT count(*) FROM '{out_dir}/{q}/*.parquet'").fetchone()[0]

    def verify(self, out_dir, q):
        """None when `out_dir/q` matches the oracle (or q has none), else why."""
        c = self.check
        if q in self.bounds:
            try:
                err = c.check_bounds(self.con, out_dir, q, self.bounds[q])
            except Exception as e:
                err = f"bounds check error: {e}"
            if err:
                return f"[bounds] {err}"
        if q not in self.sql:
            return None
        sql = c.retarget(self.sql[q], self.corpus)
        hazards = c.decimal_width_hazards(sql)
        if hazards:
            return f"decimal-width promotion hazard: {hazards[0]}"
        try:
            want = self.answer(sql)
        except Exception as e:
            return f"oracle SQL error: {e}"
        try:
            got = c.canon(self.con.sql(f"SELECT * FROM '{out_dir}/{q}/*.parquet'").df())
        except Exception as e:
            return f"spark output unreadable: {e}"
        return compare(c, want, got)

    def answer(self, sql):
        """The oracle's canonical answer to `sql`, cached across runs. An
        oracle that reads the corpus files as blobs sees their bytes,
        which differ per seed; its answer is not cached."""
        if "read_blob(" in sql:
            return self.check.canon(self.con.sql(sql).df())
        key = hashlib.sha256(f"{self.source_id}\n{sql}".encode()).hexdigest()
        path = os.path.join(self.cache_dir, f"{key}.pkl")
        if os.path.exists(path):
            with open(path, "rb") as f:
                return pickle.load(f)
        want = self.check.canon(self.con.sql(sql).df())
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "wb") as f:
            pickle.dump(want, f)
        os.replace(tmp, path)
        return want
