"""Output checks, run after the timed window on the run's own inputs.

- Registry queries: the engine's result parquet against DuckDB running the
  engine's own `oracleSql` over the same generated tables.
- `lake_mixed`: a reference model replays the same op log in DuckDB and is
  compared with the engine's final table state and with every sampled read.

Floats compare at a relative tolerance of `REL_TOL`; everything else exactly.
"""
import glob
import json
import math
import os

import duckdb

REL_TOL = 1e-9


def _same(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        if math.isnan(a) and math.isnan(b):
            return True
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-12)
    return a == b


def _key(row):
    return tuple("" if v is None else (round(v, 6) if isinstance(v, float) else str(v))
                 for v in row)


def same_rows(got, want):
    """Order-insensitive row-multiset equality with float tolerance."""
    if len(got) != len(want):
        return False
    g, w = sorted(got, key=_key), sorted(want, key=_key)
    return all(len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
               for a, b in zip(g, w))


def _rows(con, sql):
    rel = con.execute(sql)
    cols = [d[0] for d in rel.description]
    return cols, rel.fetchall()


def _by_name(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [cols[i] for i in order], [tuple(r[i] for i in order) for r in rows]


def check_registry(data_dir, out_dir, names):
    """{query: None if it matches the oracle, else a reason}."""
    oracle = json.load(open(os.path.join(out_dir, "oracle.json")))
    con = duckdb.connect()
    for f in glob.glob(os.path.join(data_dir, "*.parquet")):
        t = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{f}'")
    verdict = {}
    for q in names:
        files = glob.glob(os.path.join(out_dir, "check", q, "*.parquet"))
        if q not in oracle:
            verdict[q] = "no oracle SQL"
        elif not files:
            verdict[q] = "no engine output"
        else:
            try:
                gc, got = _by_name(*_rows(con, f"SELECT * FROM read_parquet({files!r})"))
                ec, want = _by_name(*_rows(con, oracle[q]))
                if gc != ec:
                    verdict[q] = f"columns {gc} vs oracle {ec}"
                elif not same_rows(got, want):
                    verdict[q] = f"rows differ ({len(got)} vs oracle {len(want)})"
                else:
                    verdict[q] = None
            except Exception as e:  # a broken oracle run is a failed check
                verdict[q] = f"{type(e).__name__}: {str(e)[:200]}"
    return verdict


class LakeModel:
    """The reference model of `lake_mixed`: the two tables in DuckDB, fed
    by the same inputs and the DuckDB form of every write the engine ran."""

    def __init__(self, li_path, ord_path):
        self.con = duckdb.connect()
        self.con.execute(f"CREATE TABLE li AS SELECT * FROM '{li_path}'")
        self.con.execute(f"CREATE TABLE ord AS SELECT * FROM '{ord_path}'")
        self.con.execute(f"CREATE VIEW src_li AS SELECT * FROM '{li_path}'")
        self.con.execute(f"CREATE VIEW src_ord AS SELECT * FROM '{ord_path}'")
        self.li_versions = {1: self._li_summary()}
        self.li_version = 1

    def _li_summary(self):
        return self.con.execute(
            "SELECT count(*), sum(l_quantity) FROM li").fetchone()

    def apply(self, op):
        """Applies a write op; returns the expected rows for a read op."""
        if op["kind"] == "read":
            if op["type"] == "time_travel":
                n, q = self.li_versions.get(op["version"], (None, None))
                return [(n, q)]
            return self.con.execute(op["duck"]).fetchall()
        for stmt in op["duck"]:
            self.con.execute(stmt)
        if op["table"] == "li" and op["type"] != "vacuum":
            self.li_version += 1
            self.li_versions[self.li_version] = self._li_summary()
        return None

    def table_diff(self, name, engine_dir):
        """Rows in one side but not the other, timestamps compared as epoch
        microseconds (the engine writes zoned, the model holds naive)."""
        files = glob.glob(os.path.join(engine_dir, "*.parquet"))
        if not files:
            return -1
        desc = self.con.execute(f"DESCRIBE {name}").fetchall()
        sel = ", ".join(f"epoch_us({c}) AS {c}" if t.startswith("TIMESTAMP") else c
                        for c, t, *_ in desc)
        self.con.execute(f"CREATE OR REPLACE VIEW eng AS SELECT {sel} "
                         f"FROM read_parquet({files!r})")
        self.con.execute(f"CREATE OR REPLACE VIEW mdl AS SELECT {sel} FROM {name}")
        return self.con.execute(
            "SELECT (SELECT count(*) FROM (SELECT * FROM eng EXCEPT ALL "
            "SELECT * FROM mdl)) + (SELECT count(*) FROM (SELECT * FROM mdl "
            "EXCEPT ALL SELECT * FROM eng))").fetchone()[0]


def check_lake(data_dir, out_dir, log, recorded_ops):
    """Replays the executed prefix of the op log. Returns (checked reads,
    wrong reads, {table: differing rows}, [op indices of wrong reads])."""
    model = LakeModel(os.path.join(data_dir, "li.parquet"),
                      os.path.join(data_dir, "orders.parquet"))
    ran = {o["i"]: o for o in recorded_ops if "i" in o}
    checked = wrong = 0
    wrong_ops = []
    for op in log:
        if op["i"] not in ran:
            break
        rec = ran[op["i"]]
        if op["kind"] == "write":
            if rec["ok"]:
                model.apply(op)
            continue
        if not (op["check"] and rec["ok"]):
            continue
        want = model.apply(op)
        got = [tuple(json.loads(r).values()) for r in rec["rows"]]
        checked += 1
        if not same_rows(got, want):
            wrong += 1
            wrong_ops.append(op["i"])
    diffs = {t: model.table_diff(t, os.path.join(out_dir, f"final_{t}"))
             for t in ("li", "ord")}
    return checked, wrong, diffs, wrong_ops
