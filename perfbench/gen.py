"""Seeded input generation for the benchmark.

Everything the engine sees comes from here: the fixture-shaped parquet
tables (same schema and value domains as the TPC-H-like fixture set the
engine's registry queries are written against) and, for `lake_mixed`, the
SQL op log. The same seed gives byte-identical tables and the same op log;
`op_log_hash` fingerprints the log so a result records exactly what ran.
"""
import hashlib
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = ("a agg batch big column customer data fast filter group hash index "
         "join key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000  # 1995-01-01T00:00:00 in microseconds
EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00 in microseconds

# Tables each workload reads; generating only these keeps set-up short.
TABLES = {
    "registry_mix": ["region", "nation", "customer", "supplier", "part",
                     "orders", "lineitem", "events", "documents", "embeddings"],
    "lake_mixed": ["lineitem", "orders"],
}


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _days(rng, n, span_days):
    return EPOCH_1995 + rng.integers(0, span_days, n) * DAY_US


def make_tables(seed, sf, names):
    """Fixture-shaped tables at scale factor `sf` (lineitem = 6M x sf rows)."""
    rng = np.random.default_rng(seed)
    n_li, n_ord = int(6_000_000 * sf), int(1_500_000 * sf)
    n_cust, n_part = int(150_000 * sf), int(200_000 * sf)
    n_supp, n_ev = max(10, int(10_000 * sf)), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                               rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _ts(_days(rng, n_ord, 2404)),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts(_days(rng, n_li, 2498))})
    ev_ts = np.sort(EPOCH_2024 + rng.integers(0, 30 * DAY_US, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(ev_ts),
        "user_id": rng.integers(0, max(10, n_ev // 66), n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    t["documents"] = _documents(rng, n_doc)
    t["embeddings"] = _embeddings(rng, n_emb)
    return {k: t[k] for k in names}


def _documents(rng, n):
    """Word-soup documents; one in ten is a light edit of an earlier one,
    so the near-duplicate queries have pairs to find."""
    docs = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.1:
            words = docs[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = list(rng.choice(WORDS, int(rng.integers(10, 100))))
        docs.append(" ".join(words))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": docs,
        "lang": rng.choice(LANGS, n),
        "source": [f"src{i}" for i in rng.integers(0, 20, n)],
        "n_chars": np.array([len(d) for d in docs], dtype=np.int64)})


def _embeddings(rng, n, dim=64):
    """Unit vectors scattered around one centroid per label."""
    labels = rng.integers(0, 10, n)
    centroids = rng.normal(0, 1, (10, dim))
    v = centroids[labels] + rng.normal(0, 0.8, (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})


def write_tables(tables, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


# --------------------------------------------------------------------------
# lake_mixed op log
# --------------------------------------------------------------------------

LI_COLS = ("l_rowkey, l_orderkey, l_partkey, l_suppkey, l_linenumber, "
           "l_quantity, l_extendedprice, l_discount, l_tax, l_returnflag, "
           "l_linestatus, l_shipdate")
ORD_COLS = ("o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
            "o_orderdate, o_orderpriority")
CATALOG = "lake"
KEEP_VERSIONS = 4
# One pass: the same ops in the same order every time, so passes are
# comparable; the seed picks the keys, batches and time-travel targets.
# Reads are half the ops; `li` takes a MERGE, an UPDATE and a copy-on-write
# DELETE, `ord` a merge-on-read DELETE and an INSERT, and each pass ends
# with one optimize and one vacuum of `li`.
PASS_MIX = [("read", "point"), ("write", "merge"), ("read", "range_agg"),
            ("read", "count"), ("write", "delete_li"), ("read", "group_by"),
            ("write", "update"), ("read", "time_travel"),
            ("write", "delete_ord"), ("read", "point"), ("write", "insert"),
            ("read", "ord_point"), ("write", "optimize"), ("write", "vacuum")]
PASS_OPS = len(PASS_MIX)
BATCH = 200        # rows per MERGE / INSERT batch
KEYS_PER_DML = 20  # keys per DELETE / UPDATE


class KeyPool:
    """The live keys of one table: O(1) add, remove and seeded pick."""

    def __init__(self, keys):
        self.keys = list(keys)
        self.pos = {k: i for i, k in enumerate(self.keys)}

    def add(self, keys):
        for k in keys:
            self.pos[k] = len(self.keys)
            self.keys.append(k)

    def remove(self, keys):
        for k in keys:
            i, last = self.pos.pop(k), self.keys.pop()
            if last != k:
                self.keys[i], self.pos[last] = last, i

    def sample(self, rng, n):
        return sorted(rng.sample(self.keys, n))


def _op(i, kind, typ, spark, duck, check=False, table=None):
    return {"i": i, "kind": kind, "type": typ, "spark": spark, "duck": duck,
            "check": check, "table": table}


def lake_ops(seed, n_li, n_ord, passes, check_every=3, batch=BATCH,
             keys_per_dml=KEYS_PER_DML):
    """The seeded op log over `li` (lineitem + unique l_rowkey, copy-on-write)
    and `ord` (orders, merge-on-read deletes).

    A generator-side model of the live key sets makes every DELETE and
    UPDATE hit live rows and every MERGE both update and insert, so each
    write publishes exactly one commit and `VERSION AS OF` targets are
    known in advance. `check` marks the seeded sample of reads whose rows the
    harness returns for comparison with the reference model.
    """
    rng = random.Random(seed)
    half = batch // 2
    li_live, ord_live = KeyPool(range(n_li)), KeyPool(range(n_ord))
    li_next, ord_next = n_li, n_ord
    li_version = 1  # CREATE (v0) + initial INSERT (v1)
    li, ordt = f"{CATALOG}.default.li", f"{CATALOG}.default.ord"
    ops = []
    for _ in range(passes):
        for kind, typ in PASS_MIX:
            i = len(ops)
            if kind == "read":
                chk = rng.randrange(check_every) == 0
                if typ == "point":
                    k = rng.choice(li_live.keys) if rng.random() < 0.9 \
                        else li_next + 7
                    q = ("SELECT l_rowkey, l_orderkey, l_quantity, "
                         "l_extendedprice, l_returnflag FROM {t} "
                         f"WHERE l_rowkey = {k}")
                    ops.append(_op(i, kind, typ, q.format(t=li),
                                   q.format(t="li"), chk, "li"))
                elif typ == "range_agg":
                    a = rng.randrange(0, li_next)
                    q = ("SELECT count(*) AS n, sum(l_quantity) AS q, "
                         "sum(l_extendedprice) AS p FROM {t} "
                         f"WHERE l_rowkey BETWEEN {a} AND {a + 999}")
                    ops.append(_op(i, kind, typ, q.format(t=li),
                                   q.format(t="li"), chk, "li"))
                elif typ == "group_by":
                    q = ("SELECT l_returnflag, l_linestatus, count(*) AS n, "
                         "sum(l_quantity) AS q FROM {t} "
                         "GROUP BY l_returnflag, l_linestatus")
                    ops.append(_op(i, kind, typ, q.format(t=li),
                                   q.format(t="li"), chk, "li"))
                elif typ == "count":
                    q = "SELECT count(*) AS n FROM {t}"
                    ops.append(_op(i, kind, typ, q.format(t=ordt),
                                   q.format(t="ord"), chk, "ord"))
                elif typ == "ord_point":
                    k = rng.choice(ord_live.keys)
                    q = ("SELECT o_orderkey, o_custkey, o_totalprice, "
                         f"o_orderstatus FROM {{t}} WHERE o_orderkey = {k}")
                    ops.append(_op(i, kind, typ, q.format(t=ordt),
                                   q.format(t="ord"), chk, "ord"))
                else:  # time_travel: one or two commits back
                    v = max(1, li_version - rng.choice([1, 2]))
                    q = ("SELECT count(*) AS n, sum(l_quantity) AS q "
                         f"FROM {li} VERSION AS OF {v}")
                    o = _op(i, kind, typ, q, None, chk, "li")
                    o["version"] = v
                    ops.append(o)
                continue
            if typ == "vacuum":
                ops.append(_op(i, kind, typ,
                               f"CALL {CATALOG}.system.vacuum(table => 'li', "
                               f"keep_versions => {KEEP_VERSIONS})", [], table="li"))
                continue
            if typ == "optimize":
                ops.append(_op(i, kind, typ,
                               f"CALL {CATALOG}.system.optimize(table => 'li', "
                               "num_files => 4)", [], table="li"))
                li_version += 1
                continue
            if typ == "merge":
                # half the batch re-writes live rows, half adds new keys
                upd = li_live.sample(rng, half)
                a = rng.randrange(0, n_li - half)
                off = li_next - a
                src = (f"SELECT {LI_COLS.replace('l_quantity', 'l_quantity + 1.0 AS l_quantity')} "
                       f"FROM li_cur WHERE l_rowkey IN ({','.join(map(str, upd))}) "
                       f"UNION ALL SELECT {LI_COLS.replace('l_rowkey,', f'l_rowkey + {off} AS l_rowkey,', 1)} "
                       f"FROM src_li WHERE l_rowkey BETWEEN {a} AND {a + half - 1}")
                spark_src = src.replace("li_cur", li)
                spark = (f"MERGE INTO {li} t USING ({spark_src}) s "
                         "ON t.l_rowkey = s.l_rowkey "
                         "WHEN MATCHED THEN UPDATE SET * "
                         "WHEN NOT MATCHED THEN INSERT *")
                duck = [f"CREATE OR REPLACE TEMP TABLE merge_src AS "
                        f"{src.replace('li_cur', 'li')}",
                        "DELETE FROM li WHERE l_rowkey IN "
                        "(SELECT l_rowkey FROM merge_src)",
                        "INSERT INTO li SELECT * FROM merge_src"]
                li_live.add(range(li_next, li_next + half))
                li_next += half
                ops.append(_op(i, kind, typ, spark, duck, table="li"))
                li_version += 1
            elif typ.startswith("delete"):
                on_li = typ == "delete_li"
                live, tname, key = ((li_live, "li", "l_rowkey") if on_li
                                    else (ord_live, "ord", "o_orderkey"))
                ks = live.sample(rng, keys_per_dml)
                live.remove(ks)
                q = f"DELETE FROM {{t}} WHERE {key} IN ({','.join(map(str, ks))})"
                ops.append(_op(i, kind, typ, q.format(
                    t=f"{CATALOG}.default.{tname}"), [q.format(t=tname)],
                    table=tname))
                if on_li:
                    li_version += 1
            elif typ == "update":
                ks = li_live.sample(rng, keys_per_dml)
                q = ("UPDATE {t} SET l_quantity = l_quantity + 2.0, "
                     "l_tax = 0.05 WHERE l_rowkey IN "
                     f"({','.join(map(str, ks))})")
                ops.append(_op(i, kind, typ, q.format(t=li), [q.format(t="li")],
                               table="li"))
                li_version += 1
            else:  # insert: append a fresh batch of orders
                a = rng.randrange(0, n_ord - batch)
                off = ord_next - a
                q = (f"INSERT INTO {{t}} SELECT "
                     f"{ORD_COLS.replace('o_orderkey,', f'o_orderkey + {off} AS o_orderkey,', 1)} "
                     f"FROM src_ord WHERE o_orderkey BETWEEN {a} AND {a + batch - 1}")
                ops.append(_op(i, kind, typ, q.format(t=ordt), [q.format(t="ord")],
                               table="ord"))
                ord_live.add(range(ord_next, ord_next + batch))
                ord_next += batch
    return ops


def op_log_hash(ops):
    return hashlib.sha256(json.dumps(ops, sort_keys=True).encode()).hexdigest()


def lineitem_with_rowkey(tbl):
    """`li`'s source: lineitem plus a generated unique key. The fixture key
    (l_orderkey, l_linenumber, l_suppkey) repeats, so it cannot drive a
    MERGE without a cardinality violation."""
    key = pa.array(np.arange(tbl.num_rows, dtype=np.int64))
    return tbl.add_column(0, "l_rowkey", key)
