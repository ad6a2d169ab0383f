"""Benchmark inputs, derived from the checked-in sf0.01 tables and the seed.

`sf001(dest)` copies the sf0.01 tables unchanged. `olap(dest, seed,
copies)` writes a key-offset copy of the relational facts: copy i of
`orders`/`lineitem` shifts the order key by i * ORDER_STRIDE and rotates
its customer, part and supplier foreign keys by seed-drawn amounts
(copy 0 is the original), so every key still joins and every seed gives
different join results. Dimension tables are copied unchanged. The
same seed always writes the same rows in the same order.
"""
import os
import random
import shutil

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
BASE = os.path.join(HERE, "data", "sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
ORDER_STRIDE = 1_000_000  # above every base order key (max 14 999)


def sf001(dest):
    os.makedirs(dest, exist_ok=True)
    for t in TABLES:
        shutil.copyfile(os.path.join(BASE, f"{t}.parquet"), os.path.join(dest, f"{t}.parquet"))


def olap(dest, seed, copies, threads):
    os.makedirs(dest, exist_ok=True)
    for t in TABLES:
        if t not in ("orders", "lineitem"):
            shutil.copyfile(os.path.join(BASE, f"{t}.parquet"), os.path.join(dest, f"{t}.parquet"))
    con = duckdb.connect()
    con.execute(f"SET threads = {threads}")
    con.execute("SET enable_progress_bar = false")
    n = {t: con.sql(f"SELECT max({k}) + 1 FROM '{BASE}/{t}.parquet'").fetchone()[0]
         for t, k in (("customer", "c_custkey"), ("part", "p_partkey"), ("supplier", "s_suppkey"))}
    rng = random.Random(seed)
    rot = [(0, 0, 0)] + [(rng.randrange(n["customer"]), rng.randrange(n["part"]),
                          rng.randrange(n["supplier"])) for _ in range(copies - 1)]
    con.execute("CREATE TABLE rot (i BIGINT, rc BIGINT, rp BIGINT, rs BIGINT)")
    con.executemany("INSERT INTO rot VALUES (?, ?, ?, ?)", [(i, *r) for i, r in enumerate(rot)])
    shifted = {
        "orders": {"o_orderkey": f"o_orderkey + rot.i * {ORDER_STRIDE}",
                   "o_custkey": f"(o_custkey + rot.rc) % {n['customer']}"},
        "lineitem": {"l_orderkey": f"l_orderkey + rot.i * {ORDER_STRIDE}",
                     "l_partkey": f"(l_partkey + rot.rp) % {n['part']}",
                     "l_suppkey": f"(l_suppkey + rot.rs) % {n['supplier']}"},
    }
    for t, exprs in shifted.items():
        cols = [c for (c,) in con.sql(f"SELECT column_name FROM (DESCRIBE SELECT * FROM '{BASE}/{t}.parquet')").fetchall()]
        select = ", ".join(f"{exprs[c]} AS {c}" if c in exprs else c for c in cols)
        union = " UNION ALL ".join(
            f"SELECT {select} FROM (SELECT * FROM rot WHERE i = {i}) rot, '{BASE}/{t}.parquet'"
            for i in range(copies))
        con.execute(f"COPY ({union}) TO '{dest}/{t}.parquet' (FORMAT parquet)")
    con.close()
