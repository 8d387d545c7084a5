"""Seeded input generators: base tables, query order and commit streams.

Everything the engine sees is produced here from one integer seed, as
parquet files or SQL text, so the same seed gives byte-identical
inputs. The base tables follow the engine's TPC-H-like schema (the one
its catalog and headline queries expect): region, nation, customer,
supplier, part, orders and lineitem, with lineitem at 6M x sf rows.
"""

from __future__ import annotations

import itertools
import os
import random

import numpy as np

# pyarrow is imported where tables are built: the benchmark process
# that runs the engine does not build them, and should not carry it.

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
COLORS = ["red", "blue", "green", "hot", "large", "small", "navy", "khaki",
          "olive", "plum"]
SHAPES = ["ring", "bolt", "nut", "screw", "gear", "pipe", "plate"]
TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
               "lineitem")
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]

_DAY_US = 86_400_000_000
_EPOCH_1992 = int(np.datetime64("1992-01-01", "us").astype(np.int64))
_N_DAYS = 3650  # order dates span 1992-01-01 .. 2001-12-28


def _money(rng: np.random.Generator, lo: float, hi: float, n: int):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(days: np.ndarray):
    import pyarrow as pa
    return pa.array(_EPOCH_1992 + days.astype(np.int64) * _DAY_US,
                    type=pa.timestamp("us"))


def tpch_tables(seed: int, sf: float) -> dict:
    """The seven TPC-H-like tables at scale factor ``sf``."""
    import pyarrow as pa
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord, n_li = int(200_000 * sf), int(1_500_000 * sf), \
        int(6_000_000 * sf)
    out: dict = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    color = np.array(COLORS)[rng.integers(0, len(COLORS), n_part)]
    shape = np.array(SHAPES)[rng.integers(0, len(SHAPES), n_part)]
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(color, " "), shape),
        "p_brand": np.char.add("Brand#",
                               rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PTYPES)[rng.integers(0, len(PTYPES), n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 2000) * 0.1,
                                  2)})
    odays = rng.integers(0, _N_DAYS, n_ord)
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[
            rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 850.0, 450_000.0, n_ord),
        "o_orderdate": _ts(odays),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    okey = rng.integers(0, n_ord, n_li).astype(np.int64)
    out["lineitem"] = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(odays[okey] + rng.integers(1, 122, n_li))})
    return out


def write_tables(tables: dict, out_dir: str) -> None:
    import pyarrow.parquet as pq
    os.makedirs(out_dir, exist_ok=True)
    for name, tab in tables.items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"))


# -- ad-hoc query order -------------------------------------------------------

def query_order(seed: int, names: list[str]):
    """Endless round-robin over ``names``; the seed picks the start."""
    start = random.Random(seed).randrange(len(names))
    return itertools.islice(itertools.cycle(names), start, None)


# -- mv_churn_small: few-row commits over small seeded tables -----------------

def churn_setup_sql(seed: int) -> list[str]:
    """CREATE TABLE + seed rows for the three heavy delta-MV shapes."""
    rng = random.Random(seed)
    stmts = [
        "CREATE TABLE dq_supp (s_suppkey BIGINT, s_name STRING, "
        "s_nationkey BIGINT)",
        "CREATE TABLE dq_li (l_orderkey BIGINT, l_suppkey BIGINT, "
        "l_receiptdate BIGINT, l_commitdate BIGINT)",
        "CREATE TABLE dq_ord (o_orderkey BIGINT, o_orderstatus STRING)",
        "CREATE TABLE dq_nat (n_nationkey BIGINT, n_name STRING)",
        "CREATE TABLE cs_part (p_partkey BIGINT, p_size BIGINT)",
        "CREATE TABLE cs_supp (s_suppkey BIGINT, s_name STRING)",
        "CREATE TABLE cs_li (l_partkey BIGINT, l_suppkey BIGINT, "
        "l_extendedprice BIGINT)",
        "CREATE TABLE cni_t (g BIGINT, x BIGINT)",
        "CREATE TABLE cni_u (g2 BIGINT, j BIGINT)",
    ]
    stmts.append("INSERT INTO dq_nat VALUES (10, 'SAUDI ARABIA'), "
                 "(20, 'FRANCE')")
    stmts.append("INSERT INTO dq_supp VALUES " + _values(
        [(s, f"s{s}", rng.choice([10, 20])) for s in range(1, 9)]))
    stmts.append("INSERT INTO dq_ord VALUES " + _values(
        [(o, rng.choice("FFO")) for o in range(100, 140)]))
    stmts.append("INSERT INTO dq_li VALUES " + _values(
        [_dq_li_row(rng, o) for o in range(100, 140) for _ in range(3)]))
    stmts.append("INSERT INTO cs_part VALUES " + _values(
        [(p, rng.choice([15, 15, 20])) for p in range(1, 31)]))
    stmts.append("INSERT INTO cs_supp VALUES " + _values(
        [(s, f"s{s}") for s in range(1, 9)]))
    stmts.append("INSERT INTO cs_li VALUES " + _values(
        [_cs_li_row(rng) for _ in range(120)]))
    stmts.append("INSERT INTO cni_t VALUES " + _values(
        [_cni_t_row(rng) for _ in range(60)]))
    stmts.append("INSERT INTO cni_u VALUES " + _values(
        [_cni_u_row(rng) for _ in range(40)]))
    return stmts


# Input tables the churn stream rotates across; the nation table
# (dq_nat) and cs_supp stay static, as dimension tables do in TPC-H.
CHURN_TABLES = ("dq_li", "cs_li", "cni_u", "dq_ord", "cni_t", "cs_part",
                "dq_supp")


def _lit(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return str(v)


def _dq_li_row(rng: random.Random, o: int) -> tuple:
    return (o, rng.randint(1, 8), rng.randint(1, 9), 5)


def _cs_li_row(rng: random.Random) -> tuple:
    return (rng.randint(1, 30), rng.randint(1, 8), rng.randint(10, 60))


def _cni_t_row(rng: random.Random) -> tuple:
    return (rng.randint(1, 12), None if rng.random() < 0.05
            else rng.randint(1, 20))


def _cni_u_row(rng: random.Random) -> tuple:
    return (rng.randint(1, 12), None if rng.random() < 0.03
            else rng.randint(1, 20))


def churn_commits(seed: int, n: int) -> list[tuple[str, str]]:
    """``n`` single-statement commits as (table, SQL), rotating across
    CHURN_TABLES; each touches a few rows by INSERT, UPDATE or DELETE."""
    rng = random.Random(seed * 7919 + 1)
    out = []
    for i in range(n):
        table = CHURN_TABLES[i % len(CHURN_TABLES)]
        kind = rng.choice(("insert", "insert", "update", "delete"))
        out.append((table, _churn_stmt(rng, table, kind)))
    return out


def _churn_stmt(rng: random.Random, table: str, kind: str) -> str:
    k = rng.randint(1, 3)
    if table == "dq_li":
        o = rng.randint(100, 145)
        if kind == "insert":
            rows = [_dq_li_row(rng, o) for _ in range(k)]
            return f"INSERT INTO dq_li VALUES {_values(rows)}"
        if kind == "update":
            return (f"UPDATE dq_li SET l_receiptdate = {rng.randint(1, 9)} "
                    f"WHERE l_orderkey = {o} "
                    f"AND l_suppkey = {rng.randint(1, 8)}")
        return (f"DELETE FROM dq_li WHERE l_orderkey = {o} "
                f"AND l_suppkey = {rng.randint(1, 8)}")
    if table == "dq_ord":
        o = rng.randint(100, 145)
        if kind == "insert":
            return (f"INSERT INTO dq_ord VALUES "
                    f"({o}, '{rng.choice('FO')}')")
        if kind == "update":
            return (f"UPDATE dq_ord SET o_orderstatus = "
                    f"'{rng.choice('FO')}' WHERE o_orderkey = {o}")
        return f"DELETE FROM dq_ord WHERE o_orderkey = {o}"
    if table == "dq_supp":
        s = rng.randint(1, 10)
        if kind == "insert":
            return (f"INSERT INTO dq_supp VALUES "
                    f"({s}, 's{s}', {rng.choice([10, 20])})")
        if kind == "update":
            return (f"UPDATE dq_supp SET s_nationkey = "
                    f"{rng.choice([10, 20])} WHERE s_suppkey = {s}")
        return f"DELETE FROM dq_supp WHERE s_suppkey = {s}"
    if table == "cs_li":
        if kind == "insert":
            return f"INSERT INTO cs_li VALUES " \
                   f"{_values([_cs_li_row(rng) for _ in range(k)])}"
        p = rng.randint(1, 30)
        if kind == "update":
            return (f"UPDATE cs_li SET l_extendedprice = "
                    f"{rng.randint(10, 60)} WHERE l_partkey = {p} "
                    f"AND l_suppkey = {rng.randint(1, 8)}")
        return (f"DELETE FROM cs_li WHERE l_partkey = {p} "
                f"AND l_suppkey = {rng.randint(1, 8)}")
    if table == "cs_part":
        p = rng.randint(1, 34)
        if kind == "insert":
            return (f"INSERT INTO cs_part VALUES "
                    f"({p}, {rng.choice([15, 20])})")
        if kind == "update":
            return (f"UPDATE cs_part SET p_size = {rng.choice([15, 20])} "
                    f"WHERE p_partkey = {p}")
        return f"DELETE FROM cs_part WHERE p_partkey = {p}"
    if table == "cni_t":
        if kind == "insert":
            return f"INSERT INTO cni_t VALUES " \
                   f"{_values([_cni_t_row(rng) for _ in range(k)])}"
        g = rng.randint(1, 12)
        if kind == "update":
            return (f"UPDATE cni_t SET x = {rng.randint(1, 20)} "
                    f"WHERE g = {g} AND x = {rng.randint(1, 20)}")
        return f"DELETE FROM cni_t WHERE g = {g} AND x = {rng.randint(1, 20)}"
    if table == "cni_u":
        if kind == "insert":
            return f"INSERT INTO cni_u VALUES " \
                   f"{_values([_cni_u_row(rng) for _ in range(k)])}"
        g = rng.randint(1, 12)
        if kind == "update":
            return (f"UPDATE cni_u SET j = {rng.randint(1, 20)} "
                    f"WHERE g2 = {g} AND j = {rng.randint(1, 20)}")
        return f"DELETE FROM cni_u WHERE g2 = {g} AND j = {rng.randint(1, 20)}"
    raise ValueError(table)


def _values(rows) -> str:
    return ", ".join("(" + ", ".join(_lit(v) for v in r) + ")" for r in rows)
