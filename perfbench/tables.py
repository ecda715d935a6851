"""Seeded TPC-H-shaped tables and the reference-dialect query mix that
runs over them, each query with its ANSI-SQL twin for DuckDB.

Numeric measures are whole numbers stored as doubles, so sums are
exact in any order and Spark and DuckDB agree bit for bit; averages
are compared at nine significant digits.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import itertools

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EPOCH = dt.datetime(1992, 1, 1)
EPOCH64 = np.datetime64("1992-01-01", "D")
DAYS = 2400


def _names(prefix: str, keys: np.ndarray) -> list[str]:
    return [f"{prefix}#{k:09d}" for k in keys]


# rows per table, a tenth of the TPC-H sf0.1 sizes; lineitem has 1-7
# lines per order, about 60 000 rows
N_CUST, N_SUPP, N_PART, N_ORD = 1500, 100, 2000, 15000


def make_tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    """region 5, nation 25, customer, supplier, part and orders at the
    sizes above, lineitem ≈60 000 rows."""
    n_cust, n_supp, n_part, n_ord = N_CUST, N_SUPP, N_PART, N_ORD
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    nk = np.arange(25)
    t["nation"] = pa.table({
        "n_nationkey": pa.array(nk, pa.int32()),
        "n_name": [f"NATION{k:02d}" for k in nk],
        "n_regionkey": pa.array(nk % 5, pa.int32()),
    })
    ck = np.arange(1, n_cust + 1)
    t["customer"] = pa.table({
        "c_custkey": pa.array(ck, pa.int64()),
        "c_name": _names("Customer", ck),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": rng.integers(-999, 9999, n_cust).astype(np.float64),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)].tolist(),
    })
    sk = np.arange(1, n_supp + 1)
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(sk, pa.int64()),
        "s_name": _names("Supplier", sk),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": rng.integers(-999, 9999, n_supp).astype(np.float64),
    })
    pk = np.arange(1, n_part + 1)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": _names("Part", pk),
        "p_brand": [f"Brand#{a}{b}" for a, b in rng.integers(1, 6, (n_part, 2))],
        "p_type": np.array(["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"])[
            rng.integers(0, 6, n_part)].tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": rng.integers(900, 2100, n_part).astype(np.float64),
    })
    ok = np.arange(1, n_ord + 1) * 4  # sparse keys, as in TPC-H
    odate = EPOCH64 + rng.integers(0, DAYS, n_ord) * np.timedelta64(1, "D")
    t["orders"] = pa.table({
        "o_orderkey": pa.array(ok, pa.int64()),
        "o_custkey": pa.array(rng.integers(1, n_cust + 1, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)].tolist(),
        "o_totalprice": rng.integers(1000, 450000, n_ord).astype(np.float64),
        "o_orderdate": pa.array(odate.astype("datetime64[us]")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)].tolist(),
    })
    lines = rng.integers(1, 8, n_ord)
    lk = np.repeat(ok, lines)
    n_li = len(lk)
    lnum = np.concatenate([np.arange(1, c + 1) for c in lines])
    qty = rng.integers(1, 51, n_li)
    ship = np.repeat(odate, lines) + rng.integers(1, 122, n_li) * np.timedelta64(1, "D")
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(lk, pa.int64()),
        "l_partkey": pa.array(rng.integers(1, n_part + 1, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, n_supp + 1, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty.astype(np.float64),
        "l_extendedprice": (qty * rng.integers(900, 2100, n_li)).astype(np.float64),
        "l_discount": rng.integers(0, 11, n_li).astype(np.float64),
        "l_tax": rng.integers(0, 9, n_li).astype(np.float64),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)].tolist(),
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)].tolist(),
        "l_shipdate": pa.array(ship.astype("datetime64[us]")),
    })
    return t


def write_tables(tables: dict[str, pa.Table], out_dir) -> None:
    for name, tbl in tables.items():
        pq.write_table(tbl, f"{out_dir}/{name}.parquet")


# ---- query mix -------------------------------------------------------

# join chains: (tables, equi-join conditions), largest table first
CHAINS = [
    (["customer"], []),
    (["orders"], []),
    (["lineitem"], []),
    (["customer", "nation"], [("customer.c_nationkey", "nation.n_nationkey")]),
    (["orders", "customer"], [("orders.o_custkey", "customer.c_custkey")]),
    (["lineitem", "part"], [("lineitem.l_partkey", "part.p_partkey")]),
    (["supplier", "nation", "region"], [
        ("supplier.s_nationkey", "nation.n_nationkey"),
        ("nation.n_regionkey", "region.r_regionkey")]),
    (["orders", "customer", "nation"], [
        ("orders.o_custkey", "customer.c_custkey"),
        ("customer.c_nationkey", "nation.n_nationkey")]),
    (["lineitem", "orders", "customer"], [
        ("lineitem.l_orderkey", "orders.o_orderkey"),
        ("orders.o_custkey", "customer.c_custkey")]),
    (["lineitem", "supplier", "nation"], [
        ("lineitem.l_suppkey", "supplier.s_suppkey"),
        ("supplier.s_nationkey", "nation.n_nationkey")]),
    (["lineitem", "orders", "customer", "nation"], [
        ("lineitem.l_orderkey", "orders.o_orderkey"),
        ("orders.o_custkey", "customer.c_custkey"),
        ("customer.c_nationkey", "nation.n_nationkey")]),
]

# per table: numeric measures, low-cardinality grouping columns, and a
# range-selection column with its literal kind
MEASURES = {
    "customer": ["c_acctbal"], "orders": ["o_totalprice"],
    "lineitem": ["l_quantity", "l_extendedprice", "l_discount"],
    "supplier": ["s_acctbal"], "part": ["p_retailprice", "p_size"],
    "nation": [], "region": [],
}
GROUPS = {
    "customer": ["c_mktsegment"], "orders": ["o_orderstatus", "o_orderpriority"],
    "lineitem": ["l_returnflag", "l_linestatus"], "supplier": [],
    "part": ["p_type"], "nation": ["n_name"], "region": ["r_name"],
}
KEYS = {"customer": "c_custkey", "orders": "o_orderkey", "lineitem": "l_orderkey",
        "supplier": "s_suppkey", "part": "p_partkey"}
RANGES = {
    "customer": ("c_acctbal", "num", -999, 9999),
    "orders": ("o_orderdate", "date", 0, DAYS),
    "lineitem": ("l_shipdate", "date", 0, DAYS + 121),
    "supplier": ("s_acctbal", "num", -999, 9999),
    "part": ("p_size", "int", 1, 51),
}
AGGS = ["COUNT", "SUM", "MIN", "MAX", "AVG"]


class Query:
    __slots__ = ("text", "twin")

    def __init__(self, text: str, twin: str):
        self.text, self.twin = text, twin


def _selection(rng, table: str, frac: float):
    """A cast-literal range selection keeping about ``frac`` of rows:
    the dialect quotes every literal and casts it to the column type."""
    col, kind, lo, hi = RANGES[table]
    width = max(1, int((hi - lo) * frac))
    if rng.random() < 0.5:
        op, cut = ">=", hi - width
    else:
        op, cut = "<", lo + width
    if kind == "date":
        lit = (EPOCH + dt.timedelta(days=cut)).strftime("%Y-%m-%d")
        twin_lit = f"TIMESTAMP '{lit}'"
    else:
        lit = str(cut)
        twin_lit = lit
    return f'{table}.{col} {op} "{lit}"', f"{table}.{col} {op} {twin_lit}"


# the fresh queries of one request cycle, as (join chain, shape): every
# seed issues the same mix of work — 1-table x1, 2-table x2, 3-table x3,
# 4-table x1; GROUPBY x3, DISTINCT x2 (one ORDERBY ... DESC), a bounded
# projection ORDERBY ... DESC x1, an ungrouped aggregate x1. The seed
# picks columns, aggregates, literals and the selection direction.
TEMPLATE_CYCLE = [
    (0, "group"), (4, "project"), (8, "group"), (3, "distinct"),
    (10, "agg"), (6, "distinct_desc"), (9, "group"),
]
SELECT_FRAC = 0.5  # rows a range selection keeps, except in projections


def make_query(rng: np.random.Generator, chain: int, shape: str) -> Query:
    """One query of the mix: join chain ``chain`` (1–4 tables) with a
    range selection on its first table, in one of four shapes — GROUPBY
    with aggregates, DISTINCT (optionally ORDERBY … DESC), a bounded
    projection ordered DESC, or an ungrouped aggregate."""
    tables, joins = CHAINS[chain]
    first = tables[0]
    if shape == "project":  # bounded result: ~100 rows
        frac = 0.002 if first == "lineitem" else 0.01
    else:
        frac = SELECT_FRAC
    sel, sel_twin = _selection(rng, first, frac)
    conds = [f"{a} = {b}" for a, b in joins] + [sel]
    twin_conds = [f"{a} = {b}" for a, b in joins] + [sel_twin]
    measures = [f"{t}.{m}" for t in tables for m in MEASURES[t]]
    groups = [f"{t}.{g}" for t in tables for g in GROUPS[t]]
    distinct = order = ""
    if shape == "group" and groups:
        keys = list(rng.choice(groups, size=min(len(groups), int(rng.integers(1, 3))),
                               replace=False))
        aggs = _aggs(rng, measures)
        proj, twin_proj = keys + [a for a, _ in aggs], keys + [t for _, t in aggs]
        tail = " GROUPBY " + ", ".join(keys)
        twin_tail = " GROUP BY " + ", ".join(keys)
    elif shape in ("distinct", "distinct_desc", "group"):
        cols = list(rng.choice(groups or measures, size=1, replace=False))
        proj = twin_proj = cols
        distinct = "DISTINCT "
        tail = twin_tail = ""
        if shape == "distinct_desc":
            tail = " ORDERBY " + cols[0] + " DESC"
            twin_tail = " ORDER BY " + cols[0] + " DESC"
    elif shape == "project":
        key = f"{first}.{KEYS[first]}"
        extra = list(rng.choice(measures, size=min(2, len(measures)), replace=False))
        proj = twin_proj = [key] + extra
        tail = " ORDERBY " + key + " DESC"
        twin_tail = " ORDER BY " + key + " DESC"
    else:
        aggs = _aggs(rng, measures)
        proj, twin_proj = [a for a, _ in aggs], [t for _, t in aggs]
        tail = twin_tail = ""
    text = (f"SELECT {distinct}{', '.join(proj)} FROM {', '.join(tables)} "
            f"WHERE {', '.join(conds)}{tail}")
    twin = (f"SELECT {distinct}{', '.join(twin_proj)} FROM {', '.join(tables)} "
            f"WHERE {' AND '.join(twin_conds)}{twin_tail}")
    return Query(text, twin)


def _aggs(rng, measures: list[str]) -> list[tuple[str, str]]:
    out = {}
    for _ in range(int(rng.integers(1, 4))):
        agg = str(rng.choice(AGGS))
        m = str(rng.choice(measures))
        # the dialect's COUNT counts rows (no NULL semantics)
        out[f"{agg}({m})"] = "COUNT(*)" if agg == "COUNT" else f"{agg}({m})"
    return list(out.items())


# position in a 10-request cycle -> how many fresh queries back it
# repeats: a 30% repeat share at fixed places, so every cycle issues the
# same mix of work
REPEATS = {3: 2, 6: 3, 9: 2}
CYCLE = len(TEMPLATE_CYCLE) + len(REPEATS)


def query_stream(seed: int):
    """Endless seeded request stream of 10-request cycles: seven fresh
    queries, one per ``TEMPLATE_CYCLE`` entry, and three that repeat an
    earlier query text of the cycle word for word."""
    rng = np.random.default_rng([seed, 7])
    fresh: list[Query] = []
    for i in itertools.count():
        back = REPEATS.get(i % CYCLE)
        if back:
            yield fresh[-back]
        else:
            chain, shape = TEMPLATE_CYCLE[len(fresh) % len(TEMPLATE_CYCLE)]
            fresh.append(make_query(rng, chain, shape))
            yield fresh[-1]


# ---- result comparison -----------------------------------------------


def _norm(v):
    if isinstance(v, float):
        return float(f"{v:.9g}")
    if isinstance(v, (int, np.integer)):
        return int(v)
    return v


def result_digest(rows) -> tuple[int, str]:
    """(row count, order-insensitive hash) of a result."""
    canon = sorted(repr(tuple(_norm(v) for v in r)) for r in rows)
    h = hashlib.sha256("\n".join(canon).encode()).hexdigest()
    return len(canon), h
