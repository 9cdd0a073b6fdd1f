"""Deterministic TPC-H-shaped star schema for the service benchmark.

Writes the seven tables the `sales` cube reads (region, nation,
customer, supplier, part, orders, lineitem) as one parquet file each,
with the column names and types the engine expects.  Every value is a
function of the seed, so one seed always yields byte-identical inputs.

Sizes are TPC-H scale factor 0.01: 1,500 customers, 100 suppliers,
2,000 parts, 15,000 orders, ~60,000 line items.
"""
from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "hot", "large", "new", "old", "red", "small", "soft"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "spring", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
N_NATIONS = 25
N_BRANDS = 25
N_CUSTOMERS = 1500
N_SUPPLIERS = 100
N_PARTS = 2000
N_ORDERS = 15000
DATA_SEED = 42
VERSION = "sf0.01-v1"         # bump when the generator's output changes
FIRST_DAY = np.datetime64("1995-01-01", "D")
ORDER_DAYS = 2404                     # orders span 1995-01-01 .. 2001-08-01


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int):
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(out_dir: str, seed: int) -> None:
    """Write the tables under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(len(REGIONS)), pa.int32()),
        "r_name": REGIONS})
    nation_region = rng.integers(0, len(REGIONS), N_NATIONS)
    nation_region[:len(REGIONS)] = range(len(REGIONS))  # no empty region
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(N_NATIONS), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(N_NATIONS)],
        "n_regionkey": pa.array(nation_region, pa.int32())})

    _write(out_dir, "customer", {
        "c_custkey": pa.array(range(N_CUSTOMERS), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMERS)],
        "c_nationkey": pa.array(rng.integers(0, N_NATIONS, N_CUSTOMERS),
                                pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMERS),
        "c_mktsegment": [SEGMENTS[i] for i in
                         rng.integers(0, len(SEGMENTS), N_CUSTOMERS)]})

    supp_nation = rng.integers(0, N_NATIONS, N_SUPPLIERS)
    supp_nation[:N_NATIONS] = range(N_NATIONS)      # every nation supplies
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(range(N_SUPPLIERS), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIERS)],
        "s_nationkey": pa.array(supp_nation, pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIERS)})

    adj = rng.integers(0, len(ADJECTIVES), N_PARTS)
    noun = rng.integers(0, len(NOUNS), N_PARTS)
    _write(out_dir, "part", {
        "p_partkey": pa.array(range(N_PARTS), pa.int64()),
        "p_name": [f"{ADJECTIVES[a]} {NOUNS[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i + 1}" for i in
                    rng.integers(0, N_BRANDS, N_PARTS)],
        "p_type": [PART_TYPES[i] for i in
                   rng.integers(0, len(PART_TYPES), N_PARTS)],
        "p_size": pa.array(rng.integers(1, 51, N_PARTS), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(N_PARTS) % 1000) * 0.1, 2)})

    order_day = FIRST_DAY + rng.integers(0, ORDER_DAYS, N_ORDERS)
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(range(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMERS, N_ORDERS),
                              pa.int64()),
        "o_orderstatus": [STATUSES[i] for i in
                          rng.integers(0, len(STATUSES), N_ORDERS)],
        "o_totalprice": _money(rng, 1000, 400000, N_ORDERS),
        "o_orderdate": pa.array(order_day.astype("datetime64[us]")),
        "o_orderpriority": [PRIORITIES[i] for i in
                            rng.integers(0, len(PRIORITIES), N_ORDERS)]})

    lines = rng.integers(1, 8, N_ORDERS)
    okey = np.repeat(np.arange(N_ORDERS), lines)
    n_li = len(okey)
    linenumber = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    quantity = rng.integers(1, 51, n_li).astype(float)
    ship = order_day[okey] + rng.integers(1, 122, n_li)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PARTS, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIERS, n_li), pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": quantity,
        "l_extendedprice": np.round(quantity * rng.uniform(900, 2100, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(ship.astype("datetime64[us]"))})


def cached(base: str) -> str:
    """The benchmark's tables under ``base``, generated on first use."""
    path = os.path.join(base, VERSION)
    if not os.path.isdir(path):
        tmp = f"{path}.{os.getpid()}.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        generate(tmp, DATA_SEED)
        os.replace(tmp, path)
    return path
