"""Seeded input tables for the batch workload.

Writes the parquet tables the analytics queries read, with the same
names, column types and value domains as the project's test data: the
TPC-H-ish star schema and the `events` table. Everything derives from
one numpy generator seeded by the workload seed, so the same seed gives
byte-identical files and a different seed gives different values with
the same row counts.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_WORDS = (["small", "red", "blue", "green", "large", "shiny"],
              ["ring", "widget", "bolt", "gear", "spring", "valve"])
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]


def row_counts(sf):
    """Rows per table at scale factor `sf` (lineitem = 6M x sf)."""
    n = lambda base: max(1, int(round(base * sf)))
    return {"region": 5, "nation": 25, "customer": n(150_000),
            "supplier": n(10_000), "part": n(200_000), "orders": n(1_500_000),
            "lineitem": n(6_000_000), "events": n(1_000_000)}


def _day_ts(rng, n, start, end):
    days = (np.datetime64(end) - np.datetime64(start)).astype(int)
    d = np.datetime64(start) + rng.integers(0, days + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, choices, n):
    return pa.array(np.asarray(choices)[rng.integers(0, len(choices), n)])


def _names(prefix, n):
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def tables(seed, sf):
    """The tables as pyarrow Tables, keyed by name."""
    rng = np.random.default_rng(seed)
    c = row_counts(sf)
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
    }
    n = c["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(n, dtype=np.int64), "c_name": _names("Customer", n),
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, n, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, SEGMENTS, n)})
    n = c["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n, dtype=np.int64), "s_name": _names("Supplier", n),
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": _money(rng, n, -999.99, 9999.99)})
    n = c["part"]
    adj = np.asarray(PART_WORDS[0])[rng.integers(0, 6, n)]
    noun = np.asarray(PART_WORDS[1])[rng.integers(0, 6, n)]
    out["part"] = pa.table({
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n)]),
        "p_type": _pick(rng, PART_TYPES, n),
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) / 10.0, 1)})
    n = c["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, c["customer"], n).astype(np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": _money(rng, n, 1000.0, 500_000.0),
        "o_orderdate": _day_ts(rng, n, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, PRIORITIES, n)})
    n = c["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, c["orders"], n).astype(np.int64),
        "l_partkey": rng.integers(0, c["part"], n).astype(np.int64),
        "l_suppkey": rng.integers(0, c["supplier"], n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, n, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _day_ts(rng, n, "1995-01-02", "2001-11-04")})
    n = c["events"]
    span_us = 30 * 86_400_000_000
    ts = np.sort(rng.integers(0, span_us, n)) + np.datetime64("2024-01-01", "us").astype(np.int64)
    out["events"] = pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, max(1, int(round(15_000 * sf))), n).astype(np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)])})
    return out


def write(seed, sf, out_dir):
    """Write every table to `out_dir/<name>.parquet` (one file each)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed, sf).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
