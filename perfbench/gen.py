#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

Writes the harness tables a workload reads (FIXTURES.md section 1
schemas) as one parquet file each under --out, at the sizes of the
named --profile, plus manifest.json with per-table rows, bytes and
sha256 checksums.

The tables follow the value domains of the driver fixtures (same
categorical vocabularies, key ranges, value distributions), redrawn
from --seed alone:

  * keys are re-drawn: foreign keys (o_custkey, l_orderkey, ...) are
    fresh uniform draws, and events.user_id ranges over a seeded sample
    of the customer keys, so a different seed gives a different cohort;
  * events are resampled (exponential `value`, uniform event types) and
    time-shifted by a seeded whole number of hours inside 2024-01.

Same seed -> byte-identical files; another seed -> different rows.

Usage: python3 perfbench/gen.py --seed N --profile NAME --out DIR
"""
import argparse
import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per table, and the tables each profile writes: only those its
# workload's operations read. part and supplier sizes only bound the
# lineitem foreign keys; those tables are not written.
PROFILES = {
    # 4CE site job: the i2b2 stand-ins are events (observation_fact)
    # and customer (patient_dimension)
    "fource": dict(tables=("customer", "events"), customer=7500,
                   events=50000, users=750),
    # analyst session on a small star schema (sf0.01 sizes)
    "star": dict(tables=("customer", "orders", "lineitem", "events"),
                 customer=1500, supplier=100, part=2000, orders=15000,
                 lineitem=60000, events=10000, users=150),
}

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def customers(rng, n):
    return pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, n),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n)]})


def orders_lineitem(rng, n_orders, n_items, n_cust, n_part, n_supp):
    odate = EPOCH_1995 + rng.integers(0, 2405, n_orders) * DAY_US
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[
            rng.integers(0, 3, n_orders)],
        "o_totalprice": money(rng, 1000.0, 500000.0, n_orders),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": np.array(PRIORITIES)[
            rng.integers(0, 5, n_orders)]})
    okey = np.sort(rng.integers(0, n_orders, n_items))
    # line numbers restart per order: position inside the sorted run
    first = np.r_[0, np.flatnonzero(np.diff(okey)) + 1]
    run_start = np.repeat(first, np.diff(np.r_[first, n_items]))
    linenumber = np.arange(n_items) - run_start + 1
    qty = rng.integers(1, 51, n_items).astype(np.float64)
    ship = odate[okey] + rng.integers(1, 122, n_items) * DAY_US
    lineitem = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_items), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_items), pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_items), 2),
        "l_discount": np.round(rng.integers(0, 11, n_items) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_items) * 0.01, 2),
        "l_returnflag": np.array(["A", "N", "R"])[
            rng.integers(0, 3, n_items)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_items)],
        "l_shipdate": pa.array(ship, pa.timestamp("us"))})
    return orders, lineitem


def events(rng, n, n_users, n_cust):
    # users are a seeded draw of customer keys (patient_num must join
    # patient_dimension), sorted so user ids stay dense-ish
    users = np.sort(rng.choice(n_cust, size=n_users, replace=False))
    shift_us = int(rng.integers(0, 24)) * 3_600_000_000
    span = 30 * DAY_US - shift_us - 1
    ts = EPOCH_2024 + shift_us + np.sort(rng.integers(0, span, n))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(users[rng.integers(0, n_users, n)], pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def generate(seed, profile, out):
    size = PROFILES[profile]
    # one independent stream per table: resizing one table never
    # shifts another's rows
    rngs = {t: np.random.default_rng([seed, i]) for i, t in enumerate(
        ["customer", "orders", "events"])}
    tables = {
        "customer": customers(rngs["customer"], size["customer"]),
        "events": events(rngs["events"], size["events"], size["users"],
                         size["customer"])}
    if "orders" in size["tables"]:
        tables["orders"], tables["lineitem"] = orders_lineitem(
            rngs["orders"], size["orders"], size["lineitem"],
            size["customer"], size["part"], size["supplier"])
    os.makedirs(out, exist_ok=True)
    manifest = {"seed": seed, "profile": profile, "tables": {}}
    for name in size["tables"]:
        t = tables[name]
        path = os.path.join(out, f"{name}.parquet")
        pq.write_table(t, path, compression="snappy")
        with open(path, "rb") as f:
            digest = hashlib.sha256(f.read()).hexdigest()
        manifest["tables"][name] = {"rows": t.num_rows,
                                    "bytes": os.path.getsize(path),
                                    "sha256": digest}
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def main(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--profile", choices=sorted(PROFILES), required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    m = generate(a.seed, a.profile, a.out)
    for name, t in m["tables"].items():
        print(f"{name:11s} {t['rows']:8d} rows {t['bytes']:9d} bytes "
              f"{t['sha256'][:12]}")


if __name__ == "__main__":
    main(sys.argv[1:])
