#!/usr/bin/env python3
"""Seeded input generators for the benchmark.

Every input the benchmark feeds the program is made here from one seed:
the same seed gives byte-identical files (`python3 gen.py --selfcheck`
proves it by generating twice and comparing digests).

- `tables`: the TPC-H-shaped star schema plus `events` (the schema and
  value domains of the repo's sf fixtures), at a row-count scale where
  1.0 is the sf0.1 shape.
- `sweep_plan`: psets per round, half of them repeats of the previous
  round, with one schema-evolution round.
- `order`: seeded permutations that fix the analytics query sequence.
"""
import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_1995 = np.datetime64("1995-01-01", "us")


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed, scale, out):
    """The eight relational tables; `scale` 1.0 = the sf0.1 row counts."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = max(50, int(15000 * scale)), max(10, int(1000 * scale))
    n_part, n_ord = max(50, int(20000 * scale)), max(100, int(150000 * scale))
    n_line, n_ev = max(400, int(600000 * scale)), max(200, int(100000 * scale))
    _write(pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))}),
        f"{out}/nation.parquet")
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pa.array(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            n_cust))}), f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}),
        f"{out}/supplier.parquet")
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    a, b = rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": [f"{adj[i]} {noun[j]}" for i, j in zip(a, b)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": pa.array(rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO",
                                       "SMALL", "STANDARD"], n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": np.round(900 + rng.integers(0, 1000, n_part) * 0.1, 1)}),
        f"{out}/part.parquet")
    odate = EPOCH_1995 + rng.integers(0, 2404, n_ord) * np.timedelta64(86400_000_000, "us")
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            n_ord))}), f"{out}/orders.parquet")
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    sdate = EPOCH_1995 + rng.integers(1, 2499, n_line) * np.timedelta64(86400_000_000, "us")
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) * 0.01, 2),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
        "l_shipdate": pa.array(sdate, pa.timestamp("us"))}),
        f"{out}/lineitem.parquet")
    ts = np.sort(np.datetime64("2024-01-01", "us")
                 + rng.integers(0, 30 * 86400_000_000, n_ev) * np.timedelta64(1, "us"))
    _write(pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(10, int(1500 * scale)), n_ev,
                                         dtype=np.int64)),
        "event_type": pa.array(rng.choice(
            ["click", "error", "purchase", "signup", "view"], n_ev)),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}),
        f"{out}/events.parquet")


def sweep_plan(seed, rounds, per_round, evolve_at, out):
    """Psets per round: round 0 submits `per_round` new psets; every later
    round repeats the previous round's new psets (the skipDups path) and
    adds `per_round` new ones. From round `evolve_at` on, new psets carry
    the extra column `d`, which forces the schema-evolution rehash; that
    round's repeats still lack `d`, so they must match the rehashed rows.
    Every round executes exactly `per_round` psets."""
    rng = np.random.default_rng([seed, 3])
    plan, prev, next_a = [], [], 0
    for r in range(rounds):
        fresh = []
        for _ in range(per_round):
            p = {"a": next_a, "b": float(rng.integers(0, 1000)) / 8.0,
                 "c": f"c{int(rng.integers(0, 7))}"}
            if r >= evolve_at:
                p["d"] = int(rng.integers(0, 5))
            next_a += 1
            fresh.append(p)
        plan.append({"psets": prev + fresh, "new": len(fresh), "evolve": r == evolve_at})
        prev = fresh
    with open(f"{out}/sweep_plan.json", "w") as f:
        json.dump({"rounds": plan}, f, separators=(",", ":"))


def order(seed, cycles, slots, out):
    """`cycles` seeded permutations of range(slots)."""
    rng = np.random.default_rng([seed, 5])
    with open(f"{out}/order.json", "w") as f:
        json.dump([rng.permutation(slots).tolist() for _ in range(cycles)], f,
                  separators=(",", ":"))


def generate(workload, seed, out, sizes):
    """All inputs of one workload into `out` (which must exist)."""
    if workload == "sweep":
        sweep_plan(seed, out=out, **sizes["plan"])
    elif workload == "analytics":
        tables(seed, sizes["scale"], out)
        os.makedirs(f"{out}/tiny", exist_ok=True)
        tables(seed, 0.002, f"{out}/tiny")
        order(seed, 60, 32, out)
    else:
        raise ValueError(f"unknown workload {workload}")


def digest(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def selfcheck(sizes_by_workload, workdir):
    """Generate every workload twice per seed; the digests must agree,
    and two seeds must differ."""
    import shutil
    ok = True
    for w, sizes in sizes_by_workload.items():
        got = []
        for seed, rep in ((1, 0), (1, 1), (2, 0)):
            d = os.path.join(workdir, f"{w}-{seed}-{rep}")
            shutil.rmtree(d, ignore_errors=True)
            os.makedirs(d)
            generate(w, seed, d, sizes)
            got.append(digest(d))
            shutil.rmtree(d)
        same, differs = got[0] == got[1], got[0] != got[2]
        ok &= same and differs
        print(f"{w}: same seed identical={same} other seed differs={differs}")
    return ok


if __name__ == "__main__":
    if sys.argv[1:2] == ["--selfcheck"]:
        here = os.path.dirname(os.path.abspath(__file__))
        sys.path.insert(0, here)
        from run import SIZES, WORK
        sys.exit(0 if selfcheck(SIZES, os.path.join(here, WORK, "selfcheck")) else 1)
    print(__doc__)
