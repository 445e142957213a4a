#!/usr/bin/env python3
"""Seeded input generators for the benchmark workloads.

    python3 perfbench/gen.py <workload> <seed> <outdir>

Every table is drawn from numpy's PCG64 seeded with `seed`, so one seed
always gives byte-identical inputs. Sizes are fixed per workload; only
values move with the seed. Each generator writes `manifest.json` with the
row counts and bytes it produced and the facts the result checks need
(expected star-schema counts).
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the data spark stream batch table row column key value query "
         "scan filter join group agg sort hash window merge order part line "
         "vector fast slow big small customer").split()


def _write(table, path):
    pq.write_table(table, path)
    return os.path.getsize(path)


def _ts(days_from, n_days, rng, n, unit_s=86400):
    base = np.datetime64(days_from, "s")
    secs = rng.integers(0, n_days * unit_s, n)
    return (base + secs.astype("timedelta64[s]")).astype("datetime64[us]")


# ---------------------------------------------------------------- registry_mix

def gen_tpch(seed, out, sf=0.01):
    """TPC-H-shaped star schema plus events/documents/embeddings, with the
    column names, types and value domains of the registry's test tables."""
    rng = np.random.Generator(np.random.PCG64(seed))
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_users = max(10, int(15000 * sf))
    counts, nbytes = {}, 0

    def put(name, cols):
        nonlocal nbytes
        t = pa.table(cols)
        counts[name] = t.num_rows
        nbytes += _write(t, f"{out}/{name}.parquet")

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    put("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": regions})
    put("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    put("customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    put("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    adj = np.array(["blue", "old", "hot", "large", "cold", "red", "small", "new"])
    noun = np.array(["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"])
    types = np.array(["SMALL", "MEDIUM", "ECONOMY", "STANDARD", "LARGE", "PROMO"])
    put("part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    put("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": pa.array(_ts("1995-01-01", 2404, rng, n_ord)
                                .astype("datetime64[D]").astype("datetime64[us]")),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]})
    qty = rng.integers(1, 51, n_line).astype(float)
    put("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(_ts("1995-01-02", 2498, rng, n_line)
                               .astype("datetime64[D]").astype("datetime64[us]"))})
    ets = np.sort(_ts("2024-01-01", 30, rng, n_ev))
    put("events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ets),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(["click", "view", "purchase", "signup", "error"])
        [rng.integers(0, 5, n_ev)],
        "value": np.round(rng.uniform(0.01, 500.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    put("documents", gen_documents(rng, 500))
    put("embeddings", gen_embeddings(rng, 500))
    return {"rows": counts, "bytes": nbytes}


# ---------------------------------------------------------------- documents

def _text(rng, n_tok):
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n_tok))


def gen_documents(rng, n, near_dup_every=25):
    """Documents with planted exact and near duplicates: every
    `near_dup_every`-th doc repeats an earlier one (exact copy on even
    slots, one token swapped on odd ones)."""
    texts = []
    for i in range(n):
        if i >= near_dup_every and i % near_dup_every == 0:
            src = texts[int(rng.integers(0, i))].split()
            if (i // near_dup_every) % 2:
                src[int(rng.integers(0, len(src)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(src))
        else:
            texts.append(_text(rng, int(rng.integers(12, 80))))
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    return {"doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": langs[rng.integers(0, len(langs), n)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64())}


def gen_embeddings(rng, n, dim=64, n_labels=10):
    """Unit vectors around `n_labels` cluster centres."""
    centres = np.random.Generator(np.random.PCG64(7)).normal(size=(n_labels, dim))
    labels = rng.integers(0, n_labels, n)
    v = centres[labels] + 0.6 * rng.normal(size=(n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return {"vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(v.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32())}


# ---------------------------------------------------------------- etl_daily

CALL_HDR = ["call ID", "customeR iD", "COMPLAINT_catego ry", "agent ID",
            "call_start_time", "call_end_time", "resolutionstatus",
            "callLogsGenerationDate"]
CATS = ["billing", "network", "service", "payments", "technical"]
STATUS = ["resolved", "open", "in-progress", "escalated"]


def gen_etl(seed, out, n_customers=4000, n_agents=40, n_days=2, calls_per_day=6000,
            files_per_day=3):
    """Customers (CSV) and agents (sheet rows, as JSON) once, and
    `n_days` daily call-log batches of several CSV files each. Messy on
    purpose: raw headers in mixed case, whole-null rows, exact duplicate
    rows, padded strings, "NULL" literals and dangling or null foreign
    keys. The manifest records, per day, how many rows the call-log fact
    must hold once that day is loaded (distinct records whose customer and
    agent both resolve)."""
    rng = np.random.Generator(np.random.PCG64(seed))
    nbytes = 0
    cust_ids = [f"CUST{i:06d}" for i in range(n_customers)]
    agent_ids = [f"AG{i:04d}" for i in range(n_agents)]
    cust_set, agent_set = set(cust_ids), set(agent_ids)

    def pad(s):
        r = rng.random()
        return f"  {s} " if r < 0.1 else (f"{s}\t" if r < 0.15 else s)

    lines = ["customer_id,name,Gender,DATE of biRTH,signup_date,email,address"]
    for i, c in enumerate(cust_ids):
        dob = ("NULL" if rng.random() < 0.05
               else f"19{rng.integers(50, 99)}-0{rng.integers(1, 9)}-1{rng.integers(0, 9)}")
        lines.append(f"{c},{pad('Name' + str(i))},{'MF'[i % 2]},{dob},2020-01-0{1 + i % 9},"
                     f"u{i}@x.com,{'' if i % 7 == 0 else 'addr' + str(i)}")
        if i % 50 == 0:
            lines.append(lines[-1])                       # exact duplicate
        if i % 97 == 0:
            lines.append("NULL,,NULL,NULL,,NULL,")         # all-null row
    raw = {"customers": len(lines) - 1, "agents": n_agents}
    path = f"{out}/customers.csv"
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    nbytes += os.path.getsize(path)
    agents = [{"iD": a, "NamE": pad(f"Agent {j}"), "experience": str(int(rng.integers(1, 20))),
               "state": ["TX", "CA", "NY", "WA"][j % 4]} for j, a in enumerate(agent_ids)]
    path = f"{out}/agents.json"
    with open(path, "w") as f:
        json.dump(agents, f)
    nbytes += os.path.getsize(path)

    days, cum = [], 0
    for d in range(n_days):
        date = f"2025-03-{d + 1:02d}"
        good, rows = 0, []
        for k in range(calls_per_day):
            r = rng.random()
            c = ("NULL" if r < 0.01 else f"CUSTX{int(rng.integers(0, 999))}" if r < 0.04
                 else cust_ids[int(rng.integers(0, n_customers))])
            a = (f"AGX{int(rng.integers(0, 99))}" if rng.random() < 0.03
                 else agent_ids[int(rng.integers(0, n_agents))])
            good += c in cust_set and a in agent_set
            rows.append(f"CL{d:02d}{k:06d},{c},{pad(CATS[k % 5])},{a},"
                        f"{date} 0{k % 10}:00:00,{date} 0{k % 10}:1{k % 6}:00,"
                        f"{STATUS[k % 4]},{date}")
            if k % 40 == 0:
                rows.append(rows[-1])                      # exact duplicate
            if k % 101 == 0:
                rows.append("NULL,NULL,,NULL,NULL,,NULL,NULL")
        os.makedirs(f"{out}/call_logs/d{d}", exist_ok=True)
        for p in range(files_per_day):
            path = f"{out}/call_logs/d{d}/part-{p}.csv"
            with open(path, "w") as f:
                f.write(",".join(CALL_HDR) + "\n" + "\n".join(rows[p::files_per_day]) + "\n")
            nbytes += os.path.getsize(path)
        cum += good
        days.append({"date": date, "raw_rows": len(rows), "fact_rows": cum})
    return {"rows": {"customers": n_customers, "agents": n_agents, "days": n_days,
                     "call_logs_per_day": calls_per_day},
            "bytes": nbytes, "static_raw_rows": raw, "days": days}


GENERATORS = {"registry_mix": gen_tpch, "etl_daily": gen_etl}


def main():
    workload, seed, out = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    os.makedirs(out, exist_ok=True)
    manifest = GENERATORS[workload](seed, out)
    manifest.update({"workload": workload, "seed": seed})
    with open(f"{out}/manifest.json", "w") as f:
        json.dump(manifest, f, indent=1)


if __name__ == "__main__":
    main()
