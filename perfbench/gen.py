"""Seeded input generators for the benchmark.

Everything here is a pure function of the seed: the same seed writes
byte-identical files (and identical modification times). The program under
test only ever sees the files.

- ``write_interactions``: ``user,item,ts`` CSV with Zipf item popularity and
  Zipf user activity, ascending ``ts``, one file per event-time window
  (one day), modification times ascending in window order — the staging
  contract of the streaming file monitor (one file per microbatch).
- ``write_maint_plan``: serve_mix's maintained-matrix op sequence (ingest
  batches, serves, erasures of sampled users) plus the interactions that
  survive it.
- ``write_catalog``: a small TPC-H-like star schema plus ``events`` and
  ``documents`` parquet tables, the shapes the catalog queries read.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_MS = 86_400_000
T0_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
MTIME0 = 1_700_000_000  # modification time of the first window file (s)


def _zipf_p(n, s):
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return w / w.sum()


def interactions(rng, n_events, n_users, n_items, n_windows, user_skew, item_skew):
    """Arrays (window, user, item, ts_ms) sorted by ts; ts distinct."""
    item_ids = rng.permutation(n_items)
    user_ids = rng.permutation(n_users)
    items = item_ids[rng.choice(n_items, size=n_events, p=_zipf_p(n_items, item_skew))]
    users = user_ids[rng.choice(n_users, size=n_events, p=_zipf_p(n_users, user_skew))]
    per_window = np.full(n_windows, n_events // n_windows)
    per_window[: n_events % n_windows] += 1
    wnd = np.repeat(np.arange(n_windows), per_window)
    ts = np.empty(n_events, dtype=np.int64)
    at = 0
    for w, cnt in enumerate(per_window):
        offs = np.sort(rng.choice(DAY_MS, size=cnt, replace=False))
        ts[at:at + cnt] = T0_MS + w * DAY_MS + offs
        at += cnt
    return wnd, users.astype(np.int64), items.astype(np.int64), ts


def _write_csv(path, users, items, ts):
    lines = [f"{u},{i},{t}\n" for u, i, t in zip(users.tolist(), items.tolist(), ts.tolist())]
    with open(path, "w", newline="\n") as f:
        f.writelines(lines)


def write_interactions(out_dir, seed, n_events, n_users, n_items, n_windows,
                       user_skew=0.8, item_skew=1.0):
    """One CSV per day window under ``out_dir``; returns the event count."""
    rng = np.random.default_rng([seed, 1])
    wnd, users, items, ts = interactions(
        rng, n_events, n_users, n_items, n_windows, user_skew, item_skew)
    os.makedirs(out_dir, exist_ok=True)
    for w in range(n_windows):
        sel = wnd == w
        path = os.path.join(out_dir, f"w{w:05d}.csv")
        _write_csv(path, users[sel], items[sel], ts[sel])
        os.utime(path, (MTIME0 + 60 * w, MTIME0 + 60 * w))
    return int(n_events)


def write_maint_plan(out_dir, seed, n_batches, batch_events, n_users, n_items,
                     serve_every, erase_every, erase_users, user_skew=0.5, item_skew=0.8):
    """Ingest batch files, the op plan and the surviving interactions.

    Plan lines: ``ingest <file>``, ``serve`` and ``erase <u1> <u2> ...``.
    An erasure removes every event of the user ingested before it; events
    the user has in later batches survive. The plan ends with a serve.
    """
    rng = np.random.default_rng([seed, 2])
    wnd, users, items, ts = interactions(
        rng, n_batches * batch_events, n_users, n_items, n_batches, user_skew, item_skew)
    os.makedirs(out_dir, exist_ok=True)
    plan, alive = [], []
    for b in range(n_batches):
        sel = wnd == b
        name = f"b{b:04d}.csv"
        _write_csv(os.path.join(out_dir, name), users[sel], items[sel], ts[sel])
        plan.append(f"ingest {name}")
        alive.append([users[sel], items[sel], ts[sel]])
        if (b + 1) % serve_every == 0:
            plan.append("serve")
        if (b + 1) % erase_every == 0:
            seen = np.unique(np.concatenate([a[0] for a in alive]))
            gone = np.sort(rng.choice(seen, size=min(erase_users, len(seen)), replace=False))
            plan.append("erase " + " ".join(str(u) for u in gone.tolist()))
            for a in alive:
                keep = ~np.isin(a[0], gone)
                a[0], a[1], a[2] = a[0][keep], a[1][keep], a[2][keep]
    if plan[-1] != "serve":
        plan.append("serve")
    with open(os.path.join(out_dir, "plan.txt"), "w") as f:
        f.write("\n".join(plan) + "\n")
    _write_csv(os.path.join(out_dir, "surviving.csv"),
               np.concatenate([a[0] for a in alive]),
               np.concatenate([a[1] for a in alive]),
               np.concatenate([a[2] for a in alive]))
    return int(n_batches * batch_events)


WORDS = ("a the data spark stream batch table query join filter group sort scan "
         "hash key value row column window part line order customer vector agg "
         "merge fast slow small big index shard log").split()
LANGS = ["en"] * 8 + ["es", "fr", "de", "zh"]


def _strs(values, idx):
    return pa.array(values).take(pa.array(idx))


def _ts_us(base_us, offs_us):
    return pa.array(base_us + offs_us, type=pa.timestamp("us"))


def write_catalog(out_dir, seed, scale=1.0):
    """The catalog tables as parquet files ``<out_dir>/<name>.parquet``."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(7500 * scale), int(500 * scale), int(10000 * scale)
    n_ord, n_line = int(75000 * scale), int(300000 * scale)
    n_ev, n_doc, n_evu = int(50000 * scale), int(2500 * scale), int(1000 * scale)
    day_us = DAY_MS * 1000
    d1995 = 788_918_400_000_000  # 1995-01-01 in micros
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(regions)}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
            "c_mktsegment": _strs(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                   "MACHINERY"], rng.integers(0, 5, n_cust))}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2))}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array([f"{a} {b}" for a, b in zip(
                np.array(["large", "hot", "small", "green", "steel"])[rng.integers(0, 5, n_part)],
                np.array(["ring", "bolt", "nut", "gear", "pipe"])[rng.integers(0, 5, n_part)])]),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
            "p_type": _strs(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"],
                            rng.integers(0, 6, n_part)),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2))}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": _strs(["F", "O", "P"], rng.integers(0, 3, n_ord)),
            "o_totalprice": pa.array(np.round(rng.uniform(900.0, 500000.0, n_ord), 2)),
            "o_orderdate": _ts_us(d1995, rng.integers(0, 2404, n_ord) * day_us),
            "o_orderpriority": _strs(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                      "5-LOW"], rng.integers(0, 5, n_ord))}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 100000.0, n_line), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": _strs(["A", "N", "R"], rng.integers(0, 3, n_line)),
            "l_linestatus": _strs(["F", "O"], rng.integers(0, 2, n_line)),
            "l_shipdate": _ts_us(d1995, rng.integers(1, 2500, n_line) * day_us)}),
    }
    ev_ts = np.sort(rng.choice(30 * 86_400_000_000, n_ev, replace=False))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts_us(T0_MS * 1000, ev_ts),
        "user_id": pa.array(rng.integers(0, n_evu, n_ev), pa.int64()),
        "event_type": _strs(["click", "error", "purchase", "signup", "view"],
                            rng.integers(0, 5, n_ev)),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev).tolist()])})
    lens = rng.integers(5, 60, n_doc)
    words = np.array(WORDS)[rng.integers(0, len(WORDS), int(lens.sum()))]
    texts, at = [], 0
    for n in lens.tolist():
        texts.append(" ".join(words[at:at + n].tolist()))
        at += n
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": pa.array(texts),
        "lang": _strs(LANGS, rng.integers(0, len(LANGS), n_doc)),
        "source": pa.array([f"src{i}" for i in rng.integers(1, 21, n_doc).tolist()]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


def interleave(maint_ops, queries, seed):
    """The serve_mix plan: the maintenance ops in their order, with the
    queries in a seeded order spread evenly between them."""
    rng = np.random.default_rng([seed, 4])
    qs = [queries[i] for i in rng.permutation(len(queries))]
    out, at = [], 0
    for i, op in enumerate(maint_ops):
        upto = round((i + 1) * len(qs) / len(maint_ops))
        out.extend(qs[at:upto])
        out.append(op)
        at = upto
    return out
