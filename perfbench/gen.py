#!/usr/bin/env python3
"""Seeded input generator for the benchmark workloads.

Every table is a pure function of (workload, seed, size parameters): the
same arguments give byte-identical parquet. Schemas match the engine's
TPC-H-ish test tables (timestamp[us] without zone, one row group per file),
so the registry jobs and their DuckDB oracles run on them unchanged.

  python3 perfbench/gen.py --workload etl_bulk --seed 7 --out DIR [--tiny]

Input properties that the workloads vary:
  etl_bulk     Zipf skew (exponent `zipf`) on o_custkey, l_partkey,
               l_suppkey, events.user_id and events.event_type; every TPC-H
               table is scaled by the same factor `sf`, so join match rates
               hold at any size.
  txlog_mixed  a long op list over one table: insert, update and delete
               shares, recent keys favoured (geometric over key age).

Every workload also gets the fixed-size probe corpus of the traced run's
layer probes: documents, `near_dup_share` of them edited copies of an
earlier document (`exact_dup_share` verbatim copies), and embeddings in
`clusters` Gaussian clusters.
"""
import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes the benchmark runs at, and the tiny sizes of its self-test.
SIZES = {
    "etl_bulk": {"sf": 0.05, "zipf": 0.8},
    "txlog_mixed": {"base_rows": 20000, "batch_rows": 2000, "ops": 600,
                    "groups": 16, "insert_share": 0.5, "update_share": 0.3,
                    "delete_share": 0.2, "recent_p": 0.0005},
}
TINY = {
    "etl_bulk": {"sf": 0.005, "zipf": 0.8},
    "txlog_mixed": {"base_rows": 500, "batch_rows": 50, "ops": 200,
                    "groups": 16, "insert_share": 0.5, "update_share": 0.3,
                    "delete_share": 0.2, "recent_p": 0.02},
}

EPOCH_US_1995 = 788918400 * 1_000_000  # 1995-01-01T00:00:00
DAY_US = 86400 * 1_000_000


def _write(out, name, cols):
    table = pa.table(cols)
    path = os.path.join(out, f"{name}.parquet")
    # one row group, as in the engine's test tables: single-split inputs are
    # the case its compute rebalancing exists for
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))
    return {"rows": table.num_rows, "bytes": os.path.getsize(path)}


def _zipf_keys(rng, n_keys, n, a):
    """`n` draws from 0..n_keys-1, rank-frequency ~ 1/rank^a, hot keys at
    seeded positions (a permutation decouples heat from key order)."""
    w = 1.0 / np.arange(1, n_keys + 1, dtype=np.float64) ** a
    ranks = rng.choice(n_keys, size=n, p=w / w.sum())
    return rng.permutation(n_keys)[ranks].astype(np.int64)


def _ts(us):
    return pa.array(us.astype(np.int64), type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def gen_tpch(out, rng, sf, zipf):
    meta = {}
    meta["region"] = _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    meta["nation"] = _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    n_c, n_s, n_p = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_o = int(1500000 * sf)
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    meta["customer"] = _write(out, "customer", {
        "c_custkey": np.arange(n_c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": rng.integers(0, 25, n_c).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_c),
        "c_mktsegment": segs[rng.integers(0, 5, n_c)]})
    meta["supplier"] = _write(out, "supplier", {
        "s_suppkey": np.arange(n_s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
        "s_nationkey": rng.integers(0, 25, n_s).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_s)})
    adj = np.array(["large", "small", "hot", "cold", "shiny", "dull"])
    noun = np.array(["ring", "bolt", "gear", "pipe", "nut", "valve"])
    types = np.array(["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY",
                      "PROMO"])
    pk = np.arange(n_p, dtype=np.int64)
    meta["part"] = _write(out, "part", {
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 6, n_p)], " "),
                              noun[rng.integers(0, 6, n_p)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_p).astype(str)),
        "p_type": types[rng.integers(0, 6, n_p)],
        "p_size": rng.integers(1, 51, n_p).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)})
    odate = EPOCH_US_1995 + rng.integers(0, 2404, n_o) * DAY_US
    meta["orders"] = _write(out, "orders", {
        "o_orderkey": np.arange(n_o, dtype=np.int64),
        "o_custkey": _zipf_keys(rng, n_c, n_o, zipf),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_o)],
        "o_totalprice": _money(rng, 900.0, 500000.0, n_o),
        "o_orderdate": _ts(odate),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, n_o)]})
    # 1..12 lines per order (mean ~4.3): enough heavy orders for Q18's
    # sum(quantity) > 250 filter to keep rows
    lines = 1 + rng.binomial(11, 0.3, n_o)
    n_l = int(lines.sum())
    okey = np.repeat(np.arange(n_o, dtype=np.int64), lines)
    first = np.repeat(np.cumsum(lines) - lines, lines)
    lnum = (np.arange(n_l) - first + 1).astype(np.int32)
    ship = np.repeat(odate, lines) + rng.integers(1, 122, n_l) * DAY_US
    cutoff = EPOCH_US_1995 + 1300 * DAY_US
    rflag = np.where(ship <= cutoff,
                     np.array(["R", "A"])[rng.integers(0, 2, n_l)], "N")
    meta["lineitem"] = _write(out, "lineitem", {
        "l_orderkey": okey,
        "l_partkey": _zipf_keys(rng, n_p, n_l, zipf),
        "l_suppkey": _zipf_keys(rng, n_s, n_l, zipf),
        "l_linenumber": lnum,
        "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_l),
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        "l_tax": rng.integers(0, 9, n_l) / 100.0,
        "l_returnflag": rflag,
        "l_linestatus": np.where(ship <= cutoff + 200 * DAY_US, "F", "O"),
        "l_shipdate": _ts(ship)})
    n_e = int(1000000 * sf)
    etypes = np.array(["view", "click", "purchase", "signup", "error"])
    meta["events"] = _write(out, "events", {
        "event_id": np.arange(n_e, dtype=np.int64),
        "ts": _ts(np.sort(1704067200 * 1_000_000 +
                          rng.integers(0, 30 * DAY_US, n_e))),
        "user_id": _zipf_keys(rng, max(2, int(15000 * sf)), n_e, zipf),
        "event_type": etypes[_zipf_keys(rng, 5, n_e, zipf)],
        "value": np.round(rng.exponential(60.0, n_e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)]})
    return meta


def gen_corpus(out, rng, p):
    meta = {}
    # vocabulary: the stopwords the quality heuristics count, then synthetic
    # words of 2..9 letters; Zipf word frequencies
    stop = ["the", "a", "of", "and", "to", "in", "is"]
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set(stop)
    while len(words) < p["vocab"]:
        words.add("".join(letters[rng.integers(0, 26, rng.integers(2, 10))]))
    vocab = np.array(sorted(words - set(stop)))
    vocab = np.concatenate([np.array(stop), rng.permutation(vocab)])
    wf = 1.0 / np.arange(1, len(vocab) + 1) ** 1.1
    wf /= wf.sum()
    punct = np.array([".", ",", "!", "?", ";"])
    n = p["docs"]
    lo, hi = p["doc_words"]
    texts = []
    kind = rng.random(n)
    for i in range(n):
        if i > 10 and kind[i] < p["exact_dup_share"]:
            texts.append(texts[rng.integers(0, i)])
        elif i > 10 and kind[i] < p["exact_dup_share"] + p["near_dup_share"]:
            toks = texts[rng.integers(0, i)].split(" ")
            edits = rng.integers(0, len(toks), max(1, len(toks) // 12))
            for e in edits:
                toks[e] = vocab[rng.choice(len(vocab), p=wf)]
            texts.append(" ".join(toks))
        else:
            k = int(rng.integers(lo, hi + 1))
            toks = vocab[rng.choice(len(vocab), size=k, p=wf)].astype(object)
            marks = rng.random(k) < 0.04
            toks[marks] = toks[marks] + punct[rng.integers(0, 5, marks.sum())]
            texts.append(" ".join(toks))
    meta["documents"] = _write(out, "documents", {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(["en", "en", "es", "fr", "de", "zh"])[
            rng.integers(0, 6, n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    nv, dim, k = p["vectors"], p["dim"], p["clusters"]
    cent = rng.normal(0.0, 1.0, (k, dim))
    label = rng.integers(0, k, nv)
    vec = (cent[label] + rng.normal(0.0, 0.6, (nv, dim))) / 8.0
    vec = vec.astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, nv * dim + 1, dim, dtype=np.int32)),
        pa.array(vec.reshape(-1), pa.float32()))
    meta["embeddings"] = _write(out, "embeddings", {
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": emb,
        "label": label.astype(np.int32)})
    return meta


# one cycle of the txlog schedule: 8 reads (point lookups the most common)
# and 7 writes (5 row writes, then table maintenance: checkpoint, optimize)
TXLOG_CYCLE = ["append", "lookup", "sql_merge", "lookup", "snapshot_agg",
               "delete_dv", "lookup", "update_dv", "lookup", "time_travel",
               "append", "lookup", "drain", "checkpoint", "optimize"]


def gen_txlog(out, rng, p):
    """The table's base batch plus a long op list. Keys of updates and
    deletes are drawn from recently inserted keys (geometric over key age),
    so later ops touch the files earlier ops wrote."""
    meta = {}
    os.makedirs(os.path.join(out, "batches"), exist_ok=True)
    groups = np.array([f"g{i:02d}" for i in range(p["groups"])])

    def rows(ids):
        n = len(ids)
        return {"id": np.asarray(ids, dtype=np.int64),
                "grp": groups[rng.integers(0, len(groups), n)],
                "val": _money(rng, 0.0, 1000.0, n)}

    base = np.arange(p["base_rows"], dtype=np.int64)
    meta["base"] = _write(out, "base", rows(base))
    keys = list(base)  # insertion order: the recency the op keys favour
    next_key = p["base_rows"]
    b = p["batch_rows"]
    tot = p["insert_share"] + p["update_share"] + p["delete_share"]
    n_upd = max(1, int(b * p["update_share"] / tot))
    n_del = max(1, int(b * p["delete_share"] / tot))

    def recent(k):
        ages = np.minimum(rng.geometric(p["recent_p"], 4 * k), len(keys))
        picked = list(dict.fromkeys(keys[-a] for a in ages))[:k]
        return [int(x) for x in picked]

    ops = []
    batch_rows = batch_bytes = 0
    for i in range(p["ops"]):
        kind = TXLOG_CYCLE[i % len(TXLOG_CYCLE)]
        op = {"kind": kind}
        if kind in ("append", "sql_merge"):
            n_new = b if kind == "append" else b - n_upd
            ids = list(range(next_key, next_key + n_new))
            next_key += n_new
            if kind != "append":
                ids = recent(n_upd) + ids
            m = _write(os.path.join(out, "batches"), f"op{i:05d}", rows(ids))
            batch_rows += m["rows"]
            batch_bytes += m["bytes"]
            op["batch"] = f"batches/op{i:05d}.parquet"
            keys.extend(ids[-n_new:])
        elif kind in ("delete_dv", "update_dv"):
            op["keys"] = recent(n_del if kind == "delete_dv" else n_upd)
            if kind == "update_dv":
                op["delta"] = round(float(rng.uniform(-50.0, 50.0)), 2)
        elif kind == "lookup":
            op["key"] = recent(1)[0]
        elif kind == "time_travel":
            op["writes_back"] = int(rng.integers(1, 12))
        ops.append(op)
    with open(os.path.join(out, "ops.json"), "w") as f:
        json.dump({"cycle": len(TXLOG_CYCLE), "ops": ops}, f)
    meta["batches"] = {"rows": batch_rows, "bytes": batch_bytes}
    return meta


# the fixed-size corpus every workload's layer probes run on
PROBE = {"docs": 2000, "vocab": 600, "doc_words": [8, 90],
         "near_dup_share": 0.12, "exact_dup_share": 0.03,
         "vectors": 1000, "dim": 64, "clusters": 10}


def generate(workload, seed, out, tiny=False):
    """Write the workload's inputs under `out` (probe tables under
    `out/probe`); return {table: {rows, bytes}} plus the size parameters."""
    p = (TINY if tiny else SIZES)[workload]
    os.makedirs(os.path.join(out, "probe"), exist_ok=True)
    rng = np.random.default_rng([seed, sorted(SIZES).index(workload)])
    if workload == "etl_bulk":
        tables = gen_tpch(out, rng, p["sf"], p["zipf"])
    else:
        tables = gen_txlog(out, rng, p)
    gen_corpus(os.path.join(out, "probe"), np.random.default_rng([seed, 99]),
               PROBE)
    return {"params": p, "tables": tables}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--tiny", action="store_true")
    a = ap.parse_args()
    print(json.dumps(generate(a.workload, a.seed, a.out, a.tiny)))


if __name__ == "__main__":
    main()
