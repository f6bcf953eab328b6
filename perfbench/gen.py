"""Seeded input generator for the benchmark workloads.

Every table is written as ONE parquet file holding ONE row group (the
shape of the repo's fixture tables: it caps each scan of a table at one
task).  The same seed always gives byte-identical inputs; a different
seed changes every random draw (keys, timestamps, amounts, texts,
vectors, which near-duplicate documents are injected, which capture
minute of each cycle is withheld) but never the table sizes.

Usage: python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Scale of the lake_queries tables, in TPC-H-style scale factor units
# (sf 0.01 = 60k lineitem rows).
LAKE_SF = 0.01
# capture_ticks: simulated minutes available and event rows per minute.
CAPTURE_MINUTES = 60
CAPTURE_ROWS_PER_MINUTE = 1000
CAPTURE_LATE_FRAC = 0.02
# One minute in each 10-minute cycle (its model period) is withheld, at a
# seeded minute before the cycle's backfill at minute 6, so every cycle
# does the same mix of work whatever the seed.
CAPTURE_CYCLE = 10
CAPTURE_BACKFILL_AT = 6
WORDS = np.array(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch".split())
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
DIM = 64
US = 1_000_000
EPOCH_2024 = 1704067200  # 2024-01-01T00:00:00Z


def write(out_dir, name, table):
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))
    return table.num_rows, os.path.getsize(path)


def ts_col(us):
    return pa.array(np.asarray(us, dtype="int64"), type=pa.timestamp("us"))


def day_ts(rng, n, start, end):
    """Whole-day timestamps in [start, end) (numpy datetime64 strings)."""
    lo = np.datetime64(start, "D").astype("int64")
    hi = np.datetime64(end, "D").astype("int64")
    return rng.integers(lo, hi, n) * 86400 * US


def texts(rng, n):
    """n texts of 10-100 words. The lengths are stratified, so every seed
    has the same number of short texts, whose chance word overlaps drive
    the near-dup pair count."""
    lens = rng.permutation(np.linspace(10, 100, n).round().astype(int))
    ids = rng.integers(0, len(WORDS), lens.sum())
    out, i = [], 0
    for k in lens:
        out.append(" ".join(WORDS[ids[i:i + k]]))
        i += k
    return out


def near_copy(rng, text):
    """A light edit: one word replaced and a marker word appended."""
    w = text.split()
    w[int(rng.integers(0, len(w)))] = str(WORDS[int(rng.integers(0, len(WORDS)))])
    return " ".join(w + ["dup"])


def unit_vectors(rng, n, labels):
    """Unit vectors clustered around ten random centres, one per label."""
    centers = rng.normal(size=(10, DIM))
    v = centers[labels] + 0.35 * rng.normal(size=(n, DIM))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")


def vec_col(v):
    return pa.array(list(v), type=pa.list_(pa.float32()))


def gen_lake(rng, out):
    sf = LAKE_SF
    sizes = {}
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_li, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_doc = n_emb = int(50000 * sf)
    sizes["region"] = write(out, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}))
    sizes["nation"] = write(out, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))
    sizes["customer"] = write(out, "customer", pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)}))
    sizes["supplier"] = write(out, "supplier", pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}))
    colors = ["red", "blue", "hot", "cold", "old", "new", "small", "large"]
    nouns = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
    sizes["part"] = write(out, "part", pa.table({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": [f"{colors[a]} {nouns[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "SMALL", "MEDIUM", "LARGE", "PROMO",
                              "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)}))
    sizes["orders"] = write(out, "orders", pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": ts_col(day_ts(rng, n_ord, "1995-01-01", "2001-08-02")),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)}))
    qty = rng.integers(1, 51, n_li).astype("float64")
    sizes["lineitem"] = write(out, "lineitem", pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 3000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": ts_col(day_ts(rng, n_li, "1995-01-02", "2001-12-01"))}))
    sizes["events"] = write(out, "events", events_table(
        rng, np.arange(n_ev),
        np.sort(EPOCH_2024 * US + rng.integers(0, 30 * 86400 * US, n_ev)),
        int(15000 * sf)))
    doc_text = texts(rng, n_doc)
    for i in rng.choice(n_doc, max(1, n_doc // 20), replace=False):
        j = int(rng.integers(0, n_doc))
        if j != i:
            doc_text[i] = near_copy(rng, doc_text[j])
    for i in rng.choice(n_doc, max(1, n_doc // 600), replace=False):
        doc_text[i] = doc_text[int(rng.integers(0, n_doc))]
    sizes["documents"] = write(out, "documents", pa.table({
        "doc_id": np.arange(n_doc, dtype="int64"),
        "text": doc_text,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in doc_text], dtype="int64")}))
    labels = rng.integers(0, 10, n_emb)
    sizes["embeddings"] = write(out, "embeddings", pa.table({
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": vec_col(unit_vectors(rng, n_emb, labels)),
        "label": pa.array(labels, pa.int32())}))
    return sizes


def events_table(rng, ids, ts_us, n_users):
    n = len(ids)
    return pa.table({
        "event_id": np.asarray(ids, dtype="int64"),
        "ts": ts_col(ts_us),
        "user_id": rng.integers(0, max(1, n_users), n),
        "event_type": rng.choice(["view", "click", "purchase", "signup",
                                  "error"], n),
        "value": np.round(np.maximum(0.01, rng.exponential(50, n)), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def gen_capture(rng, out):
    """Minute batches of events, restamped to their capture minute.

    `minute` m holds ~CAPTURE_ROWS_PER_MINUTE rows stamped inside minute
    m of 2024-02-01, except a few late rows stamped up to five minutes
    earlier.  Minute -1 is a throwaway warm-up batch.  Withheld minutes
    (their fetch fails) are listed in capture_minutes.
    """
    base = (EPOCH_2024 + 31 * 86400) * US
    counts = rng.integers(int(CAPTURE_ROWS_PER_MINUTE * 0.9),
                          int(CAPTURE_ROWS_PER_MINUTE * 1.1) + 1,
                          CAPTURE_MINUTES + 1)
    minute = np.repeat(np.arange(-1, CAPTURE_MINUTES), counts)
    n = len(minute)
    ts = base + minute * 60 * US + rng.integers(0, 60 * US, n)
    late = rng.random(n) < CAPTURE_LATE_FRAC
    ts[late] -= rng.integers(60 * US, 300 * US, late.sum())
    t = events_table(rng, np.arange(n), ts, 1500)
    sizes = {"capture_events": write(out, "capture_events",
                                     t.append_column("minute", pa.array(minute, pa.int32())))}
    withheld = np.zeros(CAPTURE_MINUTES, dtype=bool)
    for c in range(0, CAPTURE_MINUTES, CAPTURE_CYCLE):
        withheld[c + int(rng.integers(0, CAPTURE_BACKFILL_AT))] = True
    sizes["capture_minutes"] = write(out, "capture_minutes", pa.table({
        "minute": pa.array(range(CAPTURE_MINUTES), pa.int32()),
        "withheld": withheld}))
    return sizes


GENERATORS = {"lake_queries": gen_lake, "capture_ticks": gen_capture}


def generate(workload, seed, out_dir):
    """Write the workload's inputs; return {table: [rows, bytes]}."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    sizes = GENERATORS[workload](rng, out_dir)
    with open(os.path.join(out_dir, "sizes.json"), "w") as f:
        json.dump(sizes, f, sort_keys=True)
    return sizes


if __name__ == "__main__":
    w, s, d = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    for k, (r, b) in sorted(generate(w, s, d).items()):
        print(f"{k}: {r} rows, {b} bytes")
