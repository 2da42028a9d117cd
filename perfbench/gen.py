"""Input generator for the benchmark.

Writes the ten tables every declared query reads (the TPC-H-ish star, the
`events` CDC table, `documents` and `embeddings`) as one parquet file each.
With the values' seed fixed at 42, the tables hold exactly the rows of the
project's test tables (TESTDATA.md) at every scale factor they come in
(0.001, 0.01 and 0.1): the same draws from numpy's default generator in
the same order. perfbench/compare_input.py checks this row for row.

So every benchmark seed measures the same rows. The benchmark seed sets
only the row order of every table, which reshuffles what each scan split
holds.

Usage: python3 perfbench/gen.py <out_dir> <sf> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
PART_ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
PART_NOUN = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
PART_TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
WORDS = ("the a spark query table join group filter window data order customer part line "
         "fast slow big small hash sort merge scan agg stream batch vector key value row "
         "column").split()
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]  # drawn uniformly: en 3/7
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

VALUE_SEED = 42  # the values' seed; the benchmark seed only orders the rows


def _ts_days(rng, n, lo, hi):
    """n whole-day timestamps drawn uniformly from [lo, hi]."""
    start = np.datetime64(lo, "D")
    span = (np.datetime64(hi, "D") - start).astype(int)
    d = start + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n)], pa.string())


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf, seed):
    """Return {table name: pyarrow.Table} for scale factor `sf`, each table's
    rows in the order `seed` sets."""
    rng = np.random.default_rng(VALUE_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    out = {}
    out["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                              "r_name": pa.array(REGIONS, pa.string())})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adj, noun = rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)], pa.string()),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)], pa.string()),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": _pick(rng, ["O", "F", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts_days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": np.round(rng.uniform(0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_line), 2),
        "l_returnflag": _pick(rng, ["R", "A", "N"], n_line),
        "l_linestatus": _pick(rng, ["O", "F"], n_line),
        "l_shipdate": _ts_days(rng, n_line, "1995-01-02", "2001-11-04")})
    # events: nanosecond draws over 30 days truncated to microseconds, ascending in event_id
    ts_us = (np.sort(rng.uniform(0, 30 * 86_400, n_ev)) * 1e9).astype(np.int64) // 1000
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(t0 + ts_us.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, n_cust // 10, n_ev, dtype=np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], pa.string())})
    words = np.asarray(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(WORDS), rng.integers(10, 100))]) for _ in range(n_doc)]
    for i in rng.choice(n_doc, n_doc // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    out["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n_doc),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)], pa.string()),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    vec = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb, dtype=np.int32)})
    # seed-determined row order: every table leaves here shuffled
    order = np.random.default_rng(seed)
    return {t: tb.take(order.permutation(tb.num_rows)) for t, tb in out.items()}


def write(out_dir, sf, seed):
    """Generate into `out_dir` once: a finished dir carries a .done stamp,
    and an unfinished one is written again."""
    if os.path.exists(os.path.join(out_dir, ".done")):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for name, tb in tables(sf, seed).items():
        pq.write_table(tb, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")
    open(os.path.join(out_dir, ".done"), "w").close()
    return out_dir


if __name__ == "__main__":
    write(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
