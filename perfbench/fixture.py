"""Seeded generator for the ten parquet tables every registered query reads.

The tables follow the schemas and value distributions documented in
FIXTURES.md section B (a TPC-H-like star schema, the `events` stream table,
the `documents` corpus and the `embeddings` table). Row counts scale with
`sf`; at sf 0.1 lineitem has 600,000 rows. The same (seed, sf) pair always
writes byte-identical values, so an oracle answer computed on one fixture
holds for every later run on the same seed.

Usage: python3 perfbench/fixture.py <out_dir> <seed> [sf]
"""
import datetime as dt
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
COLORS = ["blue", "old", "red", "small", "new", "large", "hot", "cold"]
NOUNS = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "es", "fr", "zh", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]

US_PER_DAY = 86_400_000_000


def _epoch_us(ymd):
    return (dt.date(*ymd) - dt.date(1970, 1, 1)).days * US_PER_DAY


def _money(rng, lo, hi, size):
    return np.round(rng.uniform(lo, hi, size), 2)


def _pick(values, idx):
    return pa.array(np.asarray(values, dtype=object)[idx], pa.string())


def _ts(us):
    return pa.array(us, pa.timestamp("us"))


def tables(seed, sf=0.1):
    """Yield (name, pyarrow.Table) for every fixture table."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    yield "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string())})
    yield "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    yield "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(SEGMENTS, rng.integers(0, 5, n_cust))})
    yield "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))})
    keys = np.arange(n_part)
    names = np.char.add(np.char.add(np.asarray(COLORS)[rng.integers(0, 8, n_part)], " "),
                        np.asarray(NOUNS)[rng.integers(0, 8, n_part)])
    yield "part", pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": pa.array(names.astype(object), pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], pa.string()),
        "p_type": _pick(PART_TYPES, rng.integers(0, 6, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (keys % 1000) / 10, 1))})
    yield "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(["O", "F", "P"], rng.integers(0, 3, n_ord)),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, n_ord)),
        "o_orderdate": _ts(_epoch_us((1995, 1, 1)) + rng.integers(0, 2405, n_ord) * US_PER_DAY),
        "o_orderpriority": _pick(PRIORITIES, rng.integers(0, 5, n_ord))})
    yield "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105000, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": _pick(["A", "N", "R"], rng.integers(0, 3, n_li)),
        "l_linestatus": _pick(["F", "O"], rng.integers(0, 2, n_li)),
        "l_shipdate": _ts(_epoch_us((1995, 1, 2)) + rng.integers(0, 2499, n_li) * US_PER_DAY)})
    # events: a 30-day stream in event_id order, ~26 s mean gap
    span = 30 * US_PER_DAY
    ts = np.sort(rng.integers(0, span, n_ev)) + _epoch_us((2024, 1, 1))
    yield "events", pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, max(15, int(15_000 * sf)), n_ev), pa.int64()),
        "event_type": _pick(EVENT_TYPES, rng.integers(0, 5, n_ev)),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], pa.string())})
    # documents: 10..99 tokens over a 30-word vocabulary; 5% are a copy of
    # another document with a trailing "dup" token (the near-dup signal)
    vocab = np.asarray(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), rng.integers(10, 100))])
             for _ in range(n_doc)]
    dup_at = rng.choice(n_doc, n_doc // 20, replace=False)
    for i in sorted(dup_at):
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    yield "documents", pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(LANGS, rng.choice(5, n_doc, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    yield "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})


def ensure(out_dir, seed, sf=0.1):
    """Write the fixture for (seed, sf) into out_dir unless it is complete.
    The directory appears atomically, so an interrupted write is redone."""
    if all(os.path.exists(f"{out_dir}/{t}.parquet") for t in TABLES):
        os.utime(out_dir)
        return out_dir
    tmp = f"{out_dir}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in tables(seed, sf):
        pq.write_table(table, f"{tmp}/{name}.parquet", compression="snappy")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(os.path.dirname(out_dir) or ".", exist_ok=True)
    os.rename(tmp, out_dir)
    return out_dir


if __name__ == "__main__":
    ensure(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]) if len(sys.argv) > 3 else 0.1)
