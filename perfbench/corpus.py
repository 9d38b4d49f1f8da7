"""Deterministic synthetic corpus for the benchmark.

Writes the ten tables graft reads (`region nation customer supplier
part orders lineitem events documents embeddings`), one parquet file
each, in the layout of graft's test corpus (the `sf0.001`/`sf0.01`/
`sf0.1` directories its tests and `graft.Bench` read): the same
schemas, parquet encodings (every timestamp column is timestamp[us])
and per-column value distributions. `corpus_compare.py` checks that
claim against a copy of that corpus; `corpus_compare.txt` is its
report. The data is a pure function of the scale factor: every table
draws from its own fixed-seed numpy generator, so two builds of the
corpus are byte-identical and the expected query digests recorded in
`expected_queries.json` hold for every run.

Usage: python3 corpus.py <out_dir> <sf>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

CORPUS_SEED = 42
DAY_US = 86_400_000_000
EPOCH_1995_US = 788_918_400_000_000   # 1995-01-01
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01
EVENT_SPAN_DAYS = 30

WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]


def row_counts(sf):
    """Rows per table at scale factor `sf` (the sizes TESTDATA.md lists)."""
    return {
        "region": 5, "nation": 25,
        "customer": int(150_000 * sf), "supplier": int(10_000 * sf),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _rng(table):
    return np.random.default_rng([CORPUS_SEED, TABLES.index(table)])


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _pick(rng, choices, n, p=None):
    return pa.array(np.asarray(choices, dtype=object)[
        rng.choice(len(choices), n, p=p)], type=pa.string())


def build(sf):
    n = row_counts(sf)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})

    r = _rng("customer")
    k = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(k, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": pa.array(r.integers(0, 25, k), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, k),
        "c_mktsegment": _pick(r, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"], k)})

    r = _rng("supplier")
    k = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(k, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": pa.array(r.integers(0, 25, k), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, k)})

    r = _rng("part")
    k = n["part"]
    names = [f"{a} {b}" for a in ["blue", "cold", "hot", "large", "new",
                                  "old", "red", "small"]
             for b in ["anvil", "bolt", "gear", "gizmo", "plate", "ring",
                       "rod", "widget"]]
    out["part"] = pa.table({
        "p_partkey": np.arange(k, dtype=np.int64),
        "p_name": _pick(r, names, k),
        "p_brand": _pick(r, [f"Brand#{i}" for i in range(1, 26)], k),
        "p_type": _pick(r, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"], k),
        "p_size": pa.array(r.integers(1, 51, k), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(k) % 1000) * 0.1, 1)})

    r = _rng("orders")
    k = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(k, dtype=np.int64),
        "o_custkey": r.integers(0, n["customer"], k, dtype=np.int64),
        "o_orderstatus": _pick(r, ["F", "O", "P"], k),
        "o_totalprice": _money(r, 1000.0, 500000.0, k),
        "o_orderdate": _ts(EPOCH_1995_US + r.integers(0, 2405, k) * DAY_US),
        "o_orderpriority": _pick(r, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"], k)})

    r = _rng("lineitem")
    k = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": r.integers(0, n["orders"], k, dtype=np.int64),
        "l_partkey": r.integers(0, n["part"], k, dtype=np.int64),
        "l_suppkey": r.integers(0, n["supplier"], k, dtype=np.int64),
        "l_linenumber": pa.array(r.integers(1, 8, k), pa.int32()),
        "l_quantity": r.integers(1, 51, k).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105000.0, k),
        "l_discount": np.round(r.uniform(0.0, 0.10, k), 2),
        "l_tax": np.round(r.uniform(0.0, 0.08, k), 2),
        "l_returnflag": _pick(r, ["A", "N", "R"], k),
        "l_linestatus": _pick(r, ["F", "O"], k),
        "l_shipdate": _ts(EPOCH_1995_US + DAY_US
                          + r.integers(0, 2499, k) * DAY_US)})

    r = _rng("events")
    k = n["events"]
    span = EVENT_SPAN_DAYS * DAY_US
    out["events"] = pa.table({
        "event_id": np.arange(k, dtype=np.int64),
        "ts": _ts(EPOCH_2024_US + np.sort(r.integers(0, span, k))),
        "user_id": r.integers(0, max(1, int(15_000 * sf)), k,
                              dtype=np.int64),
        "event_type": _pick(r, ["click", "error", "purchase", "signup",
                                "view"], k),
        "value": np.round(r.exponential(50.0, k), 2),
        "props": [f'{{"k": {v}}}' for v in r.integers(0, 100, k)]})

    r = _rng("documents")
    k = n["documents"]
    texts = [" ".join(np.asarray(WORDS)[r.integers(0, len(WORDS), int(m))])
             for m in r.integers(10, 101, k)]
    # 5% near-duplicates: another document (anywhere in the table) plus
    # the token "dup", so the dedup operators find real clusters
    for i in sorted(r.choice(k, k // 20, replace=False)):
        j = (i + 1 + int(r.integers(0, k - 1))) % k
        texts[i] = texts[j] + " dup"
    out["documents"] = pa.table({
        "doc_id": np.arange(k, dtype=np.int64),
        "text": texts,
        "lang": _pick(r, ["de", "en", "es", "fr", "zh"], k,
                      p=[0.15, 0.4, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(k)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    r = _rng("embeddings")
    k = n["embeddings"]
    # unit vectors in random directions; the labels carry no geometry
    vecs = r.normal(0.0, 1.0, (k, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)) \
        .astype(np.float32)
    labels = r.integers(0, 10, k)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(k, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out


def write(out_dir, sf):
    """Write every table to `<out_dir>/<table>.parquet`; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in build(sf).items():
        pq.write_table(table, os.path.join(out_dir, name + ".parquet"))
        counts[name] = table.num_rows
    return counts


if __name__ == "__main__":
    print(write(sys.argv[1], float(sys.argv[2])))
