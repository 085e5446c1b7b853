"""Seeded input generators. The program only ever sees the files written here.

`write_tables` writes the ten catalog tables (same names, columns and types
as the catalog expects) at a size set by `n_orders`; `write_graph_lineitem`
writes the one table the co-purchase graph queries read; `write_stream_files`
writes Zipf-vocabulary text files for the streaming word count and returns
each file's exact word counts. The same seed always gives byte-identical inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window order data column join small customer query big stream "
    "filter group"
).split()

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "de", "es", "fr", "zh"]
PART_ADJ = ["small", "red", "large", "blue", "steel"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "panel"]
PART_TYPES = ["ECONOMY", "STANDARD", "PROMO", "LARGE", "MEDIUM"]

DAY_US = 86_400 * 1_000_000
EPOCH_1995 = 788_918_400 * 1_000_000  # 1995-01-01T00:00:00Z in µs
EPOCH_2024 = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z in µs


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("int64"), type=pa.timestamp("us"))


def _lineitem(rng: np.random.Generator, n_orders: int, n_parts: int, n_supp: int) -> dict:
    per_order = rng.integers(1, 8, n_orders)  # 1..7 lines per order
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), per_order)
    n = len(okey)
    lnum = np.concatenate([np.arange(1, k + 1) for k in per_order]).astype(np.int32)
    pkey = rng.integers(0, n_parts, n).astype(np.int64)
    return {
        "l_orderkey": okey,
        "l_partkey": pkey,
        "l_suppkey": rng.integers(0, n_supp, n).astype(np.int64),
        "l_linenumber": lnum,
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 100_000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(rng.choice(["O", "F"], n)),
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(0, 2500, n) * DAY_US),
    }


def write_tables(out_dir: str, seed: int, n_orders: int) -> None:
    """All ten catalog tables; sizes scale with `n_orders` (150000 is about
    the size of the sf0.1 test data, 15000 of sf0.01)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust = max(n_orders // 10, 10)
    n_parts = max(n_orders * 2 // 15, 20)
    n_supp = max(n_orders // 150, 5)
    n_events = max(n_orders * 2 // 3, 50)
    n_docs = max(n_orders // 30, 20)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.0, 9999.0, n_cust),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.0, 9999.0, n_supp),
    })
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_parts, dtype=np.int64),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 5, n_parts), rng.integers(0, 5, n_parts))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_parts)],
        "p_type": pa.array(rng.choice(PART_TYPES, n_parts)),
        "p_size": rng.integers(1, 51, n_parts).astype(np.int32),
        "p_retailprice": np.round(900.0 + np.arange(n_parts) * 0.1, 2),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_orders)),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_orders),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2400, n_orders) * DAY_US),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_orders)),
    })
    _write(out_dir, "lineitem", _lineitem(rng, n_orders, n_parts, n_supp))
    _write(out_dir, "events", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": _ts(EPOCH_2024 + np.sort(rng.integers(0, 30 * DAY_US, n_events))),
        "user_id": rng.integers(0, 150, n_events).astype(np.int64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_events)),
        "value": _money(rng, 0.01, 500.0, n_events),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    texts = [
        " ".join(rng.choice(WORDS, int(k))) for k in rng.integers(10, 80, n_docs)
    ]
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": pa.array(rng.choice(LANGS, n_docs)),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    emb = rng.standard_normal((n_docs, 64)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_docs, dtype=np.int64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_docs).astype(np.int32),
    })


def write_graph_lineitem(out_dir: str, seed: int, n_orders: int, n_parts: int) -> None:
    """Only `lineitem`: the co-purchase graph queries read nothing else.

    One fixed base graph, relabelled per seed: the seed permutes the part
    keys, the order keys and the row order. Every seed therefore gives an
    isomorphic co-purchase graph, so the loops run the same number of rounds
    and jobs on every seed, while ids, file layout and hash placement change.
    """
    os.makedirs(out_dir, exist_ok=True)
    cols = _lineitem(np.random.default_rng([0, 2]), n_orders, n_parts, 10)
    rng = np.random.default_rng([seed, 2])
    cols["l_partkey"] = rng.permutation(n_parts).astype(np.int64)[cols["l_partkey"]]
    cols["l_orderkey"] = rng.permutation(n_orders).astype(np.int64)[cols["l_orderkey"]]
    rows = rng.permutation(len(cols["l_orderkey"]))
    _write(out_dir, "lineitem", {
        k: (v.take(pa.array(rows)) if isinstance(v, pa.Array) else v[rows])
        for k, v in cols.items()
    })


def write_stream_files(
    out_dir: str, seed: int, n_files: int, lines_per_file: int, vocab: int = 5000
) -> list[np.ndarray]:
    """`n_files` text files of 1-8 space-separated words per line, drawn from
    a Zipf(1.1) vocabulary `w0..w{vocab-1}`; returns each file's exact word
    counts (index i counts word `w{i}`). Modification times step by one
    second in file order, so a file source lists them in that order."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 3])
    names = np.array([f"w{i}" for i in range(vocab)])
    counts = []
    for f in range(n_files):
        per_line = rng.integers(1, 9, lines_per_file)
        ids = (rng.zipf(1.1, int(per_line.sum())) - 1) % vocab
        counts.append(np.bincount(ids, minlength=vocab))
        # interleave words and separators: a newline after each line's last word
        sep = np.full(len(ids), " ", dtype="<U1")
        sep[np.cumsum(per_line) - 1] = "\n"
        tokens = [""] * (2 * len(ids))
        tokens[0::2] = names[ids].tolist()
        tokens[1::2] = sep.tolist()
        path = os.path.join(out_dir, f"part-{f:05d}.txt")
        with open(path, "w") as fh:
            fh.write("".join(tokens))
        mtime_ns = (1_700_000_000 + f) * 1_000_000_000
        os.utime(path, ns=(mtime_ns, mtime_ns))
    return counts
