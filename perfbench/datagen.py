"""Deterministic benchmark tables, generated inside the checkout.

The tables follow the shape of the engine's test data (TPC-H-ish star
schema plus ``events``, ``documents`` and ``embeddings``; see FIXTURES.md)
at the 0.01 scale factor: 60,000 lineitem rows, 10,000 events, 500
documents and 500 embeddings.  They are built from a fixed data seed, so
every run and every ``--seed`` measures the same bytes; the benchmark's
seed only changes visiting orders, synthetic graphs and agent draws.

    python3 perfbench/datagen.py OUT_DIR
"""

from __future__ import annotations

import os
import shutil
import sys
from pathlib import Path

DATA_SEED = 42
SCALE = 0.01
VOCAB = (
    "a the join hash row batch scan column customer filter small slow "
    "merge vector order line table data agg value key stream window "
    "spark part group big sort query fast"
).split()
LANGS = ("en", "en", "en", "en", "de", "es", "fr", "zh")
PART_WORDS = (
    ("blue", "red", "small", "large", "old", "new", "hot", "cold"),
    ("bolt", "gear", "ring", "rod", "anvil", "plate", "widget", "gizmo"),
)
TABLE_FILES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()


def _tables(scale: float) -> dict:
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(DATA_SEED)
    n_cust = int(150_000 * scale)
    n_supp = int(10_000 * scale)
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_line = int(6_000_000 * scale)
    n_evt = int(1_000_000 * scale)
    n_docs, n_vecs = 500, 500

    def day(lo: str, n: int, span_days: int):
        base = np.datetime64(lo, "us")
        return base + rng.integers(0, span_days, n) * np.timedelta64(1, "D")

    def cents(lo: float, hi: float, n: int):
        return np.round(rng.uniform(lo, hi, n), 2)

    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segments = np.array(
        ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    )
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": cents(-999.99, 9999.99, n_cust),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": cents(-999.99, 9999.99, n_supp),
    })
    a, b = PART_WORDS
    types = np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"])
    retail = np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [
            f"{a[i]} {b[j]}"
            for i, j in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": retail,
    })
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": cents(1000.0, 500_000.0, n_ord),
        "o_orderdate": day("1995-01-01", n_ord, 2404),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)],
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    partkey = rng.integers(0, n_part, n_line)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": partkey,
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[partkey] * rng.uniform(0.9, 1.1, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": day("1995-01-02", n_line, 2498),
    })
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, n_evt))
    t["events"] = pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": pa.array(
            np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]")
        ),
        "user_id": rng.integers(0, max(1, n_cust // 10), n_evt),
        "event_type": np.array(["click", "view", "purchase", "signup", "error"])[
            rng.integers(0, 5, n_evt)
        ],
        "value": np.round(rng.exponential(50.0, n_evt) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            # near duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_words = int(rng.integers(10, 100))
            texts.append(" ".join(VOCAB[w] for w in rng.integers(0, len(VOCAB), n_words)))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] * 0.15 + rng.normal(0.0, 1.0, (n_vecs, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return t


def ensure_data(out_dir: Path, scale: float = SCALE) -> Path:
    """Write the tables under ``out_dir`` unless a complete copy exists.

    Writes into a sibling temp directory and renames it into place, so an
    interrupted build never leaves a half-written dataset behind."""
    import pyarrow.parquet as pq

    if (out_dir / "_COMPLETE").exists():
        return out_dir
    tmp = out_dir.with_name(out_dir.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    for name, table in _tables(scale).items():
        pq.write_table(table, tmp / f"{name}.parquet")
    (tmp / "_COMPLETE").write_text(f"seed={DATA_SEED} scale={scale}\n")
    shutil.rmtree(out_dir, ignore_errors=True)
    tmp.rename(out_dir)
    return out_dir


if __name__ == "__main__":
    ensure_data(Path(sys.argv[1]))
