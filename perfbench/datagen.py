"""Deterministic synthetic tables for the benchmark.

Writes the table set the registry reads (TPC-H-shaped star schema plus
``events``, ``documents`` and ``embeddings``) as one parquet file per
table. Row counts, value domains and vocabularies follow the fixture
the registry and its DuckDB oracles were written against, so every
query template sees the same selectivities. The data depends only on
``sf`` and a fixed generator seed; the benchmark's ``--seed`` never
changes it.

    python3 perfbench/datagen.py OUT_DIR SF
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EMB_DIM = 64


def _day(s: str) -> int:
    return int(np.datetime64(s, "D").astype(np.int64))


def _dates(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype("datetime64[D]").astype("datetime64[us]"))


def _write(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(out: str, sf: float) -> None:
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(DATA_SEED)
    n_cust = int(150_000 * sf)
    n_supp = max(int(10_000 * sf), 10)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_doc = max(int(50_000 * sf), 500)
    n_emb = max(int(20_000 * sf), 500)

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32()),
    })

    ck = np.arange(n_cust, dtype=np.int64)
    _write(out, "customer", {
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })

    sk = np.arange(n_supp, dtype=np.int64)
    _write(out, "supplier", {
        "s_suppkey": sk,
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })

    pk = np.arange(n_part, dtype=np.int64)
    retail = np.round(900.0 + (pk % 1000) * 0.1, 2)
    _write(out, "part", {
        "p_partkey": pk,
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": retail,
    })

    ok = np.arange(n_ord, dtype=np.int64)
    odate = rng.integers(_day("1995-01-01"), _day("2001-08-01") + 1, n_ord)
    _write(out, "orders", {
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _dates(odate),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })

    lines = rng.integers(1, 8, n_ord)
    l_ord = np.repeat(ok, lines)
    n_li = len(l_ord)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    l_num = (np.arange(n_li) - starts + 1).astype(np.int32)
    l_part = rng.integers(0, n_part, n_li).astype(np.int64)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    perm = rng.permutation(n_li)  # row order carries no key clustering
    _write(out, "lineitem", {
        "l_orderkey": l_ord[perm],
        "l_partkey": l_part[perm],
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64)[perm],
        "l_linenumber": l_num[perm],
        "l_quantity": qty[perm],
        "l_extendedprice": np.round(qty * retail[l_part], 2)[perm],
        "l_discount": (rng.integers(0, 11, n_li) / 100.0)[perm],
        "l_tax": (rng.integers(0, 9, n_li) / 100.0)[perm],
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)][perm],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)][perm],
        "l_shipdate": _dates(np.repeat(odate, lines)[perm] + rng.integers(1, 122, n_li)),
    })

    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86_400 * 1_000_000
    ts = np.sort(t0 + rng.integers(0, span, n_ev))
    _write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": rng.integers(0, max(int(n_ev * 0.015), 2), n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(np.maximum(rng.exponential(50.0, n_ev), 0.01), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })

    texts: list[str] = []
    for i in range(n_doc):
        if i > 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document: one word swapped
            # and a marker token appended
            base = texts[int(rng.integers(0, i))].split()
            base[int(rng.integers(0, len(base)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(base + ["dup"]))
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), n)]))
    _write(out, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, EMB_DIM))
    vecs = rng.normal(0.0, 1.0, (n_emb, EMB_DIM)) + 0.15 * centers[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })


def ensure(root: str, sf: float) -> str:
    """Generate ``root/sf<sf>`` once; a marker file makes reruns free."""
    out = os.path.join(root, f"sf{sf:g}")
    marker = os.path.join(out, "_COMPLETE")
    if not os.path.exists(marker):
        generate(out, sf)
        with open(marker, "w") as fh:
            fh.write(",".join(TABLES))
    return out


if __name__ == "__main__":
    print(ensure(sys.argv[1], float(sys.argv[2])))
