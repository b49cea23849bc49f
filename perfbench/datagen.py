"""Seeded generator for the benchmark's base tables.

Writes the ten catalog tables (``catalog.TABLES``) as single-row-group
parquet files with the same schemas, key ranges and value grids as the
engine's test data, so every registered query and its DuckDB oracle run on
them unchanged. The test data's parquet column types are pinned in
``expected.json`` (timestamps are TIMESTAMP(MICROS), not adjusted to UTC;
the pandas metadata in those files names other units, which neither Spark
nor DuckDB reads), and ``check_schemas`` fails preparation if a generated
table departs from them. Sizes follow the scale factor: lineitem has 6M x sf rows.

Near-duplicate structure is planted on purpose: a share of the documents
are exact or few-word-edited copies of earlier ones, so the dedup, LSH and
crawl paths do real verification work.

    python3 perfbench/datagen.py <out_dir> <sf> [seed]
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "es", "zh", "de", "fr")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")
PART_ADJ = ("large", "hot", "blue", "old", "cold", "red", "small", "green")
PART_NOUN = ("ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "nut")
EMB_DIM = 64
N_LABELS = 10

_DAY_US = 86_400_000_000
_EPOCH_1995 = 788_918_400_000_000  # 1995-01-01T00:00:00Z in µs
_EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in µs


def table_sizes(sf: float) -> dict[str, int]:
    return {
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "users": max(150, int(15_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform values on a cent grid (the engine's fixed-point sums rely on
    two-decimal money)."""
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _ts_us(values: np.ndarray) -> pa.Array:
    return pa.array(values.astype(np.int64), type=pa.timestamp("us"))


def random_text(rng: np.random.Generator, lo: int = 8, hi: int = 100) -> str:
    return " ".join(rng.choice(VOCAB, int(rng.integers(lo, hi + 1))))


def near_copy(rng: np.random.Generator, text: str, edits: int = 2) -> str:
    """A few-word edit of ``text``: long shingle runs survive, so MinHash
    LSH pairs it with the original and the Jaccard check passes."""
    words = text.split()
    for _ in range(edits):
        words[int(rng.integers(len(words)))] = str(rng.choice(VOCAB))
    return " ".join(words)


def documents(rng: np.random.Generator, n: int, start_id: int = 0,
              exact_share: float = 0.01, near_share: float = 0.04) -> list[str]:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if texts and r < exact_share:
            texts.append(texts[int(rng.integers(len(texts)))])
        elif texts and r < exact_share + near_share:
            src = texts[int(rng.integers(len(texts)))]
            texts.append(near_copy(rng, src) if len(src.split()) >= 20 else src)
        else:
            texts.append(random_text(rng))
    return texts


def unit_vectors(rng: np.random.Generator, labels: np.ndarray,
                 centers: np.ndarray) -> np.ndarray:
    x = rng.normal(0.0, 1.0, (len(labels), EMB_DIM)) + centers[labels]
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return x.astype(np.float32)


def label_centers(rng: np.random.Generator) -> np.ndarray:
    return rng.normal(0.0, 0.6, (N_LABELS, EMB_DIM))


def _write(out_dir: str, name: str, cols: dict[str, pa.Array]) -> None:
    table = pa.table(cols)
    tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
    pq.write_table(table, tmp, compression="snappy", row_group_size=len(table) or 1)
    os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))


def parquet_schema(path: str) -> list[str]:
    """A file's columns as "path physical-type logical-type" strings."""
    return [f"{c.path} {c.physical_type} {c.logical_type}"
            for c in pq.ParquetFile(path).schema]


def check_schemas(out_dir: str, pinned: dict[str, list[str]]) -> None:
    for name, want in pinned.items():
        got = parquet_schema(os.path.join(out_dir, f"{name}.parquet"))
        if got != want:
            raise ValueError(f"{name}.parquet schema {got} != pinned {want}")


def generate(out_dir: str, sf: float, seed: int = 42) -> None:
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = table_sizes(sf)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    nc = n["customer"]
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, nc)]),
    })
    ns = n["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
    })
    npart = n["part"]
    names = [f"{a} {b}" for a, b in zip(
        np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), npart)],
        np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), npart)],
    )]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
        "p_name": pa.array(names),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, npart)]),
        "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 2)),
    })
    no = n["orders"]
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["O", "F", "P"])[rng.integers(0, 3, no)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
        "o_orderdate": _ts_us(_EPOCH_1995 + rng.integers(0, 2404, no) * _DAY_US),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, no)]),
    })
    nl = n["lineitem"]
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, npart, nl).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, nl)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, nl)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, nl)]),
        "l_shipdate": _ts_us(_EPOCH_1995 + rng.integers(1, 2500, nl) * _DAY_US),
    })
    ne = n["events"]
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": _ts_us(_EPOCH_2024 + np.sort(rng.integers(0, 30 * _DAY_US, ne))),
        "user_id": pa.array(rng.integers(0, n["users"], ne).astype(np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, ne)]),
        "value": pa.array(np.round(rng.exponential(50.0, ne), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    })
    nd = n["documents"]
    texts = documents(rng, nd)
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, nd, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(nd)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    nv = n["embeddings"]
    labels = rng.integers(0, N_LABELS, nv)
    vecs = unit_vectors(rng, labels, label_centers(rng))
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]) if len(sys.argv) > 3 else 42)
