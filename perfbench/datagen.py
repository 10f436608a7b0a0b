"""Seeded inputs for the benchmark.

Everything the engine sees is generated here from ``--seed``: the ten base
tables (same schemas as the engine's TPC-H-style test tables), and for
``online_mixed`` the point-op sequence and the micro-batch split.
The same seed always gives byte-identical inputs.

Row counts scale with ``sf`` the way the reference tables do (sf 0.001 has
6k lineitem rows, 1.5k orders, 150 customers, 10 suppliers, 200 parts).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["small", "large", "red", "blue", "old", "new", "hot", "cold"]
_NOUN = ["widget", "bolt", "gear", "gizmo", "ring", "plate", "anvil", "nut"]
_PTYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]
_WORDS = (
    "join hash row batch scan column customer filter small slow merge order"
    " vector line table data agg value key stream window a spark part group"
    " big sort query fast the"
).split()

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = 788_918_400 * 1_000_000  # 1995-01-01T00:00:00Z in µs
_EPOCH_2024 = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z in µs


def _days(rng: np.random.Generator, n: int, span_days: int) -> pa.Array:
    us = _EPOCH_1995 + rng.integers(0, span_days, n) * _DAY_US
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten base tables for one seed at scale ``sf``."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(30, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(40, int(200_000 * sf))
    n_ord = max(300, int(1_500_000 * sf))
    n_ev = max(500, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = 500 if sf <= 0.05 else 5000
    n_emb = 500 if sf <= 0.05 else 2000

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [
            f"{_ADJ[a]} {_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [_PTYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, n_ord, 2404),
        "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    })
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    t["lineitem"] = pa.table({
        "l_orderkey": np.repeat(np.arange(n_ord, dtype=np.int64), lines),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(np.arange(n_li) - starts + 1, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("R", "A", "N")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, n_li, 2499),
    })
    ts = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2) + 0.01,
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)],
    })
    texts = make_texts(rng, n_docs)
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.integers(0, len(_LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_emb)
    centroids = rng.normal(size=(10, 64))
    vecs = rng.normal(size=(n_emb, 64)) + 0.15 * centroids[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


NEAR_COPY_SUFFIX = " dup"  # "dup" is not in _WORDS


def make_texts(rng: np.random.Generator, n: int, dup_share: float = 0.05) -> list[str]:
    """Bag-of-words documents; about ``dup_share`` of them repeat an earlier
    document with a trailing ``dup`` token (near-duplicates for dedup)."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < dup_share:
            texts.append(texts[int(rng.integers(0, i))] + NEAR_COPY_SUFFIX)
        else:
            words = rng.integers(0, len(_WORDS), int(rng.integers(10, 100)))
            texts.append(" ".join(_WORDS[w] for w in words))
    return texts


def text_root(text: str) -> str:
    """The generated text a document was copied from: ``text`` without its
    near-copy suffixes. Two documents are copies of each other exactly when
    their roots are equal."""
    while text.endswith(NEAR_COPY_SUFFIX):
        text = text[: -len(NEAR_COPY_SUFFIX)]
    return text


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# -- online_mixed: point ops ------------------------------------------------

# One block of point ops; every block holds exactly these counts, shuffled
# by the seed, so blocks of different seeds carry the same work mix.
POINT_BLOCK = {
    "node": 50,
    "has_edge": 43,
    "neighbors": 1,
    "predecessors": 1,
    "add_edge": 3,
    "remove_edge": 2,
}
READ_OPS = ("node", "has_edge", "neighbors", "predecessors")
WRITE_OPS = ("add_edge", "remove_edge")


def zipf_ranks(rng: np.random.Generator, n_items: int, size: int, s: float = 1.1) -> np.ndarray:
    """``size`` draws from a Zipf(s) law truncated to ``n_items`` ranks."""
    w = 1.0 / np.arange(1, n_items + 1) ** s
    return rng.choice(n_items, size=size, p=w / w.sum())


def point_blocks(
    seed: int, n_blocks: int, src_keys: list[str], dst_keys: list[str]
) -> list[list[tuple[str, str, str]]]:
    """``n_blocks`` blocks of ``(op, a, b)`` tuples.

    Each block starts with its writes, then its reads in a seed-shuffled
    order, so every block (the first one too) reads after a write. Keys are
    Zipf-skewed over a seed-shuffled key order, so the hot keys differ
    between seeds. ``node``/``neighbors`` take a source key,
    ``predecessors`` a destination key, and edge ops a (source,
    destination) pair; ``remove_edge`` targets are chosen at run time from
    the live edge set (the benchmark's own model), so none fails.
    """
    rng = np.random.default_rng([seed, 2])
    srcs = [src_keys[i] for i in rng.permutation(len(src_keys))]
    dsts = [dst_keys[i] for i in rng.permutation(len(dst_keys))]
    per_block = sum(POINT_BLOCK.values())
    s_idx = iter(zipf_ranks(rng, len(srcs), n_blocks * per_block).tolist())
    d_idx = iter(zipf_ranks(rng, len(dsts), n_blocks * per_block).tolist())
    writes = [op for op in WRITE_OPS for _ in range(POINT_BLOCK[op])]
    reads = [op for op in READ_OPS for _ in range(POINT_BLOCK[op])]
    blocks = []
    for _ in range(n_blocks):
        block = []
        for op in writes + [reads[i] for i in rng.permutation(len(reads))]:
            a, b = srcs[next(s_idx)], dsts[next(d_idx)]
            block.append((op, b if op == "predecessors" else a, b))
        blocks.append(block)
    return blocks


# -- online_mixed: micro-batches --------------------------------------------


def batch_split(seed: int, n_rows: int, n_batches: int) -> np.ndarray:
    """Batch number of every input row: a seeded shuffle cut into
    ``n_batches`` equal parts."""
    rng = np.random.default_rng([seed, 3])
    out = np.empty(n_rows, dtype=np.int64)
    out[rng.permutation(n_rows)] = np.arange(n_rows) * n_batches // n_rows
    return out
