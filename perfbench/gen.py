"""Seeded input generators: TPC-H-shaped tables and a text corpus.

Everything here is a pure function of ``(seed, scale)`` — the same seed
writes byte-identical parquet — so a run's inputs are reproducible while
different seeds vary the values, not the shapes.  Row counts follow the
sf0.1 layout scaled by ``scale`` (1.0 = lineitem 600k rows, orders 150k,
customer 15k, events 100k, embeddings 2k x 64-d, documents 5k).
"""

from __future__ import annotations

import os
from typing import Dict

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF01_ROWS = {
    "lineitem": 600_000,
    "orders": 150_000,
    "customer": 15_000,
    "events": 100_000,
    "embeddings": 2_000,
    "documents": 5_000,
}
EMBED_DIM = 64
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "error", "login", "logout"]
LANGS = ["en", "es", "de", "fr"]
WORDS = (
    "the a fast slow key order sort table scan merge part window small large "
    "hash join batch stream spark query index vector page count filter group "
    "plan stage task shuffle spill cache memo tier route store file footer "
    "row column value token chunk pack split dedup span gram shingle score "
    "model train label text corpus document source lang quality near exact "
    "copy match pair bucket band sketch hll topk rank facet rollup"
).split()

_DAY_US = 86_400 * 1_000_000
_EPOCH_1992_US = 694_224_000 * 1_000_000  # 1992-01-01
_EPOCH_2024_US = 1_704_067_200 * 1_000_000  # 2024-01-01


#: documents are scaled down further: every ``search`` call re-embeds the
#: whole collection in a Python UDF, so its cost grows with this table
DOCUMENTS_SHARE = 0.2


def table_rows(scale: float) -> Dict[str, int]:
    n = {t: max(int(n * scale), 50) for t, n in SF01_ROWS.items()}
    n["documents"] = max(int(n["documents"] * DOCUMENTS_SHARE), 50)
    return n


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _write(tbl: pa.Table, path: str) -> str:
    pq.write_table(tbl, path, row_group_size=1 << 20)
    return path


def make_tables(seed: int, scale: float, out_dir: str) -> Dict[str, str]:
    """Write the six store tables as parquet under ``out_dir``; returns
    ``{name: path}``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = table_rows(scale)
    paths = {}

    nc = n["customer"]
    paths["customer"] = _write(pa.table({
        "c_custkey": np.arange(nc, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc, dtype="int32"),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
    }), os.path.join(out_dir, "customer.parquet"))

    no = n["orders"]
    paths["orders"] = _write(pa.table({
        "o_orderkey": np.arange(no, dtype="int64"),
        "o_custkey": rng.integers(0, nc, no, dtype="int64"),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(850.0, 500_000.0, no), 2),
        "o_orderdate": _ts(_EPOCH_1992_US + rng.integers(0, 2400, no) * _DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
    }), os.path.join(out_dir, "orders.parquet"))

    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype("float64")
    ship = _EPOCH_1992_US + rng.integers(0, 2526, nl) * _DAY_US
    paths["lineitem"] = _write(pa.table({
        "l_orderkey": rng.integers(0, no, nl, dtype="int64"),
        "l_partkey": rng.integers(0, max(nl // 30, 1), nl, dtype="int64"),
        "l_suppkey": rng.integers(0, max(nl // 600, 1), nl, dtype="int64"),
        "l_linenumber": rng.integers(1, 8, nl, dtype="int32"),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _ts(ship),
    }), os.path.join(out_dir, "lineitem.parquet"))

    ne = n["events"]
    paths["events"] = _write(pa.table({
        "event_id": np.arange(ne, dtype="int64"),
        "ts": _ts(_EPOCH_2024_US + np.sort(rng.integers(0, 30 * _DAY_US, ne))),
        "user_id": rng.zipf(1.3, ne).clip(max=max(ne // 10, 1)).astype("int64"),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 6, ne)],
        "value": np.round(rng.exponential(100.0, ne), 2),
        "props": [f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, ne)],
    }), os.path.join(out_dir, "events.parquet"))

    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, EMBED_DIM)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    paths["embeddings"] = _write(pa.table({
        "vec_id": np.arange(nv, dtype="int64"),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel()), EMBED_DIM
        ).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, nv, dtype="int32"),
    }), os.path.join(out_dir, "embeddings.parquet"))

    paths["documents"] = _write(
        _documents(rng, n["documents"]), os.path.join(out_dir, "documents.parquet")
    )
    return paths


def _sentence(rng, n_words: int) -> str:
    return " ".join(np.array(WORDS)[rng.integers(0, len(WORDS), n_words)])


def _documents(rng, n: int) -> pa.Table:
    texts = [_sentence(rng, int(k)) for k in rng.integers(12, 60, n)]
    return pa.table({
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n)],
        "source": [f"src{int(s)}" for s in rng.integers(0, 8, n)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })


#: declared corpus composition: shares of the generated documents that are
#: exact copies of an earlier document, near copies (one word of a 32-160
#: word document changed), and new text
CORPUS_SHARES = {"exact_dup": 0.10, "near_dup": 0.10, "new": 0.80}


def make_corpus(seed: int, n_docs: int, out_path: str) -> Dict[str, int]:
    """Write a seeded corpus of ``n_docs`` documents with the declared
    duplicate shares; returns the generated counts per share, the number
    of distinct texts and the number of identical-text document pairs."""
    rng = np.random.default_rng(seed)
    n_exact = int(n_docs * CORPUS_SHARES["exact_dup"])
    n_near = int(n_docs * CORPUS_SHARES["near_dup"])
    n_new = n_docs - n_exact - n_near
    base = [
        ". ".join(_sentence(rng, int(k)) for k in rng.integers(8, 20, int(s)))
        for s in rng.integers(4, 8, n_new)
    ]
    texts = list(base)
    for i in rng.integers(0, n_new, n_exact):
        texts.append(base[int(i)])
    for i in rng.integers(0, n_new, n_near):
        words = base[int(i)].split(" ")
        j = int(rng.integers(0, len(words)))
        words[j] = "variant" + str(int(rng.integers(0, 1_000_000)))
        texts.append(" ".join(words))
    copies: Dict[str, int] = {}
    for t in texts:
        copies[t] = copies.get(t, 0) + 1
    exact_pairs = sum(m * (m - 1) // 2 for m in copies.values())
    order = rng.permutation(len(texts))
    texts = [texts[int(i)] for i in order]
    pq.write_table(pa.table({
        "doc_id": np.arange(len(texts), dtype="int64"),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), len(texts))],
        "source": [f"src{int(s)}" for s in rng.integers(0, 8, len(texts))],
    }), out_path)
    return {"exact_dup": n_exact, "near_dup": n_near, "new": n_new,
            "distinct_texts": len(copies), "exact_pairs": exact_pairs}
