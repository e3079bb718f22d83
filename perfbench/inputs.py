"""Workload inputs, generated from the run's seed.

Each table's content comes from a fixed base generator, so every seed
measures the same amount of the same kind of work. The seed then
permutes row order, offsets the ETL keys and decides where the
small-batch objects are cut. The catalog tables keep their content
and only change row order, so their answers do not depend on the seed.

Sizes follow the TPC-H-like tables of the engine's test data:
``lineitem`` and ``orders`` at a scale factor, ``documents`` and
``embeddings`` at fixed counts.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_BASE_SEED = 20_201_016
_DAY_US = 86_400 * 1_000_000
_EPOCH_1992 = 694_224_000 * 1_000_000  # 1992-01-01 in unix microseconds
_VOCAB = (
    "query row stream the spark line small fast group customer batch "
    "sort value hash filter big data part column order scan a slow agg "
    "key window table merge vector join"
).split()
_LANGS = np.array(["en", "zh", "de", "fr", "es"], dtype=object)
_LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def lineitem(n_rows: int, seed: int) -> pa.Table:
    """TPC-H ``lineitem`` columns: int64, int32, double, string and
    timestamp. The seed shuffles rows and offsets ``l_orderkey``."""
    r = np.random.default_rng(_BASE_SEED)
    order = np.arange(n_rows, dtype=np.int64) // 4
    t = {
        "l_orderkey": order,
        "l_partkey": r.integers(1, 20_000, n_rows, dtype=np.int64),
        "l_suppkey": r.integers(1, 1_000, n_rows, dtype=np.int64),
        "l_linenumber": (np.arange(n_rows) % 4 + 1).astype(np.int32),
        "l_quantity": r.integers(1, 51, n_rows).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105_000.0, n_rows),
        "l_discount": r.integers(0, 11, n_rows) / 100.0,
        "l_tax": r.integers(0, 9, n_rows) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"], dtype=object)[
            r.integers(0, 3, n_rows)],
        "l_linestatus": np.array(["F", "O"], dtype=object)[
            r.integers(0, 2, n_rows)],
        "l_shipdate": _EPOCH_1992 + r.integers(0, 2_500, n_rows) * _DAY_US,
    }
    s = np.random.default_rng(seed)
    perm = s.permutation(n_rows)
    t = {k: v[perm] for k, v in t.items()}
    t["l_orderkey"] = t["l_orderkey"] + int(s.integers(0, 1 << 40))
    return _table(t, ts_cols=("l_shipdate",))


def orders(n_rows: int, seed: int) -> pa.Table:
    """TPC-H ``orders``; the seed shuffles rows and offsets keys."""
    r = np.random.default_rng(_BASE_SEED + 1)
    t = {
        "o_orderkey": np.arange(n_rows, dtype=np.int64),
        "o_custkey": r.integers(1, 15_000, n_rows, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"], dtype=object)[
            r.integers(0, 3, n_rows)],
        "o_totalprice": _money(r, 800.0, 550_000.0, n_rows),
        "o_orderdate": _EPOCH_1992 + r.integers(0, 2_500, n_rows) * _DAY_US,
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            dtype=object)[r.integers(0, 5, n_rows)],
    }
    s = np.random.default_rng(seed)
    perm = s.permutation(n_rows)
    t = {k: v[perm] for k, v in t.items()}
    t["o_orderkey"] = t["o_orderkey"] + int(s.integers(0, 1 << 40))
    return _table(t, ts_cols=("o_orderdate",))


def split_points(n_rows: int, n_parts: int, seed: int) -> list[int]:
    """Cut ``n_rows`` into ``n_parts`` non-empty runs of uneven length
    (each within 20% of the mean); returns the ``n_parts + 1`` bounds."""
    s = np.random.default_rng(seed + 7)
    weights = s.uniform(0.8, 1.2, n_parts)
    bounds = np.round(np.cumsum(weights) / weights.sum() * n_rows).astype(int)
    return [0] + bounds.tolist()


def documents(n_docs: int, seed: int) -> pa.Table:
    """Bag-of-words documents over a 31-word vocabulary, with a share
    of exact copies and one-word near-duplicates for the dedup and
    passage-graph queries. The seed permutes row order only."""
    r = np.random.default_rng(_BASE_SEED + 2)
    texts: list[str] = []
    for i in range(n_docs):
        roll = r.random()
        if i > 10 and roll < 0.004:
            texts.append(texts[int(r.integers(0, i))])
        elif i > 10 and roll < 0.03:
            words = texts[int(r.integers(0, i))].split(" ")
            words[int(r.integers(0, len(words)))] = "dup"
            texts.append(" ".join(words))
        else:
            n = int(r.integers(10, 101))
            texts.append(" ".join(r.choice(_VOCAB, n)))
    t = {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": np.array(texts, dtype=object),
        "lang": _LANGS[r.choice(5, n_docs, p=_LANG_P)],
        "source": np.array([f"src{i % 20}" for i in range(n_docs)],
                           dtype=object),
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    }
    perm = np.random.default_rng(seed).permutation(n_docs)
    return _table({k: v[perm] for k, v in t.items()})


def embeddings(n_vecs: int, seed: int, dim: int = 64) -> pa.Table:
    """Float vectors around ten label centroids; the seed permutes
    row order only."""
    r = np.random.default_rng(_BASE_SEED + 3)
    labels = r.integers(0, 10, n_vecs).astype(np.int32)
    centroids = r.normal(0.0, 0.1, (10, dim))
    vecs = (centroids[labels] + r.normal(0.0, 0.08, (n_vecs, dim))).astype(
        np.float32)
    perm = np.random.default_rng(seed).permutation(n_vecs)
    vecs, labels = vecs[perm], labels[perm]
    flat = pa.array(vecs.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, (n_vecs + 1) * dim, dim, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)[perm]),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels),
    })


def _table(cols: dict[str, np.ndarray], ts_cols: tuple[str, ...] = ()) -> pa.Table:
    arrays = {}
    for k, v in cols.items():
        if k in ts_cols:
            arrays[k] = pa.array(v, type=pa.timestamp("us"))
        elif v.dtype == object:
            arrays[k] = pa.array(v, type=pa.string())
        else:
            arrays[k] = pa.array(v)
    return pa.table(arrays)


def write_parts(table: pa.Table, out_dir: str, bounds: list[int],
                stem: str) -> list[str]:
    """Write ``table[bounds[i]:bounds[i+1]]`` to one Parquet file each."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i in range(len(bounds) - 1):
        path = os.path.join(out_dir, f"{stem}-{i:03d}.parquet")
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), path)
        paths.append(path)
    return paths


def write_catalog(out_dir: str, n_docs: int, n_vecs: int,
                  seed: int) -> tuple[int, int]:
    """``documents.parquet`` and ``embeddings.parquet`` in ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(documents(n_docs, seed),
                   os.path.join(out_dir, "documents.parquet"))
    pq.write_table(embeddings(n_vecs, seed),
                   os.path.join(out_dir, "embeddings.parquet"))
    return n_docs, n_vecs
