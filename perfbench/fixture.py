"""Seeded gate fixture for the `gates` workload.

Writes the four tables the benchmark's gates read (lineitem, supplier,
documents, embeddings) as single-file parquet, with the schemas and value
shapes of the engine's TPC-H-style test fixtures:

- supplier names are `Supplier#<9 digits>`, so names one digit apart pair
  under edit distance 1;
- lineitem links suppliers to parts uniformly (the pageRank graph);
- documents draw words from a 30-word vocabulary; 5% are near-copies of an
  earlier document with `dup` appended and a few are exact copies;
- embeddings are unit Gaussian vectors in 64 dimensions with one of ten
  labels.

`SIZES` holds the row counts: `bench` is the workload's input, a little
below the 0.01 scale factor; `tiny` is the self-test's.
"""

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]

SIZES = {
    "bench": {"lineitem": 20_000, "supplier": 100, "part": 2_000,
              "documents": 120, "embeddings": 300},
    "tiny": {"lineitem": 6_000, "supplier": 10, "part": 200,
             "documents": 60, "embeddings": 100},
}


def documents(rng, n):
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(i))] + " dup")
        elif i > 10 and r < 0.0516:
            texts.append(texts[int(rng.integers(i))])
        else:
            words = rng.choice(VOCAB, size=int(rng.integers(10, 101)))
            texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P).tolist()),
        "source": pa.array([f"src{i % 5}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def embeddings(rng, n, dim=64, labels=10):
    v = rng.standard_normal((n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.astype(np.float32).ravel())
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)), flat),
        "label": pa.array(rng.integers(0, labels, size=n).astype(np.int32)),
    })


def supplier(rng, n):
    keys = np.arange(n, dtype=np.int64)
    return pa.table({
        "s_suppkey": pa.array(keys),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in keys]),
        "s_nationkey": pa.array(rng.integers(0, 25, size=n).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, size=n), 2)),
    })


def lineitem(rng, n, suppliers, parts):
    orders = np.sort(rng.integers(0, max(1, n // 4), size=n)).astype(np.int64)
    return pa.table({
        "l_orderkey": pa.array(orders),
        "l_partkey": pa.array(rng.integers(0, parts, size=n).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, suppliers, size=n).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, size=n).astype(np.int32)),
    })


def generate(seed, out_dir, size):
    """Writes the fixture of SIZES[size]; returns {table: rows}."""
    n = SIZES[size]
    rng = np.random.default_rng(seed)
    tables = {
        "supplier": supplier(rng, n["supplier"]),
        "lineitem": lineitem(rng, n["lineitem"], n["supplier"], n["part"]),
        "documents": documents(rng, n["documents"]),
        "embeddings": embeddings(rng, n["embeddings"]),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
