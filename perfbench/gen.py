"""Seeded input generators for the benchmark workloads.

The same seed gives byte-identical inputs; a different seed keeps every
size and duplication factor and changes only the values and the id
permutation, so timings stay comparable across seeds.

- ``make_csv_etl``: ``people.csv`` / ``stock.csv`` / ``orders.csv`` in the
  reference's generator shape (people = names x surnames, a small stock
  list, random orders with a timestamp), scaled up. A fixed share of
  orders is re-submitted under the same ``order_id`` with a later
  timestamp, so ``resolve_duplicates`` has packs to resolve.
- ``make_dedup_graph``: ``documents.parquet`` / ``embeddings.parquet`` with
  the schema of the repository's test tables. Every distinct text and vector appears
  ``DUP_FACTOR`` times under a seeded id permutation, and a share of the
  texts get a one-word near-duplicate, so the dedup operators have
  exact and near-duplicate work to find.
"""

from __future__ import annotations

import csv
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

NAMES = ["Amelia", "Oliver", "Isla", "Jack", "Ava", "Harry", "Mia", "Jacob",
         "Lily", "George", "Emily", "Noah", "Sophie", "Leo", "Grace", "Oscar",
         "Ella", "Charlie", "Chloe", "Thomas"]
SURNAMES = ["Smith", "Jones", "Taylor", "Brown", "Williams", "Wilson",
            "Johnson", "Davies", "Robinson", "Wright", "Thompson", "Evans",
            "Walker", "White", "Roberts", "Green", "Hall", "Wood", "Jackson",
            "Clarke", "Moore", "Martin", "King", "Hill", "Lee"]

#: each distinct document text / vector appears this many times
DUP_FACTOR = 4

WORDS = ("query row stream the spark line small fast group customer batch "
         "sort value hash filter big data dup part column order scan a slow "
         "agg key window table merge vector join").split()
LANGS = ["en", "zh", "de", "fr", "es"]
DIM = 64

#: rows per unit of ``scale``
CSV_PEOPLE_COPIES = 8       # people = names x surnames x copies
CSV_STOCK = 120
CSV_ORDERS = 20_000
CSV_RESUBMIT_FRAC = 0.02
DOCS_DISTINCT = 250
VECS_DISTINCT = 250


def _write_csv(path: str, header: list[str], rows) -> None:
    with open(path, "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(header)
        w.writerows(rows)


def make_csv_etl(out: str, seed: int, scale: float = 1.0) -> dict:
    """Write the three CSV inputs of ``csv_etl``; return their stats."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)

    people = []
    for c in range(CSV_PEOPLE_COPIES):
        for i, name in enumerate(NAMES):
            for j, surname in enumerate(SURNAMES):
                pid = (c * len(NAMES) + i) * len(SURNAMES) + j
                people.append((pid, name, surname, 1916 + int(rng.integers(90))))
    _write_csv(os.path.join(out, "people.csv"),
               ["id", "name", "surname", "born"], people)

    n_stock = max(8, int(CSV_STOCK * min(scale, 1.0)))
    stock = [(p, f"item{p:04d}", f"{int(rng.integers(1, 10000)) / 100:.2f}")
             for p in range(n_stock)]
    _write_csv(os.path.join(out, "stock.csv"),
               ["prod_id", "product", "price"], stock)

    n = max(100, int(CSV_ORDERS * scale))
    cust = rng.integers(0, len(people), n)
    prod = rng.integers(0, n_stock, n)
    qty = rng.integers(1, 101, n)
    secs = rng.integers(0, 100_000, n)
    # re-submissions: same order_id, strictly later timestamp, new qty
    n_re = int(n * CSV_RESUBMIT_FRAC)
    re_of = rng.choice(n, n_re, replace=False)
    re_qty = rng.integers(1, 101, n_re)
    re_secs = secs[re_of] + rng.integers(1, 1000, n_re)
    ids = np.concatenate([np.arange(n), re_of])
    cust = np.concatenate([cust, cust[re_of]])
    prod = np.concatenate([prod, prod[re_of]])
    qty = np.concatenate([qty, re_qty])
    secs = np.concatenate([secs, re_secs])
    order = rng.permutation(len(ids))
    base = np.datetime64("2024-01-01T00:00:00")
    ts = np.datetime_as_string(base + secs.astype("timedelta64[s]"))
    _write_csv(os.path.join(out, "orders.csv"),
               ["order_id", "cust_id", "prod_id", "qty", "ts"],
               ((int(ids[k]), int(cust[k]), int(prod[k]), int(qty[k]),
                 ts[k] + "Z") for k in order))
    rows = {"people": len(people), "stock": n_stock, "orders": len(ids)}
    return {"rows": rows,
            "bytes": {t: os.path.getsize(os.path.join(out, f"{t}.csv"))
                      for t in rows},
            "dup_factor": {"orders": round(len(ids) / n, 4)}}


def make_dedup_graph(out: str, seed: int, scale: float = 1.0) -> dict:
    """Write ``documents.parquet`` and ``embeddings.parquet``; return
    their stats."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)

    n_docs = max(8, int(DOCS_DISTINCT * scale))
    texts = []
    for _ in range(n_docs):
        words = list(rng.choice(WORDS, int(rng.integers(10, 101))))
        if texts and rng.random() < 0.2:
            # near-duplicate of an earlier text: one word replaced
            words = texts[int(rng.integers(len(texts)))].split()
            words[int(rng.integers(len(words)))] = str(rng.choice(WORDS))
        texts.append(" ".join(words))
    docs = [t for t in texts for _ in range(DUP_FACTOR)]
    doc_ids = rng.permutation(len(docs))
    lang = rng.choice(LANGS, len(docs))
    source = rng.integers(0, 20, len(docs))
    pq.write_table(pa.table({
        "doc_id": pa.array(doc_ids, pa.int64()),
        "text": pa.array(docs, pa.string()),
        "lang": pa.array(lang.tolist(), pa.string()),
        "source": pa.array([f"src{s}" for s in source], pa.string()),
        "n_chars": pa.array([len(t) for t in docs], pa.int64()),
    }), os.path.join(out, "documents.parquet"))

    n_vecs = max(8, int(VECS_DISTINCT * scale))
    vecs = rng.standard_normal((n_vecs, DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_vecs)
    rep = np.repeat(np.arange(n_vecs), DUP_FACTOR)
    vec_ids = rng.permutation(len(rep))
    pq.write_table(pa.table({
        "vec_id": pa.array(vec_ids, pa.int64()),
        "embedding": pa.array([vecs[r].tolist() for r in rep],
                              pa.list_(pa.float32())),
        "label": pa.array(labels[rep], pa.int32()),
    }), os.path.join(out, "embeddings.parquet"))

    rows = {"documents": len(docs), "embeddings": len(rep)}
    return {"rows": rows,
            "bytes": {t: os.path.getsize(os.path.join(out, f"{t}.parquet"))
                      for t in rows},
            "dup_factor": {"documents": DUP_FACTOR, "embeddings": DUP_FACTOR}}
