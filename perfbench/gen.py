"""Seeded input generator for the benchmark workloads.

Every input is synthesised from ``--seed`` with ``random.Random``; the
program under test receives only the files written here.  The same
seed writes byte-identical files, a different seed different ones
(``test_gen.py`` pins both).

Sizes (also listed in BENCHMARK.json and README.md):

* ``solution_chain``: a train CSV of ``CHAIN_TRAIN_ROWS`` rows with the
  ``ml_train_table`` columns the registered chain uses (``key``,
  ``c_acctbal``, ``order_year``, ``target``) and a test CSV holding
  every ``CHAIN_TEST_EVERY``-th key without the target.
* ``corpus_batch``: a ``documents`` parquet (``doc_id``, ``text``) of
  ``CORPUS_DOCS`` random-word documents plus planted exact copies and
  near copies (one appended word), and an ``embeddings`` parquet
  (``vec_id``, ``embedding``) of ``CORPUS_VECS`` clustered 32-d vectors
  plus planted exact copies and, for each of the ``CORPUS_QUERIES``
  query vectors, one planted nearest neighbour.
"""

from __future__ import annotations

import math
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

CHAIN_TRAIN_ROWS = 20_000
CHAIN_TEST_EVERY = 10

CORPUS_DOCS = 2_000
CORPUS_EXACT_COPIES = 100
CORPUS_NEAR_COPIES = 100
CORPUS_VECS = 1_500
CORPUS_VEC_COPIES = 30
CORPUS_QUERIES = 20
CORPUS_DIM = 32
CORPUS_CENTROIDS = 16

# Planted rows get ids in their own ranges, far above the originals.
EXACT_COPY_BASE = 1_000_000
NEAR_COPY_BASE = 2_000_000
PLANTED_NN_BASE = 1_000_000
VEC_COPY_BASE = 2_000_000

# Stop words keep part of the corpus above the Gopher stop-word rule;
# the 40-80 word lengths put part of it below the 50-word minimum.
_VOCAB = (
    "the a and of to is data spark line column order small sort fast "
    "value scan hash slow group batch filter query big key window row "
    "part table stream merge vector join customer model train feature "
    "label score fold metric index shard token text corpus cache plan "
    "stage task driver executor memory disk network"
).split()


def _write_parquet(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def solution_chain_inputs(seed: int, out_dir: str) -> dict:
    """Train/test CSV directories for ``build_solution``."""
    rng = random.Random(seed)
    train_dir = os.path.join(out_dir, "train")
    test_dir = os.path.join(out_dir, "test")
    os.makedirs(train_dir)
    os.makedirs(test_dir)
    train_lines = ["key,c_acctbal,order_year,target"]
    test_lines = ["key,c_acctbal,order_year"]
    for key in range(1, CHAIN_TRAIN_ROWS + 1):
        acctbal = round(rng.uniform(-999.99, 9999.99), 2)
        year = rng.randint(1992, 1998)
        logit = acctbal / 3000.0 - 0.5 * (year - 1995) - 0.8
        target = 1 if rng.random() < 1.0 / (1.0 + math.exp(-logit)) else 0
        train_lines.append(f"{key},{acctbal:.2f},{year},{target}")
        if key % CHAIN_TEST_EVERY == 0:
            test_lines.append(f"{key},{acctbal:.2f},{year}")
    with open(os.path.join(train_dir, "part-00000.csv"), "w") as f:
        f.write("\n".join(train_lines) + "\n")
    with open(os.path.join(test_dir, "part-00000.csv"), "w") as f:
        f.write("\n".join(test_lines) + "\n")
    return {
        "train": train_dir,
        "test": test_dir,
        "train_rows": CHAIN_TRAIN_ROWS,
        "test_rows": len(test_lines) - 1,
    }


def _documents(rng: random.Random) -> tuple[list, list, list]:
    texts: list[str] = []
    seen: set[str] = set()
    while len(texts) < CORPUS_DOCS:
        t = " ".join(rng.choice(_VOCAB) for _ in range(rng.randint(40, 80)))
        if t not in seen:  # originals are pairwise distinct
            seen.add(t)
            texts.append(t)
    picked = rng.sample(range(CORPUS_DOCS), CORPUS_EXACT_COPIES + CORPUS_NEAR_COPIES)
    exact = [(EXACT_COPY_BASE + j, i) for j, i in enumerate(picked[:CORPUS_EXACT_COPIES])]
    near = [(NEAR_COPY_BASE + j, i) for j, i in enumerate(picked[CORPUS_EXACT_COPIES:])]
    ids = list(range(CORPUS_DOCS))
    rows = list(texts)
    for cid, i in exact:
        ids.append(cid)
        rows.append(texts[i])
    for cid, i in near:
        ids.append(cid)
        rows.append(texts[i] + " " + rng.choice(_VOCAB))
    return list(zip(ids, rows)), exact, near


def _embeddings(rng: random.Random) -> tuple[list, list, list, list]:
    centroids = [
        [rng.gauss(0.0, 1.0) for _ in range(CORPUS_DIM)]
        for _ in range(CORPUS_CENTROIDS)
    ]
    vecs = [
        [x + rng.gauss(0.0, 0.6) for x in centroids[i % CORPUS_CENTROIDS]]
        for i in range(CORPUS_VECS)
    ]
    shuffled = rng.sample(range(CORPUS_VECS), CORPUS_QUERIES + CORPUS_VEC_COPIES)
    queries = sorted(shuffled[:CORPUS_QUERIES])
    copied = sorted(shuffled[CORPUS_QUERIES:])
    rows = [(i, v) for i, v in enumerate(vecs)]
    planted_nn = []
    for q in queries:
        nid = PLANTED_NN_BASE + q
        rows.append((nid, [x + rng.gauss(0.0, 1e-3) for x in vecs[q]]))
        planted_nn.append((q, nid))
    vec_copies = []
    for j, i in enumerate(copied):
        rows.append((VEC_COPY_BASE + j, list(vecs[i])))
        vec_copies.append((VEC_COPY_BASE + j, i))
    return rows, queries, planted_nn, vec_copies


def corpus_batch_inputs(seed: int, out_dir: str) -> dict:
    """Documents, embeddings and ANN query parquet files plus the
    planted ground truth the output checks use."""
    rng = random.Random(seed)
    os.makedirs(out_dir)
    docs, exact, near = _documents(rng)
    docs_path = os.path.join(out_dir, "documents.parquet")
    _write_parquet(
        pa.table(
            {
                "doc_id": pa.array([d[0] for d in docs], pa.int64()),
                "text": pa.array([d[1] for d in docs], pa.string()),
            }
        ),
        docs_path,
    )
    vec_rows, queries, planted_nn, vec_copies = _embeddings(rng)
    vec_type = pa.list_(pa.float32())
    emb_path = os.path.join(out_dir, "embeddings.parquet")
    _write_parquet(
        pa.table(
            {
                "vec_id": pa.array([r[0] for r in vec_rows], pa.int64()),
                "embedding": pa.array([r[1] for r in vec_rows], vec_type),
            }
        ),
        emb_path,
    )
    by_id = dict(vec_rows)
    queries_path = os.path.join(out_dir, "queries.parquet")
    _write_parquet(
        pa.table(
            {
                "vec_id": pa.array(queries, pa.int64()),
                "embedding": pa.array([by_id[q] for q in queries], vec_type),
            }
        ),
        queries_path,
    )
    return {
        "documents": docs_path,
        "embeddings": emb_path,
        "queries": queries_path,
        "n_docs": len(docs),
        "n_vecs": len(vec_rows),
        "exact_copies": exact,  # [(copy doc_id, original doc_id)]
        "near_copies": near,
        "planted_nn": planted_nn,  # [(query vec_id, planted neighbour vec_id)]
        "vec_copies": vec_copies,  # [(copy vec_id, original vec_id)]
    }


GENERATORS = {
    "solution_chain": solution_chain_inputs,
    "corpus_batch": corpus_batch_inputs,
}
