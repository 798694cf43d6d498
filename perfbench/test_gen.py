"""The input generator is a pure function of the seed.

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402


def _files(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = f.read()
    return out


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, workload):
    make = gen.GENERATORS[workload]
    a = make(7, str(tmp_path / "a"))
    b = make(7, str(tmp_path / "b"))
    c = make(8, str(tmp_path / "c"))
    fa, fb, fc = (_files(str(tmp_path / x)) for x in "abc")
    assert fa and fa == fb
    assert fa.keys() == fc.keys()
    assert all(fa[k] != fc[k] for k in fa)
    strip = lambda m: {k: v for k, v in m.items() if not isinstance(v, str)}  # noqa: E731
    assert strip(a) == strip(b)


def test_corpus_planted_rows_are_present(tmp_path):
    import pyarrow.parquet as pq

    inp = gen.corpus_batch_inputs(3, str(tmp_path / "c"))
    docs = pq.read_table(inp["documents"]).to_pydict()
    text = dict(zip(docs["doc_id"], docs["text"]))
    assert len(text) == inp["n_docs"]
    for copy, orig in inp["exact_copies"]:
        assert text[copy] == text[orig]
    for copy, orig in inp["near_copies"]:
        assert text[copy].startswith(text[orig] + " ")
    assert len(set(text[i] for i in range(gen.CORPUS_DOCS))) == gen.CORPUS_DOCS
    vecs = pq.read_table(inp["embeddings"]).to_pydict()
    emb = dict(zip(vecs["vec_id"], vecs["embedding"]))
    assert len(emb) == inp["n_vecs"]
    for copy, orig in inp["vec_copies"]:
        assert emb[copy] == emb[orig]
    queries = pq.read_table(inp["queries"]).to_pydict()
    assert queries["vec_id"] == [q for q, _ in inp["planted_nn"]]
