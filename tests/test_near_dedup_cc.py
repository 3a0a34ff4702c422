"""The corpus pipeline's near-dedup stage clusters by UNDIRECTED
connected components of `dedup_near_minhash`'s pairs.

The planted corpus holds sliding-overlap triples a < b < c where the
MIDDLE text carries the HIGHEST doc_id: (a, c) and (b, c) are near-dup
pairs while the two ends share too little for (a, b) to verify. Labels
that only flow from the smaller id to the larger one along the
``doc1 < doc2`` pair list leave b a cluster of its own there, so the
stage would keep two documents of one component.
"""
import pytest

from industry_big_data_time_sequence_process_spark.operators import (
    pipeline as P)
from industry_big_data_time_sequence_process_spark.registry import REGISTRY
from industry_big_data_time_sequence_process_spark.sources.io import load

from .parity import assert_parity
from .test_wave_r10b import _corpus

#: Words per document and slide between neighbours: 3-gram jaccard
#: (L-S-2)/(L+S-2) = 24/34 ~ 0.71 for neighbours, 19/39 ~ 0.49 < 0.5
#: for the two ends.
_L, _S = 31, 5
_TRIPLES = 30


@pytest.fixture(scope="module")
def triple_corpus(tmp_path_factory):
    texts = []
    for k in range(_TRIPLES):
        toks = [f"w{k}x{i}" for i in range(_L + 2 * _S)]
        left, mid, right = (" ".join(toks[o:o + _L])
                            for o in (0, _S, 2 * _S))
        texts += [left, right, mid]          # ids a < b < c, c = middle
    n = len(texts)
    docs = {"doc_id": list(range(1, n + 1)), "text": texts,
            "lang": ["en"] * n, "source": ["s"] * n,
            "n_chars": [len(t) for t in texts]}
    return _corpus(tmp_path_factory, "triple_corpus", documents=docs)


def _components(nodes, pairs):
    parent = {v: v for v in nodes}

    def find(v):
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for a, b in pairs:
        parent[find(a)] = find(b)
    return len({find(v) for v in nodes})


def test_near_dedup_keeps_one_doc_per_component(spark, triple_corpus):
    pairs = {(r["doc1"], r["doc2"]) for r in
             REGISTRY["dedup_near_minhash"].fn(spark, triple_corpus)
             .collect()}
    # the shape is really there: c pairs with both ends, the ends do not
    shaped = [c for c in range(3, 3 * _TRIPLES + 1, 3)
              if {(c - 2, c), (c - 1, c)} <= pairs
              and (c - 2, c - 1) not in pairs]
    assert shaped, f"no a<b<c triple shaped in pair list {sorted(pairs)}"

    d = load(spark, triple_corpus, "documents")
    ids = [r["doc_id"] for r in d.select("doc_id").collect()]
    kept = P.near_dedup(d).select("doc_id").collect()
    assert len(kept) == _components(ids, pairs)


@pytest.mark.slowwave
def test_pipeline_audit_parity_on_triples(spark, triple_corpus):
    op = REGISTRY["pipeline_corpus_audit"]
    assert_parity(spark, op.fn, op.oracle, triple_corpus,
                  key="pipeline_corpus_audit")
