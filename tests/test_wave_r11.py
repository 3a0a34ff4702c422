"""Round-11 wave semantics:

- `dq_sequence_islands` derived bucket width: a sparse 10^10-scale id
  domain (where the old fixed /1024 bucket would leave a ~10^7-row
  offsets table) still yields exact islands with the range-derived
  width;
- transaction-log MERGE / concurrent-commit conflict / vacuum
  (`sink_txn_merge`, `sink_txn_vacuum`) — VERDICT r10 missing #1;
- corpus-trained BPE merges (`text_bpe_train`) + merged-token budget
  twins — VERDICT r10 missing #2;
- Yule-Walker AR(2) (`ts_ar2_forecast`) + champion enrollment —
  VERDICT r10 missing #3;
- large-star/small-star CC (`dedup_cluster_cc` and its
  `dedup_cluster_cc_star` key) green on a planted high-diameter chain
  — VERDICT r10 missing #4.
"""
import pytest

from industry_big_data_time_sequence_process_spark.registry import REGISTRY

from .conftest import SF_T2
from .test_wave_r10b import T0, _corpus

# ---------------------------------------------------------------------------
# dq_sequence_islands: id-range-derived bucket width
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def sparse_id_corpus(tmp_path_factory):
    """click ids spread over a ~3*10^10 domain: islands
    [7e9..7e9+2], [1e10], [3e10..3e10+1]. The derived width is
    range div 65536 ~ 351k >> 1024 — the offsets table stays ~65536
    buckets where a fixed /1024 bucket would need ~2.9*10^7 rows."""
    click_ids = [7_000_000_000, 7_000_000_001, 7_000_000_002,
                 10_000_000_000, 30_000_000_000, 30_000_000_001]
    rows = [(i, T0 + k * 1_000_000, 1, "click", 1.0)
            for k, i in enumerate(click_ids)]
    events = {
        "event_id": [r[0] for r in rows],
        "ts": [r[1] for r in rows],
        "user_id": [r[2] for r in rows],
        "event_type": [r[3] for r in rows],
        "value": [r[4] for r in rows],
        "props": ["{}"] * len(rows),
    }
    return _corpus(tmp_path_factory, "sparse_id_corpus", events=events)


def test_sequence_islands_sparse_id_domain(spark, sparse_id_corpus):
    rows = sorted(REGISTRY["dq_sequence_islands"].fn(spark,
                                                     sparse_id_corpus)
                  .collect(), key=lambda r: r["island_id"])
    got = [(r["island_id"], r["start_id"], r["end_id"], r["island_len"],
            r["gap_after"]) for r in rows]
    assert got == [
        (1, 7_000_000_000, 7_000_000_002, 3, 2_999_999_997),
        (2, 10_000_000_000, 10_000_000_000, 1, 19_999_999_999),
        (3, 30_000_000_000, 30_000_000_001, 2, None),
    ]


# ---------------------------------------------------------------------------
# transaction log: MERGE / conflict / vacuum (round 11, §2.37)
# ---------------------------------------------------------------------------


def test_txn_concurrent_commit_conflict(tmp_path):
    """Two writers prepare commits against the same base version; the
    second must fail LOUDLY with TxnConflictError, not silently clobber
    the first writer's manifest."""
    from industry_big_data_time_sequence_process_spark.operators.sources_sinks import (
        TxnConflictError, txn_active_dirs, txn_commit)

    log = str(tmp_path / "_log")
    import os
    os.makedirs(log)
    txn_commit(log, 1, ["v1"], [])
    # both writers read snapshot@1 and prepare version 2
    txn_commit(log, 2, ["v2_writer_a"], [])          # writer A wins
    with pytest.raises(TxnConflictError):
        txn_commit(log, 2, ["v2_writer_b"], ["v1"])  # writer B must fail
    # the winning manifest is intact — B's attempt changed nothing
    assert txn_active_dirs(log, 2) == ["v1", "v2_writer_a"]


def test_txn_merge_idempotent_rerun(spark):
    """Crash recovery: re-running the merge op rebuilds the same staged
    table and returns the identical audit row (both proofs hold)."""
    r1 = REGISTRY["sink_txn_merge"].fn(spark, SF_T2).collect()[0]
    r2 = REGISTRY["sink_txn_merge"].fn(spark, SF_T2).collect()[0]
    assert tuple(r1) == tuple(r2)
    assert r1["merge_preserves_content"] == 1
    assert r1["base_time_travel_intact"] == 1
    assert r1["n_final"] == (r1["n_base"] - r1["n_deleted"]
                             + r1["n_inserted"])


def test_txn_vacuum_retention_contract(spark):
    """Post-horizon snapshot resolves byte-identically after vacuum;
    the pre-horizon snapshot fails loudly; re-running is idempotent."""
    r1 = REGISTRY["sink_txn_vacuum"].fn(spark, SF_T2).collect()[0]
    assert (r1["n_dirs_before"], r1["n_dirs_after"],
            r1["n_vacuumed"]) == (3, 2, 1)
    assert r1["latest_content_intact"] == 1
    assert r1["pre_horizon_unreadable"] == 1
    r2 = REGISTRY["sink_txn_vacuum"].fn(spark, SF_T2).collect()[0]
    assert tuple(r1) == tuple(r2)


# ---------------------------------------------------------------------------
# corpus-trained BPE merges (round 11, §2.37)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def bpe_corpus(tmp_path_factory):
    """One doc, 'aaab' x3: the merge sequence is hand-derivable —
    r1 (a,a) pc 6 (greedy application leaves 'aa a b', the overlapped
    third 'a' NOT merged); r2 tie (aa,a) vs (a,b) at 3 resolves
    lexicographic to (a,b); r3 (aa,ab); then the corpus is a single
    symbol and rounds 4..8 dry up (no-op sentinel, filtered out)."""
    text = "aaab aaab aaab"
    docs = {"doc_id": [1], "text": [text], "lang": ["en"],
            "source": ["s"], "n_chars": [len(text)]}
    return _corpus(tmp_path_factory, "bpe_corpus", documents=docs)


def test_bpe_train_planted_merge_sequence(spark, bpe_corpus):
    rows = sorted(REGISTRY["text_bpe_train"].fn(spark, bpe_corpus)
                  .collect(), key=lambda r: r["merge_rank"])
    got = [(r["merge_rank"], r["lhs"], r["rhs"], r["merged"],
            r["pair_count"]) for r in rows]
    assert got == [(1, "a", "a", "aa", 6),
                   (2, "a", "b", "ab", 3),
                   (3, "aa", "ab", "aaab", 3)]


def test_bpe_merged_meter_on_dried_up_table(spark, bpe_corpus):
    """After the 3 real merges the doc is 3 fully-merged symbols; the
    5 no-op sentinel rules must apply as identities."""
    r = REGISTRY["doc_truncate_budget_merged"].fn(spark, bpe_corpus) \
        .collect()[0]
    assert r["n_merged_tokens"] == 3 and r["truncated"] == 0


@pytest.fixture(scope="module")
def longword_corpus(tmp_path_factory):
    """50 twelve-letter pretokens per doc: the PRETOKEN meter bills 50
    (< the 64 budget) while the merged meter bills 4 symbols/word x 50
    = 200 (8 merges fuse 'abcdefghi'; 'j k l' stay) — the divergence
    the merged twins exist to expose."""
    text = " ".join("abcdefghijkl" for _ in range(50))
    docs = {"doc_id": [1, 2], "text": [text, text], "lang": ["en", "en"],
            "source": ["s", "s"], "n_chars": [len(text)] * 2}
    return _corpus(tmp_path_factory, "longword_corpus", documents=docs)


def test_merged_meter_diverges_from_pretoken_meter(spark, longword_corpus):
    bpe = REGISTRY["doc_truncate_budget_bpe"].fn(
        spark, longword_corpus).collect()[0]
    mrg = REGISTRY["doc_truncate_budget_merged"].fn(
        spark, longword_corpus).collect()[0]
    assert bpe["n_bpe_tokens"] == 50 and bpe["truncated"] == 0
    assert mrg["n_merged_tokens"] == 200 and mrg["truncated"] == 1


def test_merged_packer_diverges_from_pretoken_packer(spark,
                                                     longword_corpus):
    """Same two docs: in pretokens both fit one 512-budget pack per
    shard; in merged tokens each doc is 200 symbols, so shards holding
    both docs still fit (400 <= 512) but the tok_sums differ 4x —
    pack accounting follows the meter."""
    bpe = REGISTRY["doc_pack_nextfit_bpe"].fn(
        spark, longword_corpus).collect()
    mrg = REGISTRY["doc_pack_nextfit_merged"].fn(
        spark, longword_corpus).collect()
    assert sum(r["tok_sum"] for r in bpe) == 100
    assert sum(r["tok_sum"] for r in mrg) == 400


# ---------------------------------------------------------------------------
# large-star/small-star CC (round 11, §2.37)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def chain_corpus(tmp_path_factory):
    """13 docs in a sliding-overlap CHAIN: doc_i = 16 unique tokens
    starting at 4(i-1), so adjacent docs share 12 tokens (3-gram
    jaccard 10/18 ~ 0.56 >= 0.5 -> edge) while skip-2 docs share 8
    (6/22 ~ 0.27 < 0.5 -> no edge). One component of diameter 12."""
    toks = [f"t{i:02d}" for i in range(64)]
    texts = [" ".join(toks[4 * i:4 * i + 16]) for i in range(13)]
    docs = {"doc_id": list(range(1, 14)), "text": texts,
            "lang": ["en"] * 13, "source": ["s"] * 13,
            "n_chars": [len(t) for t in texts]}
    return _corpus(tmp_path_factory, "chain_corpus", documents=docs)


@pytest.mark.parametrize("key", ["dedup_cluster_cc",
                                 "dedup_cluster_cc_star"])
def test_star_cc_resolves_high_diameter_chain(spark, chain_corpus, key):
    """A component of diameter 12 resolves like a near-clique: all 13
    docs in one component, labeled by the min doc_id."""
    rows = REGISTRY[key].fn(spark, chain_corpus).collect()
    assert sorted(r["doc_id"] for r in rows) == list(range(1, 14))
    assert all(r["cluster_id"] == 1 for r in rows)
