"""Record dedup and exact cosine top-k checks on tiny planted inputs plus
sf0.001 testdata."""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog", "en", "s0"),
            (1, "the quick brown fox jumps over the lazy dog", "en", "s0"),  # exact dup
            (2, "the quick brown fox jumped over the lazy dog", "en", "s0"),  # near dup
            (3, "lazy the dog quick brown fox jumps over the", "en", "s0"),  # reordered
            (4, "completely different content about spark engines", "en", "s0"),
            (5, "absolument rien a voir avec le reste du corpus", "fr", "s0"),
        ],
        ["doc_id", "text", "lang", "source"],
    )


def test_exact_dedup_keeps_min_id(docs):
    from metadata_reconciliation_tool_spark.operators.dedup import exact_dedup

    ids = sorted(r.doc_id for r in exact_dedup(docs).collect())
    assert ids == [0, 2, 3, 4, 5]  # doc 1 removed (dup of 0)


def test_fingerprint_dedup_collapses_reorder(docs):
    from metadata_reconciliation_tool_spark.operators.dedup import fingerprint_dedup

    ids = sorted(r.doc_id for r in fingerprint_dedup(docs).collect())
    # doc 3 is a token-reorder of doc 0's token set → collapsed
    assert 3 not in ids and 0 in ids


def test_exact_dedup_null_text_keeps_one(spark):
    """Null-text rows form one dedup group (sentinel key) — an equi-join on
    the raw md5 key would silently drop them all (null ≠ null)."""
    from metadata_reconciliation_tool_spark.operators.dedup import exact_dedup

    d = spark.createDataFrame(
        [(0, None), (1, None), (2, "real text")],
        ["doc_id", "text"],
    )
    ids = sorted(r.doc_id for r in exact_dedup(d).collect())
    assert ids == [0, 2]


def test_embedding_dedup_drops_oversized_cell(spark):
    """An IVF cell above max_block_size is dropped AND reported (not
    star-linked — cell members need not be mutually similar), while cells
    below the cap still produce their pairs."""
    from metadata_reconciliation_tool_spark.operators.dedup import embedding_dup_pairs

    hot = [(i, [1.0, 0.0], "hot") for i in range(8)]
    cold = [(100, [0.0, 1.0], "cold"), (101, [0.0, 1.0], "cold")]
    emb = spark.createDataFrame(hot + cold, ["vec_id", "embedding", "label"])

    pairs, dropped = embedding_dup_pairs(emb, max_block_size=5, return_dropped=True)
    d = {r.bk: r.block_n for r in dropped.collect()}
    assert d == {"hot": 8}
    got = {(r.left_id, r.right_id) for r in pairs.collect()}
    assert got == {(100, 101)}


def test_brute_force_topk_sanity(spark):
    from metadata_reconciliation_tool_spark.operators.similarity_search import (
        brute_force_topk,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    out = brute_force_topk(emb.filter("vec_id < 5"), emb, k=3)
    rows = out.collect()
    assert len(rows) == 15  # 5 queries × 3
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
        assert r.query_id != r.neighbor_id
        assert -1.0 <= r.cosine <= 1.0
    for q, rs in by_q.items():
        ranks = sorted(r.rank for r in rs)
        assert ranks == [1, 2, 3]
        sims = [r.cosine for r in sorted(rs, key=lambda x: x.rank)]
        assert sims == sorted(sims, reverse=True)
