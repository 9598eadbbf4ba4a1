"""Streaming ingest (one segment per micro-batch) + segment compaction."""

import os

import pytest

from fulltextsearch_spark.operators.bm25 import (
    rank_query_exhaustive,
    rank_terms_wand,
)
from fulltextsearch_spark.plans.planner import matches_to_string
from fulltextsearch_spark.sources.index_io import (
    BLOCK_MODES,
    Index,
    build_index,
    compact_index,
)
from fulltextsearch_spark.sources.pages import pms_corpus_pages


def test_streaming_ingest_builds_segments(spark, tmp_path):
    from fulltextsearch_spark.streaming.ingest import stream_pages_to_index

    pages_dir = str(tmp_path / "arriving")
    root = str(tmp_path / "stream_idx")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(pages_dir)

    # land two files (two url-disjoint page sets) before starting;
    # availableNow drains everything then stops
    pms_corpus_pages(spark, (1,)).write.mode("append").parquet(pages_dir)
    pms_corpus_pages(spark, (2, 3)).write.mode("append").parquet(pages_dir)

    q = stream_pages_to_index(spark, pages_dir, root, ckpt, mode="arrays")
    q.awaitTermination(120)

    idx = Index.open(spark, root)
    assert sum(s["n_docs"] for s in idx.manifest["segments"]) == 8
    got = matches_to_string(idx.search("WORD(joke)"))
    # doc ids depend on batch arrival order, but both joke docs exist
    assert got.count("{") == 2

    # restart with the same checkpoint: nothing new to ingest
    n_seg = len(idx.manifest["segments"])
    q2 = stream_pages_to_index(spark, pages_dir, root, ckpt, mode="arrays")
    q2.awaitTermination(60)
    idx2 = Index.open(spark, root)
    assert len(idx2.manifest["segments"]) == n_seg


def _top(df) -> list[tuple[int, float]]:
    return [(r["doc_id"], round(r["score"], 9)) for r in df.collect()]


@pytest.mark.parametrize("mode", ["arrays", *BLOCK_MODES])
def test_compaction_preserves_results(spark, tmp_path, mode):
    root = str(tmp_path / f"compact_{mode}")
    for seg in (1, 2, 3):
        build_index(spark, pms_corpus_pages(spark, (seg,)), root, mode=mode)
    idx = Index.open(spark, root)
    before = {
        q: matches_to_string(idx.search(q))
        for q in ["WORD(this)", "EDIT(these,2)", "SEQ(WORD(this),WORD(is))"]
    }
    rank_before = _top(idx.rank("WORD(this)", 10))
    positions_before = idx.get_positions(3)

    manifest = compact_index(spark, root)
    assert len(manifest["segments"]) == 1
    assert manifest["segments"][0]["lineage"]["compacted_from"] == [1, 2, 3]
    assert manifest["next_doc_id"] == 9

    idx2 = Index.open(spark, root)
    for q, want in before.items():
        assert matches_to_string(idx2.search(q)) == want, q
    assert _top(idx2.rank("WORD(this)", 10)) == rank_before
    # doc-position vectors survive compaction (blocks-only: sentinel
    # block rows copied verbatim; arrays: sentinel posting rows)
    assert idx2.get_positions(3) == positions_before
    if mode in BLOCK_MODES:
        # block-max WAND on the copied blocks stays rank-identical to
        # the exhaustive scorer (gates off: force the pruning route)
        for terms, q in (
            (["this"], "WORD(this)"),
            (["search", "test"], "OR(WORD(search),WORD(test))"),
        ):
            assert _top(
                rank_terms_wand(idx2, terms, 10, gates=False)
            ) == _top(rank_query_exhaustive(idx2, q, 10)), q
