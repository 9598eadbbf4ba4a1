"""Round-3 features: exact per-block (tf, dl) impact frontiers for
block-max WAND, multi-field compound persistent indexes, bounded
per-bucket compaction with resume, compaction as a verbatim block copy,
keep_positions=False compaction, auto-scaled bucket counts, and the
dense-id layout invariant."""

import json
import os
from collections import Counter

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from fulltextsearch_spark.operators.bm25 import (
    rank_query_exhaustive,
    rank_terms_wand,
)
from fulltextsearch_spark.operators.build import MAX_IMPACTS, _impact_frontier
from fulltextsearch_spark.sources.index_io import (
    BLOCK_MODES,
    DEFAULT_BUCKETS,
    MAX_BUCKETS,
    Index,
    build_index,
    compact_index,
    pick_n_buckets,
)
from fulltextsearch_spark.sources.pages import pms_corpus_pages, synth_pages


# --- impact frontier unit properties ---------------------------------


def test_impact_frontier_dominance_and_cap():
    rng = np.random.default_rng(7)
    for _ in range(50):
        n = int(rng.integers(1, 200))
        tf = rng.integers(1, 50, n).astype(np.int64)
        dl = rng.integers(1, 3000, n).astype(np.int64)
        ftf, fdl = _impact_frontier(tf, dl)
        assert 1 <= len(ftf) <= MAX_IMPACTS
        # sorted tf-descending, dl strictly decreasing
        assert all(ftf[i] >= ftf[i + 1] for i in range(len(ftf) - 1))
        assert all(fdl[i] > fdl[i + 1] for i in range(len(fdl) - 1))
        # SAFETY: every input pair is dominated by some stored pair
        # (tf' >= tf and dl' <= dl) => any bound computed from the
        # frontier is an upper bound on any doc's score
        for t, d in zip(tf, dl):
            assert any(
                ft >= t and fd <= d for ft, fd in zip(ftf, fdl)
            ), (t, d, list(zip(ftf, fdl)))


def test_impact_frontier_exact_when_small():
    tf = np.array([5, 3, 5, 1], dtype=np.int64)
    dl = np.array([100, 50, 80, 10], dtype=np.int64)
    ftf, fdl = _impact_frontier(tf, dl)
    # (5,80) dominates (5,100); (3,50) and (1,10) are maximal
    assert list(zip(ftf, fdl)) == [(5, 80), (3, 50), (1, 10)]


# --- impacts in the committed blocks table ----------------------------


@pytest.fixture(scope="module")
def synth3k_idx(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("imp_idx"))
    build_index(spark, synth_pages(spark, 3000), root, mode="blocks")
    return Index.open(spark, root)


def test_blocks_carry_impacts(spark, synth3k_idx):
    idx = synth3k_idx
    assert idx.manifest["type"]["block_impacts"] is True
    rows = idx.blocks(exact_terms=["t0"]).limit(5).collect()
    assert rows
    for r in rows:
        assert len(r["imp_tf"]) == len(r["imp_dl"]) >= 1
        assert max(r["imp_tf"]) == r["max_tf"]


def test_wand_impacts_prune_on_zipf_corpus(spark, synth3k_idx):
    """The round-2 weakness: dl→0 bounds were near-uniform on a Zipf
    corpus, so nothing pruned. Exact (tf, dl) impacts give each block
    its true max score — on the lognormal-dl synth corpus a hot-term
    top-k must now skip most blocks, while staying rank-identical."""
    idx = synth3k_idx
    stats: dict = {}
    wand = [
        (r["doc_id"], round(r["score"], 9))
        # gates=False: the routing gates would (correctly) send this
        # fixture-sized candidate set to the one-job exhaustive decode;
        # this test pins the pruning MACHINERY itself
        for r in rank_terms_wand(idx, ["t0"], 3, stats=stats, gates=False).collect()
    ]
    exhaustive = [
        (r["doc_id"], round(r["score"], 9))
        for r in rank_query_exhaustive(idx, "WORD(t0)", 3).collect()
    ]
    assert wand == exhaustive
    assert stats["n_blocks"] > 5
    # at 3000 docs / 16 blocks the ratio is modest (each block's max
    # approaches the global tail); the sf0.1 bench shows the real
    # effect — here we pin that pruning FIRES on the plain Zipf corpus
    # (round 2: 0 blocks pruned)
    assert stats["n_blocks_decoded"] <= stats["n_blocks"] // 2, stats


# --- multi-field compound persistent index + WAND ---------------------


@pytest.fixture(scope="module")
def compound_idx(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("compound_idx"))
    rng = np.random.default_rng(11)
    rows = []
    for i in range(300):
        title = " ".join(
            f"t{int(t)}" for t in rng.integers(0, 30, rng.integers(2, 8))
        )
        body = " ".join(
            f"t{int(t)}" for t in rng.integers(0, 300, rng.integers(20, 120))
        )
        rows.append((f"c{i:05d}", title, body))
    docs = spark.createDataFrame(rows, "url string, title string, body string")
    build_index(
        spark, docs, root, mode="blocks", field_cols=["title", "body"]
    )
    return Index.open(spark, root)


def test_compound_persistent_index(spark, compound_idx):
    idx = compound_idx
    assert idx.manifest["type"]["n_fields"] == 2
    fields = {
        r["field_id"]
        for r in idx.postings(exact_terms=["t1"])
        .select("field_id")
        .distinct()
        .collect()
    }
    assert fields == {1, 2}
    # dictionary df counts DOCS, not (doc, field) rows
    df_t1 = (
        idx.dictionary().where(F.col("term") == "t1").collect()[0]["df"]
    )
    n_docs_t1 = (
        idx.postings(exact_terms=["t1"]).select("doc_id").distinct().count()
    )
    assert df_t1 == n_docs_t1
    # doc_stats dl sums the fields
    r = idx.doc_stats().agg(F.sum("dl").alias("s")).collect()[0]
    total_occ = (
        idx.postings().agg(F.sum("tf").alias("s")).collect()[0]["s"]
    )
    assert r["s"] == total_occ
    # per-(doc, field) position vectors survive (field id rides in the
    # sentinel's block_no); body (field 2) is always longer than title
    p_title = idx.get_positions(1, 1)
    p_body = idx.get_positions(1, 2)
    assert p_title and p_body and len(p_body) > len(p_title)


@pytest.mark.parametrize("terms,k", [(["t1"], 7), (["t0", "t5"], 10)])
def test_wand_multifield_rank_identity(spark, compound_idx, terms, k):
    """Impact tf sums a doc's fields and blocks never split a doc, so
    block-max WAND is score-safe on multi-field indexes (round-2 raised
    on these)."""
    idx = compound_idx
    query = (
        f"WORD({terms[0]})"
        if len(terms) == 1
        else "OR(" + ",".join(f"WORD({t})" for t in terms) + ")"
    )
    exhaustive = [
        (r["doc_id"], round(r["score"], 9))
        for r in rank_query_exhaustive(idx, query, k).collect()
    ]
    wand = [
        (r["doc_id"], round(r["score"], 9))
        for r in rank_terms_wand(idx, terms, k).collect()
    ]
    assert wand == exhaustive


def test_compound_search_cross_field(spark, compound_idx):
    """Matches stream from both fields; SEQ stays within one field."""
    m = compound_idx.search("WORD(t1)")
    assert m.count() > 0
    assert {r["field_id"] for r in m.select("field_id").distinct().collect()} == {
        1,
        2,
    }


# --- keep_positions=False: queries, compaction, clear errors ----------


def test_stripped_positions_compaction(spark, tmp_path):
    """ADVICE r2 (medium): compact_index crashed on keep_positions=False
    blocks indexes (empty sentinel payload decode), and dl metadata was
    corrupted on re-encode. Sentinel pass-through fixes both."""
    root = str(tmp_path / "stripped")
    for seg in (1, 2):
        build_index(
            spark,
            pms_corpus_pages(spark, (seg,)),
            root,
            mode="blocks",
            keep_positions=False,
        )
    idx = Index.open(spark, root)
    dl_before = sorted(
        (r["doc_id"], r["dl"]) for r in idx.doc_stats().collect()
    )
    hits_before = idx.search("WORD(this)").count()
    with pytest.raises(ValueError, match="positions were not kept"):
        idx.doc_positions()

    compact_index(spark, root)
    idx2 = Index.open(spark, root)
    assert len(idx2.manifest["segments"]) == 1
    assert (
        sorted((r["doc_id"], r["dl"]) for r in idx2.doc_stats().collect())
        == dl_before
    )
    assert idx2.search("WORD(this)").count() == hits_before
    with pytest.raises(ValueError, match="positions were not kept"):
        idx2.doc_positions()
    # appends must not silently flip the layout
    with pytest.raises(ValueError, match="keep_positions"):
        build_index(
            spark, pms_corpus_pages(spark, (3,)), root, mode="blocks"
        )


def test_stripped_build_rejects_mismatched_append(spark, tmp_path):
    root = str(tmp_path / "kp_true")
    build_index(spark, pms_corpus_pages(spark, (1,)), root, mode="blocks")
    with pytest.raises(ValueError, match="keep_positions"):
        build_index(
            spark,
            pms_corpus_pages(spark, (2,)),
            root,
            mode="blocks",
            keep_positions=False,
        )


# --- bounded per-bucket compaction with resume -------------------------


def test_compaction_resumes_per_bucket(spark, tmp_path):
    root = str(tmp_path / "bounded")
    for seg in (1, 2, 3):
        build_index(spark, pms_corpus_pages(spark, (seg,)), root, mode="blocks")
    idx = Index.open(spark, root)
    before = idx.search("WORD(this)").collect()
    golden = sorted(
        (r["doc_id"], r["field_id"], list(r["positions"])) for r in before
    )
    dict_before = sorted(
        (r["term"], r["df"], r["cf"]) for r in idx.dictionary().collect()
    )

    # stop after 3 bucket merges — simulates a mid-compaction kill
    m = compact_index(spark, root, _stop_after_buckets=3)
    assert "compaction" in m
    assert len(m["compaction"]["done_buckets"]) == 3
    # index still queryable from the OLD segments (compaction uncommitted)
    idx_mid = Index.open(spark, root)
    assert len(idx_mid.manifest["segments"]) == 3
    assert (
        sorted(
            (r["doc_id"], r["field_id"], list(r["positions"]))
            for r in idx_mid.search("WORD(this)").collect()
        )
        == golden
    )

    # resume completes only the remaining buckets and commits
    m2 = compact_index(spark, root)
    assert "compaction" not in m2
    assert len(m2["segments"]) == 1
    idx2 = Index.open(spark, root)
    assert (
        sorted(
            (r["doc_id"], r["field_id"], list(r["positions"]))
            for r in idx2.search("WORD(this)").collect()
        )
        == golden
    )
    assert (
        sorted((r["term"], r["df"], r["cf"]) for r in idx2.dictionary().collect())
        == dict_before
    )
    # compacted blocks kept their impact frontiers (copied verbatim)
    rows = idx2.blocks(exact_terms=["this"]).collect()
    assert rows and all(len(r["imp_tf"]) >= 1 for r in rows)
    assert all(max(r["imp_tf"]) == r["max_tf"] for r in rows)
    ds = {r["doc_id"]: r["dl"] for r in idx2.doc_stats().collect()}
    for r in rows:
        assert set(r["imp_dl"]) <= set(ds.values())


# --- compaction is a verbatim block copy ---------------------------------

_BLOCK_ROW = (
    "term", "first_doc", "last_doc", "n_occ", "n_docs", "max_tf",
    "imp_tf", "imp_dl", "payload",
)


def _block_rows(blocks_dir: str, n_buckets: int) -> list[tuple]:
    """Term-block rows of one segment's blocks table, as tuples."""
    tbl = pq.read_table(blocks_dir, columns=[*_BLOCK_ROW, "bucket"])
    return [
        tuple(tuple(r[c]) if c.startswith("imp_") else r[c] for c in _BLOCK_ROW)
        for r in tbl.to_pylist()
        if r["bucket"] < n_buckets
    ]


@pytest.fixture(scope="module", params=BLOCK_MODES)
def compacted_copy(request, spark, tmp_path_factory):
    """A 3-segment index in one block codec, compacted. Segments of 300
    synth docs give the hot terms several blocks per segment, including
    a partial last block in each. Returns (root, n_buckets, source
    term-block rows)."""
    mode = request.param
    root = str(tmp_path_factory.mktemp(f"copy_{mode}"))
    for seed in (1, 2, 3):
        build_index(spark, synth_pages(spark, 300, seed=seed), root, mode=mode)
    idx = Index.open(spark, root)
    n_b = idx.n_buckets
    src = [
        row
        for seg in idx.manifest["segments"]
        for row in _block_rows(os.path.join(root, seg["path"], "blocks"), n_b)
    ]
    compact_index(spark, root)
    return root, n_b, src


def test_compaction_copies_blocks_verbatim(spark, compacted_copy):
    root, n_b, src = compacted_copy
    (seg,) = Index.open(spark, root).manifest["segments"]
    blocks_dir = os.path.join(root, seg["path"], "blocks")
    out = _block_rows(blocks_dir, n_b)
    # a pure copy: the same multiset of rows, payload bytes included
    assert Counter(out) == Counter(src)
    # the hot term really spans several blocks per source segment
    assert sum(1 for r in out if r[0] == "t0") > 3

    # each bucket directory, read in part-file order, is sorted by the
    # (term, first_doc) block key
    for b in range(n_b):
        d = os.path.join(blocks_dir, f"bucket={b}")
        keys: list = []
        for name in sorted(os.listdir(d)):
            if name.endswith(".parquet"):
                part = pq.read_table(os.path.join(d, name)).to_pydict()
                keys += zip(part["term"], part["first_doc"])
        assert keys and keys == sorted(keys), b

    # (term, first_doc) is unique and a term's doc ranges are disjoint
    assert len({(r[0], r[1]) for r in out}) == len(out)
    by_term: dict = {}
    for r in out:
        by_term.setdefault(r[0], []).append((r[1], r[2]))
    for term, spans in by_term.items():
        spans.sort()
        assert all(lo <= hi for lo, hi in spans), term
        assert all(
            spans[i][1] < spans[i + 1][0] for i in range(len(spans) - 1)
        ), term


def test_compaction_rejects_legacy_blocks_with_postings(spark, tmp_path):
    """The old blocks layout with staged postings is no longer written
    by any build; compaction refuses it with a clear error."""
    root = str(tmp_path / "legacy")
    for seg in (1, 2):
        build_index(spark, pms_corpus_pages(spark, (seg,)), root, mode="arrays")
    path = os.path.join(root, "manifest.json")
    with open(path) as f:
        manifest = json.load(f)
    manifest["type"]["mode"] = "blocks"
    with open(path, "w") as f:
        json.dump(manifest, f)
    with pytest.raises(ValueError, match="legacy blocks layout"):
        compact_index(spark, root)


# --- multi-field compaction keeps impact dl exact (ADVICE r3 high) -----


def test_multifield_compaction_impact_dl_and_rank(spark, tmp_path):
    """ADVICE r3 (high): a re-encoding compaction once stored
    imp_dl = n_fields x dl for multi-field docs. Over-estimated dl
    under-estimates the block-max bound, so WAND could prune blocks
    holding true top-k docs. Pin: (a) singleton blocks of a both-fields
    term store imp_dl == the doc's exact dl after compaction; (b) WAND
    stays rank-identical to the exhaustive scorer on the compacted
    index."""
    root = str(tmp_path / "mf_compact")
    rng = np.random.default_rng(23)
    for seg in (0, 1):
        rows = []
        for i in range(seg * 120, (seg + 1) * 120):
            title = f"uq{i} " + " ".join(
                f"t{int(t)}" for t in rng.integers(0, 30, rng.integers(2, 6))
            )
            body = f"uq{i} " + " ".join(
                f"t{int(t)}" for t in rng.integers(0, 300, rng.integers(20, 90))
            )
            rows.append((f"m{i:05d}", title, body))
        docs = spark.createDataFrame(
            rows, "url string, title string, body string"
        )
        build_index(
            spark, docs, root, mode="blocks", field_cols=["title", "body"]
        )
    idx = Index.open(spark, root)
    exhaustive = {
        q: [
            (r["doc_id"], round(r["score"], 9))
            for r in rank_query_exhaustive(idx, q, 10).collect()
        ]
        for q in ("WORD(t1)", "OR(WORD(t0),WORD(t5))")
    }
    compact_index(spark, root)
    idx2 = Index.open(spark, root)
    assert len(idx2.manifest["segments"]) == 1
    ds = {r["doc_id"]: r["dl"] for r in idx2.doc_stats().collect()}
    # 'uq7' occurs once in BOTH fields of exactly one doc -> one block,
    # one doc, two (doc, field) posting rows
    rows = idx2.blocks(exact_terms=["uq7"]).collect()
    assert len(rows) == 1 and rows[0]["n_docs"] == 1
    (blk,) = rows
    assert list(blk["imp_tf"]) == [2]  # tf sums the two fields
    assert list(blk["imp_dl"]) == [ds[blk["first_doc"]]]  # NOT 2x dl
    # WAND rank identity on the compacted multi-field blocks
    assert [
        (r["doc_id"], round(r["score"], 9))
        for r in rank_terms_wand(idx2, ["t1"], 10).collect()
    ] == exhaustive["WORD(t1)"]
    assert [
        (r["doc_id"], round(r["score"], 9))
        for r in rank_terms_wand(idx2, ["t0", "t5"], 10).collect()
    ] == exhaustive["OR(WORD(t0),WORD(t5))"]


# --- docs-table meta column drift (ADVICE r2 low) ----------------------


def test_docs_union_tolerates_meta_drift(spark, tmp_path):
    root = str(tmp_path / "meta_drift")
    build_index(spark, pms_corpus_pages(spark, (1,)), root, mode="blocks")
    pages2 = pms_corpus_pages(spark, (2,)).withColumn(
        "meta", F.to_json(F.struct(F.col("lang")))
    )
    build_index(spark, pages2, root, mode="blocks")
    idx = Index.open(spark, root)
    docs = idx.docs()
    assert "meta" in docs.columns
    rows = {r["doc_id"]: r["meta"] for r in docs.collect()}
    assert rows[7] is not None and rows[1] is None
    compact_index(spark, root)  # must not NUM_COLUMNS_MISMATCH
    assert Index.open(spark, root).docs().count() == len(rows)


# --- auto-scaled bucket count ------------------------------------------


def test_pick_n_buckets():
    # sizing: one bucket per ~262k docs — growth starts only where
    # per-bucket data amortizes the partitionBy write fan-out (the
    # 8->32 jump at 300k docs measured -30% whole-build throughput)
    assert pick_n_buckets(1) == DEFAULT_BUCKETS
    assert pick_n_buckets(300_000) == DEFAULT_BUCKETS
    assert pick_n_buckets(4_000_000) == 16
    assert pick_n_buckets(100_000_000) == 512
    assert pick_n_buckets(10**9) == MAX_BUCKETS
    assert pick_n_buckets(10**12) == MAX_BUCKETS


def test_small_build_gets_default_buckets(spark, pms_index_roots):
    idx = Index.open(spark, pms_index_roots["blocks"])
    assert idx.n_buckets == DEFAULT_BUCKETS


def test_explicit_bucket_mismatch_rejected(spark, tmp_path):
    root = str(tmp_path / "nb")
    build_index(spark, pms_corpus_pages(spark, (1,)), root, n_buckets=8)
    with pytest.raises(ValueError, match="n_buckets"):
        build_index(spark, pms_corpus_pages(spark, (2,)), root, n_buckets=16)


# --- dense-id layout invariant (ADVICE r2 low) --------------------------


def test_dense_id_invariant(spark):
    from fulltextsearch_spark.sources.ids import (
        assign_dense_ids,
        validate_dense_ids,
    )

    df = assign_dense_ids(synth_pages(spark, 1234), "url", "doc_id", start=5)
    validate_dense_ids(df, "doc_id", start=5)
    df.unpersist()
    bad = spark.range(3).select((F.col("id") * 2 + 1).alias("doc_id"))
    with pytest.raises(AssertionError, match="dense id invariant"):
        validate_dense_ids(bad, "doc_id", start=1)
