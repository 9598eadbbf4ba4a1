"""Dense deterministic doc-ids + resumable build (north_rule)."""

import json
import os
import shutil

import pytest

from fulltextsearch_spark.sources.ids import assign_dense_ids
from fulltextsearch_spark.sources.index_io import Index, build_index
from fulltextsearch_spark.sources.pages import pms_corpus_pages, synth_pages


def test_dense_ids_are_dense_and_ordered(spark):
    df = synth_pages(spark, 500).repartition(7)
    out = assign_dense_ids(df, "url", "doc_id", start=1, num_partitions=5)
    rows = out.select("url", "doc_id").collect()
    out.unpersist()
    by_url = sorted(rows, key=lambda r: r["url"])
    assert [r["doc_id"] for r in by_url] == list(range(1, 501))


def test_dense_ids_stable_across_parallelism(spark):
    df = synth_pages(spark, 200)
    a = assign_dense_ids(df.repartition(3), "url", num_partitions=2)
    b = assign_dense_ids(df.repartition(11), "url", num_partitions=8)
    ma = {r["url"]: r["doc_id"] for r in a.select("url", "doc_id").collect()}
    mb = {r["url"]: r["doc_id"] for r in b.select("url", "doc_id").collect()}
    a.unpersist()
    b.unpersist()
    assert ma == mb


def test_build_resumes_after_kill(spark, tmp_path):
    """A killed build (segment written, manifest not committed) leaves
    the index consistent; the rerun rebuilds only the orphan segment.
    Each layout plants the partial file in the table it writes (blocks/
    or postings/), so a rerun that left it in place would fail the read."""
    for mode, table in (("blocks", "blocks"), ("arrays", "postings")):
        root = str(tmp_path / f"resume_idx_{mode}")
        build_index(spark, pms_corpus_pages(spark, (1,)), root, mode=mode)

        # simulate a crash: segment 2 data exists but manifest was never
        # swapped (commit is the atomic manifest rename)
        partial = os.path.join(root, "seg_00002", table, "bucket=0")
        os.makedirs(partial, exist_ok=True)
        open(os.path.join(partial, "junk"), "w").write("partial")

        # reopening sees only committed segment 1
        idx = Index.open(spark, root)
        assert [s["id"] for s in idx.manifest["segments"]] == [1]

        # resume: rerun the segment-2 build — overwrites the orphan
        build_index(spark, pms_corpus_pages(spark, (2,)), root, mode=mode)
        idx = Index.open(spark, root)
        assert [s["id"] for s in idx.manifest["segments"]] == [1, 2]
        assert idx.manifest["next_doc_id"] == 8
        assert not os.path.exists(os.path.join(partial, "junk"))
        got = idx.search("WORD(joke)").collect()
        assert [r["doc_id"] for r in got] == [7]


def test_manifest_lineage_and_metrics(spark, tmp_path):
    root = str(tmp_path / "lineage_idx")
    build_index(
        spark, pms_corpus_pages(spark, (1,)), root, input_desc="pms segment 1"
    )
    m = json.load(open(os.path.join(root, "manifest.json")))
    seg = m["segments"][0]
    assert seg["lineage"]["input"] == "pms segment 1"
    assert seg["lineage"]["row_count"] == 6
    assert sum(p["rows"] for p in seg["lineage"]["partitions"]) == 6
    assert seg["metrics"]["n_terms"] > 0
    assert seg["metrics"]["build_sec"] >= 0
