"""Dense deterministic doc-ids + resumable build (north_rule)."""

import json
import os
import shutil

import pytest

from fulltextsearch_spark.operators import build as B
from fulltextsearch_spark.sources.ids import (
    TARGET_BYTES_PER_TASK,
    assign_dense_ids,
    width_for_bytes,
)
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
    # the observed collection stats equal the written dictionary's
    d = spark.read.parquet(os.path.join(root, seg["path"], "dictionary"))
    assert seg["metrics"]["n_terms"] == d.count()
    assert seg["metrics"]["n_postings"] == d.agg({"df": "sum"}).first()[0]
    # the build's width and the size estimate behind it: a Python
    # createDataFrame input has no known size, so it gets the cap
    cap = spark.sparkContext.defaultParallelism * 4
    assert seg["lineage"]["input_bytes_est"] >= cap * TARGET_BYTES_PER_TASK
    assert seg["lineage"]["width"] == cap


def test_width_for_bytes_floor_cap_monotone():
    long_max = (1 << 63) - 1  # Spark's sizeInBytes for an unsized input
    for par in (1, 4, 32):
        cap = par * 4
        assert width_for_bytes(0, par) == 1
        assert width_for_bytes(TARGET_BYTES_PER_TASK, par) == 1
        assert width_for_bytes(TARGET_BYTES_PER_TASK + 1, par) == min(2, cap)
        assert width_for_bytes(long_max, par) == cap
        sizes = [0, 1, 1 << 10, 1 << 19, 1 << 20, 3 << 20, 1 << 24, 1 << 30]
        widths = [width_for_bytes(n, par) for n in sizes + [long_max]]
        assert widths == sorted(widths)
        assert all(1 <= w <= cap for w in widths)


def test_block_rows_and_results_do_not_depend_on_width(spark, tmp_path, monkeypatch):
    """The same corpus built at width 1 and at the cap stores identical
    block rows (payload included) and doc ids, and answers WORD, OR, AND
    and SEQ the same, in search and in rank."""
    from fulltextsearch_spark.plans.planner import matches_to_string
    from fulltextsearch_spark.sources import ids

    pages_dir = str(tmp_path / "pages")
    synth_pages(spark, 400).write.parquet(pages_dir)
    queries = [
        "WORD(t0)",
        "OR(WORD(t3),WORD(t11))",
        "AND(WORD(t1),WORD(t2))",
        "SEQ(WORD(t0),WORD(t1))",
    ]
    cap = spark.sparkContext.defaultParallelism * 4
    seen = []
    for target, width in ((1 << 62, 1), (1, cap)):
        monkeypatch.setattr(ids, "TARGET_BYTES_PER_TASK", target)
        root = str(tmp_path / f"w{width}")
        m = build_index(spark, spark.read.parquet(pages_dir), root)
        assert m["segments"][0]["lineage"]["width"] == width
        idx = Index.open(spark, root)
        blocks = sorted(
            tuple(r)
            for r in idx._union("blocks").select(*B.BLOCK_SCHEMA_BUCKETED.fieldNames())
            .collect()
        )
        doc_ids = sorted(tuple(r) for r in idx.docs().select("url", "doc_id").collect())
        results = [
            (
                matches_to_string(idx.search(q)),
                [tuple(r) for r in idx.rank(q, 10).collect()],
            )
            for q in queries
        ]
        seen.append((blocks, doc_ids, results))
    assert len(seen[0][0]) > 0
    assert seen[0][0] == seen[1][0]
    assert seen[0][1] == seen[1][1]
    assert seen[0][2] == seen[1][2]


@pytest.mark.parametrize("preassigned", [False, True])
def test_empty_input_commits_no_segment(spark, tmp_path, preassigned):
    """A build over zero rows commits no segment: on a fresh root it
    raises a ValueError naming the input and writes no manifest; as an
    append it returns the manifest unchanged."""
    from pyspark.sql import functions as F

    if preassigned:
        pages = spark.range(1, 11).select(
            F.col("id").alias("doc_id"), F.lit("some text").alias("text")
        )
    else:
        pages = pms_corpus_pages(spark, (1,))
    empty = pages.where("false")
    fresh = str(tmp_path / "fresh")
    with pytest.raises(ValueError, match="empty input.*no pages"):
        build_index(spark, empty, fresh, input_desc="no pages", preassigned_ids=preassigned)
    assert not os.path.exists(os.path.join(fresh, "manifest.json"))

    root = str(tmp_path / "append")
    first = build_index(spark, pages, root, preassigned_ids=preassigned)
    with open(os.path.join(root, "manifest.json")) as f:
        before = f.read()
    again = build_index(spark, empty, root, preassigned_ids=preassigned)
    with open(os.path.join(root, "manifest.json")) as f:
        assert f.read() == before
    assert again == first and len(again["segments"]) == 1
    assert not os.path.exists(os.path.join(root, "seg_00002"))
