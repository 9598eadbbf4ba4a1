"""Interactive-query floor: repeated small queries must not fan out
into extra Spark jobs (VERDICT r2 #4). Per-handle memoization (table
handles, the persisted dictionary, term dfs, pattern expansions) makes
every query after the first on a handle run in:

  WORD  1 job   (TakeOrderedAndProject collect — no sort-sampling job)
  SEQ   <= 2 jobs
  WILD  <= 2 jobs

First-run budgets are looser: they pay one-time handle warm-up (parquet
footer/schema resolution per segment table, dictionary persist
materialization) that amortizes across the handle's lifetime — the
steady-state number is the interactive floor. Job counts come from the
status tracker under a per-query job group."""

import glob
import os

import pytest

from fulltextsearch_spark.sources.index_io import Index


def _jobs_for(spark, tag: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(tag, tag)
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    return len(sc.statusTracker().getJobIdsForGroup(tag))


@pytest.fixture(scope="module")
def idx(spark, pms_index_roots):
    return Index.open(spark, pms_index_roots["blocks"])


def test_word_query_job_budget(spark, idx):
    first = _jobs_for(
        spark, "budget-word-1", lambda: idx.search("WORD(this)").limit(100).collect()
    )
    assert 1 <= first <= 6, first  # one-time table-handle warm-up
    again = _jobs_for(
        spark, "budget-word-2", lambda: idx.search("WORD(this)").limit(100).collect()
    )
    assert again == 1, again


def test_seq_query_job_budget(spark, idx):
    q = "SEQ(WORD(test),WORD(document))"
    first = _jobs_for(
        spark, "budget-seq-1", lambda: idx.search(q).limit(100).collect()
    )
    assert 1 <= first <= 10, first  # dictionary persist + df lookup warm-up
    again = _jobs_for(
        spark, "budget-seq-2", lambda: idx.search(q).limit(100).collect()
    )
    assert again <= 2, again  # term dfs memoized


def test_local_fast_path_zero_jobs(spark, idx):
    """Driver-side fast path (VERDICT r3 #3): a bucket-pruned exact-term
    posting read below LOCAL_FAST_MAX_OCC resolves with pyarrow on the
    driver — ZERO Spark jobs for the read itself — and the end-to-end
    search needs only the single local-relation collect job."""
    jobs = _jobs_for(
        spark, "fast-read", lambda: idx.postings(exact_terms=["this"])
    )
    assert jobs == 0, jobs
    # end-to-end: plan + collect over the local relation
    got = _jobs_for(
        spark,
        "fast-search",
        lambda: idx.search("WORD(this)").limit(100).collect(),
    )
    assert got <= 1, got


def _posting_rows(df) -> list[tuple]:
    return sorted(
        (r["term"], r["doc_id"], r["field_id"], tuple(r["positions"]), r["tf"])
        for r in df.collect()
    )


def _scans_parquet(df) -> bool:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "Scan parquet" in plan or "FileScan" in plan


@pytest.mark.parametrize("mode", ["blocks", "groupvarint", "packedints", "binary"])
def test_local_fast_path_matches_distributed(spark, pms_index_roots, monkeypatch, mode):
    """Fast-path rows are identical to the distributed decode under
    every block-metadata filter (none, min_doc, doc_ranges,
    block_first_docs, doc_ranges + min_doc), and a term over the
    occurrence cap falls back to the Spark path."""
    from fulltextsearch_spark.sources import index_io

    terms = ["this", "test"]
    idx_fast = Index.open(spark, pms_index_roots[mode])
    firsts = sorted(set(idx_fast.local_block_meta(terms).column("first_doc").to_pylist()))
    docs = sorted({r["doc_id"] for r in idx_fast.postings(exact_terms=terms).collect()})
    mid = docs[len(docs) // 2]
    filters = {
        "none": {},
        "min_doc": {"min_doc": mid},
        "doc_ranges": {"doc_ranges": [(docs[0], docs[0]), (mid, mid)]},
        "block_first_docs": {"block_first_docs": firsts[1::2]},
        "doc_ranges+min_doc": {"doc_ranges": [(mid, mid)], "min_doc": mid},
    }
    fast = {}
    for name, kw in filters.items():
        df = idx_fast.postings(exact_terms=terms, **kw)
        assert not _scans_parquet(df), name  # the driver read served it
        fast[name] = _posting_rows(df)
    monkeypatch.setenv("FTS_NO_LOCAL_FAST_PATH", "1")
    idx_dist = Index.open(spark, pms_index_roots[mode])
    for name, kw in filters.items():
        df = idx_dist.postings(exact_terms=terms, **kw)
        assert _scans_parquet(df), name
        assert _posting_rows(df) == fast[name], name
    # every filter keeps some rows and drops others
    for name in filters:
        assert fast[name], name
        if name != "none":
            assert set(fast[name]) < set(fast["none"]), name
    monkeypatch.delenv("FTS_NO_LOCAL_FAST_PATH")
    # over-cap terms must route to the distributed scan (plan has a scan)
    monkeypatch.setattr(index_io, "LOCAL_FAST_MAX_OCC", 0)
    idx_cap = Index.open(spark, pms_index_roots[mode])
    df = idx_cap.postings(exact_terms=["this"])
    assert _scans_parquet(df)
    assert _posting_rows(df) == [t for t in fast["none"] if t[0] == "this"]


def test_local_fast_path_min_doc_seek(spark, idx):
    """min_doc lower-bound seek applies on the driver-side decode too."""
    full = idx.postings(exact_terms=["this"]).collect()
    assert len(full) >= 2
    cut = sorted(r["doc_id"] for r in full)[1]
    seek = idx.postings(exact_terms=["this"], min_doc=cut).collect()
    assert sorted(r["doc_id"] for r in seek) == sorted(
        r["doc_id"] for r in full if r["doc_id"] >= cut
    )


def test_wild_query_job_budget(spark, idx):
    first = _jobs_for(
        spark, "budget-wild-1", lambda: idx.search("WILD(te*)").limit(100).collect()
    )
    assert 1 <= first <= 6, first
    again = _jobs_for(
        spark, "budget-wild-2", lambda: idx.search("WILD(te*)").limit(100).collect()
    )
    assert again <= 2, again  # expansion memoized


# --- build and compaction jobs stay in the caller's job group -----------


def test_build_and_compaction_jobs_stay_in_job_group(spark, tmp_path):
    """Every Spark job of a blocks build_index and of compact_index runs
    in the caller's job group, including the jobs submitted from their
    thread pools (the concurrent output writes, the bucket merges)."""
    from fulltextsearch_spark.sources.index_io import build_index, compact_index
    from fulltextsearch_spark.sources.pages import pms_corpus_pages

    root = str(tmp_path / "grp_idx")
    tracker = spark.sparkContext.statusTracker()
    ungrouped_before = set(tracker.getJobIdsForGroup(None))
    for seg in (1, 2):
        jobs = _jobs_for(
            spark,
            f"group-build-{seg}",
            lambda: build_index(
                spark, pms_corpus_pages(spark, (seg,)), root, mode="blocks"
            ),
        )
        assert jobs >= 1, jobs
    jobs = _jobs_for(spark, "group-compact", lambda: compact_index(spark, root))
    assert jobs >= 1, jobs
    outside = set(tracker.getJobIdsForGroup(None)) - ungrouped_before
    assert not outside, sorted(outside)


def _tasks_for(spark, tag: str, fn) -> int:
    """Tasks run by every job of ``fn`` (skipped stages run none)."""
    _jobs_for(spark, tag, fn)
    tracker = spark.sparkContext.statusTracker()
    stages = (
        tracker.getStageInfo(st)
        for j in tracker.getJobIdsForGroup(tag)
        for st in tracker.getJobInfo(j).stageIds
    )
    return sum(s.numCompletedTasks for s in stages if s is not None)


def test_small_append_costs_what_it_writes(spark, tmp_path):
    """A 20-doc append runs at a width sized from its input: at most one
    part file per bucket= directory of its segment, and fewer tasks than
    the same append from an input Spark cannot size, which runs at the
    cap (the fixed width every append used to pay)."""
    from fulltextsearch_spark.sources.index_io import build_index
    from fulltextsearch_spark.sources.pages import pms_corpus_pages, synth_pages

    batch = str(tmp_path / "batch")
    synth_pages(spark, 20).write.parquet(batch)
    sized = spark.read.parquet(batch)
    unsized = spark.createDataFrame(sized.collect(), sized.schema)
    tasks = {}
    for name, pages in (("sized", sized), ("unsized", unsized)):
        root = str(tmp_path / name)
        build_index(spark, pms_corpus_pages(spark, (1,)), root)
        tasks[name] = _tasks_for(
            spark, f"append-{name}", lambda: build_index(spark, pages, root)
        )
        if name == "sized":
            dirs = glob.glob(os.path.join(root, "seg_00002", "blocks", "bucket=*"))
            assert dirs
            for d in dirs:
                parts = glob.glob(os.path.join(d, "part-*"))
                assert len(parts) <= 1, (d, parts)
    assert tasks["sized"] < tasks["unsized"], tasks


def test_job_group_wrapper_passes_through_when_unpinned(monkeypatch):
    """Without pinned-thread mode (no ClientServer gateway) the pool
    targets run as given, so build and compaction still work."""
    from pyspark import SparkContext

    from fulltextsearch_spark.sources.index_io import _in_job_group

    monkeypatch.setattr(SparkContext, "_gateway", None)

    def target():
        return 1

    assert _in_job_group(object(), target) is target
