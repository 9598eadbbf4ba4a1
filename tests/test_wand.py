"""Block-max WAND pruning is score-safe: rank-identical to the
exhaustive scoring path for every query/k tried."""

import pytest

from fulltextsearch_spark.operators.bm25 import (
    rank_query_exhaustive,
    rank_terms_wand,
)
from fulltextsearch_spark.sources.index_io import Index, build_index
from fulltextsearch_spark.sources.pages import synth_pages


@pytest.fixture(scope="module")
def synth_blocks_idx(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("wand_idx"))
    build_index(spark, synth_pages(spark, 400), root, mode="blocks")
    return Index.open(spark, root)


@pytest.mark.parametrize(
    "terms,k",
    [
        (["t0"], 10),
        (["t0"], 3),
        (["t17"], 5),
        (["t3", "t11"], 10),
        (["t0", "t500", "zmarkerz"], 5),
        (["nosuchterm"], 5),
    ],
)
def test_wand_rank_identical_to_exhaustive(spark, synth_blocks_idx, terms, k):
    idx = synth_blocks_idx
    query = (
        f"WORD({terms[0]})"
        if len(terms) == 1
        else "OR(" + ",".join(f"WORD({t})" for t in terms) + ")"
    )
    exhaustive = [
        (r["doc_id"], round(r["score"], 9))
        for r in rank_query_exhaustive(idx, query, k).collect()
    ]
    # force the WAND route through the production rank_query wiring
    # (the 400-doc fixture is below the WAND_MIN_DOCS cost gate)
    from fulltextsearch_spark.operators.bm25 import rank_query

    wand = [
        (r["doc_id"], round(r["score"], 9))
        for r in rank_query(idx, query, k, force_wand=True).collect()
    ]
    assert wand == exhaustive


def test_rank_query_routes_flat_terms_to_wand(spark, synth_blocks_idx):
    """Production wiring: idx.rank on a blocks-mode single-field index
    takes the WAND path for WORD/OR-of-WORDs above the cost gate, and
    block-max pruning actually skips decodes on a hot single term."""
    idx = synth_blocks_idx
    stats: dict = {}
    top = rank_terms_wand(idx, ["t0"], 5, stats=stats).collect()
    assert len(top) == 5
    assert stats["n_blocks"] >= stats["n_blocks_decoded"] >= 1
    # eligibility: structural conditions + the cost gate
    from fulltextsearch_spark.operators.bm25 import (
        _flat_word_terms,
        _wand_eligible,
    )
    from fulltextsearch_spark.plans import parser

    assert _wand_eligible(idx, ["t0"], force=True)
    assert not _wand_eligible(idx, ["t0"], force=None)  # 400 docs < gate
    assert not _wand_eligible(idx, None, force=True)  # non-flat AST
    # duplicate terms must NOT take the WAND path (OR keeps duplicates)
    assert _flat_word_terms(parser.parse("OR(WORD(t0),WORD(t0))")) is None
    assert _flat_word_terms(parser.parse("OR(WORD(t0),SEQ(WORD(t1)))")) is None
    assert _flat_word_terms(parser.parse("WORD(t3)")) == ["t3"]


def test_wand_multi_term_grid_residuals_prune(spark, tmp_path):
    """Same-grade two-term OR where the terms live in DISJOINT doc
    regions: a global-ubmax residual (θ − ubmax(other)) keeps every
    block, but the doc-range-grid residual sees gub(other, cell) = 0
    across each term's own region, so the long-tail blocks must clear
    θ alone and get pruned. Rank-identity must hold throughout."""
    import datetime

    from fulltextsearch_spark.sources.pages import PAGES_SCHEMA

    epoch = datetime.datetime(2020, 1, 1, tzinfo=datetime.timezone.utc)
    rows = []
    for region, term in (("a", "qleft"), ("b", "qright")):
        for i in range(20):  # short, high-tf docs -> top scores
            rows.append(
                (f"{region}0{i:05d}", epoch, b"", " ".join([term] * 120), "en")
            )
        for i in range(5000):  # long tail: tf=1 inside longer docs
            text = f"{term} " + " ".join(f"{region}w{i}x{j}" for j in range(50))
            rows.append((f"{region}1{i:05d}", epoch, b"", text, "en"))
    pages = spark.createDataFrame(rows, PAGES_SCHEMA)
    root = str(tmp_path / "wand_grid")
    build_index(spark, pages, root, mode="blocks")
    idx = Index.open(spark, root)

    stats: dict = {}
    top = [
        (r["doc_id"], round(r["score"], 9))
        for r in rank_terms_wand(
            idx, ["qleft", "qright"], 10, stats=stats, gates=False
        ).collect()
    ]
    exhaustive = [
        (r["doc_id"], round(r["score"], 9))
        for r in rank_query_exhaustive(
            idx, "OR(WORD(qleft),WORD(qright))", 10
        ).collect()
    ]
    assert top == exhaustive
    # the global-ubmax residual would decode ALL blocks here (both
    # terms' ubmax exceed θ − ubmax(other)); the grid residual prunes
    assert stats["n_blocks_decoded"] < stats["n_blocks"], stats


def _wand_run(idx, terms, k, gates):
    stats: dict = {}
    rows = [
        (r["doc_id"], round(r["score"], 9))
        for r in rank_terms_wand(
            idx, terms, k, stats=stats, gates=gates
        ).collect()
    ]
    return rows, stats


@pytest.mark.parametrize("gates", [True, False])
def test_wand_spark_meta_source_matches_local(
    spark, synth_blocks_idx, monkeypatch, gates
):
    """rank_terms_wand has one control plane fed by two block-metadata
    sources — the driver's pyarrow read (the interactive default) and a
    payload-free Spark collect (no driver-listable files, or the fast
    path off). Both must give the same table, hence the same ranks and
    the same routing, seed and decode counts."""
    idx = synth_blocks_idx
    cases = [(["t0"], 5), (["t3", "t11"], 10)]
    local = [
        (idx.block_meta(terms).to_pylist(), _wand_run(idx, terms, k, gates))
        for terms, k in cases
    ]
    monkeypatch.setenv("FTS_NO_LOCAL_FAST_PATH", "1")
    idx_off = Index.open(spark, idx.root)
    assert idx_off.local_block_meta(["t0"]) is None  # local source off
    for (terms, k), (meta, (rows, stats)) in zip(cases, local):
        assert idx_off.block_meta(terms).to_pylist() == meta
        got_rows, got_stats = _wand_run(idx_off, terms, k, gates)
        assert got_rows == rows
        assert set(got_stats) == {
            "n_blocks", "n_blocks_seeded", "n_blocks_decoded", "route"
        }
        assert got_stats == stats


@pytest.mark.parametrize("fast_path", [True, False])
def test_wand_over_budget_routes_exhaustive(
    spark, synth_blocks_idx, monkeypatch, fast_path
):
    """A term set owning more than LOCAL_META_MAX_BLOCKS blocks gets no
    metadata table from either source; rank_terms_wand then ranks it by
    the full decode — no seed phase, ranks still exact."""
    from fulltextsearch_spark.sources import index_io

    cases = [(["t0"], 5), (["t3", "t11"], 10)]
    for terms, _ in cases:
        assert synth_blocks_idx.block_meta(terms).num_rows > 1
    monkeypatch.setattr(index_io, "LOCAL_META_MAX_BLOCKS", 1)
    if not fast_path:
        monkeypatch.setenv("FTS_NO_LOCAL_FAST_PATH", "1")
    idx = Index.open(spark, synth_blocks_idx.root)  # fresh metadata memo
    for terms, k in cases:
        assert idx.block_meta(terms) is None
        rows, stats = _wand_run(idx, terms, k, gates=False)
        assert stats["route"] == "exhaustive_over_budget", stats
        assert stats["n_blocks_seeded"] == 0
        query = "OR(" + ",".join(f"WORD({t})" for t in terms) + ")"
        assert rows == [
            (r["doc_id"], round(r["score"], 9))
            for r in rank_query_exhaustive(idx, query, k).collect()
        ]


def test_wand_spark_meta_source_job_budget(
    spark, synth_blocks_idx, monkeypatch
):
    """The Spark metadata source costs at most ONE job on a fresh
    handle, and none when the same term set repeats (memoized per term
    set, in any order)."""
    from test_query_job_budget import _jobs_for

    monkeypatch.setenv("FTS_NO_LOCAL_FAST_PATH", "1")
    idx = Index.open(spark, synth_blocks_idx.root)
    # one-time handle warm-up outside the counted step: resolving the
    # blocks table (parquet schema inference) is one job, shared by
    # every later metadata read and decode on the handle
    idx.blocks()
    first = _jobs_for(
        spark, "wand-meta-1", lambda: idx.block_meta(["t3", "t11"])
    )
    assert first <= 1, first
    again = _jobs_for(
        spark, "wand-meta-2", lambda: idx.block_meta(["t11", "t3"])
    )
    assert again == 0, again


def test_wand_gate_small_candidate_set(spark, synth_blocks_idx):
    """Gate A: a candidate set at/below 2x the seed budget routes to the
    one-job exhaustive decode (round-3: the 3-block skew query paid 6.7s
    of seed/θ round-trips to prune nothing) — ranks unchanged."""
    idx = synth_blocks_idx
    stats: dict = {}
    top = [
        (r["doc_id"], round(r["score"], 9))
        for r in rank_terms_wand(idx, ["t0"], 5, stats=stats).collect()
    ]
    assert stats["route"] == "exhaustive_small"
    assert stats["n_blocks_decoded"] == stats["n_blocks"]
    assert stats["n_blocks_seeded"] == 0
    exhaustive = [
        (r["doc_id"], round(r["score"], 9))
        for r in rank_query_exhaustive(idx, "WORD(t0)", 5).collect()
    ]
    assert top == exhaustive


def test_wand_gate_unprunable_pair(spark, tmp_path, monkeypatch):
    """Gate P: two same-grade terms co-occurring in EVERY doc give
    near-uniform cell bounds — best-case survivors ≈ 100%, so the query
    must route to the exhaustive decode BEFORE any seed decode
    (round-3: q_bm25_or decoded 1961/1965 blocks through full WAND and
    lost 3x). Ranks stay identical."""
    import datetime

    from fulltextsearch_spark.operators import bm25
    from fulltextsearch_spark.sources.pages import PAGES_SCHEMA

    epoch = datetime.datetime(2020, 1, 1, tzinfo=datetime.timezone.utc)
    rows = []
    for i in range(8000):
        text = "ha ha ha hb hb hb " + " ".join(f"u{i}x{j}" for j in range(6))
        rows.append((f"g{i:05d}", epoch, b"", text, "en"))
    pages = spark.createDataFrame(rows, PAGES_SCHEMA)
    root = str(tmp_path / "wand_unprunable")
    build_index(spark, pages, root, mode="blocks")
    idx = Index.open(spark, root)
    # Gate A's seed round-trip pricing (VERDICT r5 #2): with the seed
    # budget shrunk the candidate set clears the old 2x-seed cutoff,
    # but its best-case decode saving cannot cover the extra job's
    # fixed cost — Gate A must route it to the one-job decode
    monkeypatch.setattr(bm25, "WAND_SEED_BLOCKS", 2)
    stats0: dict = {}
    rank_terms_wand(idx, ["ha", "hb"], 3, stats=stats0).collect()
    assert stats0["n_blocks"] > 2 * 2  # the pre-pricing cutoff passes
    assert stats0["route"] == "exhaustive_small", stats0
    # zero the pricing term so Gate P is what routes below
    monkeypatch.setattr(bm25, "WAND_ROUNDTRIP_OVERHEAD_BLOCKS", 0)
    stats: dict = {}
    top = [
        (r["doc_id"], round(r["score"], 9))
        for r in rank_terms_wand(idx, ["ha", "hb"], 3, stats=stats).collect()
    ]
    assert stats["route"] == "exhaustive_unprunable", stats
    assert stats["n_blocks_seeded"] == 0  # no payload decoded pre-route
    exhaustive = [
        (r["doc_id"], round(r["score"], 9))
        for r in rank_query_exhaustive(idx, "OR(WORD(ha),WORD(hb))", 3).collect()
    ]
    assert top == exhaustive


def test_wand_sparse_preassigned_ids(spark, tmp_path):
    """ADVICE r3 (medium): cell width derived from n_docs exploded
    millions of grid cells per block under sparse preassigned ids
    (build_index allows non-dense ids). The span now comes from the
    manifest's doc_id_range high water, so the explode stays bounded
    and the query completes rank-identical."""
    import datetime

    epoch = datetime.datetime(2020, 1, 1, tzinfo=datetime.timezone.utc)
    rows = []
    for i in range(400):
        term = "sa" if i % 2 == 0 else "sb"
        text = f"{term} " + " ".join(f"f{i}x{j}" for j in range(i % 17 + 3))
        # ids jump by ~1e7: max id ~4e9 >> n_docs = 400
        rows.append((1 + i * 10_000_000, f"s{i:05d}", epoch, text, "en"))
    pages = spark.createDataFrame(
        rows, "doc_id long, url string, warc_ts timestamp, text string, lang string"
    )
    root = str(tmp_path / "wand_sparse")
    build_index(spark, pages, root, mode="blocks", preassigned_ids=True)
    idx = Index.open(spark, root)
    from fulltextsearch_spark.operators.bm25 import _id_span

    assert _id_span(idx, 400) == 1 + 399 * 10_000_000 + 1
    # gates=False forces the grid/residual machinery the bug lived in
    top = [
        (r["doc_id"], round(r["score"], 9))
        for r in rank_terms_wand(
            idx, ["sa", "sb"], 10, gates=False
        ).collect()
    ]
    exhaustive = [
        (r["doc_id"], round(r["score"], 9))
        for r in rank_query_exhaustive(idx, "OR(WORD(sa),WORD(sb))", 10).collect()
    ]
    assert top == exhaustive


def test_wand_prunes_blocks_on_score_spread(spark, tmp_path):
    """Block-max pruning demonstrably skips decodes when blocks have a
    real score spread: a few SHORT docs repeat the term many times
    (high tfn), the long tail has tf=1 in long docs (low tfn). The
    high-tf docs get low doc ids (url order), so they concentrate in
    the first blocks; later blocks' ub falls below the top-k threshold
    and never decode."""
    import datetime

    from pyspark.sql import types as T

    from fulltextsearch_spark.sources.pages import PAGES_SCHEMA

    epoch = datetime.datetime(2020, 1, 1, tzinfo=datetime.timezone.utc)
    rows = []
    for i in range(30):  # short, high-tf docs -> top scores
        text = " ".join(["pms"] * 150)
        rows.append((f"a{i:05d}", epoch, b"", text, "en"))
    for i in range(9000):  # long tail: tf=1 inside longer docs
        text = "pms " + " ".join(f"w{i}x{j}" for j in range(60))
        rows.append((f"b{i:05d}", epoch, b"", text, "en"))
    pages = spark.createDataFrame(rows, PAGES_SCHEMA)
    root = str(tmp_path / "wand_spread")
    build_index(spark, pages, root, mode="blocks")
    idx = Index.open(spark, root)

    stats: dict = {}
    top = [
        (r["doc_id"], round(r["score"], 9))
        for r in rank_terms_wand(
            idx, ["pms"], 10, stats=stats, gates=False
        ).collect()
    ]
    exhaustive = [
        (r["doc_id"], round(r["score"], 9))
        for r in rank_query_exhaustive(idx, "WORD(pms)", 10).collect()
    ]
    assert top == exhaustive
    assert stats["n_blocks_decoded"] < stats["n_blocks"], stats
