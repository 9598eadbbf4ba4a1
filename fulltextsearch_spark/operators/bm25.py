"""BM25 ranked top-k over the index.

The reference engine has NO ranking (verified — SURVEY.md §0.1); BM25
(k1=1.2, b=0.75) and deterministic top-k come from our spec
(BASELINE.json north_star). Rank identity is verified against the
pure-Python oracle (fulltextsearch_spark/oracle/pyoracle.py) which
implements the same scoring over the same corpus.

Scoring semantics (mirrored exactly by the oracle):

- idf(t)    = ln(1 + (N - df + 0.5) / (df + 0.5))      (Robertson/Lucene)
- tfn(tf,dl)= tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
- leaf WORD/WILD/EDIT: expand to term set T;
      score(doc) = Σ_{t∈T, tf(t,doc)>0} idf(t)·tfn(tf(t,doc), dl)
- OR(children): doc qualifies if any child matched; score = Σ child scores
- AND(children): doc qualifies only if every child matched; score = Σ
- SEQ(terms): phrase occurrences per doc → tf_phrase; df_phrase = #docs
  with ≥1 phrase match; score = idf(df_phrase)·tfn(tf_phrase, dl)
- top-k: ORDER BY score DESC, doc_id ASC LIMIT k  (deterministic ties)

Scale shape: dictionary stats join is broadcast; per-(doc,term) scores
aggregate map-side; top-k is a TakeOrdered (no global sort
materialization). Block-max metadata (max_tf per block) gives an upper
score bound per block for WAND-style pruning — see `rank_terms_wand`.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fulltextsearch_spark import BM25_B, BM25_K1
from fulltextsearch_spark.plans import parser
from fulltextsearch_spark.plans.ast import AstQuery, EditAst, FuncAst, WildAst, WordAst
from fulltextsearch_spark.plans.planner import expanded_postings, plan_node


def _idf_col(n_docs: int):
    return F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )


def _tfn_col(tf_col, avgdl: float):
    return (tf_col * (BM25_K1 + 1.0)) / (
        tf_col + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / F.lit(avgdl))
    )


def _unique_term_doc_rows(index) -> bool:
    """True when posting rows are provably unique per (term, doc):
    single-field index, and (blocks modes) blocks never split a doc —
    the block_impacts manifest flag marks builds with that invariant.
    Then groupBy(term, doc).sum(tf) is the identity and its exchange
    can be elided from every scorer (guide §2.4: remove shuffles that
    re-derive an invariant the data already has)."""
    manifest = getattr(index, "manifest", None)
    if manifest is None:
        return False  # unknown layout (memory handles): keep the agg
    t = manifest["type"]
    if t.get("n_fields", 1) != 1:
        return False
    from fulltextsearch_spark.sources.index_io import BLOCK_MODES

    if index.mode in BLOCK_MODES and not t.get("block_impacts"):
        return False  # legacy blocks may split a doc across blocks
    return True


def _leaf_scores(
    index, node, n_docs: int, avgdl: float, postings_kwargs=None,
    doc_filter: DataFrame | None = None,
) -> DataFrame:
    """Terminal node → (doc_id, score). ``postings_kwargs`` (WORD
    leaves under AND) prunes the leg's blocks to the rarest sibling's
    doc neighborhood before decode (conj_postings_kwargs: doc windows,
    or exact block keys for scattered rare legs); ``doc_filter``
    (broadcast rare-doc relation, conj_doc_filter) semi-joins the rows
    before aggregation — idf/dl stay global (dictionary/doc_stats
    joins), and AND keeps only docs present in every child, all of
    which lie in the rarest leg's doc set, so scores are exact."""
    if postings_kwargs and isinstance(node, WordAst):
        postings = index.postings(
            exact_terms=[node.value], **postings_kwargs
        )
    else:
        postings = expanded_postings(index, node)
    if doc_filter is not None:
        postings = postings.join(
            F.broadcast(doc_filter), "doc_id", "left_semi"
        )
    return _bm25_doc_scores(
        index, postings, index.dictionary(), n_docs, avgdl,
        single_term=isinstance(node, WordAst),
    )


def _bm25_doc_scores(
    index,
    postings: DataFrame,
    dictionary: DataFrame,
    n_docs: int,
    avgdl: float,
    single_term: bool,
) -> DataFrame:
    """Posting rows (term, doc_id, tf) → per-doc BM25 (doc_id, score):
    the scoring tail of the exhaustive leaf scorer and of both WAND
    decode passes. ``dictionary`` supplies df per term (broadcast).
    Doc-level tf per term is the sum over fields; on a single-field
    index rows are already (term, doc)-unique, so that aggregation (and
    its exchange) is an identity and is skipped — and for a single
    term, so is the per-doc sum, leaving a shuffle-free score plan."""
    unique_rows = _unique_term_doc_rows(index)
    if unique_rows:
        doc_tf = postings.select(
            "term", "doc_id", F.col("tf").cast("long").alias("tf")
        )
    else:
        doc_tf = postings.groupBy("term", "doc_id").agg(
            F.sum("tf").alias("tf")
        )
    scored = (
        doc_tf.join(F.broadcast(dictionary), "term")
        .join(index.doc_stats(), "doc_id")
        .select(
            "doc_id",
            (_idf_col(n_docs) * _tfn_col(F.col("tf"), avgdl)).alias("s"),
        )
    )
    if unique_rows and single_term:
        return scored.select("doc_id", F.col("s").alias("score"))
    return scored.groupBy("doc_id").agg(F.sum("s").alias("score"))


def _phrase_scores(index, node: FuncAst, n_docs: int, avgdl: float) -> DataFrame:
    """Phrase BM25 as ONE execution of the phrase join: df_phrase (the
    count of docs with ≥1 phrase match) rides as a GLOBAL WINDOW count
    over the per-doc tf rows. The previous shape — a broadcast 1-row
    aggregate over "the same" doc_tf subplan — was never actually
    reused: the aggregate branch prunes columns differently, so the
    whole phrase join (two decodes + the position join) planned and
    EXECUTED twice (plans/r06/q_bm25_seq_before.txt shows both
    subtrees). The window moves the ~one-row-per-matching-doc (doc_id,
    tf) relation to one partition for the count — trivial next to a
    second phrase execution at any scale. Zero matches → empty doc_tf
    → empty result, no special case."""
    from pyspark.sql import Window

    matches = plan_node(index, node)  # (doc_id, field_id, positions)
    doc_tf = matches.groupBy("doc_id").agg(F.count("*").alias("tf"))
    dfp = F.count("*").over(Window.partitionBy()).cast("double")
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("dfp") + F.lit(0.5)) / (F.col("dfp") + F.lit(0.5))
    )
    return (
        doc_tf.withColumn("dfp", dfp)
        .join(index.doc_stats(), "doc_id")
        .select("doc_id", (idf * _tfn_col(F.col("tf"), avgdl)).alias("score"))
    )


def score_node(index, node: AstQuery, n_docs: int, avgdl: float) -> DataFrame:
    """(doc_id, score) for docs matching the node."""
    if isinstance(node, (WordAst, WildAst, EditAst)):
        return _leaf_scores(index, node, n_docs, avgdl)
    if isinstance(node, FuncAst):
        if node.name == "SEQ":
            if len(node.args) == 1:
                return _leaf_scores(index, node.args[0], n_docs, avgdl)
            return _phrase_scores(index, node, n_docs, avgdl)
        if not node.args:
            return index.spark.createDataFrame([], "doc_id long, score double")
        if node.name == "OR":
            children = [score_node(index, a, n_docs, avgdl) for a in node.args]
            return (
                reduce(DataFrame.unionAll, children)
                .groupBy("doc_id")
                .agg(F.sum("score").alias("score"))
            )
        if node.name == "AND":
            # all-WORD AND: the rarest leg's doc neighborhood prunes
            # the other legs' decode (see _leaf_scores; planner twin
            # in plans/planner.py plan_node)
            from fulltextsearch_spark.plans.planner import (
                conj_doc_filter,
                conj_postings_kwargs,
            )

            # pruning from the DIRECT WORD children only (mixed children
            # included — same safety argument as the planner twin: any
            # qualifying doc contains every direct WORD child); a direct
            # WORD term absent from the dictionary empties the AND
            word_terms = [a.value for a in node.args if isinstance(a, WordAst)]
            kw = conj_postings_kwargs(index, word_terms) if word_terms else {}
            if kw is None:  # a direct term is absent -> no doc qualifies
                return index.spark.createDataFrame(
                    [], "doc_id long, score double"
                )
            doc_filter = (
                conj_doc_filter(index, word_terms) if word_terms else None
            )
            children = [
                _leaf_scores(
                    index,
                    a,
                    n_docs,
                    avgdl,
                    postings_kwargs=kw.get(a.value),
                    doc_filter=doc_filter,
                )
                if isinstance(a, WordAst)
                else score_node(index, a, n_docs, avgdl)
                for a in node.args
            ]
            return reduce(
                lambda a, b: a.join(b, "doc_id").select(
                    "doc_id", (a["score"] + b["score"]).alias("score")
                ),
                children,
            )
        raise ValueError(f"unknown operator {node.name}")
    raise TypeError(f"unknown AST node {node!r}")


def _flat_word_terms(ast: AstQuery) -> list[str] | None:
    """Distinct term list when the AST is WORD or OR-of-WORDs — the
    shapes block-max WAND can serve. Duplicated terms disqualify: OR is
    duplicate-preserving, so a doubled child doubles its score
    contribution, which the per-term WAND aggregation would collapse."""
    if isinstance(ast, WordAst):
        return [ast.value]
    if isinstance(ast, FuncAst) and ast.name == "OR" and ast.args:
        terms = []
        for a in ast.args:
            if not isinstance(a, WordAst):
                return None
            terms.append(a.value)
        return terms if len(set(terms)) == len(terms) else None
    return None


# WAND pays for its two extra driver round-trips (seed scoring + the
# pruning threshold) only when the avoided block decodes dominate —
# i.e. on large collections. Below this doc count the exhaustive
# scorer's single job is strictly faster (measured: 2x at 50k docs).
WAND_MIN_DOCS = 200_000

# Blocks decoded in the seed phase (at least k). The threshold θ is the
# k-th best EXACT score among seed docs: a k-block seed gives θ ≈ the
# min of the seed blocks' maxima, far below the true k-th score when
# per-doc scores are compressed (hot terms: BM25's tf saturation packs
# every block's max into a narrow band), so pruning barely fired
# (measured 125/159 blocks surviving at 30k docs). Seeding a fixed 32
# blocks costs ~128k decoded occurrences — noise at WAND scale — and
# tightens θ to ≈ the true k-th score, since exact impact bounds make
# the top-ub blocks the ones actually holding the top docs (measured:
# survivors drop to ≈ the blocks containing true top-k docs).
WAND_SEED_BLOCKS = 32

# multi-term residual alignment grid: the index's doc-id SPAN (manifest
# doc_id_range high water, NOT n_docs — preassigned ids may be sparse)
# splits into this many cells; per term the exploded (block, cell)
# metadata is bounded by GRID_CELLS + that term's block count, so the
# residual pass stays linear no matter the corpus size
GRID_CELLS = 4096

# Routing gates (rank quality is unaffected — every route is exact):
# WAND's seed/grid phases only pay when they can skip >~half the decode
# work. Candidate sets at/below ~2 seed budgets route straight to the
# one-job exhaustive decode (Gate A); multi-term queries whose predicted
# survivor fraction at an estimated θ exceeds this route exhaustive
# before any seed decode (Gate P); after θ is known, a measured survivor
# fraction above this drops the residual-join decode for the plain full
# decode (Gate B).
WAND_MAX_SURVIVOR_FRAC = 0.5

# Gate P's θ estimate, as a fraction of θ_cap = the top cell's combined
# bound (no doc can score above θ_cap, so 1.0 would be the certain
# floor). Hot tf-saturated term pairs land their true θ in this band —
# their per-block bounds sit in a narrow band just under the cap, so
# survivors at 0.8·cap ≈ survivors at real θ ≈ all of them (measured:
# t0,t1 passed the 1.0-cap floor check, then decoded 1965/1965 after
# paying the full seed+grid round-trips). Spread-heavy candidates (the
# genuinely prunable shape: long-tail blocks far under the top ones)
# stay well below this gate either way.
WAND_THETA_EST_FRAC = 0.8

# Seed round-trip pricing (VERDICT r5 #2): Gate A used to compare the
# candidate count to the seed budget only, but the WAND route pays a
# whole extra job (seed decode + collect + schedule) that the one-job
# exhaustive decode does not. Priced in block-decode units so the gates
# stay metadata-only: even a PERFECT prune (surviving ≈ the seed set)
# saves at most candidates − 2·seed-budget decodes, so WAND routes only
# when that best case exceeds this overhead; Gate P (multi-term)
# additionally requires the PREDICTED saving at θ_est — candidates −
# predicted survivors − the seed decode itself — to clear it. The value
# is the per-job fixed cost measured at local[32] (~0.3 s) over the
# per-block decode cost (~3.5 ms: q_bm25_or skipped ~250 blocks for a
# 0.9 s win). On a real cluster per-block wall cost shrinks with
# executor count while job submit latency does not, so the best value
# grows with the cluster; the gate only picks between two exact routes,
# so any value is rank-safe.
WAND_ROUNDTRIP_OVERHEAD_BLOCKS = 64


def _id_span(index, n_docs: int) -> int:
    """Doc-id upper bound + 1 for the alignment grid — the manifest's
    committed doc_id_range high water (zero Spark jobs). Falls back to
    n_docs for handles without a manifest (memory indexes). Sparse
    preassigned ids (build_index allows them) make n_docs alone wrong:
    cell width would collapse and the grid explode could emit millions of
    cells per block (ADVICE r3 medium)."""
    manifest = getattr(index, "manifest", None) or {}
    id_hi = max(
        (
            s["doc_id_range"][1]
            for s in manifest.get("segments", [])
            if s.get("committed")
        ),
        default=n_docs - 1,
    )
    return max(id_hi + 1, n_docs, 1)


def _wand_eligible(index, terms: list[str] | None, force: bool | None) -> bool:
    """WAND needs a blocks-mode index. Multi-field corpora additionally
    need impact frontiers (manifest flag ``block_impacts``): impact tf
    is the per-doc tf SUMMED over fields and blocks never split a doc,
    so the bound stays score-safe; without impacts the per-(doc,field)
    max_tf bound would undercount split docs. Cost-based gate on top:
    collections below WAND_MIN_DOCS take the exhaustive single-job path
    (override with ``force``)."""
    from fulltextsearch_spark.sources.index_io import BLOCK_MODES

    if force is not None and not force:
        return False
    mtype = index.manifest["type"] if getattr(index, "manifest", None) else {}
    structural = (
        terms is not None
        and getattr(index, "mode", None) in BLOCK_MODES
        and (mtype.get("n_fields", 1) == 1 or mtype.get("block_impacts"))
    )
    if not structural:
        return False
    if force:
        return True
    return index.collection_stats()[0] >= WAND_MIN_DOCS


def rank_query(
    index, query: str, k: int = 10, force_wand: bool | None = None
) -> DataFrame:
    """Deterministic BM25 top-k: (doc_id, score).

    Flat term queries (WORD / OR-of-distinct-WORDs) on a single-field
    blocks-mode index of ≥ WAND_MIN_DOCS docs route through block-max
    WAND pruning (`rank_terms_wand`); everything else takes the
    exhaustive scorer. Both paths are rank-identical (test_wand.py)."""
    ast = parser.parse(query)
    terms = _flat_word_terms(ast)
    if _wand_eligible(index, terms, force_wand):
        return rank_terms_wand(index, terms, k)
    return rank_query_exhaustive(index, query, k)


def rank_query_exhaustive(index, query: str, k: int = 10) -> DataFrame:
    """The exhaustive scorer (no block-max pruning) — WAND's
    rank-identity reference, and the path for non-flat ASTs."""
    ast = parser.parse(query)
    n_docs, avgdl = index.collection_stats()
    scores = score_node(index, ast, n_docs, avgdl)
    return scores.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def _rank_wand_driver_cp(
    index,
    terms: list[str],
    k: int,
    stats: dict | None,
    gates: bool,
    meta,
    n_docs: int,
    avgdl: float,
) -> DataFrame:
    """Block-max WAND's control plane: numpy over ``meta``, the
    candidate blocks' metadata table (term, first/last_doc, n_docs,
    max_tf, impact frontiers — never payloads) from Index.block_meta.
    The table has two sources — the driver's own pyarrow read of the
    bucket files, or one payload-free Spark collect when those files are
    not driver-listable (or FTS_NO_LOCAL_FAST_PATH is set) — and this
    plane cannot tell them apart. Per-term ub aggregates, Gate P's
    θ_cap/floor count, the seed-cell ranking and Gate B's survivor
    count are numpy over a few thousand rows, so a WAND-routed query
    runs exactly TWO Spark jobs past the metadata (seed decode+score,
    survivor decode+score) and an exhaustive-routed one runs ONE.
    ``meta`` is None when the term set owns more than
    LOCAL_META_MAX_BLOCKS blocks: the query then routes to the full
    decode ("exhaustive_over_budget", rank-exact, no pruning). Seed/
    survivor block sets are pushed as broadcast (term, first_doc) key
    joins — never giant IN literals, no extra jobs."""
    import numpy as np
    import pandas as pd

    from fulltextsearch_spark.operators.build import decode_blocks

    dictionary = index.dictionary().where(F.col("term").isin(terms))
    blocks = index.blocks(exact_terms=terms)
    nblocks = None if meta is None else meta.num_rows

    def exact_scores(bdf) -> DataFrame:
        postings = decode_blocks(
            bdf.select("term", "payload"), codec=index.mode
        )
        return _bm25_doc_scores(
            index, postings, dictionary, n_docs, avgdl,
            single_term=len(set(terms)) == 1,
        )

    def finish(bdf, route: str, n_seeded: int, n_decoded) -> DataFrame:
        if stats is not None:
            stats["n_blocks"] = nblocks
            stats["n_blocks_seeded"] = n_seeded
            stats["n_blocks_decoded"] = n_decoded
            stats["route"] = route
        return (
            exact_scores(bdf)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    if meta is None:
        return finish(blocks, "exhaustive_over_budget", 0, None)
    if nblocks == 0:
        return index.spark.createDataFrame([], "doc_id long, score double")
    k1, b = BM25_K1, BM25_B
    term_col = np.array(meta.column("term").to_pylist(), dtype=object)
    first = meta.column("first_doc").to_numpy()
    last = meta.column("last_doc").to_numpy()
    max_tf = meta.column("max_tf").to_numpy().astype(np.float64)
    n_docs_b = meta.column("n_docs").to_numpy().astype(np.int64)
    # per-block exact impact bound (empty/absent frontier -> dl→0 fallback;
    # legacy segments have no imp columns at all)
    fallback = max_tf * (k1 + 1.0) / (max_tf + k1 * (1.0 - b))
    if "imp_tf" in meta.column_names:
        imp_tf = meta.column("imp_tf").combine_chunks()
        imp_dl = meta.column("imp_dl").combine_chunks()
        off = imp_tf.offsets.to_numpy().astype(np.int64)
        tfv = imp_tf.values.to_numpy().astype(np.float64)
        dlv = imp_dl.values.to_numpy().astype(np.float64)
        tfn_flat = tfv * (k1 + 1.0) / (tfv + k1 * (1.0 - b + b * dlv / avgdl))
        lens = off[1:] - off[:-1]
        seg_max = np.full(nblocks, -np.inf)
        ne = lens > 0
        if ne.any():
            # empty segments are zero-width in the flat values, so reducing
            # between consecutive NON-EMPTY starts covers each exactly
            seg_max[ne] = np.maximum.reduceat(tfn_flat, off[:-1][ne])
        tfn_ub = np.where(np.isfinite(seg_max), seg_max, fallback)
    else:
        tfn_ub = fallback
    # df from block metadata: blocks never split a doc and doc ranges
    # are disjoint, so Σ n_docs per term IS the document frequency
    uterms, tinv = np.unique(term_col, return_inverse=True)
    df_t = np.zeros(len(uterms), dtype=np.float64)
    np.add.at(df_t, tinv, n_docs_b)
    idf_t = np.log(1.0 + (float(n_docs) - df_t + 0.5) / (df_t + 0.5))
    ub = idf_t[tinv] * tfn_ub

    def key_join(block_idx) -> DataFrame:
        keys = pd.DataFrame(
            {
                "term": term_col[block_idx],
                "first_doc": pd.Series(first[block_idx], dtype="int64"),
            }
        )
        return blocks.join(
            F.broadcast(
                index.spark.createDataFrame(
                    keys, "term string, first_doc long"
                )
            ),
            ["term", "first_doc"],
        )

    n_seed = max(k, WAND_SEED_BLOCKS)
    # Gate A with the seed round-trip priced in: a WAND route decodes
    # ≥ n_seed blocks seeding and ≥ ~n_seed surviving, so its best-case
    # saving is nblocks − 2·n_seed decodes — worth a second job only
    # when that clears the job's fixed cost (VERDICT r5 #2).
    if gates and nblocks <= 2 * n_seed + WAND_ROUNDTRIP_OVERHEAD_BLOCKS:
        return finish(blocks, "exhaustive_small", 0, nblocks)
    others_ub = None
    if len(uterms) == 1:
        # No single-term Gate P: a term's per-block ubs sit in a ~1%
        # band (bench t0: median/max = 0.99), so no metadata θ estimate
        # can resolve where the true θ lands inside it — 0.8·max
        # predicts 100% survivors where the measured prune skips 74%.
        # Gate A prices the seed round-trip instead, and Gate B still
        # catches a θ that failed to prune after the (cheap) seed pass.
        seed_blocks = np.argsort(-ub, kind="stable")[:n_seed]
    else:
        # doc-range-grid residuals (see rank_terms_wand docstring for
        # the math)
        cell_w = max(1, -(-_id_span(index, n_docs) // GRID_CELLS))
        c0 = first // cell_w
        c1 = last // cell_w
        cnt = (c1 - c0 + 1).astype(np.int64)
        inc_block = np.repeat(np.arange(nblocks), cnt)
        starts = np.cumsum(cnt) - cnt
        inc_cell = (
            np.repeat(c0, cnt) + np.arange(cnt.sum()) - np.repeat(starts, cnt)
        ).astype(np.int64)
        ncells = int(c1.max()) + 1
        gub = np.zeros((len(uterms), ncells))
        np.maximum.at(gub, (tinv[inc_block], inc_cell), ub[inc_block])
        tot = gub.sum(axis=0)
        others_cell = tot[None, :] - gub
        others_ub = np.full(nblocks, -np.inf)
        np.maximum.at(
            others_ub, inc_block, others_cell[tinv[inc_block], inc_cell]
        )
        if gates:  # Gate P — zero jobs, zero decode
            theta_est = tot.max() * WAND_THETA_EST_FRAC
            n_floor = int((ub + others_ub >= theta_est).sum())
            if (
                n_floor > WAND_MAX_SURVIVOR_FRAC * nblocks
                or nblocks - n_floor
                <= n_seed + WAND_ROUNDTRIP_OVERHEAD_BLOCKS
            ):
                return finish(blocks, "exhaustive_unprunable", 0, nblocks)
        nb = np.zeros(ncells, dtype=np.int64)
        np.add.at(nb, inc_cell, 1)
        order = np.argsort(-tot, kind="stable")[:64]
        picked, budget = [], 0
        for c in order:
            picked.append(int(c))
            budget += int(nb[c])
            if budget >= n_seed:
                break
        pick_mask = np.isin(inc_cell, np.array(picked, dtype=np.int64))
        seed_blocks = np.unique(inc_block[pick_mask])
    seeded_n = len(seed_blocks)
    seed_scores = (
        exact_scores(key_join(seed_blocks))
        .orderBy(F.desc("score"))
        .limit(k)
        .collect()
    )
    if len(seed_scores) < k:
        return finish(blocks, "exhaustive_underfull", seeded_n, nblocks)
    theta = seed_scores[-1]["score"]
    surv_mask = (
        ub >= theta if others_ub is None else ub + others_ub >= theta
    )
    n_surv = int(surv_mask.sum())
    if gates and n_surv > WAND_MAX_SURVIVOR_FRAC * nblocks:
        return finish(blocks, "exhaustive_post_theta", seeded_n, nblocks)
    return finish(
        key_join(np.nonzero(surv_mask)[0]), "wand", seeded_n, n_surv
    )


def rank_terms_wand(
    index,
    terms: list[str],
    k: int = 10,
    stats: dict | None = None,
    gates: bool = True,
) -> DataFrame:
    """Block-max WAND top-k over a term set (blocks mode) — score-safe.

    Per-block score upper bound from the stored impact frontier (the
    block's Pareto-maximal (doc tf, doc dl) pairs, operators/build.py):

        ub = idf(term) · max_i tfn(imp_tf[i], imp_dl[i])

    evaluated at the live avgdl — the EXACT maximum score any doc in
    the block can contribute (impact tf sums a doc's fields and blocks
    never split a doc; impact dl lower-bounds the true dl, and tfn is
    ↓ in dl, so multi-field bounds only over-estimate). Blocks without
    impacts (legacy segments) fall back to the dl→0 majorization
    tfn(max_tf, 0). Two phases:

    1. SEED: single-term queries decode the highest-ub blocks.
       Multi-term queries seed BY CELL: the top grid cells by combined
       per-cell bound, decoding every query term's blocks that touch
       them — a doc inside a seed cell therefore gets its COMPLETE
       multi-term score (each of its term-blocks touches its cell),
       which puts θ at the true combined-score level. (Seeding by
       individual blocks leaves seeded docs missing the other terms'
       contributions, θ lands a term's share low, and nothing prunes.)
       All seed scores are exact or underestimates, so θ ≤ the true
       k-th score — conservative, never unsafe.
    2. PRUNE with doc-range-grid residuals (classic block-max WAND
       alignment): doc ids are dense 0..n_docs-1, so a fixed grid of
       GRID_CELLS cells of width A = ⌈n_docs / GRID_CELLS⌉ covers the
       corpus, and each block maps to the cells its [first_doc,
       last_doc] span touches. For any doc d in cell c and term u,
       contrib_u(d) ≤ gub(u, c) := max ub over u's blocks touching c.
       Keep block b of term t iff
           ub_t(b) + max_{c ∈ cells(b)} Σ_{u≠t} gub(u, c) ≥ θ
       — a pruned block's every doc d sits in some cell c with total
       score ≤ ub_t + Σ_{u≠t} gub(u, c) < θ ≤ true k-th score, so no
       true top-k doc ever loses a contribution. Decode survivors,
       score exactly, take top-k. The cell-local residual is strictly
       tighter than a global Σ ubmax (gub ≤ ubmax, and 0 in cells
       where the other term has no postings at all), which is what
       lets same-grade multi-term OR queries prune. The explode is
       bounded by construction: per term, blocks are doc-disjoint, so
       Σ_b cells(b) ≤ GRID_CELLS + n_blocks(term) — linear metadata
       work at any corpus size.

    Verified rank-identical to the exhaustive scorer in tests
    (test_wand.py), including multi-field compound indexes (impact
    frontiers required — no-impacts multi-field indexes raise and
    rank_query routes them to the exhaustive path).

    Cost gates (routing only — every route returns exact ranks): Gate A
    skips seed/grid for candidate sets ≤ 2× the seed budget; Gate P
    (multi-term) counts best-case survivors at θ_cap = the top cell's
    combined bound before any payload decode and routes unprunable
    queries (same-grade hot pairs) to the one-job full decode; Gate B
    re-checks the measured survivor fraction after θ. All three read
    only the block-metadata table.

    One control plane (_rank_wand_driver_cp), two metadata sources
    behind Index.block_meta: the driver's pyarrow read of the terms'
    bucket files when they are listable and the fast path is on, else
    one payload-free Spark collect of the same columns. Both are
    memoized per term set on the handle. A term set over
    LOCAL_META_MAX_BLOCKS blocks (≈ 4·10^9 occurrences) gets no table
    and routes to the full decode ("exhaustive_over_budget"): exact,
    but without pruning.

    ``stats``, when given, receives {"n_blocks": total candidate blocks,
    "n_blocks_seeded": DISTINCT blocks decoded by the seed phase,
    "n_blocks_decoded": blocks decoded by the final pass, "route": which
    gate routed ("wand" | "exhaustive_small" | "exhaustive_unprunable" |
    "exhaustive_underfull" | "exhaustive_post_theta" |
    "exhaustive_over_budget")} for prune-ratio reporting. Over budget,
    "n_blocks" and "n_blocks_decoded" are None (not counted).

    Scale shape: the residual side (per-(cell, term) maxima) is block
    METADATA — ~1 row per 4096 occurrences, explode-bounded by the
    grid; no payload is touched before the survivor decode.
    """
    manifest = getattr(index, "manifest", None)
    mtype = manifest["type"] if manifest else {}
    if mtype.get("n_fields", 1) != 1 and not mtype.get("block_impacts"):
        raise ValueError(
            "block-max WAND on a multi-field index requires impact "
            "frontiers (per-(doc,field) max_tf is unsafe when a doc's "
            "tf splits across fields) — rebuild, or use the exhaustive path"
        )
    n_docs, avgdl = index.collection_stats()
    avgdl = avgdl or 1.0  # empty index: avoid a 0-division in the bound
    return _rank_wand_driver_cp(
        index, terms, k, stats, gates, index.block_meta(terms), n_docs, avgdl
    )
