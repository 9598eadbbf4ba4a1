"""Query planner: AST → DataFrame plan.

Replaces the reference's Volcano-style pull-iterator operator tree
(FullTextQueryCompiler.cs:19-126, SURVEY.md §2.D, §3.2) with a
declarative DataFrame per AST node. Semantics reproduced:

- WORD/WILD/EDIT expand to a term set via the dictionary/postings
  filter (D3-D5); zero expansions == NullQuery == empty DataFrame (D12).
- OR is a duplicate-preserving union (OrQuery/OrMultiQuery merge keeps
  duplicates — OrMultiQueryTest.cs:29-36, SURVEY.md §2.D8/D9). Distinct
  sub-queries over distinct terms cannot collide, but duplicated
  sub-queries do and must stay duplicated — `unionAll` does exactly that.
- SEQ is exact positional adjacency: matches[i-1].pos + 1 == matches[i].pos
  (PhraseQuery.cs:62), args must be WORD terms (FullTextQueryCompiler.cs:103-110).
- AND is Boolean conjunction per the README spec (README.md:87-91; the
  reference parses but cannot execute it — SURVEY.md §0.2): documents
  containing all operands; emitted matches are every operand's matches
  within qualifying documents.

Result schema (the reference's IMatch stream, SURVEY.md §1.1):
    (doc_id long, field_id int, positions array<int>)
positions has length 1 for term matches, k for k-term phrases.

Scale shape: term expansion is a broadcast-sized dictionary filter;
posting scans prune by term-hash bucket (partition pruning) + pushed
term predicates; AND is a semi-join on doc_id; SEQ joins co-keyed
posting rows on (doc_id, field_id) — per-doc position arrays, 1 shuffle
per phrase leg, no exploded-occurrence shuffle.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fulltextsearch_spark.plans import parser
from fulltextsearch_spark.plans.ast import (
    AstQuery,
    EditAst,
    FuncAst,
    WildAst,
    WordAst,
)

MATCH_SCHEMA = "doc_id long, field_id int, positions array<int>"


def wildcard_to_like(pattern: str) -> str:
    """Reference wildcard (`*` any run, `?` one char; anchored) → SQL LIKE.

    Reference automaton: Automata/Wildcard/AutomatonWildcard.cs:25-51.
    LIKE is anchored full-string, so semantics coincide after escaping.
    """
    out = []
    for c in pattern:
        if c == "*":
            out.append("%")
        elif c == "?":
            out.append("_")
        elif c in ("%", "_", "\\"):
            out.append("\\" + c)
        else:
            out.append(c)
    return "".join(out)


def term_predicate(node: AstQuery) -> Column:
    """Dictionary/posting filter for a terminal pattern (D3-D5)."""
    t = F.col("term")
    if isinstance(node, WordAst):
        return t == F.lit(node.value)
    if isinstance(node, WildAst):
        return t.like(wildcard_to_like(node.value))
    if isinstance(node, EditAst):
        # Levenshtein automaton == unit-cost edit distance (D5);
        # length band is a cheap prune that cannot change the result.
        w, d = node.value, node.distance
        return (F.abs(F.length(t) - F.lit(len(w))) <= F.lit(d)) & (
            F.levenshtein(t, F.lit(w)) <= F.lit(d)
        )
    raise TypeError(f"not a terminal: {node!r}")


# WILD/EDIT expansions larger than this fall back to a predicate scan
# of the postings (a pattern matching this many distinct terms is a
# near-full dictionary scan anyway, and a multi-thousand-term isin/
# bucket list stops helping the planner).
MAX_EXPANSIONS = 4096

POSTING_SCHEMA = (
    "term string, doc_id long, field_id int, positions array<int>, tf int"
)


def expand_terms(index, node: AstQuery) -> list[str] | None:
    """Dictionary-first pattern expansion (D4/D5): filter the cached,
    broadcast-sized dictionary and collect the matching term list on the
    driver — the Spark analog of the reference's DFA-guided dictionary
    traversal (Collections/TernaryDictionary.cs:182-250, FST.cs:1004-
    1061), whose whole point is to never touch postings of non-matching
    terms. Returns None when the expansion exceeds MAX_EXPANSIONS.

    Expansions are memoized per index handle (a handle sees immutable
    committed segments — reopening after an append gets a fresh handle,
    so staleness cannot occur): a repeated pattern query costs zero
    extra Spark jobs."""
    key = (type(node).__name__, node.value, getattr(node, "distance", None))
    cache = getattr(index, "_expand_cache", None)
    if cache is None:
        cache = {}
        setattr(index, "_expand_cache", cache)
    if key in cache:
        return cache[key]
    rows = (
        index.dictionary()
        .where(term_predicate(node))
        .select("term")
        .limit(MAX_EXPANSIONS + 1)
        .collect()
    )
    result = None if len(rows) > MAX_EXPANSIONS else sorted(
        r["term"] for r in rows
    )
    cache[key] = result
    return result


def term_dfs(index, terms: list[str]) -> dict[str, int | None]:
    """Document frequencies for exact terms, memoized per index handle
    (None = term absent). Shares the handle-lifetime caching rationale
    of expand_terms: committed segments are immutable, and repeated
    phrase queries must not re-run the dictionary lookup job."""
    cache = getattr(index, "_df_cache", None)
    if cache is None:
        cache = {}
        setattr(index, "_df_cache", cache)
    want = set(terms)
    missing = [t for t in want if t not in cache]
    if missing:
        found = {
            r["term"]: int(r["df"])
            for r in index.dictionary()
            .where(F.col("term").isin(missing))
            .select("term", "df")
            .collect()
        }
        for t in missing:
            cache[t] = found.get(t)
    return {t: cache[t] for t in want}


def expanded_postings(index, node: AstQuery) -> DataFrame:
    """Posting rows for a terminal node — bucket-pruned for exact terms.

    WILD/EDIT expand against the dictionary FIRST, then take the same
    bucket-pruned exact-terms path as WORD — postings/blocks of
    non-matching terms are never scanned (parquet partition pruning on
    `bucket` + term min/max row-group stats)."""
    if isinstance(node, WordAst):
        return index.postings(exact_terms=[node.value])
    terms = expand_terms(index, node)
    if terms is None:  # pathological expansion — predicate scan fallback
        return index.postings(term_pred=term_predicate(node))
    if not terms:
        return index.spark.createDataFrame([], POSTING_SCHEMA)
    return index.postings(exact_terms=terms)


def _occ_rows(p: DataFrame) -> DataFrame:
    """posting rows → match stream (one row per occurrence)."""
    return p.select(
        "doc_id",
        "field_id",
        F.explode("positions").alias("pos"),
    ).select("doc_id", "field_id", F.array("pos").alias("positions"))


def _occurrences(index, node: AstQuery) -> DataFrame:
    """Terminal → match stream: one row per occurrence (TermQuery, D7)."""
    return _occ_rows(expanded_postings(index, node))


# A rare leg's merged block doc-windows stop pruning anything when the
# rare docs are SCATTERED: each of its few blocks spans a huge doc
# range, the merged windows cover most of the corpus, and every hot-leg
# block overlaps them (VERDICT r4 #2). Above this covered fraction of
# the index's doc-id span the planner switches to doc-granularity
# pruning: the rare leg's actual doc ids (driver-resident via the
# ≤64k-occ fast path) pick the exact hot-leg blocks that contain one.
WINDOW_COVERAGE_MAX = 0.5


def doc_id_span(index) -> int:
    """Committed doc-id high water + 1 from the manifest (zero jobs);
    0 when the handle has no manifest (memory indexes). Preassigned ids
    (build_index allows them) may be sparse, so a doc count alone can
    be far below it."""
    manifest = getattr(index, "manifest", None) or {}
    return 1 + max(
        (
            s["doc_id_range"][1]
            for s in manifest.get("segments", [])
            if s.get("committed")
        ),
        default=-1,
    )


def conj_postings_kwargs(
    index, terms: list[str], extra_terms: tuple | list = ()
) -> dict[str, dict] | None:
    """Per-term ``index.postings(exact_terms=[t], **kwargs)`` filter
    kwargs for an all-WORD conjunction (AND and SEQ share this: any
    qualifying doc appears in the rarest leg, so pruning the OTHER
    legs to the rare leg's doc neighborhood is result-preserving —
    block/window extras die in the downstream join).

    ``extra_terms`` are additional term legs to PRUNE by the rare
    ``terms`` leg without being conjunction constraints themselves —
    the terms of an OR-of-WORDs child under AND: a qualifying doc must
    contain every direct WORD child, so pruning the OR child's terms
    to the rare direct leg's neighborhood is result-preserving, but an
    absent extra term must NOT empty the result (OR(hot, absent) still
    matches hot docs) and an extra term is never the rare-leg pick.

    Returns None when some term of ``terms`` is absent from the
    dictionary (the caller short-circuits to the empty result —
    emptiness derives ONLY from the dictionary df, never from driver
    file visibility).
    Otherwise: the rarest leg gets no filter; every other leg gets, in
    preference order,
      1. ``doc_ranges`` = the rare leg's merged block doc-windows, when
         those windows cover ≤ WINDOW_COVERAGE_MAX of the doc-id span
         (clustered rare term — cheap pushed range predicate), else
      2. ``block_first_docs`` = the exact set of this leg's blocks
         containing a rare doc (scattered rare term whose ids fit the
         driver fast path — the leapfrog-at-doc-granularity analog,
         PhraseQuery.cs:21-73) when that set actually prunes
         (block_keys_for_docs payoff gate), else
      3. no filter: degenerate windows keep everything, and a
         predicate that skips nothing only costs codegen.
    All driver-side block metadata, zero Spark jobs."""
    df_map = term_dfs(index, terms)
    if any(df_map[t] is None for t in terms):
        return None
    uniq = set(terms)
    extra = set(extra_terms) - uniq
    base: dict[str, dict] = {t: {} for t in uniq | extra}
    if not uniq or (len(uniq) == 1 and not extra):
        return base
    range_fn = getattr(index, "block_doc_ranges", None)
    if range_fn is None:
        return base
    rare = min(uniq, key=lambda t: (df_map[t], t))
    targets = (uniq | extra) - {rare}
    ranges = range_fn(rare)
    span = doc_id_span(index)
    covered = (
        sum(hi - lo + 1 for lo, hi in ranges) if ranges is not None else None
    )
    if ranges and span > 0 and covered <= WINDOW_COVERAGE_MAX * span:
        for t in targets:
            base[t]["doc_ranges"] = ranges
        return base
    from fulltextsearch_spark.sources.index_io import LOCAL_FAST_MAX_OCC

    # df lower-bounds the occurrence count, so a rare leg past the
    # fast-path budget can never yield driver-resident ids — skip the
    # doomed budgeted scan instead of paying it to learn that
    if df_map[rare] > LOCAL_FAST_MAX_OCC:
        return base
    doc_ids = getattr(index, "term_doc_ids", lambda t: None)(rare)
    for t in targets:
        keys = (
            index.block_keys_for_docs(t, doc_ids)
            if doc_ids is not None
            else None
        )
        if keys is not None:
            base[t]["block_first_docs"] = keys
        # else: unfiltered — the degenerate windows keep every block
        # anyway, and a keeps-everything predicate only costs codegen
    return base


def conj_doc_filter(index, terms: list[str]) -> DataFrame | None:
    """Broadcastable one-column (doc_id) relation of the rarest leg's
    doc ids, when driver-resident (≤ the fast-path occurrence budget);
    None otherwise. Any document qualifying an AND that includes the
    rare leg lies in this set, so semi-joining the other legs' rows
    against it BEFORE aggregation/explode shrinks every downstream
    shuffle to the rare leg's cardinality — the score/match analog of
    the reference's leapfrog driving from the shortest posting list."""
    df_map = term_dfs(index, terms)
    if any(df_map[t] is None for t in terms):
        return None
    rare = min(set(terms), key=lambda t: (df_map[t], t))
    from fulltextsearch_spark.sources.index_io import LOCAL_FAST_MAX_OCC

    if df_map[rare] > LOCAL_FAST_MAX_OCC:
        return None
    ids = getattr(index, "term_doc_ids", lambda t: None)(rare)
    if ids is None:
        return None
    import pandas as pd

    return index.spark.createDataFrame(
        pd.DataFrame({"doc_id": ids}), "doc_id long"
    )


def _exact_terms_of(node: AstQuery) -> list[str] | None:
    """The node's exact term multiset when its match stream is exactly
    the union of known exact terms' posting occurrences: WORD, or OR
    over such nodes (OR is duplicate-preserving, hence multiset). None
    for expansions (WILD/EDIT — term set unknown without a dictionary
    job) and positional operators (SEQ)."""
    if isinstance(node, WordAst):
        return [node.value]
    if isinstance(node, FuncAst) and node.name == "OR" and node.args:
        out: list[str] = []
        for a in node.args:
            sub = _exact_terms_of(a)
            if sub is None:
                return None
            out.extend(sub)
        return out
    return None


def _conj_child_rows(index, node: AstQuery, kw: dict) -> DataFrame | None:
    """Un-exploded posting rows for an AND child whose match stream is
    exactly its terms' posting occurrences — terminals, and OR over
    such children (the dup-preserving unionAll of posting rows explodes
    to the same multiset as the unionAll of exploded streams, so the
    explode defers to above the doc qualification). VERDICT r5 #1: a
    left-semi join does not push through a generator, so an
    already-exploded OR-of-WORDs child paid both hot terms' full
    explode before the rare-doc semi-join could filter anything.
    Returns None for children with non-posting match streams (SEQ:
    k-length position arrays)."""
    if isinstance(node, WordAst):
        return index.postings(
            exact_terms=[node.value], **kw.get(node.value, {})
        )
    if isinstance(node, (WildAst, EditAst)):
        return expanded_postings(index, node)
    if isinstance(node, FuncAst) and node.name == "OR" and node.args:
        parts = [_conj_child_rows(index, a, kw) for a in node.args]
        if any(p is None for p in parts):
            return None
        return reduce(DataFrame.unionAll, parts)
    return None


def _phrase(index, terms: list[str]) -> DataFrame:
    """SEQ: k-leg adjacency via per-doc position arrays (D10).

    Join the k posting rows on (doc_id, field_id), then filter the
    first leg's positions so p, p+1, ..., p+k-1 all exist — the
    leapfrog adjacency check vectorized over arrays (no occurrence
    explosion before the join; arrays stay JVM-side).

    Join order is df-ascending (rarest leg first), read from the cached
    dictionary — the intermediate join results shrink to the rarest
    leg's doc set immediately, the same reason the reference's leapfrog
    drives from the shortest posting list. A term missing from the
    dictionary short-circuits to the empty match stream.

    Blocks-mode indexes additionally prune the OTHER legs' blocks
    before any payload decode via conj_postings_kwargs: the rarest
    leg's merged doc windows when they are tight, or — scattered rare
    docs — the exact hot-leg blocks containing a rare doc id. Same
    skip the reference's leapfrog gets by seeking the long list to the
    short list's doc ids (PhraseQuery.cs:21-73).
    """
    df_map = term_dfs(index, terms)
    if any(df_map[t] is None for t in terms):
        return _empty(index)
    order = sorted(range(len(terms)), key=lambda i: (df_map[terms[i]], i))
    kw = conj_postings_kwargs(index, terms) or {}
    legs = []
    for i, term in enumerate(terms):
        p = index.postings(exact_terms=[term], **kw.get(term, {}))
        legs.append(
            p.select("doc_id", "field_id", F.col("positions").alias(f"p{i}"))
        )
    joined = legs[order[0]]
    for i in order[1:]:
        joined = joined.join(legs[i], ["doc_id", "field_id"])
    # adjacency via sorted-set intersection (VERDICT r5 #3): candidate
    # starts after leg i are starts ∩ (p_i − i). array_intersect hash-
    # builds one side, so the check is O(|p0| + Σ|p_i|) per (doc,
    # field) instead of the per-start array_contains chain's
    # O(|p0|·Σ|p_i|) — invisible at dl≈200, quadratic for hot-hot
    # phrases over long documents. Positions are distinct within a
    # (doc, field, term) posting row, so set semantics cannot drop or
    # merge duplicate starts, and array_intersect keeps the first
    # argument's (ascending) order.
    def shifted(i: int):
        # factory: a 1-arg lambda receives the element (2-arg HOF
        # lambdas receive (elem, idx)); closing over the loop var
        # directly would capture the last i
        return F.transform(F.col(f"p{i}"), lambda p: p - i)

    starts = F.col("p0")
    for i in range(1, len(terms)):
        starts = F.array_intersect(starts, shifted(i))
    k = len(terms)
    return (
        joined.select("doc_id", "field_id", F.explode(starts).alias("start"))
        .select(
            "doc_id",
            "field_id",
            F.sequence(F.col("start"), F.col("start") + F.lit(k - 1)).alias(
                "positions"
            ),
        )
    )


def plan_node(index, node: AstQuery) -> DataFrame:
    if isinstance(node, (WordAst, WildAst, EditAst)):
        return _occurrences(index, node)
    if isinstance(node, FuncAst):
        if node.name == "SEQ":
            terms = []
            for a in node.args:
                if not isinstance(a, WordAst):
                    # reference: phrase args must be WORDs
                    # (FullTextQueryCompiler.cs:103-110)
                    raise ValueError("SEQ arguments must be WORD terms")
                terms.append(a.value)
            if not terms:
                return _empty(index)
            if len(terms) == 1:
                return _occurrences(index, node.args[0])
            return _phrase(index, terms)
        if not node.args:
            return _empty(index)
        if node.name == "OR":
            return reduce(
                DataFrame.unionAll, [plan_node(index, a) for a in node.args]
            )
        if node.name == "AND":
            # conjunction pruning: any qualifying doc contains every
            # DIRECT WORD child, so the rarest direct leg's doc
            # neighborhood (block windows, or exact block keys when the
            # rare docs are scattered) prunes every other leg's decode —
            # including the terms inside an OR-of-WORDs child
            # (extra_terms: prunable, but never constraints — an absent
            # OR term must not empty the result). Window/block extras
            # die in the doc-id semi-join. A direct WORD term absent
            # from the dictionary empties the whole AND.
            word_terms = [
                a.value for a in node.args if isinstance(a, WordAst)
            ]
            or_terms: list[str] = []
            for a in node.args:
                if not isinstance(a, WordAst):
                    or_terms.extend(_exact_terms_of(a) or [])
            kw = (
                conj_postings_kwargs(
                    index, word_terms, extra_terms=or_terms
                )
                if word_terms
                else {}
            )
            if kw is None:
                return _empty(index)  # a direct WORD term is absent
            # ONE relation per leg with exactly one row per doc, inner-
            # joined on doc_id, occurrences emitted by a single explode
            # ABOVE the join. The r5 plan derived a distinct doc set per
            # leg and semi-joined each leg's rows against the
            # intersection — but column pruning gives the doc-set branch
            # a NARROWER exchange than the match branch, so no exchange
            # is ever reused and every leg was scanned+decoded three
            # times (plans/r06/q_and_before.txt: six Scan+MapInArrow
            # subtrees for a two-leg AND). Here each leg has exactly one
            # consumer: decode once, shuffle once (the join exchange),
            # qualify by the inner join, explode last.
            rows, is_posting = [], []
            for a in node.args:
                p = _conj_child_rows(index, a, kw)
                if p is None:
                    rows.append(plan_node(index, a))
                    is_posting.append(False)
                    continue
                rows.append(p.select("doc_id", "field_id", "positions"))
                is_posting.append(True)
            # rare leg's doc ids driver-resident: broadcast-semi-join
            # every leg's rows against them up front — the join
            # exchanges then carry ~|rare docs| rows per leg instead of
            # the hot legs' full posting sets
            doc_filter = (
                conj_doc_filter(index, word_terms) if word_terms else None
            )
            if doc_filter is not None:
                rows = [
                    r.join(F.broadcast(doc_filter), "doc_id", "left_semi")
                    for r in rows
                ]
            n_fields = (getattr(index, "manifest", None) or {}).get(
                "type", {}
            ).get("n_fields", 1)
            per_doc, occ_kind = [], []
            for i, (r, posting, a) in enumerate(
                zip(rows, is_posting, node.args)
            ):
                if posting and isinstance(a, WordAst) and n_fields == 1:
                    # single-field WORD leg: posting rows are already
                    # one per doc — no aggregation needed at all
                    per_doc.append(
                        r.select(
                            "doc_id",
                            F.struct("field_id", "positions").alias(
                                f"_r{i}"
                            ),
                        )
                    )
                    occ_kind.append("row")
                else:
                    # legs with possibly >1 row per doc (multi-field,
                    # OR children, expansions, match streams) collapse
                    # to one row per doc so the join multiplies nothing
                    per_doc.append(
                        r.groupBy("doc_id").agg(
                            F.collect_list(
                                F.struct("field_id", "positions")
                            ).alias(f"_r{i}")
                        )
                    )
                    occ_kind.append("rows" if posting else "stream")
            # join rarest-first so intermediate results shrink
            # immediately (same reason the reference's leapfrog drives
            # from the shortest posting list); unknown-size legs last
            df_map = (
                term_dfs(index, word_terms + or_terms)
                if word_terms or or_terms
                else {}
            )

            def leg_size(i: int) -> tuple:
                ts = _exact_terms_of(node.args[i])
                if ts is None or any(df_map.get(t) is None for t in ts):
                    return (float("inf"), i)
                return (sum(df_map[t] for t in ts), i)

            order = sorted(range(len(per_doc)), key=leg_size)
            joined = per_doc[order[0]]
            for i in order[1:]:
                joined = joined.join(per_doc[i], "doc_id")

            def occ_array(i: int):
                c = F.col(f"_r{i}")
                if occ_kind[i] == "row":
                    # one posting row: one struct per position
                    return F.transform(
                        c["positions"],
                        lambda p: F.struct(
                            c["field_id"].alias("field_id"),
                            F.array(p).alias("positions"),
                        ),
                    )
                if occ_kind[i] == "rows":
                    # list of posting rows: explode each row's positions
                    return F.flatten(
                        F.transform(
                            c,
                            lambda row: F.transform(
                                row["positions"],
                                lambda p: F.struct(
                                    row["field_id"].alias("field_id"),
                                    F.array(p).alias("positions"),
                                ),
                            ),
                        )
                    )
                return c  # stream: match rows pass through as-is

            occs = (
                occ_array(0)
                if len(per_doc) == 1
                else F.concat(*[occ_array(i) for i in range(len(per_doc))])
            )
            return joined.select(
                "doc_id", F.explode(occs).alias("_occ")
            ).select(
                "doc_id",
                F.col("_occ.field_id").alias("field_id"),
                F.col("_occ.positions").alias("positions"),
            )
        raise ValueError(f"unknown operator {node.name}")
    raise TypeError(f"unknown AST node {node!r}")


def _empty(index) -> DataFrame:
    return index.spark.createDataFrame([], MATCH_SCHEMA)


def plan_query(index, query: str) -> DataFrame:
    """Parse + plan. Result ordered by occurrence order (doc, field,
    positions) — the reference's output order (MatchComparer.cs:7-41)."""
    ast = parser.parse(query)
    return plan_node(index, ast).orderBy("doc_id", "field_id", "positions")


def plan_lookup(index, pattern: str) -> DataFrame:
    """Dictionary-only pattern lookup (`lookup` verb, SURVEY.md §3.3)."""
    ast = parser.parse(pattern)
    if not isinstance(ast, (WordAst, WildAst, EditAst)):
        raise ValueError("lookup expects a terminal pattern")
    return (
        index.dictionary().where(term_predicate(ast)).select("term").orderBy("term")
    )


def matches_to_string(df: DataFrame) -> str:
    """Render a match stream the way the reference's golden tests do
    (ExecuteToString, SearchQueryExtensions.cs:17-20):
    `{[d,f,p]}, {[d,f,p1], [d,f,p2]}, ...`"""
    rows = df.collect()
    parts = []
    for r in rows:
        occs = ", ".join(
            f"[{r['doc_id']},{r['field_id']},{p}]" for p in r["positions"]
        )
        parts.append("{" + occs + "}")
    return ", ".join(parts)
