"""Independent result checks, run outside the timed region.

Expected results come from pure Python: the regenerated documents,
``oracle/pyoracle.py``'s match and BM25 semantics, and the planted
clusters of the near-dup corpus. Each check returns a list of failure
messages (empty when the result is correct).
"""

from __future__ import annotations

import math
from itertools import combinations

from fulltextsearch_spark.oracle.pyoracle import OracleIndex
from fulltextsearch_spark.plans import parser
from fulltextsearch_spark.plans.ast import FuncAst

SCORE_RTOL = 1e-9
SEARCH_LIMIT = 1000


class Oracle(OracleIndex):
    """pyoracle's semantics; SEQ looks positions up in per-term sets
    built once instead of rebuilding a set per first-term occurrence,
    which is quadratic on the frequent terms a phrase stream uses."""

    def __init__(self) -> None:
        super().__init__()
        self._occ_sets: dict[str, set] = {}

    def add(self, doc_id: int, text: str, field_id: int = 1) -> None:
        super().add(doc_id, text, field_id)
        self._occ_sets.clear()

    def matches(self, node):
        if not (isinstance(node, FuncAst) and node.name == "SEQ"):
            return super().matches(node)
        terms = [a.value for a in node.args]
        sets = [self._occ_set(t) for t in terms[1:]]
        out = []
        for d, f, p in self.postings.get(terms[0], []):
            seq = [(d, f, p)]
            for i, s in enumerate(sets, 1):
                if (d, f, p + i) not in s:
                    break
                seq.append((d, f, p + i))
            else:
                out.append(tuple(seq))
        return sorted(out)

    def _occ_set(self, term: str) -> set:
        if term not in self._occ_sets:
            self._occ_sets[term] = set(self.postings.get(term, []))
        return self._occ_sets[term]


def build_oracle(texts: list[str]) -> Oracle:
    """Doc i of the corpus is doc_id i + 1: build_index assigns dense ids
    in url order, and the benchmark's urls sort in corpus order."""
    oracle = Oracle()
    for i, text in enumerate(texts):
        oracle.add(i + 1, text)
    return oracle


class ExpectedCache:
    def __init__(self, oracle: Oracle) -> None:
        self.oracle = oracle
        self._search: dict[str, list] = {}
        self._scores: dict[str, dict[int, float]] = {}
        self._rank: dict[str, list] = {}

    def search(self, q: str) -> list:
        if q not in self._search:
            self._search[q] = self.oracle.matches(parser.parse(q))[:SEARCH_LIMIT]
        return self._search[q]

    def scores(self, q: str) -> dict[int, float]:
        if q not in self._scores:
            self._scores[q] = self.oracle.scores(parser.parse(q))
        return self._scores[q]

    def rank(self, q: str, k: int) -> list:
        key = f"{k}:{q}"
        if key not in self._rank:
            s = self.scores(q)
            self._rank[key] = sorted(s.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        return self._rank[key]


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=SCORE_RTOL, abs_tol=SCORE_RTOL)


def check_search(exp: ExpectedCache, q: str, rows: list) -> list[str]:
    got = [
        tuple((r["doc_id"], r["field_id"], p) for p in r["positions"]) for r in rows
    ]
    want = exp.search(q)
    if got == want:
        return []
    return [f"search {q}: {len(got)} rows differ from the oracle's {len(want)}"]


def check_rank(exp: ExpectedCache, q: str, rows: list, k: int) -> list[str]:
    """Top-k identity up to exact ties: the score sequence must equal the
    oracle's, and every returned doc must carry its oracle score."""
    want = exp.rank(q, k)
    scores = exp.scores(q)
    got = [(r["doc_id"], r["score"]) for r in rows]
    if len(got) != len(want):
        return [f"rank {q}: {len(got)} rows, oracle has {len(want)}"]
    for (gd, gs), (_, ws) in zip(got, want):
        if not _close(gs, ws) or gd not in scores or not _close(gs, scores[gd]):
            return [f"rank {q}: doc {gd} score {gs!r} vs oracle {ws!r}"]
    return []


def planted_pairs(groups: list[list[int]]) -> set[tuple[int, int]]:
    return {p for g in groups for p in combinations(sorted(g), 2)}


def check_exact_groups(exact_groups: list[list[int]], rows: list) -> list[str]:
    want = {(min(g), len(g)) for g in exact_groups}
    got = {(r["canonical_doc"], r["n_docs"]) for r in rows}
    return [] if got == want else [f"exact_dup_groups: {len(got)} groups, expected {len(want)}"]


def check_pairs_cover(step: str, exact_pairs: set, pairs: set) -> list[str]:
    missing = exact_pairs - pairs
    return [f"{step}: {len(missing)} planted exact-copy pairs missing"] if missing else []


def check_clusters(exact_groups: list[list[int]], labels: dict[int, int]) -> list[str]:
    for g in exact_groups:
        if len({labels.get(d) for d in g}) != 1 or labels.get(g[0]) is None:
            return [f"dup_clusters: exact-copy group {g[:4]}... split across clusters"]
    return []


def check_canonical(
    n_docs: int, exact_groups: list[list[int]], labels: dict[int, int], kept: set
) -> list[str]:
    losers = {d for d, c in labels.items() if d != c}
    errors = []
    if len(kept) != n_docs - len(losers) or kept & losers:
        errors.append(f"keep_canonical: kept {len(kept)}, expected {n_docs - len(losers)}")
    if any(len(kept.intersection(g)) > 1 for g in exact_groups):
        errors.append("keep_canonical: an exact-copy group keeps more than one doc")
    return errors
