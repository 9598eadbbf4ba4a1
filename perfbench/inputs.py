"""Seeded inputs for the benchmark workloads.

Everything here is a function of the seed alone: documents come from the
engine's synthetic generator ``sources.pages.synth_doc`` and queries from
its known Zipf vocabulary ``t{rank}``. The engine's own dictionary is
never consulted, so a change to the engine cannot change its inputs.
"""

from __future__ import annotations

import datetime
import math
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from fulltextsearch_spark.sources import pages as P

EPOCH = datetime.datetime(2017, 7, 1, tzinfo=datetime.timezone.utc)
PAGES_ARROW = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)
# query class shares per 20 queries (WORD 40 / OR 20 / AND 15 / SEQ 15 /
# WILD 5 / EDIT 5); a stream is served in whole cycles, so every run
# holds exactly these shares
CLASS_CYCLE = (
    "word_midtail", "or", "and", "word_hot", "seq", "word_midtail", "or",
    "word_midtail", "and", "seq", "word_hot", "wild", "or", "word_midtail",
    "seq", "word_midtail", "and", "or", "word_hot", "edit",
)
RANKED_CLASSES = {"word_hot", "word_midtail", "or", "and", "seq"}
# distinct queries per class (~100 in all, more than the engine's
# 64-entry decoded-frame memo); draws are Zipf-popular, so a stream
# repeats its popular head
POOL_PER_CLASS = {
    "word_hot": 4, "word_midtail": 36, "or": 18, "and": 14,
    "seq": 14, "wild": 6, "edit": 6,
}
POPULARITY_S = 1.1
STRUCTURE_SEED = 0x57AEA  # fixes the stream's shape, not its terms
MEAN_DOC_TOKENS = math.exp(5.0 + 0.6**2 / 2)  # synth_doc's lognormal(5, 0.6)
PAGES_FILES = 4  # like synth_pages' spark.range output on 4 cores


def write_pages(path: str, texts: list[str], first: int = 0) -> int:
    """Write ``texts`` as the engine's ``pages`` table in PAGES_FILES files
    (``texts[i]`` is corpus doc ``first + i``, url
    pms://synth/{first + i:012d}); returns UTF-8 text bytes."""
    os.makedirs(path, exist_ok=True)
    text_bytes = 0
    bounds = np.linspace(0, len(texts), PAGES_FILES + 1).astype(int)
    for f, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:])):
        chunk = texts[lo:hi]
        ids = range(first + lo, first + hi)
        encoded = [t.encode("utf-8") for t in chunk]
        text_bytes += sum(map(len, encoded))
        table = pa.table(
            {
                "url": [f"pms://synth/{i:012d}" for i in ids],
                "warc_ts": [EPOCH + datetime.timedelta(seconds=i) for i in ids],
                "html": [b"<html><body>" + e + b"</body></html>" for e in encoded],
                "text": chunk,
                "lang": ["en"] * len(chunk),
            },
            schema=PAGES_ARROW,
        )
        pq.write_table(table, os.path.join(path, f"part-{f:05d}.parquet"))
    return text_bytes


def corpus_texts(n_docs: int, seed: int, first: int = 0) -> list[str]:
    return [P.synth_doc(i, seed) for i in range(first, first + n_docs)]


# --- serve: the seeded query stream ------------------------------------


@dataclass
class Query:
    cls: str
    text: str

    @property
    def ranked(self) -> bool:
        return self.cls in RANKED_CLASSES


def _zipf_probs() -> np.ndarray:
    w = 1.0 / np.power(np.arange(1, 50_001), 1.07)  # synth_doc's vocabulary
    return w / w.sum()


def term_bands(n_docs: int, fast_max_occ: int) -> tuple[int, int]:
    """(first midtail rank, last midtail rank) from the generator's own
    Zipf model: ranks whose expected occurrence count exceeds the driver
    fast-path budget are hot (at least rank 0); midtail runs down to
    ranks still expected in ~20 documents."""
    expected = _zipf_probs() * n_docs * MEAN_DOC_TOKENS
    n_hot = max(1, int((expected > fast_max_occ).sum()))
    last = max(n_hot + 50, int((expected >= 20).sum()))
    return n_hot, last


def _bands(lo: int, hi: int, k: int) -> list[tuple[int, int]]:
    """``k`` log-spaced rank bands covering [lo, hi); where the range is
    too narrow to split, bands shrink to a single rank."""
    edges = (np.geomspace(lo + 1, hi + 1, k + 1) - 1).astype(int)
    return [(int(a), int(max(b, a + 1))) for a, b in zip(edges[:-1], edges[1:])]


def query_pool(n_docs: int, seed: int, fast_max_occ: int) -> dict[str, list[str]]:
    """Distinct queries per class. The shape is the same on every seed:
    pool entry j of a class always draws its terms from the same narrow
    rank bands (its df is about the same); the seed picks the terms
    inside those bands."""
    rng = np.random.default_rng(np.random.SeedSequence([seed, 0xC0FFEE]))
    n_hot, last = term_bands(n_docs, fast_max_occ)

    def term(band: tuple[int, int]) -> str:
        return f"t{int(rng.integers(*band))}"

    k = POOL_PER_CLASS
    mid = _bands(n_hot, last, k["word_midtail"])
    rare = mid[len(mid) // 2 :]  # the rarer half of the midtail bands
    stems = _bands(100, 999, k["wild"])  # 3-digit stems: t123* expands to ~100 terms
    return {
        "word_hot": [f"WORD(t{j % n_hot})" for j in range(k["word_hot"])],
        "word_midtail": [f"WORD({term(b)})" for b in mid],
        "or": [
            "OR(" + ",".join(
                f"WORD({term(mid[(5 * j + 11 * t) % len(mid)])})" for t in range(2 + j % 2)
            ) + ")"
            for j in range(k["or"])
        ],
        "and": [
            f"AND(WORD(t{1 + 2 * j + j % 2}),WORD({term(rare[(7 * j) % len(rare)])}))"
            for j in range(k["and"])
        ],
        # phrases of frequent terms (so they match), each position from
        # its own band, never the hot t0 (that would change the read path)
        "seq": [
            "SEQ(" + ",".join(
                f"WORD({term((1 + 3 * t, 4 + 3 * t))})" for t in range(2 + j % 2)
            ) + ")"
            for j in range(k["seq"])
        ],
        "wild": [
            f"WILD(t{int(rng.integers(*b))}*)" if j % 2 == 0
            else f"WILD(t{str(int(rng.integers(*b)))[:-1]}?)"
            for j, b in enumerate(stems)
        ],
        "edit": [
            f"EDIT({term(rare[(3 * j + 1) % len(rare)])},1)" for j in range(k["edit"])
        ],
    }


def query_stream(
    n_docs: int, seed: int, fast_max_occ: int, length: int
) -> list[Query]:
    """Closed-loop stream: class order follows CLASS_CYCLE; within a
    class, pool entries are drawn with Zipf popularity, so a share of
    queries repeat and the handle caches show up as a measured effect.
    The draw order is the same on every seed (only the terms change)."""
    pool = query_pool(n_docs, seed, fast_max_occ)
    rng = np.random.default_rng(STRUCTURE_SEED)
    out = []
    for i in range(length):
        cls = CLASS_CYCLE[i % len(CLASS_CYCLE)]
        qs = pool[cls]
        w = 1.0 / np.power(np.arange(1, len(qs) + 1), POPULARITY_S)
        out.append(Query(cls, qs[int(rng.choice(len(qs), p=w / w.sum()))]))
    return out


# --- near_dup: a corpus with planted duplicate clusters -----------------


@dataclass
class DupCorpus:
    texts: list[str]  # index i holds doc_id i + 1
    clusters: list[list[int]] = field(default_factory=list)  # planted doc ids
    exact_groups: list[list[int]] = field(default_factory=list)  # identical texts


def _near_copy(text: str, rng: np.random.Generator) -> str:
    words = text.split(" ")
    for _ in range(int(rng.integers(1, 4))):
        words[int(rng.integers(len(words)))] = f"t{int(rng.integers(0, 50_000))}"
    return " ".join(words)


def dup_corpus(n_base: int, mass: int, n_small: int, seed: int) -> DupCorpus:
    """``n_base`` distinct synthetic docs, plus planted clusters: one mass
    cluster of ``mass`` members and ``n_small`` clusters of 2-8 members,
    each mixing exact copies and near copies (1-3 tokens substituted) of
    a base doc. Docs are shuffled so cluster members are not adjacent."""
    rng = np.random.default_rng(np.random.SeedSequence([seed, 0xD0B]))
    base = [P.synth_doc(i, seed) for i in range(n_base)]
    sources = rng.choice(n_base, size=n_small + 1, replace=False)
    sizes = [mass] + [int(s) for s in rng.integers(2, 9, size=n_small)]
    texts = list(base)
    members: list[list[int]] = []
    for src, size in zip(sources, sizes):
        group = [int(src)]
        for _ in range(size - 1):
            exact = rng.random() < 0.5
            texts.append(base[src] if exact else _near_copy(base[src], rng))
            group.append(len(texts) - 1)
        members.append(group)
    perm = rng.permutation(len(texts))  # perm[new] = old
    where = np.empty_like(perm)
    where[perm] = np.arange(len(texts))
    shuffled = [texts[int(o)] for o in perm]
    clusters = [sorted(int(where[o]) + 1 for o in g) for g in members]
    by_text: dict[str, list[int]] = {}
    for i, t in enumerate(shuffled):
        by_text.setdefault(t, []).append(i + 1)
    exact = [ids for ids in by_text.values() if len(ids) > 1]
    return DupCorpus(shuffled, clusters, exact)


def write_docs(path: str, texts: list[str]) -> None:
    os.makedirs(path, exist_ok=True)
    table = pa.table(
        {"doc_id": pa.array(range(1, len(texts) + 1), pa.int64()), "text": texts}
    )
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))
