"""The two workloads: ``serve`` and ``near_dup``.

Both run closed loop with one client: every call waits for its result
before the next is sent, the way CLI and notebook callers use the
engine. Each workload has a set-up step (``materialise``: write the
seeded inputs) and a timed step (``run``) that only calls the engine's
public API inside spans, then a ``verify`` step outside the timed region.
"""

from __future__ import annotations

import os
import shutil
import statistics
import traceback
from dataclasses import dataclass, field

from fulltextsearch_spark.functions.tokenizer import tokenize_terms_udf
from fulltextsearch_spark.operators import bm25
from fulltextsearch_spark.operators import dedup as D
from fulltextsearch_spark.plans import parser
from fulltextsearch_spark.sources import index_io
from fulltextsearch_spark.sources.index_io import Index, build_index, compact_index

from perfbench import inputs, verify
from perfbench.spans import Tracer

RANK_K = 10
WAND_QUERIES = 2


def n_requests(seconds: float) -> int:
    """--seconds sets the number of query requests, not a deadline: one
    request per second (a search plus, for ranked classes, a rank takes
    about a second on 4 cores at this corpus size), rounded to whole
    CLASS_CYCLEs so every class runs. Every run of every commit then
    serves the same stream, whatever the engine's speed."""
    cycle = len(inputs.CLASS_CYCLE)
    return cycle * max(1, round(seconds / cycle))


@dataclass
class Sizes:
    serve_docs: int
    append_docs: int
    dup_base: int
    dup_mass: int
    dup_small: int


FULL = Sizes(4000, 500, 600, 100, 20)
SMOKE = Sizes(400, 100, 300, 20, 8)


@dataclass
class Outcome:
    attempted: int = 0
    failures: list = field(default_factory=list)
    timed_s: float = 0.0
    facts: dict = field(default_factory=dict)  # workload numbers for the metrics

    def fail(self, msg: str) -> None:
        self.failures.append(msg)


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``, Spark's checksum and marker files excluded."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".crc") or n.startswith("_"):
                continue
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


class Serve:
    """Build a blocks-mode index of a seeded corpus and serve a seeded
    query stream on a freshly opened handle; then append a seeded batch
    as a second segment, compact the index, and run a few queries the
    way the CLI does (every query opens the index) before and after the
    compaction."""

    name = "serve"

    def __init__(self, sizes: Sizes, seed: int, work: str) -> None:
        self.n_docs = sizes.serve_docs
        self.n_append = sizes.append_docs
        self.seed = seed
        self.pages = os.path.join(work, "pages")
        self.batch = os.path.join(work, "batch")
        self.root = os.path.join(work, "index")
        fast = index_io.LOCAL_FAST_MAX_OCC
        self.stream = inputs.query_stream(self.n_docs, seed, fast, 400)
        pool = inputs.query_pool(self.n_docs, seed, fast)
        # a hot term (a Spark scan of every segment) and a midtail one
        # (the driver fast path, which reads each segment's files)
        self.cold = [pool["word_hot"][0], pool["word_midtail"][0]]
        self.texts: list[str] = []
        self.text_bytes = 0
        self.segments: dict[str, str] = {}  # build / append / compact -> segment dir

    def materialise(self) -> None:
        shutil.rmtree(self.pages, ignore_errors=True)
        shutil.rmtree(self.batch, ignore_errors=True)
        self.texts = inputs.corpus_texts(self.n_docs + self.n_append, self.seed)
        self.text_bytes = inputs.write_pages(self.pages, self.texts[: self.n_docs])
        self.text_bytes += inputs.write_pages(
            self.batch, self.texts[self.n_docs :], first=self.n_docs
        )

    def warm_up(self, spark) -> None:
        warm_up(spark, self.pages)

    def run(self, spark, tr: Tracer, seconds: float, out: Outcome) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        self.results: list[tuple] = []  # (kind, query, rows, docs indexed)
        self.indexed = self.n_docs
        self._write(spark, tr, out, "build", self.pages, {})
        with tr.span("open"):
            idx = Index.open(spark, self.root)
        seen: set[str] = set()
        for q in self.stream[: n_requests(seconds)]:
            attrs = dict(cls=q.cls, first=q.text not in seen, query=q.text)
            seen.add(q.text)
            with tr.span("request", **attrs):
                self._search(idx, tr, q.text, attrs, out)
                if q.ranked:
                    self._rank(idx, tr, q.text, attrs, out)

        self.indexed += self.n_append
        self._write(spark, tr, out, "append", self.batch, {"batch_key": "batch-1"})
        self._cold(spark, tr, out, "segmented")
        out.attempted += 1
        with tr.span("compact"):
            manifest = compact_index(spark, self.root)
        self.segments["compact"] = manifest["segments"][-1]["path"]
        self._cold(spark, tr, out, "compacted")

    def _write(self, spark, tr: Tracer, out: Outcome, kind: str, pages: str, kw: dict) -> None:
        out.attempted += 1
        with tr.span(kind):
            manifest = build_index(
                spark, spark.read.parquet(pages), self.root, mode="blocks", **kw
            )
        self.segments[kind] = manifest["segments"][-1]["path"]

    def _cold(self, spark, tr: Tracer, out: Outcome, phase: str) -> None:
        """The CLI shape: each query opens the index, then searches."""
        for text in self.cold:
            with tr.span("cold", phase=phase, query=text):
                with tr.span("open"):
                    idx = Index.open(spark, self.root)
                self._search(idx, tr, text, dict(phase=phase), out)

    def _search(self, idx, tr: Tracer, text: str, attrs: dict, out: Outcome) -> None:
        out.attempted += 1
        with tr.span("search", **attrs) as s:
            with tr.span("parse"):
                parser.parse(text)
            with tr.span("plan"):
                df = idx.search(text)
            with tr.span("exec"):
                rows = df.limit(verify.SEARCH_LIMIT).collect()
            s.attrs["rows"] = len(rows)
        self.results.append(("search", text, rows, self.indexed))

    def _rank(self, idx, tr: Tracer, text: str, attrs: dict, out: Outcome) -> None:
        out.attempted += 1
        with tr.span("rank", **attrs) as s:
            with tr.span("plan"):
                df = idx.rank(text, RANK_K)
            with tr.span("exec"):
                rows = df.collect()
            s.attrs["rows"] = len(rows)
        self.results.append(("rank", text, rows, self.indexed))

    def trace_extras(self, spark, tr: Tracer, out: Outcome) -> None:
        """WAND versus exhaustive on the stream's flat-term queries, on the
        compacted index (traced run only). At this corpus size
        ``idx.rank`` takes the exhaustive path (fewer than WAND_MIN_DOCS
        docs), so ``rank_terms_wand`` is called directly: once with its
        gates, once forced down the pruning route."""
        idx = Index.open(spark, self.root)
        flat = []
        for q in self.stream:
            terms = bm25._flat_word_terms(parser.parse(q.text))
            if terms and q.text not in {f[0] for f in flat}:
                flat.append((q.text, terms))
            if len(flat) == WAND_QUERIES:
                break
        for text, terms in flat:
            for kind, call in (
                ("wand.gated", lambda st: bm25.rank_terms_wand(idx, terms, RANK_K, stats=st)),
                ("wand.forced", lambda st: bm25.rank_terms_wand(idx, terms, RANK_K, stats=st, gates=False)),
                ("wand.exhaustive", lambda st: bm25.rank_query_exhaustive(idx, text, RANK_K)),
            ):
                out.attempted += 1
                st: dict = {}
                with tr.span(kind, query=text) as s:
                    rows = call(st).collect()
                s.attrs.update(stats=st)
                self.results.append(("rank", text, rows, self.indexed))

    def verify(self, out: Outcome) -> None:
        """Results on the first segment against an oracle of its docs,
        then those on the appended or compacted index against the same
        oracle with the appended docs added."""
        oracle = verify.build_oracle(self.texts[: self.n_docs])
        for indexed in sorted({r[3] for r in self.results}):
            for i in range(len(oracle.doc_len), indexed):
                oracle.add(i + 1, self.texts[i])
            exp = verify.ExpectedCache(oracle)
            for kind, q, rows, n in self.results:
                if n != indexed:
                    continue
                if kind == "search":
                    errs = verify.check_search(exp, q, rows)
                else:
                    errs = verify.check_rank(exp, q, rows, RANK_K)
                for e in errs:
                    out.fail(e)


class NearDup:
    """Tokenize and dedup a seeded corpus with planted duplicate clusters:
    tokenize → exact_dup_groups; minhash_signatures → lsh_candidate_pairs
    → dup_clusters → keep_canonical; simhash60 → simhash_near_pairs.
    Each step is forced (cached and counted) on its own."""

    name = "near_dup"

    def __init__(self, sizes: Sizes, seed: int, work: str) -> None:
        self.sizes = sizes
        self.seed = seed
        self.path = os.path.join(work, "dup_docs")
        self.corpus: inputs.DupCorpus | None = None

    def materialise(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        s = self.sizes
        self.corpus = inputs.dup_corpus(s.dup_base, s.dup_mass, s.dup_small, self.seed)
        inputs.write_docs(self.path, self.corpus.texts)

    def warm_up(self, spark) -> None:
        warm_up(spark, self.path)

    def run(self, spark, tr: Tracer, seconds: float, out: Outcome) -> None:
        with tr.span("read"):
            docs = spark.read.parquet(self.path)
        self.cached = []

        def forced(name, make):
            out.attempted += 1
            with tr.span(name):
                df = make().persist()
                df.count()
            self.cached.append(df)
            return df

        tok = forced("tokenize", lambda: docs.select("doc_id", tokenize_terms_udf("text").alias("tokens")))
        self.exact = forced("exact", lambda: D.exact_dup_groups(docs))
        sig = forced("minhash", lambda: D.minhash_signatures(tok))
        self.pairs = forced("lsh", lambda: D.lsh_candidate_pairs(sig))
        self.labels = forced("clusters", lambda: D.dup_clusters(self.pairs))
        self.kept = forced("canonical", lambda: D.keep_canonical(docs.select("doc_id"), self.labels))
        sim = forced("simhash", lambda: D.simhash60(tok))
        self.sim_pairs = forced("simhash_pairs", lambda: D.simhash_near_pairs(sim))

    def trace_extras(self, spark, tr: Tracer, out: Outcome) -> None:
        pass

    def verify(self, out: Outcome) -> None:
        c = self.corpus
        exact_pairs = verify.planted_pairs(c.exact_groups)
        pairs = {(r["doc_a"], r["doc_b"]) for r in self.pairs.collect()}
        labels = {r["doc_id"]: r["cluster_id"] for r in self.labels.collect()}
        kept = {r["doc_id"] for r in self.kept.collect()}
        sim_pairs = {(r["doc_a"], r["doc_b"]) for r in self.sim_pairs.collect()}
        checks = [
            verify.check_exact_groups(c.exact_groups, self.exact.collect()),
            verify.check_pairs_cover("lsh_candidate_pairs", exact_pairs, pairs),
            verify.check_clusters(c.exact_groups, labels),
            verify.check_canonical(len(c.texts), c.exact_groups, labels, kept),
            verify.check_pairs_cover("simhash_near_pairs", exact_pairs, sim_pairs),
        ]
        for errs in checks:
            for e in errs:
                out.fail(e)
        planted = verify.planted_pairs(c.clusters)
        out.facts.update(
            candidate_pairs=len(pairs),
            useful_pairs=len(pairs & planted),
            n_docs=len(c.texts),
        )
        for df in self.cached:
            df.unpersist()


WORKLOADS = {"serve": Serve, "near_dup": NearDup}


def warm_up(spark, path: str) -> None:
    """Start the session's Python workers and compile the JVM's hot paths
    (parquet scan, Arrow transfer to Python, shuffle) on the set-up's own
    input, so the timed region starts on a warm session. Part of set-up,
    so ``setup_s`` shows it."""
    df = spark.read.parquet(path)
    df.mapInArrow(lambda batches: batches, df.schema).repartition(8).count()


def guarded(out: Outcome, what: str, fn, *args) -> bool:
    """Run one workload step; an exception counts as a failed operation."""
    try:
        fn(*args)
        return True
    except Exception:
        out.fail(f"{what} raised:\n{traceback.format_exc()}")
        return False


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0
