"""End-to-end and per-layer metrics from a workload's spans.

Every workload prints every metric: the end-to-end ones mean the
analogous thing on each workload (see README.md), and a per-layer metric
whose layer a workload does not run reads 0.
"""

from __future__ import annotations

import os
import re
import statistics

from perfbench.spans import PY_SENT, PY_TIME, Span, Tracer
from perfbench.workloads import Outcome, dir_bytes, median

END_TO_END = {
    "setup_s": "s",
    "docs_per_s": "docs/s",
    "op_mean_s": "s",
    "peak_rss_mb": "MB",
}
QUERY_CLASSES = ("word_hot", "word_midtail", "or", "and", "seq", "wild", "edit")
RANK_CLASSES = ("word_hot", "word_midtail", "or", "and", "seq")
DEDUP_STEPS = ("exact", "minhash", "lsh", "clusters", "canonical", "simhash", "simhash_pairs")
# near_dup: steps whose work grows with the docs, and steps whose work
# grows with the candidate pairs and clusters
PER_DOC_STEPS = ("tokenize", "exact", "minhash", "simhash")
PAIR_STEPS = ("lsh", "clusters", "canonical", "simhash_pairs")
WRITE_SPANS = ("build", "append", "compact")
BUILD_TABLES = ("blocks", "docs", "dictionary", "doc_stats")
IO = "sources.index_io"
PL = "plans.planner"
BM = "operators.bm25"
OB = "operators.build"
DD = "operators.dedup"

PER_LAYER = {
    # the workload-level figures, reported per workload
    "build_docs_per_s": "docs/s",
    "stored_bytes_per_text_byte": "ratio",
    "search_p50_s": "s",
    "rank_p50_s": "s",
    "query_p90_s": "s",
    "query_qps": "ops/s",
    "query_ops": "count",
    "append_docs_per_s": "docs/s",
    "compact_s": "s",
    "cold_search_p50_s": "s",
    "dedup_docs_per_s": "docs/s",
    "failed_ops_frac": "ratio",
    # sources.index_io, build side
    f"{IO}.build.jobs": "count",
    f"{IO}.build.tasks": "count",
    f"{IO}.build.driver_only_s": "s",
    f"{IO}.build.cpu_busy_frac": "ratio",
    f"{IO}.build.gc_s": "s",
    f"{IO}.build.files_written": "count",
    **{f"{IO}.build.bytes_written.{t}": "bytes" for t in BUILD_TABLES},
    f"{IO}.outputs_s": "s",
    "sources.ids.assign_s": "s",
    "sources.ids.executor_s": "s",
    f"{OB}.tokenize.python_s": "s",
    f"{OB}.tokenize.python_bytes_sent": "bytes",
    f"{OB}.shuffle.write_bytes": "bytes",
    f"{OB}.shuffle.records": "count",
    f"{OB}.shuffle.spill_bytes": "bytes",
    f"{OB}.shuffle.fetch_wait_s": "s",
    f"{OB}.assemble.python_s": "s",
    f"{OB}.assemble.write_s": "s",
    # query side
    "plans.parser.parse_p50_s": "s",
    f"{PL}.plan_p50_s": "s",
    f"{PL}.exec_p50_s": "s",
    f"{PL}.jobs_per_query": "count",
    f"{PL}.driver_only_s": "s",
    f"{PL}.rows_read_per_result": "ratio",
    f"{PL}.bytes_read": "bytes",
    f"{PL}.shuffle_bytes": "bytes",
    **{f"{PL}.search_p50_s.{c}": "s" for c in QUERY_CLASSES},
    f"{BM}.plan_p50_s": "s",
    f"{BM}.exec_p50_s": "s",
    f"{BM}.jobs_per_query": "count",
    f"{BM}.driver_only_s": "s",
    f"{BM}.rows_read_per_result": "ratio",
    **{f"{BM}.rank_p50_s.{c}": "s" for c in RANK_CLASSES},
    f"{BM}.wand_route_frac": "ratio",
    f"{BM}.blocks_decoded_frac": "ratio",
    f"{BM}.wand_over_exhaustive": "ratio",
    f"{BM}.wand_forced_p50_s": "s",
    f"{BM}.wand_gated_p50_s": "s",
    f"{BM}.exhaustive_p50_s": "s",
    # sources.index_io, read side and handle caches
    f"{IO}.repeat_over_first": "ratio",
    f"{IO}.first_seen_p50_s": "s",
    f"{IO}.repeat_p50_s": "s",
    f"{IO}.jobs_per_repeat": "count",
    f"{IO}.open_s": "s",
    f"{IO}.files_read_per_query": "count",
    # sources.index_io, compaction
    f"{IO}.compact.jobs": "count",
    f"{IO}.compact.executor_cpu_s": "s",
    f"{IO}.compact.python_s": "s",
    f"{IO}.compact.shuffle_write_bytes": "bytes",
    f"{IO}.compact.bytes_read": "bytes",
    f"{IO}.compact.bytes_written": "bytes",
    f"{IO}.compact.driver_only_s": "s",
    f"{IO}.search_p50_s.segmented": "s",
    f"{IO}.search_p50_s.compacted": "s",
    # operators.dedup and the tokenizer it runs on
    "functions.tokenizer.tokenize_s": "s",
    **{f"{DD}.{s}_s": "s" for s in DEDUP_STEPS},
    f"{DD}.candidate_pairs": "count",
    f"{DD}.useful_pair_frac": "ratio",
    f"{DD}.lsh.peak_task_mem_mb": "MB",
    f"{DD}.shuffle_bytes": "bytes",
    f"{DD}.spill_bytes": "bytes",
    # keeping the other numbers honest
    "session.jvm_peak_rss_mb": "MB",
    "session.worker_peak_rss_mb": "MB",
    "trace.overhead_frac": "ratio",
    "trace.uncovered_frac": "ratio",
}


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def _p90(xs: list[float]) -> float:
    return statistics.quantiles(xs, n=10)[-1] if len(xs) >= 2 else (xs[0] if xs else 0.0)


def _child(span: Span, name: str) -> Span | None:
    return next((c for c in span.children if c.name == name), None)


def _roots(tr: Tracer, names: tuple) -> list[Span]:
    return [s for s in tr.roots if s.name in names]


def op_spans(wl, tr: Tracer) -> list[Span]:
    """The operations ``op_mean_s`` is taken over: the query requests and
    the open-and-search calls on serve, the pair and cluster steps on
    near_dup."""
    if wl.name == "serve":
        return _roots(tr, ("request", "cold"))
    return _roots(tr, PAIR_STEPS)


def end_to_end(wl, tr: Tracer, setups: list[float], peak_rss_mb: float) -> dict:
    ops = op_spans(wl, tr)
    if wl.name == "serve":
        write_s = sum(s.wall for s in _roots(tr, WRITE_SPANS))
        docs = wl.n_docs + wl.n_append
    else:
        write_s = sum(s.wall for s in _roots(tr, PER_DOC_STEPS))
        docs = len(wl.corpus.texts)
    return {
        "setup_s": median(setups),
        "docs_per_s": _ratio(docs, write_s),
        # every run performs the same operation sequence, so the mean is
        # the sequence's total wall: it moves with a slowdown in any
        # query class or step, and averages the per-job jitter a median
        # of a few samples would pass through (medians are per-layer)
        "op_mean_s": _ratio(sum(s.wall for s in ops), len(ops)),
        "peak_rss_mb": peak_rss_mb,
    }


def per_layer(wl, tr: Tracer, out: Outcome, cores: int, procs: dict) -> dict:
    m = {name: 0.0 for name in PER_LAYER}
    m["failed_ops_frac"] = _ratio(len(out.failures), out.attempted)
    m["session.jvm_peak_rss_mb"] = procs.get("jvm", 0.0)
    m["session.worker_peak_rss_mb"] = procs.get("workers", 0.0)
    m["trace.overhead_frac"] = _ratio(tr.overhead_s, out.timed_s)
    covered = sum(s.wall for s in tr.roots if not s.name.startswith("wand."))
    m["trace.uncovered_frac"] = max(_ratio(out.timed_s - covered, out.timed_s), 0.0)
    if wl.name == "serve":
        _serve(m, wl, tr, out, cores)
    else:
        _near_dup(m, wl, tr, out)
    return m


def _writes_by_table(tr: Tracer, spans: list[Span]) -> dict[str, set[int]]:
    """Execution ids of the build's parquet writes, by the table written
    (read from the write node's output path)."""
    by_table: dict[str, set[int]] = {}
    for eid in tr.execution_ids(spans):
        for n in tr.executions[eid]["nodes"]:
            hit = re.search(r"seg_\d+/(\w+)", n["desc"]) if "Insert" in n["name"] else None
            if hit:
                by_table.setdefault(hit.group(1), set()).add(eid)
                break
    return by_table


def _query_spans(tr: Tracer, spans: list[Span], prefix: str, m: dict) -> None:
    plans = [_child(s, "plan") for s in spans]
    execs = [_child(s, "exec") for s in spans]
    m[f"{prefix}.plan_p50_s"] = median(p.wall for p in plans if p)
    m[f"{prefix}.exec_p50_s"] = median(e.wall for e in execs if e)
    m[f"{prefix}.jobs_per_query"] = _ratio(len(tr.job_ids(spans)), len(spans))
    m[f"{prefix}.driver_only_s"] = median(tr.driver_only(s) for s in spans)
    rows = sum(s.attrs.get("rows", 0) for s in spans)
    m[f"{prefix}.rows_read_per_result"] = _ratio(tr.stage_sum(spans, "inputRecords"), rows)


def _serve(m: dict, wl, tr: Tracer, out: Outcome, cores: int) -> None:
    builds, appends, compacts = tr.find("build"), tr.find("append"), tr.find("compact")
    m["build_docs_per_s"] = _ratio(wl.n_docs, sum(b.wall for b in builds))
    m["append_docs_per_s"] = _ratio(wl.n_append, sum(a.wall for a in appends))
    m["compact_s"] = sum(c.wall for c in compacts)
    compacted = os.path.join(wl.root, wl.segments.get("compact", "-"))
    m["stored_bytes_per_text_byte"] = _ratio(dir_bytes(compacted)[0], wl.text_bytes)

    # the stream's requests on the warm handle (the cold open-and-search
    # calls carry a phase instead of a query class)
    searches = [s for s in tr.find("search") if "cls" in s.attrs]
    ranks = tr.find("rank")
    _query_spans(tr, searches, PL, m)
    _query_spans(tr, ranks, BM, m)
    ops = [s.wall for s in searches + ranks]
    m["search_p50_s"] = median(s.wall for s in searches)
    m["rank_p50_s"] = median(s.wall for s in ranks)
    m["query_p90_s"] = _p90(ops)
    m["query_ops"] = len(ops)
    m["query_qps"] = _ratio(len(ops), sum(ops))
    m["plans.parser.parse_p50_s"] = median(_child(s, "parse").wall for s in searches)
    m[f"{PL}.bytes_read"] = median(tr.stage_sum([s], "inputBytes") for s in searches)
    m[f"{PL}.shuffle_bytes"] = median(tr.stage_sum([s], "shuffleWriteBytes") for s in searches)
    for c in QUERY_CLASSES:
        m[f"{PL}.search_p50_s.{c}"] = median(s.wall for s in searches if s.attrs["cls"] == c)
    for c in RANK_CLASSES:
        m[f"{BM}.rank_p50_s.{c}"] = median(s.wall for s in ranks if s.attrs["cls"] == c)

    gated, forced, exhaustive = tr.find("wand.gated"), tr.find("wand.forced"), tr.find("wand.exhaustive")
    m[f"{BM}.wand_route_frac"] = _ratio(
        sum(s.attrs["stats"].get("route") == "wand" for s in gated), len(gated)
    )
    m[f"{BM}.blocks_decoded_frac"] = _ratio(
        sum(s.attrs["stats"].get("n_blocks_decoded", 0) for s in forced),
        sum(s.attrs["stats"].get("n_blocks", 0) for s in forced),
    )
    m[f"{BM}.wand_gated_p50_s"] = median(s.wall for s in gated)
    m[f"{BM}.wand_forced_p50_s"] = median(s.wall for s in forced)
    m[f"{BM}.exhaustive_p50_s"] = median(s.wall for s in exhaustive)
    m[f"{BM}.wand_over_exhaustive"] = _ratio(
        m[f"{BM}.wand_forced_p50_s"], m[f"{BM}.exhaustive_p50_s"]
    )

    # read side: handle caches on the stream, segment count on the
    # open-and-search calls
    first = [s.wall for s in searches if s.attrs["first"]]
    repeat = [s for s in searches if not s.attrs["first"]]
    m[f"{IO}.first_seen_p50_s"] = median(first)
    m[f"{IO}.repeat_p50_s"] = median(s.wall for s in repeat)
    m[f"{IO}.repeat_over_first"] = _ratio(m[f"{IO}.repeat_p50_s"], m[f"{IO}.first_seen_p50_s"])
    m[f"{IO}.jobs_per_repeat"] = _ratio(len(tr.job_ids(repeat)), len(repeat))
    m[f"{IO}.open_s"] = median(o.wall for o in tr.find("open"))
    cold = tr.find("cold")
    m["cold_search_p50_s"] = median(c.wall for c in cold)
    by_phase = {p: [_child(c, "search") for c in cold if c.attrs["phase"] == p]
                for p in ("segmented", "compacted")}
    for phase, spans in by_phase.items():
        m[f"{IO}.search_p50_s.{phase}"] = median(s.wall for s in spans)
    m[f"{IO}.files_read_per_query"] = median(
        tr.node_metric([s], "number of files read") for s in by_phase["segmented"]
    )

    if compacts:
        m[f"{IO}.compact.jobs"] = len(tr.job_ids(compacts))
        m[f"{IO}.compact.executor_cpu_s"] = tr.stage_sum(compacts, "executorCpuTime") / 1e9
        m[f"{IO}.compact.python_s"] = tr.node_metric(compacts, PY_TIME)
        m[f"{IO}.compact.shuffle_write_bytes"] = tr.stage_sum(compacts, "shuffleWriteBytes")
        m[f"{IO}.compact.bytes_read"] = tr.stage_sum(compacts, "inputBytes")
        m[f"{IO}.compact.bytes_written"] = dir_bytes(compacted)[0]
        m[f"{IO}.compact.driver_only_s"] = sum(tr.driver_only(c) for c in compacts)

    # build side (the first segment's build; the append is its own figure)
    if builds:
        wall = sum(b.wall for b in builds)
        m[f"{IO}.build.jobs"] = len(tr.job_ids(builds))
        m[f"{IO}.build.tasks"] = tr.tasks(builds)
        m[f"{IO}.build.driver_only_s"] = sum(tr.driver_only(b) for b in builds)
        m[f"{IO}.build.cpu_busy_frac"] = _ratio(
            tr.stage_sum(builds, "executorCpuTime") / 1e9, wall * cores
        )
        m[f"{IO}.build.gc_s"] = tr.stage_sum(builds, "jvmGcTime") / 1e3
        writes = _writes_by_table(tr, builds)
        outputs = {
            j for t in ("dictionary", "doc_stats", "docs")
            for e in writes.get(t, ()) for j in tr.executions[e]["jobs"]
        }
        m[f"{IO}.outputs_s"] = tr.jobs_union_s(outputs)
        block_jobs = [max(tr.executions[e]["jobs"]) for e in writes.get("blocks", ())]
        m[f"{OB}.assemble.write_s"] = sum(
            tr.jobs[j].complete - tr.jobs[j].submit for j in block_jobs
        )
        ids = [s for s in tr.find("ids") if any(s.parent is b for b in builds)]
        m["sources.ids.assign_s"] = sum(s.wall for s in ids)
        m["sources.ids.executor_s"] = tr.stage_sum(ids, "executorRunTime") / 1e3
        below = lambda n: n["below_exchange"]  # noqa: E731
        above = lambda n: not n["below_exchange"]  # noqa: E731
        m[f"{OB}.tokenize.python_s"] = tr.node_metric(builds, PY_TIME, below)
        m[f"{OB}.tokenize.python_bytes_sent"] = tr.node_metric(builds, PY_SENT, below)
        m[f"{OB}.assemble.python_s"] = tr.node_metric(builds, PY_TIME, above)
        m[f"{OB}.shuffle.write_bytes"] = tr.stage_sum(builds, "shuffleWriteBytes")
        m[f"{OB}.shuffle.records"] = tr.stage_sum(builds, "shuffleWriteRecords")
        m[f"{OB}.shuffle.spill_bytes"] = tr.stage_sum(builds, "diskBytesSpilled")
        m[f"{OB}.shuffle.fetch_wait_s"] = tr.stage_sum(builds, "shuffleFetchWaitTime") / 1e3
        files = 0
        seg = os.path.join(wl.root, wl.segments["build"])
        for t in BUILD_TABLES:
            b, f = dir_bytes(os.path.join(seg, t))
            m[f"{IO}.build.bytes_written.{t}"] = b
            files += f
        m[f"{IO}.build.files_written"] = files


def _near_dup(m: dict, wl, tr: Tracer, out: Outcome) -> None:
    steps = _roots(tr, PER_DOC_STEPS + PAIR_STEPS)
    m["dedup_docs_per_s"] = _ratio(out.facts.get("n_docs", 0), sum(s.wall for s in steps))
    m["functions.tokenizer.tokenize_s"] = sum(s.wall for s in tr.find("tokenize"))
    for step in DEDUP_STEPS:
        m[f"{DD}.{step}_s"] = sum(s.wall for s in tr.find(step))
    pairs = out.facts.get("candidate_pairs", 0)
    m[f"{DD}.candidate_pairs"] = pairs
    m[f"{DD}.useful_pair_frac"] = _ratio(out.facts.get("useful_pairs", 0), pairs)
    m[f"{DD}.lsh.peak_task_mem_mb"] = tr.node_metric_max(tr.find("lsh"), "peak memory") / 2**20
    m[f"{DD}.shuffle_bytes"] = tr.stage_sum(steps, "shuffleWriteBytes")
    m[f"{DD}.spill_bytes"] = tr.stage_sum(steps, "diskBytesSpilled")


def span_table(tr: Tracer) -> str:
    """Per-span-name totals: calls, wall, self time and, when traced, the
    Spark jobs and driver-only time (wall none of its jobs covers) of the
    spans, their children's included."""
    rows: dict[str, list] = {}
    for s in tr.spans:
        r = rows.setdefault(s.name, [0, 0.0, 0.0, 0, 0.0])
        r[0] += 1
        r[1] += s.wall
        r[2] += s.self_time
        if tr.enabled:
            r[3] += len(tr.job_ids([s]))
            r[4] += tr.driver_only(s)
    lines = [f"{'span':<16} {'calls':>6} {'wall_s':>9} {'self_s':>9} {'jobs':>6} {'driver_only_s':>13}"]
    for name, (n, wall, own, jobs, drv) in rows.items():
        lines.append(f"{name:<16} {n:>6} {wall:>9.3f} {own:>9.3f} {jobs:>6} {drv:>13.3f}")
    return "\n".join(lines)
