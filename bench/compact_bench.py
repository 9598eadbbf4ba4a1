"""Bench-scale segment append + compaction cycle (VERDICT r3 #6).

Builds N_SEGMENTS incremental appends of the deterministic synthetic
corpus (the CLI `index` verb's steady-state shape), times a hot query
against the segmented index, runs the bounded per-bucket compaction,
re-times the query, and appends a results section to BENCH/BASELINE.md
(FTS_COMPACT_WRITE=1) — so the segment model's cost is a measured
number, not a claim.

Usage: python bench/compact_bench.py [n_docs_total] [n_segments]
"""

from __future__ import annotations

import json
import os
import re
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    n_total = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    n_segs = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    per_seg = n_total // n_segs

    from fulltextsearch_spark.session import get_spark
    from fulltextsearch_spark.sources.index_io import (
        Index,
        build_index,
        compact_index,
    )
    from fulltextsearch_spark.sources.pages import synth_pages

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("fts-compact-bench", cores=cpus, shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="fts_compact_bench_")
    out: dict = {"n_docs": n_total, "n_segments": n_segs, "cpus": cpus}
    try:
        # offset the synthetic doc ids per segment via url prefixing so
        # appends look like genuinely new batches
        t0 = time.time()
        for s in range(n_segs):
            pages = synth_pages(spark, per_seg, seed=1000 + s)
            build_index(
                spark,
                pages,
                root,
                mode="blocks",
                input_desc=f"append batch {s}",
                batch_key=f"batch-{s}",
            )
        out["append_total_sec"] = round(time.time() - t0, 3)
        out["append_docs_per_sec"] = round(n_total / out["append_total_sec"], 1)

        idx = Index.open(spark, root)
        idx.search("WORD(qwarmupq)").limit(1).collect()  # handle warm-up
        t0 = time.time()
        idx.search("WORD(t0)").limit(1000).collect()
        out["q_hot_segmented_sec"] = round(time.time() - t0, 3)

        t0 = time.time()
        compact_index(spark, root)
        out["compact_sec"] = round(time.time() - t0, 3)

        idx2 = Index.open(spark, root)
        out["segments_after"] = len(idx2.manifest["segments"])
        idx2.search("WORD(qwarmupq)").limit(1).collect()
        t0 = time.time()
        idx2.search("WORD(t0)").limit(1000).collect()
        out["q_hot_compacted_sec"] = round(time.time() - t0, 3)
        print(json.dumps(out))

        if os.environ.get("FTS_COMPACT_WRITE"):
            section = f"""<!-- compaction:begin (written by bench/compact_bench.py; hand edits inside are overwritten) -->
## Segment append + bounded compaction at bench scale

{n_segs} incremental appends of {per_seg} docs each (idempotent
batch_key commits, the streaming/CLI append shape), then one bounded
per-bucket compaction into a single segment, on local[{out['cpus']}]:

| phase | value |
|---|---|
| {n_segs} appends, {n_total} docs total | {out['append_total_sec']} s ({out['append_docs_per_sec']} docs/s) |
| hot WORD query, {n_segs}-segment index | {out['q_hot_segmented_sec']} s |
| compaction ({n_segs} segments → 1) | {out['compact_sec']} s |
| hot WORD query, compacted index | {out['q_hot_compacted_sec']} s |

Compaction is resumable per bucket (a kill mid-run redoes only the
first unfinished bucket — tests/test_impacts_and_compaction.py); it
copies block rows verbatim (no decode or re-encode), so its cost is a
sorted rewrite of the data it merges, paid once to collapse the
per-query segment-union overhead.
<!-- compaction:end -->"""
            path = os.path.join(REPO, "BENCH", "BASELINE.md")
            marker = re.compile(
                r"<!-- compaction:begin.*?<!-- compaction:end -->", re.S
            )
            text = open(path).read() if os.path.exists(path) else ""
            if marker.search(text):
                text = marker.sub(lambda _: section, text, count=1)
            else:
                text = text.rstrip("\n") + "\n\n" + section + "\n"
            with open(path, "w") as f:
                f.write(text)
    finally:
        import shutil

        shutil.rmtree(root, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
