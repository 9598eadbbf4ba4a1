"""Round-6 optimization harness (bench.py stays FROZEN for measurement).

Builds the same synthetic blocks-mode index as bench.py, then:

- times each query of the bench mix individually with the noop sink
  (guide §1.4) so the computation is isolated from the collect/sink;
- captures .explain("formatted") for each query into plans/r06/.

Usage:
    python bench_extra.py [--explain-dir plans/r06 --suffix before]
                          [--queries q_and,q_seq] [--repeats 2]
                          [--skip-noop]

Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, FTS_BENCH_DOCS as in bench.py.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--explain-dir", default=None)
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--queries", default=None)
    ap.add_argument("--repeats", type=int, default=1)
    ap.add_argument("--skip-noop", action="store_true")
    ap.add_argument(
        "--root",
        default=None,
        help="reuse/keep a prebuilt index at this path (skips the "
        "build when a manifest exists; never deletes it)",
    )
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_docs = int(os.environ.get("FTS_BENCH_DOCS", "250000"))

    from pyspark.sql import functions as F

    from fulltextsearch_spark.session import get_spark
    from fulltextsearch_spark.sources.index_io import Index, build_index
    from fulltextsearch_spark.sources.pages import synth_pages

    spark = get_spark("fts-bench-extra", cores=cpus, shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    keep = args.root is not None
    root = args.root or tempfile.mkdtemp(prefix="fts_bx_idx_")
    corpus = tempfile.mkdtemp(prefix="fts_bx_pages_")
    timings: dict[str, list[float]] = {}
    try:
        if not os.path.exists(os.path.join(root, "manifest.json")):
            synth_pages(spark, n_docs).repartition(64).write.mode(
                "overwrite"
            ).parquet(corpus)
            pages = spark.read.parquet(corpus)
            t0 = time.time()
            build_index(
                spark, pages, root, mode="blocks",
                input_desc=f"synth n={n_docs}",
            )
            print(f"[build] {time.time() - t0:.2f}s", file=sys.stderr)
        idx = Index.open(spark, root)
        idx.search("WORD(qwarmupq)").limit(1).collect()  # warm-up

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        # same mix as bench.py: name -> (df factory, collect-style runner)
        def search_q(q):
            return lambda: idx.search(q)

        mix = {
            "q_word_hot": search_q("WORD(t0)"),
            "q_word_mid": search_q("WORD(t500)"),
            "q_word_rare": search_q("WORD(zmarkerz)"),
            "q_or": search_q("OR(WORD(t3),WORD(t11),WORD(t250))"),
            "q_and": search_q("AND(WORD(t1),WORD(t2))"),
            "q_seq": search_q("SEQ(WORD(t0),WORD(t1))"),
            "q_wild": search_q("WILD(t10?)"),
            "q_edit": search_q("EDIT(t1000,1)"),
            "q_bm25_word": lambda: idx.rank("WORD(t42)", 10),
            "q_bm25_seq": lambda: idx.rank("SEQ(WORD(t0),WORD(t1))", 10),
            "q_and_or_nested": search_q(
                "AND(WORD(zmarkerz),OR(WORD(t0),WORD(t1)))"
            ),
        }
        wanted = (
            set(args.queries.split(",")) if args.queries else set(mix)
        )
        for name, fn in mix.items():
            if name not in wanted:
                continue
            if args.explain_dir:
                import contextlib
                import io

                os.makedirs(args.explain_dir, exist_ok=True)
                buf = io.StringIO()
                with contextlib.redirect_stdout(buf):
                    fn().explain("formatted")
                with open(
                    os.path.join(
                        args.explain_dir, f"{name}_{args.suffix}.txt"
                    ),
                    "w",
                ) as f:
                    f.write(buf.getvalue())
            if args.skip_noop:
                continue
            for _ in range(args.repeats):
                sc.setJobDescription(f"bx:{name}")
                t0 = time.time()
                noop(fn())
                timings.setdefault(name, []).append(
                    round(time.time() - t0, 3)
                )
            sc.setJobDescription(None)
        # rank paths that collect (driver control plane): time end-to-end
        from fulltextsearch_spark.operators.bm25 import (
            rank_query_exhaustive,
            rank_terms_wand,
        )

        rank_mix = {
            "q_bm25_or": lambda: idx.rank(
                "OR(WORD(t3),WORD(t11),WORD(t250))", 10
            ).collect(),
            "q_bm25_hot": lambda: idx.rank("WORD(t0)", 10).collect(),
            "q_bm25_hot_exh": lambda: rank_query_exhaustive(
                idx, "WORD(t0)", 10
            ).collect(),
            "q_bm25_wand_skew": lambda: rank_terms_wand(
                idx, ["zmarkerz", "t500"], 5, stats={}
            ).collect(),
            "q_bm25_wand_multi": lambda: rank_terms_wand(
                idx, ["t0", "t1"], 10, stats={}
            ).collect(),
        }
        for name, fn in rank_mix.items():
            if name not in wanted and args.queries:
                continue
            if args.skip_noop:
                continue
            for _ in range(args.repeats):
                sc.setJobDescription(f"bx:{name}")
                t0 = time.time()
                fn()
                timings.setdefault(name, []).append(
                    round(time.time() - t0, 3)
                )
            sc.setJobDescription(None)
        # route stats for the hot term (prune health)
        st: dict = {}
        rank_terms_wand(idx, ["t0"], 10, stats=st).collect()
        print(json.dumps({"timings": timings, "wand_hot": st}))
    finally:
        if not keep:
            shutil.rmtree(root, ignore_errors=True)
        shutil.rmtree(corpus, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
