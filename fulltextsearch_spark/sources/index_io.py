"""Index persistence: parquet segment tables + a JSON manifest.

Replaces the reference's 6-file folder layout (PersistentIndex.cs:10-16
— header/dictionary/postings/fields/textpos/posindex; SURVEY.md §1.4)
with an index root directory:

    <root>/manifest.json          atomic commit point (write-tmp + rename)
    <root>/seg_NNNNN/postings/    (term, doc_id, field_id, positions, tf)
                                  (mode="arrays")
    <root>/seg_NNNNN/blocks/      compressed block rows (the block modes)
    <root>/seg_NNNNN/dictionary/  (term, df, cf)
    <root>/seg_NNNNN/doc_stats/   (doc_id, dl)
    <root>/seg_NNNNN/docs/        (doc_id, url, warc_ts, lang[, meta], text)

Per-document position vectors (the reference's textpos file) live as
sentinel rows (term="", flat off/len vector) inside the main table
(postings or blocks) under their own partition directory
bucket=n_buckets — they fall out of the SAME tokenize pass as the
postings and term queries never scan them (bucket pruning). The
manifest's ``version`` is the on-disk format (FORMAT_VERSION); any
other version is rejected with a "rebuild" error.

Segments are the analog of the reference's posting-list continuation
chains for incremental indexing (PersistentBuilder.cs:69-80, SURVEY.md
§2.C9): each build session appends a segment; query-side the engine
unions segment tables; a compaction job can merge them. The manifest
records per-segment lineage + metrics and is the resume anchor
(north_rule): a killed build leaves no manifest entry, so a rerun
redoes only the uncommitted segment.

Postings/blocks are hash-bucketed by term (``bucket`` partition column)
so exact-term queries prune to one directory per segment.
"""

from __future__ import annotations

import json
import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from functools import reduce

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fulltextsearch_spark import MAX_TOKEN_SIZE
from fulltextsearch_spark.operators import build as B
from fulltextsearch_spark.sources.ids import (
    assign_dense_ids_with_counts,
    build_width,
)

MANIFEST = "manifest.json"
# On-disk format version, checked by every manifest read. Version 2:
# per-doc position vectors are sentinel rows (term="") in the main
# table's extra bucket n_buckets; blocks modes store ONLY the blocks
# table (no staged postings), every block carrying its (tf, dl) impact
# frontier and never splitting a doc, and each sentinel's block_no is
# its field id. Older versions are rejected with a "rebuild" error.
FORMAT_VERSION = 2
DEFAULT_BUCKETS = 8
# auto-scaling target: enough buckets that a point lookup prunes to
# ~this many docs' worth of postings per segment; capped at 4096
# (SCALE.md's prescription for 10^12 docs — reached at ~10^9 docs).
# Sized so bucket growth starts only where per-bucket data is big
# enough to amortize the write fan-out: the fused encode shuffle's
# partitionBy("bucket") opens up to n_buckets sequential parquet
# writers PER TASK, so total files ~ n_parts x n_buckets — measured at
# 300k docs / 32 cores, jumping 8 -> 32 buckets cost 30% of the whole
# build (5.9k -> 4.2k docs/s) for pruning nobody needs at that size.
DOCS_PER_BUCKET = 262_144
MAX_BUCKETS = 4096


def pick_n_buckets(n_docs: int) -> int:
    """Bucket count for a corpus of ``n_docs`` (first-segment estimate):
    next power of two of n_docs / DOCS_PER_BUCKET, clamped to
    [DEFAULT_BUCKETS, MAX_BUCKETS]. Appends reuse the manifest's value
    (the bucket hash must stay stable for the index's lifetime)."""
    target = max(DEFAULT_BUCKETS, -(-n_docs // DOCS_PER_BUCKET))
    return min(MAX_BUCKETS, 1 << (target - 1).bit_length())
# modes whose query path reads compressed block rows; the mode name
# picks the payload codec (delta+varint / group-varint / packed-ints /
# uncompressed binary)
BLOCK_MODES = ("blocks", "groupvarint", "packedints", "binary")

# Driver-side fast path: exact-term lookups whose candidate blocks hold
# at most this many occurrences are read with pyarrow ON THE DRIVER
# (bucket-pruned directories + term row-group stats) and decoded
# in-process — zero Spark jobs for the read, a 1-task local-relation
# job for the collect, instead of a 32-task parquet scan stage whose
# ~0.7s is almost all scheduling (VERDICT r3 #3). 64k occurrences ≈ 16
# full blocks ≈ a couple MB on the driver — far below any executor's
# working set, so the path can never pull a hot term's postings into
# the driver (the metadata pre-read bails out first).
LOCAL_FAST_MAX_OCC = 1 << 16

# Driver-side block-METADATA budget (Index.block_meta, from either of
# its sources): ~1 row per BLOCK_MAX_OCC (4096) occurrences, so 1M
# metadata rows covers terms with ~4·10^9 occurrences — far past any
# interactive query — while a true stop word on a web-scale corpus
# (10^8+ blocks) aborts the read, and block-max WAND ranks it by the
# exact full decode instead ("exhaustive_over_budget").
LOCAL_META_MAX_BLOCKS = 1 << 20


def _local_fast_enabled() -> bool:
    return not os.environ.get("FTS_NO_LOCAL_FAST_PATH")


# Schemas of a segment's own tables, so a read-back of what a build or
# compaction just wrote runs no schema-inference job. ``bucket`` is the
# partition column.
DICTIONARY_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType()),
        T.StructField("df", T.LongType()),
        T.StructField("cf", T.LongType()),
    ]
)
POSTINGS_SCHEMA_BUCKETED = T.StructType(
    [*B.POSTING_SCHEMA.fields, T.StructField("bucket", T.IntegerType())]
)


def _write_dictionary(dictionary: DataFrame, path: str) -> dict:
    """Write a segment's (term, df, cf) dictionary; returns its
    collection stats (n_terms, n_postings = Σ df), observed while it is
    written — no second job over the written table."""
    obs = Observation()
    dictionary.observe(
        obs, F.count(F.lit(1)).alias("n_terms"), F.sum("df").alias("n_postings")
    ).write.mode("overwrite").parquet(path)
    stats = obs.get
    return {
        "n_terms": stats["n_terms"],
        "n_postings": int(stats["n_postings"] or 0),
    }


# block-metadata columns (Index.block_meta)
BLOCK_META_COLS = (
    "term", "first_doc", "last_doc", "n_occ", "n_docs", "max_tf",
    "imp_tf", "imp_dl",
)


def _sort_block_meta(tbl):
    """(term, first_doc) order — a unique block key (a term's blocks
    never overlap in doc range, across segments), so both metadata
    sources give the same row order whatever their file or partition
    order. The single-term WAND seed breaks ub ties by row order."""
    return tbl.sort_by([("term", "ascending"), ("first_doc", "ascending")])


def _block_predicate(col, lit, min_doc, doc_ranges, block_first_docs):
    """The predicate of a filtered posting read (Index.postings), or
    None when there is no filter: keep a block iff its [first_doc,
    last_doc] span overlaps one of ``doc_ranges``, its first_doc is one
    of ``block_first_docs`` and its last_doc reaches ``min_doc``.
    ``col``/``lit`` build it for each reader: F.col/F.lit for the Spark
    scan (pushed into parquet), pyarrow.compute.field/scalar for the
    driver fast path, so both keep exactly the same blocks."""
    preds = []
    if doc_ranges is not None:
        spans = [
            (col("last_doc") >= lo) & (col("first_doc") <= hi)
            for lo, hi in doc_ranges
        ]
        preds.append(reduce(lambda a, b: a | b, spans) if spans else lit(False))
    if block_first_docs is not None:
        keys = [int(x) for x in block_first_docs]
        preds.append(col("first_doc").isin(keys) if keys else lit(False))
    if min_doc is not None:
        preds.append(col("last_doc") >= min_doc)
    return reduce(lambda a, b: a & b, preds) if preds else None


def term_bucket(col, n_buckets: int):
    return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")


def _sorted_bucketed(
    df: DataFrame, *extra_sort_cols: str, n_parts: int | None = None
) -> DataFrame:
    """Hash-partition on (bucket, term) + in-partition sort by
    (bucket, term, ...) ahead of a partitionBy('bucket') write — the
    writer's required ordering is pre-satisfied (no per-task re-sort of
    array rows) and files get term-clustered row groups. Hash (not
    range) partitioning: a range partitioner would run a sampling job
    that recomputes the whole upstream aggregation. ``n_parts`` defaults
    to the size-derived width of ``df`` itself (sources/ids.py)."""
    cols = ["bucket", "term", *extra_sort_cols]
    # doc-range salt in the shuffle key: a stop-word term's posting
    # rows would otherwise all land in one write task at 10^12 docs.
    # Doc-position sentinel rows ALL share term=DP_TERM and are the
    # biggest rows in the table, so they get a per-doc salt (uniform
    # spread) — with the range salt alone, every sentinel row within a
    # 4M-doc span landed in ONE write task (measured straggler).
    if "doc_id" in df.columns:
        salt = F.when(F.col("term") == B.DP_TERM, F.col("doc_id")).otherwise(
            (F.col("doc_id") / F.lit(B.DOC_GROUP_SPAN)).cast("long")
        )
    else:
        salt = F.col("doc_grp")
    # explicit count — bare repartition(cols) would be AQE-coalesced
    # down to a handful of write tasks at moderate sizes
    if n_parts is None:
        n_parts, _ = build_width(df)
    return df.repartition(
        n_parts, F.col("bucket"), F.col("term"), salt
    ).sortWithinPartitions(*cols)


def _blocks_stats(
    blocks: DataFrame, n_buckets: int, single_field: bool
) -> tuple[DataFrame, DataFrame]:
    """(dictionary, doc_stats) of a blocks segment from the METADATA of
    its committed block rows (BLOCK_SCHEMA_BUCKETED):
      df = Σ n_docs — exact even for multi-field: a document never
           splits across blocks (the assembly cuts blocks at doc
           boundaries) and (doc_grp, segment) doc ranges are disjoint;
      cf = Σ n_occ;
      dl = sentinel n_occ / 2, summed over a doc's fields (one
           sentinel per (doc, field)) when there are several."""
    dictionary = blocks.where(F.col("bucket") < n_buckets).groupBy("term").agg(
        F.sum("n_docs").cast("long").alias("df"),
        F.sum("n_occ").cast("long").alias("cf"),
    )
    sent = blocks.where(F.col("bucket") == n_buckets)
    if single_field:
        doc_stats = sent.select(
            F.col("first_doc").alias("doc_id"),
            (F.col("n_occ") / 2).cast("long").alias("dl"),
        )
    else:
        doc_stats = sent.groupBy(F.col("first_doc").alias("doc_id")).agg(
            (F.sum("n_occ") / 2).cast("long").alias("dl")
        )
    return dictionary, doc_stats


def _build_dict_code(spark: SparkSession, dict_path: str) -> dict[int, int]:
    """Canonical-Huffman bit lengths measured from the segment's own
    dictionary characters (SURVEY §2.C13 — the reference uses a static
    latin table; per-index frequencies fit any corpus). One tiny agg
    over the one-row-per-term dictionary."""
    from fulltextsearch_spark.functions import charcodes as CC

    rows = (
        spark.read.schema(DICTIONARY_SCHEMA)
        .parquet(dict_path)
        .select(F.explode(F.split("term", "")).alias("ch"))
        .where(F.col("ch") != "")
        .groupBy("ch")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    freqs = {ord(r["ch"]): int(r["n"]) for r in rows if len(r["ch"]) == 1}
    return CC.huffman_lengths(freqs)


def _encode_dictionary_dir(
    spark: SparkSession, dict_path: str, lengths: dict[int, int]
) -> None:
    """Replace a plain dictionary parquet dir with the var-len-coded
    layout (term_code binary, code_bits, df, cf) — the stored table
    carries NO plain term column, like the reference's encoded
    dictionary files. Local-FS dir swap; on an object store the swap
    would be a manifest pointer flip instead."""
    import shutil

    import pandas as pd

    from fulltextsearch_spark.functions import charcodes as CC

    codes = CC.canonical_codes(lengths)

    def run(pdfs):
        for pdf in pdfs:
            encs = [CC.encode_term(t, codes) for t in pdf["term"]]
            yield pd.DataFrame(
                {
                    "term_code": [e[0] for e in encs],
                    "code_bits": pd.Series(
                        [e[1] for e in encs], dtype="int32"
                    ),
                    "df": pdf["df"],
                    "cf": pdf["cf"],
                }
            )

    tmp = dict_path + ".enc.tmp"
    spark.read.schema(DICTIONARY_SCHEMA).parquet(dict_path).mapInPandas(
        run, "term_code binary, code_bits int, df long, cf long"
    ).write.mode("overwrite").parquet(tmp)
    # swap keeping a recoverable copy through the window: a crash
    # between removing the plain dir and renaming the encoded one in
    # would otherwise leave the segment with NO dictionary at all
    # (compaction's post-bucket rewrite resumes by re-reading it —
    # ADVICE r4)
    old = dict_path + ".old"
    shutil.rmtree(old, ignore_errors=True)
    os.rename(dict_path, old)
    os.rename(tmp, dict_path)
    shutil.rmtree(old)


def decode_dictionary(df: DataFrame, lengths: dict[int, int]) -> DataFrame:
    """(term_code, code_bits, df, cf) -> (term, df, cf) — the
    decode-while-reading analog of the reference's DecodingMatcher."""
    import pandas as pd

    from fulltextsearch_spark.functions import charcodes as CC

    table = CC.decode_table_from_lengths(lengths)

    def run(pdfs):
        for pdf in pdfs:
            yield pd.DataFrame(
                {
                    "term": [
                        CC.decode_term(bytes(d), int(n), table)
                        for d, n in zip(pdf["term_code"], pdf["code_bits"])
                    ],
                    "df": pdf["df"],
                    "cf": pdf["cf"],
                }
            )

    return df.mapInPandas(run, "term string, df long, cf long")


def _maybe_encode_dict(
    spark: SparkSession, seg_path: str, manifest: dict
) -> None:
    """Re-apply the manifest's frozen dictionary char code to a freshly
    written plain dictionary dir (compaction paths)."""
    enc = manifest["type"].get("dict_encoding")
    if enc:
        from fulltextsearch_spark.functions import charcodes as CC

        _encode_dictionary_dir(
            spark,
            os.path.join(seg_path, "dictionary"),
            CC.lengths_from_json(enc["lengths"]),
        )


def _in_job_group(spark: SparkSession, fn):
    """``fn`` wrapped so a pool thread runs it under the caller's job group
    and local properties. Unchanged when pinned-thread mode is off (then
    ``inheritable_thread_target`` hands the session back)."""
    wrap = inheritable_thread_target(spark)
    return fn if wrap is spark else wrap(fn)


def _read_manifest(root: str) -> dict | None:
    """The committed manifest, or None when the root has none. Raises
    ValueError for any format version but FORMAT_VERSION."""
    p = os.path.join(root, MANIFEST)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        manifest = json.load(f)
    if manifest.get("version") != FORMAT_VERSION:
        raise ValueError(
            f"index at {root} has format version {manifest.get('version')!r}; "
            f"this engine reads version {FORMAT_VERSION} only — rebuild the "
            "index from its pages"
        )
    return manifest


def _write_manifest(root: str, manifest: dict) -> None:
    tmp = os.path.join(root, MANIFEST + ".tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.replace(tmp, os.path.join(root, MANIFEST))  # atomic commit


def build_index(
    spark: SparkSession,
    pages: DataFrame,
    root: str,
    mode: str = "blocks",
    n_buckets: int | None = None,
    input_desc: str = "<inline>",
    keep_text: bool = True,
    keep_positions: bool = True,
    batch_key: str | None = None,
    preassigned_ids: bool = False,
    field_cols: list[str] | None = None,
    dict_encoding: str | None = None,
) -> dict:
    """Append one index segment built from ``pages``; returns the manifest.

    Re-runnable: if a previous run died mid-segment, the orphan segment
    directory is simply overwritten (it was never committed to the
    manifest). This is the resumable-DAG commit protocol (north_rule).

    ``batch_key`` makes the commit idempotent for at-least-once callers
    (streaming foreachBatch): if a committed segment already carries the
    same key, the call is a no-op — redelivered micro-batches cannot
    append duplicate documents.

    ``preassigned_ids=True`` skips dense-id assignment and indexes the
    input's existing ``doc_id`` column (ids must be positive and unique;
    density is not required).

    ``n_buckets=None`` (default) auto-scales the term-hash bucket count
    to the first segment's size (pick_n_buckets); appends always reuse
    the manifest's committed value.

    ``field_cols`` builds a MULTI-FIELD compound index (reference
    AddCompound, FullTextIndexBuilder.cs:50-64): each listed text
    column becomes field_id 1..N. Blocks never split a document, so
    block-max WAND bounds stay score-safe (operators/build.py).

    ``dict_encoding="huffman"`` stores dictionary keys under a
    canonical var-len char code measured from the first segment's own
    characters (SURVEY §2.C13 — functions/charcodes.py); the stored
    dictionary has no plain term column, appends/compaction reuse the
    manifest's frozen code table (ESC covers unseen characters), and
    query semantics are identical (Index.dictionary decodes).

    Driver-action budget (scaling efficiency): one id job, one main
    table write (THE tokenize pass — doc positions ride along as
    sentinel rows), then dictionary / doc_stats / docs writes over the
    committed table, read back with its known schema. Collection stats
    are observed on the dictionary write. No second tokenize pass, no
    schema-inference or counting jobs.

    Width: every shuffle of the build (the id shuffle, which the
    tokenize pass inherits, and the block or postings shuffle) uses one
    partition count derived from the optimizer's size estimate of the
    column-pruned input (sources/ids.py build_width) — a small append
    runs as few tasks as it fills, a large build keeps the cap. The
    manifest lineage records the width and the estimate behind it.
    """
    t0 = time.time()
    if dict_encoding not in (None, "huffman"):
        raise ValueError(f"unknown dict_encoding {dict_encoding!r}")
    os.makedirs(root, exist_ok=True)
    text_cols = list(field_cols) if field_cols else ["text"]
    n_fields = len(text_cols)
    manifest = _read_manifest(root)
    if manifest is not None:
        if manifest["type"]["mode"] != mode:
            raise ValueError(
                f"index at {root} was built with mode={manifest['type']['mode']!r}"
            )
        if manifest["type"]["keep_positions"] != keep_positions:
            raise ValueError(
                "keep_positions must match the index's original build "
                f"(manifest: {manifest['type']['keep_positions']})"
            )
        if manifest["type"]["n_fields"] != n_fields:
            raise ValueError(
                f"index at {root} has {manifest['type']['n_fields']} "
                f"field(s); got {n_fields}"
            )
        if n_buckets is not None and n_buckets != manifest["type"]["n_buckets"]:
            raise ValueError(
                "n_buckets is fixed at index creation "
                f"(manifest: {manifest['type']['n_buckets']})"
            )
        prior_enc = (manifest["type"].get("dict_encoding") or {}).get("name")
        if prior_enc != dict_encoding:
            raise ValueError(
                "dict_encoding is fixed at index creation "
                f"(manifest: {prior_enc!r}, got {dict_encoding!r})"
            )
    if manifest is not None and batch_key is not None and any(
        s.get("batch_key") == batch_key
        for s in manifest["segments"]
        if s["committed"]
    ):
        return manifest  # idempotent: this batch is already committed
    start_id = manifest["next_doc_id"] if manifest else 1

    # prune to the columns the index actually stores BEFORE any shuffle:
    # at web scale `html` dwarfs everything else and must not ride
    # through the id-assignment exchange
    meta_cols = [c for c in ("url", "warc_ts", "lang", "meta") if c in pages.columns]
    if preassigned_ids:
        pruned = pages.select("doc_id", *meta_cols, *text_cols)
        width, input_bytes = build_width(pruned)
        with_ids = pruned.persist()
        part_rows = [
            {"pid": r["_p"], "rows": r["n"], "min_doc": r["lo"], "max_doc": r["hi"]}
            for r in with_ids.groupBy(F.spark_partition_id().alias("_p"))
            .agg(
                F.count("*").alias("n"),
                F.min("doc_id").alias("lo"),
                F.max("doc_id").alias("hi"),
            )
            .collect()
        ]
        n_docs = sum(p["rows"] for p in part_rows)
        id_lo = min((p["min_doc"] for p in part_rows), default=start_id)
        id_hi = max((p["max_doc"] for p in part_rows), default=start_id - 1)
        order_col = "doc_id (preassigned)"
    else:
        pruned = pages.select(*meta_cols, *text_cols)
        width, input_bytes = build_width(pruned)
        with_ids, counts = assign_dense_ids_with_counts(
            pruned, "url", "doc_id", start=start_id, num_partitions=width
        )
        part_rows = [
            {"pid": pid, "rows": n} for pid, n in sorted(counts.items())
        ]
        n_docs = sum(counts.values())
        id_lo, id_hi = start_id, start_id + n_docs - 1
        order_col = "url"
    if n_docs == 0:
        # nothing to index: commit no segment, so an append leaves the
        # index as it was and a first build creates no index at all
        with_ids.unpersist()
        if manifest is None:
            raise ValueError(f"cannot create an index from an empty input ({input_desc})")
        return manifest

    if manifest is None:
        manifest = {
            "version": FORMAT_VERSION,
            "type": {
                "engine": "fulltextsearch_spark",
                "mode": mode,
                "n_buckets": n_buckets if n_buckets else pick_n_buckets(n_docs),
                "n_fields": n_fields,
                "keep_positions": keep_positions,
            },
            "tokenizer": {"max_token_size": MAX_TOKEN_SIZE},
            "next_doc_id": 1,
            "segments": [],
        }
    n_buckets = manifest["type"]["n_buckets"]
    seg_id = 1 + max((s["id"] for s in manifest["segments"]), default=0)
    seg_name = f"seg_{seg_id:05d}"
    seg_path = os.path.join(root, seg_name)

    # posting rows assembled per batch inside the tokenize pass — no
    # groupBy shuffle (tokenize_postings docstring); doc-position
    # sentinel rows (term="") land in their own bucket = n_buckets so
    # term-bucket pruning never reads them. Blocks modes always emit
    # sentinel rows: their METADATA (n_occ = vector length) is the
    # doc-length table even when payloads are stripped.
    emit_dp = keep_positions or mode in BLOCK_MODES

    def _tokenized_rows() -> DataFrame:
        """Row-granular posting rows with the bucket column (arrays
        mode)."""
        if n_fields == 1:
            tok = B.tokenize_postings(
                with_ids.select("doc_id", F.col(text_cols[0]).alias("text")),
                emit_doc_positions=emit_dp,
            )
        else:
            parts = [
                B.tokenize_postings(
                    with_ids.select("doc_id", F.col(c).alias("text")),
                    field_id=fid,
                    emit_doc_positions=emit_dp,
                )
                for fid, c in enumerate(text_cols, start=1)
            ]
            tok = reduce(DataFrame.unionByName, parts)
        return tok.withColumn(
            "bucket",
            F.when(F.col("term") == B.DP_TERM, F.lit(n_buckets)).otherwise(
                term_bucket(F.col("term"), n_buckets)
            ),
        )

    dict_path = os.path.join(seg_path, "dictionary")

    if mode in BLOCK_MODES:
        # blocks-only layout: the tokenize pass pipes STRAIGHT into the
        # fused block shuffle (partition by (bucket, term, doc_grp),
        # sort bucket-first, encode, write partitionBy(bucket)) — the
        # build's ONLY full-data shuffle and ONLY full-data write. No
        # staged array-postings table exists; dictionary and doc stats
        # read the tiny committed block METADATA (_blocks_stats).
        # The shuffle carries PACKED RUNS — one row per (map batch,
        # term, doc group) instead of one per posting, because the
        # per-row JVM↔Arrow conversion, not the codec, dominates a
        # row-granular build (operators/build.py packed-run notes).
        run_parts = [
            B.tokenize_packed_runs(
                with_ids.select("doc_id", F.col(c).alias("text")),
                field_id=fid,
            )
            for fid, c in enumerate(text_cols, start=1)
        ]
        blocks_df = B.assemble_packed_blocks(
            reduce(DataFrame.unionByName, run_parts),
            width,
            codec=mode,
            n_buckets=n_buckets,
            strip_dp_payload=not keep_positions,
        )
        blocks_df.write.mode("overwrite").partitionBy("bucket").parquet(
            os.path.join(seg_path, "blocks")
        )
        blocks_committed = spark.read.schema(B.BLOCK_SCHEMA_BUCKETED).parquet(
            os.path.join(seg_path, "blocks")
        )
        dictionary, doc_stats = _blocks_stats(
            blocks_committed, n_buckets, single_field=n_fields == 1
        )

        def _write_doc_stats() -> None:
            doc_stats.write.mode("overwrite").parquet(
                os.path.join(seg_path, "doc_stats")
            )

    else:
        # arrays layout: stage the posting rows as the queryable table;
        # everything downstream derives from the committed postings —
        # one tokenize pass total (the reference tokenizes once too, §3.1).
        _sorted_bucketed(_tokenized_rows(), "doc_id", n_parts=width).write.mode(
            "overwrite"
        ).partitionBy("bucket").parquet(os.path.join(seg_path, "postings"))
        staged = spark.read.schema(POSTINGS_SCHEMA_BUCKETED).parquet(
            os.path.join(seg_path, "postings")
        )
        postings_committed = staged.where(F.col("bucket") < n_buckets)
        # single_field: one text column => rows are (term, doc)-unique —
        # no count_distinct expand needed
        dictionary = B.build_dictionary(
            postings_committed, single_field=n_fields == 1
        )

        def _write_doc_stats() -> None:
            if keep_positions:
                # dl = half the sentinel row's flat position vector: a
                # narrow projection of ONE bucket directory — no agg
                sent = staged.where(F.col("bucket") == n_buckets).select(
                    "doc_id", (F.size("positions") / 2).cast("long").alias("dl")
                )
                doc_stats = (
                    sent
                    if n_fields == 1
                    else sent.groupBy("doc_id").agg(
                        F.sum("dl").cast("long").alias("dl")
                    )
                )
            else:
                doc_stats = B.doc_stats_from_postings(postings_committed)
            doc_stats.write.mode("overwrite").parquet(
                os.path.join(seg_path, "doc_stats")
            )

    def _write_docs() -> None:
        docs_cols = ["doc_id", *meta_cols] + (text_cols if keep_text else [])
        with_ids.select(*docs_cols).write.mode("overwrite").parquet(
            os.path.join(seg_path, "docs")
        )

    # these outputs derive independently from the committed main table
    # (or the cached pages) — submit them as CONCURRENT Spark jobs so
    # one job's scheduling gaps and straggler tails fill with another's
    # tasks (works identically on a real cluster: the driver is free to
    # run independent jobs in parallel). The wrapped targets carry the
    # caller's job group and local properties into the pool threads.
    with ThreadPoolExecutor(max_workers=3) as pool:
        futures = [
            pool.submit(_in_job_group(spark, fn))
            for fn in (
                lambda: _write_dictionary(dictionary, dict_path),
                _write_doc_stats,
                _write_docs,
            )
        ]
        # propagate the first failure
        stats, _, _ = [fut.result() for fut in futures]
    if dict_encoding is not None:
        from fulltextsearch_spark.functions import charcodes as CC

        enc = manifest["type"].get("dict_encoding")
        if enc is None:  # first segment freezes the code table
            enc = {
                "name": dict_encoding,
                "lengths": CC.lengths_to_json(
                    _build_dict_code(spark, dict_path)
                ),
            }
            manifest["type"]["dict_encoding"] = enc
        _encode_dictionary_dir(
            spark, dict_path, CC.lengths_from_json(enc["lengths"])
        )
    with_ids.unpersist()

    segment = {
        "id": seg_id,
        "path": seg_name,
        "n_docs": n_docs,
        "doc_id_range": [id_lo, id_hi],
        "lineage": {
            "input": input_desc,
            "order_col": order_col,
            "row_count": n_docs,
            "partitions": part_rows,
            "width": width,
            "input_bytes_est": input_bytes,
        },
        "metrics": {**stats, "build_sec": round(time.time() - t0, 3)},
        "committed": True,
    }
    if batch_key is not None:
        segment["batch_key"] = batch_key
    manifest["segments"].append(segment)
    manifest["next_doc_id"] = max(manifest["next_doc_id"], id_hi + 1)
    _write_manifest(root, manifest)
    return manifest


def compact_index(
    spark: SparkSession, root: str, _stop_after_buckets: int | None = None
) -> dict:
    """Merge all committed segments into one (segment compaction).

    The query-side union of segments mirrors the reference's posting
    continuation chains (SURVEY.md §2.C9); compaction collapses the
    chain the way a segment-merging indexer does. Doc ids are already
    global and disjoint across segments, so rows merge by union and
    the dictionary and doc stats are recomputed from the merged table.
    Commits via the same atomic manifest swap.

    Blocks-only indexes compact by COPYING block rows verbatim — no
    payload decode or re-encode. Segments are doc-id disjoint and a
    block never splits a doc, so a term's blocks from all segments
    already form a valid block list; their impact frontiers stay exact
    because a doc's length never changes. Each bucket's rows are
    written sorted by (term, first_doc), the unique block key, so the
    driver fast path's term row-group stats stay selective. Trade-off:
    block boundaries are kept, not re-chunked — the compacted index
    holds exactly the blocks of its sources, so each term may keep one
    partial block per source segment. Doc-position sentinel rows (one
    block per (doc, field)) copy the same way, which also preserves
    stripped (keep_positions=False) payloads and their dl-bearing
    metadata.

    The copy is BOUNDED: term-hash bucket directories are independent,
    so each bucket merges as its own job and commits its completion to
    the manifest ("compaction" record) — a killed compaction of a
    1000-segment index resumes at the first unfinished bucket instead
    of redoing a full-index rewrite (the failure domain is one bucket,
    ~1/n_buckets of the data). ``_stop_after_buckets`` is a test hook:
    stop (cleanly) after N bucket merges, leaving the in-progress
    record for a resume call.
    """
    idx = Index.open(spark, root)
    manifest = idx.manifest
    old = [s for s in manifest["segments"] if s["committed"]]
    if len(old) <= 1 and "compaction" not in manifest:
        return manifest
    t0 = time.time()

    single_field = manifest["type"]["n_fields"] == 1
    n_b = idx.n_buckets
    if idx.mode in BLOCK_MODES:
        src_ids = sorted(s["id"] for s in old)
        comp = manifest.get("compaction")
        if comp is None or comp.get("sources") != src_ids:
            # fresh compaction (or the segment set changed under a
            # stale in-progress record): allocate a new segment id
            seg_id = 1 + max(
                [s["id"] for s in manifest["segments"]]
                + ([comp["id"]] if comp else [])
            )
            comp = {
                "id": seg_id,
                "path": f"seg_{seg_id:05d}",
                "sources": src_ids,
                "done_buckets": [],
            }
            manifest["compaction"] = comp
            _write_manifest(root, manifest)
        seg_id = comp["id"]
        seg_name = comp["path"]
        seg_path = os.path.join(root, seg_name)
        done = set(comp["done_buckets"])

        def _merge_bucket(b: int) -> None:
            # a JVM-only copy: project, sort by the block key, write.
            # The global sort leaves part files with disjoint sorted term
            # ranges, and AQE sizes their count from the bucket's bytes.
            # block_no only orders a multi-field doc's sentinels.
            idx._union("blocks").where(F.col("bucket") == b).select(
                *B.BLOCK_SCHEMA.fieldNames()
            ).orderBy("term", "first_doc", "block_no").write.mode(
                "overwrite"
            ).parquet(os.path.join(seg_path, "blocks", f"bucket={b}"))

        pending = [b for b in range(n_b + 1) if b not in done]
        if _stop_after_buckets is not None:
            # test hook: deterministic bounded serial merge, leaving the
            # in-progress record for a resume call
            for b in pending[:_stop_after_buckets]:
                _merge_bucket(b)
                done.add(b)
                comp["done_buckets"] = sorted(done)
                _write_manifest(root, manifest)
            if len(done) < n_b + 1:
                return manifest
        elif pending:
            # bucket merges are independent jobs over disjoint partition
            # directories — submit them concurrently (the build's
            # concurrent-output pattern: one job's scheduling gaps fill
            # with another's tasks; VERDICT r4 noted the serial loop at
            # ~1/3 of build throughput). Each bucket still commits its
            # own manifest record on completion (lock-serialized), so a
            # killed compaction resumes at the unfinished buckets and
            # the failure domain stays one bucket.
            lock = threading.Lock()

            def _run(b: int) -> None:
                _merge_bucket(b)
                with lock:
                    done.add(b)
                    comp["done_buckets"] = sorted(done)
                    _write_manifest(root, manifest)

            # pool width scales with the cluster (VERDICT r5 #7): each
            # bucket merge is a Spark job whose tasks are narrower than
            # the cluster, so ~cores/4 concurrent bucket jobs keep
            # executors full through each job's straggler tail without
            # swamping the scheduler (same reasoning as the build's
            # concurrent outputs); floor 4 preserves the measured local
            # win.
            workers = min(
                len(pending),
                max(4, spark.sparkContext.defaultParallelism // 4),
            )
            run = _in_job_group(spark, _run)
            with ThreadPoolExecutor(max_workers=workers) as pool:
                for fut in [pool.submit(run, b) for b in pending]:
                    fut.result()  # propagate the first failure
        blocks_committed = spark.read.schema(B.BLOCK_SCHEMA_BUCKETED).parquet(
            os.path.join(seg_path, "blocks")
        )
        dictionary, stats_df = _blocks_stats(blocks_committed, n_b, single_field)
        stats_df.write.mode("overwrite").parquet(
            os.path.join(seg_path, "doc_stats")
        )
    else:
        seg_id = 1 + max(s["id"] for s in manifest["segments"])
        seg_name = f"seg_{seg_id:05d}"
        seg_path = os.path.join(root, seg_name)
        postings = idx._union("postings")
        # sentinel doc-position rows (bucket == n_buckets) travel with
        # the postings union unchanged — no separate doc_positions table
        _sorted_bucketed(postings, "doc_id").write.mode("overwrite").partitionBy(
            "bucket"
        ).parquet(os.path.join(seg_path, "postings"))
        merged = (
            spark.read.schema(POSTINGS_SCHEMA_BUCKETED)
            .parquet(os.path.join(seg_path, "postings"))
            .where(F.col("bucket") < idx.n_buckets)
        )
        dictionary = B.build_dictionary(merged, single_field=single_field)
        idx.doc_stats().write.mode("overwrite").parquet(
            os.path.join(seg_path, "doc_stats")
        )
    stats = _write_dictionary(dictionary, os.path.join(seg_path, "dictionary"))
    _maybe_encode_dict(spark, seg_path, manifest)
    idx.docs().write.mode("overwrite").parquet(os.path.join(seg_path, "docs"))

    n_docs = sum(s["n_docs"] for s in old)
    manifest.pop("compaction", None)
    manifest["segments"] = [
        {
            "id": seg_id,
            "path": seg_name,
            "n_docs": n_docs,
            "doc_id_range": [
                min(s["doc_id_range"][0] for s in old),
                max(s["doc_id_range"][1] for s in old),
            ],
            "lineage": {
                "input": f"compaction of segments {[s['id'] for s in old]}",
                "compacted_from": [s["id"] for s in old],
                "row_count": n_docs,
                "partitions": [],
            },
            "metrics": {**stats, "build_sec": round(time.time() - t0, 3)},
            "committed": True,
        }
    ]
    _write_manifest(root, manifest)
    return manifest


@dataclass
class Index:
    """Query handle over a committed index root (analog of
    PersistentIndex open/verify, PersistentIndex.cs:19-72)."""

    spark: SparkSession
    root: str
    manifest: dict = field(repr=False, default=None)
    _dictionary_cache: DataFrame | None = field(repr=False, default=None)
    _doc_stats_cache: DataFrame | None = field(repr=False, default=None)
    _collection_stats: tuple[int, float] | None = field(repr=False, default=None)
    _table_cache: dict = field(repr=False, default_factory=dict)
    # guards the per-handle driver caches touched by concurrent rank
    # queries sharing one handle (decoded-table memo eviction)
    _cache_lock: object = field(repr=False, default_factory=threading.Lock)
    # term set -> block-metadata table, or False when over budget
    _blockmeta_cache: dict = field(repr=False, default_factory=dict)
    # term set -> fast-path verdict (True: within LOCAL_FAST_MAX_OCC)
    _local_occ_cache: dict = field(repr=False, default_factory=dict)
    # (term set, filters) -> decoded posting table (bounded, 64 entries)
    _local_postings_cache: dict = field(repr=False, default_factory=dict)
    # bucket part-file list -> pyarrow dataset
    _local_ds_cache: dict = field(repr=False, default_factory=dict)
    # term -> sorted doc ids (or None: not driver-resident)
    _docids_cache: dict = field(repr=False, default_factory=dict)

    @classmethod
    def open(cls, spark: SparkSession, root: str) -> "Index":
        manifest = _read_manifest(root)
        if manifest is None:
            raise FileNotFoundError(f"no manifest at {root}")
        return cls(spark, root, manifest)

    # --- table access -------------------------------------------------
    def _seg_paths(self, table: str) -> list[str]:
        return [
            os.path.join(self.root, s["path"], table)
            for s in self.manifest["segments"]
            if s["committed"]
        ]

    def _union(self, table: str) -> DataFrame:
        """Merged view of a table across committed segments.

        Memoized per handle: every query reuses ONE analyzed relation
        per table instead of re-resolving parquet footers/partitions on
        each call — a measurable share of small-query latency. Segments
        are immutable once committed, so the handle never goes stale.
        allowMissingColumns: optional input columns (per-doc `meta`,
        url/warc_ts/lang on docs) null-fill for segments whose pages
        lacked them.
        """
        if table not in self._table_cache:
            dfs = [self.spark.read.parquet(p) for p in self._seg_paths(table)]
            self._table_cache[table] = reduce(
                lambda a, b: a.unionByName(b, allowMissingColumns=True), dfs
            )
        return self._table_cache[table]

    @property
    def mode(self) -> str:
        return self.manifest["type"]["mode"]

    @property
    def n_buckets(self) -> int:
        return self.manifest["type"]["n_buckets"]

    def dictionary(self) -> DataFrame:
        """Merged term dictionary across segments (term, df, cf).

        Cached (persisted) per Index handle: every query touches it and
        it is small (one row per term). Reopening after an append gets
        a fresh handle, so staleness cannot occur.
        """
        if self._dictionary_cache is None:
            base = self._union("dictionary")
            enc = self.manifest["type"].get("dict_encoding")
            if enc:  # var-len-coded keys (C13) — decode while reading
                from fulltextsearch_spark.functions import charcodes as CC

                base = decode_dictionary(
                    base, CC.lengths_from_json(enc["lengths"])
                )
            self._dictionary_cache = (
                base.groupBy("term")
                .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
                .persist()
            )
        return self._dictionary_cache

    def doc_stats(self) -> DataFrame:
        if self._doc_stats_cache is None:
            self._doc_stats_cache = self._union("doc_stats").persist()
        return self._doc_stats_cache

    def docs(self) -> DataFrame:
        return self._union("docs")

    def doc_positions(self) -> DataFrame:
        if not self.manifest["type"]["keep_positions"]:
            raise ValueError(
                "positions were not kept at build time "
                "(index built with keep_positions=False)"
            )
        if self.mode in BLOCK_MODES:
            return B.decode_dp_blocks(
                self._union("blocks").where(F.col("bucket") == self.n_buckets)
            )
        return (
            self._union("postings")
            .where(F.col("bucket") == self.n_buckets)
            .select("doc_id", "field_id", "positions")
        )

    def collection_stats(self) -> tuple[int, float]:
        if self._collection_stats is None:
            r = self.doc_stats().agg(
                F.count("*").alias("n"), F.avg("dl").alias("avgdl")
            ).collect()[0]
            self._collection_stats = (int(r["n"]), float(r["avgdl"] or 0.0))
        return self._collection_stats

    def postings(
        self,
        term_pred=None,
        exact_terms: list[str] | None = None,
        min_doc: int | None = None,
        doc_ranges: list[tuple[int, int]] | None = None,
        block_first_docs: list[int] | None = None,
    ) -> DataFrame:
        """Posting rows, optionally filtered.

        ``term_pred``: Column predicate over `term` (like / levenshtein /
        equality). ``exact_terms``: when the term set is known exactly,
        adds a bucket filter so parquet partition pruning skips all
        other bucket directories (the dictionary-point-lookup analog).
        ``min_doc``: lower-bound seek (ISkipList.LowerBound analog,
        SURVEY §2.D13) — in blocks mode prunes whole blocks via the
        ``last_doc`` skip column before any payload decode, then seeks
        within surviving blocks. ``doc_ranges``: inclusive [lo, hi]
        doc-id windows; blocks whose [first_doc, last_doc] span misses
        every window are pruned BEFORE decode (phrase/AND legs pass the
        rarest leg's block ranges here — the leapfrog-from-the-shortest-
        list analog, PhraseQuery.cs:21-73). Range-filtered rows may
        still contain out-of-window docs (block granularity); callers
        join on doc_id, so extras are harmless. ``block_first_docs``
        (blocks mode only): keep ONLY blocks whose first_doc is in the
        list — the doc-granularity conjunction prune
        (block_keys_for_docs) pushes the exact surviving-block set as
        an IN predicate on the metadata column, prunable by parquet
        row-group stats before any payload decode.

        Blocks mode reads in one of two ways. Exact terms whose blocks
        hold at most LOCAL_FAST_MAX_OCC occurrences are read on the
        driver (_local_postings: pyarrow, zero Spark jobs for the read)
        and handed to Spark as a one-partition local relation; anything
        else is a bucket-pruned parquet scan decoded by a mapInArrow.
        Both apply the same block-metadata predicate (_block_predicate)
        and decode with the same kernel (operators/build.py
        decode_postings), so they return identical rows.
        """
        in_blocks = self.mode in BLOCK_MODES
        if block_first_docs is not None and not in_blocks:
            raise ValueError("block_first_docs requires a blocks-mode index")
        if exact_terms is not None:
            tbl = self._local_postings(
                exact_terms, min_doc, doc_ranges, block_first_docs
            )
            if tbl is not None:
                from fulltextsearch_spark.plans.planner import POSTING_SCHEMA

                # coalesce(1): createDataFrame slices the local
                # relation into one partition per Arrow batch, turning a
                # sub-64k-occ point lookup into many tiny tasks
                return self.spark.createDataFrame(tbl, POSTING_SCHEMA).coalesce(1)
        df = self._union("blocks" if in_blocks else "postings")
        if exact_terms is not None:
            df = df.where(F.col("bucket").isin(self._buckets_of(exact_terms)))
            df = df.where(F.col("term").isin(exact_terms))
        else:
            # exclude the doc-position sentinel partition from pattern
            # scans (partition-pruned directory filter)
            df = df.where(F.col("bucket") < self.n_buckets)
            if term_pred is not None:
                df = df.where(term_pred)
        # an arrays row holds one doc: its first and last doc are doc_id
        col = F.col if in_blocks else lambda _: F.col("doc_id")
        pred = _block_predicate(col, F.lit, min_doc, doc_ranges, block_first_docs)
        if pred is not None:
            df = df.where(pred)
        if in_blocks:
            df = B.decode_blocks(
                df.select("term", "payload"), min_doc=min_doc, codec=self.mode
            )
        return df.select("term", "doc_id", "field_id", "positions", "tf")

    def block_doc_ranges(
        self, term: str, max_ranges: int = 64
    ) -> list[tuple[int, int]] | None:
        """Merged [first_doc, last_doc] windows of one term's blocks,
        from the driver-side block metadata (local_block_meta: zero
        Spark jobs, payloads untouched, memoized per handle). Returns
        None when that metadata is unavailable — no block layout, the
        fast path disabled, files not driver-listable: "no pruning
        available", never "term absent", so emptiness derives solely
        from the dictionary df (conj_postings_kwargs) — or when the
        term's windows stay too fragmented to make a useful pushdown
        predicate (> max_ranges after merging — a dense term whose
        windows cover everything prunes nothing anyway)."""
        tbl = self.local_block_meta([term])
        if tbl is None:
            return None
        if tbl.num_rows == 0:
            return []
        import numpy as np

        # rows are first_doc-sorted: a window opens wherever a block
        # starts past every earlier block's last_doc + 1
        firsts = tbl.column("first_doc").to_numpy()
        his = np.maximum.accumulate(tbl.column("last_doc").to_numpy())
        opens = np.flatnonzero(np.append(True, firsts[1:] > his[:-1] + 1))
        if len(opens) > max_ranges:
            return None
        closes = np.append(opens[1:], len(firsts)) - 1
        return list(zip(firsts[opens].tolist(), his[closes].tolist()))

    def blocks(self, exact_terms: list[str] | None = None) -> DataFrame:
        """Raw block rows (blocks mode) for block-max pruning paths."""
        if self.mode not in BLOCK_MODES:
            raise ValueError("index not in a blocks mode")
        df = self._union("blocks")
        if exact_terms is not None:
            df = df.where(F.col("bucket").isin(self._buckets_of(exact_terms))).where(
                F.col("term").isin(exact_terms)
            )
        return df

    def local_block_meta(self, terms: list[str]):
        """Driver-side block METADATA for exact terms (payloads never
        read): a pyarrow Table of (term, first_doc, last_doc, n_occ,
        n_docs, max_tf, imp_tf, imp_dl) sorted by (term, first_doc),
        or None when the index has no block layout, the fast path is
        disabled, files are not driver-listable, or the terms' block
        count exceeds LOCAL_META_MAX_BLOCKS (budgeted scanner with early
        abort). Memoized per term set on the handle, shared with
        block_meta (segments are immutable).

        This is what lets conjunction pruning and the WAND routing
        gates run with ZERO metadata Spark jobs at interactive corpus
        sizes: block metadata is ~1 row per BLOCK_MAX_OCC occurrences,
        so even a 250k-doc hot term is a few thousand rows."""
        if self.mode not in BLOCK_MODES or not _local_fast_enabled():
            return None
        # one cache entry per term set, ALWAYS including the impact
        # columns: a ranked AND otherwise scanned the same parquet
        # footers twice on the GIL-bound driver — once with impacts for
        # WAND, once without for the exchange-reuse gate (ADVICE r5).
        # Impact frontiers are ≤16 ints per block, so the extra read is
        # noise next to a second footer+metadata pass.
        cache = self._blockmeta_cache
        key = tuple(sorted(set(terms)))
        if key not in cache:
            tbl = self._budgeted_scan(
                terms, BLOCK_META_COLS, lambda rb: rb.num_rows, LOCAL_META_MAX_BLOCKS
            )
            if tbl is None:
                return None  # not listable here ≠ term absent (ADVICE r4)
            cache[key] = tbl if tbl is False else _sort_block_meta(tbl)
        tbl = cache[key]
        return None if tbl is False else tbl

    def block_meta(self, terms: list[str]):
        """The block-metadata table of local_block_meta, from whichever
        source this handle can use: the driver-side pyarrow read, or —
        when the bucket files are not driver-listable or the fast path
        is off — ONE payload-free Spark collect of the same columns,
        capped at LOCAL_META_MAX_BLOCKS + 1 rows. Both give the same
        rows in the same (term, first_doc) order. None only when the
        terms own more than LOCAL_META_MAX_BLOCKS blocks. Memoized per
        term set on the handle (blocks mode only)."""
        cache = self._blockmeta_cache
        key = tuple(sorted(set(terms)))
        if self.local_block_meta(terms) is None and key not in cache:
            df = self.blocks(exact_terms=terms)
            tbl = (
                df.select(*BLOCK_META_COLS)
                .limit(LOCAL_META_MAX_BLOCKS + 1)
                .toArrow()
            )
            over = tbl.num_rows > LOCAL_META_MAX_BLOCKS
            cache[key] = False if over else _sort_block_meta(tbl)
        tbl = cache[key]
        return None if tbl is False else tbl

    def term_doc_ids(self, term: str):
        """Sorted int64 numpy array of one term's doc ids — driver-
        resident via the budgeted fast-path read (≤ LOCAL_FAST_MAX_OCC
        occurrences), or None when the term is too hot / path disabled.
        Memoized per handle. The doc-granularity rare-leg prune reads
        this: a rare term's ids ARE what the reference's leapfrog seeks
        the long posting list to (PhraseQuery.cs:21-73)."""
        cache = self._docids_cache
        if term not in cache:
            import numpy as np

            tbl = self._local_postings([term])
            cache[term] = (
                None if tbl is None else np.unique(tbl.column("doc_id").to_numpy())
            )
        return cache[term]

    def block_keys_for_docs(
        self, term: str, doc_ids, max_keys: int = 4096,
        payoff_frac: float = 0.5,
    ) -> list[int] | None:
        """first_doc keys of ``term``'s blocks whose [first_doc,
        last_doc] span contains at least one of ``doc_ids`` — the
        doc-granularity block prune for conjunctions whose rare leg is
        scattered (its merged doc windows cover the corpus, so the
        window predicate keeps everything — VERDICT r4 #2). Driver-side
        block metadata + searchsorted, zero Spark jobs. (term,
        first_doc) is a unique block key: a term's blocks never overlap
        in doc range, across segments. Returns None when metadata is
        unavailable, the surviving key set exceeds ``max_keys`` (an
        isin list that long stops being a useful pushed predicate), or
        it keeps more than ``payoff_frac`` of the term's blocks — a
        measured-cost gate: a 1200-literal INSET that skips 6% of the
        decode costs more in codegen than it saves (a rare term whose
        docs recur periodically touches nearly every hot block)."""
        tbl = self.local_block_meta([term])
        if tbl is None:
            return None
        import numpy as np

        firsts = tbl.column("first_doc").to_numpy()
        lasts = tbl.column("last_doc").to_numpy()
        if len(firsts) == 0:
            return []
        order = np.argsort(firsts)
        firsts, lasts = firsts[order], lasts[order]
        ids = np.asarray(doc_ids, dtype=np.int64)
        pos = np.searchsorted(firsts, ids, side="right") - 1
        contained = np.zeros(len(ids), dtype=bool)
        valid = pos >= 0
        contained[valid] = ids[valid] <= lasts[pos[valid]]
        keys = np.unique(firsts[pos[contained]])
        if len(keys) > max_keys or len(keys) > payoff_frac * len(firsts):
            return None
        return [int(x) for x in keys]

    def _local_dataset(self, terms: list[str]):
        """pyarrow dataset over the part files of every bucket directory
        (all segments) the exact terms can live in — path arithmetic and
        one listdir per pruned directory, no Spark — or None when no
        such file exists. Memoized per file set: ParquetFileFragment
        caches row-group metadata after the first scan, so repeated
        driver-side lookups in the same bucket skip the ~100-file footer
        parse (the dominant cost of a warm point lookup). Segments are
        immutable, so the cache can never go stale."""
        files = [
            os.path.join(d, f)
            for seg in self._seg_paths("blocks")
            for d in (os.path.join(seg, f"bucket={b}") for b in self._buckets_of(terms))
            if os.path.isdir(d)
            for f in sorted(os.listdir(d))
            if f.endswith(".parquet")
        ]
        if not files:
            return None
        import pyarrow.dataset as pads

        key = tuple(files)
        if key not in self._local_ds_cache:
            self._local_ds_cache[key] = pads.dataset(files, format="parquet")
        return self._local_ds_cache[key]

    def _budgeted_scan(self, terms: list[str], columns, weight, budget: int):
        """ONE pyarrow scan of the exact terms' block rows as a Table of
        ``columns``: batches stream in (term row-group stats prune
        non-matching row groups — files are term-sorted) and the read
        ABORTS, returning False, the moment the running total of
        ``weight(batch)`` exceeds ``budget``, so an over-budget term set
        costs at most ~one extra batch. None when no block file is
        driver-listable: "no local read", never "terms absent" — a
        driver/executor filesystem visibility mismatch would otherwise
        turn exact-term lookups, term_doc_ids and the conjunction
        prunes silently wrong-empty (ADVICE r4, r5)."""
        import pyarrow as pa
        import pyarrow.dataset as pads

        dataset = self._local_dataset(terms)
        if dataset is None:
            return None
        scanner = dataset.scanner(
            columns=list(columns), filter=pads.field("term").isin(list(set(terms)))
        )
        batches, total = [], 0
        for rb in scanner.to_batches():
            total += weight(rb)
            if total > budget:
                return False
            batches.append(rb)
        return pa.Table.from_batches(batches, schema=scanner.projected_schema)

    def _local_postings(
        self,
        terms: list[str],
        min_doc: int | None = None,
        doc_ranges: list[tuple[int, int]] | None = None,
        block_first_docs: list[int] | None = None,
    ):
        """Driver-side exact-term posting read: a pyarrow Table of
        posting rows (term, doc_id, field_id, positions, tf), or None
        when the index has no block layout, the fast path is disabled,
        the terms are too hot for it (LOCAL_FAST_MAX_OCC) or their block
        files are not driver-listable.

        ONE budgeted scan (_budgeted_scan) of the terms' blocks, aborted
        once their n_occ total exceeds LOCAL_FAST_MAX_OCC, so a hot term
        falls back to the distributed path after ~one extra batch. The
        small-enough verdict memoizes per term set on the handle
        (segments are immutable): a known-hot set skips the IO entirely
        on repeat queries. The scanned blocks then take the same
        metadata predicate as the Spark scan (_block_predicate) and
        decode with the same kernel (B.decode_postings), so both paths
        return identical rows. The decoded table is memoized per full
        filter key (bounded, 64 entries): a repeated lookup — or 16
        concurrent rank queries sharing a handle — costs zero
        pyarrow/decode work on the GIL-bound driver thread after the
        first."""
        if self.mode not in BLOCK_MODES or not _local_fast_enabled():
            return None
        import pyarrow as pa
        import pyarrow.compute as pc

        key = tuple(sorted(set(terms)))
        memo_key = (
            key,
            min_doc,
            tuple(doc_ranges) if doc_ranges is not None else None,
            tuple(sorted(block_first_docs))
            if block_first_docs is not None
            else None,
        )
        memo = self._local_postings_cache
        tbl = memo.get(memo_key)
        if tbl is not None or self._local_occ_cache.get(key) is False:
            return tbl  # memoized, or known too hot for the fast path
        blocks = self._budgeted_scan(
            terms,
            ["term", "first_doc", "last_doc", "n_occ", "payload"],
            lambda rb: int(rb.column("n_occ").to_numpy(zero_copy_only=False).sum()),
            LOCAL_FAST_MAX_OCC,
        )
        if blocks is None:
            return None
        self._local_occ_cache[key] = blocks is not False
        if blocks is False:
            return None
        pred = _block_predicate(
            pc.field, pc.scalar, min_doc, doc_ranges, block_first_docs
        )
        if pred is not None:
            blocks = blocks.filter(pred)
        tbl = pa.Table.from_batches(
            [
                B.decode_postings(
                    blocks.column("term").combine_chunks(),
                    blocks.column("payload").combine_chunks(),
                    self.mode,
                    min_doc,
                )
            ]
        )
        # lock: 16 concurrent rank queries share a handle; an unguarded
        # pop(next(iter(...))) raced a concurrent insert (double-pop
        # KeyError / resize-during-iteration — ADVICE r5)
        with self._cache_lock:
            if len(memo) >= 64:  # bounded: drop the oldest entry
                memo.pop(next(iter(memo)))
            memo[memo_key] = tbl
        return tbl

    def _buckets_of(self, terms: list[str]) -> list[int]:
        """Bucket ids for exact terms — computed on the driver with the
        pure-Python xxhash64 twin (parity-tested vs the JVM function),
        so a point lookup costs no Spark job."""
        from fulltextsearch_spark.functions.xxhash import term_bucket_py

        return sorted({term_bucket_py(t, self.n_buckets) for t in terms})

    def get_text(self, doc_id: int) -> str | None:
        """Point lookup of a document's original text — the reference's
        IFullTextIndex.GetText (PersistentIndex.cs:93-119). doc_id is a
        parquet row-group-prunable predicate."""
        rows = self.docs().where(F.col("doc_id") == doc_id).select("text").collect()
        return rows[0]["text"] if rows else None

    def get_positions(self, doc_id: int, field_id: int = 1) -> list[int] | None:
        """Flat even/odd (off+1, off+1+len) token-position vector for a
        (doc, field) — the reference's GetPositions."""
        rows = (
            self.doc_positions()
            .where((F.col("doc_id") == doc_id) & (F.col("field_id") == field_id))
            .collect()
        )
        return list(rows[0]["positions"]) if rows else None

    # --- query API (delegates) ----------------------------------------
    def search(self, query: str) -> DataFrame:
        from fulltextsearch_spark.plans.planner import plan_query

        return plan_query(self, query)

    def lookup(self, pattern: str) -> DataFrame:
        from fulltextsearch_spark.plans.planner import plan_lookup

        return plan_lookup(self, pattern)

    def rank(self, query: str, k: int = 10) -> DataFrame:
        from fulltextsearch_spark.operators.bm25 import rank_query

        return rank_query(self, query, k)
