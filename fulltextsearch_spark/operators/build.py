"""Index-build operators: pages → postings / dictionary / doc_stats / blocks.

Spark-first re-expression of the reference build pipeline (SURVEY.md
§2.C, §3.1): the reference fills a single-process
``SortedDictionary<string, List<Occurrence>>`` doc-by-doc
(FullTextIndexBuilder.cs:11,97-115) and flushes term-ordered posting
lists (C2). Here a posting's positions all live inside one document, so
posting rows are complete once an Arrow batch is tokenized, and the
build has at most one full-data shuffle. Both layouts start from the
same batch step, _posting_rows: ONE tokenize_batch call (the batch
tokenize kernel, functions/tokenizer.py) and ONE lexsort of the batch's
tokens by (term code, doc), cut into (term, doc) rows:

    blocks modes:  tokenize_packed_runs   (mapInArrow, narrow: the rows
                                           cut into one packed run per
                                           (batch, term, doc group))
                     → assemble_packed_blocks (THE shuffle, keyed by
                                           (bucket, term, doc group); sort,
                                           cut, encode; write by bucket)
    arrays mode:   tokenize_postings      (mapInArrow, narrow: the rows
                                           as posting rows)
                     → bucketed write     (repartition by (bucket, term))

Doc/collection statistics (df, cf, dl) fall out as cheap follow-up
aggregations over the written tables; they power BM25 (the reference has
no ranking — SURVEY.md §0.1).

Scale notes (10^12 docs): the block shuffle key carries the doc group
(DOC_GROUP_SPAN docs), so a stop-word's runs spread over many reducers
and no single task ever owns a full stop-word posting list (SURVEY.md §7
hard parts).
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fulltextsearch_spark.functions.tokenizer import TokenBatch, tokenize_batch
from fulltextsearch_spark.operators.codec import binary_buffers, prefix

# Sentinel "term" for per-document position-vector rows carried inside
# the postings table (see tokenize_postings emit_doc_positions). The
# tokenizer never emits an empty-string token, so "" cannot collide.
DP_TERM = ""


class _PostingRows(NamedTuple):
    """One Arrow batch's (term, doc) posting rows in (term code, doc)
    order, and the batch's tokens they were cut from."""

    code: np.ndarray  # row → term code
    doc: np.ndarray  # row → doc id
    tf: np.ndarray  # row → occurrences (int64)
    dl: np.ndarray  # row → its doc's token count (int64)
    pos: np.ndarray  # 1-based token ids, row after row (int32)
    tb: TokenBatch  # the tokens; tb.terms maps a term code to its term
    doc_ids: np.ndarray  # the batch's doc ids, one per text

    def doc_positions(self):
        """(doc id, token count, (off+1, off+1+len) vectors back to
        back) of the batch's docs that hold a token — the sentinel
        doc-position rows (FullTextIndexBuilder.cs:99-114)."""
        counts = self.tb.counts
        flat = np.empty(2 * len(self.tb.offs), dtype=np.int32)
        flat[0::2] = self.tb.offs
        flat[0::2] += 1
        flat[1::2] = self.tb.lens
        flat[1::2] += flat[0::2]
        return self.doc_ids[counts > 0], counts[counts > 0], flat


def _posting_rows(doc_ids: np.ndarray, texts) -> _PostingRows | None:
    """A batch's posting rows from ONE tokenize_batch call: one int
    lexsort of all tokens by (term code, doc) — stable, so positions
    stay ascending inside a row — then rows cut where the key changes.
    None when the batch holds no token."""
    tb = tokenize_batch(texts)
    n_occ = len(tb.codes)
    if n_occ == 0:
        return None
    occ_doc = np.repeat(doc_ids, tb.counts)
    order = np.lexsort((occ_doc, tb.codes))
    starts = _starts(tb.codes[order], occ_doc[order])
    first = order[starts]  # each row's first token
    doc = occ_doc[first]
    del occ_doc
    return _PostingRows(
        tb.codes[first],
        doc,
        np.diff(np.append(starts, n_occ)),
        tb.counts[np.searchsorted(prefix(tb.counts)[1:], first, "right")],
        tb.pos()[order].astype(np.int32),
        tb,
        doc_ids,
    )


def _posting_batch(terms, docs, field_id: int, rowlen, flat, tf):
    """One POSTING_SCHEMA Arrow batch: row i's positions are the next
    ``rowlen[i]`` values of ``flat``."""
    import pyarrow as pa

    offsets = prefix(rowlen).astype(np.int32)
    return pa.RecordBatch.from_arrays(
        [
            terms,
            pa.array(docs, type=pa.int64()),
            pa.array(np.full(len(docs), field_id, dtype=np.int32)),
            pa.ListArray.from_arrays(offsets, pa.array(flat, type=pa.int32())),
            pa.array(tf, type=pa.int32()),
        ],
        names=POSTING_SCHEMA.fieldNames(),
    )


def tokenize_postings(
    pages_with_ids: DataFrame,
    field_id: int = 1,
    emit_doc_positions: bool = False,
) -> DataFrame:
    """pages(+doc_id) → posting rows directly, no shuffle.

    A (term, doc, field) posting's positions all live inside one
    document, so the posting rows of an Arrow batch are complete once
    the batch is tokenized (_posting_rows) — the reference does the
    same per-document SortedDictionary fill (FullTextIndexBuilder.cs:
    97-115). No groupBy(term, doc, field) shuffle runs; the only wide op
    is the bucket-write repartition.

    ``emit_doc_positions=True`` additionally yields ONE sentinel row per
    (doc, field) with term=DP_TERM, tf=0 and positions = the flat
    even/odd (off+1, off+1+len) vector (reference's document position
    list, FullTextIndexBuilder.cs:99-114) — so the doc-positions table
    falls out of the SAME single tokenize pass.

    Output: POSTING_SCHEMA (term, doc_id, field_id, positions, tf).
    """
    import pyarrow as pa

    def run(batches):
        for rb in batches:
            r = _posting_rows(rb.column(0).to_numpy(), rb.column(1))
            if r is None:
                continue
            yield _posting_batch(
                r.tb.terms.take(r.code), r.doc, field_id, r.tf, r.pos, r.tf
            )
            if emit_doc_positions:
                dp_doc, dp_n, dp_flat = r.doc_positions()
                yield _posting_batch(
                    pa.repeat(DP_TERM, len(dp_doc)),
                    dp_doc,
                    field_id,
                    2 * dp_n,
                    dp_flat,
                    np.zeros(len(dp_doc), dtype=np.int32),
                )

    return pages_with_ids.select("doc_id", "text").mapInArrow(
        run, POSTING_SCHEMA
    )


def build_dictionary(postings: DataFrame, single_field: bool = False) -> DataFrame:
    """postings → dictionary (term, df, cf).

    The reference dictionary maps term → posting address (ITermDictionary);
    ours additionally carries document/collection frequency for BM25.

    df counts distinct doc_id, not rows: compound (multi-field) docs
    contribute one (term, doc, field) row per field but count once
    toward document frequency. ``single_field=True`` (what build_index
    passes — it tokenizes one text column) asserts rows are
    (term, doc)-unique so the cheaper plain count replaces the
    distinct-aggregate expand.
    """
    df_expr = (
        F.count("*") if single_field else F.count_distinct("doc_id")
    ).alias("df")
    return postings.groupBy("term").agg(df_expr, F.sum("tf").alias("cf"))


def doc_stats_from_postings(postings: DataFrame) -> DataFrame:
    """Same stats derived from committed postings (dl = Σ tf) — saves a
    second tokenize pass during the build."""
    return postings.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl"))


BLOCK_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("doc_grp", T.LongType(), False),
        T.StructField("block_no", T.IntegerType(), False),
        T.StructField("first_doc", T.LongType(), False),
        T.StructField("last_doc", T.LongType(), False),
        T.StructField("n_occ", T.IntegerType(), False),
        T.StructField("n_docs", T.IntegerType(), False),
        T.StructField("max_tf", T.IntegerType(), False),
        # exact per-block (tf, dl) impact frontier (Lucene-style
        # "impacts"): the Pareto-maximal (doc tf, doc length) pairs of
        # the block's docs. Query-side block-max WAND evaluates
        # max_i idf·tfn(imp_tf[i], imp_dl[i]) at the live avgdl — an
        # exact, avgdl-independent-at-rest upper score bound (vs the
        # old dl→0 majorization which was near-uniform on Zipf corpora)
        T.StructField("imp_tf", T.ArrayType(T.IntegerType(), False), False),
        T.StructField("imp_dl", T.ArrayType(T.IntegerType(), False), False),
        T.StructField("payload", T.BinaryType(), False),
    ]
)

# cap on stored impact pairs per block: longer frontiers collapse runs
# into (max tf of run, min dl of run) synthetic pairs — each dropped
# pair stays dominated by a stored one, so the bound stays an upper
# bound (never an underestimate)
MAX_IMPACTS = 16


def _impact_frontier(
    tf_doc: np.ndarray, dl_doc: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Pareto frontier of (tf, dl): keep pairs not dominated by another
    pair with tf >= and dl <=. Returned sorted tf-descending (dl is then
    strictly decreasing too). The one-block definition that the build's
    batched _impact_frontiers is tested against."""
    order = np.lexsort((dl_doc, -tf_doc))
    tf_s, dl_s = tf_doc[order], dl_doc[order]
    keep = np.empty(len(tf_s), dtype=bool)
    keep[0] = True
    keep[1:] = dl_s[1:] < np.minimum.accumulate(dl_s)[:-1]
    tf_f, dl_f = tf_s[keep], dl_s[keep]
    if len(tf_f) > MAX_IMPACTS:
        cuts = np.linspace(0, len(tf_f), MAX_IMPACTS + 1).astype(np.int64)
        tf_f = np.array([tf_f[s] for s in cuts[:-1]])
        dl_f = np.array([dl_f[e - 1] for e in cuts[1:]])
    return tf_f.astype(np.int32), dl_f.astype(np.int32)


# Docs per salt group when assembling blocks. A stop-word term at
# 10^12 docs is split over doc-ranges of this span, so no task owns a
# full posting list; groups stay doc-ordered because the group key IS
# the doc range (blocks keep global order without a global sort).
DOC_GROUP_SPAN = 1 << 22
BLOCK_MAX_OCC = 4096
# one output Arrow batch of the block assembly holds at most this many
# blocks, and at most OUT_MAX_OCC occurrences (or sentinel position
# values) are encoded per batch — a lone oversized document may exceed it
OUT_MAX_BLOCKS = 8192
OUT_MAX_OCC = 1 << 14

# bucketed variant: bucket leads so block rows sort/write directly via
# partitionBy("bucket") with no second shuffle (assemble_packed_blocks)
BLOCK_SCHEMA_BUCKETED = T.StructType(
    [T.StructField("bucket", T.IntegerType(), False), *BLOCK_SCHEMA.fields]
)


def _block_codec(codec: str):
    """(batched encode, single-block decode) pair for a block codec/mode
    name."""
    from fulltextsearch_spark.operators import codec as C

    if codec == "groupvarint":
        return C.encode_blocks_gv, C.decode_block_gv
    if codec == "packedints":
        return C.encode_blocks_packed, C.decode_block_packed
    if codec == "binary":
        return C.encode_blocks_binary, C.decode_block_binary
    return C.encode_blocks, C.decode_block


# ---------------------------------------------------------------------------
# Packed-run build path (blocks-only layout). A row-granular pipeline
# ships one JVM row per (term, doc, field) posting through TWO
# JVM↔Python Arrow crossings plus the shuffle sort. Measured at 250k
# docs / 28.6M posting rows on local[32], an IDENTITY mapInArrow over
# those rows cost as much as the full encode (21s vs 21s; the shuffle+
# sort alone was 8s) — i.e. the per-row, per-column Arrow conversion is
# the build's dominant cost, not tokenization or the codec (guide §4:
# you control how many columns/rows cross, not the crossing itself).
# The packed path ships ONE row per (map batch, term, doc group) —
# 28.6M → ~4.2M rows at bench scale — whose payload is an opaque
# binary blob of the run's posting rows (raw little-endian numpy
# sections, shuffle-transient, never persisted). The JVM only hashes
# and sorts the (bucket, term, doc_grp) key columns; all posting data
# crosses each boundary as one buffer per Arrow batch.
#
# Both sides work a whole Arrow batch at a time in a constant number of
# numpy passes, never one pass per run, group or block (the per-call
# Python cost of a small group dwarfs its numpy work): the tokenize
# side packs all of a batch's runs into one word buffer (_pack_runs);
# the reduce side parses all of a batch's blobs at once (_unpack_runs),
# sorts every posting row by (group, doc, field), cuts and describes
# all blocks with reduceat and encodes all payloads with one batched
# codec call (_assemble_groups).
#
# Correctness: a doc lives wholly inside one Arrow batch, so a (term,
# doc, field) posting row exists in exactly ONE run; the reduce side
# sorts a group's rows by (doc, field) — unique keys, so the result is
# deterministic regardless of run arrival order or of where Arrow batch
# boundaries split a group — so block boundaries and payload bytes do
# not depend on batch or run layout (tests/test_block_bytes.py pins
# them; tests/test_assemble_kernel.py checks the kernel against a
# per-block reference).

RUN_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("doc_grp", T.LongType(), False),
        T.StructField("blob", T.BinaryType(), False),
    ]
)

# run rows pack tf and the (doc, field) length into one int64:
# tfdl = dl·2^32 + tf
TFDL_MASK = (1 << 32) - 1

# sentinel runs chunk this many docs per run row (~200 KB of position
# vectors at dl≈200): big enough to amortize the per-row boundary cost,
# small enough that no shuffle row or write task gets lumpy
DP_RUN_DOCS = 128


def _pack_runs(run_starts, docs, tfdl, fields, rowlen, flat):
    """Posting rows → one blob per run as an Arrow binary array; run i
    holds rows [run_starts[i], run_starts[i+1]). Blob layout:
    [i64 n][i64 docs×n][i64 tfdl×n][i32 field×n][i32 rowlen×n]
    [i32 flat×Σrowlen] — raw little-endian sections, every one a whole
    number of 32-bit words, so all blobs are written into one int32
    word buffer by index. Shuffle-transient format only; never written
    to disk."""
    import pyarrow as pa

    run_starts = np.asarray(run_starts, dtype=np.int64)
    n_rows, n_runs = len(docs), len(run_starts)
    n = np.diff(np.append(run_starts, n_rows))
    flat_at = prefix(rowlen)
    n_flat = np.diff(np.append(flat_at[run_starts], flat_at[-1]))
    w_at = prefix(2 + 6 * n + n_flat)
    words = np.empty(int(w_at[-1]), dtype="<i4")

    def put64(at, vals):
        pair = np.asarray(vals).astype("<i8").view("<i4").reshape(-1, 2)
        words[at] = pair[:, 0]
        words[at + 1] = pair[:, 1]

    run = np.repeat(np.arange(n_runs, dtype=np.int64), n)
    k = np.arange(n_rows, dtype=np.int64) - run_starts[run]
    put64(w_at[:-1], n)
    base = w_at[run] + 2
    put64(base + 2 * k, docs)
    put64(base + 2 * n[run] + 2 * k, tfdl)
    words[base + 4 * n[run] + k] = fields
    words[base + 5 * n[run] + k] = rowlen
    flat_word = np.repeat(w_at[:-1] + 2 + 6 * n - flat_at[run_starts], n_flat)
    flat_word += np.arange(len(flat), dtype=np.int64)
    words[flat_word] = flat
    return pa.Array.from_buffers(
        pa.binary(),
        n_runs,
        [None, pa.py_buffer((4 * w_at).astype(np.int32)), pa.py_buffer(words)],
    )


def _unpack_runs(blobs):
    """Parse every run blob of an Arrow binary array at once → row
    arrays (run index, docs, tfdl, fields, rowlen) in blob order, plus
    each row's first flat position as an index into ``words``, the
    blobs' buffer viewed as int32 words."""
    offsets, data = binary_buffers(blobs)
    w_at = offsets // 4
    words = data[: len(data) // 4 * 4].view("<i4")

    def get64(at):
        return (words[at].astype(np.int64) & TFDL_MASK) | (
            words[at + 1].astype(np.int64) << 32
        )

    n = get64(w_at[:-1])
    run = np.repeat(np.arange(len(n), dtype=np.int64), n)
    row_at = np.cumsum(n) - n
    k = np.arange(len(run), dtype=np.int64) - row_at[run]
    base = w_at[:-1][run] + 2
    docs = get64(base + 2 * k)
    tfdl = get64(base + 2 * n[run] + 2 * k)
    fields = words[base + 4 * n[run] + k]
    rowlen = words[base + 5 * n[run] + k].astype(np.int64)
    before = np.cumsum(rowlen) - rowlen  # flat values before each row
    flat_at = (w_at[:-1] + 2 + 6 * n)[run] + before - before[row_at][run]
    return run, docs, tfdl, fields, rowlen, flat_at, words


def _gather_flat(words, flat_at, rowlen):
    """The flat values of rows (first word ``flat_at``, ``rowlen``
    values each), back to back in row order."""
    before = np.cumsum(rowlen) - rowlen
    return words[
        np.repeat(flat_at - before, rowlen)
        + np.arange(int(before[-1] + rowlen[-1]) if len(rowlen) else 0)
    ]


def tokenize_packed_runs(pages_with_ids: DataFrame, field_id: int = 1) -> DataFrame:
    """pages(+doc_id) → packed posting RUNS (term, doc_grp, blob).

    Per Arrow batch: the batch's posting rows (_posting_rows), cut into
    per-(term, doc group) runs and packed with one gather (_pack_runs).
    Emitted term strings come from the batch dictionary via
    Array.take — no per-token Python strings cross the boundary.
    Sentinel doc-position rows pack DP_RUN_DOCS docs per run with the
    same blob layout (rowlen = vector length, tf = 0)."""
    import pyarrow as pa

    def run(batches):
        for rb in batches:
            r = _posting_rows(rb.column(0).to_numpy(), rb.column(1))
            if r is None:
                continue
            grp = r.doc // DOC_GROUP_SPAN
            run_starts = _starts(r.code, grp)
            yield pa.RecordBatch.from_arrays(
                [
                    r.tb.terms.take(r.code[run_starts]),
                    pa.array(grp[run_starts], type=pa.int64()),
                    _pack_runs(
                        run_starts,
                        r.doc,
                        r.tf + (r.dl << 32),
                        np.full(len(r.doc), field_id, dtype=np.int32),
                        r.tf.astype(np.int32),
                        r.pos,
                    ),
                ],
                names=["term", "doc_grp", "blob"],
            )
            dp_doc, dp_n, dp_flat = r.doc_positions()
            dp_starts = np.arange(0, len(dp_doc), DP_RUN_DOCS)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.repeat(DP_TERM, len(dp_starts)),
                    # doc_grp is only a shuffle salt for runs; the
                    # assemble emits per-doc sentinel BLOCK rows with
                    # doc_grp = doc_id
                    pa.array(dp_doc[dp_starts], type=pa.int64()),
                    _pack_runs(
                        dp_starts,
                        dp_doc,
                        dp_n << 32,  # tf = 0, dl = n
                        np.full(len(dp_doc), field_id, dtype=np.int32),
                        (2 * dp_n).astype(np.int32),
                        dp_flat,
                    ),
                ],
                names=["term", "doc_grp", "blob"],
            )

    return pages_with_ids.select("doc_id", "text").mapInArrow(
        run, RUN_SCHEMA
    )


def _starts(*keys) -> np.ndarray:
    """Indices where any of the equal-length key arrays changes value
    (index 0 included)."""
    n = len(keys[0])
    chg = np.zeros(n, dtype=bool)
    if n:
        chg[0] = True
    for k in keys:
        chg[1:] |= k[1:] != k[:-1]
    return np.flatnonzero(chg)


def _group_starts(runs) -> np.ndarray:
    """Index of the first run of each (term, doc_grp) group in a batch
    of runs (bucket, term, doc_grp, blob) sorted by that key."""
    import pyarrow.compute as pc

    terms, grps, n = runs.column(1), runs.column(2).to_numpy(), runs.num_rows
    chg = np.ones(n, dtype=bool)
    if n > 1:
        chg[1:] = (grps[1:] != grps[:-1]) | pc.not_equal(
            terms.slice(1), terms.slice(0, n - 1)
        ).to_numpy(zero_copy_only=False)
    return np.flatnonzero(chg)


def _greedy_cuts(doc_occ: np.ndarray, block_max_occ: int) -> np.ndarray:
    """Block starts (doc indices) of ONE group whose docs start at
    occurrence offsets ``doc_occ`` (plus the end): blocks chunk greedily
    at DOC boundaries (a doc never splits) up to ``block_max_occ``
    occurrences; a larger doc is a block of its own."""
    n_docs = len(doc_occ) - 1
    cuts = []
    di = 0
    while di < n_docs:
        cuts.append(di)
        dj = int(
            np.searchsorted(doc_occ, doc_occ[di] + block_max_occ, side="right")
            - 1
        )
        di = min(max(dj, di + 1), n_docs)
    return np.array(cuts, dtype=np.int64)


def _impact_frontiers(doc_tf, doc_dl, blk_doc):
    """Every block's impact frontier, equal to _impact_frontier on the
    docs [blk_doc[i], blk_doc[i+1]) of block i: one lexsort by (block,
    −tf, dl) and a segmented running minimum of dl for all blocks, then
    the same MAX_IMPACTS collapse for every longer frontier (linspace
    puts cut k of a length-L frontier at ⌊k·L / MAX_IMPACTS⌋). →
    (count per block, tf values, dl values), the frontiers back to
    back."""
    n_docs = len(doc_tf)
    lens = np.diff(np.append(blk_doc, n_docs))
    doc_blk = np.repeat(np.arange(len(blk_doc), dtype=np.int64), lens)
    order = np.lexsort((doc_dl, -doc_tf, doc_blk))  # stays block-ordered
    tf_s, dl_s = doc_tf[order], doc_dl[order]
    # shift each later block's dl below all of an earlier block's, so
    # one running minimum never carries across a block start
    shifted = dl_s - doc_blk * (int(dl_s.max()) + 1)
    keep = np.empty(n_docs, dtype=bool)
    keep[0] = True
    keep[1:] = shifted[1:] < np.minimum.accumulate(shifted)[:-1]
    counts = np.bincount(doc_blk[keep], minlength=len(blk_doc))
    out_n = np.minimum(counts, MAX_IMPACTS)
    blk = np.repeat(np.arange(len(out_n), dtype=np.int64), out_n)
    j = np.arange(len(blk), dtype=np.int64) - (np.cumsum(out_n) - out_n)[blk]
    at, size = (np.cumsum(counts) - counts)[blk], counts[blk]
    long_ = size > MAX_IMPACTS
    tf_at = at + np.where(long_, j * size // MAX_IMPACTS, j)
    dl_at = at + np.where(long_, (j + 1) * size // MAX_IMPACTS - 1, j)
    return (
        out_n,
        tf_s[keep][tf_at].astype(np.int32),
        dl_s[keep][dl_at].astype(np.int32),
    )


def _blocks_batch(cols: dict, imp_counts, imp_tf, imp_dl, payload):
    """One BLOCK_SCHEMA_BUCKETED Arrow batch from per-block numpy
    columns (the term column already Arrow), the blocks' impact
    frontiers back to back and the (offsets, data) payload buffers."""
    import pyarrow as pa

    imp_at = prefix(imp_counts).astype(np.int32)
    offsets, data = payload
    arrays = {
        "bucket": pa.array(cols["bucket"], type=pa.int32()),
        "term": cols["term"],
        **{
            c: pa.array(cols[c], type=pa.int64())
            for c in ("doc_grp", "first_doc", "last_doc")
        },
        **{
            c: pa.array(cols[c], type=pa.int32())
            for c in ("block_no", "n_occ", "n_docs", "max_tf")
        },
        "imp_tf": pa.ListArray.from_arrays(imp_at, pa.array(imp_tf, pa.int32())),
        "imp_dl": pa.ListArray.from_arrays(imp_at, pa.array(imp_dl, pa.int32())),
        "payload": pa.Array.from_buffers(
            pa.binary(),
            len(offsets) - 1,
            [None, pa.py_buffer(offsets.astype(np.int32)), pa.py_buffer(data)],
        ),
    }
    names = [f.name for f in BLOCK_SCHEMA_BUCKETED.fields]
    return pa.RecordBatch.from_arrays([arrays[c] for c in names], names=names)


def _assemble_groups(runs, encode_blocks, block_max_occ: int):
    """Run rows (bucket, term, doc_grp, blob) holding only WHOLE
    (term, doc_grp) groups, contiguous → their block rows, in group
    order then block order, as Arrow batches of ≤ OUT_MAX_BLOCKS blocks.
    A constant number of numpy passes over all groups; Python loops
    only over output batches and the greedy cut inside groups larger
    than ``block_max_occ``."""
    import pyarrow as pa

    buckets = runs.column(0).to_numpy()
    terms = runs.column(1)
    grps = runs.column(2).to_numpy()
    g_run = _group_starts(runs)  # first run of each group
    run_gid = np.repeat(
        np.arange(len(g_run), dtype=np.int64), np.diff(np.append(g_run, len(grps)))
    )
    run, docs, tfdl, fields, _, flat_at, words = _unpack_runs(runs.column(3))
    gid = run_gid[run]
    # deterministic (doc, field) row order inside each group whatever
    # the run arrival order; a doc's rows (one per field) end adjacent
    order = np.lexsort((fields, docs, gid))
    gid, docs, fields = gid[order], docs[order], fields[order]
    tf, dl = tfdl[order] & TFDL_MASK, tfdl[order] >> 32
    flat_at = flat_at[order]
    row_occ = np.cumsum(tf) - tf
    n_occ = int(row_occ[-1] + tf[-1])

    # docs: summed tf and summed dl over a doc's fields (for a
    # multi-field doc the dl sum covers only the fields the term occurs
    # in, a lower bound of the true dl, which over-estimates tfn — still
    # a safe upper bound for the impacts)
    d_row = _starts(gid, docs)
    doc_tf = np.add.reduceat(tf, d_row)
    doc_dl = np.add.reduceat(dl, d_row)
    doc_gid = gid[d_row]
    doc_occ = np.append(row_occ[d_row], n_occ)

    # blocks as doc-index starts: a group of ≤ block_max_occ occurrences
    # is one block; only larger groups take the greedy doc-boundary cut
    g_doc = _starts(doc_gid)
    g_end = np.append(g_doc[1:], len(doc_gid))
    big = np.flatnonzero(doc_occ[g_end] - doc_occ[g_doc] > block_max_occ)
    b_doc = g_doc
    if len(big):
        b_doc = np.concatenate(
            [g_doc]
            + [
                lo + _greedy_cuts(doc_occ[lo : hi + 1], block_max_occ)[1:]
                for lo, hi in zip(g_doc[big].tolist(), g_end[big].tolist())
            ]
        )
        b_doc.sort()
    n_blocks = len(b_doc)
    b_end = np.append(b_doc[1:], len(doc_gid))
    b_gid = doc_gid[b_doc]
    g_blk = _starts(b_gid)
    b_run = g_run[b_gid]  # a run of the block's group: its key columns
    cols = {
        "bucket": buckets[b_run],
        "doc_grp": grps[b_run],
        "block_no": np.arange(n_blocks)
        - np.repeat(g_blk, np.diff(np.append(g_blk, n_blocks))),
        "first_doc": docs[d_row[b_doc]],
        "last_doc": docs[d_row[b_end - 1]],
        "n_occ": doc_occ[b_end] - doc_occ[b_doc],
        "n_docs": b_end - b_doc,
        "max_tf": np.maximum.reduceat(doc_tf, b_doc),
    }
    imp_counts, imp_tf, imp_dl = _impact_frontiers(doc_tf, doc_dl, b_doc)
    imp_at = np.append(np.cumsum(imp_counts) - imp_counts, len(imp_tf))
    b_row = np.append(d_row[b_doc], len(docs))

    for lo, hi in _out_chunks(doc_occ[np.append(b_doc, len(doc_gid))]):
        r0, r1 = b_row[lo], b_row[hi]
        occ_tf = tf[r0:r1]
        payload = encode_blocks(
            np.repeat(docs[r0:r1], occ_tf),
            np.repeat(fields[r0:r1], occ_tf),
            _gather_flat(words, flat_at[r0:r1], occ_tf),
            doc_occ[b_doc[lo:hi]] - doc_occ[b_doc[lo]],
        )
        chunk = {c: v[lo:hi] for c, v in cols.items()}
        chunk["term"] = terms.take(pa.array(b_run[lo:hi]))
        yield _blocks_batch(
            chunk,
            imp_counts[lo:hi],
            imp_tf[imp_at[lo] : imp_at[hi]],
            imp_dl[imp_at[lo] : imp_at[hi]],
            payload,
        )


def _out_chunks(blk_occ: np.ndarray):
    """[lo, hi) ranges of at most OUT_MAX_BLOCKS block rows and
    OUT_MAX_OCC encoded values (at least one row each), for rows whose
    value offsets are ``blk_occ`` (plus the end) — bounds the encode's
    transient memory and the output batch size."""
    n_blocks = len(blk_occ) - 1
    lo = 0
    while lo < n_blocks:
        hi = int(np.searchsorted(blk_occ, blk_occ[lo] + OUT_MAX_OCC, "right")) - 1
        hi = min(max(hi, lo + 1), lo + OUT_MAX_BLOCKS, n_blocks)
        yield lo, hi
        lo = hi


def _assemble_sentinels(blobs, n_buckets: int, strip_payload: bool):
    """Sentinel doc-position runs → one block row per (doc, field), in
    run order: term DP_TERM, bucket n_buckets, doc_grp = first_doc =
    last_doc = doc, block_no = the field id, n_occ = the position
    vector's length, payload = its delta+varint encoding (empty when
    stripped); the payloads of each output batch encoded by one
    batched call."""
    import pyarrow as pa

    from fulltextsearch_spark.operators.codec import encode_positions_payloads

    _, docs, _, fields, rowlen, flat_at, words = _unpack_runs(blobs)
    for lo, hi in _out_chunks(np.append(0, np.cumsum(rowlen))):
        n = hi - lo
        lens = rowlen[lo:hi]
        payload = (
            (np.zeros(n + 1, dtype=np.int64), np.empty(0, dtype=np.uint8))
            if strip_payload
            else encode_positions_payloads(
                _gather_flat(words, flat_at[lo:hi], lens), lens
            )
        )
        cols = {
            "bucket": np.full(n, n_buckets, dtype=np.int32),
            "term": pa.repeat(DP_TERM, n),
            "doc_grp": docs[lo:hi],
            "block_no": fields[lo:hi],
            "first_doc": docs[lo:hi],
            "last_doc": docs[lo:hi],
            "n_occ": lens,
            "n_docs": np.ones(n, dtype=np.int32),
            "max_tf": np.zeros(n, dtype=np.int32),
        }
        empty = np.empty(0, dtype=np.int32)
        yield _blocks_batch(cols, np.zeros(n, dtype=np.int64), empty, empty, payload)


def _same_group(a, b) -> bool:
    """Whether run batch ``a``'s last row and ``b``'s first row share
    the (term, doc_grp) group key."""
    return (
        a.column(1)[a.num_rows - 1].as_py() == b.column(1)[0].as_py()
        and a.column(2)[a.num_rows - 1].as_py() == b.column(2)[0].as_py()
    )


def _assemble_run_batches(
    batches,
    codec: str,
    n_buckets: int,
    strip_dp_payload: bool,
    block_max_occ: int = BLOCK_MAX_OCC,
):
    """The block-assembly kernel over one task's run batches (bucket,
    term, doc_grp, blob), sorted by (bucket, term, doc_grp) → block row
    batches (BLOCK_SCHEMA_BUCKETED) in (bucket, term, doc_grp, block_no)
    order, sentinel rows last.

    One input batch at a time: its whole groups are assembled at once;
    only the trailing group, which may continue in the next batch, is
    carried over (as zero-copy slices, joined once when it closes)."""
    import pyarrow as pa

    encode_blocks, _ = _block_codec(codec)
    pending: list = []  # the carried trailing group

    def close(parts):
        if len(parts) > 1:
            parts = pa.Table.from_batches(parts).combine_chunks().to_batches()
        return _assemble_groups(parts[0], encode_blocks, block_max_occ)

    for rb in batches:
        if rb.num_rows == 0:
            continue
        # sentinel runs (bucket n_buckets) sort after every term's runs
        n_real = int(np.searchsorted(rb.column(0).to_numpy(), n_buckets))
        if n_real:
            real = rb.slice(0, n_real)
            last = int(_group_starts(real)[-1])
            if last == 0 and (not pending or _same_group(pending[-1], real)):
                pending.append(real)
            else:
                head = pending + ([real.slice(0, last)] if last else [])
                yield from close(head)
                pending = [real.slice(last)]
        if n_real < rb.num_rows:
            if pending:
                yield from close(pending)
                pending = []
            yield from _assemble_sentinels(
                rb.column(3).slice(n_real), n_buckets, strip_dp_payload
            )
    if pending:
        yield from close(pending)


def assemble_packed_blocks(
    runs: DataFrame,
    n_parts: int,
    codec: str = "blocks",
    n_buckets: int = 8,
    strip_dp_payload: bool = False,
    block_max_occ: int = BLOCK_MAX_OCC,
) -> DataFrame:
    """Packed runs → bucketed block rows (BLOCK_SCHEMA_BUCKETED), ready
    for the partitionBy("bucket") writer with no further shuffle, in
    ``n_parts`` shuffle partitions (the build's width, sources/ids.py).

    The shuffle keys (bucket, term, doc_grp) are computed as JVM
    expressions — they never ride as data columns through the shuffle;
    the bucket is projected once more after the sort, so Python gets it
    without re-hashing a term. Groups arrive contiguous (sorted by the
    same expressions); each Arrow batch is assembled whole by
    _assemble_run_batches — all its blobs parsed at once, all its rows
    sorted by (group, doc, field) (unique per row, so any run arrival
    order yields the same bytes), all blocks cut, described and encoded
    in a constant number of numpy passes."""
    bucket_expr = F.when(
        F.col("term") == DP_TERM, F.lit(n_buckets)
    ).otherwise(
        F.pmod(F.xxhash64(F.col("term")), F.lit(n_buckets)).cast("int")
    )
    shuffled = runs.repartition(
        n_parts, bucket_expr, F.col("term"), F.col("doc_grp")
    ).sortWithinPartitions(bucket_expr, F.col("term"), F.col("doc_grp"))

    def assemble(batches):
        return _assemble_run_batches(
            batches, codec, n_buckets, strip_dp_payload, block_max_occ
        )

    return shuffled.select(
        bucket_expr.alias("bucket"), "term", "doc_grp", "blob"
    ).mapInArrow(assemble, BLOCK_SCHEMA_BUCKETED)


POSTING_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("field_id", T.IntegerType(), False),
        T.StructField("positions", T.ArrayType(T.IntegerType(), False), False),
        T.StructField("tf", T.IntegerType(), False),
    ]
)

DOC_POSITIONS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("field_id", T.IntegerType(), False),
        T.StructField("positions", T.ArrayType(T.IntegerType(), False), False),
    ]
)


def decode_dp_blocks(blocks: DataFrame) -> DataFrame:
    """Sentinel block rows → (doc_id, field_id, positions) — the
    doc-positions table view over a blocks-mode index. The field id
    rides in the sentinel's block_no. mapInArrow: all of a batch's payloads decode in one
    batched varint pass into ONE flat positions ListArray."""

    def run(batches):
        import pyarrow as pa

        from fulltextsearch_spark.operators.codec import (
            decode_positions_payloads,
        )

        for rb in batches:
            lens, flat = decode_positions_payloads(
                *binary_buffers(rb.column(2))
            )
            offsets = prefix(lens).astype(np.int32)
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column(0),
                    rb.column(1),
                    pa.ListArray.from_arrays(
                        offsets, pa.array(flat, type=pa.int32())
                    ),
                ],
                names=["doc_id", "field_id", "positions"],
            )

    return blocks.select("first_doc", "block_no", "payload").mapInArrow(
        run, DOC_POSITIONS_SCHEMA
    )


def decode_postings(
    terms, payloads, codec: str = "blocks", min_doc: int | None = None
):
    """Block rows → one Arrow batch of posting rows (term, doc_id,
    field_id, positions, tf). ``terms`` and ``payloads`` are Arrow
    arrays holding one entry per block. The one read-path decoder of
    block payloads, shared by the Spark path (decode_blocks) and the
    driver fast path (Index._local_postings).

    Each payload decodes with the codec's single-block decoder; then
    the batch's occurrences are cut into (block, doc, field) rows in
    one numpy pass, dropping docs below ``min_doc`` (the lower-bound
    seek inside surviving blocks). Positions form ONE ListArray over
    the flat values and terms are one take of ``terms`` — no
    per-posting Python objects."""
    import pyarrow as pa

    _, decode_block = _block_codec(codec)
    decoded = [decode_block(p) for p in payloads.to_pylist()]
    blk = np.repeat(
        np.arange(len(decoded), dtype=np.int64), [len(d[0]) for d in decoded]
    )
    docs, fields, pos = (
        np.concatenate([d[i] for d in decoded] or [np.empty(0, dtype=np.int64)])
        for i in range(3)
    )
    if min_doc is not None:
        keep = docs >= min_doc
        blk, docs, fields, pos = blk[keep], docs[keep], fields[keep], pos[keep]
    starts = _starts(blk, docs, fields)
    tf = np.diff(np.append(starts, len(docs)))
    offsets = prefix(tf).astype(np.int32)
    return pa.RecordBatch.from_arrays(
        [
            terms.take(pa.array(blk[starts])),
            pa.array(docs[starts], type=pa.int64()),
            pa.array(fields[starts], type=pa.int32()),
            pa.ListArray.from_arrays(offsets, pa.array(pos, type=pa.int32())),
            pa.array(tf, type=pa.int32()),
        ],
        names=POSTING_SCHEMA.fieldNames(),
    )


def decode_blocks(
    blocks: DataFrame, min_doc: int | None = None, codec: str = "blocks"
) -> DataFrame:
    """Block rows (term, payload) → postings (POSTING_SCHEMA): one
    decode_postings call per Arrow batch of a mapInArrow. Callers prune
    first (term equality / bucket / block-metadata predicates); this
    decodes only surviving blocks."""

    def decode(batches):
        for rb in batches:
            out = decode_postings(rb.column(0), rb.column(1), codec, min_doc)
            if out.num_rows:
                yield out

    return blocks.mapInArrow(decode, POSTING_SCHEMA)
