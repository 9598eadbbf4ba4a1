"""Index-build operators: pages → postings / dictionary / doc_stats / blocks.

Spark-first re-expression of the reference build pipeline (SURVEY.md
§2.C, §3.1): the reference fills a single-process
``SortedDictionary<string, List<Occurrence>>`` doc-by-doc
(FullTextIndexBuilder.cs:11,97-115) and flushes term-ordered posting
lists (C2). Here the same result is one declarative plan:

    tokenize (pandas UDF, narrow)
      → posexplode                         (narrow)
      → groupBy(term, doc, field)          (THE shuffle — by term)
      → collect sorted positions + tf

Doc/collection statistics (df, cf, dl) fall out as cheap follow-up
aggregations; they power BM25 (the reference has no ranking —
SURVEY.md §0.1).

Scale notes (10^12 docs):
- the term shuffle has no skew: the key is (term, doc, field), so a
  stop-word's postings spread over all reducers; the *block* assembly
  step groups by (term, doc_group) — salted by doc-range — so no single
  task ever owns a full stop-word posting list (SURVEY.md §7 hard parts).
- map-side combine is automatic (partial aggregation) for the
  count/sum aggregates.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# occurrences exploded from pages; field_id starts at 1 (reference
# FullTextIndexBuilder.cs:8-9); single-field pages => field_id == 1.
OCC_COLS = ("term", "doc_id", "field_id", "pos")


TOKEN_ROWS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("field_id", T.IntegerType(), False),
        T.StructField("term", T.StringType(), False),
        T.StructField("pos", T.IntegerType(), False),
        T.StructField("off", T.IntegerType(), False),
        T.StructField("len", T.IntegerType(), False),
    ]
)


def tokenize_pages(pages_with_ids: DataFrame, field_id: int = 1) -> DataFrame:
    """pages(+doc_id) → one row per token occurrence.

    Output: (doc_id, field_id, term, pos, off, len). Implemented as
    mapInPandas emitting flat numpy-backed columns — an order of
    magnitude cheaper than building an array<struct> per row and
    exploding it (no per-token Python dicts).
    """
    from fulltextsearch_spark.functions.tokenizer import tokenize_text

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            doc_ids, terms, poss, offs, lens = [], [], [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:
                    continue
                t, o, ln = tokenize_text(text)
                n = len(t)
                if n == 0:
                    continue
                doc_ids.append(np.full(n, doc_id, dtype=np.int64))
                terms.extend(t)
                poss.append(np.arange(1, n + 1, dtype=np.int32))
                offs.append(o.astype(np.int32))
                lens.append(ln.astype(np.int32))
            if not terms:
                continue
            n_all = len(terms)
            yield pd.DataFrame(
                {
                    "doc_id": np.concatenate(doc_ids),
                    "field_id": np.full(n_all, field_id, dtype=np.int32),
                    "term": terms,
                    "pos": np.concatenate(poss),
                    "off": np.concatenate(offs),
                    "len": np.concatenate(lens),
                }
            )

    return pages_with_ids.select("doc_id", "text").mapInPandas(
        run, TOKEN_ROWS_SCHEMA
    )


# Sentinel "term" for per-document position-vector rows carried inside
# the postings table (see tokenize_postings emit_doc_positions). The
# tokenizer never emits an empty-string token, so "" cannot collide.
DP_TERM = ""


def tokenize_postings(
    pages_with_ids: DataFrame,
    field_id: int = 1,
    emit_doc_positions: bool = False,
) -> DataFrame:
    """pages(+doc_id) → posting rows directly, no shuffle.

    A (term, doc, field) posting's positions all live inside one
    document, so the per-doc assembly (sort terms, group, slice
    positions) can happen inside the tokenize pass itself — the
    reference does exactly this with its per-document SortedDictionary
    fill (FullTextIndexBuilder.cs:97-115). This removes the
    groupBy(term, doc, field) shuffle and its collect_list aggregation
    from the build entirely; the only remaining wide op is the
    bucket-write repartition.

    ``emit_doc_positions=True`` additionally yields ONE sentinel row per
    (doc, field) with term=DP_TERM, tf=0 and positions = the flat
    even/odd (off+1, off+1+len) vector (reference's document position
    list, FullTextIndexBuilder.cs:99-114) — so the doc-positions table
    falls out of the SAME single tokenize pass instead of a second full
    pass over the corpus.

    Implemented with mapInArrow, not mapInPandas: the positions column
    is built as ONE pyarrow ListArray per batch from flat (offsets,
    values) numpy arrays — zero per-row Python lists. The mapInPandas
    version allocated ~one Python list per posting row (~millions per
    100k docs), which dominated the stage cost and, being pure memory
    allocation, scaled poorly across cores.

    Output: POSTING_SCHEMA (term, doc_id, field_id, positions, tf).
    """
    import pyarrow as pa

    from fulltextsearch_spark.functions.tokenizer import tokenize_text

    def run(batches):
        dp_term = np.array([DP_TERM], dtype=object)
        for rb in batches:
            doc_ids = rb.column(0).to_numpy()
            texts = rb.column(1).to_pylist()
            terms_parts, docs_parts = [], []
            row_lens_parts, vals_parts, tf_parts = [], [], []
            for doc_id, text in zip(doc_ids, texts):
                if text is None:
                    continue
                terms, offs, lens = tokenize_text(text)
                n = len(terms)
                if n == 0:
                    continue
                if emit_doc_positions:
                    flat = np.empty(2 * n, dtype=np.int32)
                    flat[0::2] = offs + 1
                    flat[1::2] = offs + 1 + lens
                    terms_parts.append(dp_term)
                    docs_parts.append(np.array([doc_id], dtype=np.int64))
                    row_lens_parts.append(
                        np.array([2 * n], dtype=np.int64)
                    )
                    vals_parts.append(flat)
                    tf_parts.append(np.zeros(1, dtype=np.int32))
                arr = np.array(terms, dtype=object)
                order = np.argsort(arr, kind="stable")
                sorted_terms = arr[order]
                pos_sorted = (order + 1).astype(np.int32)  # 1-based token ids
                bnd = np.empty(n, dtype=bool)
                bnd[0] = True
                bnd[1:] = sorted_terms[1:] != sorted_terms[:-1]
                starts = np.nonzero(bnd)[0]
                ends = np.append(starts[1:], n)
                tf = (ends - starts).astype(np.int64)
                terms_parts.append(sorted_terms[starts])
                docs_parts.append(np.full(len(starts), doc_id, dtype=np.int64))
                row_lens_parts.append(tf)
                vals_parts.append(pos_sorted)
                tf_parts.append(tf.astype(np.int32))
            if not terms_parts:
                continue
            docs_all = np.concatenate(docs_parts)
            row_lens = np.concatenate(row_lens_parts)
            offsets = np.zeros(len(row_lens) + 1, dtype=np.int64)
            np.cumsum(row_lens, out=offsets[1:])
            positions = pa.ListArray.from_arrays(
                pa.array(offsets.astype(np.int32)),
                pa.array(np.concatenate(vals_parts), type=pa.int32()),
            )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(terms_parts), type=pa.string()),
                    pa.array(docs_all, type=pa.int64()),
                    pa.array(
                        np.full(len(docs_all), field_id, dtype=np.int32)
                    ),
                    positions,
                    pa.array(np.concatenate(tf_parts), type=pa.int32()),
                ],
                names=["term", "doc_id", "field_id", "positions", "tf"],
            )

    return pages_with_ids.select("doc_id", "text").mapInArrow(
        run, POSTING_SCHEMA
    )


def tokenize_compound(docs: DataFrame, field_cols: list[str]) -> DataFrame:
    """Multi-field compound documents (reference AddCompound,
    FullTextIndexBuilder.cs:50-64, SURVEY.md §2.A4): each text column
    becomes field_id 1..N with its own 1-based token positions."""
    out = None
    for fid, col in enumerate(field_cols, start=1):
        part = tokenize_pages(
            docs.select("doc_id", F.col(col).alias("text")), field_id=fid
        )
        out = part if out is None else out.unionByName(part)
    return out


def build_postings(tokens: DataFrame) -> DataFrame:
    """occurrences → postings (term, doc_id, field_id, positions, tf).

    positions sorted ascending — the posting-list invariant
    (IndexModels/IPostingList.cs:3-7: ordered smallest→greatest).
    """
    return tokens.groupBy("term", "doc_id", "field_id").agg(
        F.sort_array(F.collect_list("pos")).alias("positions"),
        F.count("*").cast("int").alias("tf"),
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
    strictly decreasing too)."""
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


def _encode_term_group(
    out: dict,
    term,
    bucket_val,
    doc_grp: int,
    docs: np.ndarray,
    fields: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    flat: np.ndarray,
    encode_block,
    block_max_occ: int,
) -> None:
    """Chunk ONE (term, doc_grp) group's doc-ordered posting rows into
    block rows (BLOCK_SCHEMA_BUCKETED columns) appended to ``out`` —
    THE block-boundary/payload kernel.

    ``docs``/``fields``/``tfs``/``dls`` are row-level (one entry per
    (doc, field) posting row, doc-ascending, a doc's field rows
    adjacent; ``dls`` is the (doc, field) token count); ``flat`` is the
    concatenated positions. Blocks chunk greedily at DOC boundaries (a
    doc's rows never split). Impact frontiers come from per-doc summed
    tf and summed dl: for a multi-field doc the sum covers only the
    fields the term occurs in, a lower bound of the true dl, which
    over-estimates tfn — still a safe upper bound."""
    n_rows = len(docs)
    occ_docs = np.repeat(docs, tfs)
    occ_fields = np.repeat(fields, tfs)
    row_off = np.zeros(n_rows + 1, dtype=np.int64)
    np.cumsum(tfs, out=row_off[1:])
    doc_start = np.empty(n_rows, dtype=bool)
    doc_start[0] = True
    doc_start[1:] = docs[1:] != docs[:-1]
    dstarts = np.nonzero(doc_start)[0]
    d_off = np.append(row_off[dstarts], row_off[n_rows])
    n_grp_docs = len(dstarts)
    bno = 0
    di = 0
    while di < n_grp_docs:
        dj = int(
            np.searchsorted(d_off, d_off[di] + block_max_occ, side="right")
            - 1
        )
        if dj <= di:  # one oversized document
            dj = di + 1
        dj = min(dj, n_grp_docs)
        s_row = int(dstarts[di])
        e_row = int(dstarts[dj]) if dj < n_grp_docs else n_rows
        s, e = int(row_off[s_row]), int(row_off[e_row])
        # per-doc summed tf + lower-bound dl for the impacts
        loc_starts = dstarts[di:dj] - s_row
        tf_doc = np.add.reduceat(tfs[s_row:e_row], loc_starts)
        dl_doc = np.add.reduceat(dls[s_row:e_row], loc_starts)
        imp_tf, imp_dl = _impact_frontier(tf_doc, dl_doc)
        out["term"].append(term)
        out["bucket"].append(bucket_val)
        out["doc_grp"].append(doc_grp)
        out["block_no"].append(bno)
        out["first_doc"].append(int(occ_docs[s]))
        out["last_doc"].append(int(occ_docs[e - 1]))
        out["n_occ"].append(e - s)
        out["n_docs"].append(dj - di)
        out["max_tf"].append(int(tf_doc.max()))
        out["imp_tf"].append(imp_tf)
        out["imp_dl"].append(imp_dl)
        out["payload"].append(
            encode_block(occ_docs[s:e], occ_fields[s:e], flat[s:e])
        )
        bno += 1
        di = dj


# bucketed variant: bucket leads so block rows sort/write directly via
# partitionBy("bucket") with no second shuffle (assemble_packed_blocks)
BLOCK_SCHEMA_BUCKETED = T.StructType(
    [T.StructField("bucket", T.IntegerType(), False), *BLOCK_SCHEMA.fields]
)


def _block_out_batch(out: dict, out_schema):
    """Per-block output dict → Arrow batch (block cardinality is
    ~1/BLOCK_MAX_OCC of the input, so this side is cheap)."""
    import pyarrow as pa

    arrays = []
    for f in out_schema.fields:
        vals = out[f.name]
        if f.name in ("imp_tf", "imp_dl"):
            arrays.append(
                pa.array(
                    [np.asarray(v, dtype=np.int32) for v in vals],
                    type=pa.list_(pa.int32()),
                )
            )
        elif f.name == "payload":
            arrays.append(pa.array(vals, type=pa.binary()))
        elif f.name == "term":
            arrays.append(pa.array(vals, type=pa.string()))
        elif f.name in ("doc_grp", "first_doc", "last_doc"):
            arrays.append(pa.array(vals, type=pa.int64()))
        else:  # bucket, block_no, n_occ, n_docs, max_tf
            arrays.append(pa.array(vals, type=pa.int32()))
    return pa.RecordBatch.from_arrays(
        arrays, names=[f.name for f in out_schema.fields]
    )


def _block_codec(codec: str):
    """Payload (encode, decode) pair for a block codec/mode name."""
    from fulltextsearch_spark.operators import codec as C

    if codec == "groupvarint":
        return C.encode_block_gv, C.decode_block_gv
    if codec == "packedints":
        return C.encode_block_packed, C.decode_block_packed
    if codec == "binary":
        return C.encode_block_binary, C.decode_block_binary
    return C.encode_block, C.decode_block


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
# crosses each boundary as one memcpy per run.
#
# Correctness: a doc lives wholly inside one Arrow batch, so a (term,
# doc, field) posting row exists in exactly ONE run; the reduce side
# concatenates a group's runs and sorts rows by (doc, field) — unique
# keys, so the result is deterministic regardless of run arrival order
# — and feeds the block-chunking kernel (_encode_term_group), so block
# boundaries and payload bytes do not depend on batch or run layout
# (golden-tested).

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


def _pack_run_blob(docs, tfdl, fields, rowlen, flat) -> bytes:
    """[i64 n][i64 docs×n][i64 tfdl×n][i32 field×n][i32 rowlen×n]
    [i32 flat×Σrowlen] — raw little-endian sections. Shuffle-transient
    format only; never written to disk."""
    return b"".join(
        (
            np.int64(len(docs)).tobytes(),
            docs.tobytes(),
            tfdl.tobytes(),
            fields.tobytes(),
            rowlen.tobytes(),
            flat.tobytes(),
        )
    )


def _unpack_run_blob(blob: bytes):
    n = int(np.frombuffer(blob, np.int64, 1)[0])
    o = 8
    docs = np.frombuffer(blob, np.int64, n, o)
    o += 8 * n
    tfdl = np.frombuffer(blob, np.int64, n, o)
    o += 8 * n
    fields = np.frombuffer(blob, np.int32, n, o)
    o += 4 * n
    rowlen = np.frombuffer(blob, np.int32, n, o)
    o += 4 * n
    flat = np.frombuffer(blob, np.int32, (len(blob) - o) // 4, o)
    return docs, tfdl, fields, rowlen, flat


def tokenize_packed_runs(
    pages_with_ids: DataFrame,
    field_id: int = 1,
    emit_doc_positions: bool = True,
    doc_group_span: int = DOC_GROUP_SPAN,
) -> DataFrame:
    """pages(+doc_id) → packed posting RUNS (term, doc_grp, blob).

    Per Arrow batch: tokenize each doc (the same tokenize_text kernel),
    dictionary-encode the batch's tokens (Arrow C++ hash — replaces the
    per-doc Python string argsort of tokenize_postings), one int
    lexsort by (term code, doc), then slice per-(term, doc group) runs
    out of the flat arrays. Emitted term strings come from the batch
    dictionary via Array.take — no per-token Python strings cross the
    boundary. Sentinel doc-position rows pack DP_RUN_DOCS docs per run
    with the same blob layout (rowlen = vector length, tf = 0)."""
    import pyarrow as pa

    from fulltextsearch_spark.functions.tokenizer import tokenize_text

    def run(batches):
        for rb in batches:
            b_doc_ids = rb.column(0).to_numpy()
            texts = rb.column(1).to_pylist()
            all_terms: list = []
            occ_doc_parts, occ_dl_parts = [], []
            sent_docs, sent_vecs, sent_n = [], [], []
            doc_lens: list[int] = []
            for doc_id, text in zip(b_doc_ids, texts):
                if text is None:
                    continue
                terms, offs, lens = tokenize_text(text)
                n = len(terms)
                if n == 0:
                    continue
                all_terms.extend(terms)
                doc_lens.append(n)
                occ_doc_parts.append(np.full(n, doc_id, dtype=np.int64))
                occ_dl_parts.append(np.full(n, n, dtype=np.int64))
                if emit_doc_positions:
                    flatv = np.empty(2 * n, dtype=np.int32)
                    flatv[0::2] = offs + 1
                    flatv[1::2] = offs + 1 + lens
                    sent_docs.append(doc_id)
                    sent_vecs.append(flatv)
                    sent_n.append(n)
            if not all_terms:
                continue
            occ_doc = np.concatenate(occ_doc_parts)
            occ_dl = np.concatenate(occ_dl_parts)
            n_occ = len(occ_doc)
            dl_arr = np.array(doc_lens, dtype=np.int64)
            dstarts = np.cumsum(dl_arr) - dl_arr
            occ_pos = (
                np.arange(n_occ, dtype=np.int64)
                - np.repeat(dstarts, dl_arr)
                + 1
            ).astype(np.int32)
            dic = pa.array(all_terms, type=pa.string()).dictionary_encode()
            codes = dic.indices.to_numpy().astype(np.int64)
            # primary term code, secondary doc; stable, so positions
            # stay ascending within each (term, doc) row
            order = np.lexsort((occ_doc, codes))
            c = codes[order]
            d_ = occ_doc[order]
            p = occ_pos[order]
            dl_s = occ_dl[order]
            bnd = np.empty(n_occ, dtype=bool)
            bnd[0] = True
            bnd[1:] = (c[1:] != c[:-1]) | (d_[1:] != d_[:-1])
            row_starts = np.nonzero(bnd)[0]
            row_len = np.diff(np.append(row_starts, n_occ)).astype(np.int64)
            row_doc = d_[row_starts]
            row_code = c[row_starts]
            row_tfdl = row_len + (dl_s[row_starts] << 32)
            row_grp = row_doc // doc_group_span
            n_rows = len(row_starts)
            rbnd = np.empty(n_rows, dtype=bool)
            rbnd[0] = True
            rbnd[1:] = (row_code[1:] != row_code[:-1]) | (
                row_grp[1:] != row_grp[:-1]
            )
            run_starts = np.nonzero(rbnd)[0]
            run_ends = np.append(run_starts[1:], n_rows)
            fields_arr = np.full(n_rows, field_id, dtype=np.int32)
            row_len32 = row_len.astype(np.int32)
            blobs = []
            for rs, re_ in zip(run_starts, run_ends):
                fs = int(row_starts[rs])
                fe = int(row_starts[re_]) if re_ < n_rows else n_occ
                blobs.append(
                    _pack_run_blob(
                        row_doc[rs:re_],
                        row_tfdl[rs:re_],
                        fields_arr[rs:re_],
                        row_len32[rs:re_],
                        p[fs:fe],
                    )
                )
            term_col = dic.dictionary.take(
                pa.array(row_code[run_starts], type=pa.int64())
            )
            yield pa.RecordBatch.from_arrays(
                [
                    term_col,
                    pa.array(row_grp[run_starts], type=pa.int64()),
                    pa.array(blobs, type=pa.binary()),
                ],
                names=["term", "doc_grp", "blob"],
            )
            if emit_doc_positions and sent_docs:
                sdocs = np.array(sent_docs, dtype=np.int64)
                sn = np.array(sent_n, dtype=np.int64)
                svec_lens = (2 * sn).astype(np.int32)
                sflat = np.concatenate(sent_vecs)
                stfdl = sn << 32  # tf = 0, dl = n
                sfields = np.full(len(sdocs), field_id, dtype=np.int32)
                s_off = np.cumsum(svec_lens.astype(np.int64)) - svec_lens
                dp_grps, dp_blobs = [], []
                for cs in range(0, len(sdocs), DP_RUN_DOCS):
                    ce = min(cs + DP_RUN_DOCS, len(sdocs))
                    fs = int(s_off[cs])
                    fe = int(s_off[ce - 1] + svec_lens[ce - 1])
                    dp_blobs.append(
                        _pack_run_blob(
                            sdocs[cs:ce],
                            stfdl[cs:ce],
                            sfields[cs:ce],
                            svec_lens[cs:ce],
                            sflat[fs:fe],
                        )
                    )
                    # doc_grp is only a shuffle salt for runs; the
                    # assemble emits per-doc sentinel BLOCK rows with
                    # doc_grp = doc_id
                    dp_grps.append(int(sdocs[cs]))
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(
                            [DP_TERM] * len(dp_blobs), type=pa.string()
                        ),
                        pa.array(dp_grps, type=pa.int64()),
                        pa.array(dp_blobs, type=pa.binary()),
                    ],
                    names=["term", "doc_grp", "blob"],
                )

    return pages_with_ids.select("doc_id", "text").mapInArrow(
        run, RUN_SCHEMA
    )


def assemble_packed_blocks(
    runs: DataFrame,
    codec: str = "blocks",
    n_buckets: int = 8,
    strip_dp_payload: bool = False,
    block_max_occ: int = BLOCK_MAX_OCC,
) -> DataFrame:
    """Packed runs → bucketed block rows (BLOCK_SCHEMA_BUCKETED), ready
    for the partitionBy("bucket") writer with no further shuffle.

    The shuffle keys (bucket, term, doc_grp) are computed as JVM
    expressions — they never ride as data columns through the Python
    boundary; Python recomputes the bucket once per (term, doc_grp)
    group with the xxhash64 twin. Groups arrive contiguous (sorted by
    the same expressions); a group's runs concatenate and row-sort by
    (doc, field) — unique per row, so any run arrival order yields the
    same bytes — then feed the _encode_term_group kernel."""
    from fulltextsearch_spark.functions.xxhash import term_bucket_py

    bucket_expr = F.when(
        F.col("term") == DP_TERM, F.lit(n_buckets)
    ).otherwise(
        F.pmod(F.xxhash64(F.col("term")), F.lit(n_buckets)).cast("int")
    )
    n_parts = runs.sparkSession.sparkContext.defaultParallelism * 4
    shuffled = runs.repartition(
        n_parts, bucket_expr, F.col("term"), F.col("doc_grp")
    ).sortWithinPartitions(bucket_expr, F.col("term"), F.col("doc_grp"))

    def assemble(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        from fulltextsearch_spark.operators.codec import (
            encode_positions_payload,
        )

        encode_block, _ = _block_codec(codec)
        empty_imp = np.empty(0, dtype=np.int32)

        def new_out():
            return {f.name: [] for f in BLOCK_SCHEMA_BUCKETED.fields}

        out = new_out()
        carry_key: tuple | None = None
        carry_parts: list = []

        def flush_group():
            nonlocal carry_key, carry_parts
            if carry_key is None:
                return
            term, grp = carry_key
            docs = np.concatenate([x[0] for x in carry_parts])
            tfdl = np.concatenate([x[1] for x in carry_parts])
            fields = np.concatenate([x[2] for x in carry_parts])
            rowlen = np.concatenate([x[3] for x in carry_parts])
            flat = np.concatenate([x[4] for x in carry_parts])
            carry_key, carry_parts = None, []
            # deterministic (doc, field) row order whatever the run
            # arrival order; variable-length flat gather is vectorized
            order = np.lexsort((fields, docs))
            src_starts = np.cumsum(rowlen, dtype=np.int64) - rowlen
            new_lens = rowlen[order].astype(np.int64)
            new_off = np.cumsum(new_lens) - new_lens
            idx = np.repeat(src_starts[order], new_lens) + (
                np.arange(len(flat), dtype=np.int64)
                - np.repeat(new_off, new_lens)
            )
            tfdl_s = tfdl[order]
            _encode_term_group(
                out,
                term,
                term_bucket_py(term, n_buckets),
                int(grp),
                docs[order],
                fields[order],
                tfdl_s & TFDL_MASK,
                tfdl_s >> 32,
                flat[idx],
                encode_block,
                block_max_occ,
            )

        def emit_dp_run(blob):
            docs, tfdl, fields, rowlen, flat = _unpack_run_blob(blob)
            o = np.cumsum(rowlen.astype(np.int64)) - rowlen
            for i in range(len(docs)):
                out["term"].append(DP_TERM)
                out["bucket"].append(n_buckets)
                out["doc_grp"].append(int(docs[i]))
                # sentinels reuse block_no to carry the FIELD id
                out["block_no"].append(int(fields[i]))
                out["first_doc"].append(int(docs[i]))
                out["last_doc"].append(int(docs[i]))
                out["n_occ"].append(int(rowlen[i]))
                out["n_docs"].append(1)
                out["max_tf"].append(0)
                out["imp_tf"].append(empty_imp)
                out["imp_dl"].append(empty_imp)
                out["payload"].append(
                    b""
                    if strip_dp_payload
                    else encode_positions_payload(
                        flat[int(o[i]) : int(o[i]) + int(rowlen[i])]
                    )
                )

        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            t_arr = rb.column(0)
            grps = rb.column(1).to_numpy()
            blobs = rb.column(2).to_pylist()
            is_dp = pc.equal(t_arr, DP_TERM).to_numpy(zero_copy_only=False)
            t_change = np.empty(n, dtype=bool)
            t_change[0] = True
            if n > 1:
                t_change[1:] = pc.not_equal(
                    t_arr.slice(1), t_arr.slice(0, n - 1)
                ).to_numpy(zero_copy_only=False)
            term_i: str | None = None
            for i in range(n):
                if is_dp[i]:
                    # sentinel runs are self-contained (one block row
                    # per doc) and sort after every real bucket; close
                    # the open group so output bucket order holds
                    flush_group()
                    emit_dp_run(blobs[i])
                    continue
                if t_change[i]:
                    term_i = t_arr[i].as_py()
                key = (term_i, int(grps[i]))
                if key != carry_key:
                    flush_group()
                    carry_key = key
                carry_parts.append(_unpack_run_blob(blobs[i]))
            if len(out["term"]) >= 8192:
                yield _block_out_batch(out, BLOCK_SCHEMA_BUCKETED)
                out = new_out()
        flush_group()
        if out["term"]:
            yield _block_out_batch(out, BLOCK_SCHEMA_BUCKETED)

    return shuffled.mapInArrow(assemble, BLOCK_SCHEMA_BUCKETED)


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
    doc-positions table view over a blocks-only index layout. The
    field id rides in the sentinel's block_no (0 in legacy segments =
    field 1)."""

    def run(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from fulltextsearch_spark.operators.codec import decode_positions_payload

        for pdf in pdfs:
            docs, fids, vecs = [], [], []
            for doc_id, fid, payload in zip(
                pdf["first_doc"], pdf["block_no"], pdf["payload"]
            ):
                docs.append(int(doc_id))
                fids.append(max(int(fid), 1))
                vecs.append(
                    decode_positions_payload(bytes(payload)).astype(np.int32).tolist()
                )
            yield pd.DataFrame(
                {
                    "doc_id": docs,
                    "field_id": np.array(fids, dtype=np.int32),
                    "positions": vecs,
                }
            )

    return blocks.select("first_doc", "block_no", "payload").mapInPandas(
        run, DOC_POSITIONS_SCHEMA
    )


def decode_blocks(
    blocks: DataFrame, min_doc: int | None = None, codec: str = "blocks"
) -> DataFrame:
    """block rows → postings (term, doc_id, field_id, positions, tf).

    Callers prune first (term equality / bucket / `last_doc >= min_doc`);
    this decodes only surviving blocks. Implemented with mapInArrow:
    the positions column is assembled as ONE pyarrow ListArray per
    batch from flat (offsets, values) numpy arrays — zero per-posting
    Python lists (the mapInPandas version allocated one list per
    posting row, which dominated every decode-bound query the same way
    it dominated the round-2 tokenize pass)."""

    def decode(batches):
        import pyarrow as pa

        _, decode_block = _block_codec(codec)

        for rb in batches:
            terms_in = rb.column(0).to_pylist()
            payloads = rb.column(1).to_pylist()
            term_parts, doc_parts, field_parts = [], [], []
            tf_parts, val_parts = [], []
            for term, payload in zip(terms_in, payloads):
                docs, fields, pos = decode_block(bytes(payload))
                if min_doc is not None:
                    keep = docs >= min_doc
                    docs, fields, pos = docs[keep], fields[keep], pos[keep]
                n = len(docs)
                if n == 0:
                    continue
                bnd = np.empty(n, dtype=bool)
                bnd[0] = True
                bnd[1:] = (docs[1:] != docs[:-1]) | (fields[1:] != fields[:-1])
                starts = np.nonzero(bnd)[0]
                tf = np.diff(np.append(starts, n))
                term_parts.append(np.full(len(starts), term, dtype=object))
                doc_parts.append(docs[starts].astype(np.int64))
                field_parts.append(fields[starts].astype(np.int32))
                tf_parts.append(tf.astype(np.int64))
                val_parts.append(pos)
            if not term_parts:
                continue
            tf_all = np.concatenate(tf_parts)
            offsets = np.zeros(len(tf_all) + 1, dtype=np.int64)
            np.cumsum(tf_all, out=offsets[1:])
            positions = pa.ListArray.from_arrays(
                pa.array(offsets.astype(np.int32)),
                pa.array(
                    np.concatenate(val_parts).astype(np.int32),
                    type=pa.int32(),
                ),
            )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(term_parts), type=pa.string()),
                    pa.array(np.concatenate(doc_parts), type=pa.int64()),
                    pa.array(np.concatenate(field_parts), type=pa.int32()),
                    positions,
                    pa.array(tf_all.astype(np.int32), type=pa.int32()),
                ],
                names=["term", "doc_id", "field_id", "positions", "tf"],
            )

    return blocks.mapInArrow(decode, POSTING_SCHEMA)
