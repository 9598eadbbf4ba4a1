"""The batch-columnar block-assembly kernel against a per-block reference.

The reference below assembles one (term, doc_grp) group at a time: it
sorts the group's posting rows by (doc, field), cuts blocks greedily at
doc boundaries, and describes and encodes each block with the
single-block functions (``codec.encode_block*``, ``_impact_frontier``).
The kernel must emit the same rows in the same order for adversarial
groups and for any split of its input into Arrow batches. No Spark.
"""

import numpy as np
import pyarrow as pa
import pytest

from fulltextsearch_spark.operators import build, codec
from fulltextsearch_spark.operators.build import (
    BLOCK_MAX_OCC,
    DP_TERM,
    MAX_IMPACTS,
    _assemble_run_batches,
    _impact_frontier,
    _pack_runs,
)

SINGLE = {
    "blocks": codec.encode_block,
    "groupvarint": codec.encode_block_gv,
    "packedints": codec.encode_block_packed,
    "binary": codec.encode_block_binary,
}
N_BUCKETS = 3


def _rows(rng, docs, fields, tf_of, dl_extra=40):
    """Posting rows (doc, field, tf, dl, positions) for every doc and
    each of its fields."""
    out = []
    for d in docs:
        for f in fields(d):
            tf = tf_of(d)
            dl = tf + int(rng.integers(0, dl_extra + 1))
            pos = np.sort(rng.choice(np.arange(1, dl + 1), tf, replace=False))
            out.append((int(d), int(f), tf, dl, pos.astype(np.int32)))
    return out


def _groups(rng, block_max_occ):
    """(term, doc_grp, rows) for the adversarial groups, in key order."""
    one = lambda d: (1,)  # noqa: E731
    groups = {
        # a single doc with more than block_max_occ occurrences, then
        # small docs after it
        ("a_oversized", 0): _rows(
            rng,
            [5, 9, 11],
            one,
            lambda d: block_max_occ + 7 if d == 5 else 3,
        ),
        # a hot group spanning many blocks, multi-field docs
        ("b_hot", 0): _rows(
            rng,
            np.sort(rng.choice(np.arange(1, 5000), 400, replace=False)),
            lambda d: sorted(rng.choice([1, 2, 3], int(rng.integers(1, 4)), replace=False)),
            lambda d: int(rng.integers(1, 12)),
        ),
        # tf = k with dl = k + 3: no doc dominates another, so the
        # frontier is longer than MAX_IMPACTS and must collapse
        ("c_frontier", 0): [
            (d, 1, k, k + 3, np.arange(1, k + 1, dtype=np.int32))
            for k, d in enumerate(range(100, 100 + 3 * MAX_IMPACTS), start=1)
        ],
        # the same term in two doc groups, plus a tiny one-row group
        ("d_two_grps", 0): _rows(rng, [3, 8], one, lambda d: 2),
        ("d_two_grps", 1): _rows(rng, [70, 71, 90], lambda d: (1, 2), lambda d: 5),
        ("e_tiny", 2): [(42, 1, 1, 1, np.array([1], dtype=np.int32))],
    }
    for i in range(30):  # many rare terms: one small block each
        groups[(f"r{i:02d}", 0)] = _rows(
            rng,
            np.sort(rng.choice(np.arange(1, 300), int(rng.integers(1, 4)), replace=False)),
            lambda d: sorted(rng.choice([1, 2], int(rng.integers(1, 3)), replace=False)),
            lambda d: int(rng.integers(1, 4)),
        )
    return groups


def _runs_of(rng, rows):
    """Split a group's rows into runs as the tokenize side makes them:
    one field per run, doc-ascending inside, shuffled arrival order."""
    runs = []
    for f in sorted({r[1] for r in rows}):
        fr = [r for r in rows if r[1] == f]
        n_cuts = min(len(fr) - 1, 3)
        cuts = sorted(rng.choice(np.arange(1, len(fr)), n_cuts, replace=False))
        for lo, hi in zip([0, *cuts], [*cuts, len(fr)]):
            runs.append(fr[lo:hi])
    rng.shuffle(runs)
    return runs


def _pack(runs):
    """Runs of posting rows → (run_starts, docs, tfdl, fields, rowlen, flat)."""
    rows = [r for run in runs for r in run]
    lens = [len(run) for run in runs]
    return (
        np.cumsum(lens) - lens,
        np.array([r[0] for r in rows], dtype=np.int64),
        np.array([(r[3] << 32) | r[2] for r in rows], dtype=np.int64),
        np.array([r[1] for r in rows], dtype=np.int32),
        np.array([len(r[4]) for r in rows], dtype=np.int32),
        np.concatenate([r[4] for r in rows]).astype(np.int32),
    )


def _bucket(term):
    return N_BUCKETS if term == DP_TERM else sum(map(ord, term)) % N_BUCKETS


def _input_batch(groups, sentinels, rng):
    keys, runs = [], []
    for key in sorted(groups, key=lambda k: (_bucket(k[0]), k)):
        for run in _runs_of(rng, groups[key]):
            keys.append(key)
            runs.append(run)
    for run in sentinels:
        keys.append((DP_TERM, run[0][0]))
        runs.append(run)
    return pa.RecordBatch.from_arrays(
        [
            pa.array([_bucket(t) for t, _ in keys], type=pa.int32()),
            pa.array([t for t, _ in keys], type=pa.string()),
            pa.array([g for _, g in keys], type=pa.int64()),
            _pack_runs(*_pack(runs)),
        ],
        names=["bucket", "term", "doc_grp", "blob"],
    )


def _reference(groups, sentinels, codec_name, block_max_occ, strip):
    """Per-group, per-block assembly with the single-block functions."""
    out = []
    for term, grp in sorted(groups, key=lambda k: (_bucket(k[0]), k)):
        rows = sorted(groups[term, grp], key=lambda r: (r[0], r[1]))
        docs = sorted({r[0] for r in rows})
        per_doc = {d: [r for r in rows if r[0] == d] for d in docs}
        blocks, cur, cur_occ = [], [], 0
        for d in docs:  # greedy doc-boundary cut
            occ = sum(r[2] for r in per_doc[d])
            if cur and cur_occ + occ > block_max_occ:
                blocks.append(cur)
                cur, cur_occ = [], 0
            cur.append(d)
            cur_occ += occ
        blocks.append(cur)
        for bno, bdocs in enumerate(blocks):
            brows = [r for d in bdocs for r in per_doc[d]]
            tf_doc = np.array([sum(r[2] for r in per_doc[d]) for d in bdocs], dtype=np.int64)
            dl_doc = np.array([sum(r[3] for r in per_doc[d]) for d in bdocs], dtype=np.int64)
            imp_tf, imp_dl = _impact_frontier(tf_doc, dl_doc)
            occ_docs = np.array([r[0] for r in brows for _ in r[4]], dtype=np.int64)
            occ_fields = np.array([r[1] for r in brows for _ in r[4]], dtype=np.int64)
            pos = np.concatenate([r[4] for r in brows]).astype(np.int64)
            out.append({
                "bucket": _bucket(term), "term": term, "doc_grp": grp,
                "block_no": bno, "first_doc": bdocs[0], "last_doc": bdocs[-1],
                "n_occ": len(pos), "n_docs": len(bdocs), "max_tf": int(tf_doc.max()),
                "imp_tf": imp_tf.tolist(), "imp_dl": imp_dl.tolist(),
                "payload": SINGLE[codec_name](occ_docs, occ_fields, pos),
            })
    for run in sentinels:
        for doc, field, _, _, vec in run:
            out.append({
                "bucket": N_BUCKETS, "term": DP_TERM, "doc_grp": doc,
                "block_no": field, "first_doc": doc, "last_doc": doc,
                "n_occ": len(vec), "n_docs": 1, "max_tf": 0,
                "imp_tf": [], "imp_dl": [],
                "payload": b"" if strip else codec.varint_encode(
                    np.array([len(vec), *np.diff(vec.astype(np.int64), prepend=0)], dtype=np.uint64)
                ),
            })
    return out


def _sentinels(rng):
    """Doc-position runs: a few docs each, (off+1, off+1+len) vectors."""
    runs, doc = [], 1
    for n_docs in (3, 1, 5):
        run = []
        for _ in range(n_docs):
            n = int(rng.integers(1, 20))
            offs = np.sort(rng.choice(np.arange(0, 400, 4), n, replace=False))
            vec = np.empty(2 * n, dtype=np.int32)
            vec[0::2] = offs + 1
            vec[1::2] = offs + 3
            run.append((doc, 1 + doc % 2, 0, n, vec))
            doc += int(rng.integers(1, 4))
        runs.append(run)
    return runs


def _splits(rb, how, rng):
    if how == "whole":
        return [rb]
    if how == "rows":  # 1-row batches: every group straddles a boundary
        return [rb.slice(i, 1) for i in range(rb.num_rows)]
    cuts = sorted(rng.choice(np.arange(1, rb.num_rows), 6, replace=False))
    return [rb.slice(lo, hi - lo) for lo, hi in zip([0, *cuts], [*cuts, rb.num_rows])]


def _kernel_rows(batches, codec_name, block_max_occ, strip):
    rows = []
    for out in _assemble_run_batches(iter(batches), codec_name, N_BUCKETS, strip, block_max_occ):
        assert out.num_rows <= build.OUT_MAX_BLOCKS
        rows += out.to_pylist()
    return rows


@pytest.mark.parametrize("how", ["whole", "rows", "random", "small_out"])
@pytest.mark.parametrize("codec_name", sorted(SINGLE))
def test_kernel_matches_per_block_reference(codec_name, how, monkeypatch):
    if how == "small_out":  # many output batches, cut mid-group
        monkeypatch.setattr(build, "OUT_MAX_BLOCKS", 3)
        monkeypatch.setattr(build, "OUT_MAX_OCC", 100)
        how = "whole"
    rng = np.random.default_rng(17)
    block_max_occ = 200
    groups, sentinels = _groups(rng, block_max_occ), _sentinels(rng)
    rb = _input_batch(groups, sentinels, rng)
    got = _kernel_rows(_splits(rb, how, rng), codec_name, block_max_occ, False)
    want = _reference(groups, sentinels, codec_name, block_max_occ, False)
    assert [(r["term"], r["doc_grp"], r["block_no"]) for r in got] == [
        (r["term"], r["doc_grp"], r["block_no"]) for r in want
    ]
    assert got == want
    # the adversarial shapes are really there
    assert any(r["n_docs"] == 1 and r["n_occ"] > block_max_occ for r in got)
    assert max(r["block_no"] for r in got if r["term"] == "b_hot") >= 10
    assert any(len(r["imp_tf"]) == MAX_IMPACTS for r in got)


def test_kernel_default_block_size_and_stripped_sentinels():
    rng = np.random.default_rng(3)
    groups = {
        ("hot", 0): _rows(rng, np.arange(1, 2001), lambda d: (1,), lambda d: int(rng.integers(1, 9))),
        ("big_doc", 0): _rows(rng, [7], lambda d: (1, 2), lambda d: BLOCK_MAX_OCC + 1),
    }
    sentinels = _sentinels(rng)
    rb = _input_batch(groups, sentinels, rng)
    got = _kernel_rows(_splits(rb, "random", rng), "blocks", BLOCK_MAX_OCC, True)
    assert got == _reference(groups, sentinels, "blocks", BLOCK_MAX_OCC, True)
    assert max(r["block_no"] for r in got if r["term"] == "hot") >= 1


def test_pack_runs_layout():
    """One gather packs every run exactly as the per-run byte layout
    [i64 n][i64 docs][i64 tfdl][i32 fields][i32 rowlen][i32 flat]."""
    rng = np.random.default_rng(5)
    runs = _runs_of(rng, _rows(rng, np.arange(1, 40), lambda d: (1,), lambda d: int(rng.integers(1, 6))))
    starts, docs, tfdl, fields, rowlen, flat = _pack(runs)
    blobs = _pack_runs(starts, docs, tfdl, fields, rowlen, flat).to_pylist()
    ends = np.append(starts[1:], len(docs))
    fat = np.concatenate(([0], np.cumsum(rowlen)))
    for s, e, blob in zip(starts, ends, blobs):
        assert blob == b"".join((
            np.int64(e - s).tobytes(), docs[s:e].tobytes(), tfdl[s:e].tobytes(),
            fields[s:e].tobytes(), rowlen[s:e].tobytes(), flat[fat[s] : fat[e]].tobytes(),
        ))


def test_impact_frontiers_match_per_block():
    """The batched frontiers equal _impact_frontier block by block, for
    frontier lengths on both sides of the MAX_IMPACTS collapse."""
    from fulltextsearch_spark.operators.build import _impact_frontiers

    rng = np.random.default_rng(11)
    sizes = rng.integers(1, 120, 300)
    tf, dl = [], []
    for n in sizes:  # tf rising with dl: frontiers of every length
        t = rng.integers(1, 60, n)
        tf.append(t)
        dl.append(t * int(rng.integers(1, 4)) + rng.integers(0, 6, n))
    doc_tf, doc_dl = np.concatenate(tf), np.concatenate(dl)
    blk_doc = np.cumsum(sizes) - sizes
    counts, ftf, fdl = _impact_frontiers(doc_tf, doc_dl, blk_doc)
    at = np.cumsum(counts) - counts
    lengths = set()
    for i, (s, n) in enumerate(zip(blk_doc, sizes)):
        want_tf, want_dl = _impact_frontier(doc_tf[s : s + n], doc_dl[s : s + n])
        assert ftf[at[i] : at[i] + counts[i]].tolist() == want_tf.tolist()
        assert fdl[at[i] : at[i] + counts[i]].tolist() == want_dl.tolist()
        lengths.add(len(np.unique(doc_tf[s : s + n])))
    assert counts.max() == MAX_IMPACTS and min(lengths) < MAX_IMPACTS < max(lengths)
