"""The block-decode kernel against a per-block reference.

Random blocks are encoded with each codec's batched encoder. The
reference decodes them one at a time with the single-block decoder
(``codec.decode_block*``) and groups each block's occurrences into
(doc, field) posting rows. ``decode_postings`` must return the same rows
in the same order, with and without a ``min_doc`` seek. No Spark.
"""

import numpy as np
import pyarrow as pa
import pytest

from fulltextsearch_spark.operators import codec
from fulltextsearch_spark.operators.build import decode_postings

CODECS = {
    "blocks": (codec.encode_blocks, codec.decode_block),
    "groupvarint": (codec.encode_blocks_gv, codec.decode_block_gv),
    "packedints": (codec.encode_blocks_packed, codec.decode_block_packed),
    "binary": (codec.encode_blocks_binary, codec.decode_block_binary),
}
MIN_DOC = 200


def _blocks(rng, n_blocks=60):
    """(term, docs, fields, pos) per block: docs from a 50-doc window at
    a random start, each doc in one to three fields, occurrences sorted
    by (doc, field, pos). Blocks of different terms share docs; every
    tenth block repeats the previous one's docs under another term, so
    adjacent blocks share a (doc, field) key that must not merge."""
    out = []
    for i in range(n_blocks):
        if i % 10 == 9:
            out.append((f"u{i}", *out[-1][1:]))
            continue
        lo = int(rng.integers(1, 400))
        docs = np.sort(rng.choice(np.arange(lo, lo + 50), int(rng.integers(1, 10)), replace=False))
        occ = [
            (d, f, p)
            for d in docs
            for f in sorted(rng.choice([1, 2, 3], int(rng.integers(1, 4)), replace=False))
            for p in np.sort(rng.choice(np.arange(1, 80), int(rng.integers(1, 7)), replace=False))
        ]
        a = np.array(occ, dtype=np.int64)
        out.append((f"t{i % 7}", a[:, 0], a[:, 1], a[:, 2]))
    return out


def _encode(blocks, encode_blocks):
    """The blocks' (terms, payloads) as Arrow arrays, all payloads from
    one batched encoder call."""
    sizes = [len(b[1]) for b in blocks]
    offsets, data = encode_blocks(
        *(np.concatenate([b[i] for b in blocks]) for i in (1, 2, 3)),
        np.cumsum(sizes) - sizes,
    )
    payloads = pa.Array.from_buffers(
        pa.binary(),
        len(blocks),
        [None, pa.py_buffer(offsets.astype(np.int32)), pa.py_buffer(data)],
    )
    return pa.array([b[0] for b in blocks], type=pa.string()), payloads


def _reference(terms, payloads, decode_block, min_doc):
    rows = []
    for term, payload in zip(terms.to_pylist(), payloads.to_pylist()):
        docs, fields, pos = decode_block(payload)
        for d, f in dict.fromkeys(zip(docs.tolist(), fields.tolist())):
            if min_doc is not None and d < min_doc:
                continue
            p = pos[(docs == d) & (fields == f)].tolist()
            rows.append(
                {"term": term, "doc_id": d, "field_id": f, "positions": p, "tf": len(p)}
            )
    return rows


@pytest.mark.parametrize("min_doc", [None, MIN_DOC])
@pytest.mark.parametrize("codec_name", sorted(CODECS))
def test_decode_postings_matches_per_block_reference(codec_name, min_doc):
    encode_blocks, decode_block = CODECS[codec_name]
    blocks = _blocks(np.random.default_rng(23))
    terms, payloads = _encode(blocks, encode_blocks)
    got = decode_postings(terms, payloads, codec_name, min_doc)
    assert got.schema.types == [
        pa.string(), pa.int64(), pa.int32(), pa.list_(pa.int32()), pa.int32()
    ]
    want = _reference(terms, payloads, decode_block, min_doc)
    assert got.to_pylist() == want and want
    # the shapes that matter are really there: multi-field docs,
    # adjacent blocks sharing a (doc, field) key above min_doc, blocks
    # wholly below min_doc, and blocks the seek cuts inside
    assert any(len(np.unique(b[2])) > 1 for b in blocks)
    assert any(r["doc_id"] >= MIN_DOC for r in want if r["term"].startswith("u"))
    assert any(b[1][-1] < MIN_DOC for b in blocks)
    assert any(b[1][0] < MIN_DOC <= b[1][-1] for b in blocks)


@pytest.mark.parametrize("codec_name", sorted(CODECS))
def test_decode_postings_empty_results(codec_name):
    """No blocks, or every block below min_doc: an empty batch of the
    posting columns."""
    encode_blocks, _ = CODECS[codec_name]
    below = [b for b in _blocks(np.random.default_rng(5)) if b[1][-1] < MIN_DOC]
    assert below
    for terms, payloads in (
        (pa.array([], type=pa.string()), pa.array([], type=pa.binary())),
        _encode(below, encode_blocks),
    ):
        got = decode_postings(terms, payloads, codec_name, MIN_DOC)
        assert got.num_rows == 0
        assert got.schema.names == ["term", "doc_id", "field_id", "positions", "tf"]
