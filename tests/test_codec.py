"""Codec round-trip + property tests (reference test model: SURVEY §5)."""

import numpy as np
from hypothesis import given, settings, strategies as st

from fulltextsearch_spark.operators import codec


def test_varint_known_values():
    vals = np.array([0, 1, 127, 128, 300, 2**32, 2**63], dtype=np.uint64)
    buf = codec.varint_encode(vals)
    out = codec.varint_decode(buf)
    assert out.tolist() == vals.tolist()
    # single-byte values stay single-byte (LEB128)
    assert len(codec.varint_encode(np.array([5], dtype=np.uint64))) == 1
    assert codec.varint_encode(np.array([300], dtype=np.uint64)) == b"\xac\x02"


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=2**63 - 1), min_size=0, max_size=500
    )
)
def test_varint_roundtrip(values):
    a = np.array(values, dtype=np.uint64)
    assert codec.varint_decode(codec.varint_encode(a)).tolist() == values


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=10**9),  # doc
            st.integers(min_value=1, max_value=5),  # field
            st.integers(min_value=1, max_value=10**6),  # pos
        ),
        min_size=1,
        max_size=400,
        unique=True,
    )
)
def test_block_roundtrip(occs):
    occs = sorted(occs)
    d = np.array([o[0] for o in occs], dtype=np.int64)
    f = np.array([o[1] for o in occs], dtype=np.int64)
    p = np.array([o[2] for o in occs], dtype=np.int64)
    for enc, dec in (
        (codec.encode_block, codec.decode_block),
        (codec.encode_block_gv, codec.decode_block_gv),
        (codec.encode_block_packed, codec.decode_block_packed),
        (codec.encode_block_binary, codec.decode_block_binary),
    ):
        payload = enc(d, f, p)
        dd, ff, pp = dec(payload)
        assert dd.tolist() == d.tolist()
        assert ff.tolist() == f.tolist()
        assert pp.tolist() == p.tolist()


def test_lower_bound_seek():
    d = np.arange(1, 1001, dtype=np.int64)
    f = np.ones(1000, dtype=np.int64)
    p = np.ones(1000, dtype=np.int64)
    payload = codec.encode_block(d, f, p)
    dd, _, _ = codec.decode_block_lower_bound(payload, 500)
    assert dd[0] == 500 and len(dd) == 501


def test_compression_beats_raw():
    # dense doc ids delta-compress far below 24 bytes/occurrence
    d = np.arange(1, 5001, dtype=np.int64)
    f = np.ones(5000, dtype=np.int64)
    p = np.ones(5000, dtype=np.int64)
    payload = codec.encode_block(d, f, p)
    assert len(payload) < 5000 * 4


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.lists(
            st.tuples(
                st.integers(min_value=1, max_value=2**31),  # doc
                st.integers(min_value=1, max_value=4),  # field
                st.integers(min_value=1, max_value=10**6),  # pos
            ),
            min_size=1,
            max_size=60,
            unique=True,
        ),
        min_size=1,
        max_size=12,
    )
)
def test_batched_encoders_equal_single_block(blocks):
    """Each batched encoder's payload i is byte-equal to its single-block
    encoder on block i (the delta streams restart at every block)."""
    blocks = [sorted(b) for b in blocks]
    lens = [len(b) for b in blocks]
    occ = np.array([o for b in blocks for o in b], dtype=np.int64)
    starts = np.cumsum(lens) - lens
    for batched, single in (
        (codec.encode_blocks, codec.encode_block),
        (codec.encode_blocks_gv, codec.encode_block_gv),
        (codec.encode_blocks_packed, codec.encode_block_packed),
        (codec.encode_blocks_binary, codec.encode_block_binary),
    ):
        offsets, data = batched(occ[:, 0], occ[:, 1], occ[:, 2], starts)
        assert len(offsets) == len(blocks) + 1
        for i, b in enumerate(blocks):
            a = np.array(b, dtype=np.int64)
            want = single(a[:, 0], a[:, 1], a[:, 2])
            assert data[offsets[i] : offsets[i + 1]].tobytes() == want


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.lists(st.integers(min_value=1, max_value=10**7), max_size=40),
        min_size=1,
        max_size=12,
    )
)
def test_positions_payloads_roundtrip(vectors):
    """Batched position-vector payloads: varint([len, v0, v1 - v0, …])
    per vector; decoding a batch (stripped empty payloads mixed in)
    returns every vector."""
    vectors = [sorted(v) for v in vectors]
    lens = np.array([len(v) for v in vectors], dtype=np.int64)
    flat = np.array([x for v in vectors for x in v], dtype=np.int64)
    offsets, data = codec.encode_positions_payloads(flat, lens)
    for i, v in enumerate(vectors):
        want = codec.varint_encode(
            np.array([len(v), *np.diff(v, prepend=0)], dtype=np.uint64)
        )
        assert data[offsets[i] : offsets[i + 1]].tobytes() == want
    # interleave an empty (stripped) payload after every vector
    parts = [data[offsets[i] : offsets[i + 1]] for i in range(len(vectors))]
    both = np.concatenate([x for p in parts for x in (p, p[:0])])
    sizes = [s for p in parts for s in (len(p), 0)]
    out_lens, out_flat = codec.decode_positions_payloads(
        np.concatenate(([0], np.cumsum(sizes))), both
    )
    assert out_lens.tolist() == [x for n in lens.tolist() for x in (n, 0)]
    assert out_flat.tolist() == flat.tolist()
