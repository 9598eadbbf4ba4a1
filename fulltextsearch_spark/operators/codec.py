"""Delta + varint posting-block codec (numpy-vectorized).

Plays the role of the reference's primary `VarIntCompressed` codec
(Persistent/PostingListVarIntDeltaWriter.cs:8-33 — LEB128 varint deltas
in fixed self-contained blocks, each block independently decodable and
binary-searchable). Our layout is columnar instead of interleaved
per-occurrence cases, because numpy encodes/decodes whole columns at
once; the *capability* (block-granular skip via (first_doc, last_doc)
metadata, SURVEY.md §4.2) is the same.

Block payload layout (all LEB128 varints):

    varint(n)                          number of occurrences
    varint[n]  doc deltas              ddoc[0] = doc[0] (full value)
    varint[n]  field values/deltas     full at doc boundary, else delta
    varint[n]  pos values/deltas       full at (doc,field) boundary, else delta

Occurrences are (doc, field, pos) int64, strictly increasing in
lexicographic order — the reference's total occurrence order
(IndexModels/Occurrence.cs:80-95).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

_MAX_VARINT_BYTES = 10


def prefix(widths) -> np.ndarray:
    """0, then the running sums of ``widths`` (int64): the offsets of
    values laid back to back."""
    at = np.zeros(len(widths) + 1, dtype=np.int64)
    np.cumsum(widths, out=at[1:])
    return at


def binary_buffers(arr) -> tuple[np.ndarray, np.ndarray]:
    """(int64 offsets from 0, uint8 data) of an Arrow (large) binary or
    string array, zero-copy: value i is data[offsets[i]:offsets[i+1]]."""
    bufs = arr.buffers()
    large = pa.types.is_large_binary(arr.type) or pa.types.is_large_string(arr.type)
    width = 8 if large else 4
    offsets = np.frombuffer(
        bufs[1], dtype=f"<i{width}", count=len(arr) + 1, offset=arr.offset * width
    ).astype(np.int64)
    if bufs[2] is None:
        return offsets - offsets[0], np.empty(0, dtype=np.uint8)
    data = np.frombuffer(bufs[2], dtype=np.uint8)[offsets[0] : offsets[-1]]
    return offsets - offsets[0], data


def _varint_pack(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """LEB128-encode a uint64 array → (bytes as uint8, byte length of
    each value) — the per-value lengths locate every value's bytes."""
    a = values.astype(np.uint64, copy=False)
    n = len(a)
    nbytes = np.ones(n, dtype=np.int64)
    if n == 0:
        return np.empty(0, dtype=np.uint8), nbytes
    v = a >> np.uint64(7)
    while v.any():
        nbytes += v > 0
        v >>= np.uint64(7)
    ends = np.cumsum(nbytes)
    starts = ends - nbytes
    out = np.zeros(int(ends[-1]), dtype=np.uint8)
    for k in range(_MAX_VARINT_BYTES):
        mask = nbytes > k
        if not mask.any():
            break
        byte = (a[mask] >> np.uint64(7 * k)) & np.uint64(0x7F)
        cont = (nbytes[mask] - 1 > k).astype(np.uint8) << 7
        out[starts[mask] + k] = byte.astype(np.uint8) | cont
    return out, nbytes


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array (vectorized)."""
    return _varint_pack(values)[0].tobytes()


def varint_decode(buf: bytes | np.ndarray, count: int | None = None) -> np.ndarray:
    """Decode a LEB128 byte stream → uint64 array (vectorized)."""
    b = np.frombuffer(buf, dtype=np.uint8) if not isinstance(buf, np.ndarray) else buf
    if len(b) == 0:
        return np.empty(0, dtype=np.uint64)
    is_end = (b & 0x80) == 0
    # start of each varint = positions right after an end (plus position 0)
    starts = np.nonzero(np.concatenate(([True], is_end[:-1])))[0]
    pos_in = np.arange(len(b)) - np.repeat(starts, np.diff(np.append(starts, len(b))))
    parts = (b & 0x7F).astype(np.uint64) << (np.uint64(7) * pos_in.astype(np.uint64))
    vals = np.add.reduceat(parts, starts)
    if count is not None:
        vals = vals[:count]
    return vals


def _grouped_cumsum(deltas: np.ndarray, reset: np.ndarray) -> np.ndarray:
    """Cumulative sum of ``deltas`` that restarts where ``reset`` is True.

    reset[0] must be True and deltas[i] holds the full value at resets.
    """
    total = np.cumsum(deltas)
    seg_starts = np.nonzero(reset)[0]
    carry = total[seg_starts] - deltas[seg_starts]
    seg_id = np.cumsum(reset) - 1
    return total - carry[seg_id]


def _delta_streams(
    docs: np.ndarray,
    fields: np.ndarray,
    pos: np.ndarray,
    starts: np.ndarray | tuple = (0,),
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Occurrence columns → the three delta streams (shared by the
    varint and group-varint payload codecs). Every stream restarts at
    each index in ``starts`` (the block starts of a batched encode)."""
    n = len(docs)
    docs = docs.astype(np.int64)
    fields = fields.astype(np.int64)
    pos = pos.astype(np.int64)
    first = np.zeros(n, dtype=bool)
    first[np.asarray(starts, dtype=np.int64)] = True

    def prev(a):
        p = np.empty_like(a)
        p[0] = 0
        p[1:] = a[:-1]
        p[first] = 0
        return p

    ddoc = docs - prev(docs)
    new_doc = first | (ddoc > 0)
    dfield = np.where(new_doc, fields, fields - prev(fields))
    new_df = new_doc | (dfield > 0)
    dpos = np.where(new_df, pos, pos - prev(pos))
    return ddoc, dfield, dpos


def _reconstruct(
    ddoc: np.ndarray, dfield: np.ndarray, dpos: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Inverse of :func:`_delta_streams`."""
    n = len(ddoc)
    docs = np.cumsum(ddoc)
    new_doc = np.empty(n, dtype=bool)
    new_doc[0] = True
    new_doc[1:] = ddoc[1:] > 0
    fields = _grouped_cumsum(dfield, new_doc)
    new_df = new_doc | (np.where(new_doc, False, dfield > 0))
    pos = _grouped_cumsum(dpos, new_df)
    return docs, fields, pos


def encode_block(docs: np.ndarray, fields: np.ndarray, pos: np.ndarray) -> bytes:
    """Encode one block of lexicographically-sorted occurrences."""
    n = len(docs)
    ddoc, dfield, dpos = _delta_streams(docs, fields, pos)
    header = varint_encode(np.array([n], dtype=np.uint64))
    return (
        header
        + varint_encode(ddoc.astype(np.uint64))
        + varint_encode(dfield.astype(np.uint64))
        + varint_encode(dpos.astype(np.uint64))
    )


def decode_block(payload: bytes) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode a block → (docs, fields, pos) int64 arrays."""
    all_vals = varint_decode(payload)
    n = int(all_vals[0])
    body = all_vals[1 : 1 + 3 * n].astype(np.int64)
    return _reconstruct(body[:n], body[n : 2 * n], body[2 * n :])


def encode_block_gv(docs: np.ndarray, fields: np.ndarray, pos: np.ndarray) -> bytes:
    """GroupVarint payload variant — same delta streams, encoded with
    the reference's 32-bit group-varint format (Common/GroupVarInt.cs:
    49-259, SURVEY.md §2.C6). Mirrors the reference codec's 32-bit
    value limit: the block's first doc id must fit uint32 (the primary
    varint codec has no such limit)."""
    from fulltextsearch_spark.operators.groupvarint import groupvarint_encode

    n = len(docs)
    ddoc, dfield, dpos = _delta_streams(docs, fields, pos)
    vals = np.concatenate(
        [np.array([n], dtype=np.int64), ddoc, dfield, dpos]
    ).astype(np.uint64)
    if (vals >> np.uint64(32)).any():
        raise OverflowError(
            "groupvarint mode is 32-bit (reference parity); doc ids/deltas "
            "exceed uint32 — use mode='blocks'"
        )
    return groupvarint_encode(vals)


def decode_block_gv(payload: bytes) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    from fulltextsearch_spark.operators.groupvarint import groupvarint_decode

    n = int(groupvarint_decode(payload, 1)[0])
    all_vals = groupvarint_decode(payload, 1 + 3 * n).astype(np.int64)
    body = all_vals[1:]
    return _reconstruct(body[:n], body[n : 2 * n], body[2 * n :])


def _pack_bits(vals: np.ndarray, bits: int) -> bytes:
    """Little-endian fixed-width bit packing (vectorized)."""
    if bits == 0:
        return b""
    v = vals.astype(np.uint64)
    m = ((v[:, None] >> np.arange(bits, dtype=np.uint64)) & np.uint64(1)).astype(
        np.uint8
    )
    return np.packbits(m.ravel(), bitorder="little").tobytes()


def _unpack_bits(buf: bytes, n: int, bits: int) -> np.ndarray:
    if bits == 0:
        return np.zeros(n, dtype=np.uint64)
    m = np.unpackbits(
        np.frombuffer(buf, dtype=np.uint8), count=n * bits, bitorder="little"
    ).reshape(n, bits).astype(np.uint64)
    return (m << np.arange(bits, dtype=np.uint64)).sum(axis=1)


def _read_varints(buf: bytes, count: int) -> tuple[list[int], int]:
    """Scalar LEB128 reader for small headers; returns (values, offset)."""
    vals, pos = [], 0
    for _ in range(count):
        v, shift = 0, 0
        while True:
            b = buf[pos]
            pos += 1
            v |= (b & 0x7F) << shift
            if not (b & 0x80):
                break
            shift += 7
        vals.append(v)
    return vals, pos


def encode_block_packed(
    docs: np.ndarray, fields: np.ndarray, pos: np.ndarray
) -> bytes:
    """PackedInts payload variant — same delta streams, each stored at
    its minimal fixed bit width (the reference's delta + packed-int
    posting codec, IndexTypes/Persistent/PostingListPackedIntDeltaWriter
    .cs:7-60 + Common/PackedInts.cs; capability parity, columnar
    layout). Header: varint [n, bits_doc, bits_field, bits_pos]."""
    n = len(docs)
    ddoc, dfield, dpos = _delta_streams(docs, fields, pos)
    streams = [s.astype(np.uint64) for s in (ddoc, dfield, dpos)]
    widths = [int(int(s.max()).bit_length()) if n else 0 for s in streams]
    header = varint_encode(
        np.array([n, *widths], dtype=np.uint64)
    )
    return header + b"".join(
        _pack_bits(s, w) for s, w in zip(streams, widths)
    )


def decode_block_packed(payload: bytes) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    (n, wd, wf, wp), off = _read_varints(payload, 4)
    out = []
    for w in (wd, wf, wp):
        nbytes = (n * w + 7) // 8
        out.append(_unpack_bits(payload[off : off + nbytes], n, w).astype(np.int64))
        off += nbytes
    return _reconstruct(out[0], out[1], out[2])


def encode_block_binary(
    docs: np.ndarray, fields: np.ndarray, pos: np.ndarray
) -> bytes:
    """Binary payload variant — uncompressed little-endian occurrence
    triplets, the reference's plain Binary posting serializer
    (IndexTypes/Persistent/PostingListBinaryWriter.cs:10-127; capability
    parity, columnar int32 fields/pos + int64 docs). The debug/baseline
    codec of the matrix: fastest encode, largest payload."""
    n = len(docs)
    header = varint_encode(np.array([n], dtype=np.uint64))
    return (
        header
        + docs.astype("<i8").tobytes()
        + fields.astype("<i4").tobytes()
        + pos.astype("<i4").tobytes()
    )


def decode_block_binary(payload: bytes) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    (n,), off = _read_varints(payload, 1)
    docs = np.frombuffer(payload, dtype="<i8", count=n, offset=off)
    off += 8 * n
    fields = np.frombuffer(payload, dtype="<i4", count=n, offset=off)
    off += 4 * n
    pos = np.frombuffer(payload, dtype="<i4", count=n, offset=off)
    return docs.astype(np.int64), fields.astype(np.int64), pos.astype(np.int64)


# ---------------------------------------------------------------------------
# Batched encoders: one call encodes many blocks. ``docs``/``fields``/
# ``pos`` hold the occurrences of all blocks back to back and block i is
# [starts[i], starts[i+1]) (the last block runs to the end). Each returns
# (offsets, data): payload i is data[offsets[i]:offsets[i+1]], byte-equal
# to the single-block encoder's output for that block.


def _block_layout(starts: np.ndarray, n_occ: int):
    """Block lengths, each occurrence's block and its index within it."""
    starts = np.asarray(starts, dtype=np.int64)
    lens = np.diff(np.append(starts, n_occ))
    blk = np.repeat(np.arange(len(starts), dtype=np.int64), lens)
    return starts, lens, blk, np.arange(n_occ, dtype=np.int64) - starts[blk]


def encode_blocks(docs, fields, pos, starts) -> tuple[np.ndarray, np.ndarray]:
    """Batched :func:`encode_block`: every block's [n, ddoc…, dfield…,
    dpos…] values laid out in one array and varint-encoded once."""
    starts, lens, blk, k = _block_layout(starts, len(docs))
    ddoc, dfield, dpos = _delta_streams(docs, fields, pos, starts)
    head = np.arange(len(starts), dtype=np.int64) + 3 * starts
    vals = np.empty(len(starts) + 3 * len(docs), dtype=np.uint64)
    vals[head] = lens
    at = head[blk] + 1 + k
    vals[at] = ddoc
    at += lens[blk]
    vals[at] = dfield
    at += lens[blk]
    vals[at] = dpos
    data, nbytes = _varint_pack(vals)
    ends = np.cumsum(nbytes)
    return np.append(ends[head] - nbytes[head], len(data)), data


def _place(out: np.ndarray, src: np.ndarray, lens: np.ndarray, dst: np.ndarray):
    """Copy ``src`` — segments of ``lens`` elements back to back — into
    the byte buffer ``out``, segment i starting at byte ``dst[i]``, in
    the elements' little-endian byte order."""
    size = src.dtype.itemsize
    b = src.view(np.uint8).reshape(len(src), size)
    seg_start = np.cumsum(lens) - lens
    at = np.repeat(dst - seg_start * size, lens) + np.arange(
        len(src), dtype=np.int64
    ) * size
    for j in range(size):
        out[at + j] = b[:, j]


def encode_blocks_binary(
    docs, fields, pos, starts
) -> tuple[np.ndarray, np.ndarray]:
    """Batched :func:`encode_block_binary`."""
    starts, lens, _, _ = _block_layout(starts, len(docs))
    head, head_len = _varint_pack(lens)
    offsets = prefix(head_len + 16 * lens)
    out = np.empty(int(offsets[-1]), dtype=np.uint8)
    _place(out, head, head_len, offsets[:-1])
    at = offsets[:-1] + head_len
    _place(out, np.asarray(docs).astype("<i8"), lens, at)
    _place(out, np.asarray(fields).astype("<i4"), lens, at + 8 * lens)
    _place(out, np.asarray(pos).astype("<i4"), lens, at + 12 * lens)
    return offsets, out


def _encode_each(encode_one):
    """Batched form of a single-block encoder that loops over the
    blocks (groupvarint, packedints: their per-block bytes and 32-bit
    overflow errors stay those of the single-block encoder)."""

    def encode(docs, fields, pos, starts):
        starts = np.asarray(starts, dtype=np.int64)
        ends = np.append(starts[1:], len(docs))
        parts = [
            encode_one(docs[s:e], fields[s:e], pos[s:e])
            for s, e in zip(starts.tolist(), ends.tolist())
        ]
        offsets = prefix([len(p) for p in parts])
        return offsets, np.frombuffer(b"".join(parts), dtype=np.uint8)

    return encode


encode_blocks_gv = _encode_each(encode_block_gv)
encode_blocks_packed = _encode_each(encode_block_packed)


def encode_positions_payloads(
    flat: np.ndarray, lens: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Delta+varint for monotone non-decreasing int vectors — the
    per-document flat (off+1, off+1+len) position vectors carried as
    sentinel rows in the blocks table (C10 analog: the reference's
    delta-compressed monotone position list). ``flat`` holds the vectors
    back to back, vector i of ``lens[i]`` values; payload i is
    varint([len, v0, v1 - v0, …]) at data[offsets[i]:offsets[i+1]]."""
    lens = np.asarray(lens, dtype=np.int64)
    starts = np.cumsum(lens) - lens
    a = np.asarray(flat, dtype=np.int64)
    d = np.diff(a, prepend=np.int64(0))
    d[starts[lens > 0]] = a[starts[lens > 0]]
    head = np.arange(len(lens), dtype=np.int64) + starts
    vals = np.empty(len(lens) + len(a), dtype=np.uint64)
    vals[head] = lens
    body = np.ones(len(vals), dtype=bool)
    body[head] = False
    vals[body] = d
    data, nbytes = _varint_pack(vals)
    ends = np.cumsum(nbytes)
    return np.append(ends[head] - nbytes[head], len(data)), data


def decode_positions_payloads(
    offsets: np.ndarray, data: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of :func:`encode_positions_payloads` over a whole batch:
    payload i is data[offsets[i]:offsets[i+1]] → (vector lengths, flat
    vectors back to back), one varint decode for all payloads. An empty
    payload (stripped: keep_positions=False builds keep the sentinel
    METADATA — n_occ still yields dl — but no vector) decodes to an
    empty vector."""
    offsets = np.asarray(offsets, dtype=np.int64)
    b = data[offsets[0] : offsets[-1]]
    vals = varint_decode(b).astype(np.int64)
    # values before each payload = varint terminators before its start
    ends_before = np.concatenate(([0], np.cumsum((b & 0x80) == 0)))
    head = ends_before[offsets[:-1] - offsets[0]]
    lens = np.zeros(len(head), dtype=np.int64)
    has = offsets[1:] > offsets[:-1]
    lens[has] = vals[head[has]]
    seg = np.repeat(np.arange(len(lens)), lens)
    k = np.arange(len(seg), dtype=np.int64) - np.repeat(
        np.cumsum(lens) - lens, lens
    )
    if len(k) == 0:
        return lens, np.empty(0, dtype=np.int64)
    return lens, _grouped_cumsum(vals[head[seg] + 1 + k], k == 0)


def decode_block_lower_bound(
    payload: bytes, target_doc: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode then seek: first occurrence with doc >= target.

    The block-level skip (don't decode at all) happens upstream via the
    (first_doc, last_doc) columns — reference's ISkipList.LowerBound
    analog (SURVEY.md §2.D13).
    """
    docs, fields, pos = decode_block(payload)
    i = int(np.searchsorted(docs, target_doc, side="left"))
    return docs[i:], fields[i:], pos[i:]
