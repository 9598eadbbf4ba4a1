"""Codec micro-benchmark — the reference's `benchmark` verb analog
(ConsoleUtil/Program.cs:122-206 prints posting-codec timings to the
console; SURVEY.md §2.D17). Pure numpy, no Spark: measures the
single-block payload codecs (`codec.encode_block*`, which the build's
batched `codec.encode_blocks*` entry points match byte for byte) and
the decoders as `decode_blocks` calls them.

Per mode {blocks (delta+varint), groupvarint, packedints, binary}:
  encode MB/s, full-scan decode MB/s (of raw occurrence bytes),
  LowerBound seek (decode + searchsorted) µs/block, payload
  bytes/occurrence.

Workload: a deterministic Zipf-ish posting list split into 4096-occ
blocks — the layout the index actually writes.

Run: python bench/codec_bench.py  → markdown table on stdout
     (results recorded in BENCH/BASELINE.md §codec)
"""

from __future__ import annotations

import sys
import time

import numpy as np

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from fulltextsearch_spark.operators import codec as C  # noqa: E402

MODES = {
    "blocks (delta+varint)": (C.encode_block, C.decode_block),
    "groupvarint": (C.encode_block_gv, C.decode_block_gv),
    "packedints": (C.encode_block_packed, C.decode_block_packed),
    "binary": (C.encode_block_binary, C.decode_block_binary),
}
BLOCK_OCC = 4096
N_OCC = 2_000_000
REPS = 3


def make_blocks() -> list[tuple[np.ndarray, np.ndarray, np.ndarray]]:
    rng = np.random.default_rng(42)
    # doc gaps ~ geometric (df ~ N/3), tf per doc ~ 1 + poisson
    n_docs = N_OCC // 3
    gaps = rng.geometric(1 / 3, n_docs).astype(np.int64)
    docs_u = np.cumsum(gaps)
    tf = (1 + rng.poisson(2.0, n_docs)).astype(np.int64)
    docs = np.repeat(docs_u, tf)
    n = len(docs)
    fields = np.ones(n, dtype=np.int64)
    # positions ascending within each doc: cumsum of small gaps, reset
    # at doc starts (vectorized via the grouped-cumsum helper)
    pgaps = rng.integers(1, 12, n).astype(np.int64)
    new_doc = np.empty(n, dtype=bool)
    new_doc[0] = True
    new_doc[1:] = docs[1:] != docs[:-1]
    pos = C._grouped_cumsum(pgaps, new_doc)
    out = []
    for s in range(0, n, BLOCK_OCC):
        e = min(s + BLOCK_OCC, n)
        out.append((docs[s:e], fields[s:e], pos[s:e]))
    return out


def main() -> None:
    blocks = make_blocks()
    n_occ = sum(len(b[0]) for b in blocks)
    raw_bytes = n_occ * 16  # (doc int64, field int32, pos int32)
    print(
        f"| mode | encode MB/s | decode MB/s | seek µs/blk |"
        f" bytes/occ | ratio vs binary |"
    )
    print("|---|---|---|---|---|---|")
    rows = {}
    for name, (enc, dec) in MODES.items():
        best_enc = best_dec = best_seek = float("inf")
        payloads = None
        for _ in range(REPS):
            t0 = time.perf_counter()
            payloads = [enc(d, f, p) for d, f, p in blocks]
            best_enc = min(best_enc, time.perf_counter() - t0)
            t0 = time.perf_counter()
            for pl in payloads:
                dec(pl)
            best_dec = min(best_dec, time.perf_counter() - t0)
            # LowerBound: decode + in-block binary search to a target
            t0 = time.perf_counter()
            for pl, (d, _, _) in zip(payloads, blocks):
                docs, _, _ = dec(pl)
                np.searchsorted(docs, int(d[len(d) // 2]))
            best_seek = min(best_seek, time.perf_counter() - t0)
        nbytes = sum(len(p) for p in payloads)
        rows[name] = nbytes
        print(
            f"| {name} | {raw_bytes / best_enc / 1e6:.0f} "
            f"| {raw_bytes / best_dec / 1e6:.0f} "
            f"| {best_seek / len(blocks) * 1e6:.0f} "
            f"| {nbytes / n_occ:.2f} "
            f"| {nbytes / raw_bytes * 100:.0f}% of raw |"
        )


if __name__ == "__main__":
    main()
