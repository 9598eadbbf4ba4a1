"""Stored block bytes are pinned.

A fixed synthetic corpus is built in each of the four block codecs, in
three shapes (single field with sparse preassigned ids that span
several doc groups, two fields, and ``keep_positions=False``), and a
digest of the sorted block rows — every column, payload included — is
compared with a digest recorded from the per-group block encoder that
the batch-columnar one replaced. Any change to block boundaries,
metadata, impact frontiers or payload bytes fails here.
"""

import hashlib
import os

import numpy as np
import pytest

from fulltextsearch_spark.operators.build import BLOCK_MAX_OCC, MAX_IMPACTS
from fulltextsearch_spark.sources.index_io import BLOCK_MODES, build_index

CODECS = ("blocks", "groupvarint", "packedints", "binary")
SHAPES = ("single", "two_field", "no_positions")

EXPECTED = {
    ("blocks", "single"): "2577:fe6cf1ccee3a530d5ef7261c",
    ("blocks", "two_field"): "1605:de63370e07662f33b5f512dc",
    ("blocks", "no_positions"): "1005:32e6c62aa5d4c18e880d090d",
    ("groupvarint", "single"): "2577:b0107c1adb5710fc5a0839c2",
    ("groupvarint", "two_field"): "1605:d0ea020e4dd745c24a6e1eaa",
    ("groupvarint", "no_positions"): "1005:39c43c8e0102c2b0975e5330",
    ("packedints", "single"): "2577:b22062c14f4d5ca4ac092bdb",
    ("packedints", "two_field"): "1605:c811cfdad7ff78d93089f88f",
    ("packedints", "no_positions"): "1005:ef574ac5d758bd1be055c62c",
    ("binary", "single"): "2577:310a6d60c248a676aa74c520",
    ("binary", "two_field"): "1605:8a63f0a39a562dba8cc92347",
    ("binary", "no_positions"): "1005:edb9cbf50d68b4168e0b0d5a",
}

N_DOCS = 600
# sparse preassigned ids: 600 docs over ~18M ids = 5 doc groups
ID_STRIDE = 30011


def _corpus():
    """Zipf-ish texts whose hot term "t0" fills several blocks, plus one
    document with more than BLOCK_MAX_OCC occurrences of "t0" and a run
    of documents with a long (tf, dl) frontier."""
    rng = np.random.default_rng(5)
    vocab = 400
    w = 1.0 / np.arange(1, vocab + 1)
    w /= w.sum()

    def text(lo, hi):
        return " ".join(
            f"t{int(t)}" for t in rng.choice(vocab, int(rng.integers(lo, hi)), p=w)
        )

    rows = [(f"d{i:05d}", text(4, 12), text(40, 200)) for i in range(N_DOCS)]
    # docs 10..49: "t0" k times in a doc of length k + 3, so no such doc
    # dominates another and their block's impact frontier needs collapsing
    for k, i in enumerate(range(10, 50), start=1):
        rows[i] = (rows[i][0], "t3", " ".join(["t0"] * k + ["t1", "t2"]))
    rows[N_DOCS // 2] = (
        rows[N_DOCS // 2][0],
        rows[N_DOCS // 2][1],
        " ".join(["t0"] * (BLOCK_MAX_OCC + 900) + ["t1", "t2"]),
    )
    return rows


def _digest(spark, root: str) -> tuple[str, list]:
    rows = spark.read.parquet(os.path.join(root, "seg_00001", "blocks")).collect()
    key = [
        (
            r["bucket"], r["term"], r["doc_grp"], r["block_no"], r["first_doc"],
            r["last_doc"], r["n_occ"], r["n_docs"], r["max_tf"],
            tuple(r["imp_tf"]), tuple(r["imp_dl"]), bytes(r["payload"]),
        )
        for r in rows
    ]
    h = hashlib.sha256()
    for t in sorted(key):
        h.update(repr(t).encode())
    return f"{len(key)}:{h.hexdigest()[:24]}", rows


@pytest.fixture(scope="module")
def digests(spark, tmp_path_factory):
    assert set(CODECS) <= set(BLOCK_MODES)
    rows = _corpus()
    single = spark.createDataFrame(
        [(1 + i * ID_STRIDE, url, f"{title} {body}") for i, (url, title, body) in enumerate(rows)],
        "doc_id long, url string, text string",
    )
    two = spark.createDataFrame(rows, "url string, title string, body string")
    flat = two.selectExpr("url", "concat_ws(' ', title, body) AS text")
    out = {}
    for codec in CODECS:
        for shape in SHAPES:
            root = str(tmp_path_factory.mktemp(f"bytes_{codec}_{shape}"))
            if shape == "single":
                build_index(spark, single, root, mode=codec, preassigned_ids=True)
            elif shape == "two_field":
                build_index(spark, two, root, mode=codec, field_cols=["title", "body"])
            else:
                build_index(spark, flat, root, mode=codec, keep_positions=False)
            out[codec, shape], rows = _digest(spark, root)
            if (codec, shape) == ("blocks", "single"):
                out["rows"] = rows
    return out


@pytest.mark.parametrize("shape", SHAPES)
@pytest.mark.parametrize("codec", CODECS)
def test_block_rows_match_recorded_digest(digests, codec, shape):
    assert digests[codec, shape] == EXPECTED[codec, shape]


def test_corpus_reaches_every_cut_rule(digests):
    """The pinned corpus exercises multi-block groups, an oversized
    single-doc block, several doc groups per term and collapsed impact
    frontiers — otherwise the digests would not pin those rules."""
    t0 = [r for r in digests["rows"] if r["term"] == "t0"]
    assert len({r["doc_grp"] for r in t0}) >= 4
    assert max(r["block_no"] for r in t0) >= 1
    assert any(r["n_docs"] == 1 and r["n_occ"] > BLOCK_MAX_OCC for r in t0)
    assert any(len(r["imp_tf"]) == MAX_IMPACTS for r in t0)
