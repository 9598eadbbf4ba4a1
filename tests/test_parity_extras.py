"""Parity extras: group-varint golden, compound multi-field docs,
display helpers, tokenizer property test vs a naive FSM."""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from fulltextsearch_spark.operators.groupvarint import (
    groupvarint_decode,
    groupvarint_encode,
)


def test_groupvarint_reference_golden():
    # GroupVarIntTests.cs:6-11: [80, 320, 31, 255] ⇒
    # 00010000 01010000 00000001 01000000 00011111 11111111
    buf = groupvarint_encode([80, 320, 31, 255])
    bits = " ".join(f"{b:08b}" for b in buf)
    assert bits == "00010000 01010000 00000001 01000000 00011111 11111111"
    assert groupvarint_decode(buf, 4).tolist() == [80, 320, 31, 255]


@settings(max_examples=100, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**32 - 1), max_size=300))
def test_groupvarint_roundtrip(values):
    buf = groupvarint_encode(values)
    assert groupvarint_decode(buf, len(values)).tolist() == values


# --- naive reference-FSM tokenizer for property comparison -------------

def _naive_tokenize(text: str, max_token: int = 64):
    import unicodedata

    b = text.encode("utf-16-le")
    units = [b[i : i + 2].decode("utf-16-le", "surrogatepass") for i in range(0, len(b), 2)]

    def is_token_char(u):
        cp = ord(u)
        if 0xD800 <= cp <= 0xDFFF:
            return False
        cat = unicodedata.category(u)
        return cat in {"Lu", "Ll", "Lt", "Lm", "Lo", "Nd"} or u in "-_"

    toks, start, buf = [], -1, []
    for i, u in enumerate(units):
        if is_token_char(u):
            if start < 0:
                start = i
            if len(buf) < max_token:
                lo = u.lower()
                buf.append(lo if len(lo) == 1 and ord(lo) < 0x10000 else u)
        else:
            if start >= 0:
                toks.append(("".join(buf), start, i - start))
                start, buf = -1, []
    if start >= 0:
        toks.append(("".join(buf), start, len(units) - start))
    return toks


# random Unicode (non-BMP included), and texts holding a run of token
# chars longer than the 64-unit truncation
_TEXTS = st.one_of(
    st.text(max_size=200),
    st.builds(
        lambda a, ch, n, b: a + ch * n + b,
        st.text(max_size=20),
        st.sampled_from("xЖ数_9İß"),
        st.integers(min_value=60, max_value=140),
        st.text(max_size=20),
    ),
)


@settings(max_examples=300, deadline=None)
@given(_TEXTS, st.lists(st.one_of(st.none(), _TEXTS), max_size=8))
def test_tokenizer_matches_naive_fsm(text, batch):
    """tokenize_text on one text, and tokenize_batch on a batch of
    texts and Nones, give the naive FSM's tokens doc by doc."""
    from fulltextsearch_spark.functions.tokenizer import tokenize_batch, tokenize_text

    terms, offs, lens = tokenize_text(text)
    got = list(zip(terms, offs.tolist(), lens.tolist()))
    assert got == _naive_tokenize(text)

    tb = tokenize_batch(batch)
    want = [_naive_tokenize(t or "") for t in batch]
    assert tb.counts.tolist() == [len(w) for w in want]
    got = list(zip(tb.terms.take(tb.codes).to_pylist(), tb.offs.tolist(), tb.lens.tolist()))
    assert got == [tok for w in want for tok in w]


def _compound_index(spark, root, rows):
    """A persistent two-field (title, body) index over (doc_id, title,
    body) rows."""
    from fulltextsearch_spark.sources.index_io import Index, build_index

    docs = spark.createDataFrame(rows, "doc_id long, title string, body string")
    build_index(
        spark, docs, root, field_cols=["title", "body"], preassigned_ids=True
    )
    return Index.open(spark, root)


def test_compound_docs_fields(spark, tmp_path):
    idx = _compound_index(
        spark,
        str(tmp_path / "compound"),
        [(1, "alpha beta", "gamma alpha"), (2, "beta", "delta epsilon")],
    )

    def postings(term):
        return {
            (r["doc_id"], r["field_id"]): list(r["positions"])
            for r in idx.postings(exact_terms=[term]).collect()
        }

    # one posting per (doc, field)
    assert postings("alpha") == {(1, 1): [1], (1, 2): [2]}
    assert postings("beta") == {(1, 1): [2], (2, 1): [1]}
    # positions restart per field (FullTextIndexBuilder.cs:100-111)
    assert postings("gamma") == {(1, 2): [1]}
    assert postings("delta") == {(2, 2): [1]}


def test_phrase_does_not_cross_fields(spark, tmp_path):
    """SEQ adjacency requires same (doc, field): 'beta gamma' spans the
    title/body boundary of doc 1 and must not match."""
    from fulltextsearch_spark.plans.planner import matches_to_string

    idx = _compound_index(
        spark,
        str(tmp_path / "phrase"),
        [(1, "alpha beta", "gamma delta"), (2, "beta gamma", "x")],
    )
    got = matches_to_string(idx.search("SEQ(WORD(beta),WORD(gamma))"))
    assert got == "{[2,1,1], [2,1,2]}"


def test_unicode_corpus_engine_matches_oracle(spark):
    """Non-ASCII corpus through the full index+query path vs oracle
    (tokenizer hard-part check at index level, SURVEY §7)."""
    from fulltextsearch_spark.operators import build as B
    from fulltextsearch_spark.oracle.pyoracle import corpus_oracle
    from fulltextsearch_spark.plans.planner import matches_to_string
    from fulltextsearch_spark.sources.memory_index import MemoryIndex

    texts = {
        1: "Café МИР приветствует 世界 123",
        2: "café society: cafe vs café",
        3: "ΑΒΓ αβγ Straße STRASSE \U0001f600 emoji-break",
    }
    docs = spark.createDataFrame(
        [(d, t) for d, t in texts.items()], "doc_id long, text string"
    )
    idx = MemoryIndex.from_docs_table(spark, docs)
    oracle = corpus_oracle(texts)
    for q in [
        "WORD(café)",
        "WORD(мир)",
        "WILD(caf*)",
        "EDIT(cafe,1)",
        "OR(WORD(αβγ),WORD(straße))",
        "SEQ(WORD(café),WORD(мир))",
    ]:
        assert matches_to_string(idx.search(q)) == oracle.search(q), q


def test_annotate_and_token_at_offset():
    from fulltextsearch_spark.operators.display import annotate_text, token_at_offset
    from fulltextsearch_spark.functions.tokenizer import tokenize_text

    text = "Hello brave World!"
    terms, offs, lens = tokenize_text(text)
    spans = [(int(offs[i]), int(lens[i])) for i, t in enumerate(terms) if t == "world"]
    assert annotate_text(text, spans) == "Hello brave WORLD!"

    # flat even/odd positions vector (B2): off+1, off+1+len
    flat = []
    for o, ln in zip(offs.tolist(), lens.tolist()):
        flat += [o + 1, o + 1 + ln]
    assert token_at_offset(flat, 0) == 1
    assert token_at_offset(flat, 6) == 2
    assert token_at_offset(flat, 12) == 3
    assert token_at_offset(flat, 17) is None  # '!' not inside a token
