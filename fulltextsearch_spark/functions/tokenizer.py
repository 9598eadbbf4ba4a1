"""Vectorized tokenizer with the reference engine's exact semantics.

Semantics reproduced (reference: IndexTypes/Common/BasicTokenizer.cs:19-109,
SURVEY.md §2.B1):

- A token is a maximal run of *token characters*; token chars are
  ``char.IsLetterOrDigit(c)`` (Unicode categories Lu Ll Lt Lm Lo Nd)
  plus ``-`` and ``_`` (BasicTokenizer.cs:96-109).
- The tokenizer walks **UTF-16 code units** (C# ``char``); offsets and
  lengths are in UTF-16 units. Lone/paired surrogates are category Cs,
  i.e. separators — matching .NET, where a non-BMP character never
  joins a token.
- Each char is lowercased with the *simple* (1:1) case mapping
  (``char.ToLowerInvariant``, BasicTokenizer.cs:62). Where Python's
  full case mapping is not 1:1 (e.g. U+0130), the char is kept as-is;
  divergence is confined to those few codepoints.
- Token text is truncated at ``MAX_TOKEN_SIZE`` (=64,
  PersistentBuilder.cs:12) but the recorded length is the full run
  (BasicTokenizer.cs:60-68).
- Token positions are 1-based per (doc, field)
  (FullTextIndexBuilder.cs:100-111).

One kernel, ``tokenize_batch``, tokenizes a whole Arrow batch of texts
in a constant number of numpy passes over its UTF-16 code units, with
two 65536-entry lookup tables (token-char class, simple lowercase); the
batch's distinct terms come out as one Arrow string array. Every
tokenize caller is a view of it: ``tokenize_text`` (one document), the
Arrow UDFs below and the build's tokenize pass (operators/build.py).
"""

from __future__ import annotations

import unicodedata
from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from fulltextsearch_spark import MAX_TOKEN_SIZE
from fulltextsearch_spark.operators.codec import binary_buffers, prefix

_TOKEN_TABLE: np.ndarray | None = None
_LOWER_TABLE: np.ndarray | None = None

_LETTER_DIGIT_CATEGORIES = frozenset({"Lu", "Ll", "Lt", "Lm", "Lo", "Nd"})


def _tables() -> tuple[np.ndarray, np.ndarray]:
    """Build (lazily, once per process) the BMP lookup tables."""
    global _TOKEN_TABLE, _LOWER_TABLE
    if _TOKEN_TABLE is None:
        tok = np.zeros(0x10000, dtype=bool)
        low = np.arange(0x10000, dtype="<u2")
        for cp in range(0x10000):
            ch = chr(cp)
            cat = unicodedata.category(ch)
            if cat in _LETTER_DIGIT_CATEGORIES or ch in "-_":
                tok[cp] = True
            lo = ch.lower()
            if len(lo) == 1 and ord(lo) < 0x10000:
                low[cp] = ord(lo)
        _TOKEN_TABLE, _LOWER_TABLE = tok, low
    return _TOKEN_TABLE, _LOWER_TABLE


class TokenBatch(NamedTuple):
    """A batch's tokens, doc after doc: token i's term is
    ``terms[codes[i]]``, and doc j holds ``counts[j]`` tokens."""

    codes: np.ndarray  # int32 term code per token, in first-seen order
    terms: pa.Array  # pa.string(): the batch's distinct terms
    counts: np.ndarray  # int64 tokens per doc (0 for a None or "" text)
    offs: np.ndarray  # int64 UTF-16 start offset of each token in its doc
    lens: np.ndarray  # int64 full run length of each token, UTF-16 units

    def pos(self) -> np.ndarray:
        """1-based token id of each token within its doc (int64)."""
        pos = np.arange(1, len(self.codes) + 1)
        pos -= np.repeat(prefix(self.counts)[:-1], self.counts)
        return pos


def tokenize_batch(texts) -> TokenBatch:
    """Tokenize a batch of texts (an Arrow string array, or a sequence
    of ``str`` / None) → TokenBatch.

    The texts' UTF-8 bytes are decoded to UTF-16 units in one call;
    each text's unit offset follows from its code point count plus its
    4-byte (non-BMP, two-unit) characters. One mask pass finds every
    token run, cut at text starts so no token spans two docs; one mask
    keeps each run's first MAX_TOKEN_SIZE units, lowercased; one
    dictionary encode assigns term codes; the distinct terms alone go
    back to UTF-8, in one encode whose offsets come from each unit's
    1/2/3-byte width (tokens hold no surrogates). Work arrays are one
    or two bytes per unit; int64 arrays are per doc or per token."""
    if not isinstance(texts, pa.Array):
        texts = pa.array(texts, type=pa.string())
    texts = texts.fill_null("")
    offsets, data = binary_buffers(texts)
    wide = np.bincount(  # 4-byte characters per text
        np.searchsorted(offsets, np.flatnonzero(data >= 0xF0), "right") - 1,
        minlength=len(texts),
    )
    doc_at = prefix(pc.utf8_length(texts).to_numpy() + wide)
    u16 = np.frombuffer(str(data, "utf-8").encode("utf-16-le"), dtype="<u2")
    tok_table, low_table = _tables()
    mask = tok_table[u16]
    cut = np.zeros(len(u16) + 1, dtype=bool)  # cut[i]: a text starts at unit i
    cut[doc_at] = True
    m = np.zeros(len(u16) + 2, dtype=bool)
    m[1:-1] = mask
    starts = np.flatnonzero(mask & (~m[:-2] | cut[:-1]))
    lens = np.flatnonzero(mask & (~m[2:] | cut[1:])) + 1
    lens -= starts
    del cut, m  # free each per-unit work array once it is spent
    counts = np.diff(np.searchsorted(starts, doc_at))

    # over[i]: unit i lies past its token's first MAX_TOKEN_SIZE units
    # (the runs are disjoint, so the running sum stays 0/1)
    over = np.zeros(len(u16) + 1, dtype=np.int8)
    long = lens > MAX_TOKEN_SIZE
    over[starts[long] + MAX_TOKEN_SIZE] = 1
    over[starts[long] + lens[long]] = -1
    np.cumsum(over, dtype=np.int8, out=over)
    mask &= ~over[:-1].view(bool)
    lows = low_table[u16[mask]]
    del u16, mask, over
    kept_at = prefix(np.minimum(lens, MAX_TOKEN_SIZE))
    dic = pa.Array.from_buffers(
        pa.large_binary(), len(starts), [None, pa.py_buffer(2 * kept_at), pa.py_buffer(lows)]
    ).dictionary_encode()
    d_offsets, d_data = binary_buffers(dic.dictionary)
    d16 = d_data.view("<u2")
    utf8_at = prefix(1 + (d16 >= 0x80).astype(np.int64) + (d16 >= 0x800))
    terms = pa.Array.from_buffers(
        pa.string(),
        len(dic.dictionary),
        [
            None,
            pa.py_buffer(utf8_at[d_offsets // 2].astype(np.int32)),
            pa.py_buffer(str(d16, "utf-16-le").encode("utf-8")),
        ],
    )
    starts -= np.repeat(doc_at[:-1], counts)  # now offsets within each doc
    return TokenBatch(dic.indices.to_numpy(), terms, counts, starts, lens)


def tokenize_text(text: str | None) -> tuple[list[str], np.ndarray, np.ndarray]:
    """Tokenize one string → (terms, offsets, lengths): the one-document
    view of tokenize_batch.

    Offsets/lengths are in UTF-16 code units, exactly like the
    reference's ``ScopedToken(startOffset, length, buffer)``.
    """
    tb = tokenize_batch([text])
    return tb.terms.take(tb.codes).to_pylist(), tb.offs, tb.lens


TOKEN_STRUCT = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("pos", T.IntegerType(), False),  # 1-based token id
        T.StructField("off", T.IntegerType(), False),  # UTF-16 start offset
        T.StructField("len", T.IntegerType(), False),  # full run length
    ]
)
TOKENS_TYPE = T.ArrayType(TOKEN_STRUCT, False)
TERMS_TYPE = T.ArrayType(T.StringType(), False)


def _token_lists(tb: TokenBatch, values: pa.Array, list_type: T.DataType) -> pa.Array:
    """One list per doc of the batch, over per-token ``values``."""
    offsets = pa.array(prefix(tb.counts), type=pa.int32())
    return pa.ListArray.from_arrays(offsets, values, type=to_arrow_type(list_type))


@F.arrow_udf(TOKENS_TYPE)
def tokenize_udf(texts: pa.Array) -> pa.Array:
    """Arrow UDF: text → array<struct<term,pos,off,len>>; a None text
    gives []."""
    tb = tokenize_batch(texts)
    tokens = pa.StructArray.from_arrays(
        [
            tb.terms.take(tb.codes),
            *(pa.array(v, type=pa.int32()) for v in (tb.pos(), tb.offs, tb.lens)),
        ],
        fields=list(to_arrow_type(TOKEN_STRUCT)),
    )
    return _token_lists(tb, tokens, TOKENS_TYPE)


@F.arrow_udf(TERMS_TYPE)
def tokenize_terms_udf(texts: pa.Array) -> pa.Array:
    """Cheaper variant: text → array<string> of terms only (no
    offsets); a None text gives []."""
    tb = tokenize_batch(texts)
    return _token_lists(tb, tb.terms.take(tb.codes), TERMS_TYPE)
