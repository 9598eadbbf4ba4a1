"""Tokenizer parity tests — semantics from BasicTokenizer.cs (SURVEY §2.B1)."""

import numpy as np
import pytest

from fulltextsearch_spark.functions.tokenizer import tokenize_text


def test_reference_doc5_tokens_and_positions():
    # FIXTURES.md §2: '-' and '_' are token chars; 1-based positions
    terms, offs, lens = tokenize_text(
        "This full-text search only supports boolean operators: and, or"
    )
    assert terms == [
        "this",
        "full-text",
        "search",
        "only",
        "supports",
        "boolean",
        "operators",
        "and",
        "or",
    ]
    assert offs.tolist() == [0, 5, 15, 22, 27, 36, 44, 55, 60]


def test_lowercase_and_punct():
    terms, offs, lens = tokenize_text("Hello World!")
    assert terms == ["hello", "world"]
    assert lens.tolist() == [5, 5]


def test_truncation_keeps_full_length():
    # BasicTokenizer.cs:60-68 — text truncated at 64, length is full run
    terms, _, lens = tokenize_text("x" * 100)
    assert len(terms[0]) == 64
    assert lens.tolist() == [100]


def test_utf16_offsets_and_surrogates():
    # non-BMP char = 2 UTF-16 units, both separators (category Cs)
    terms, offs, _ = tokenize_text("ab \U0001f600cd")
    assert terms == ["ab", "cd"]
    assert offs.tolist() == [0, 5]


def test_unicode_letter_categories():
    terms, _, _ = tokenize_text("café МИР 数字123 a_b-c")
    assert terms == ["café", "мир", "数字123", "a_b-c"]


def test_empty_and_no_tokens():
    assert tokenize_text("")[0] == []
    assert tokenize_text("!!! ???")[0] == []


def test_tokenize_udf_roundtrip(spark):
    from fulltextsearch_spark.functions.tokenizer import (
        tokenize_terms_udf,
        tokenize_udf,
    )

    df = spark.createDataFrame(
        [("Hello World!",), ("This is a test",), (None,), ("",)], "text string"
    )
    rows = df.select(
        tokenize_udf("text").alias("t"), tokenize_terms_udf("text").alias("terms")
    ).collect()
    assert [t["term"] for t in rows[0]["t"]] == ["hello", "world"]
    assert [t["pos"] for t in rows[1]["t"]] == [1, 2, 3, 4]
    assert [(t["off"], t["len"]) for t in rows[1]["t"]] == [(0, 4), (5, 2), (8, 1), (10, 4)]
    assert rows[2]["t"] == [] and rows[3]["t"] == []
    # terms only, in token order; a None or empty text gives []
    assert [r["terms"] for r in rows] == [
        ["hello", "world"],
        ["this", "is", "a", "test"],
        [],
        [],
    ]
