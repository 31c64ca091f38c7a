"""The shingle builders against a pure-Python n-gram reference.

``shingle_array`` (word n-grams), ``char_shingle_rows`` (character
n-grams) and ``doc_fingerprints`` (min-md5 over word 4-grams) bind
their per-row input outside the ``transform`` lambda. These tests pin
their output to a plain-Python rendering of the same definitions on
the edge cases: null, empty and whitespace-only text, text shorter
than n, repeated shingles, leading/trailing whitespace and CJK text.

The reference mirrors the JVM semantics the builders rely on: Spark's
``trim`` strips ASCII spaces only, and Java's ``\\s`` is the ASCII
whitespace class.
"""

from __future__ import annotations

import hashlib
import re

import pytest

_WS = re.compile(r"[ \t\n\x0b\f\r]+")

TEXTS = [
    None,
    "",
    "   ",
    " \t\n ",
    "one",
    "one two",
    "one two three",
    "The cat sat on the mat the cat sat",
    "a a a a a a",
    "  Mixed\tCase  words\nand   runs  ",
    "\tlead tab",
    "中文 文本 去重 测试 中文 文本",
    "中华人民共和国国务院总理",
    "é  ß  Ω  😀 emoji text",
]


def _tokens(text: str) -> list[str]:
    return _WS.split(text.lower().strip(" "))


def _normalized(text: str) -> str:
    return _WS.sub(" ", text.lower()).strip(" ")


def ref_word_shingles(text: str | None, n: int) -> list[str]:
    if text is None:
        return []
    toks = _tokens(text)
    return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]


def ref_char_shingles(text: str | None, n: int) -> set[str]:
    if text is None:
        return set()
    s = _normalized(text)
    return {s[i : i + n] for i in range(len(s) - n + 1)}


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(list(enumerate(TEXTS)), "doc_id long, text string")


@pytest.mark.parametrize("n", [1, 2, 3, 5])
def test_shingle_array_matches_reference(spark, docs, n):
    from leader_graph_spark.operators.dedup import shingle_array

    got = {
        r.doc_id: r.sh
        for r in docs.select("doc_id", shingle_array("text", n).alias("sh")).collect()
    }
    # order and repeats are part of the contract (MinHash and the
    # repetition signals read the raw array)
    assert got == {i: ref_word_shingles(t, n) for i, t in enumerate(TEXTS)}


@pytest.mark.parametrize("n", [1, 3, 5])
def test_char_shingle_rows_matches_reference(spark, docs, n):
    from leader_graph_spark.operators.dedup import char_shingle_rows

    rows = char_shingle_rows(docs, id_col="doc_id", text_col="text", n=n).collect()
    got = sorted((r.doc_id, r.shingle) for r in rows)
    want = sorted((i, s) for i, t in enumerate(TEXTS) for s in ref_char_shingles(t, n))
    assert got == want  # distinct per document


def test_doc_fingerprints_matches_reference(spark, docs, tmp_path):
    from leader_graph_spark.plans.text_queries import doc_fingerprints

    docs.write.parquet(str(tmp_path / "documents.parquet"))
    got = {
        r.doc_id: (r.content_hash, r.rolling_fingerprint)
        for r in doc_fingerprints(spark, str(tmp_path)).collect()
    }
    want = {}
    for i, t in enumerate(TEXTS):
        grams = ref_word_shingles(t, 4)
        want[i] = (
            None if t is None else _md5(_normalized(t)),
            min(map(_md5, grams)) if grams else None,
        )
    assert got == want
