"""Unicode normalization and exact dedup: composed and decomposed forms
of one text hash apart until the text is normalized."""

from __future__ import annotations

import unicodedata


def test_dedup_composes_after_normalization(spark):
    from leader_graph_spark.operators.dedup import exact_dedup_keys

    rows = [(1, "caf\u00e9 x"), (2, "cafe\u0301 x")]  # composed, decomposed
    df = spark.createDataFrame(rows, "doc_id long, text string")
    raw = exact_dedup_keys(df, id_col="doc_id", text_col="text")
    assert raw.select("content_hash").distinct().count() == 2  # under-dedup!
    normed = spark.createDataFrame(
        [(i, unicodedata.normalize("NFC", t)) for i, t in rows], "doc_id long, text string"
    )
    keys = exact_dedup_keys(normed, id_col="doc_id", text_col="text")
    assert keys.select("content_hash").distinct().count() == 1
