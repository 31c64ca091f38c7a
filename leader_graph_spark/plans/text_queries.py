"""Text-analysis queries over ``documents`` — the training-data
pipeline operators (language ID, quality scoring, token counting,
fingerprinting) plus the reference's validation predicates (P6/P7)
re-expressed as column expressions.

Everything is JVM-side regexp/length arithmetic with exact DuckDB
mirrors (verified: ``\\b`` word boundaries, ``[^\\w\\s]`` classes, hex
and octet_length behave identically on this data).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from leader_graph_spark.plans.registry import query
from leader_graph_spark.sources.tables import fan_out, load_table

# ---------------------------------------------------------------------------
# Token statistics
# ---------------------------------------------------------------------------

_TOKEN_ORACLE = """
SELECT doc_id,
       len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
       len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS n_word_tokens,
       length(text) AS n_chars_actual,
       round(length(replace(text, ' ', '')) / CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE), 6) AS avg_token_len
FROM documents
"""


@query("doc_token_stats", _TOKEN_ORACLE, tags=("text-tokens",))
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens, BPE-ish regexp tokens
    (word runs + single symbols), char count, mean token length."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    ws_tokens = F.size(F.split(F.trim("text"), r"\s+"))
    return docs.select(
        "doc_id",
        ws_tokens.alias("n_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(r"\w+|[^\w\s]"), 0)).alias(
            "n_word_tokens"
        ),
        F.length("text").alias("n_chars_actual"),
        F.round(
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
            / ws_tokens.cast("double"),
            6,
        ).alias("avg_token_len"),
    )


# ---------------------------------------------------------------------------
# Language-ID heuristic
# ---------------------------------------------------------------------------

# n-gram/stopword marker lists per language; scored by hit count. The
# synthetic corpus is English word-soup, so markers for other languages
# rely on characteristic character patterns too — the operator is the
# point, the synthetic corpus only exercises it deterministically.
_LANG_MARKERS = {
    "en": r"\b(the|a|of|and|in|to|is|row|data|table)\b",
    "es": r"\b(el|la|los|las|de|que|y|un|una)\b|[ñ¿¡]",
    "fr": r"\b(le|la|les|des|une|est|et|dans)\b|[àâçéèêë]",
    "de": r"\b(der|die|das|und|ist|ein|eine|nicht)\b|[äöüß]",
    "zh": r"[一-鿿]",
}


def _lang_scores_spark() -> list:
    return [
        F.size(F.regexp_extract_all(F.col("text"), F.lit(pat), 0)).alias(f"score_{lang}")
        for lang, pat in _LANG_MARKERS.items()
    ]


_LANG_CASE_SQL = """
CASE
  WHEN score_zh > 0 THEN 'zh'
  WHEN score_de > score_en AND score_de >= score_es AND score_de >= score_fr THEN 'de'
  WHEN score_fr > score_en AND score_fr >= score_es THEN 'fr'
  WHEN score_es > score_en THEN 'es'
  ELSE 'en'
END
"""

# SQL string literals pass backslashes straight to the regex engine, so
# the Python patterns embed verbatim (no quotes occur in the patterns).
_LANG_SCORES_SQL = ", ".join(
    f"len(regexp_extract_all(text, '{pat}')) AS score_{lang}"
    for lang, pat in _LANG_MARKERS.items()
)

_LANG_ORACLE = f"""
WITH scored AS (
  SELECT doc_id, lang, {_LANG_SCORES_SQL}
  FROM documents
)
SELECT doc_id, lang AS labeled_lang, {_LANG_CASE_SQL} AS predicted_lang
FROM scored
"""


@query("lang_id_heuristic", _LANG_ORACLE, tags=("text-langid",))
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language identification by marker-pattern hit counts (stopword
    n-grams + characteristic character classes), with a fixed
    tie-breaking priority so the prediction is deterministic."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    scored = docs.select("doc_id", F.col("lang").alias("labeled_lang"), "text").select(
        "doc_id", "labeled_lang", *_lang_scores_spark()
    )
    predicted = (
        F.when(F.col("score_zh") > 0, F.lit("zh"))
        .when(
            (F.col("score_de") > F.col("score_en"))
            & (F.col("score_de") >= F.col("score_es"))
            & (F.col("score_de") >= F.col("score_fr")),
            F.lit("de"),
        )
        .when(
            (F.col("score_fr") > F.col("score_en"))
            & (F.col("score_fr") >= F.col("score_es")),
            F.lit("fr"),
        )
        .when(F.col("score_es") > F.col("score_en"), F.lit("es"))
        .otherwise(F.lit("en"))
    )
    return scored.select("doc_id", "labeled_lang", predicted.alias("predicted_lang"))


# ---------------------------------------------------------------------------
# Quality scoring
# ---------------------------------------------------------------------------

_QUALITY_ORACLE = """
WITH feats AS (
  SELECT doc_id,
         length(text) AS n_chars_actual,
         len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
         len(regexp_extract_all(text, '[^\\w\\s]')) AS n_punct,
         len(regexp_extract_all(text, '\\b(the|a|of|and|in|to|is)\\b')) AS n_stop
  FROM documents
)
SELECT doc_id,
       round(least(n_chars_actual / 500.0, 1.0), 6) AS length_score,
       round(n_punct / CAST(n_tokens AS DOUBLE), 6) AS punct_ratio,
       round(n_stop / CAST(n_tokens AS DOUBLE), 6) AS stopword_ratio,
       round(0.5 * least(n_chars_actual / 500.0, 1.0)
           + 0.25 * least(n_stop / CAST(n_tokens AS DOUBLE) * 5, 1.0)
           + 0.25 * (1.0 - least(n_punct / CAST(n_tokens AS DOUBLE), 1.0)), 6) AS quality_score
FROM feats
"""


@query("doc_quality_score", _QUALITY_ORACLE, tags=("text-quality", "P7"))
def doc_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring: length / punctuation-ratio /
    stopword-ratio features composed into a bounded [0,1] score — the
    quality-gate operator of a training-data pipeline (generalizes the
    reference's content validation ``utils/content_validator.py:61-137``)."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    n_chars = F.length("text")
    n_tokens = F.size(F.split(F.trim("text"), r"\s+"))
    n_punct = F.size(F.regexp_extract_all("text", F.lit(r"[^\w\s]"), 0))
    n_stop = F.size(F.regexp_extract_all("text", F.lit(r"\b(the|a|of|and|in|to|is)\b"), 0))
    length_score = F.least(n_chars / F.lit(500.0), F.lit(1.0))
    punct_ratio = n_punct / n_tokens.cast("double")
    stop_ratio = n_stop / n_tokens.cast("double")
    quality = (
        F.lit(0.5) * length_score
        + F.lit(0.25) * F.least(stop_ratio * 5, F.lit(1.0))
        + F.lit(0.25) * (F.lit(1.0) - F.least(punct_ratio, F.lit(1.0)))
    )
    return docs.select(
        "doc_id",
        F.round(length_score, 6).alias("length_score"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(quality, 6).alias("quality_score"),
    )


# ---------------------------------------------------------------------------
# Content-validity predicate (P7) and fingerprint
# ---------------------------------------------------------------------------

_VALIDITY_ORACLE = """
SELECT doc_id,
       CASE
         WHEN octet_length(encode(text)) < 150 THEN 'too_small'
         WHEN regexp_matches(text, '(error|fail)') THEN 'error_marker'
         WHEN NOT regexp_matches(text, '(data|table|row|query)') THEN 'no_valid_marker'
         ELSE 'ok'
       END AS reason,
       (octet_length(encode(text)) >= 150
        AND NOT regexp_matches(text, '(error|fail)')
        AND regexp_matches(text, '(data|table|row|query)')) AS is_valid
FROM documents
"""


@query("content_validity", _VALIDITY_ORACLE, tags=("P7", "F21"))
def content_validity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's content-validation predicate
    (``utils/content_validator.py:10-137``): byte-size floor, forbidden
    patterns, required valid-page patterns — a struct-returning quality
    gate with a first-matching-rule reason."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    size_ok = F.octet_length(F.encode(F.col("text"), "utf-8")) >= 150
    has_error = F.col("text").rlike("(error|fail)")
    has_marker = F.col("text").rlike("(data|table|row|query)")
    reason = (
        F.when(~size_ok, F.lit("too_small"))
        .when(has_error, F.lit("error_marker"))
        .when(~has_marker, F.lit("no_valid_marker"))
        .otherwise(F.lit("ok"))
    )
    return docs.select(
        "doc_id",
        reason.alias("reason"),
        (size_ok & ~has_error & has_marker).alias("is_valid"),
    )


_FINGERPRINT_ORACLE = """
WITH toks AS (
  SELECT doc_id, text, string_split_regex(trim(lower(text)), '\\s+') AS tokens FROM documents
),
grams AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(tokens) - 4 + 2),
                               i -> array_to_string(tokens[i:i+3], ' '))) AS gram
  FROM toks
)
SELECT t.doc_id,
       md5(trim(regexp_replace(lower(t.text), '\\s+', ' ', 'g'))) AS content_hash,
       g.fp AS rolling_fingerprint
FROM toks t
LEFT JOIN (SELECT doc_id, min(md5(gram)) AS fp FROM grams GROUP BY doc_id) g
  ON t.doc_id = g.doc_id
"""


@query("doc_fingerprints", _FINGERPRINT_ORACLE, tags=("text-fingerprint", "F1"))
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: whole-content hash plus a
    rolling-window fingerprint (min-md5 over 4-gram windows — the
    winnowing-style selection that survives local edits).

    The 4-grams come from :func:`~leader_graph_spark.operators.dedup.
    shingle_array`, which follows the rule "bind per-row inputs
    outside the lambda": the token array is computed once per row and
    md5 maps over the finished grams. The earlier inline form re-split
    the text once per 4-gram. Measured on 4 cores (executor CPU,
    median of 5 warm runs): 0.50 s → 0.10 s on 500 documents, 4.4 s →
    0.55 s on 5 000."""
    from leader_graph_spark.operators.dedup import normalized, shingle_array

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        F.md5(normalized("text")).alias("content_hash"),
        F.array_min(F.transform(shingle_array("text", 4), F.md5)).alias("rolling_fingerprint"),
    )


# ---------------------------------------------------------------------------
# TF-IDF and heavy hitters (corpus-level term statistics)
# ---------------------------------------------------------------------------

_TFIDF_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         round(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)), 6) AS tfidf
  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
)
SELECT doc_id, term, tf, df, tfidf, CAST(rnk AS INT) AS rnk
FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rnk
      FROM scored)
WHERE rnk <= 3
"""


@query("tfidf_top_terms", _TFIDF_ORACLE, tags=("text-tfidf",))
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-3 terms per document — the canonical corpus-weighted
    term-importance operator of a training-data pipeline.

    Scale shape: term frequency is a map-side-combinable groupBy on
    (doc, term), materialized ONCE (localCheckpoint — Spark plans
    trees, not DAGs, and ReuseExchange verifiably does not deduplicate
    the two consumers, so without it the tokenize+explode+shuffle runs
    twice); document frequency reduces the materialized tf to a
    vocabulary-sized table via map-side partial counts — deliberately
    NOT a count-over-window on term, which would shuffle every tf row
    to hot-term (stopword) partitions — and AQE broadcasts it back
    onto the tf side. The per-doc top-3 window repartitions by doc_id
    only; the idf constant ln((N+1)/(df+1)) folds doc count in via a
    1-row cross join (BroadcastNestedLoopJoin, free)."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf")).localCheckpoint()
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf") * F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tf", "df", "tfidf", F.col("rnk").cast("int").alias("rnk"))
    )


_HEAVY_HITTERS_ORACLE = """
WITH toks AS (
  SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
  FROM documents
)
SELECT term, n_occurrences
FROM (SELECT term, count(*) AS n_occurrences,
             row_number() OVER (ORDER BY count(*) DESC, term) AS rn
      FROM toks GROUP BY term)
WHERE rn <= 20
ORDER BY n_occurrences DESC, term
"""


@query("heavy_hitter_terms", _HEAVY_HITTERS_ORACLE, tags=("text-heavy-hitters",))
def heavy_hitter_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact global top-20 terms (heavy hitters). Map-side partial
    counts shrink the shuffle to vocabulary size; the final top-20 is
    ``orderBy().limit()`` so Spark plans TakeOrderedAndProject — each
    partition keeps its own 20, the driver merges 20 × n_partitions
    rows — instead of funneling the whole vocabulary through a
    single-partition rank window. The approximate scale path is
    ``frequent_terms_approx``."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    toks = docs.select(F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("term"))
    counts = toks.groupBy("term").agg(F.count("*").alias("n_occurrences"))
    return counts.orderBy(F.desc("n_occurrences"), F.asc("term")).limit(20)


_FREQ_TERMS_ORACLE = """
WITH toks AS (
  SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
  FROM documents
),
counts AS (SELECT term, count(*) AS n FROM toks GROUP BY term),
req AS (
  SELECT term FROM counts WHERE n > 0.02 * (SELECT sum(n) FROM counts)
)
SELECT coalesce(list_aggregate(list_sort(list(term)), 'string_agg', ','), '')
         AS required_terms,
       CAST(count(*) AS BIGINT) AS n_required,
       TRUE AS all_required_present
FROM req
"""
# ^ coalesce: an EMPTY required set is legal (no term above support —
# e.g. a corpus of disjoint vocabularies) and must canonicalize
# identically on both sides; Spark's array_join over an empty
# collect_list is '', while DuckDB's string_agg over zero rows is NULL
# (the round-6 10x battery caught the divergence).


@query("frequent_terms_approx", _FREQ_TERMS_ORACLE, tags=("text-heavy-hitters", "approx"))
def frequent_terms_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate heavy hitters via ``freqItems`` (Karp/Shenker/
    Papadimitriou one-pass counter deltas — fixed memory per partition,
    no global shuffle of the vocabulary). The sketch's guarantee IS its
    oracle (round-6: was rows-only): every term with frequency >
    support·N must appear in the sketch — false positives allowed, so
    the sketch array itself is not cross-engine — and the driver row
    carries the EXACT required set (sorted, comma-joined — both
    engines can compute it) plus a Spark-computed containment boolean
    the oracle pins at literal TRUE. A sketch that drops a true heavy
    hitter turns the row red."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    toks = docs.select(F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("term"))
    counts = toks.groupBy("term").agg(F.count("*").alias("n"))
    required = counts.join(
        counts.agg(F.sum("n").alias("total")), how="cross"
    ).where(F.col("n") > 0.02 * F.col("total"))
    req_row = required.agg(
        F.array_join(F.array_sort(F.collect_list("term")), ",").alias("required_terms"),
        F.count("*").alias("n_required"),
        F.collect_list("term").alias("_req"),
    )
    sketch = toks.freqItems(["term"], support=0.02)
    return req_row.crossJoin(sketch).select(
        "required_terms",
        "n_required",
        (F.size(F.array_except(F.col("_req"), F.col("term_freqItems"))) == 0).alias(
            "all_required_present"
        ),
    )


# ---------------------------------------------------------------------------
# F2-F6 cleaning cascade + P6 name-validity predicate (merged query: the two
# surfaces were near-duplicate round-1 sweep entries; one registry slot now
# drives the full cascade AND the validity heuristic)
# ---------------------------------------------------------------------------

# The validity predicate's keyword alternation carries the reference's
# FULL ~88-entry non-person vocabulary (update_c_org_leader_info.py:15-32,
# mirrored as config data in extract/html.py) plus the synthetic English
# markers; no entry contains a regex metacharacter, so the joined
# alternation is regex-safe verbatim on both engines.
from leader_graph_spark.extract.html import _NAME_BLACKLIST as _P6_KEYWORDS  # noqa: E402

_BLACKLIST_ALT = "|".join(("Test", "Dummy", "Invalid", "00000000") + _P6_KEYWORDS)

_CLEAN_VALIDATE_ORACLE = f"""
WITH noised AS (
  SELECT doc_id,
         '<p>' || substr(text, 1, 60) || '</p>[1] tail[12-15] ' || chr(8203) || '[编辑] x' AS noisy,
         substr(text, 1, 20)
           || CASE WHEN doc_id % 7 = 0 THEN ' (deputy director, acting)' ELSE '' END
           || CASE WHEN doc_id % 13 = 0 THEN ' Test' ELSE '' END
           || CASE WHEN doc_id % 11 = 0 THEN '党组书记' ELSE '' END AS name_like
  FROM documents
)
SELECT doc_id,
       trim(regexp_replace(
         regexp_replace(
           regexp_replace(
             regexp_replace(noisy, '\\[\\d+(-\\d+)?\\]|\\[编辑\\]|\\[详情\\]', '', 'g'),
             '<[^>]+>', '', 'g'),
           '[\u200b\u200c\u200d\ufeff\u00a0]', '', 'g'),
         '\\s+', ' ', 'g')) AS cleaned,
       (length(replace(regexp_replace(name_like, '（[^）]*）|\\([^)]*\\)', '', 'g'), ' ', '')) <= 18
        AND NOT regexp_matches(name_like, '({_BLACKLIST_ALT})')) AS is_valid_name
FROM noised
"""


@query(
    "clean_and_validate_text",
    _CLEAN_VALIDATE_ORACLE,
    tags=("P6", "F2", "F3", "F4", "F5", "F6"),
)
def clean_and_validate_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's standard text-cleaning cascade (citation marks →
    HTML tags → zero-width chars → whitespace collapse,
    ``parser/baike_parser.py:197-205``) PLUS its person-name validity
    heuristic (paren-stripped length ceiling AND no blacklist keyword,
    ``leader/update_c_org_leader_info.py:15-73``), both over
    deterministically noised document text so every regex stage and both
    predicate branches are value-checked (ids %7 get a paren suffix,
    ids %13 an English blacklist token, ids %11 a keyword from the
    reference's full 88-entry Chinese vocabulary — the alternation
    carries ALL of them)."""
    from leader_graph_spark.functions.scalar import clean_text

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    noisy = F.concat(
        F.lit("<p>"),
        F.substring("text", 1, 60),
        F.lit("</p>[1] tail[12-15] \u200b[编辑] x"),
    )
    name_like = F.concat(
        F.substring("text", 1, 20),
        F.when(F.col("doc_id") % 7 == 0, F.lit(" (deputy director, acting)")).otherwise(
            F.lit("")
        ),
        F.when(F.col("doc_id") % 13 == 0, F.lit(" Test")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 11 == 0, F.lit("党组书记")).otherwise(F.lit("")),
    )
    stripped = F.replace(
        F.regexp_replace(name_like, r"（[^）]*）|\([^)]*\)", ""),
        F.lit(" "),
        F.lit(""),
    )
    blacklist = name_like.rlike(f"({_BLACKLIST_ALT})")
    return docs.select(
        "doc_id",
        clean_text(noisy).alias("cleaned"),
        ((F.length(stripped) <= 18) & ~blacklist).alias("is_valid_name"),
    )


# ---------------------------------------------------------------------------
# Deterministic hash sampling + train/val/test split
# ---------------------------------------------------------------------------

_SPLIT_ORACLE = """
WITH h AS (
  SELECT doc_id,
         (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
       + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS bucket
  FROM documents
)
SELECT doc_id, bucket,
       CASE WHEN bucket < 204 THEN 'train' WHEN bucket < 230 THEN 'val' ELSE 'test' END AS split,
       bucket < 26 AS in_10pct_sample
FROM h
"""


@query("doc_hash_split", _SPLIT_ORACLE, tags=("sampling", "F1"))
def doc_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-hash sampling and train/val/test split
    (~80/10/10 via md5 buckets 0-255): stable across runs, engines,
    partitionings, and data re-orderings — the property random
    ``sample()`` lacks and the reason production pipelines key splits
    off a hash, not a RNG. Pure map-side, no shuffle, no state."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10).cast("int")
    return docs.select(
        "doc_id",
        bucket.alias("bucket"),
        F.when(F.col("bucket") < 204, "train")
        .when(F.col("bucket") < 230, "val")
        .otherwise("test")
        .alias("split"),
        (F.col("bucket") < 26).alias("in_10pct_sample"),
    )


_REPETITION_ORACLE = """
WITH toks AS (
  SELECT doc_id, CAST(length(text) AS DOUBLE) AS n_chars,
         string_split_regex(trim(lower(text)), '\\s+') AS tokens
  FROM documents
),
g2 AS (
  SELECT doc_id, n_chars,
         unnest(list_transform(range(1, len(tokens)), i -> array_to_string(tokens[i:i+1], ' '))) AS gram
  FROM toks
),
c2 AS (SELECT doc_id, gram, count(*) AS cnt, any_value(n_chars) AS n_chars FROM g2 GROUP BY doc_id, gram),
top2 AS (
  SELECT doc_id, gram AS top_2gram, round(cnt * length(gram) / n_chars, 6) AS top_2gram_ratio
  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram) AS rn FROM c2)
  WHERE rn = 1
),
g5 AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(tokens) - 3), i -> array_to_string(tokens[i:i+4], ' '))) AS gram
  FROM toks
),
c5 AS (SELECT doc_id, gram, count(*) AS cnt FROM g5 GROUP BY doc_id, gram),
dup5 AS (
  SELECT doc_id, sum(CASE WHEN cnt >= 2 THEN cnt * length(gram) ELSE 0 END) AS dup_chars
  FROM c5 GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(tokens) AS INT) AS n_words,
       round(1.0 - CAST(len(list_distinct(tokens)) AS DOUBLE) / len(tokens), 6) AS dup_word_ratio,
       COALESCE(top_2gram, '') AS top_2gram,
       COALESCE(top_2gram_ratio, 0.0) AS top_2gram_ratio,
       round(COALESCE(dup_chars, 0) / n_chars, 6) AS dup_5gram_ratio
FROM toks t
LEFT JOIN top2 USING (doc_id)
LEFT JOIN dup5 USING (doc_id)
"""


@query("doc_repetition_signals", _REPETITION_ORACLE, tags=("quality-repetition",))
def doc_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document: duplicate
    word ratio, dominant 2-gram character coverage, duplicated 5-gram
    character coverage. All counting is keyed by doc_id (map-side
    combinable, no skew surface); the oracle reproduces every ratio
    through single double divisions."""
    from leader_graph_spark.operators.quality import repetition_signals

    docs = load_table(spark, sf_dir, "documents")
    return repetition_signals(docs, id_col="doc_id", text_col="text")


_DECONTAM_ORACLE = """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS tokens FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(tokens) - 1), i -> array_to_string(tokens[i:i+2], ' '))) AS shingle
    FROM toks
  )
),
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 20 = 0),
counts AS (
  SELECT s.doc_id, count(*) AS n_shingles,
         sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) AS n_hits
  FROM sh s LEFT JOIN bench b USING (shingle)
  WHERE s.doc_id % 20 <> 0
  GROUP BY s.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(c.n_shingles, 0) AS INT) AS n_shingles,
       CAST(COALESCE(c.n_hits, 0) AS INT) AS n_hits,
       CASE WHEN COALESCE(c.n_shingles, 0) = 0 THEN 0.0
            ELSE round(COALESCE(c.n_hits, 0) / CAST(c.n_shingles AS DOUBLE), 6) END
         AS contamination_ratio,
       (CASE WHEN COALESCE(c.n_shingles, 0) = 0 THEN 0.0
             ELSE round(COALESCE(c.n_hits, 0) / CAST(c.n_shingles AS DOUBLE), 6) END) >= 0.05
         AS is_contaminated
FROM documents d LEFT JOIN counts c USING (doc_id)
WHERE d.doc_id % 20 <> 0
"""


@query("benchmark_decontamination", _DECONTAM_ORACLE, tags=("quality-decontamination",))
def benchmark_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/benchmark decontamination: every doc_id % 20 == 0 document
    plays the held-out benchmark; the remaining corpus is scored by
    3-gram shingle overlap against the BROADCAST benchmark shingle set
    (the corpus never shuffles on shingle — the scale-defining property
    of this operator)."""
    from leader_graph_spark.operators.dedup import decontaminate

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    train = docs.filter(F.col("doc_id") % 20 != 0)
    return decontaminate(
        train, bench, id_col="doc_id", text_col="text", n=3, ratio_threshold=0.05
    )


def _pii_oracle() -> str:
    from leader_graph_spark.operators.quality import EMAIL_RE, IP_RE, PHONE_RE

    return f"""
WITH pii AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 2 = 0
                 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com'
                 ELSE '' END
         || CASE WHEN doc_id % 3 = 0
                 THEN ' call +1 555-01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
                 ELSE '' END
         || CASE WHEN doc_id % 5 = 0
                 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
                 ELSE '' END
           AS text
  FROM documents
)
SELECT doc_id,
       regexp_replace(regexp_replace(regexp_replace(text,
         '{EMAIL_RE}', '<EMAIL>', 'g'),
         '{IP_RE}', '<IP>', 'g'),
         '{PHONE_RE}', '<PHONE>', 'g') AS redacted_text,
       CAST(len(regexp_extract_all(text, '{EMAIL_RE}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{PHONE_RE}')) AS INT) AS n_phones,
       CAST(len(regexp_extract_all(text, '{IP_RE}')) AS INT) AS n_ips
FROM pii
"""


@query("pii_redaction", _pii_oracle(), tags=("quality-pii",))
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing over deterministic synthesized contact blocks
    (emails on even ids, phones on ids % 3, IPv4 on ids % 5 — the raw
    corpus has no digits, so the synthesis makes every count and every
    replacement site value-checked). The redaction cascade and counts
    run the identical Java-regex/RE2-common patterns on both engines."""
    from leader_graph_spark.operators.quality import redact_pii

    docs = load_table(spark, sf_dir, "documents")
    pii = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@mail.example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" call +1 555-01"),
                    F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" from 10.0."),
                    (F.col("doc_id") % 256).cast("string"),
                    F.lit("."),
                    ((F.col("doc_id") * 7) % 256).cast("string"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return redact_pii(pii, id_col="doc_id", text_col="text")


# ---------------------------------------------------------------------------
# CCNet/C4-style line-level dedup (boilerplate removal)
# ---------------------------------------------------------------------------

_LINE_DEDUP_ORACLE = """
WITH docs AS (
  SELECT doc_id,
         text || chr(10) || 'subscribe to our newsletter today' || chr(10)
              || CASE WHEN doc_id % 4 = 0 THEN 'all rights reserved'
                      ELSE 'powered by example engine' END
              || CASE WHEN doc_id % 50 = 0
                      THEN chr(10) || 'special offer code ' || CAST((doc_id // 50) % 5 AS VARCHAR)
                      ELSE '' END
           AS text
  FROM documents
),
lines AS (
  SELECT doc_id, u.pos AS pos, u.line AS line, md5(trim(lower(u.line))) AS lh
  FROM (
    SELECT doc_id, unnest(list_transform(range(1, len(string_split(text, chr(10))) + 1),
          i -> {'pos': i - 1, 'line': string_split(text, chr(10))[i]})) AS u
    FROM docs
  )
),
block AS (
  SELECT lh FROM (SELECT lh, count(DISTINCT doc_id) AS n_docs FROM lines GROUP BY lh)
  WHERE n_docs >= 10
),
kept AS (
  SELECT l.* FROM lines l LEFT JOIN block b USING (lh) WHERE b.lh IS NULL
),
rebuilt AS (
  SELECT doc_id, array_to_string(list(line ORDER BY pos), chr(10)) AS cleaned_text,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(r.cleaned_text, '') AS cleaned_text,
       CAST(len(string_split(d.text, chr(10))) AS INT) AS n_lines,
       CAST(len(string_split(d.text, chr(10))) - COALESCE(r.n_kept, 0) AS INT) AS n_removed
FROM docs d LEFT JOIN rebuilt r USING (doc_id)
"""


@query("boilerplate_line_dedup", _LINE_DEDUP_ORACLE, tags=("quality-line-dedup",))
def boilerplate_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet/C4-style line-level dedup over deterministically planted
    boilerplate: every doc gains a newsletter line plus one of two
    rotating footers (all cross ≥10 docs → removed), and ids % 50 gain
    a rare promo line (< 10 docs → kept), so the removed, kept-rare,
    and unique-line paths are all value-checked. The blocklist of
    repeated lines is broadcast; removal is a map-side anti-join."""
    from leader_graph_spark.operators.quality import remove_boilerplate_lines

    docs = load_table(spark, sf_dir, "documents")
    synth = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit("\nsubscribe to our newsletter today\n"),
            F.when(F.col("doc_id") % 4 == 0, F.lit("all rights reserved")).otherwise(
                F.lit("powered by example engine")
            ),
            F.when(
                F.col("doc_id") % 50 == 0,
                F.concat(
                    F.lit("\nspecial offer code "),
                    (F.expr("doc_id div 50") % 5).cast("string"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return remove_boilerplate_lines(
        synth, id_col="doc_id", text_col="text", min_doc_frequency=10
    )


# ---------------------------------------------------------------------------
# CCNet-style unigram-LM quality scoring
# ---------------------------------------------------------------------------

_UNIGRAM_LM_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
  FROM documents
),
counts AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token),
tot AS (SELECT sum(cnt) AS total FROM counts),
vocab AS (
  SELECT token, CAST(floor(cnt / total * 1e9) AS BIGINT) AS p_nano
  FROM counts, tot ORDER BY cnt DESC, token LIMIT 20
),
scored AS (
  SELECT t.doc_id,
         COALESCE(v.p_nano, CAST(floor(1.0 / tot.total * 1e9) AS BIGINT)) AS p_nano_eff,
         CASE WHEN v.p_nano IS NULL THEN 1 ELSE 0 END AS is_oov
  FROM toks t LEFT JOIN vocab v USING (token), tot
)
SELECT doc_id, CAST(count(*) AS INT) AS n_tokens,
       round(sum(is_oov) / CAST(count(*) AS DOUBLE), 6) AS oov_ratio,
       CAST(floor(sum(p_nano_eff) / CAST(count(*) AS DOUBLE)) AS BIGINT) AS avg_token_prob_nano
FROM scored GROUP BY doc_id
"""


@query("unigram_lm_quality", _UNIGRAM_LM_ORACLE, tags=("quality-lm",))
def unigram_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality scores (CCNet-style): every document scored
    by the mean corpus probability of its tokens against a top-K LM
    trained on the corpus itself, plus its OOV ratio (K=20 here — the
    synthetic corpus has only 31 distinct tokens, so a production-sized
    vocabulary would never exercise the OOV path).
    Probabilities are fixed-pointed to nano-units before the per-doc
    sum so the distributed aggregation is order-independent and
    value-hashable."""
    from leader_graph_spark.operators.quality import unigram_lm_scores

    docs = load_table(spark, sf_dir, "documents")
    return unigram_lm_scores(docs, id_col="doc_id", text_col="text", vocab_size=20)


# ---------------------------------------------------------------------------
# Tokenizer training primitive: BPE merge-candidate counting
# ---------------------------------------------------------------------------

_BPE_PAIRS_ORACLE = """
WITH words AS (
  SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w FROM documents
),
pairs AS (
  SELECT unnest(list_transform(range(1, len(w)), i -> substr(w, CAST(i AS INTEGER), 2))) AS pair
  FROM words WHERE len(w) >= 2
)
SELECT pair, count(*) AS n_occurrences
FROM pairs GROUP BY pair
ORDER BY n_occurrences DESC, pair LIMIT 32
"""


@query("bpe_merge_candidates", _BPE_PAIRS_ORACLE, tags=("text-bpe", "tokenizer"))
def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inner loop of BPE tokenizer training (Sennrich et al. 2016)
    at corpus scale: count adjacent character pairs within words and
    rank the top merge candidates. One training iteration = this count
    + a merge rewrite; the count is the dominant cost and is exactly
    this shape every round.

    Scale: the pair stream is ~O(corpus chars) rows but collapses
    map-side (groupBy on 2-char keys, partial aggregation), and the
    top-32 is orderBy+limit ⇒ TakeOrderedAndProject — the vocabulary
    never funnels through a single-partition rank window. Exact char
    semantics: ``substr`` is character-based (not byte) in both
    engines, so multibyte text agrees."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("w")
    ).filter(F.length("w") >= 2)
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substr(w, i, 2))")
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("pair"))
        .limit(32)
    )


# ---------------------------------------------------------------------------
# Corpus curation: the composed keep/drop verdict
# ---------------------------------------------------------------------------

def _curation_oracle() -> str:
    from leader_graph_spark.plans.dedup_queries import _EXCISE_ORACLE

    return f"""
WITH dup AS (
  SELECT doc_id,
         min(doc_id) OVER (PARTITION BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))) AS keep_id
  FROM documents
),
span AS (
  SELECT doc_id,
         CAST(floor(1000000 * (n_tokens - kept_tokens) / n_tokens) AS BIGINT) AS excised_ppm
  FROM ({_EXCISE_ORACLE})
),
feats AS (
  SELECT doc_id,
         len(string_split_regex(trim(lower(text)), '\\s+')) AS n_tokens,
         len(regexp_extract_all(text, '[^\\w\\s]')) AS n_punct,
         {_LANG_SCORES_SQL}
  FROM documents
)
SELECT f.doc_id,
       (d.keep_id <> f.doc_id) AS is_exact_dup,
       CAST(f.n_tokens AS BIGINT) AS n_tokens,
       s.excised_ppm,
       {_LANG_CASE_SQL} AS predicted_lang,
       CASE
         WHEN d.keep_id <> f.doc_id THEN 'exact_dup'
         WHEN s.excised_ppm >= 500000 THEN 'dup_spans'
         WHEN f.n_tokens < 20 THEN 'too_short'
         WHEN f.n_punct * 2 > f.n_tokens THEN 'too_much_punct'
         ELSE NULL
       END AS drop_reason,
       (d.keep_id = f.doc_id AND s.excised_ppm < 500000
        AND f.n_tokens >= 20 AND f.n_punct * 2 <= f.n_tokens) AS keep
FROM feats f
JOIN dup d ON f.doc_id = d.doc_id
JOIN span s ON f.doc_id = s.doc_id
"""


@query("corpus_curation_verdicts", _curation_oracle(), tags=("curation", "composite", "P7"))
def corpus_curation_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed corpus-curation gate a real pretraining pipeline
    runs per document: exact-dup election (min-id winner), span-level
    duplication cap (>=50% of tokens inside cross-doc duplicated
    8-grams the doc does NOT own — ownership-aware, so the canonical
    copy of a duplicated passage is never penalized for owning it),
    minimum length, punctuation-density cap, plus the
    predicted language tag — one keep/drop verdict with a first-match
    drop_reason. All gates are INTEGER comparisons (cross-multiplied
    ratios / ppm, never float thresholds), so the verdict is bit-exact
    on both engines; thresholds are set so the span and length gates
    actually FIRE on the driver corpus (a verdict whose branches never
    execute checks nothing — the vacuous-predicate lesson).

    Scale: the dup election is one window over the content-hash
    partition; the span signal reuses duplicated_span_coverage (gram-
    hash shuffle); the other signals are map-side per-doc arithmetic,
    and the three per-doc signal tables join co-partitioned on doc_id."""
    from pyspark.sql import Window

    from leader_graph_spark.operators.dedup import excise_duplicated_spans

    docs = load_table(spark, sf_dir, "documents")
    content_hash = F.md5(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")))
    dup = docs.select(
        "doc_id",
        F.min("doc_id").over(Window.partitionBy(content_hash)).alias("keep_id"),
    )
    span = excise_duplicated_spans(
        docs, id_col="doc_id", text_col="text", k=8, min_docs=2
    ).select(
        "doc_id",
        F.floor(
            F.lit(1000000) * (F.col("n_tokens") - F.col("kept_tokens")) / F.col("n_tokens")
        ).alias("excised_ppm"),
    )
    feats = docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.lower("text")), r"\s+")).cast("bigint").alias("n_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(r"[^\w\s]"), 0)).alias("n_punct"),
        *_lang_scores_spark(),
    )
    predicted = (
        F.when(F.col("score_zh") > 0, F.lit("zh"))
        .when(
            (F.col("score_de") > F.col("score_en"))
            & (F.col("score_de") >= F.col("score_es"))
            & (F.col("score_de") >= F.col("score_fr")),
            F.lit("de"),
        )
        .when(
            (F.col("score_fr") > F.col("score_en"))
            & (F.col("score_fr") >= F.col("score_es")),
            F.lit("fr"),
        )
        .when(F.col("score_es") > F.col("score_en"), F.lit("es"))
        .otherwise(F.lit("en"))
    )
    drop_reason = (
        F.when(F.col("keep_id") != F.col("doc_id"), F.lit("exact_dup"))
        .when(F.col("excised_ppm") >= 500000, F.lit("dup_spans"))
        .when(F.col("n_tokens") < 20, F.lit("too_short"))
        .when(F.col("n_punct") * 2 > F.col("n_tokens"), F.lit("too_much_punct"))
        .otherwise(F.lit(None).cast("string"))
    )
    keep = (
        (F.col("keep_id") == F.col("doc_id"))
        & (F.col("excised_ppm") < 500000)
        & (F.col("n_tokens") >= 20)
        & (F.col("n_punct") * 2 <= F.col("n_tokens"))
    )
    return (
        feats.join(dup, "doc_id")
        .join(span, "doc_id")
        .select(
            "doc_id",
            (F.col("keep_id") != F.col("doc_id")).alias("is_exact_dup"),
            "n_tokens",
            "excised_ppm",
            predicted.alias("predicted_lang"),
            drop_reason.alias("drop_reason"),
            keep.alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# Count-Min Sketch: mergeable frequency estimation
# ---------------------------------------------------------------------------

_CMS_DEPTH = 4


def _cms_bucket_sql(expr: str, salt: int) -> str:
    """0..255 bucket from the first two hex chars of md5(expr || salt)
    — digit-exact in both engines (DuckDB has no conv())."""
    h = f"md5({expr} || '#{salt}')"
    return (
        f"((instr('0123456789abcdef', substr({h}, 1, 1)) - 1) * 16"
        f" + (instr('0123456789abcdef', substr({h}, 2, 1)) - 1))"
    )


def _cms_oracle() -> str:
    luts = ",\n".join(
        f"""
c{j} AS (
  SELECT {_cms_bucket_sql('term', j)} AS bucket, count(*) AS n
  FROM toks GROUP BY 1
)"""
        for j in range(_CMS_DEPTH)
    )
    mins = ", ".join(
        f"(SELECT n FROM c{j} WHERE bucket = {_cms_bucket_sql('t.term', j)})"
        for j in range(_CMS_DEPTH)
    )
    return f"""
WITH toks AS (
  SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term FROM documents
),
{luts},
top20 AS (
  SELECT term, count(*) AS true_n
  FROM toks GROUP BY term ORDER BY true_n DESC, term LIMIT 20
)
SELECT t.term, t.true_n, least({mins}) AS cms_n
FROM top20 t
"""


@query("cms_term_frequency_estimates", _cms_oracle(), tags=("text-sketch", "cms", "approx-exact"))
def cms_term_frequency_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min Sketch (Cormode & Muthukrishnan) term-frequency
    estimation: a 4x256 counter grid (md5-bucketed, engine-portable)
    summarizes the whole token stream in fixed memory; a term's
    estimate is the min over its 4 counters, always
    ≥ the true count. Reported for the exact top-20 terms so the
    overestimate is visible next to ground truth.

    This is the mergeable FREQUENCY state complementing the HLL
    distinct state (`hll_incremental_distinct`): counter grids from
    different batches/partitions add cell-wise, so incremental
    maintenance never rescans history — and unlike freqItems
    (`frequent_terms_approx`), the sketch answers point queries for
    ANY term after the fact. Scale: the token stream collapses
    map-side into ≤ depth·width rows per partition; the grid is a
    broadcast-size artifact; estimation joins against it are
    broadcast-hash."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("term")
    )

    def bucket(col: F.Column, salt: int) -> F.Column:
        return F.conv(
            F.substring(F.md5(F.concat(col, F.lit(f"#{salt}"))), 1, 2), 16, 10
        ).cast("long")

    counters = [
        toks.groupBy(bucket(F.col("term"), j).alias("bucket"))
        .agg(F.count("*").alias(f"n_{j}"))
        for j in range(_CMS_DEPTH)
    ]
    top20 = (
        toks.groupBy("term")
        .agg(F.count("*").alias("true_n"))
        .orderBy(F.desc("true_n"), F.asc("term"))
        .limit(20)
    )
    out = top20
    for j in range(_CMS_DEPTH):
        out = out.join(
            F.broadcast(counters[j]),
            bucket(F.col("term"), j) == F.col("bucket"),
        ).drop("bucket")
    return out.select(
        "term",
        "true_n",
        F.least(*[F.col(f"n_{j}") for j in range(_CMS_DEPTH)]).alias("cms_n"),
    )


# ---------------------------------------------------------------------------
# Document chunking: overlapping token windows (RAG / context-window prep)
# ---------------------------------------------------------------------------

_CHUNK_W = 64
_CHUNK_STRIDE = 48  # 16-token overlap between consecutive chunks

_CHUNK_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS tokens FROM documents
),
starts AS (
  SELECT doc_id, tokens, len(tokens) AS n_tokens,
         unnest(range(1, CAST(len(tokens) AS INTEGER) + 1, {_CHUNK_STRIDE})) AS s
  FROM toks
)
SELECT doc_id,
       CAST((s - 1 - ((s - 1) % {_CHUNK_STRIDE})) / {_CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
       CAST(s AS BIGINT) AS start_token,
       CAST(least({_CHUNK_W}, n_tokens - s + 1) AS BIGINT) AS n_chunk_tokens,
       coalesce(array_to_string(tokens[CAST(s AS INTEGER):CAST(s + {_CHUNK_W} - 1 AS INTEGER)], ' '), '') AS chunk_text
FROM starts
"""


@query("doc_chunk_windows", _CHUNK_ORACLE, tags=("text-chunking", "rag"))
def doc_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking — the context-window prep step
    of RAG indexing and long-doc training (64-token windows, stride 48,
    16-token overlap so no boundary sentence is lost). One generate +
    per-row array slice, all JVM-side: the token array never leaves its
    row, chunk rows are ~n/stride per doc, and the transform is
    map-side only (zero shuffles — chunking preserves the corpus
    partitioning for the embedding stage that follows)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.split(F.trim(F.lower("text")), r"\s+").alias("tokens"),
    ).select("doc_id", "tokens", F.size("tokens").alias("n_tokens"))
    starts = toks.select(
        "doc_id",
        "tokens",
        "n_tokens",
        F.explode(F.expr(f"sequence(1, n_tokens, {_CHUNK_STRIDE})")).alias("s"),
    )
    return starts.select(
        "doc_id",
        ((F.col("s") - 1 - ((F.col("s") - 1) % _CHUNK_STRIDE)) / _CHUNK_STRIDE)
        .cast("bigint")
        .alias("chunk_idx"),
        F.col("s").cast("bigint").alias("start_token"),
        F.least(F.lit(_CHUNK_W), F.col("n_tokens") - F.col("s") + 1)
        .cast("bigint")
        .alias("n_chunk_tokens"),
        F.concat_ws(" ", F.expr(f"slice(tokens, s, {_CHUNK_W})")).alias("chunk_text"),
    )


# Fixed merge table for the BPE-apply query: collapses the corpus's two
# most content-bearing words to single tokens, leaves the rest as
# characters-with-partial-merges — enough structure that every merge
# rule fires on driver data.
_BPE_MERGES = [
    ("s", "p"), ("sp", "a"), ("spa", "r"), ("spar", "k"),
    ("t", "a"), ("ta", "b"), ("tab", "l"), ("tabl", "e"),
    ("e", "r"), ("o", "r"),
]


_BPE_ORACLE = """
SELECT doc_id,
       CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_words,
       TRUE AS tokens_within_bounds
FROM documents
"""


@query("bpe_token_counts", _BPE_ORACLE, tags=("text", "tokenizer", "bpe-apply"))
def bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply a FIXED BPE merge table to every document — packing
    budgets and length filters need counts from the real tokenizer,
    not the whitespace proxy (``doc_token_stats``). Iterative
    lowest-rank-first merging is not SQL-expressible, so the driver
    row carries the exact word count (cross-engine, list-length
    semantics proven in the Flesch oracle) plus a Spark-computed
    sandwich assertion the value hash pins at literal TRUE (round-6:
    was rows-only): n_words ≤ n_bpe_tokens ≤ non-space chars — every
    word yields ≥1 and ≤len(word) tokens, so a broken merge loop
    (dropping tokens, merging across word boundaries, looping) lands
    outside the bracket and turns the row red. The exact token counts
    and the md5 tokens fingerprint stay pinned to a pure-python model
    in tests/test_tokenize.py."""
    from leader_graph_spark.operators.tokenize import bpe_encode_stats

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    stats = bpe_encode_stats(docs, id_col="doc_id", text_col="text", merges=_BPE_MERGES)
    chars = docs.select(
        "doc_id",
        F.length(F.regexp_replace(F.col("text"), r"\s", "")).alias("_n_nonspace"),
    )
    return stats.join(chars, "doc_id").select(
        "doc_id",
        F.col("n_words").cast("bigint").alias("n_words"),
        (
            (F.col("n_bpe_tokens") >= F.col("n_words"))
            & (F.col("n_bpe_tokens") <= F.col("_n_nonspace"))
        ).alias("tokens_within_bounds"),
    )


_FLESCH_ORACLE = r"""
WITH counts AS (
  SELECT doc_id,
         greatest(len(list_filter(string_split_regex(text, '[.!?]+'), x -> trim(x) <> '')), 1) AS n_sentences,
         len(string_split_regex(trim(text), '\s+')) AS n_words,
         list_sum(list_transform(string_split_regex(lower(text), '\s+'),
                  w -> greatest(len(string_split_regex(w, '[aeiouy]+')) - 1, 1))) AS n_syllables
  FROM documents
)
SELECT doc_id,
       CAST(n_sentences AS BIGINT) AS n_sentences,
       CAST(n_words AS BIGINT) AS n_words,
       CAST(n_syllables AS BIGINT) AS n_syllables,
       CAST(206835
            - (1015 * ((n_words * 1000) // n_sentences)) // 1000
            - (84600 * ((n_syllables * 1000) // n_words)) // 1000
            AS BIGINT) AS flesch_milli
FROM counts
"""


@query("readability_flesch_scores", _FLESCH_ORACLE, tags=("text-quality", "readability"))
def readability_flesch_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document (round-5) — the classic
    readability signal quality pipelines threshold on, in
    INTEGER MILLI-UNITS: sentence count (non-empty [.!?]+ splits, min
    1), whitespace words, and vowel-group syllables (the standard
    heuristic: runs of [aeiouy], min 1/word) feed
    ``206.835 − 1.015·w/s − 84.6·syl/w`` with every division an
    integer div on non-negative operands — no float, no engine-ulp
    risk (the repo's floor-ppm discipline). All counting is JVM-side
    split/filter/aggregate higher-order functions — no UDF, one
    map-side pass."""
    docs = load_table(spark, sf_dir, "documents")
    n_sent = F.greatest(
        F.size(F.filter(F.split(F.col("text"), r"[.!?]+"), lambda s: F.trim(s) != "")),
        F.lit(1),
    )
    n_words = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    n_syl = F.aggregate(
        F.split(F.lower(F.col("text")), r"\s+"),
        F.lit(0),
        lambda acc, w: acc + F.greatest(F.size(F.split(w, r"[aeiouy]+")) - 1, F.lit(1)),
    )
    c = docs.select(
        "doc_id",
        n_sent.cast("bigint").alias("n_sentences"),
        n_words.cast("bigint").alias("n_words"),
        n_syl.cast("bigint").alias("n_syllables"),
    )
    return c.select(
        "doc_id",
        "n_sentences",
        "n_words",
        "n_syllables",
        F.expr(
            "CAST(206835 - (1015 * ((n_words * 1000) div n_sentences)) div 1000"
            " - (84600 * ((n_syllables * 1000) div n_words)) div 1000 AS BIGINT)"
        ).alias("flesch_milli"),
    )


_ARROW_STATS_ORACLE = """
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(min(n_chars) AS BIGINT) AS min_chars,
       CAST(max(n_chars) AS BIGINT) AS max_chars
FROM documents GROUP BY lang
"""


@query("arrow_grouped_lang_stats", _ARROW_STATS_ORACLE, tags=("arrow-native", "api"))
def arrow_grouped_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 Arrow-NATIVE grouped map (round-5 API coverage):
    ``groupBy().applyInArrow`` hands each group to Python as a
    pyarrow.Table with zero pandas conversion — the lowest-overhead
    custom-aggregation seam for logic the built-ins can't express
    (here deliberately simple per-lang stats so the identity oracle
    pins the API's correctness: grouping completeness, Arrow type
    mapping, and column round-trip). The rest of the repo's Python
    seams use mapInPandas/applyInPandas; this query documents
    the third, pandas-free lane and its batch shape."""
    import pyarrow as pa

    docs = load_table(spark, sf_dir, "documents")

    def stats(tbl: "pa.Table") -> "pa.Table":
        import pyarrow.compute as pc

        chars = tbl.column("n_chars")
        return pa.Table.from_pydict(
            {
                "lang": [tbl.column("lang")[0].as_py()],
                "n_docs": [tbl.num_rows],
                "total_chars": [pc.sum(chars).as_py()],
                "min_chars": [pc.min(chars).as_py()],
                "max_chars": [pc.max(chars).as_py()],
            }
        )

    return (
        docs.select("lang", "n_chars")
        .groupBy("lang")
        .applyInArrow(
            stats,
            "lang string, n_docs long, total_chars long, min_chars long, max_chars long",
        )
    )


# ---------------------------------------------------------------------------
# Tokenizer design: vocab-size coverage curve
# ---------------------------------------------------------------------------

_VOCAB_CURVE_ORACLE = """
WITH toks AS (
  SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
  FROM documents
),
counts AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token),
ranked AS (
  SELECT token, cnt, row_number() OVER (ORDER BY cnt DESC, token) AS rnk
  FROM (SELECT * FROM counts ORDER BY cnt DESC, token LIMIT 64)
),
tot AS (SELECT sum(cnt) AS total, count(*) AS n_types FROM counts),
ks AS (SELECT unnest([8, 16, 24, 32, 64]) AS k)
SELECT k,
       CAST(least(k, tot.n_types) AS INT) AS n_vocab_types,
       CAST(COALESCE(sum(r.cnt), 0) AS BIGINT) AS tokens_covered,
       CAST(tot.total AS BIGINT) AS total_tokens,
       CAST(COALESCE(sum(r.cnt), 0) * 1000000000 // tot.total AS BIGINT) AS coverage_nano
FROM ks CROSS JOIN tot LEFT JOIN ranked r ON r.rnk <= ks.k
GROUP BY k, tot.total, tot.n_types
"""


@query("vocab_coverage_curve", _VOCAB_CURVE_ORACLE, tags=("tokenizer", "text-vocab"))
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer vocabulary sizing report: for each candidate vocab
    size K, what fraction of corpus token OCCURRENCES the top-K
    frequency-ranked types would cover — the curve a tokenizer designer
    reads to pick a vocab size before training. Coverage is exact
    integer arithmetic (count × 1e9 div total), no floats.

    Scale shape: the only corpus-sized work is the token count
    (groupBy on token with map-side combine — the same single exchange
    every frequency query pays); the ranked head is top-64 via
    orderBy+limit ⇒ TakeOrderedAndProject, so the full vocabulary
    never funnels through a one-partition rank window, and the
    K-expansion is a literal 5-row frame cross-joined against ≤64
    ranked rows — driver-sized, broadcast, free."""
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tot = counts.agg(
        F.sum("cnt").alias("total"), F.count(F.lit(1)).alias("n_types")
    )
    head = counts.orderBy(F.desc("cnt"), F.asc("token")).limit(64)
    ranked = head.select(
        "cnt",
        F.row_number()
        .over(Window.orderBy(F.desc("cnt"), F.asc("token")))
        .alias("rnk"),
    )
    ks = spark.range(1).select(
        F.explode(F.array(*[F.lit(k) for k in (8, 16, 24, 32, 64)])).alias("k")
    )
    return (
        ks.crossJoin(F.broadcast(tot))
        .join(F.broadcast(ranked), F.col("rnk") <= F.col("k"), "left")
        .groupBy("k", "total", "n_types")
        .agg(F.coalesce(F.sum("cnt"), F.lit(0)).cast("bigint").alias("tokens_covered"))
        .select(
            "k",
            F.least(F.col("k"), F.col("n_types")).cast("int").alias("n_vocab_types"),
            "tokens_covered",
            F.col("total").cast("bigint").alias("total_tokens"),
            F.expr("CAST(tokens_covered * 1000000000 div total AS BIGINT)").alias(
                "coverage_nano"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Bigram-LM quality scoring (add-one smoothed, integer-exact)
# ---------------------------------------------------------------------------

_BIGRAM_LM_ORACLE = """
WITH docs AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t FROM documents
),
toks AS (SELECT doc_id, unnest(t) AS token FROM docs),
uni AS (SELECT token, count(*) AS c1 FROM toks GROUP BY token),
v AS (SELECT count(*) AS vsize FROM uni),
bi_stream AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(t)),
                i -> struct_pack(w1 := t[CAST(i AS INT)], w2 := t[CAST(i + 1 AS INT)]))) AS bg
  FROM docs WHERE len(t) >= 2
),
bi AS (SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM bi_stream),
bic AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY w1, w2),
scored AS (
  SELECT b.doc_id,
         (bic.c12 + 1) * 1000000000 // (uni.c1 + v.vsize) AS p_nano
  FROM bi b JOIN bic USING (w1, w2) JOIN uni ON b.w1 = uni.token CROSS JOIN v
)
SELECT doc_id, CAST(count(*) AS INT) AS n_bigrams,
       CAST(sum(p_nano) // count(*) AS BIGINT) AS avg_bigram_prob_nano,
       CAST(min(p_nano) AS BIGINT) AS min_bigram_prob_nano
FROM scored GROUP BY doc_id
"""


@query("bigram_lm_quality", _BIGRAM_LM_ORACLE, tags=("quality-lm", "tokenizer"))
def bigram_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM fluency scoring (the CCNet/KenLM-style perplexity
    filter one order up from ``unigram_lm_quality``): every document
    scored by the mean and minimum add-one-smoothed conditional bigram
    probability P(w2|w1) = (c(w1,w2)+1)/(c(w1)+V) of its adjacent token
    pairs, with the LM trained on the corpus itself. The MIN column is
    the disfluency detector — one never-seen transition drags it to the
    smoothing floor even when the mean looks fluent.

    Exactness: probabilities are fixed-pointed by INTEGER division
    ((c12+1)·1e9 div (c1+V)) before any aggregation, so sums are
    order-independent and both engines produce bit-equal BIGINTs —
    no transcendental functions, no float summation.

    Scale shape: the bigram stream is O(corpus tokens) rows built
    JVM-side from the split array (transform over a sequence — no
    Python); counts collapse map-side on (w1,w2); scoring is two
    equi-joins against count tables that are vocabulary-sized (≪
    corpus) plus a broadcast 1-row V — at web scale those count tables
    broadcast when they fit and hash-partition when they don't, never
    an all-pairs."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.trim(F.lower("text")), r"\s+").alias("t")
    )
    toks = docs.select(F.explode("t").alias("token"))
    uni = toks.groupBy("token").agg(F.count(F.lit(1)).alias("c1"))
    vsize = uni.agg(F.count(F.lit(1)).alias("vsize"))
    bi = docs.where(F.size("t") >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1),"
                " i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2))"
            )
        ).alias("bg"),
    ).select("doc_id", "bg.w1", "bg.w2")
    bic = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    scored = (
        bi.join(bic, ["w1", "w2"])
        .join(uni.withColumnRenamed("token", "w1"), "w1")
        .crossJoin(F.broadcast(vsize))
        .select(
            "doc_id",
            F.expr("(c12 + 1) * 1000000000 div (c1 + vsize)").alias("p_nano"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_bigrams"),
        F.expr("CAST(sum(p_nano) div count(1) AS BIGINT)").alias(
            "avg_bigram_prob_nano"
        ),
        F.min("p_nano").cast("bigint").alias("min_bigram_prob_nano"),
    )
