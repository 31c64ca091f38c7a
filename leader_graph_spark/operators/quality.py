"""Corpus-hygiene operators for training-data pipelines: Gopher-style
repetition signals and PII redaction.

Beyond the reference surface (its quality gates are per-field name and
content validity checks, ``leader/bio_processor.py``); these are the
document-level quality signals a 100 TB pretraining corpus needs
(repetition filtering following the Gopher/MassiveText rules, adapted
to word n-grams; regex PII scrubbing).

Scale design: everything is keyed by document id — n-gram counting is
a (doc_id, gram) groupBy with map-side partial aggregation and no
cross-document state, so there is no skew surface and no global stage;
PII redaction is a pure map-side regexp cascade inside whole-stage
codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from leader_graph_spark.operators.dedup import shingle_array, tokens
from leader_graph_spark.sources.tables import fan_out

# Redaction patterns — kept inside the Java-regex/RE2 common subset
# (character classes, bounded repeats, ASCII \b) so the DuckDB oracle
# evaluates the identical expressions.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+\d[\d -]{6,}\d"
IP_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def repetition_signals(
    df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document repetition ratios (the Gopher repetition rules on
    word n-grams — the test corpus has no line structure):

    - ``dup_word_ratio``: 1 − distinct/total words;
    - ``top_2gram`` / ``top_2gram_ratio``: the most frequent word
      2-gram (count-desc, gram-asc tie-break) and the fraction of the
      document's characters its occurrences cover;
    - ``dup_5gram_ratio``: fraction of characters covered by 5-grams
      that occur more than once.

    Character coverage is ``count × length(gram)`` over ``length(text)``
    — occurrences may overlap, so ratios can exceed 1 on degenerate
    docs; the signal is monotone in repetition either way, which is
    what the filter thresholds need. All ratios round to 6 decimals
    (single double division → engine-portable).
    """
    base = fan_out(df).select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("text"),
        F.length(text_col).cast("double").alias("n_chars"),
        tokens(text_col).alias("toks"),
    )
    words = base.select(
        "doc_id",
        "n_chars",
        F.size("toks").alias("n_words"),
        F.size(F.array_distinct("toks")).alias("n_distinct_words"),
    )
    g2 = base.select(
        "doc_id", "n_chars", F.explode(shingle_array(F.col("text"), 2)).alias("gram")
    )
    c2 = g2.groupBy("doc_id", "gram").agg(
        F.count(F.lit(1)).alias("cnt"), F.first("n_chars").alias("n_chars")
    )
    w_top = Window.partitionBy("doc_id").orderBy(F.desc("cnt"), F.asc("gram"))
    top2 = (
        c2.withColumn("rn", F.row_number().over(w_top))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("gram").alias("top_2gram"),
            F.round(F.col("cnt") * F.length("gram") / F.col("n_chars"), 6).alias(
                "top_2gram_ratio"
            ),
        )
    )
    g5 = base.select(
        "doc_id", F.explode(shingle_array(F.col("text"), 5)).alias("gram")
    )
    c5 = g5.groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("cnt"))
    dup5 = c5.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("cnt") >= 2, F.col("cnt") * F.length("gram")).otherwise(0)
        ).alias("dup_chars")
    )
    return (
        words.join(top2, "doc_id", "left")
        .join(dup5, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_words").cast("int").alias("n_words"),
            F.round(
                F.lit(1.0) - F.col("n_distinct_words") / F.col("n_words").cast("double"),
                6,
            ).alias("dup_word_ratio"),
            F.coalesce("top_2gram", F.lit("")).alias("top_2gram"),
            F.coalesce("top_2gram_ratio", F.lit(0.0)).alias("top_2gram_ratio"),
            F.round(
                F.coalesce(F.col("dup_chars"), F.lit(0)) / F.col("n_chars"), 6
            ).alias("dup_5gram_ratio"),
        )
    )


def remove_boilerplate_lines(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    min_doc_frequency: int = 10,
) -> DataFrame:
    """CCNet/C4-style line-level dedup: drop every line that occurs in
    at least ``min_doc_frequency`` distinct documents (navigation bars,
    cookie banners, boilerplate footers), preserving the remaining
    lines in document order.

    Scale design: the line-frequency table is vocabulary-sized, but the
    BLOCKLIST — lines repeated across ≥ ``min_doc_frequency`` docs — is
    tiny by construction (boilerplate is few distinct strings repeated
    massively), so it is broadcast and the removal pass is a map-side
    broadcast anti-join on the line hash; the corpus lines never
    shuffle for the removal. The only full shuffles are the
    (line-hash → distinct-doc-count) aggregation (map-side combinable)
    and the per-doc reassembly groupBy. Lines are keyed by
    ``md5(trim(lower(line)))`` so shuffle keys stay 32 bytes regardless
    of line length.

    Output: (doc_id, cleaned_text, n_lines, n_removed).
    """
    base = fan_out(df).select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    )
    lines = base.select(
        "doc_id", F.posexplode(F.split("text", sep)).alias("pos", "line")
    ).withColumn("lh", F.md5(F.trim(F.lower("line"))))
    blocklist = (
        lines.groupBy("lh")
        .agg(F.count_distinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= min_doc_frequency)
        .select("lh")
    )
    kept = lines.join(F.broadcast(blocklist), "lh", "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s.line,
            ),
            sep,
        ).alias("cleaned_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    return (
        base.select("doc_id", F.size(F.split("text", sep)).alias("n_lines"))
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cleaned_text", F.lit("")).alias("cleaned_text"),
            F.col("n_lines").cast("int").alias("n_lines"),
            (F.col("n_lines") - F.coalesce("n_kept", F.lit(0)))
            .cast("int")
            .alias("n_removed"),
        )
    )


def redact_pii(
    df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Scrub emails, phone numbers, and IPv4 addresses from a text
    column, counting each redaction type. Counts are measured on the
    original text; the redaction cascade applies email → IP → phone so
    the placeholder tokens cannot be re-matched by a later pattern.
    Pure map-side (regexp inside codegen) — no shuffle, no UDF.
    Output: (doc_id, redacted_text, n_emails, n_phones, n_ips)."""
    t = F.col(text_col)
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, EMAIL_RE, "<EMAIL>"), IP_RE, "<IP>"
        ),
        PHONE_RE,
        "<PHONE>",
    )
    return fan_out(df).select(
        F.col(id_col).alias("doc_id"),
        redacted.alias("redacted_text"),
        F.regexp_count(t, F.lit(EMAIL_RE)).cast("int").alias("n_emails"),
        F.regexp_count(t, F.lit(PHONE_RE)).cast("int").alias("n_phones"),
        F.regexp_count(t, F.lit(IP_RE)).cast("int").alias("n_ips"),
    )


def unigram_lm_scores(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int = 1000,
) -> DataFrame:
    """CCNet-style language-model quality scoring with a unigram LM
    trained on the corpus itself: each document is scored by the mean
    corpus probability of its tokens plus its out-of-vocabulary ratio —
    low-probability / high-OOV docs are the gibberish a pretraining
    corpus filters out.

    The LM is the top-``vocab_size`` tokens by corpus frequency
    (count-desc, token-asc tie-break); out-of-vocab tokens get the
    floor probability 1/total. Probabilities are fixed-pointed to
    nano-units (``floor(p × 1e9)`` — single IEEE multiply+floor, so
    both engines agree bit-for-bit) BEFORE the per-doc sum: summing
    BIGINTs is order-independent, which is what makes a distributed
    aggregation of irrational-ish doubles value-hashable. (Log-space
    scoring would hit engine-specific ``ln`` rounding; the arithmetic
    mean keeps the same ordering signal for filtering.)

    Scale design: token counting is a map-side-combinable groupBy; the
    vocabulary is a top-K over the (small) distinct-token table and is
    BROADCAST for the scoring join, so the corpus tokens never shuffle
    on token — only the per-doc aggregation shuffles, keyed by doc id.

    Output: (doc_id, n_tokens, oov_ratio, avg_token_prob_nano).
    The mean probability stays in integer nano-units (floor of the
    single sum/count double division) — a 9-decimal round sits exactly
    at double noise and trips engine round-half differences.
    """
    base = fan_out(df).select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(text_col)).alias("token"),
    )
    counts = base.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("total"))
    # orderBy+limit compiles to TakeOrderedAndProject (per-partition
    # top-K then a K-row merge) — never a single-partition sort of the
    # full vocabulary, unlike a global row_number window
    vocab = (
        counts.orderBy(F.desc("cnt"), F.asc("token"))
        .limit(vocab_size)
        .crossJoin(F.broadcast(total))
        .select(
            "token",
            F.floor(F.col("cnt") / F.col("total") * 1e9)
            .cast("bigint")
            .alias("p_nano"),
        )
    )
    floor_nano = F.floor(F.lit(1.0) / F.col("total") * 1e9).cast("bigint")
    scored = (
        base.join(F.broadcast(vocab), "token", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            # distinct alias: reusing "p_nano" would trip Spark 4's
            # implicit lateral column aliasing for the is_oov reference
            F.coalesce("p_nano", floor_nano).alias("p_nano_eff"),
            F.col("p_nano").isNull().cast("int").alias("is_oov"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_tokens"),
        F.round(F.sum("is_oov") / F.count(F.lit(1)).cast("double"), 6).alias(
            "oov_ratio"
        ),
        F.floor(F.sum("p_nano_eff") / F.count(F.lit(1)).cast("double"))
        .cast("bigint")
        .alias("avg_token_prob_nano"),
    )
