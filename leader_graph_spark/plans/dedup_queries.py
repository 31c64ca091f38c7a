"""Deduplication queries over the ``documents`` table with fully
SQL-expressible DuckDB oracles.

Every hash is md5-based (portable), every float op is an exact small
division or a rounded double, so the oracle reproduces the Spark
pipeline bit-for-bit — including the MinHash+LSH pipeline end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from leader_graph_spark.operators.dedup import (
    exact_dedup_keys,
    minhash_near_duplicates,
    ngram_jaccard_pairs,
    ngram_jaccard_pairs_prefix,
    simhash16,
)
from leader_graph_spark.plans.registry import query
from leader_graph_spark.sources.tables import load_table

SHINGLE_N = 3
NUM_HASHES = 16
BANDS = 4
THRESHOLD = 0.8

# Shared SQL fragment: distinct n-gram shingles per doc.
_SHINGLES_CTE = f"""
toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS tokens FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(tokens) - {SHINGLE_N} + 2),
                                 i -> array_to_string(tokens[i:i+{SHINGLE_N - 1}], ' '))) AS shingle
    FROM toks
  )
)
"""

_EXACT_ORACLE = """
SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS content_hash,
       min(doc_id) AS keep_id,
       count(*) AS n_dups
FROM documents GROUP BY 1
"""


@query("exact_dedup_docs", _EXACT_ORACLE, tags=("dedup-exact",))
def exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized-content hash, deterministic min-id
    winner — the hash-groupBy dedup every corpus pipeline starts with."""
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup_keys(docs, id_col="doc_id", text_col="text")


def _base_hash_sql(expr: str) -> str:
    """The leading md5 hex chars as an integer — mirrors Spark's
    ``conv(substring(md5(x),1,N),16,10)`` digit by digit (DuckDB has no
    ``conv``; value equality verified)."""
    from leader_graph_spark.operators.dedup import MINHASH_HEX_CHARS

    n = MINHASH_HEX_CHARS
    terms = [
        f"(instr('0123456789abcdef', substr(md5({expr}), {i + 1}, 1)) - 1) * {16 ** (n - 1 - i)}"
        for i in range(n)
    ]
    return "(" + " + ".join(terms) + ")"


def _sig_cols_sql() -> str:
    from leader_graph_spark.operators.dedup import MINHASH_PRIME, minhash_coeffs

    v = _base_hash_sql("shingle")
    return ",\n         ".join(
        f"min(({a} * {v} + {b}) % {MINHASH_PRIME}) AS s{s}"
        for s, (a, b) in enumerate(minhash_coeffs(NUM_HASHES))
    )


def _band_selects_sql() -> str:
    rows_per_band = NUM_HASHES // BANDS
    parts = []
    for b in range(BANDS):
        sig_concat = " || '|' || ".join(
            f"CAST(s{b * rows_per_band + r} AS VARCHAR)" for r in range(rows_per_band)
        )
        parts.append(
            f"SELECT doc_id, {b} AS band, md5({sig_concat}) AS key FROM sigs"
        )
    return "\nUNION ALL\n".join(parts)


_MINHASH_CTES = f"""{_SHINGLES_CTE},
sigs AS (
  SELECT doc_id,
         {_sig_cols_sql()}
  FROM sh GROUP BY doc_id
),
buckets AS (
{_band_selects_sql()}
),
cands AS (
  SELECT DISTINCT a.doc_id AS id_1, b.doc_id AS id_2
  FROM buckets a JOIN buckets b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.id_1, c.id_2, count(*) AS inter
  FROM cands c
  JOIN sh a ON a.doc_id = c.id_1
  JOIN sh b ON b.doc_id = c.id_2 AND b.shingle = a.shingle
  GROUP BY 1, 2
)"""

_MINHASH_FINAL = f"""
SELECT i.id_1, i.id_2,
       round(i.inter / CAST(sa.sz + sb.sz - i.inter AS DOUBLE), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.id_1
JOIN sizes sb ON sb.doc_id = i.id_2
WHERE i.inter / CAST(sa.sz + sb.sz - i.inter AS DOUBLE) >= {THRESHOLD}
"""

_MINHASH_ORACLE = f"WITH {_MINHASH_CTES}{_MINHASH_FINAL}"


@query("minhash_near_dup_docs", _MINHASH_ORACLE, bench=True, tags=("dedup-minhash-lsh",))
def minhash_near_dup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-duplicate detection, end-to-end: shingle →
    16-hash signature → 4-band LSH buckets → candidate pairs → exact
    Jaccard ≥ 0.8. The oracle reproduces every stage (md5 min-hashing
    is engine-portable)."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_near_duplicates(
        docs,
        id_col="doc_id",
        text_col="text",
        shingle_n=SHINGLE_N,
        num_hashes=NUM_HASHES,
        bands=BANDS,
        threshold=THRESHOLD,
    )


# Incremental dedup: docs with doc_id % 3 == 0 play the existing corpus
# index; the rest are the incoming batch scored against it.
_INCR_ORACLE = f"""
WITH {_SHINGLES_CTE},
sigs AS (
  SELECT doc_id,
         {_sig_cols_sql()}
  FROM sh GROUP BY doc_id
),
buckets AS (
{_band_selects_sql()}
),
cands AS (
  SELECT DISTINCT n.doc_id AS doc_id, i.doc_id AS dup_of
  FROM buckets n JOIN buckets i ON n.band = i.band AND n.key = i.key
  WHERE n.doc_id % 3 <> 0 AND i.doc_id % 3 = 0
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_id, c.dup_of, count(*) AS inter
  FROM cands c
  JOIN sh a ON a.doc_id = c.doc_id
  JOIN sh b ON b.doc_id = c.dup_of AND b.shingle = a.shingle
  GROUP BY 1, 2
),
verified AS (
  SELECT i.doc_id, i.dup_of,
         round(i.inter / CAST(sa.sz + sb.sz - i.inter AS DOUBLE), 6) AS jaccard
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.doc_id
  JOIN sizes sb ON sb.doc_id = i.dup_of
  WHERE i.inter / CAST(sa.sz + sb.sz - i.inter AS DOUBLE) >= {THRESHOLD}
),
best AS (
  SELECT doc_id, dup_of, jaccard FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY jaccard DESC, dup_of) AS rn
    FROM verified
  ) WHERE rn = 1
)
SELECT d.doc_id,
       b.dup_of IS NOT NULL AS is_duplicate,
       b.dup_of,
       COALESCE(b.jaccard, 0.0) AS jaccard
FROM documents d LEFT JOIN best b USING (doc_id)
WHERE d.doc_id % 3 <> 0
"""


@query("incremental_near_dup_batch", _INCR_ORACLE, tags=("dedup-minhash-lsh", "incremental"))
def incremental_near_dup_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: the new batch (doc_id % 3 != 0) scored
    against the existing corpus index (doc_id % 3 == 0) — new×index
    bucket collisions only, never index×index. The oracle reproduces
    signatures, banding, and the best-match selection end-to-end."""
    from leader_graph_spark.operators.dedup import incremental_near_dup

    docs = load_table(spark, sf_dir, "documents")
    return incremental_near_dup(
        docs.filter(F.col("doc_id") % 3 != 0),
        docs.filter(F.col("doc_id") % 3 == 0),
        id_col="doc_id",
        text_col="text",
        shingle_n=SHINGLE_N,
        num_hashes=NUM_HASHES,
        bands=BANDS,
        threshold=THRESHOLD,
    )


_NGRAM_ORACLE = f"""
WITH {_SHINGLES_CTE},
pairs AS (
  SELECT DISTINCT a.doc_id AS id_1, b.doc_id AS id_2
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.id_1, c.id_2, count(*) AS inter
  FROM pairs c
  JOIN sh a ON a.doc_id = c.id_1
  JOIN sh b ON b.doc_id = c.id_2 AND b.shingle = a.shingle
  GROUP BY 1, 2
)
SELECT i.id_1, i.id_2,
       round(i.inter / CAST(sa.sz + sb.sz - i.inter AS DOUBLE), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.id_1
JOIN sizes sb ON sb.doc_id = i.id_2
WHERE i.inter / CAST(sa.sz + sb.sz - i.inter AS DOUBLE) >= {THRESHOLD}
"""


@query("ngram_jaccard_dup_docs", _NGRAM_ORACLE, tags=("dedup-ngram-jaccard",))
def ngram_jaccard_dup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (the non-approximate baseline
    for the LSH path; also the recall yardstick)."""
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        docs, id_col="doc_id", text_col="text", shingle_n=SHINGLE_N, threshold=THRESHOLD
    )


def _h16_sql(tok_expr: str) -> str:
    terms = []
    for i in range(4):
        terms.append(
            f"(instr('0123456789abcdef', substr(md5({tok_expr}), {i + 1}, 1)) - 1) * {16 ** (3 - i)}"
        )
    return " + ".join(terms)


_SIMHASH_CTE = f"""
tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok FROM documents
),
h AS (
  SELECT doc_id, {_h16_sql('tok')} AS h16 FROM tok
),
votes AS (
  SELECT doc_id,
         {", ".join(f"sum(CASE WHEN floor(h16 / {1 << j}) % 2 = 1 THEN 1 ELSE -1 END) AS v{j}" for j in range(16))}
  FROM h GROUP BY doc_id
),
sims AS (
  SELECT doc_id,
         CAST({" + ".join(f"CASE WHEN v{j} > 0 THEN {1 << j} ELSE 0 END" for j in range(16))} AS INT) AS simhash
  FROM votes
)
"""

_SIMHASH_ORACLE = f"WITH {_SIMHASH_CTE} SELECT doc_id, simhash FROM sims"


@query("simhash_fingerprints", _SIMHASH_ORACLE, tags=("dedup-simhash",))
def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit frequency-weighted SimHash fingerprint per document
    (equal fingerprints → near-dup candidates). Bit arithmetic is
    md5-hex based so the oracle matches exactly."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash16(docs, id_col="doc_id", text_col="text")


_SIMHASH_PAIRS_ORACLE = f"""
WITH {_SIMHASH_CTE},
buckets AS (
  {" UNION ALL ".join(f"SELECT doc_id, simhash, {b} AS band, (simhash // {1 << (4 * b)}) % 16 AS key FROM sims" for b in range(4))}
),
cands AS (
  SELECT DISTINCT a.doc_id AS id_1, b.doc_id AS id_2,
         CAST(bit_count(xor(CAST(a.simhash AS BIGINT), CAST(b.simhash AS BIGINT))) AS INT) AS hamming
  FROM buckets a JOIN buckets b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
)
SELECT id_1, id_2, hamming FROM cands WHERE hamming <= 3
"""


@query("simhash_near_dup_pairs", _SIMHASH_PAIRS_ORACLE, bench=True, tags=("dedup-simhash-pairs",))
def simhash_near_dup_pairs_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: nibble-banded bucket join (4 bands of 4
    bits) + exact Hamming ≤ 3 verification. Pigeonhole makes the
    banding exact — any pair within distance 3 shares a whole band —
    so this is the deterministic-recall counterpart to MinHash-LSH,
    still an equi-join (no all-pairs scan) at scale."""
    from leader_graph_spark.operators.dedup import simhash_near_dup_pairs

    docs = load_table(spark, sf_dir, "documents")
    return simhash_near_dup_pairs(docs, id_col="doc_id", text_col="text")


def _canonical_oracle_sql(rounds: int = 4, final_select: str | None = None) -> str:
    """Unrolled min-label propagation over the minhash pair CTEs.
    ``final_select`` (over ``lbl{rounds}(id, comp)``) lets composed
    queries reuse the propagation; default emits the canonical rows."""
    parts = [
        f"pairs AS ({_MINHASH_FINAL})",
        "sym AS (SELECT id_1 AS src, id_2 AS dst FROM pairs"
        " UNION ALL SELECT id_2, id_1 FROM pairs)",
        "lbl0 AS (SELECT doc_id AS id, doc_id AS comp FROM documents)",
    ]
    for i in range(rounds):
        parts.append(
            f"""
lbl{i + 1} AS (
  SELECT l.id, least(l.comp, coalesce(nm.m, l.comp)) AS comp
  FROM lbl{i} l LEFT JOIN (
    SELECT s.src AS id, min(x.comp) AS m
    FROM sym s JOIN lbl{i} x ON s.dst = x.id
    GROUP BY s.src
  ) nm ON l.id = nm.id
)"""
        )
    tail = final_select or (
        f"SELECT id AS doc_id, comp AS canonical_id, id = comp AS is_kept FROM lbl{rounds}"
    )
    return f"WITH {_MINHASH_CTES},\n" + ",\n".join(parts) + "\n" + tail


@query(
    "dedup_canonical_docs",
    _canonical_oracle_sql(4),
    bench=True,
    tags=("dedup-canonical", "graph-cc"),
)
def dedup_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs clustered to groups (4 rounds of min-label
    propagation = transitive closure for small dedup clusters) with a
    deterministic min-id canonical election — the keep/drop verdict a
    training-data pipeline actually consumes. Oracle unrolls the
    propagation over the same minhash pair CTEs. Bench-flagged: this is
    the iterative-join (connected-components) cost tracked over the
    near-dup pair graph as data grows."""
    from leader_graph_spark.operators.dedup import canonical_near_dup_docs

    docs = load_table(spark, sf_dir, "documents")
    return canonical_near_dup_docs(
        docs,
        id_col="doc_id",
        text_col="text",
        shingle_n=SHINGLE_N,
        num_hashes=NUM_HASHES,
        bands=BANDS,
        threshold=THRESHOLD,
        rounds=4,
    )


_SPAN_K = 8

_SPAN_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS tokens FROM documents
),
docs AS (SELECT doc_id, CAST(len(tokens) AS BIGINT) AS n_tokens, tokens FROM toks),
grams0 AS (
  SELECT doc_id,
         unnest(list_transform(range(1, CAST(len(tokens) AS INTEGER) - {_SPAN_K} + 2),
                i -> {{'pos': i, 'gram': array_to_string(tokens[i:i+{_SPAN_K - 1}], ' ')}})) AS u
  FROM docs
),
grams AS (SELECT doc_id, u.pos AS pos, u.gram AS gram FROM grams0),
dup AS (
  SELECT gram FROM (SELECT DISTINCT gram, doc_id FROM grams)
  GROUP BY gram HAVING count(*) >= 2
),
hits AS (SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (gram)),
cov AS (
  SELECT doc_id,
         least({_SPAN_K}, coalesce(lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) - pos,
                                   {_SPAN_K})) AS c
  FROM hits
),
stats AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS dup_gram_positions,
         CAST(sum(c) AS BIGINT) AS covered_tokens
  FROM cov GROUP BY doc_id
)
SELECT d.doc_id,
       d.n_tokens,
       coalesce(s.dup_gram_positions, 0) AS dup_gram_positions,
       coalesce(s.covered_tokens, 0) AS covered_tokens,
       CAST(floor(1000000 * coalesce(s.covered_tokens, 0) / d.n_tokens) AS BIGINT) AS dup_ppm
FROM docs d LEFT JOIN stats s USING (doc_id)
"""


@query("dup_span_coverage", _SPAN_ORACLE, bench=True, tags=("dedup-span", "substring-dedup"))
def dup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplication coverage per document: fraction of
    each doc's tokens covered by word 8-grams occurring in ≥2 distinct
    docs (Lee et al. 2021 exact-substring dedup, as a per-doc filter
    signal). Spark shuffles 64-bit gram hashes; the oracle groups the
    gram text itself — identical output absent a 2^-64 collision."""
    from leader_graph_spark.operators.dedup import duplicated_span_coverage

    docs = load_table(spark, sf_dir, "documents")
    return duplicated_span_coverage(
        docs, id_col="doc_id", text_col="text", k=_SPAN_K, min_docs=2
    )


_EXCISE_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS tokens FROM documents
),
docs AS (SELECT doc_id, CAST(len(tokens) AS BIGINT) AS n_tokens, tokens FROM toks),
grams0 AS (
  SELECT doc_id,
         unnest(list_transform(range(1, CAST(len(tokens) AS INTEGER) - {_SPAN_K} + 2),
                i -> {{'pos': i, 'gram': array_to_string(tokens[i:i+{_SPAN_K - 1}], ' ')}})) AS u
  FROM docs
),
grams AS (SELECT doc_id, u.pos AS pos, u.gram AS gram FROM grams0),
dupown AS (
  SELECT gram, min(doc_id) AS owner
  FROM (SELECT DISTINCT gram, doc_id FROM grams)
  GROUP BY gram HAVING count(*) >= 2
),
cuts AS (
  SELECT g.doc_id, list_sort(list(DISTINCT g.pos)) AS cut_pos
  FROM grams g JOIN dupown d USING (gram)
  WHERE g.doc_id <> d.owner
  GROUP BY g.doc_id
),
kept AS (
  SELECT d.doc_id, d.n_tokens, d.tokens,
         list_filter(range(1, CAST(len(d.tokens) AS INTEGER) + 1),
                     t -> len(list_filter(coalesce(c.cut_pos, []),
                                          h -> h <= t AND t < h + {_SPAN_K})) = 0) AS keep_pos
  FROM docs d LEFT JOIN cuts c USING (doc_id)
)
SELECT doc_id, n_tokens,
       CAST(len(keep_pos) AS BIGINT) AS kept_tokens,
       coalesce(array_to_string(list_transform(keep_pos, t -> tokens[CAST(t AS INTEGER)]), ' '),
                '') AS clean_text
FROM kept
"""


@query("span_excised_docs", _EXCISE_ORACLE, tags=("dedup-span", "substring-dedup", "excision"))
def span_excised_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The transform half of substring dedup: documents rewritten with
    cross-doc duplicated 8-gram spans removed, one canonical occurrence
    kept corpus-wide (min-doc-id owner). Token drop/keep decided by
    nested JVM-side array lambdas — tokens never leave their row."""
    from leader_graph_spark.operators.dedup import excise_duplicated_spans

    docs = load_table(spark, sf_dir, "documents")
    return excise_duplicated_spans(
        docs, id_col="doc_id", text_col="text", k=_SPAN_K, min_docs=2
    )


@query(
    "ngram_jaccard_prefix_filtered",
    _NGRAM_ORACLE,
    bench=True,
    tags=("dedup-ngram-jaccard", "scale-twin"),
)
def ngram_jaccard_prefix_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE twin of ``ngram_jaccard_dup_docs``: identical output
    (same oracle) through All-Pairs/PPJoin prefix filtering instead of
    the full shingle self-join — only each doc's rarest
    ``|s|−⌈t·|s|⌉+1`` shingles enter the candidate join, with integer
    size bounds pruning the rest (``operators/dedup.py:
    ngram_jaccard_pairs_prefix``). This retires the one exact-Jaccard
    entry on the quadratic-yardstick list: the yardstick keeps its
    simple form, and this query IS the 100 TB plan, value-checked
    against the same oracle."""
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs_prefix(
        docs, id_col="doc_id", text_col="text", shingle_n=SHINGLE_N, t_num=4, t_den=5
    )


# Stopword-filtered Jaccard: shingles in more than MAX_DF docs leave
# the universe before pairing — the asymptotic defense for
# shared-vocabulary corpora where constant-relative-frequency phrases
# make prefix candidates grow ∝ N² (measured on the Zipf battery,
# SCALE.md round-5). max_df=3 is non-vacuous at sf0.01 (max shingle
# df there is 7; the filtered pair set differs from the exact one).
_STOPWORD_MAX_DF = 3

_STOPWORD_ORACLE = f"""
WITH {_SHINGLES_CTE},
dfreq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1),
fsh AS (
  SELECT s.doc_id, s.shingle FROM sh s JOIN dfreq d USING (shingle)
  WHERE d.df <= {_STOPWORD_MAX_DF}
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_1, b.doc_id AS id_2
  FROM fsh a JOIN fsh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS sz FROM fsh GROUP BY doc_id),
inter AS (
  SELECT c.id_1, c.id_2, count(*) AS inter
  FROM pairs c
  JOIN fsh a ON a.doc_id = c.id_1
  JOIN fsh b ON b.doc_id = c.id_2 AND b.shingle = a.shingle
  GROUP BY 1, 2
)
SELECT i.id_1, i.id_2,
       round(i.inter / CAST(sa.sz + sb.sz - i.inter AS DOUBLE), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.id_1
JOIN sizes sb ON sb.doc_id = i.id_2
WHERE i.inter / CAST(sa.sz + sb.sz - i.inter AS DOUBLE) >= {THRESHOLD}
"""


@query(
    "ngram_jaccard_stopword_filtered",
    _STOPWORD_ORACLE,
    tags=("dedup-ngram-jaccard", "stopword"),
)
def ngram_jaccard_stopword_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Df-capped (stopword-filtered) Jaccard pairs: boilerplate
    shingles (df > {max_df}) are removed from every doc's set before
    the prefix pipeline, and Jaccard is computed over the filtered
    sets — the prefix algorithm on a transformed input, completeness
    proof unchanged. This is the documented asymptotic cut for
    shared-vocabulary corpora (SCALE.md round-5: candidate fan-out
    per shingle bounded by max_df² regardless of corpus size, where
    the exact form's candidates grew ∝ N² before positional
    filtering and linger superlinear on the containment side after
    it). The oracle reproduces the same filtered-set semantics."""
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs_prefix(
        docs,
        id_col="doc_id",
        text_col="text",
        shingle_n=SHINGLE_N,
        t_num=4,
        t_den=5,
        max_df=_STOPWORD_MAX_DF,
    )


# Containment (asymmetric near-dup): |A∩B| / min(|A|,|B|) ≥ 0.9.
# The oracle is the NAIVE all-sharing-pairs form, so the hash match
# proves the operator's probe-side prefix filter is COMPLETE.
_CONTAIN_T_NUM, _CONTAIN_T_DEN = 9, 10

_CONTAINMENT_ORACLE = f"""
WITH {_SHINGLES_CTE},
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_1, b.doc_id AS id_2, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT i.id_1, i.id_2,
       CASE WHEN sa.sz < sb.sz THEN i.id_1
            WHEN sb.sz < sa.sz THEN i.id_2
            ELSE i.id_1 END AS contained_id,
       round(i.inter / CAST(least(sa.sz, sb.sz) AS DOUBLE), 6) AS containment
FROM inter i
JOIN sizes sa ON sa.doc_id = i.id_1
JOIN sizes sb ON sb.doc_id = i.id_2
WHERE {_CONTAIN_T_DEN} * i.inter >= {_CONTAIN_T_NUM} * least(sa.sz, sb.sz)
"""


@query(
    "containment_near_dup_pairs",
    _CONTAINMENT_ORACLE,
    bench=True,
    tags=("dedup-containment",),
)
def containment_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup detection (`operators/dedup.py:
    containment_pairs_prefix`): pairs where the smaller shingle set is
    ≥ 90% contained in the other — catches subset relations (quoted
    wire stories, re-releases with preambles) that symmetric Jaccard
    misses when the size ratio dilutes the union. The operator prunes
    candidates with a probe-side-only rarity prefix (no size filter —
    containment allows any ratio; the index side stays full, which is
    the standard containment-join shape); the oracle computes the
    naive all-sharing-pairs form, so the driver hash check proves the
    pruning misses nothing."""
    from leader_graph_spark.operators.dedup import containment_pairs_prefix

    docs = load_table(spark, sf_dir, "documents")
    return containment_pairs_prefix(
        docs,
        id_col="doc_id",
        text_col="text",
        shingle_n=SHINGLE_N,
        t_num=_CONTAIN_T_NUM,
        t_den=_CONTAIN_T_DEN,
    )


# Leakage-safe split: the train/val/test hash split keyed on the
# near-dup CLUSTER label instead of the doc id, so near-duplicates can
# never straddle splits (the eval-contamination bug a per-doc split
# silently commits whenever two near-dups hash to different buckets).
_LEAKAGE_FINAL = f"""
SELECT id AS doc_id, comp AS canonical_id,
       CASE WHEN ((instr('0123456789abcdef', substr(md5(CAST(comp AS VARCHAR)), 1, 1)) - 1) * 16
                + (instr('0123456789abcdef', substr(md5(CAST(comp AS VARCHAR)), 2, 1)) - 1)) < 204
            THEN 'train'
            WHEN ((instr('0123456789abcdef', substr(md5(CAST(comp AS VARCHAR)), 1, 1)) - 1) * 16
                + (instr('0123456789abcdef', substr(md5(CAST(comp AS VARCHAR)), 2, 1)) - 1)) < 230
            THEN 'val' ELSE 'test' END AS split
FROM lbl4
"""


@query(
    "leakage_safe_split",
    _canonical_oracle_sql(4, final_select=_LEAKAGE_FINAL),
    tags=("sampling", "dedup-canonical", "mlprep"),
)
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test split keyed on the near-dup cluster label
    (canonical id from min-label propagation) rather than the doc id —
    every member of a near-dup cluster lands in the SAME split, closing
    the eval-contamination hole `doc_hash_split` leaves open (a pair of
    near-dups whose ids hash to different buckets trains on one and
    evaluates on the other). Composition of two already-verified
    pieces: cluster labels (`dedup_canonical_docs`) + md5-bucket split
    (`doc_hash_split`), with the bucket computed on ``canonical_id``."""
    from leader_graph_spark.operators.dedup import canonical_near_dup_docs

    docs = load_table(spark, sf_dir, "documents")
    labels = canonical_near_dup_docs(
        docs,
        id_col="doc_id",
        text_col="text",
        shingle_n=SHINGLE_N,
        num_hashes=NUM_HASHES,
        bands=BANDS,
        threshold=THRESHOLD,
        rounds=4,
    )
    bucket = F.conv(
        F.substring(F.md5(F.col("canonical_id").cast("string")), 1, 2), 16, 10
    ).cast("int")
    return labels.select(
        "doc_id",
        "canonical_id",
        F.when(bucket < 204, "train")
        .when(bucket < 230, "val")
        .otherwise("test")
        .alias("split"),
    )


# Homoglyph-robust exact dedup: the skeleton both engines compute with
# the same auditable confusables map (operators/dedup.py).
from leader_graph_spark.operators.dedup import (  # noqa: E402
    _CONFUSABLE_FROM,
    _CONFUSABLE_TO,
    confusable_dedup_keys,
)

_HOMOGLYPH_ORACLE = f"""
SELECT md5(translate(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                     '{_CONFUSABLE_FROM}', '{_CONFUSABLE_TO}')) AS skeleton_hash,
       min(doc_id) AS keep_id,
       count(*) AS n_dups
FROM documents GROUP BY 1
"""


@query("homoglyph_dedup_docs", _HOMOGLYPH_ORACLE, tags=("dedup-exact", "adversarial"))
def homoglyph_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keyed on the confusable SKELETON (lower + whitespace
    collapse + homoglyph fold): spoofed duplicates that swap Latin
    letters for Cyrillic/Greek lookalikes — which defeat plain
    content-hash dedup byte-for-byte — collapse to one key. Same md5
    groupBy scale shape as ``exact_dedup_docs``; the fold is a single
    ``translate`` over an auditable map embedded identically in both
    engines. Compose with an upstream NFKC normalization when
    compatibility forms are in play."""
    docs = load_table(spark, sf_dir, "documents")
    return confusable_dedup_keys(docs, id_col="doc_id", text_col="text")


_CONTAIN_SW_ORACLE = f"""
WITH {_SHINGLES_CTE},
dfreq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1),
fsh AS (
  SELECT s.doc_id, s.shingle FROM sh s JOIN dfreq d USING (shingle)
  WHERE d.df <= {_STOPWORD_MAX_DF}
),
sizes AS (SELECT doc_id, count(*) AS sz FROM fsh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_1, b.doc_id AS id_2, count(*) AS inter
  FROM fsh a JOIN fsh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT i.id_1, i.id_2,
       CASE WHEN sa.sz < sb.sz THEN i.id_1
            WHEN sb.sz < sa.sz THEN i.id_2
            ELSE i.id_1 END AS contained_id,
       round(i.inter / CAST(least(sa.sz, sb.sz) AS DOUBLE), 6) AS containment
FROM inter i
JOIN sizes sa ON sa.doc_id = i.id_1
JOIN sizes sb ON sb.doc_id = i.id_2
WHERE {_CONTAIN_T_DEN} * i.inter >= {_CONTAIN_T_NUM} * least(sa.sz, sb.sz)
"""


@query(
    "containment_stopword_filtered",
    _CONTAIN_SW_ORACLE,
    tags=("dedup-containment", "stopword"),
)
def containment_stopword_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Df-capped containment pairs (round-5): shingles in more than
    {max_df} docs leave every set before the probe-prefix pipeline AND
    the verify — the measured defense for containment's residual
    quadratic candidate term: its probe-side-only prefix has no
    index-side rarity cut, and the 32× shared-vocabulary battery shows
    containment candidates doubling per corpus doubling where the
    positional-filtered Jaccard stays flat (SCALE.md round-5). Same
    transformed-input completeness argument as
    ``ngram_jaccard_stopword_filtered``; the oracle reproduces the
    filtered-set semantics."""
    from leader_graph_spark.operators.dedup import containment_pairs_prefix

    docs = load_table(spark, sf_dir, "documents")
    return containment_pairs_prefix(
        docs,
        id_col="doc_id",
        text_col="text",
        shingle_n=SHINGLE_N,
        t_num=_CONTAIN_T_NUM,
        t_den=_CONTAIN_T_DEN,
        max_df=_STOPWORD_MAX_DF,
    )


_CHAR_N = 12
_CHAR_T_NUM, _CHAR_T_DEN = 4, 5

_CHAR_JACCARD_ORACLE = f"""
WITH norm AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(t) - {_CHAR_N} + 2),
                                 i -> substr(t, i, {_CHAR_N}))) AS shingle
    FROM norm WHERE len(t) >= {_CHAR_N}
  )
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_1, b.doc_id AS id_2
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.id_1, c.id_2, count(*) AS inter
  FROM pairs c
  JOIN sh a ON a.doc_id = c.id_1
  JOIN sh b ON b.doc_id = c.id_2 AND b.shingle = a.shingle
  GROUP BY 1, 2
)
SELECT i.id_1, i.id_2,
       round(i.inter / CAST(sa.sz + sb.sz - i.inter AS DOUBLE), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.id_1
JOIN sizes sb ON sb.doc_id = i.id_2
WHERE {_CHAR_T_DEN} * i.inter >= {_CHAR_T_NUM} * (sa.sz + sb.sz - i.inter)
"""


@query("char_ngram_dup_docs", _CHAR_JACCARD_ORACLE, tags=("dedup-char-ngram", "cjk"))
def char_ngram_dup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHARACTER-n-gram Jaccard near-dup pairs (round-5): the CJK-safe
    dedup lane — the reference corpus is Chinese, where whitespace
    tokenization sees one token per sentence and every word-shingle
    operator silently degrades; sliding character windows
    (``operators/dedup.py:char_shingle_rows``) need no segmenter.
    Whitespace-normalized text, {n}-char windows, exact threshold as
    an integer cross product. The candidate stage is the SAME
    rarity-ordered prefix filter the word-shingle lane uses
    (``jaccard_prefix_candidates`` — the completeness proof never
    depended on what a shingle is): round-6's 10x replica battery
    caught the earlier naive shared-shingle join exceeding 240 s at
    50k docs (hot 12-char sequences fan out df² candidates), while the
    prefix form sends exactly those hot shingles to the suffix."""
    from leader_graph_spark.graph.algorithms import _release
    from leader_graph_spark.operators.dedup import (
        char_shingle_rows,
        jaccard_on_pairs,
        jaccard_prefix_candidates,
    )

    docs = load_table(spark, sf_dir, "documents").where(
        F.length(
            F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
        ) >= _CHAR_N
    )
    sh = char_shingle_rows(
        docs, id_col="doc_id", text_col="text", n=_CHAR_N
    ).localCheckpoint()
    # checkpoint the small candidate set, release the corpus-sized
    # shingle stream, verify on a lazily rebuilt stream — the
    # one-shot-checkpoint leak fix measured on the word-shingle twin
    # (operators/dedup.py: ngram_jaccard_pairs_prefix, round-8)
    cand = jaccard_prefix_candidates(
        sh, id_col="doc_id", t_num=_CHAR_T_NUM, t_den=_CHAR_T_DEN
    ).localCheckpoint()
    _release(sh)
    jac = jaccard_on_pairs(
        cand,
        char_shingle_rows(docs, id_col="doc_id", text_col="text", n=_CHAR_N),
        id_col="doc_id",
    )
    return jac.where(F.col("jaccard") >= _CHAR_T_NUM / _CHAR_T_DEN).select(
        "id_1", "id_2", F.round("jaccard", 6).alias("jaccard")
    )
