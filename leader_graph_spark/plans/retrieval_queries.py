"""Retrieval & matching queries: BM25 ranking, fuzzy string-pair
entity resolution, and co-occurrence link prediction.

These extend the engine past the reference's exact-match joins
(``utils/name_utils.py`` cleans then equality-matches names;
``src/mysql2neo4j.py`` builds edges from exact keys) with the ranked /
approximate retrieval surfaces a training-data pipeline needs: scoring
documents against a term query (corpus search for data curation),
matching near-identical entity names (fuzzy dedup), and predicting
links from shared neighbors (graph completion).

Determinism notes (driver hashes values): every floating-point score is
collapsed to fixed-point integers via the engine-portable
``floor(x * unit + 0.5)`` pattern before any SUM, so aggregation order
can never change a result; expressions are parenthesized identically in
the Spark and DuckDB forms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from leader_graph_spark.operators.pairs import keyed_pairs
from leader_graph_spark.plans.registry import query
from leader_graph_spark.sources.tables import fan_out, load_table

# ---------------------------------------------------------------------------
# BM25 ranked retrieval
# ---------------------------------------------------------------------------

_BM25_TERMS = ("spark", "vector", "stream")
_BM25_K1 = 1.2
_BM25_B = 0.75

_BM25_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
  FROM documents
),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
g AS (
  SELECT count(*) AS n_docs,
         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
  FROM dl
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks
  WHERE term IN ('spark', 'vector', 'stream')
  GROUP BY doc_id, term
),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT t.doc_id,
         CAST(floor(
           ln(1.0 + (g.n_docs - d.df + 0.5) / (d.df + 0.5))
           * ((t.tf * {_BM25_K1 + 1.0}) / (t.tf + {_BM25_K1} * (0.25 + {_BM25_B} * (CAST(l.dl AS DOUBLE) / g.avgdl))))
           * 1000000000.0 + 0.5) AS BIGINT) AS nano
  FROM tf t
  JOIN dl l USING (doc_id)
  JOIN df d USING (term)
  CROSS JOIN g
)
SELECT doc_id, CAST(count(*) AS INT) AS n_terms_hit,
       CAST(sum(nano) AS BIGINT) AS score_nano
FROM scored GROUP BY doc_id
ORDER BY score_nano DESC, doc_id
LIMIT 20
"""


@query("bm25_retrieval_topk", _BM25_ORACLE, tags=("retrieval", "bm25", "text"))
def bm25_retrieval_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 (Robertson/Lucene variant, k1=1.2 b=0.75) top-20 documents
    for a fixed 3-term query — ranked corpus retrieval for data
    curation ("find training docs about X").

    Scale shape: the corpus is tokenized ONCE; per-doc length and
    per-(doc, matched-term) tf are map-side-combinable groupBys; the
    document-frequency table (|query| rows) and the 1-row corpus
    globals broadcast back onto tf, so the only data-sized shuffle is
    the tf aggregation itself, whose key space is |docs|·|query terms|.
    The final top-20 is orderBy().limit() ⇒ TakeOrderedAndProject, not
    a global sort. Per-term contributions are collapsed to nano-unit
    integers (floor(x·1e9+0.5), the portable rounding used by the
    quantization report) so the per-doc SUM is order-free and
    engine-exact under the driver's value hash.
    """
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("term")
    )
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl")).localCheckpoint()
    g = dl.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    tf = (
        toks.where(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint()
    )
    df = tf.groupBy("term").agg(F.count("*").alias("df"))

    idf = F.log(
        F.lit(1.0) + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    norm = F.lit(0.25) + F.lit(_BM25_B) * (F.col("dl").cast("double") / F.col("avgdl"))
    contrib = idf * (
        (F.col("tf") * F.lit(_BM25_K1 + 1.0)) / (F.col("tf") + F.lit(_BM25_K1) * norm)
    )
    scored = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(g))
        .select(
            "doc_id",
            F.floor(contrib * F.lit(1000000000.0) + F.lit(0.5)).cast("bigint").alias("nano"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_terms_hit"),
            F.sum("nano").cast("bigint").alias("score_nano"),
        )
        .orderBy(F.desc("score_nano"), F.asc("doc_id"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Fuzzy name-pair matching (entity resolution)
# ---------------------------------------------------------------------------

_FUZZY_ORACLE = """
SELECT a.c_name AS name_a, b.c_name AS name_b,
       CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
FROM customer a JOIN customer b ON a.c_name < b.c_name
WHERE levenshtein(a.c_name, b.c_name) <= 1
"""


@query("fuzzy_customer_name_pairs", _FUZZY_ORACLE, tags=("stringsim", "entity-resolution"))
def fuzzy_customer_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All customer-name pairs within Levenshtein distance 1, via the
    symmetric-delete neighborhood join (``operators/stringsim.py``) —
    exact output, no cross join. The oracle IS the naive O(n²)
    levenshtein cross join, so the blocking scheme's completeness is
    value-checked, not assumed. Note the q-gram count filter would
    degenerate here (every name shares the "Customer#0…" template
    grams); deletion neighborhoods don't care about shared templates.
    """
    from leader_graph_spark.operators.stringsim import similar_string_pairs

    customer = fan_out(load_table(spark, sf_dir, "customer"))
    return similar_string_pairs(customer, "c_name", k=1)


# ---------------------------------------------------------------------------
# Link prediction from shared neighbors (resource-allocation index)
# ---------------------------------------------------------------------------

_LINKPRED_ORACLE = """
WITH cp AS (
  SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
deg AS (
  SELECT part, 1000000000000 // count(*) AS wt
  FROM cp GROUP BY part HAVING count(*) BETWEEN 2 AND 40
),
pairs AS (
  SELECT a.cust AS cust_a, b.cust AS cust_b, d.wt
  FROM cp a
  JOIN cp b ON a.part = b.part AND a.cust < b.cust
  JOIN deg d ON d.part = a.part
)
SELECT cust_a, cust_b, CAST(count(*) AS INT) AS n_common_parts,
       CAST(sum(wt) AS BIGINT) AS ra_score_pico
FROM pairs GROUP BY cust_a, cust_b
ORDER BY ra_score_pico DESC, cust_a, cust_b
LIMIT 50
"""


@query(
    "copurchase_link_prediction",
    _LINKPRED_ORACLE,
    tags=("graph", "link-prediction", "resource-allocation"),
)
def copurchase_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 predicted customer links by the resource-allocation index
    over the customer–part co-purchase bipartite graph:
    RA(a, b) = Σ_{shared part p} 1/deg(p), favoring pairs that share
    *rare* parts — the link-prediction primitive behind
    recommend-similar-entities over the reference's graph
    (``src/mysql2neo4j.py`` builds the edges; it never scores
    candidate links).

    Scale shape: the bipartite edge list is distinct'd once (map-side
    combinable); the part-degree table broadcasts; the pair expansion
    self-joins co-partitioned on part, and the degree cap (≤40 distinct
    customers) bounds the per-part blowup at deg² — the standard
    super-node drop for neighbor-based link prediction (a part bought
    by everyone predicts nothing and would alone produce O(n²) pairs;
    the cap is part of the operator's semantics, mirrored in the
    oracle). 1/deg is held as the exact integer 10¹² div deg so the
    per-pair SUM is order-free; top-50 via TakeOrderedAndProject.
    """
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    cp = (
        orders.select("o_orderkey", F.col("o_custkey").alias("cust"))
        .join(lineitem.select("l_orderkey", F.col("l_partkey").alias("part")),
              F.col("o_orderkey") == F.col("l_orderkey"))
        .select("cust", "part")
        .distinct()
        .localCheckpoint()
    )
    deg = (
        cp.groupBy("part")
        .agg(F.count("*").alias("deg"))
        .where((F.col("deg") >= 2) & (F.col("deg") <= 40))
        .select("part", F.expr("1000000000000L div deg").alias("wt"))
    )
    # Broadcast the capped-degree table onto ONE side before the pair
    # expansion: super-node parts never reach the self-join at all.
    capped = cp.join(F.broadcast(deg), "part")
    pairs = keyed_pairs(capped, ["part"], "cust", other=cp).select(
        F.col("a.cust").alias("cust_a"),
        F.col("b.cust").alias("cust_b"),
        F.col("a.wt").alias("wt"),
    )
    return (
        pairs.groupBy("cust_a", "cust_b")
        .agg(
            F.count("*").cast("int").alias("n_common_parts"),
            F.sum("wt").cast("bigint").alias("ra_score_pico"),
        )
        .orderBy(F.desc("ra_score_pico"), F.asc("cust_a"), F.asc("cust_b"))
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Positional phrase search
# ---------------------------------------------------------------------------

_PHRASE_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term,
         generate_subscripts(string_split_regex(trim(lower(text)), '\\s+'), 1) AS pos
  FROM documents
),
seq AS (
  SELECT doc_id, term,
         lead(term) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
  FROM toks
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_occurrences
FROM seq WHERE term = 'spark' AND nxt = 'vector'
GROUP BY doc_id
"""


@query("phrase_search_bigram", _PHRASE_ORACLE, tags=("retrieval", "phrase-search"))
def phrase_search_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search ("spark vector", adjacent tokens in order)
    via a positional token index — what BM25's bag-of-words scoring
    cannot express, and the second retrieval primitive of corpus
    curation (find *exact* contexts, e.g. for contamination review or
    prompt-template mining).

    Scale shape: ``posexplode`` keeps (doc, position) at tokenize time
    — the positional index IS the token stream, no second pass; the
    adjacency test is one lead() window per doc partition, and
    occurrence counts reduce on doc_id, so the whole plan is a single
    shuffle of the token stream on doc_id. Overlapping matches count
    individually (a b a b → the oracle window counts each start)."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    from pyspark.sql import Window

    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.trim(F.lower("text")), r"\s+")).alias("pos", "term"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    seq = toks.select("doc_id", "term", F.lead("term").over(w).alias("nxt"))
    return (
        seq.where((F.col("term") == "spark") & (F.col("nxt") == "vector"))
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_occurrences"))
    )
