"""Dedup & similarity operator unit tests (beyond the oracle parity
suite): LSH recall vs brute force, exact-dedup semantics on crafted
duplicates."""

from __future__ import annotations

from pyspark.sql import functions as F

from leader_graph_spark.operators.dedup import (
    exact_dedup_keys,
    minhash_near_duplicates,
    shingle_rows,
)
from leader_graph_spark.operators.similarity import ann_lsh_topk, brute_force_topk


def test_exact_dedup_normalizes_whitespace_and_case(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "different text")],
        "doc_id int, text string",
    )
    out = {r.content_hash: r for r in exact_dedup_keys(df, id_col="doc_id", text_col="text").collect()}
    assert len(out) == 2
    dup = [r for r in out.values() if r.n_dups == 2][0]
    assert dup.keep_id == 1


def test_shingles_short_doc_empty(spark):
    df = spark.createDataFrame([(1, "one two")], "doc_id int, text string")
    assert shingle_rows(df, id_col="doc_id", text_col="text", n=3).count() == 0


def test_minhash_finds_planted_near_dup(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    far = "completely unrelated words describing spark query engines at scale now"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id int, text string"
    )
    out = minhash_near_duplicates(
        df, id_col="doc_id", text_col="text", threshold=0.5
    ).collect()
    pairs = {(r.id_1, r.id_2) for r in out}
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_ann_lsh_recall_vs_bruteforce(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(200)
    exact = brute_force_topk(emb, k=1).select("id", "neighbor_id")
    approx = ann_lsh_topk(emb, k=5, n_planes=4, n_tables=4, dim=64).select(
        "id", F.col("neighbor_id").alias("approx_nbr")
    )
    hits = exact.join(
        approx, (exact.id == approx.id) & (exact.neighbor_id == approx.approx_nbr)
    ).count()
    total = exact.count()
    # 4 tables × 4 planes (OR-amplified): nearest-neighbor cosines in
    # this data are weak (~0.33), so recall ~0.4-0.6 is expected.
    assert hits / total > 0.35, f"recall {hits}/{total}"


def test_lsh_seam_width_leaves_rows_unchanged(spark, sf_smoke):
    """With the corpus count observed, ``ann_lsh_topk`` narrows its
    verify exchange to ``LSH_ROWS_PER_TASK`` rows per task; at 1 row per
    task it keeps the cores-wide default. Both give the same rows."""
    from unittest import mock

    from leader_graph_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_smoke}/embeddings.parquet").limit(50)
    outs = []
    for rows_per_task in (similarity.LSH_ROWS_PER_TASK, 1):
        with mock.patch.object(similarity, "LSH_ROWS_PER_TASK", rows_per_task):
            out = ann_lsh_topk(emb, k=5, dim=64, target_bucket=1024)
        plan = out._jdf.queryExecution().analyzed().toString()
        outs.append((out, "RepartitionByExpression [table" in plan))
    (narrow, narrowed), (wide, widened) = outs
    assert narrowed and not widened
    assert narrow.exceptAll(wide).count() == 0 and wide.exceptAll(narrow).count() == 0
    assert narrow.count() > 0


def test_ann_ivf_structure(spark, sf_dir):
    from leader_graph_spark.operators.similarity import ann_ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(200)
    out = ann_ivf_topk(emb, k=5, centroid_mod=40)
    rows = out.collect()
    assert len(rows) > 0
    by_id = {}
    for r in rows:
        by_id.setdefault(r.id, []).append(r.rank)
    # ranks are 1..k contiguous per id, never exceeding k
    assert all(sorted(v) == list(range(1, len(v) + 1)) and len(v) <= 5 for v in by_id.values())


def test_news_extraction_fixture(spark):
    from leader_graph_spark.operators.llm import news_extraction

    text = "李强书记在浦东新区调研集成电路、人工智能等。陪同的有张三、李四等。"
    df = spark.createDataFrame([(1, text)], "id int, body string")
    out = news_extraction(df, id_col="id", text_col="body").collect()[0].news
    assert out.leader == "李强"
    assert out.location == "浦东新区"
    assert out.event == "调研"
    assert out.targets == ["集成电路", "人工智能"]
    assert out.accompanying == ["张三", "李四"]


def test_news_extraction_two_officials():
    """Two title suffixes in one sentence: greedy backtracking used to
    capture '张伟书记和李明' as the leader; the lazy quantifier stops at
    the first suffix."""
    from leader_graph_spark.operators.llm import FakeNewsBackend

    out = FakeNewsBackend().extract_news("张伟书记和李明市长在杨浦区考察高校科研平台等。")
    assert out["leader"] == "张伟"
    assert out["location"] == "杨浦区"
    assert out["event"] == "考察"


def test_kmeans_inertia_nonincreasing(spark, sf_smoke):
    from pyspark.sql import functions as F

    from leader_graph_spark.operators.clustering import kmeans_fixed_point
    from leader_graph_spark.sources.tables import load_table

    emb = load_table(spark, sf_smoke, "embeddings")
    inertia = []
    for iters in (1, 2, 3):
        a = kmeans_fixed_point(emb, k=8, iterations=iters)
        inertia.append(a.agg(F.sum("sq_dist")).collect()[0][0])
        assert a.select("cid").distinct().count() <= 8
    # Lloyd's algorithm: total inertia is non-increasing per iteration.
    assert inertia[0] >= inertia[1] >= inertia[2]


def test_srp_near_dup_high_threshold_recall(spark, sf_dir):
    """Planted near-duplicates (v + tiny perturbation => cosine ~0.999)
    must survive SRP bucketing at the production 0.95 threshold: at that
    similarity the 4-plane/4-table collision probability is ~0.997 per
    pair, and verification guarantees zero false positives."""
    from leader_graph_spark.operators.similarity import (
        embedding_near_duplicates,
        srp_near_duplicates,
    )

    base = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "embedding")
        .limit(100)
    )
    # near-dup twin of every vector: flip the last component's sign bit
    # a little (id offset 100000 keeps ids disjoint)
    twin = base.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding", lambda x, i: x + F.when(i == 0, F.lit(1e-3)).otherwise(F.lit(0.0))
        ).cast("array<float>").alias("embedding"),
    )
    both = base.unionByName(twin)
    exact = {
        (r.id_1, r.id_2)
        for r in embedding_near_duplicates(both, threshold=0.95).collect()
    }
    approx = {
        (r.id_1, r.id_2)
        for r in srp_near_duplicates(both, threshold=0.95).collect()
    }
    assert approx <= exact, "LSH must not invent pairs (exact verification)"
    assert len(exact) >= 100, "every planted twin is a near-dup"
    assert len(approx & exact) / len(exact) >= 0.95, (
        f"recall {len(approx & exact)}/{len(exact)}"
    )


def test_semantic_dedup_crafted_duplicates(spark):
    """Two semantic duplicate groups + one singleton, k=2 clusters:
    min-id wins within each duplicate set; cross-cluster similarity is
    never compared (the SemDeDup blocking contract)."""
    from leader_graph_spark.operators.dedup import semantic_dedup

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.99, 0.01, 0.0, 0.0]),   # ~dup of 0
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.01, 0.995, 0.0, 0.0]),  # ~dup of 2
        (4, [0.0, 0.0, 1.0, 0.0]),     # singleton direction
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    # τ² = 81/100 (τ=0.9) — well above any cross-group cosine here.
    out = {
        r.vec_id: r.kept
        for r in semantic_dedup(
            df, k=2, iterations=2, tau2_num=81, tau2_den=100
        ).collect()
    }
    assert len(out) == 5
    assert out[0] and out[2] and out[4]          # group minima + singleton survive
    dropped = {vid for vid, kept in out.items() if not kept}
    assert dropped <= {1, 3} and len(dropped) >= 1
    # Whichever of 1/3 shares a cluster with its group minimum is dropped;
    # with k=2 seeds (ids 0,1) at least one group collapses.


def test_dup_span_coverage_crafted(spark):
    """Span-level dedup on crafted docs: a phrase shared by two docs is
    counted with correct interval-union coverage; a unique doc reports
    zero; within-doc-only repetition does NOT count (min_docs=2 is
    distinct DOCS, not occurrences)."""
    from leader_graph_spark.operators.dedup import duplicated_span_coverage

    shared = "the quick brown fox jumps over the lazy dog tonight"  # 10 words
    docs = [
        (1, f"alpha beta {shared} gamma delta"),       # 14 tokens, shared at pos 3..12
        (2, f"{shared} epsilon zeta eta theta iota"),  # 15 tokens, shared at pos 1..10
        (3, "one two three four five six seven eight nine ten eleven"),  # unique
        (4, "rep rep rep rep rep rep rep rep rep rep rep rep"),  # within-doc only
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in duplicated_span_coverage(
            df, id_col="doc_id", text_col="text", k=8, min_docs=2
        ).collect()
    }
    # 10-word shared run => 3 duplicated 8-gram start positions,
    # union covers exactly the 10 shared tokens.
    assert out[1].dup_gram_positions == 3 and out[1].covered_tokens == 10
    assert out[2].dup_gram_positions == 3 and out[2].covered_tokens == 10
    assert out[1].n_tokens == 14 and out[1].dup_ppm == 1000000 * 10 // 14
    assert out[3].covered_tokens == 0 and out[3].dup_ppm == 0
    assert out[4].covered_tokens == 0  # repeats only within one doc


def test_excise_duplicated_spans_keep_one(spark):
    """Span excision keeps exactly one canonical occurrence (min doc id
    owns the gram); the owner's text is untouched, the other doc loses
    the covered tokens; unique docs pass through verbatim."""
    from leader_graph_spark.operators.dedup import excise_duplicated_spans

    shared = "the quick brown fox jumps over the lazy dog tonight"  # 10 words
    docs = [
        (1, f"alpha beta {shared} gamma delta"),
        (2, f"{shared} epsilon zeta eta theta iota"),
        (3, "one two three four five six seven eight nine ten eleven"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in excise_duplicated_spans(
            df, id_col="doc_id", text_col="text", k=8, min_docs=2
        ).collect()
    }
    # doc 1 owns every shared gram (min id) — untouched.
    assert out[1].kept_tokens == out[1].n_tokens == 14
    assert out[1].clean_text == f"alpha beta {shared} gamma delta"
    # doc 2 loses exactly the 10 shared tokens, keeps its own tail.
    assert out[2].kept_tokens == 5
    assert out[2].clean_text == "epsilon zeta eta theta iota"
    # unique doc untouched.
    assert out[3].kept_tokens == out[3].n_tokens == 11


def test_pq_m1_equals_full_kmeans(spark, sf_smoke):
    """Product quantization with a single subspace degenerates to plain
    k-means: codes == [cid], recon_err == sq_dist, for every vector."""
    from leader_graph_spark.operators.clustering import kmeans_fixed_point, pq_codes
    from leader_graph_spark.sources.tables import load_table

    emb = load_table(spark, sf_smoke, "embeddings")
    full = {
        r.vec_id: (r.cid, r.sq_dist)
        for r in kmeans_fixed_point(
            emb, id_col="vec_id", vec_col="embedding", k=8, iterations=2
        ).collect()
    }
    pq = {
        r.vec_id: (r.code_0, r.recon_err)
        for r in pq_codes(
            emb, id_col="vec_id", vec_col="embedding", m=1, k=8, iterations=2
        ).collect()
    }
    assert full.keys() == pq.keys()
    for vid, (cid, d) in full.items():
        assert pq[vid] == (cid, d)


def test_pq_codes_structure(spark, sf_smoke):
    """PQ codes: m entries per vector, every code is one of the k seed
    ids (the k smallest vec_ids), and the encode is deterministic."""
    from leader_graph_spark.operators.clustering import pq_codes
    from leader_graph_spark.sources.tables import load_table

    emb = load_table(spark, sf_smoke, "embeddings")
    out = pq_codes(emb, id_col="vec_id", vec_col="embedding", m=4, k=8, iterations=2)
    rows = out.collect()
    seeds = {r.vec_id for r in emb.select("vec_id").orderBy("vec_id").limit(8).collect()}
    code_cols = ["code_0", "code_1", "code_2", "code_3"]
    for r in rows:
        codes = [r[c] for c in code_cols]
        assert set(codes) <= seeds
        assert r.recon_err >= 0
    key = lambda r: (r.vec_id, tuple(r[c] for c in code_cols), r.recon_err)  # noqa: E731
    assert sorted(map(key, out.collect())) == sorted(map(key, rows))


def test_pq_adc_self_match_and_recall(spark, sf_dir):
    """ADC sanity on driver data: every query's rank-1 neighbor is
    itself (its own code reconstructs it best), and top-5 recall vs
    exact fixed-point distances stays above a floor (the synthetic
    embeddings have weak cluster structure — measured 0.40; same
    regime as the LSH recall test)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from leader_graph_spark.operators.clustering import (
        _sq_dist,
        pq_adc_topk,
        to_fixed_point,
    )
    from leader_graph_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    adc_rows = pq_adc_topk(
        emb, m=4, k=8, iterations=2, n_queries=10, topk=5
    ).collect()
    assert all(r.neighbor_id == r.query_id for r in adc_rows if r.rank == 1)
    adc = {(r.query_id, r.neighbor_id) for r in adc_rows}

    vecs = emb.select(
        F.col("vec_id").alias("vid"), to_fixed_point(F.col("embedding")).alias("v")
    )
    q = vecs.orderBy("vid").limit(10).select(
        F.col("vid").alias("qid"), F.col("v").alias("qv")
    )
    d = q.crossJoin(vecs).select(
        "qid", "vid", _sq_dist(F.col("qv"), F.col("v")).alias("d")
    )
    w = Window.partitionBy("qid").orderBy("d", "vid")
    exact = {
        (r.qid, r.vid)
        for r in d.withColumn("rn", F.row_number().over(w)).filter("rn<=5").collect()
    }
    assert len(adc & exact) / len(exact) > 0.25


def test_containment_catches_what_jaccard_misses(spark):
    """A short doc quoted inside a much longer one: containment ≈ 1,
    Jaccard low. The prefix-filtered operator must find it, agree with
    brute force, and direct contained_id at the smaller set."""
    from leader_graph_spark.operators.dedup import (
        containment_pairs_prefix,
        ngram_jaccard_pairs,
    )

    quote = " ".join(f"w{i}" for i in range(12))
    article = quote + " " + " ".join(f"x{i}" for i in range(60))
    other = " ".join(f"y{i}" for i in range(30))
    df = spark.createDataFrame(
        [(1, quote), (2, article), (3, other)], ["doc_id", "text"]
    )
    rows = containment_pairs_prefix(
        df, id_col="doc_id", text_col="text", t_num=9, t_den=10
    ).collect()
    assert [(r.id_1, r.id_2, r.contained_id) for r in rows] == [(1, 2, 1)]
    assert rows[0].containment == 1.0
    # symmetric Jaccard at 0.8 misses the same pair
    jac = ngram_jaccard_pairs(
        df, id_col="doc_id", text_col="text", threshold=0.8
    ).collect()
    assert jac == []


def test_containment_prefix_matches_bruteforce(spark):
    """Random-ish corpus with overlapping tails: prefix-filtered result
    equals the all-pairs brute force (completeness under size skew)."""
    from leader_graph_spark.operators.dedup import containment_pairs_prefix

    docs = []
    base = [f"t{i}" for i in range(40)]
    for d in range(12):
        # doc d: a sliding window of the shared vocabulary plus a tail
        words = base[d : d + 14] + [f"u{d}_{j}" for j in range(d % 4)]
        docs.append((d, " ".join(words)))
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        (r.id_1, r.id_2): (r.contained_id, r.containment)
        for r in containment_pairs_prefix(
            df, id_col="doc_id", text_col="text", t_num=7, t_den=10
        ).collect()
    }

    def shingles(text):
        toks = text.split()
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    want = {}
    sets = {d: shingles(t) for d, t in docs}
    for a in range(12):
        for b in range(a + 1, 12):
            inter = len(sets[a] & sets[b])
            small = min(len(sets[a]), len(sets[b]))
            if 10 * inter >= 7 * small:
                contained = a if len(sets[a]) <= len(sets[b]) else b
                want[(a, b)] = (contained, round(inter / small, 6))
    assert got == want and want  # non-vacuous


def test_leakage_safe_split_keeps_clusters_together(spark):
    """Docs 1 (train-bucket) and 3 (test-bucket) are near-duplicates:
    a per-doc hash split puts one in train and one in test (the eval
    contamination), while the cluster-keyed split lands both in the
    SAME split keyed by the canonical id."""
    import hashlib

    from leader_graph_spark.operators.dedup import canonical_near_dup_docs
    from pyspark.sql import functions as F

    text = " ".join(f"w{i}" for i in range(30))
    near = text + " tail"
    df = spark.createDataFrame(
        [(1, text), (3, near), (5, " ".join(f"z{i}" for i in range(25)))],
        ["doc_id", "text"],
    )

    def bucket(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:2], 16)

    def split_of(b):
        return "train" if b < 204 else ("val" if b < 230 else "test")

    # precondition: per-doc split WOULD separate the near-dup pair
    assert split_of(bucket(1)) != split_of(bucket(3))

    labels = canonical_near_dup_docs(
        df, id_col="doc_id", text_col="text",
        shingle_n=3, num_hashes=16, bands=4, threshold=0.8, rounds=4,
    )
    b = F.conv(
        F.substring(F.md5(F.col("canonical_id").cast("string")), 1, 2), 16, 10
    ).cast("int")
    out = {
        r.doc_id: (r.canonical_id, r.split)
        for r in labels.select(
            "doc_id",
            "canonical_id",
            F.when(b < 204, "train").when(b < 230, "val").otherwise("test").alias("split"),
        ).collect()
    }
    assert out[1][0] == out[3][0] == 1       # same cluster, canonical = min id
    assert out[1][1] == out[3][1]            # same split — no leakage
    assert out[5][0] == 5                    # singleton untouched


def test_pq_adc_rerank_is_exact_over_candidates(spark, sf_smoke):
    """The re-rank stage must order the coarse candidate set by TRUE
    fixed-point distance — verified against numpy on the same data."""
    import math

    from leader_graph_spark.operators.clustering import (
        pq_adc_rerank_topk,
        pq_adc_topk,
    )
    from leader_graph_spark.sources.tables import load_table

    emb = load_table(spark, sf_smoke, "embeddings")
    kw = dict(id_col="vec_id", vec_col="embedding", m=4, k=8, iterations=2,
              n_queries=5)
    coarse = pq_adc_topk(emb, topk=10, **kw).collect()
    rerank = pq_adc_rerank_topk(emb, coarse_k=10, topk=3, **kw).collect()

    vecs = {
        r.vec_id: [math.floor(float(x) * 1_000_000) for x in r.embedding]
        for r in emb.collect()
    }

    def exact(a, b):
        return sum((x - y) * (x - y) for x, y in zip(vecs[a], vecs[b]))

    from collections import defaultdict

    cands = defaultdict(list)
    for r in coarse:
        cands[r.query_id].append(r.neighbor_id)
    got = defaultdict(list)
    for r in sorted(rerank, key=lambda r: (r.query_id, r.rank)):
        got[r.query_id].append((r.neighbor_id, r.exact_sq_dist))
    for q, nbrs in cands.items():
        want = sorted(((exact(q, n), n) for n in nbrs))[:3]
        assert got[q] == [(n, d) for d, n in want]


def test_homoglyph_dedup_catches_spoofed_duplicates(spark):
    """A Cyrillic-spoofed copy defeats byte-level exact dedup but
    collapses under the confusable skeleton."""
    from leader_graph_spark.operators.dedup import (
        confusable_dedup_keys,
        exact_dedup_keys,
    )

    latin = "the cat sat on the mat"
    spoofed = "the с" + "а" + "t sat on the mat"  # Cyrillic с and а
    df = spark.createDataFrame([(1, latin), (2, spoofed)], ["doc_id", "text"])
    exact = exact_dedup_keys(df, id_col="doc_id", text_col="text").collect()
    assert len(exact) == 2  # byte-level dedup is fooled
    skel = confusable_dedup_keys(df, id_col="doc_id", text_col="text").collect()
    assert len(skel) == 1 and skel[0].keep_id == 1 and skel[0].n_dups == 2


def test_shingle_rows_duplicate_id_contract(spark):
    """Round-5 advice (low): distinct=True dedups shingles only WITHIN
    a row — two input rows for the same id yield duplicate (id,
    shingle) pairs, which would double-count downstream Jaccard sizes.
    rows_distinct=True restores the cross-row distinct for callers
    that cannot guarantee the one-row-per-id contract."""
    df = spark.createDataFrame(
        [(1, "a b c d"), (1, "a b c d"), (2, "a b c")],
        ["doc_id", "text"],
    )
    in_row = shingle_rows(df, id_col="doc_id", text_col="text", n=3).collect()
    # id 1 appears twice → its 2 shingles appear twice each
    assert len(in_row) == 5
    cross = shingle_rows(
        df, id_col="doc_id", text_col="text", n=3, rows_distinct=True
    ).collect()
    assert len(cross) == 3
    assert len(set((r.doc_id, r.shingle) for r in cross)) == 3


def test_char_shingles_handle_cjk(spark):
    """Character shingles must work on unsegmented CJK text where
    whitespace tokenization collapses to one giant token."""
    from leader_graph_spark.operators.dedup import char_shingle_rows

    df = spark.createDataFrame(
        [(1, "中文语料去重测试"), (2, "短"), (3, "aaaaaa")],
        ["doc_id", "text"],
    )
    out = char_shingle_rows(df, id_col="doc_id", text_col="text", n=5).collect()
    got = {}
    for r in out:
        got.setdefault(r.doc_id, set()).add(r.shingle)
    assert got[1] == {"中文语料去", "文语料去重", "语料去重测", "料去重测试"}
    assert 2 not in got  # too short for any 5-gram
    assert got[3] == {"aaaaa"}  # in-row distinct collapses the repeats


def test_char_ngrams_catch_cjk_dups_word_shingles_miss(spark):
    """The motivating case: two near-identical UNSEGMENTED Chinese
    docs share zero word 3-gram shingles (each doc is one whitespace
    token) but overlap heavily in character 5-grams."""
    from pyspark.sql import functions as F

    from leader_graph_spark.operators.dedup import char_shingle_rows, shingle_rows

    a = "人工智能正在改变世界各地的产业格局与研究方向"
    b = "人工智能正在改变世界各地的产业格局和研究方向"  # one char differs
    df = spark.createDataFrame([(1, a), (2, b)], ["doc_id", "text"])
    word = shingle_rows(df, id_col="doc_id", text_col="text", n=3)
    assert word.count() == 0  # single token per doc: no word 3-grams at all
    ch = char_shingle_rows(df, id_col="doc_id", text_col="text", n=5)
    sets = {
        r.doc_id: set(rr.shingle for rr in ch.where(F.col("doc_id") == r.doc_id).collect())
        for r in df.select("doc_id").collect()
    }
    inter = len(sets[1] & sets[2])
    union = len(sets[1] | sets[2])
    assert inter / union > 0.5  # clearly near-dup in char space


def test_scaled_lsh_params_derivation():
    from leader_graph_spark.operators.similarity import scaled_lsh_params

    # below target: explicit params pass through untouched (this is
    # what pins the driver-scale oracle hashes: sf0.01 has 500
    # embeddings, sf0.1 has 2000 — both derive to the base (4, 4))
    assert scaled_lsh_params(200, n_planes=4, n_tables=4, target_bucket=256) == (4, 4)
    assert scaled_lsh_params(500, n_planes=4, n_tables=4, target_bucket=256) == (4, 4)
    assert scaled_lsh_params(2000, n_planes=4, n_tables=4, target_bucket=256) == (4, 4)
    # 4096 = 256 * 2^4: log2 boundary still equals the base
    assert scaled_lsh_params(4096, n_planes=4, n_tables=4, target_bucket=256) == (4, 4)
    # past the knee: planes track log2(n/target), TWO extra tables per
    # extra AND bit (recall calibration: (7,7) at the 10x replica
    # measured recall@5 0.29 < the query's 0.30 contract; the
    # registered call sites use target_bucket=1024 → (5,6) at 10x,
    # measured 0.52)
    assert scaled_lsh_params(20_000, n_planes=4, n_tables=4, target_bucket=256) == (7, 10)
    assert scaled_lsh_params(20_000, n_planes=4, n_tables=4, target_bucket=1024) == (5, 6)
    assert scaled_lsh_params(60_000, n_planes=4, n_tables=4, target_bucket=1024) == (6, 8)
    # expected occupancy stays capped: n / 2^planes <= target
    for n in (10**4, 10**6, 10**9, 10**12):
        p, _ = scaled_lsh_params(n, n_planes=4, n_tables=4, target_bucket=256)
        assert n / (1 << p) <= 256


def test_ann_lsh_target_bucket_identical_below_threshold(spark, sf_dir):
    # at verification scale the occupancy knob must be a no-op — same
    # rows with and without it (this is the oracle-stability contract)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(300)
    base = ann_lsh_topk(emb, k=5, n_planes=4, n_tables=4, dim=64)
    knobbed = ann_lsh_topk(
        emb, k=5, n_planes=4, n_tables=4, dim=64, target_bucket=256
    )
    assert base.exceptAll(knobbed).count() == 0
    assert knobbed.exceptAll(base).count() == 0


def test_srp_near_dup_target_bucket_identity_below_threshold(spark, sf_dir):
    from leader_graph_spark.operators.similarity import srp_near_duplicates

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(300)
    base = srp_near_duplicates(emb, threshold=0.35)
    knobbed = srp_near_duplicates(emb, threshold=0.35, target_bucket=256)
    assert base.exceptAll(knobbed).count() == 0
    assert knobbed.exceptAll(base).count() == 0


def test_scaled_semantic_k_derivation():
    from leader_graph_spark.operators.dedup import scaled_semantic_k

    # identity below k·target (driver scales: oracle stays bit-exact)
    assert scaled_semantic_k(500, k=8, target_cluster=512) == 8
    assert scaled_semantic_k(4096, k=8, target_cluster=512) == 8
    # tracks n above the knee: expected occupancy capped at target
    assert scaled_semantic_k(20000, k=8, target_cluster=512) == 40
    assert scaled_semantic_k(1_000_000, k=8, target_cluster=512) == 1954


def test_semantic_dedup_target_cluster_knob_matches_explicit_k(spark, sf_smoke):
    """semantic_dedup(target_cluster=...) must equal the explicit-k run
    at the derived k — the knob only picks k, never changes semantics."""
    from leader_graph_spark.operators.dedup import semantic_dedup
    from leader_graph_spark.sources.tables import load_table

    emb = load_table(spark, sf_smoke, "embeddings").limit(300)
    # 300 vectors, target 30 → derived k = 10 (knob ACTIVE: != base 4)
    knob = semantic_dedup(emb, k=4, iterations=2, target_cluster=30)
    explicit = semantic_dedup(emb, k=10, iterations=2)
    assert sorted(map(tuple, knob.collect())) == sorted(map(tuple, explicit.collect()))
