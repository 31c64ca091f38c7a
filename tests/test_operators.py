"""Operator-level tests: file sources, multimodal plumbing, approximate
aggregates, incremental rerun semantics."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from leader_graph_spark.operators.llm import pending_rows, structured_extraction
from leader_graph_spark.operators.multimodal import (
    attach_fake_payloads,
    decode_available,
    extract_image_features,
)
from leader_graph_spark.sources.files import (
    MissingFieldsError,
    read_csv,
    read_tabular_dir,
)


def test_read_csv_required_fields(spark, tmp_path):
    p = tmp_path / "orgs.csv"
    p.write_text("一级部门,二级部门,URL\nA,B,http://x\n", encoding="utf-8-sig")
    df = read_csv(spark, str(p), required_fields=["一级部门", "URL"])
    assert df.count() == 1
    with pytest.raises(MissingFieldsError):
        read_csv(spark, str(p), required_fields=["不存在"])


def test_read_tabular_dir_union(spark, tmp_path):
    (tmp_path / "a.csv").write_text("x,y\n1,2\n")
    (tmp_path / "b.csv").write_text("x,y\n3,4\n")
    df = read_tabular_dir(spark, str(tmp_path))
    assert df.count() == 2
    assert "_source_file" in df.columns


def test_multimodal_plumbing(spark, sf_smoke):
    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet").limit(20)
    mm = attach_fake_payloads(docs, text_col="text", id_col="doc_id")
    assert dict(mm.dtypes)["payload"] == "binary"
    feats = extract_image_features(mm, id_col="doc_id")
    rows = feats.collect()
    assert len(rows) == 20
    assert all(0 <= r.mean_pixel <= 1 and len(r.phash) == 16 and r.n_bytes > 0 for r in rows)
    assert not decode_available()  # container has no codec — fake path exercised


def test_binary_dir_landing_to_features(spark, tmp_path):
    """binaryFile landing zone → feature extraction chain: files land
    on disk, the scan yields (path, content) rows, glob pruning keeps
    only the media extension, and the blob column feeds the same
    mapInPandas feature extractor the parquet-backed path uses."""
    for i in range(5):
        (tmp_path / f"img_{i}.png").write_bytes(b"fakepixels-%d" % i)
    (tmp_path / "notes.txt").write_text("not media")
    landed = (
        spark.read.format("binaryFile").option("pathGlobFilter", "*.png").load(str(tmp_path))
    )
    assert dict(landed.dtypes)["content"] == "binary"
    assert landed.count() == 5  # txt pruned at listing time
    named = landed.select(
        F.regexp_extract("path", r"img_(\d+)\.png", 1).cast("long").alias("img_id"),
        F.col("content").alias("payload"),
    )
    feats = extract_image_features(named, id_col="img_id")
    rows = feats.collect()
    assert len(rows) == 5
    assert all(len(r.phash) == 16 and r.n_bytes > 0 for r in rows)


def test_approx_distinct_accuracy(spark, sf_dir):
    from leader_graph_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events")
    exact = dict(
        events.groupBy("event_type").agg(F.countDistinct("user_id").alias("n")).collect()
    )
    approx = dict(
        events.groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", 0.01).alias("n"))
        .collect()
    )
    for k, n in exact.items():
        assert abs(approx[k] - n) <= max(2, 0.05 * n)


def test_incremental_pending_rerun(spark):
    df = spark.createDataFrame(
        [(1, "1990-1995 studied at university", None), (2, "x", '{"events": []}')],
        "id int, career string, structured string",
    )
    pending = pending_rows(df, output_col="structured")
    assert [r.id for r in pending.collect()] == [1]
    out = structured_extraction(pending, id_col="id", text_col="career")
    assert out.count() == 1


def test_cost_cap_circuit_breaker(spark):
    df = spark.createDataFrame(
        [(i, "1990-1995 worked somewhere") for i in range(50)], "id int, career string"
    ).coalesce(1)
    out = structured_extraction(
        df, id_col="id", text_col="career", cost_limit=0.0005
    ).cache()
    # Skipped rows are emitted with a status marker, never dropped.
    assert out.count() == 50
    processed = out.filter(F.col("status") == "ok")
    skipped = out.filter(F.col("status") == "skipped_budget")
    # 0.0005 budget / 0.0001 per row → only ~5 rows processed
    assert processed.count() <= 6
    assert skipped.count() >= 44
    assert skipped.filter(F.col("events").isNotNull()).count() == 0
    out.unpersist()


def test_retry_dlq_split(spark):
    from leader_graph_spark.operators.llm import (
        DeterministicFakeBackend,
        structured_extraction_with_dlq,
    )

    class FlakyBackend(DeterministicFakeBackend):
        """Rows whose text contains 'poison' always fail."""

        def extract(self, text):
            if "poison" in text:
                raise RuntimeError("backend exploded")
            return super().extract(text)

    df = spark.createDataFrame(
        [(1, "1990-1995 studied at university"), (2, "poison row"), (3, "2000-今 work now")],
        "id int, career string",
    )
    ok, dlq = structured_extraction_with_dlq(
        df, id_col="id", text_col="career", backend_factory=FlakyBackend, max_retries=3
    )
    assert sorted(r.id for r in ok.collect()) == [1, 3]
    dead = dlq.collect()
    assert [(r.id, r.attempts) for r in dead] == [(2, 3)]
    assert "exploded" in dead[0].error


def test_asof_join_backward_semantics(spark):
    from leader_graph_spark.operators.asof import asof_join_backward

    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (1, 5, "c"), (2, 10, "d")],
        "k long, t long, lv string",
    )
    right = spark.createDataFrame(
        [(1, 10, "r10"), (1, 15, "r15"), (3, 1, "rx")], "k long, t long, rv string"
    )
    out = asof_join_backward(
        left, right, left_key="k", right_key="k", left_ts="t", right_ts="t",
        right_payload=["t", "rv"],
    )
    got = {(r.k, r.t): (r.asof_t, r.asof_rv) for r in out.collect()}
    assert got[(1, 10)] == (10, "r10")   # equal ts is inclusive
    assert got[(1, 20)] == (15, "r15")   # latest at-or-before
    assert got[(1, 5)] == (None, None)   # nothing precedes
    assert got[(2, 10)] == (None, None)  # key absent on right
    assert len(got) == 4


def test_salted_join_matches_plain(spark):
    from leader_graph_spark.operators.skew import salted_join

    big = spark.createDataFrame(
        [(i, i % 3) for i in range(200)], "row_id long, k long"
    )
    small = spark.createDataFrame([(0, "a"), (1, "b"), (2, "c")], "k long, v string")
    plain = {(r.row_id, r.v) for r in big.join(small, "k").collect()}
    salted = {
        (r.row_id, r.v)
        for r in salted_join(big, small, key="k", n_salts=8, salt_source="row_id").collect()
    }
    assert salted == plain and len(plain) == 200


def test_approx_percentile_accuracy(spark, sf_dir):
    """The bounded-oracle form (round-6): the registered query now
    emits the exact 0.5/0.9 quantiles plus in-bracket booleans; pin
    that the booleans hold, the exact columns agree with the exact
    query, and the raw sketch stays within 1% of exact."""
    from pyspark.sql import functions as F

    from leader_graph_spark.plans import REGISTRY
    from leader_graph_spark.sources.tables import load_table

    exact = {
        r.o_orderpriority: (r.median_price, r.p90_price)
        for r in REGISTRY["order_price_percentiles"].spark(spark, sf_dir).collect()
    }
    out = REGISTRY["approx_order_price_percentiles"].spark(spark, sf_dir).collect()
    assert exact.keys() == {r.o_orderpriority for r in out}
    for r in out:
        assert r.median_in_bounds and r.p90_in_bounds, r
        m, p90 = exact[r.o_orderpriority]
        assert r.median_exact == m and r.p90_exact == p90
    # raw sketch accuracy vs exact, on the operator itself
    approx = {
        r.o_orderpriority: (r.am, r.ap90)
        for r in load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.percentile_approx("o_totalprice", F.lit(0.5), F.lit(10000)).alias("am"),
            F.percentile_approx("o_totalprice", F.lit(0.9), F.lit(10000)).alias("ap90"),
        )
        .collect()
    }
    for key, (m, p90) in exact.items():
        am, ap90 = approx[key]
        assert abs(am - m) / m < 0.01
        assert abs(ap90 - p90) / p90 < 0.01


def test_freq_items_contains_true_heavy_hitters(spark, sf_smoke):
    from pyspark.sql import functions as F

    from leader_graph_spark.sources.tables import load_table

    docs = load_table(spark, sf_smoke, "documents")
    toks = docs.select(F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("term"))
    n = toks.count()
    support = 0.02
    exact_heavy = {
        r.term
        for r in toks.groupBy("term").count().filter(F.col("count") > support * n).collect()
    }
    approx = set(toks.freqItems(["term"], support=support).collect()[0][0])
    # KSP one-pass guarantee: no false negatives above the support threshold.
    assert exact_heavy <= approx


def test_frequent_terms_approx_registered_query_bounds(spark, sf_dir):
    """Bounded-oracle form (round-6): the registered query emits the
    EXACT required heavy-hitter set plus the KSP containment boolean.
    Pin: the boolean holds, the required set matches an independent
    exact count, and it is non-trivial on the driver data."""
    from pyspark.sql import functions as F

    from leader_graph_spark.plans import REGISTRY
    from leader_graph_spark.sources.tables import load_table

    support = 0.02
    out = REGISTRY["frequent_terms_approx"].spark(spark, sf_dir).collect()
    assert len(out) == 1
    assert out[0].all_required_present, "sketch dropped a true heavy hitter"
    reported = set(out[0].required_terms.split(","))
    assert out[0].n_required == len(reported)

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("term"))
    n = toks.count()
    counts = {r.term: r.n for r in toks.groupBy("term").agg(F.count("*").alias("n")).collect()}
    exact_heavy = {t for t, c in counts.items() if c > support * n}
    assert exact_heavy == reported
    assert exact_heavy, "support threshold leaves no heavy hitters — vacuous"


def test_write_json_per_key_partitions(spark, sf_smoke, tmp_path):
    import os

    from leader_graph_spark.sources.files import write_json_per_key
    from leader_graph_spark.sources.tables import load_table

    nation = load_table(spark, sf_smoke, "nation").limit(5)
    out = str(tmp_path / "per_key")
    write_json_per_key(nation, out, key_col="n_nationkey")
    dirs = {d for d in os.listdir(out) if d.startswith("n_nationkey=")}
    assert len(dirs) == 5
    back = spark.read.json(out)
    assert back.count() == 5


def test_safe_filename_and_truncate(spark):
    from pyspark.sql import functions as F

    from leader_graph_spark.functions.scalar import safe_filename, truncate_chars

    df = spark.createDataFrame([("a b/c:d*e.txt", "x" * 100)], "fn string, body string")
    r = df.select(
        safe_filename(F.col("fn")).alias("fn"),
        F.length(truncate_chars(F.col("body"), 10)).alias("n"),
    ).collect()[0]
    assert r.fn == "a_b_c_d_e.txt" and r.n == 10


# ---------------------------------------------------------------------------
# JDBC edge adapter (connectionless parts; live round-trip only when a
# database URL + driver jar are provided)
# ---------------------------------------------------------------------------


def test_jdbc_option_construction():
    from leader_graph_spark.sources.jdbc import jdbc_options

    opts = jdbc_options(
        "jdbc:mysql://db:3306/lake",
        "orders",
        properties={"driver": "com.mysql.cj.jdbc.Driver", "user": "etl"},
    )
    assert opts["url"].startswith("jdbc:mysql://")
    assert opts["dbtable"] == "orders"
    assert int(opts["fetchsize"]) >= 1000  # never the row-at-a-time default
    assert opts["driver"] == "com.mysql.cj.jdbc.Driver"


def test_jdbc_partitioned_read_requires_bounds(spark):
    from leader_graph_spark.sources.jdbc import read_jdbc_table

    with pytest.raises(ValueError, match="lower_bound"):
        read_jdbc_table(
            spark, "jdbc:mysql://db/lake", "orders", partition_column="o_orderkey"
        )


@pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_JDBC_URL"),
    reason="no live JDBC endpoint (set SPARK_GRAFT_JDBC_URL + driver jar)",
)
def test_jdbc_round_trip_live(spark, sf_smoke):
    from leader_graph_spark.sources.jdbc import read_jdbc_table, write_jdbc
    from leader_graph_spark.sources.tables import load_table

    url = os.environ["SPARK_GRAFT_JDBC_URL"]
    nation = load_table(spark, sf_smoke, "nation")
    write_jdbc(nation, url, "nation_rt", mode="overwrite")
    back = read_jdbc_table(spark, url, "nation_rt")
    assert back.count() == nation.count()


# ---------------------------------------------------------------------------
# S6 keyed point lookup via hash-bucketed, key-sorted layout
# ---------------------------------------------------------------------------


def test_keyed_point_lookup_prunes_partitions(spark, sf_smoke, tmp_path):
    from leader_graph_spark.sources.lookup import point_lookup, write_keyed_layout
    from leader_graph_spark.sources.tables import load_table

    orders = load_table(spark, sf_smoke, "orders")
    layout = str(tmp_path / "orders_by_key")
    write_keyed_layout(orders, layout, key_col="o_orderkey", n_buckets=16)

    target = orders.select("o_orderkey").limit(1).first()["o_orderkey"]
    hit = point_lookup(spark, layout, key_col="o_orderkey", value=target, n_buckets=16)
    rows = hit.collect()
    assert [r.o_orderkey for r in rows] == [target]

    # The "index" is the layout: the bucket equality must land in the
    # scan's PartitionFilters (directory pruning → 1/n_buckets of the
    # files listed) and the key equality in PushedFilters (row-group
    # stat pruning inside the sorted bucket) — not post-scan Filters.
    plan = hit._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "_key_bucket" in plan.split("PartitionFilters")[1].split("]")[0]
    pushed = plan.split("PushedFilters")[1].split("]")[0]
    assert "EqualTo(o_orderkey" in pushed

    # A missing key reads one bucket and returns nothing.
    assert point_lookup(
        spark, layout, key_col="o_orderkey", value=-999999, n_buckets=16
    ).count() == 0


# ---------------------------------------------------------------------------
# Training-data prep: sequence packing + deterministic sampling
# ---------------------------------------------------------------------------


def test_pack_by_cumsum_straddle_bound(spark):
    from leader_graph_spark.operators.packing import pack_by_cumsum

    df = spark.createDataFrame(
        [(i, 30 + (i * 37) % 50) for i in range(100)], "doc_id long, toks long"
    )
    packed = pack_by_cumsum(df, id_col="doc_id", token_col="toks", budget=100)
    # scale guard: the full-data prefix sum must ride a range partition,
    # not a global single-reducer window (the carry window over one row
    # per partition is metadata-sized and exempt).
    assert "rangepartitioning" in packed._jdf.queryExecution().executedPlan().toString()
    out = packed.collect()
    rows = sorted(out, key=lambda r: r.doc_id)
    # pack ids are non-decreasing in order and offsets stay under budget
    assert all(r.pack_offset < 100 for r in rows)
    assert all(a.pack_id <= b.pack_id for a, b in zip(rows, rows[1:]))
    # every pack except possibly the last holds ≥ budget tokens once its
    # straddler is counted: total tokens of docs STARTING in pack p plus
    # the carry-in reaches the budget
    by_pack = {}
    for r in rows:
        by_pack.setdefault(r.pack_id, []).append(r)
    for pid, members in by_pack.items():
        if pid == max(by_pack):
            continue
        assert members[0].pack_offset + sum(m.toks for m in members) >= 100


def test_pack_by_cumsum_wide_input_matches_narrow(spark):
    """Wide input (columns beyond the packer's own) takes the
    checkpoint-narrow-then-join-back branch; its output must equal the
    narrow form joined with the extra columns."""
    from leader_graph_spark.operators.packing import pack_by_cumsum

    wide = spark.createDataFrame(
        [(i, 30 + (i * 37) % 50, f"text {i}", i % 3) for i in range(100)],
        "doc_id long, toks long, text string, grp int",
    )
    got = pack_by_cumsum(wide, id_col="doc_id", token_col="toks", budget=100)
    assert got.columns == wide.columns + ["pack_id", "pack_offset"]
    narrow = pack_by_cumsum(
        wide.select("doc_id", "toks"), id_col="doc_id", token_col="toks", budget=100
    )
    want = narrow.join(wide.select("doc_id", "text", "grp"), "doc_id").select(*got.columns)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert got.count() == 100


def test_pack_greedy_never_overflows(spark):
    from leader_graph_spark.operators.packing import pack_greedy_partitions

    df = spark.createDataFrame(
        [(i, ["a", "b"][i % 2], 30 + (i * 37) % 60) for i in range(200)],
        "doc_id long, grp string, toks long",
    )
    out = pack_greedy_partitions(
        df, id_col="doc_id", token_col="toks", budget=100, partition_col="grp"
    )
    agg = out.groupBy("grp", "pack_id").agg(
        F.sum("toks").alias("total"), F.count(F.lit(1)).alias("n")
    )
    # every doc here is ≤ budget, so NO pack may exceed it
    assert agg.filter(F.col("total") > 100).count() == 0
    # determinism: same input → identical pack ids
    a = {(r.doc_id, r.pack_id) for r in out.collect()}
    b = {(r.doc_id, r.pack_id) for r in pack_greedy_partitions(
        df, id_col="doc_id", token_col="toks", budget=100, partition_col="grp"
    ).collect()}
    assert a == b
    # an oversized doc becomes a singleton pack, never dropped
    big = spark.createDataFrame([(1, "a", 500), (2, "a", 10)], "doc_id long, grp string, toks long")
    got = pack_greedy_partitions(
        big, id_col="doc_id", token_col="toks", budget=100, partition_col="grp"
    ).collect()
    assert len(got) == 2 and len({r.pack_id for r in got}) == 2


def test_sampling_determinism_and_quota(spark, sf_smoke):
    from leader_graph_spark.operators.sampling import stratified_sample_exact
    from leader_graph_spark.sources.tables import load_table

    docs = load_table(spark, sf_smoke, "documents").select("doc_id", "lang")
    # partition-layout independence: same membership after repartition
    s1 = {r.doc_id for r in stratified_sample_exact(
        docs, strata_col="lang", key_col="doc_id", fraction=0.2).collect()}
    s2 = {r.doc_id for r in stratified_sample_exact(
        docs.repartition(7), strata_col="lang", key_col="doc_id", fraction=0.2).collect()}
    assert s1 == s2 and 0 < len(s1) < docs.count()

    strat = stratified_sample_exact(
        docs, strata_col="lang", key_col="doc_id", fraction=0.1
    )
    got = {r.lang: r.n for r in strat.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    want = {
        r.lang: -(-r.n // 10)  # ceil(n * 0.1)
        for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == want


def test_repetition_signals_planted(spark):
    from leader_graph_spark.operators.quality import repetition_signals

    rep = "the cat sat " * 10  # heavy 2- and 5-gram repetition
    clean = "alpha beta gamma delta epsilon zeta eta theta"
    df = spark.createDataFrame([(1, rep.strip()), (2, clean)], "doc_id long, text string")
    out = {r.doc_id: r for r in repetition_signals(df).collect()}
    assert out[1].top_2gram in ("the cat", "cat sat", "sat the")
    assert out[1].dup_5gram_ratio > 0.5
    assert out[1].dup_word_ratio > 0.8
    assert out[2].dup_5gram_ratio == 0.0
    assert out[2].dup_word_ratio == 0.0


def test_decontaminate_planted_overlap(spark):
    from leader_graph_spark.operators.dedup import decontaminate

    bench = spark.createDataFrame(
        [(100, "what is the capital of france paris obviously")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            (1, "filler words then what is the capital of france paris obviously end"),
            (2, "completely unrelated training text about spark partitions and shuffles"),
            (3, "hi"),  # too short for any 3-gram
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in decontaminate(train, bench, n=3).collect()}
    assert out[1].is_contaminated and out[1].n_hits >= 6
    assert out[2].n_hits == 0 and not out[2].is_contaminated
    assert out[3].n_shingles == 0 and out[3].contamination_ratio == 0.0


def test_redact_pii_counts_and_text(spark):
    from leader_graph_spark.operators.quality import redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail a@b.com and c.d+x@e.org call +1 555-0100 server 192.168.1.1 ok"),
            (2, "no pii here at all"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in redact_pii(df).collect()}
    assert out[1].n_emails == 2 and out[1].n_phones == 1 and out[1].n_ips == 1
    assert out[1].redacted_text == "mail <EMAIL> and <EMAIL> call <PHONE> server <IP> ok"
    assert out[2].redacted_text == "no pii here at all"
    assert (out[2].n_emails, out[2].n_phones, out[2].n_ips) == (0, 0, 0)


def test_incremental_near_dup_planted(spark):
    from leader_graph_spark.operators.dedup import incremental_near_dup

    base = "the quick brown fox jumps over the lazy dog again and again today"
    index = spark.createDataFrame(
        [(100, base), (101, "completely different index content about warehouse shelving units")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (1, base),  # exact dup of 100 -> jaccard 1.0
            (2, base + " extra"),  # near dup of 100
            (3, "unrelated fresh document describing spark adaptive query execution"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in incremental_near_dup(new, index, threshold=0.5).collect()}
    assert out[1].is_duplicate and out[1].dup_of == 100 and out[1].jaccard == 1.0
    assert out[2].is_duplicate and out[2].dup_of == 100 and 0.5 <= out[2].jaccard < 1.0
    assert not out[3].is_duplicate and out[3].dup_of is None and out[3].jaccard == 0.0


def test_incremental_near_dup_empty_rows_alike_with_and_without_ansi(spark):
    """A new id and an index id that both have a row with no shingles
    pair two empty sets: that pair has no Jaccard (no 0/0 under ANSI),
    and the text rows still match."""
    from leader_graph_spark.operators.dedup import incremental_near_dup

    text = "the quick brown fox jumps over the lazy dog again and again today"
    new = spark.createDataFrame([(1, text), (1, "")], "doc_id long, text string")
    index = spark.createDataFrame([(2, text), (2, None)], "doc_id long, text string")
    rows = {}
    for ansi in ("true", "false"):
        spark.conf.set("spark.sql.ansi.enabled", ansi)
        try:
            rows[ansi] = sorted(map(tuple, incremental_near_dup(new, index, threshold=0.5).collect()))
        finally:
            spark.conf.unset("spark.sql.ansi.enabled")
    assert rows["true"] == rows["false"]
    assert (1, True, 2, 1.0) in rows["true"]


def test_remove_boilerplate_lines_planted(spark):
    from leader_graph_spark.operators.quality import remove_boilerplate_lines

    rows = [(i, f"unique line {i}\ncommon footer\nmore unique {i}") for i in range(12)]
    rows.append((99, "common footer"))  # doc that is ONLY boilerplate
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in remove_boilerplate_lines(df, min_doc_frequency=10).collect()}
    assert out[0].cleaned_text == "unique line 0\nmore unique 0"  # order preserved
    assert out[0].n_lines == 3 and out[0].n_removed == 1
    assert out[99].cleaned_text == "" and out[99].n_removed == 1  # fully-boilerplate doc survives as a row
    # below-threshold repetition is kept: 12 < threshold would keep, verify with higher bar
    kept_all = {
        r.doc_id: r
        for r in remove_boilerplate_lines(df, min_doc_frequency=20).collect()
    }
    assert kept_all[0].n_removed == 0 and kept_all[0].cleaned_text == rows[0][1]


def test_mixture_resample_factors_and_copies(spark):
    from leader_graph_spark.operators.sampling import mixture_resample

    rows = [(i, "big") for i in range(80)] + [(i + 1000, "small") for i in range(10)]
    rows += [(9999, "untargeted")]
    df = spark.createDataFrame(rows, "doc_id long, src string")
    out = mixture_resample(
        df, stratum_col="src", key_col="doc_id",
        target_shares={"big": 0.5, "small": 0.5},
    ).collect()
    by = {}
    for r in out:
        by.setdefault(r.stratum, []).append(r)
    # big: factor = 0.5*91/80 ≈ 0.569 -> every row 0 or 1 copies
    assert all(r.n_copies in (0, 1) for r in by["big"])
    assert abs(by["big"][0].mix_factor - round(0.5 * 91 / 80, 6)) < 1e-9
    # small: factor = 0.5*91/10 = 4.55 -> 4 or 5 copies each
    assert all(r.n_copies in (4, 5) for r in by["small"])
    # stratum absent from targets: zero copies
    assert all(r.n_copies == 0 and r.mix_factor == 0.0 for r in by["untargeted"])
    # deterministic: second run identical
    out2 = mixture_resample(
        df, stratum_col="src", key_col="doc_id",
        target_shares={"big": 0.5, "small": 0.5},
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_quantize_embeddings_reconstruction(spark):
    from leader_graph_spark.operators.similarity import (
        quantization_report,
        quantize_embeddings,
    )

    df = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.25, 0.0]), (2, [0.0, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    q = {r.vec_id: r for r in quantize_embeddings(df).collect()}
    # scale = 1/127; floor(x/scale + 0.5) rounds halves toward +inf, so
    # -0.5 -> floor(-63.5 + 0.5) = -63
    assert q[1].qvec == [127, -63, 32, 0]
    assert q[2].qvec == [0, 0, 0, 0] and q[2].scale == 0.0
    rep = {r.vec_id: r for r in quantization_report(df).collect()}
    assert rep[1].max_abs_err <= q[1].scale / 2 + 1e-12
    assert rep[1].cos_fidelity > 0.999
    assert rep[2].cos_fidelity == 0.0  # zero vector guard


def test_unigram_lm_scores_planted(spark):
    from leader_graph_spark.operators.quality import unigram_lm_scores

    # corpus: "common" appears 8x, "mid" 4x, "rare1/rare2" once each.
    df = spark.createDataFrame(
        [
            (1, "common common common common mid mid"),
            (2, "common common common common mid mid rare1 rare2"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in unigram_lm_scores(df, vocab_size=2).collect()}
    # total=14; vocab = {common: 8/14, mid: 4/14}; floor prob = 1/14
    assert out[1].oov_ratio == 0.0
    assert out[2].oov_ratio == 0.25  # 2 of 8 tokens OOV
    # doc 1 mean prob: (4*(8/14) + 2*(4/14))/6 nano-floored
    import math
    p_common = math.floor(8 / 14 * 1e9)
    p_mid = math.floor(4 / 14 * 1e9)
    p_oov = math.floor(1 / 14 * 1e9)
    assert out[1].avg_token_prob_nano == math.floor((4 * p_common + 2 * p_mid) / 6)
    assert out[2].avg_token_prob_nano == math.floor(
        (4 * p_common + 2 * p_mid + 2 * p_oov) / 8
    )
    # higher-quality (no OOV) doc scores higher
    assert out[1].avg_token_prob_nano > out[2].avg_token_prob_nano


def test_scd2_collapse_planted(spark):
    from leader_graph_spark.operators.scd import scd2_collapse

    rows = [
        (1, 10, 1, "a"), (1, 20, 2, "a"),  # run of two
        (1, 30, 3, None),                   # null is a version
        (1, 40, 4, "b"),                    # current
        (2, 10, 5, "x"),                    # single-version key
    ]
    df = spark.createDataFrame(rows, "k long, ts long, eid long, attr string")
    out = scd2_collapse(df, key_col="k", attr_col="attr", ts_col="ts", tie_col="eid")
    got = {(r.key, r.version): r for r in out.collect()}
    assert len(got) == 4
    assert got[(1, 1)].attr == "a" and got[(1, 1)].n_events == 2
    assert got[(1, 1)].valid_from == 10 and got[(1, 1)].valid_to == 30
    assert got[(1, 2)].attr is None and got[(1, 2)].valid_to == 40
    assert got[(1, 3)].is_current and got[(1, 3)].valid_to is None
    assert got[(2, 1)].is_current and got[(2, 1)].n_events == 1
    # point-in-time reconstruction: state at t=35 is the null version
    at35 = out.filter("valid_from <= 35 AND (valid_to IS NULL OR valid_to > 35)")
    assert {(r.key, r.attr) for r in at35.collect()} == {(1, None), (2, "x")}
    # scale claim: the whole operator plans ONE hash exchange — the
    # run-detection windows, run-end filter, and valid_to lead all share
    # the key partitioning (the final window only adds a Sort). Checked
    # on the static plan: post-execution AQE may coalesce the tiny test
    # shuffle and legitimately re-shuffle, which doesn't happen at size.
    import re

    fresh = scd2_collapse(df, key_col="k", attr_col="attr", ts_col="ts", tie_col="eid")
    plan = fresh._jdf.queryExecution().executedPlan().toString()
    hash_ids = set(re.findall(r"Exchange hashpartitioning[^\[]*\[plan_id=(\d+)\]", plan))
    assert len(hash_ids) == 1, plan


def test_bpe_pair_counts_overlapping(spark):
    """BPE pair extraction counts OVERLAPPING adjacent pairs ('aaa' ->
    'aa' twice) and ignores single-char words — the Sennrich counting
    semantics, pinned on a crafted doc."""
    from pyspark.sql import functions as F

    docs = spark.createDataFrame([(1, "aaa ab a xy xy")], "doc_id long, text string")
    words = docs.select(
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("w")
    ).filter(F.length("w") >= 2)
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substr(w, i, 2))")
        ).alias("pair")
    )
    counts = {r.pair: r.n for r in pairs.groupBy("pair").agg(F.count("*").alias("n")).collect()}
    assert counts == {"aa": 2, "ab": 1, "xy": 2}


def test_corpus_curation_all_gates_fire(spark, tmp_path):
    """Every branch of the curation cascade on crafted docs: exact dup
    (the kept copy is NOT penalized — its grams are its own under the
    ownership-aware span gate), span dup (only the non-owning side
    trips), too-short, punctuation-heavy, and clean keepers."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from leader_graph_spark.plans import REGISTRY

    filler_a = " ".join(f"alpha{i}" for i in range(30))
    filler_b = " ".join(f"beta{i}" for i in range(30))
    shared = " ".join(f"shared{i}" for i in range(25))
    docs = [
        (1, f"{filler_a} keeper text", "en", "s", 0),
        (2, f"{filler_a} keeper text", "en", "s", 0),            # exact dup of 1 (and short? no, 32 toks)
        (3, f"{shared} tail one", "en", "s", 0),                 # span dup pair...
        (4, f"{shared} tail two", "en", "s", 0),                 # ...>=50% covered
        (5, "just a few tokens here", "en", "s", 0),             # too_short
        (6, " ".join(["!?;:," for _ in range(40)]), "en", "s", 0),  # punct-heavy
        (7, f"{filler_b} another clean document", "en", "s", 0),  # keeper
    ]
    tbl = pa.table(
        {
            "doc_id": pa.array([d[0] for d in docs], pa.int64()),
            "text": [d[1] for d in docs],
            "lang": [d[2] for d in docs],
            "source": [d[3] for d in docs],
            "n_chars": pa.array([len(d[1]) for d in docs], pa.int64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    out = {
        r.doc_id: r
        for r in REGISTRY["corpus_curation_verdicts"].spark(spark, str(tmp_path)).collect()
    }
    assert out[1].keep and out[1].drop_reason is None
    assert out[2].drop_reason == "exact_dup" and out[2].is_exact_dup
    # ownership-aware span gate: doc 3 OWNS the shared grams (min id)
    # so it is the kept canonical copy; doc 4 is >=50% excisable.
    assert out[3].keep and out[3].drop_reason is None
    assert out[4].drop_reason == "dup_spans" and out[4].excised_ppm >= 500000
    assert out[5].drop_reason == "too_short"
    assert out[6].drop_reason == "too_much_punct"
    assert out[7].keep and out[7].drop_reason is None


def test_doc_chunk_windows_overlap(spark, tmp_path):
    """Chunking semantics pinned: stride-48 windows of width 64 over a
    100-token doc produce chunks starting at tokens 1, 49, 97; the
    overlap region (tokens 49-64) appears in BOTH chunk 0 and chunk 1;
    the tail chunk is short; a tiny doc yields exactly one chunk."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from leader_graph_spark.plans import REGISTRY

    toks = [f"t{i}" for i in range(1, 101)]
    docs = [(1, " ".join(toks)), (2, "tiny doc")]
    tbl = pa.table(
        {
            "doc_id": pa.array([d[0] for d in docs], pa.int64()),
            "text": [d[1] for d in docs],
            "lang": ["en"] * 2,
            "source": ["s"] * 2,
            "n_chars": pa.array([len(d[1]) for d in docs], pa.int64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    rows = REGISTRY["doc_chunk_windows"].spark(spark, str(tmp_path)).collect()
    by_key = {(r.doc_id, r.chunk_idx): r for r in rows}
    assert len(by_key) == 4  # 3 chunks for doc 1, 1 for doc 2
    c0, c1, c2 = by_key[(1, 0)], by_key[(1, 1)], by_key[(1, 2)]
    assert (c0.start_token, c0.n_chunk_tokens) == (1, 64)
    assert (c1.start_token, c1.n_chunk_tokens) == (49, 52)  # 100-49+1
    assert (c2.start_token, c2.n_chunk_tokens) == (97, 4)
    # overlap: tokens 49..64 in both chunk 0 and chunk 1
    assert c0.chunk_text.split()[48:64] == c1.chunk_text.split()[:16] == toks[48:64]
    assert by_key[(2, 0)].chunk_text == "tiny doc"


def test_histogram_sketch_error_bound(spark, sf_dir):
    """The mergeable histogram sketch's quantiles must land within one
    bin width of the exact interpolated percentiles on driver data —
    the sketch's documented error bound."""
    from pyspark.sql import functions as F

    from leader_graph_spark.plans import REGISTRY
    from leader_graph_spark.sources.tables import load_table

    sketch = {
        r.o_orderpriority: (r.approx_median, r.approx_p90)
        for r in REGISTRY["histogram_sketch_percentiles"].spark(spark, sf_dir).collect()
    }
    orders = load_table(spark, sf_dir, "orders")
    b = orders.agg(F.min("o_totalprice"), F.max("o_totalprice")).first()
    bin_width = (b[1] - b[0]) / 1000
    exact = {
        r.o_orderpriority: (r.m, r.p90)
        for r in orders.groupBy("o_orderpriority")
        .agg(
            F.percentile("o_totalprice", F.lit(0.5)).alias("m"),
            F.percentile("o_totalprice", F.lit(0.9)).alias("p90"),
        )
        .collect()
    }
    assert set(sketch) == set(exact)
    for prio, (am, ap90) in sketch.items():
        em, ep90 = exact[prio]
        assert abs(am - em) <= bin_width, (prio, am, em, bin_width)
        assert abs(ap90 - ep90) <= bin_width, (prio, ap90, ep90, bin_width)


def test_point_in_interval_join_exact_and_no_bnlj(spark):
    """The bucketized range join must equal the naive BETWEEN join
    (boundary points included/excluded correctly, multi-bucket
    intervals, overlapping windows) and must NOT plan a
    BroadcastNestedLoopJoin."""
    from datetime import datetime

    from pyspark.sql import functions as F

    from leader_graph_spark.operators.intervals import point_in_interval_join

    pts = spark.createDataFrame(
        [(i, datetime(1995, 1 + (i * 7) % 12, 1 + (i * 13) % 28)) for i in range(60)],
        "pid long, ts timestamp",
    )
    ivs = spark.createDataFrame(
        [
            ("w1", datetime(1995, 2, 1), datetime(1995, 2, 15)),   # sub-month
            ("w2", datetime(1995, 3, 15), datetime(1995, 7, 2)),   # multi-month
            ("w3", datetime(1995, 6, 1), datetime(1995, 8, 1)),    # overlaps w2
            ("w4", datetime(1995, 4, 1), datetime(1995, 4, 1)),    # empty window
        ],
        "w string, s timestamp, e timestamp",
    )
    bucketed = point_in_interval_join(pts, ivs, point_col="ts", start_col="s", end_col="e")
    naive = pts.join(ivs, (F.col("s") <= F.col("ts")) & (F.col("ts") < F.col("e")))
    got = sorted((r.pid, r.w) for r in bucketed.collect())
    want = sorted((r.pid, r.w) for r in naive.collect())
    assert got == want and len(want) > 0
    plan = bucketed._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    naive_plan = naive._jdf.queryExecution().executedPlan().toString()
    # the quadratic trap being avoided: a non-equi join plans as a
    # nested loop or cartesian product
    assert ("BroadcastNestedLoopJoin" in naive_plan) or ("CartesianProduct" in naive_plan)
    assert "CartesianProduct" not in plan


def test_csv_corrupt_record_modes(spark, tmp_path):
    """Malformed rows at the ingest boundary: PERMISSIVE mode must
    capture them in _corrupt_record (pipeline quarantines them, the
    X9/X11 pattern), FAILFAST must raise — and neither may silently
    drop or mangle the good rows."""
    import pytest as _pytest
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    p = str(tmp_path / "dirty.csv")
    with open(p, "w") as f:
        f.write("id,n\n1,10\n2,not_a_number\n3,30\n")
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("n", T.LongType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    df = (
        spark.read.schema(schema)
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(p)
        .cache()  # corrupt-record column requires materialization before filtering
    )
    good = df.where(F.col("_corrupt_record").isNull())
    bad = df.where(F.col("_corrupt_record").isNotNull())
    assert {(r.id, r.n) for r in good.collect()} == {(1, 10), (3, 30)}
    assert [r._corrupt_record for r in bad.collect()] == ["2,not_a_number"]

    strict = (
        spark.read.schema("id long, n long")
        .option("header", True)
        .option("mode", "FAILFAST")
        .csv(p)
    )
    with _pytest.raises(Exception, match="(?i)malformed|failfast"):
        strict.collect()


def test_point_in_interval_join_reversed_interval_dropped(spark):
    """A reversed interval (end before start) matches nothing in the
    naive BETWEEN semantics; the bucketized form must drop it BEFORE
    the bucket explode (sequence() would otherwise descend through its
    buckets and fan out garbage candidates)."""
    from datetime import datetime

    from leader_graph_spark.operators.intervals import point_in_interval_join

    pts = spark.createDataFrame(
        [(1, datetime(1995, 3, 10))], "pid long, ts timestamp"
    )
    ivs = spark.createDataFrame(
        [
            ("ok", datetime(1995, 3, 1), datetime(1995, 4, 1)),
            ("reversed", datetime(1995, 12, 1), datetime(1995, 1, 1)),
        ],
        "w string, s timestamp, e timestamp",
    )
    out = point_in_interval_join(pts, ivs, point_col="ts", start_col="s", end_col="e")
    assert [r.w for r in out.collect()] == ["ok"]


def test_length_bucketed_batching_padding(spark):
    """Hand-computed padding on a tiny corpus, plus the economic claim:
    bucketed batching wastes less than naive id-order batching."""
    from leader_graph_spark.operators.packing import (
        length_bucketed_batches,
        padding_report,
    )

    # two buckets at width 100: [10, 20, 90] and [150, 160]
    docs = spark.createDataFrame(
        [(1, 90), (2, 10), (3, 150), (4, 20), (5, 160)], ["doc_id", "n_tok"]
    )
    b = length_bucketed_batches(
        docs, id_col="doc_id", token_col="n_tok", bucket_width=100, batch_size=2
    )
    rep = {
        r.length_bucket: r
        for r in padding_report(b, token_col="n_tok").collect()
    }
    # bucket 0 in (tok, id) order: [10, 20 | 90] -> padded 2*20 + 90
    assert rep[0].n_docs == 3 and rep[0].n_batches == 2
    assert rep[0].padded_cells == 2 * 20 + 90 == 130
    assert rep[0].waste_ppm == (1_000_000 * (130 - 120)) // 130
    # bucket 1: [150, 160] -> padded 2*160
    assert rep[1].padded_cells == 320 and rep[1].total_tokens == 310

    def naive_padding(sizes, batch_size):
        waste = 0
        for i in range(0, len(sizes), batch_size):
            chunk = sizes[i : i + batch_size]
            waste += max(chunk) * len(chunk) - sum(chunk)
        return waste

    sizes_by_id = [90, 10, 150, 20, 160]  # loader order = arrival order
    bucketed_waste = sum(
        r.padded_cells - r.total_tokens for r in rep.values()
    )
    assert bucketed_waste < naive_padding(sizes_by_id, 2)


def test_length_bucketed_batch_sizes(spark):
    """Every batch has exactly batch_size rows except at most one
    remainder batch per bucket, and positions are 0..n-1 within it."""
    from leader_graph_spark.operators.packing import length_bucketed_batches

    docs = spark.range(0, 97).select(
        F.col("id").alias("doc_id"), (F.col("id") * 13 % 301).alias("n_tok")
    )
    b = length_bucketed_batches(
        docs, id_col="doc_id", token_col="n_tok", bucket_width=50, batch_size=8
    ).collect()
    from collections import defaultdict

    groups = defaultdict(list)
    for r in b:
        groups[(r.length_bucket, r.batch_idx)].append(r.batch_pos)
    for (bucket, _), positions in groups.items():
        assert sorted(positions) == list(range(len(positions)))
    by_bucket = defaultdict(list)
    for (bucket, bi), positions in groups.items():
        by_bucket[bucket].append((bi, len(positions)))
    for bucket, sizes in by_bucket.items():
        sizes.sort()
        # all full except possibly the last
        assert all(n == 8 for _, n in sizes[:-1])


def test_striped_shards_balance_and_partition_invariance(spark):
    """Serpentine striping bounds the shard token spread by ~one
    document; the two-phase global rank must not depend on the input's
    partitioning."""
    from leader_graph_spark.operators.packing import striped_shard_assignment

    docs = spark.range(0, 500).select(
        F.col("id").alias("doc_id"), (F.col("id") * 37 % 997 + 5).alias("n_tok")
    )
    out = striped_shard_assignment(
        docs, id_col="doc_id", token_col="n_tok", n_shards=8
    )
    totals = {
        r.shard: r.tok
        for r in out.groupBy("shard").agg(F.sum("n_tok").alias("tok")).collect()
    }
    assert sorted(totals) == list(range(8))
    max_doc = 997 + 4
    assert max(totals.values()) - min(totals.values()) <= max_doc
    # a hash split's spread on the same data, for contrast: striping
    # must beat it (hash spread here is ~thousands of tokens)
    hash_totals = {
        r.b: r.tok
        for r in docs.groupBy(F.pmod(F.xxhash64("doc_id"), F.lit(8)).alias("b"))
        .agg(F.sum("n_tok").alias("tok"))
        .collect()
    }
    assert max(totals.values()) - min(totals.values()) < max(
        hash_totals.values()
    ) - min(hash_totals.values())
    # partition invariance: 1-partition input gives the identical assignment
    one = striped_shard_assignment(
        docs.coalesce(1), id_col="doc_id", token_col="n_tok", n_shards=8
    )
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, one.collect()))


def test_join_size_estimate_upper_bounds_exact(spark, sf_dir):
    """The CMS inner-product estimate must never undercount the true
    join size (collisions only add mass) and should be within a small
    multiple at this sketch width."""
    from leader_graph_spark.plans import REGISTRY

    row = REGISTRY["join_size_estimate_cms"].spark(spark, sf_dir).collect()[0]
    assert row.exact_rows > 0
    assert row.estimated_rows >= row.exact_rows
    assert row.estimated_rows <= 2 * row.exact_rows


def test_range_selectivity_estimate_error_bound(spark, sf_dir):
    """The equi-depth summary estimate is off by at most one bucket."""
    from leader_graph_spark.plans import REGISTRY

    row = REGISTRY["range_selectivity_estimate"].spark(spark, sf_dir).collect()[0]
    assert row.exact_above > 0
    assert abs(row.est_above - row.exact_above) <= row.max_bucket_rows
    # and the estimate always over-approximates (upper-bound convention)
    assert row.est_above >= row.exact_above
