"""The driver branch of ``minhash_near_duplicates`` against its
distributed plan, row for row.

A corpus whose ``(id, text)`` size estimate is within
``DEDUP_DRIVER_MAX_BYTES`` is solved in Python from one Arrow collect;
past it (and always at a limit of 0) the distributed plan runs.
Every case here runs both branches on the same input and requires the
same rows, so the branch the registry's small
corpora take stays equal to the one larger corpora take.
"""

from __future__ import annotations

from unittest import mock

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from leader_graph_spark.graph import algorithms
from leader_graph_spark.graph.algorithms import _driver_frame
from leader_graph_spark.metrics import measure_action
from leader_graph_spark.operators import dedup
from leader_graph_spark.operators.dedup import (
    canonical_near_dup_docs,
    minhash_near_duplicates,
)
from leader_graph_spark.plans import REGISTRY

_FORCE_DRIVER = 1 << 40


def _docs(spark, rows, id_type=T.LongType()):
    """A ``(doc_id, text)`` corpus as an Arrow ``LocalRelation``, which
    carries the size estimate the gate reads (a frame parallelized
    from Python rows has none and always takes the distributed plan)."""
    schema = T.StructType(
        [T.StructField("doc_id", id_type), T.StructField("text", T.StringType())]
    )
    return _driver_frame(spark, schema, [list(c) for c in zip(*rows)])


def _driver_solves():
    """Patch in a spy on the driver branch: ``.called`` says which
    branch ran (a plan can fold to a local relation on either)."""
    return mock.patch.object(
        dedup, "_driver_near_duplicates", wraps=dedup._driver_near_duplicates
    )


def _run(limit: int, fn, *args, **kw):
    """(driver branch ran, sorted rows) of ``fn`` at ``limit``."""
    with mock.patch.object(dedup, "DEDUP_DRIVER_MAX_BYTES", limit), _driver_solves() as solve:
        rows = sorted(map(tuple, fn(*args, **kw).collect()))
    return solve.called, rows


def _both_branches(spark, df, **kw):
    """Rows of the driver branch and of the distributed plan (asserting
    each branch was taken)."""
    kw = {"id_col": "doc_id", "text_col": "text", **kw}
    out = []
    for limit, on_driver in ((_FORCE_DRIVER, True), (0, False)):
        ran_driver, rows = _run(limit, minhash_near_duplicates, df, **kw)
        assert ran_driver is on_driver
        out.append(rows)
    return out


def _assert_equal(spark, df, **kw):
    driver, distributed = _both_branches(spark, df, **kw)
    assert driver == distributed
    return driver


def test_fixed_corpus_edge_cases(spark):
    """Duplicate and null ids, null/empty/short texts, tabs, newlines
    and leading whitespace, non-ASCII text, identical documents, ids
    past 2**53 — each pairing as the distributed plan pairs it."""
    base = "the quick brown fox jumps over the lazy dog by the river bank today"
    big = 2**53 + 1
    rows = [
        (1, base),
        (2, base),  # identical to 1
        (2, base + " again"),  # duplicate id: one row per (row, row) pair
        (3, "\t" + base.replace(" ", "\n", 3)),  # tab + newlines
        (4, "   " + base.upper()),  # leading spaces, case
        (None, base),  # never pairs
        (5, None),
        (6, ""),
        (7, "two words"),  # shorter than n
        (big, "Ça été déjà vu à Zürich über İstanbul ΣΊΣΥΦΟΣ ολοι μαζι σήμερα"),
        (big + 1, "ça été déjà vu à zürich über i̇stanbul σίσυφος ολοι μαζι σήμερα"),
        (big + 2, "中文 文本 的 近似 重复 检测 测试 中文 文本 的 近似 重复"),
        (big + 3, "中文 文本 的 近似 重复 检测 测试 中文 文本 的 近似 重复 句子"),
        (8, "completely unrelated words describing spark query engines at scale now"),
    ]
    df = _docs(spark, rows)
    for threshold in (0.0, 0.5, 0.8):
        got = _assert_equal(spark, df, threshold=threshold)
        assert got and all(r[0] is not None and r[0] < r[1] for r in got)
    got = _assert_equal(spark, df, threshold=0.5)
    pairs = {(a, b) for a, b, _ in got}
    assert (1, 2) in pairs and (big + 2, big + 3) in pairs
    # id 2 has two rows: (1, 2) is verified against each of them
    assert sum(1 for a, b, _ in got if (a, b) == (1, 2)) == 2


def test_id_with_several_rows_signs_from_their_union(spark):
    """Id 1's rows are a copy of id 2 and a short unrelated text: the
    union of their shingles has mostly the copy's minimums, so the ids
    collide in a band, and the copy's row verifies at 1.0. Signing
    from either row alone would miss or find the pair by row order."""
    copy = " ".join(f"w{i}" for i in range(42))
    other = " ".join(f"v{i}" for i in range(42))
    rows = [(1, copy), (1, "short other text"), (2, copy)]
    rows += [(3, "short other text"), (3, other), (4, other)]  # copy last
    got = _assert_equal(spark, _docs(spark, rows))
    assert (1, 2, 1.0) in got and (3, 4, 1.0) in got


def test_string_ids_and_shingle_sizes(spark):
    rows = [
        ("a", "x y z w v u t s r q"),
        ("b", "x y z w v u t s r q p"),
        ("é", "x y z w v u t s r"),
        ("B", "q r s t u v w x y z"),
    ]
    df = _docs(spark, rows, T.StringType())
    for n in (1, 2, 3):
        assert _assert_equal(spark, df, shingle_n=n, threshold=0.5)


def test_jaccard_exactly_at_threshold(spark):
    """4 of 5 single-word shingles shared: Jaccard 0.8 passes ``>= 0.8``
    on both branches."""
    df = _docs(spark, [(1, "alpha beta gamma delta epsilon"), (2, "alpha beta gamma delta")])
    assert _assert_equal(spark, df, shingle_n=1) == [(1, 2, 0.8)]


def test_half_way_rounding_is_spark_half_up(spark):
    """Jaccard k/128 has seven decimals ending in 5: Spark's HALF_UP
    rounding to six decimals applies on both branches."""
    words = [f"w{i}" for i in range(128)]
    rows = [(0, " ".join(words))]
    for i, k in enumerate((103, 105, 125), start=1):
        rows.append((i, " ".join(words[:k])))
    df = _docs(spark, rows)
    got = {(a, b): j for a, b, j in _assert_equal(spark, df, shingle_n=1)}
    assert got[(0, 1)] == 0.804688  # 103/128 = 0.8046875
    assert got[(0, 2)] == 0.820313  # 105/128 = 0.8203125
    assert got[(0, 3)] == 0.976563  # 125/128 = 0.9765625


def _empty_row_pairs_drop_alike(spark, ansi: str):
    """Two ids that pair through their non-empty rows, each with an
    empty row too: the (empty, empty) row pair has no Jaccard, and both
    branches drop it."""
    text = "one two three four five six seven"
    df = _docs(spark, [(1, text), (1, ""), (2, text), (2, None)])
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    try:
        for threshold in (0.0, 0.5):
            got = _assert_equal(spark, df, threshold=threshold)
            assert (1, 2, 1.0) in got and len(got) == (3 if threshold == 0.0 else 1)
    finally:
        spark.conf.unset("spark.sql.ansi.enabled")


def test_empty_row_pairs_drop_alike_with_ansi(spark):
    """ANSI division on (Spark 4's default): no DIVIDE_BY_ZERO."""
    _empty_row_pairs_drop_alike(spark, "true")


def test_empty_row_pairs_drop_alike_without_ansi(spark):
    """ANSI division off: the same rows."""
    _empty_row_pairs_drop_alike(spark, "false")


def test_bucket_pair_guard_falls_back_to_distributed(spark):
    """Three copies of one document fill each of the 4 bands' buckets
    with 3 member pairs: 12 bucket pairs solve on the driver at a
    bound of 12, and a bound of 11 hands the corpus to the
    distributed plan (no local result), with the same rows."""
    text = " ".join(f"w{i}" for i in range(20))
    df = _docs(spark, [(1, text), (2, text), (3, text), (4, "x y z w")])
    kw = dict(id_col="doc_id", text_col="text")
    results = []
    for bound in (12, 11):
        with mock.patch.object(dedup, "DEDUP_DRIVER_MAX_BYTES", _FORCE_DRIVER), mock.patch.object(
            dedup, "DEDUP_DRIVER_MAX_PAIRS", bound
        ):
            got = minhash_near_duplicates(df, **kw)
            plan = got._jdf.queryExecution().optimizedPlan().toString()
            results.append(("Join" in plan, sorted(map(tuple, got.collect()))))
    (joined_at_12, rows_12), (joined_at_11, rows_11) = results
    assert (joined_at_12, joined_at_11) == (False, True)
    assert rows_12 == rows_11 == [(1, 2, 1.0), (1, 3, 1.0), (2, 3, 1.0)]


def test_many_copies_equal_distributed(spark):
    """A duplicate-heavy corpus — 60 documents, copies of 3 templates,
    some with a word appended — pairs every copy alike on both
    branches."""
    templates = [" ".join(f"t{t}w{i}" for i in range(12 + 4 * t)) for t in range(3)]
    rows = [(i, templates[i % 3] + (" extra" if i % 5 == 0 else "")) for i in range(60)]
    got = {(a, b) for a, b, _ in _assert_equal(spark, _docs(spark, rows))}
    exact = [i for i in range(60) if i % 5]  # unaltered copies collide in every band
    assert {(a, b) for a in exact for b in exact if a < b and a % 3 == b % 3} <= got


_WORDS = ["a", "B", "ça", "été", "İ", "Σ", "中文", "x1"]
_SEPS = [" ", "  ", "\t", "\n", " \t\n "]

_texts = st.one_of(
    st.none(),
    st.tuples(
        st.lists(st.sampled_from(_WORDS), max_size=10),
        st.sampled_from(_SEPS),
        st.sampled_from(["", " ", "\t", "\n "]),
    ).map(lambda t: t[2] + t[1].join(t[0])),
)
_corpora = st.tuples(
    st.lists(
        st.tuples(st.sampled_from([1, 2, 3, 4, 2**53 + 1, -(2**60), None]), _texts),
        min_size=1,
        max_size=12,
    ),
    st.sampled_from([1, 2, 3]),
    st.sampled_from([0.0, 0.5, 0.8]),
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_corpora)
def test_property_driver_equals_distributed(spark, case):
    rows, n, threshold = case
    df = _docs(spark, rows)
    driver, distributed = _both_branches(spark, df, shingle_n=n, threshold=threshold)
    assert driver == distributed


def test_canonical_docs_both_branches(spark):
    """``canonical_near_dup_docs`` inherits the branch: same labels."""
    base = " ".join(f"w{i}" for i in range(30))
    rows = [(1, base), (2, base + " x"), (3, base + " x y"), (4, "unrelated short text here")]
    df = _docs(spark, rows)
    kw = dict(id_col="doc_id", text_col="text")
    ran_driver, driver = _run(_FORCE_DRIVER, canonical_near_dup_docs, df, **kw)
    ran_loop, distributed = _run(0, canonical_near_dup_docs, df, **kw)
    assert (ran_driver, ran_loop) == (True, False)
    assert driver == distributed
    assert {r[0]: r[1] for r in driver} == {1: 1, 2: 1, 3: 1, 4: 4}


def test_canonical_docs_propagation_driver_equals_loop(spark, sf_dir):
    """The registry's ``dedup_canonical_docs`` at sf0.01: after the
    MinHash collect, ``connected_components(max_iter=rounds)`` solves
    the pair list on the driver, so the build runs three jobs (the collect, the raw-edge
    checkpoint and its Arrow collect) instead of a checkpoint per two
    hops and the broadcast builds of their joins; forcing the loop
    (``DRIVER_CC_MAX_EDGES`` patched to 0) gives the same rows."""
    spec = REGISTRY["dedup_canonical_docs"]
    build = measure_action(spark, lambda: spec.spark(spark, sf_dir))
    assert build.jobs <= 3, build.jobs
    driver = sorted(map(tuple, build.result.collect()))
    with mock.patch.object(algorithms, "DRIVER_CC_MAX_EDGES", 0):
        loop = sorted(map(tuple, spec.spark(spark, sf_dir).collect()))
    assert driver == loop
    assert sum(kept for _, _, kept in driver) < len(driver)  # some docs collapse


def test_registry_corpus_takes_driver_branch_without_shuffle(spark, sf_dir):
    """At the default limit the registry's sf0.01 corpus is solved on
    the driver: plan build runs one job (the collect) and the result's
    action no shuffle stage."""
    spec = REGISTRY["minhash_near_dup_docs"]
    with _driver_solves() as solve:
        build = measure_action(spark, lambda: spec.spark(spark, sf_dir))
    df = build.result
    assert solve.called
    assert build.jobs <= 1 and build.stages <= 1
    run = measure_action(
        spark, lambda: df.write.format("noop").mode("overwrite").save()
    )
    assert run.stages == run.jobs  # one stage per job: no shuffle stage
    assert run.shuffle_write_bytes == 0 and run.shuffle_read_bytes == 0
    assert build.shuffle_write_bytes == 0

