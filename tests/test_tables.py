"""Table loading: footer schemas equal Spark's inferred schemas, the
footer cache misses on a rewritten file, and loading any table runs no
Spark job and changes no session conf."""

from __future__ import annotations

import datetime
import decimal
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from leader_graph_spark.sources.tables import TABLES, _footer_schema, load_table

TESTDATA = "/root/testdata"


def _inferred(spark, path):
    """What ``spark.read.parquet`` makes of ``path``, with the events
    table's nanosecond ``ts`` converted as ``load_table`` converts it."""
    df = spark.read.parquet(path)
    if path.endswith("/events.parquet") and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_footer_schema_equals_inferred_schema(spark, sf):
    sf_dir = f"{TESTDATA}/{sf}"
    if not os.path.isdir(sf_dir):
        pytest.skip(f"{sf_dir} not present")
    for name in TABLES:
        path = f"{sf_dir}/{name}.parquet"
        assert load_table(spark, sf_dir, name).schema == _inferred(spark, path).schema, name


def test_footer_schema_types_and_values(spark, tmp_path):
    """Each column type the footer mapping handles reads back with the
    inferred schema and the same rows: a non-null column, decimals,
    dates, timestamps with and without a time zone, a nanosecond
    timestamp (BIGINT under nanosAsLong), an INT96 timestamp, nested
    types, and an unsigned column (no mapping: Spark infers)."""
    table = pa.table({
        "nn": pa.array([1, 2], pa.int64()),
        "dec": pa.array([decimal.Decimal("1.23"), None], pa.decimal128(10, 2)),
        "wide": pa.array([decimal.Decimal("12345678901234567890.5"), None], pa.decimal128(30, 1)),
        "day": pa.array([datetime.date(2020, 1, 1), None], pa.date32()),
        "ts_utc": pa.array([1_700_000_000_000_000, None], pa.timestamp("us", tz="UTC")),
        "ts_ntz": pa.array([1_700_000_000_000, None], pa.timestamp("ms")),
        "ts_ns": pa.array([1_700_000_000_000_000_123, None], pa.timestamp("ns")),
        "tags": pa.array([["x"], None], pa.list_(pa.string())),
        "kv": pa.array([[("k", 1)], None], pa.map_(pa.string(), pa.int64())),
        "rec": pa.array(
            [{"a": 1, "b": "s"}, None], pa.struct([("a", pa.int32()), ("b", pa.string())])
        ),
    })
    table = table.cast(table.schema.set(0, pa.field("nn", pa.int64(), nullable=False)))
    cases = {"typed": table, "unsigned": pa.table({"u": pa.array([1, 2], pa.uint32())})}
    for name, t in cases.items():
        path = str(tmp_path / f"{name}.parquet")
        pq.write_table(t, path)
        cases[name] = path
    int96 = str(tmp_path / "int96.parquet")
    pq.write_table(
        pa.table({"t": pa.array([1_700_000_000_000_000_000], pa.timestamp("ns"))}),
        int96,
        use_deprecated_int96_timestamps=True,
    )
    for path in (cases["typed"], int96):
        schema = _footer_schema(path)
        inferred = spark.read.parquet(path)
        assert schema == inferred.schema, path
        assert spark.read.schema(schema).parquet(path).collect() == inferred.collect()
    assert _footer_schema(cases["typed"])["ts_ns"].dataType.simpleString() == "bigint"
    assert _footer_schema(cases["unsigned"]) is None
    assert _footer_schema(str(tmp_path)) is None  # a directory keeps inference


def test_footer_cache_misses_on_rewrite(spark, tmp_path):
    """The footer cache is keyed by (path, mtime_ns, size): a file
    rewritten at the same path is read again."""
    region = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": pa.array([1], pa.int32())}), region)
    assert load_table(spark, str(tmp_path), "region").columns == ["r_regionkey"]
    pq.write_table(
        pa.table({"r_regionkey": pa.array([1, 2], pa.int64()), "r_name": ["a", "b"]}), region
    )
    df = load_table(spark, str(tmp_path), "region")
    assert df.schema == spark.read.parquet(str(region)).schema
    assert sorted(tuple(r) for r in df.collect()) == [(1, "a"), (2, "b")]


def test_events_ts_units(spark, tmp_path):
    """A nanosecond ``ts`` loads as microsecond TIMESTAMP (truncated); a
    microsecond one as TIMESTAMP_NTZ; a bare integer raises."""
    ns = 1_700_000_000_123_456_789
    for sub, ts, dtype, expect in (
        ("ns", pa.array([ns], pa.timestamp("ns")), "timestamp", ns // 1000),
        ("us", pa.array([ns // 1000], pa.timestamp("us")), "timestamp_ntz", ns // 1000),
    ):
        os.makedirs(tmp_path / sub)
        pq.write_table(pa.table({"event_id": [1], "ts": ts}), tmp_path / sub / "events.parquet")
        df = load_table(spark, str(tmp_path / sub), "events")
        assert dict(df.dtypes)["ts"] == dtype
        micros = df.select(F.unix_micros(F.col("ts").cast("timestamp"))).first()[0]
        assert micros == expect
    os.makedirs(tmp_path / "int")
    pq.write_table(pa.table({"ts": pa.array([1], pa.int64())}), tmp_path / "int" / "events.parquet")
    with pytest.raises(ValueError, match="refusing to guess"):
        load_table(spark, str(tmp_path / "int"), "events")


def test_loading_tables_runs_no_job_and_keeps_conf(spark, sf_smoke):
    """Declaring every table runs no Spark job (no schema inference) and
    leaves the session conf as it was; the nanosAsLong reading is set
    once when the session is built. ``events`` keeps its schema and
    rows."""
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    sc = spark.sparkContext
    before = spark.conf.getAll
    group = "test_tables_no_jobs"
    sc.setJobGroup(group, "load every table")
    try:
        dfs = {name: load_table(spark, sf_smoke, name) for name in TABLES}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert spark.conf.getAll == before
    events = _inferred(spark, f"{sf_smoke}/events.parquet")
    assert dfs["events"].schema == events.schema
    assert sorted(map(tuple, dfs["events"].collect())) == sorted(map(tuple, events.collect()))
