"""Canonical test-table sources (parquet).

The reference reads everything through per-stage JDBC SELECTs with
explicit column lists and ``is_deleted = 0`` filters
(``utils/db_utils.py:37-62``, ``src/mysql2neo4j.py:87-151``); in Spark
the equivalent projection pruning and predicate pushdown are free once
the scan is declared — ``spark.read.parquet`` + ``.select``/``.filter``
reach the parquet reader as ReadSchema/PushedFilters.

Footer schemas. ``spark.read.parquet(path)`` infers the schema with a
Spark job that reads the footer on an executor (0.12-0.13 s warm per
table, measured at sf0.01 on 2 cores), and the plans load tables at
263 call sites, so inference would cost every plan build one job per
table. Instead the footer is read on the driver with pyarrow, cached per
``(path, mtime_ns, size)`` (a file rewritten at the same path misses),
mapped to the schema Spark's own inference yields, and handed to
``spark.read.schema(...)``: declaring a table runs no job. A path that
is not a local file (a Spark-written directory, a remote URI), or a
footer with a type the mapping does not cover (unsigned integers),
keeps Spark's inference.
"""

from __future__ import annotations

import functools
import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@functools.lru_cache(maxsize=64)
def _read_footer(path: str, mtime_ns: int, size: int):
    """(arrow schema, names of INT96 columns) of one parquet file. The
    stat fields are the cache key only."""
    import pyarrow.parquet as pq

    schema = pq.read_metadata(path).schema
    int96 = frozenset(
        schema.column(i).path
        for i in range(len(schema))
        if schema.column(i).physical_type == "INT96"
    )
    return schema.to_arrow_schema(), int96


def _footer(path: str):
    """Cached :func:`_read_footer` of a local parquet FILE, None for
    anything else."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    return _read_footer(path, st.st_mtime_ns, st.st_size)


def _footer_schema(path: str) -> T.StructType | None:
    """The schema ``spark.read.parquet(path)`` infers, read from the
    footer on the driver: every field nullable (Spark reads file sources
    so), a timestamp without a time zone as TIMESTAMP_NTZ, a nanosecond
    timestamp as BIGINT (the session's nanosAsLong reading) and an
    INT96 column as TIMESTAMP. None when ``path`` is not a local file or
    a column has a type with no Arrow-to-Spark mapping."""
    from pyarrow import types as pa_types
    from pyspark.errors import PySparkTypeError
    from pyspark.sql.pandas.types import from_arrow_type

    footer = _footer(path)
    if footer is None:
        return None
    arrow, int96 = footer
    fields = []
    for f in arrow:
        if f.name in int96:
            dtype = T.TimestampType()
        elif pa_types.is_timestamp(f.type) and f.type.unit == "ns":
            dtype = T.LongType()
        else:
            try:
                dtype = from_arrow_type(f.type, prefer_timestamp_ntz=True)
            except PySparkTypeError:
                return None
        fields.append(T.StructField(f.name, dtype))
    return T.StructType(fields)


def ts_parquet_unit(path: str, column: str = "ts") -> str | None:
    """Probe the parquet *logical* type of a timestamp column from the
    cached file footer (driver-side, no Spark job). Returns the arrow
    unit ('s'/'ms'/'us'/'ns') for timestamp columns, None if the column
    is absent, and raises for a plain integer column — the driver's
    testdata has shipped ``ts`` as TIMESTAMP(NANOS) one round and
    timestamp[us] the next, so a bare int64 has no safe default
    interpretation (off-by-1000× if guessed wrong)."""
    from pyarrow import types as pa_types

    footer = _footer(path)
    if footer is None:
        raise ValueError(f"{path}: not a local parquet file; cannot read its footer")
    schema = footer[0]
    if column not in schema.names:
        return None
    t = schema.field(column).type
    if pa_types.is_timestamp(t):
        return t.unit
    raise ValueError(
        f"{path}: column {column!r} has physical type {t} — not a parquet "
        "timestamp logical type; refusing to guess an epoch unit"
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one canonical table under its footer schema
    (:func:`_footer_schema`; no Spark job). Column pruning / filter
    pushdown happen at the parquet scan for anything composed on top of
    this.

    The ``events`` table has carried TIMESTAMP(NANOS) — illegal for
    Spark's vectorized parquet reader — so it is read as BIGINT
    nanoseconds: declared so by the footer schema, or inferred so under
    the nanosAsLong legacy mode that :func:`session.get_spark` sets. The
    footer logical type is verified to really be nanos before
    converting to microsecond TimestampType (truncation, which matches
    DuckDB's ns→µs conversion of the same files).
    """
    path = f"{sf_dir}/{name}.parquet"
    schema = _footer_schema(path)
    df = spark.read.parquet(path) if schema is None else spark.read.schema(schema).parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        from pyspark.sql import functions as F

        unit = ts_parquet_unit(path)
        if unit != "ns":
            raise ValueError(
                f"{path}: ts read as bigint but parquet logical unit is "
                f"{unit!r}, not 'ns' — testdata encoding changed"
            )
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every canonical table as a temp view (for the SQL API)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs


def fan_out(df: DataFrame, parallelism: int | None = None) -> DataFrame:
    """Decouple CPU parallelism from input splits for per-row-expensive
    downstream work (md5 hashing, shingling, SRP projections).

    A 100 TB table arrives in thousands of scan splits and this is a
    no-op; a small single-file table arrives as ONE split, which would
    serialize all downstream hash work on one core while 31 idle. When
    the scan has fewer partitions than the cluster's default
    parallelism, round-robin-shuffle the (narrow) input once — measured
    3.5× on the MinHash pipeline at sf0.1. Skipped entirely when the
    input is already parallel, so it never adds a shuffle at scale.
    """
    n = parallelism or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n)
