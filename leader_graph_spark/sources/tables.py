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

Tiny dimensions. :func:`join_dim` looks a fact row's key up in a
dimension whose footer shows at most :data:`INLINE_DIM_MAX_ROWS` rows as
a literal map built on the driver, the reference's in-memory dict lookup
(``src/mysql2neo4j.py:130-151``), so the join runs no broadcast job;
any other dimension keeps a broadcast hash join.
"""

from __future__ import annotations

import functools
import os
import stat
from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
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
    """(arrow schema, names of INT96 columns, row count) of one parquet
    file. The stat fields are the cache key only."""
    import pyarrow.parquet as pq

    meta = pq.read_metadata(path)
    schema = meta.schema
    int96 = frozenset(
        schema.column(i).path
        for i in range(len(schema))
        if schema.column(i).physical_type == "INT96"
    )
    return schema.to_arrow_schema(), int96, meta.num_rows


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
    arrow, int96, _ = footer
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


INLINE_DIM_MAX_ROWS = 64
"""Largest dimension :func:`join_dim` inlines as a literal map; a
constant, not a conf, since it follows from a measurement. Spark looks a key up in a map by
scanning its keys in order (``GetMapValue``), so the lookup costs every
fact row time linear in the dimension's size, where the broadcast hash
join pays one job up front and a constant probe per row. Measured as an
inner lookup of two columns on sf0.1 ``lineitem`` (600 000 rows, key
``l_partkey % n``) into an int-keyed dimension of ``n`` rows, noop sink,
warm, median of 6 runs, 4 cores (inline / broadcast wall): n = 5
0.22 / 0.35 s, 25 0.25 / 0.28 s, 50 0.26 / 0.29 s, 75 0.28 / 0.31 s,
100 0.33 / 0.28 s, 250 0.44 / 0.30 s, 1 000 1.13 / 0.28 s. The scan
costs about 1.5 ns of wall per key and fact row; the crossover lies
between 75 and 100 rows on this fact, and the limit sits below it.
Nation (25 rows) and region (5) take the inline path at every TPC-H
scale. The crossover falls as the fact grows (the scan scales with the
fact, the broadcast job does not): a 25-key lookup over a fact ten
times this size costs about as much as the job it saves."""

_DIM_LOOKUP = "__dim_lookup"


def _inline_type(t) -> bool:
    """An Arrow type whose values :func:`_sql_literal` writes exactly."""
    from pyarrow import types as pa_types

    return (
        pa_types.is_signed_integer(t)
        or pa_types.is_string(t)
        or pa_types.is_large_string(t)
        or pa_types.is_boolean(t)
        or pa_types.is_date32(t)
        or pa_types.is_decimal(t)
    )


_INT_SUFFIX = {T.ByteType: "Y", T.ShortType: "S", T.IntegerType: "", T.LongType: "L"}


def _sql_literal(value, dtype: T.DataType) -> str:
    """``value`` (a date as days since the epoch) as a SQL literal of
    exactly ``dtype``. Strings are written as their UTF-8 bytes, so no
    text needs escaping. Integers and booleans are written bare (a
    suffix types an integer), since each ``CAST`` adds to the analysis
    of every plan built on the lookup."""
    if value is None:
        return f"CAST(NULL AS {dtype.simpleString()})"
    if type(dtype) in _INT_SUFFIX:
        return f"{value}{_INT_SUFFIX[type(dtype)]}"
    if isinstance(dtype, T.BooleanType):
        return str(value).lower()
    if isinstance(dtype, T.DateType):
        return f"date_from_unix_date({value})"
    if isinstance(dtype, T.StringType):
        text = f"X'{value.encode('utf-8').hex()}'"
    else:
        text = format(value, "f")
    return f"CAST({text} AS {dtype.simpleString()})"


@functools.lru_cache(maxsize=64)
def _read_dim_map(path: str, mtime_ns: int, size: int, key: str, cols: tuple[str, ...]):
    """SQL text of ``map(key → named_struct(c0, …))`` over every row of
    a small parquet file and of its key list; None when the key holds a
    null or a duplicate. The stat fields are the cache key only."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    table = pq.read_table(path, columns=list(dict.fromkeys((key, *cols))))
    keys = table.column(key)
    if keys.null_count or len(pc.unique(keys)) != len(keys):
        return None
    types = {f.name: f.dataType for f in _footer_schema(path)}

    def literals(name: str) -> list[str]:
        col = table.column(name)
        if pa.types.is_date32(col.type):
            col = col.cast(pa.int32())
        return [_sql_literal(v, types[name]) for v in col.to_pylist()]

    keys = literals(key)
    values = zip(*[[f"'c{i}', {v}" for v in literals(c)] for i, c in enumerate(cols)])
    entries = [f"{k}, named_struct({', '.join(row)})" for k, row in zip(keys, values)]
    return f"map({', '.join(entries)})", ", ".join(keys)


def _inline_dim(path: str, key: str, cols: tuple[str, ...], key_type: T.DataType):
    """The literal map and key list of :func:`join_dim`
    (:func:`_read_dim_map`), or None when the dimension
    must be joined instead: not a local parquet file, no rows or more
    than :data:`INLINE_DIM_MAX_ROWS`, a column it cannot write exactly
    or missing, a key of another type than the fact's, or a key with a
    null or a duplicate."""
    footer = _footer(path)
    if footer is None:
        return None
    arrow, int96, num_rows = footer
    if not 0 < num_rows <= INLINE_DIM_MAX_ROWS:
        return None
    for name in (key, *cols):
        if name not in arrow.names or name in int96 or not _inline_type(arrow.field(name).type):
            return None
    schema = _footer_schema(path)
    if schema is None or schema[key].dataType != key_type:
        return None
    st = os.stat(path)
    return _read_dim_map(path, st.st_mtime_ns, st.st_size, key, cols)


def join_dim(
    fact: DataFrame,
    fact_key: str,
    sf_dir: str,
    table: str,
    key: str,
    cols: Sequence[str] | Mapping[str, str],
    how: str = "inner",
) -> DataFrame:
    """``fact`` equi-joined (``inner`` or ``left``) on ``fact_key ==
    key`` to the canonical dimension ``table``, adding its ``cols`` (a
    mapping renames them: dimension column → output name) after the fact
    columns, as the join would.

    A dimension that :func:`_inline_dim` accepts is read on the driver
    with pyarrow and becomes a literal ``map(key → named_struct(cols))``,
    built by one ``F.expr``, in which each fact row looks its key up. An
    inner join first keeps the rows whose key is ``IN`` the key list (a
    hash set past 10 keys, and a filter the fact's scan can take), so
    each kept row scans the map once; a left join keeps every row. No
    job runs, where a broadcast join builds its hash table in one. Any
    other dimension is broadcast-joined."""
    if how not in ("inner", "left"):
        raise ValueError(f"join_dim supports inner and left joins, got {how!r}")
    names = dict(cols) if isinstance(cols, Mapping) else {c: c for c in cols}
    clash = ({_DIM_LOOKUP, *names.values()}) & set(fact.columns)
    if clash:
        raise ValueError(f"join_dim: fact already has columns {sorted(clash)}")
    path = f"{sf_dir}/{table}.parquet"
    lookup = _inline_dim(path, key, tuple(names), fact.schema[fact_key].dataType)
    if lookup is None:
        dim = load_table(fact.sparkSession, sf_dir, table).select(
            F.col(key).alias(_DIM_LOOKUP), *[F.col(c).alias(a) for c, a in names.items()]
        )
        return fact.join(F.broadcast(dim), fact[fact_key] == dim[_DIM_LOOKUP], how).drop(
            _DIM_LOOKUP
        )
    lookup_map, keys = lookup
    ref = "`" + fact_key.replace("`", "``") + "`"
    out = fact.where(F.expr(f"{ref} IN ({keys})")) if how == "inner" else fact
    found = F.expr(f"{lookup_map}[{ref}]")
    return out.select("*", *[found[f"c{i}"].alias(a) for i, a in enumerate(names.values())])


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
