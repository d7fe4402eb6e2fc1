"""Explicit-schema catalog for the synthetic test tables.

The reference reads its CSVs with ``inferSchema=true`` and then
re-casts every consumed column (reference code/experiment.py:281-298,
322-338). Inference costs an extra scan and is fragile at scale. Here
``SCHEMAS`` pins every table's column names and logical types, and
``verify_contract`` checks each parquet footer against it (the tests
run it on every testdata scale). ``load_table`` hands Spark the schema
it reads from the footer on the driver (``footer_schema``), so building
a query over a table starts no Spark job.

``SCHEMAS`` declares ``timestamp`` where the files hold tz-naive
micros, which Spark reads as ``timestamp_ntz`` (``o_orderdate``,
``l_shipdate``, ``events.ts``); only ``events.ts`` is cast to
``timestamp`` at load.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings — one parquet file per table in
``$SPARK_GRAFT_SF_DIR``-style directories.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

_TYPES = {
    "int": T.IntegerType(), "bigint": T.LongType(), "double": T.DoubleType(),
    "string": T.StringType(), "timestamp": T.TimestampType(),
    "array<float>": T.ArrayType(T.FloatType()),
}


def _schema(columns: str) -> T.StructType:
    """StructType of a ``"name type, name type, ..."`` column list."""
    pairs = (c.split() for c in columns.split(","))
    return T.StructType([T.StructField(n, _TYPES[t]) for n, t in pairs])


SCHEMAS: dict[str, T.StructType] = {
    "region": _schema("r_regionkey int, r_name string"),
    "nation": _schema("n_nationkey int, n_name string, n_regionkey int"),
    "customer": _schema(
        "c_custkey bigint, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string"
    ),
    "supplier": _schema("s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double"),
    "part": _schema(
        "p_partkey bigint, p_name string, p_brand string, p_type string, p_size int, "
        "p_retailprice double"
    ),
    "orders": _schema(
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, o_totalprice double, "
        "o_orderdate timestamp, o_orderpriority string"
    ),
    "lineitem": _schema(
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, l_tax double, "
        "l_returnflag string, l_linestatus string, l_shipdate timestamp"
    ),
    "events": _schema(
        "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, "
        "props string"
    ),
    "documents": _schema("doc_id bigint, text string, lang string, source string, n_chars bigint"),
    "embeddings": _schema("vec_id bigint, embedding array<float>, label int"),
}


def _footer_paths(path: str) -> list[str]:
    """Every parquet part file for a table path (a single file, or the
    part files of a directory)."""
    if os.path.isdir(path):
        parts = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )
        if not parts:
            raise FileNotFoundError(f"no parquet files under {path}")
        return parts
    return [path]


def events_ts_encoding(path: str) -> str:
    """How ``events.ts`` is stored in the (first part file's) footer:
    ``"nanos"`` for int64 nanos, with or without a timestamp[ns]
    annotation, which Spark reads only under nanosAsLong; else
    ``"timestamp"`` for us/ms timestamps and legacy INT96, which Spark
    reads natively. Testdata generations have shipped both."""
    pf = pq.ParquetFile(_footer_paths(path)[0])
    t = pf.schema_arrow.field("ts").type
    if pa.types.is_integer(t):
        return "nanos"
    if pa.types.is_timestamp(t):
        if t.unit != "ns":
            return "timestamp"
        # Arrow reports int64 nanos and INT96 (Spark's default output)
        # alike as timestamp[ns]; only the parquet physical type tells.
        phys = pf.schema
        for i in range(len(phys)):
            if phys.column(i).name == "ts":
                return "timestamp" if phys.column(i).physical_type == "INT96" else "nanos"
        return "nanos"
    raise TypeError(f"unsupported events.ts parquet type: {t}")


_ARROW_TYPES: dict[pa.DataType, T.DataType] = {
    pa.bool_(): T.BooleanType(), pa.int8(): T.ByteType(), pa.int16(): T.ShortType(),
    pa.int32(): T.IntegerType(), pa.int64(): T.LongType(), pa.float32(): T.FloatType(),
    pa.float64(): T.DoubleType(), pa.string(): T.StringType(),
    pa.large_string(): T.StringType(), pa.binary(): T.BinaryType(),
    pa.large_binary(): T.BinaryType(), pa.date32(): T.DateType(),
}


def verify_contract(name: str, path: str) -> None:
    """Testdata-contract guard: every part file's footer must match
    ``SCHEMAS[name]`` column for column (integer widths exactly), with
    the known events.ts encodings allowed, so drift fails here rather
    than deep inside the queries."""
    want = SCHEMAS[name]
    for part in _footer_paths(path):
        got = _footer_types(part)
        if [n for n, _ in got] != want.names:
            raise ValueError(
                f"testdata contract broken for {name!r} ({part}): columns "
                f"{[n for n, _ in got]} != expected {want.names}"
            )
        for (col, t), field in zip(got, want):
            s = field.dataType
            if not (
                t == s
                or (s == T.TimestampType() and t == T.TimestampNTZType())
                or ((name, col) == ("events", "ts") and events_ts_encoding(part) == "nanos")
            ):
                raise ValueError(
                    f"testdata contract broken for {name}.{col} ({part}): footer "
                    f"type {t} incompatible with expected {s.simpleString()}"
                )


def _footer_types(path: str) -> list[tuple[str, T.DataType | None]]:
    """(column, Spark type) per top-level column of one parquet file, as
    Spark's inference under the default reader settings types it:
    tz-naive micros/millis are ``timestamp_ntz``, tz-adjusted ones and
    INT96 are ``timestamp``. None where this mapping does not cover the
    type (int64 nanos, unsigned, dictionary, nested structs)."""
    pf = pq.ParquetFile(path)
    int96 = {c.path for c in map(pf.schema.column, range(len(pf.schema)))
             if c.physical_type == "INT96"}

    def spark_type(t: pa.DataType, name: str) -> T.DataType | None:
        if pa.types.is_timestamp(t):
            if name in int96:
                return T.TimestampType()
            if t.unit == "ns":
                return None
            return T.TimestampNTZType() if t.tz is None else T.TimestampType()
        if pa.types.is_list(t) or pa.types.is_large_list(t):
            elem = spark_type(t.value_type, "")
            return None if elem is None else T.ArrayType(elem)
        if pa.types.is_decimal128(t):
            return T.DecimalType(t.precision, t.scale)
        return _ARROW_TYPES.get(t)

    return [(f.name, spark_type(f.type, f.name)) for f in pf.schema_arrow]


def footer_schema(path: str) -> T.StructType | None:
    """The schema Spark's parquet inference gives a local single-file
    table, all fields nullable, read from its footer on the driver
    instead of by a Spark job. None for a directory, a URI or a type
    ``_footer_types`` does not cover, where the caller lets Spark
    infer."""
    if not os.path.isfile(path):
        return None
    fields = _footer_types(path)
    if any(t is None for _, t in fields):
        return None
    return T.StructType([T.StructField(n, t) for n, t in fields])


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Load one synthetic table as a DataFrame.

    The reader gets the schema from ``footer_schema``, which equals what
    Spark's inference would give (so vectorized reads and pushdown are
    unchanged) without the job inference runs to read the footer. Paths
    it does not cover, and the round-1 nanos encoding of ``events``,
    are read with inference. ``events.ts`` is normalized to a UTC
    ``timestamp``; the other tables come back as stored.
    """
    if name not in SCHEMAS:
        raise KeyError(f"unknown table {name!r}; have {sorted(SCHEMAS)}")
    # The caller may hand us an externally-built session (the driver
    # does); pin the session timezone so timestamp formatting/compare
    # is stable regardless of host TZ.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        # events.ts encoding drifts across testdata generations —
        # branch on the footer (round 1: int64 nanos; round 2+:
        # timestamp[us]). Match DuckDB's reader in both cases.
        if events_ts_encoding(path) == "nanos":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            df = spark.read.parquet(path)
            return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    schema = footer_schema(path)
    df = (spark.read if schema is None else spark.read.schema(schema)).parquet(path)
    if name == "events" and isinstance(df.schema["ts"].dataType, T.TimestampNTZType):
        # tz-naive micros: same wall-clock values DuckDB reads;
        # cast to session-TZ (UTC) timestamp so downstream window
        # / watermark ops and the oracle agree on instants.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df
