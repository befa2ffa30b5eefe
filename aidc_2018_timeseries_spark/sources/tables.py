"""Loaders for the driver's synthetic parquet tables (TESTDATA.md).

These play the role of the reference's file scans (SURVEY §2.1 S1-S4): the
driver's ``events`` table is the generic long-format series (key=user_id,
order=ts), ``lineitem``/``orders`` the relational side, ``documents`` /
``embeddings`` the LLM-pipeline side.

Scale posture: plain ``spark.read.parquet`` so Catalyst gets pushdown and
pruning; no driver-side materialization. The schema is inferred once per
unchanged file per process (:func:`_read_parquet`): inference runs a
footer-reading Spark job, and later reads pass the cached schema instead,
which yields the same plan and runs no job. The only quirk handled here is the
nanosecond timestamp physical type in ``events`` (Spark reads it as a long
when ``spark.sql.legacy.parquet.nanosAsLong=true``, see session.py); we
expose both the raw ``ts`` nanoseconds (exact, used for ordering and
DuckDB-parity via ``epoch_ns``) and a derived ``ts_utc`` microsecond
timestamp for timestamp-typed operations (streaming windows, date_trunc).
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from aidc_2018_timeseries_spark.session import configure_session

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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Confs that change how parquet physical types map to Spark types; a
# cached schema is valid only under the values it was inferred with.
_TYPE_MAPPING_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)

# (abs path, mtime_ns, size, inode, type-mapping conf values) → schema.
# Shared by every session in the process; two threads missing at once
# only infer the same schema twice.
_SCHEMA_CACHE: dict[tuple, StructType] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring a regular file's schema once.

    A rewritten file (new mtime, size or inode) or a changed type-mapping
    conf misses the cache and is inferred afresh. Directories and
    anything else that is not a regular file are read as before.
    """
    try:
        st = os.stat(path)
    except OSError:
        st = None
    if st is None or not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path)
    key = (
        os.path.abspath(path),
        st.st_mtime_ns,
        st.st_size,
        st.st_ino,
        tuple(spark.conf.get(c) for c in _TYPE_MAPPING_CONFS),
    )
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table; normalize the events timestamp column."""
    configure_session(spark)
    df = _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type in ("timestamp", "timestamp_ntz"):
            # ts is a microsecond timestamp (current testdata schema).
            # Normalize to the engine contract: `ts` = exact int64
            # nanoseconds-since-epoch (ordering, joins, gap math — matches
            # the DuckDB oracle's epoch_ns(ts) exactly since both are
            # µs-precision ×1000), `ts_utc` = the timestamp itself. The
            # ntz→ltz cast interprets the wall clock in the session zone,
            # which configure_session pins to UTC — same convention DuckDB
            # applies to naive timestamps.
            micros = F.unix_micros(F.col("ts").cast("timestamp"))
            df = df.withColumn("ts_utc", F.timestamp_micros(micros)).withColumn(
                "ts", micros * F.lit(1000)
            )
        elif ts_type == "bigint":
            # Legacy schema: raw nanoseconds-since-epoch (TIMESTAMP(NANOS)
            # parquet read with nanosAsLong). Keep it and derive the
            # timestamp. integer 'div', NOT '/': double division loses
            # ulps above 2^53, and epoch nanos (~1.7e18) are far past that.
            df = df.withColumn("ts_utc", F.timestamp_micros(F.expr("ts div 1000")))
        else:
            # Fail fast on schema drift: a silently mis-unit'd ts column
            # poisons every downstream window/join (this exact rot broke the
            # round-3 streaming test). New physical types must be handled
            # here explicitly, not guessed at.
            raise TypeError(
                f"events.ts has unexpected dtype {ts_type!r}; expected "
                "timestamp/timestamp_ntz (current testdata) or bigint nanos "
                "(legacy). Update load_table's normalization for this schema."
            )
    return df


def register_views(spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES) -> None:
    """Register every table as a temp view for spark.sql use."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def local_frame(spark: SparkSession, rows: list[tuple], ddl: str) -> DataFrame:
    """A small driver-built table as a DataFrame, sent as one Arrow table.

    Same schema and rows as ``spark.createDataFrame(rows, ddl)``, without
    its pickled-row Python RDD, whose first action runs a Spark stage and
    starts Python workers. The Arrow schema comes from Spark's own
    mapping, so nulls, integer widths and nested arrays survive as is.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = StructType.fromDDL(ddl)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [()] * len(schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)
