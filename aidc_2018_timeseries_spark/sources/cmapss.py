"""CMAPSS turbofan file ingest (SURVEY §2.1 S1-S3).

Reference (``datasets/turbofan.py:166-175``): space-delimited headerless
text, 26 real columns (trajectory_id, t, 3 settings, 21 sensors) plus
trailing-space ghost columns; pandas backfills NaN and drops all-null
columns; per-trajectory matrices come from groupby in file order.

Spark-first: an explicit schema (no inference pass over 100 TB), ghost
columns dropped by simply not selecting them, backfill as a per-series
window function, and the long format IS the output — grouping to matrices
only happens at the ML boundary.

The RUL label file (one integer per line, keyed by FILE ORDER — the
reference's positional join, SURVEY §7 trap) is read driver-side: it is a
per-engine dimension (100 engines per file), never big data. The ordinal
becomes an explicit key for a broadcast equi-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aidc_2018_timeseries_spark.operators.filters import backfill
from aidc_2018_timeseries_spark.sources.tables import local_frame

N_SETTINGS = 3
N_SENSORS = 21

SETTING_COLS = [f"setting_{i + 1}" for i in range(N_SETTINGS)]
SENSOR_COLS = [f"sensor_{i + 1}" for i in range(N_SENSORS)]
FEATURE_COLS = SETTING_COLS + SENSOR_COLS

#: 26 real columns; two trailing ghost columns appear when lines end in
#: spaces — declared here so the reader parses them, then never selected.
CMAPSS_SCHEMA = T.StructType(
    [
        T.StructField("trajectory_id", T.IntegerType()),
        T.StructField("t", T.IntegerType()),
        *[T.StructField(c, T.DoubleType()) for c in FEATURE_COLS],
        T.StructField("_ghost_1", T.StringType()),
        T.StructField("_ghost_2", T.StringType()),
    ]
)


def read_cmapss(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """S1+S3: read one or more CMAPSS text files into long format.

    Multi-file reads keep ``source_file`` so trajectory ids (which restart
    from 1 in every file) stay disambiguated — the reference relies on
    list position instead (``turbofan.py:86-116``).
    """
    df = spark.read.csv(paths, sep=" ", schema=CMAPSS_SCHEMA, header=False)
    df = df.withColumn("source_file", F.input_file_name()).select(
        "source_file", "trajectory_id", "t", *FEATURE_COLS
    )
    # P2: pandas-bfill parity per (file, trajectory) in time order
    for c in FEATURE_COLS:
        df = backfill(df, ["source_file", "trajectory_id"], "t", c)
    return df


def read_rul_file(spark: SparkSession, path: str) -> DataFrame:
    """S2: RUL label file → (trajectory_ordinal, base_rul).

    File order is the join key (positional semantics made explicit).
    Driver-side read: the file is one integer per engine — a dimension
    table by construction; broadcast-joined downstream.
    """
    with open(path) as fh:
        values = [int(line.strip()) for line in fh if line.strip()]
    rows = [(i + 1, v) for i, v in enumerate(values)]
    return local_frame(spark, rows, "trajectory_ordinal int, base_rul int")
