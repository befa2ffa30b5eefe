"""sources.tables: the per-file parquet schema cache behind ``load_table``
and the Arrow-built ``local_frame``.

The cache tests count the Spark jobs a read runs inside its own job group
(``statusTracker``): schema inference is a footer-reading job, so a read
that reuses a cached schema runs none.
"""

from __future__ import annotations

import os
import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from aidc_2018_timeseries_spark.sources.tables import _read_parquet, load_table, local_frame

NANOS = "spark.sql.legacy.parquet.nanosAsLong"


def _jobs(spark, fn):
    """(result of fn(), number of Spark jobs fn ran)."""
    sc = spark.sparkContext
    group = f"schema-cache-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture
def region_copy(sf_dir, tmp_path):
    """A fresh path, so the first read is a cache miss."""
    shutil.copy(os.path.join(sf_dir, "region.parquet"), tmp_path / "region.parquet")
    return tmp_path


def test_second_load_of_unchanged_file_runs_no_job(spark, region_copy):
    first, n_first = _jobs(spark, lambda: load_table(spark, str(region_copy), "region"))
    second, n_second = _jobs(spark, lambda: load_table(spark, str(region_copy), "region"))
    assert n_first >= 1  # inference
    assert n_second == 0
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_rewritten_file_is_inferred_afresh(spark, region_copy):
    path = region_copy / "region.parquet"
    _jobs(spark, lambda: load_table(spark, str(region_copy), "region"))
    table = pq.read_table(path).slice(0, 2)
    table = table.append_column("extra", pa.array([7, 8], pa.int64()))
    tmp = region_copy / "region.parquet.tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)
    df, n = _jobs(spark, lambda: load_table(spark, str(region_copy), "region"))
    assert n >= 1
    assert df.columns[-1] == "extra"
    assert sorted(r["extra"] for r in df.collect()) == [7, 8]


def test_type_mapping_conf_change_is_inferred_afresh(spark, region_copy):
    path = str(region_copy / "region.parquet")
    before = spark.conf.get(NANOS)
    flipped = "false" if before == "true" else "true"
    _jobs(spark, lambda: _read_parquet(spark, path))
    try:
        spark.conf.set(NANOS, flipped)
        _, n_flipped = _jobs(spark, lambda: _read_parquet(spark, path))
    finally:
        spark.conf.set(NANOS, before)
    _, n_back = _jobs(spark, lambda: _read_parquet(spark, path))
    assert n_flipped >= 1
    assert n_back == 0


# The DDL of every driver-built frame in the engine, with rows that hit
# nulls at every level, integer widths and nested arrays.
_DDL_ROWS = [
    (  # ml.training.rul_gd_training_curve
        "step bigint, loss double, loss_trail double",
        [(0, 1.5, None), (2**62, None, -0.0), (None, 2.25, 3.0)],
    ),
    (  # operators.bpe.train_bpe_merges_df
        "rank long, left string, right string",
        [(0, "l", "o"), (1, None, "w")],
    ),
    (  # operators.similarity.lsh_signatures
        "table_id int, shifts array<bigint>, planes array<array<double>>",
        [(0, [1, 2**40, None], [[0.5, None], None, []]), (-(2**31), [], None), (None, None, [[1.0]])],
    ),
    (  # operators.similarity.ivfpq_topk
        "s int, code int, cw array<double>",
        [(0, None, [1.0, None]), (1, 2, [])],
    ),
    (  # plans.layout_queries.partitioned_events_with_dim (kept on createDataFrame for DPP)
        "event_type string, tier string",
        [("view", "passive"), ("error", None)],
    ),
    (  # sources.cmapss.read_rul_file
        "trajectory_ordinal int, base_rul int",
        [(1, 112), (2, None)],
    ),
    (  # sources.matfiles.read_mat_music
        "split string, song_id bigint, t bigint, keys array<double>",
        [("train", 0, 0, [0.0, 1.0]), ("valid", 1, None, None)],
    ),
]


@pytest.mark.parametrize("empty", [False, True], ids=["rows", "empty"])
@pytest.mark.parametrize("ddl,rows", _DDL_ROWS, ids=[d for d, _ in _DDL_ROWS])
def test_local_frame_matches_create_dataframe(spark, ddl, rows, empty):
    rows = [] if empty else rows
    want = spark.createDataFrame(rows, ddl)
    got = local_frame(spark, rows, ddl)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
