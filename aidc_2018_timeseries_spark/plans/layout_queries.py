"""Catalog queries: storage-layout optimization faces.

The two write-time layout levers that matter most at 100 TB, each proven
lossless by an oracle that never sees the filesystem hop:

- **Bucketing** (`bucketed_join_colocated`): pre-hash-partitioning two
  fact tables on their join key at write time removes the join's
  Exchange entirely — the single biggest cost in a 100 TB fact-fact
  join. Spark reads the bucket spec from catalog metadata and plans a
  shuffle-free SortMergeJoin (asserted in tests/test_layout_faces.py
  with broadcast disabled: zero Exchange below the join).
- **Range-clustering** (`layout_range_cluster`): repartitionByRange +
  sortWithinPartitions on the dominant filter key writes files whose
  parquet row-group min/max stats are tight, disjoint key ranges, so a
  later range predicate prunes whole files/row-groups before any IO
  (the poor man's Z-order; single-key clustering needs no space-filling
  curve). The read-back filter is asserted pushed to the scan.

Both faces pay the layout cost inside the query itself (write + read
back at sf scale), so their bench time is write+read, not just read.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aidc_2018_timeseries_spark.plans.catalog import register
from aidc_2018_timeseries_spark.sources.sinks import write_bucketed
from aidc_2018_timeseries_spark.sources.tables import load_table


def bucketed_join_frames(
    spark: SparkSession, sf_dir: str, n_buckets: int = 8
) -> tuple[DataFrame, DataFrame]:
    """Write lineitem + orders as co-bucketed external tables on the
    orderkey and return the two catalog-backed frames. Split out from the
    catalog face so tests can plan-audit the raw join."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    li_path = tempfile.mkdtemp(prefix="aidc_bkt_lineitem_")
    o_path = tempfile.mkdtemp(prefix="aidc_bkt_orders_")
    write_bucketed(li, "aidc_bkt_lineitem", li_path, "l_orderkey", n_buckets)
    write_bucketed(orders, "aidc_bkt_orders", o_path, "o_orderkey", n_buckets)
    return spark.table("aidc_bkt_lineitem"), spark.table("aidc_bkt_orders")


@register(
    "bucketed_join_colocated",
    """
    SELECT o.o_orderstatus,
           COUNT(*) AS n_lines,
           ROUND(SUM(l.l_quantity), 2) AS sum_qty,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderstatus
    """,
    doc="co-located bucketed join (the write-time layout that kills the "
    "fact-fact shuffle): lineitem and orders are both written as "
    "parquet tables bucketed 8-ways on the orderkey, then joined and "
    "aggregated per order status. Because both sides share the bucket "
    "spec, Spark plans the join with ZERO Exchange below it (asserted "
    "in tests/test_layout_faces.py with broadcast disabled) — at 100 TB "
    "you bucket the fact tables once at ingest and every subsequent "
    "orderkey join/aggregation runs shuffle-free. The oracle is the "
    "PLAIN join over the raw parquet: bucketing must be row-invisible "
    "(pure layout, no semantic effect), and matching hashes prove the "
    "bucketed write+read round-trip is lossless too",
)
def bucketed_join_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    li, orders = bucketed_join_frames(spark, sf_dir)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
    )


def partitioned_events_with_dim(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Write events PARTITIONED BY event_type (the star-schema fact layout)
    and build a tiny dimension (event_type → tier) from fixed literals.
    Split out so tests can plan-audit the raw join for dynamic pruning."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    path = tempfile.mkdtemp(prefix="aidc_dpp_events_")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(path)
    fact = spark.read.parquet(path)
    # Not sources.tables.local_frame: that builds a LocalRelation, whose
    # tier filter the optimizer folds into the literal rows, leaving no
    # dimension-side filter for dynamic partition pruning to inject.
    dim = spark.createDataFrame(
        [
            ("view", "passive"),
            ("click", "active"),
            ("purchase", "active"),
            ("signup", "active"),
            ("error", "system"),
        ],
        "event_type string, tier string",
    )
    return fact, dim


@register(
    "layout_dpp_join",
    """
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
    FROM events e
    JOIN (VALUES ('view', 'passive'), ('click', 'active'),
                 ('purchase', 'active'), ('signup', 'active'),
                 ('error', 'system')) AS d(event_type, tier)
      ON d.event_type = e.event_type
    WHERE d.tier = 'active'
    GROUP BY e.event_type
    """,
    doc="dynamic partition pruning (the star-schema scan killer): the fact "
    "table is written PARTITIONED BY event_type, the dimension filter "
    "(tier = 'active') arrives only through the join — no literal "
    "predicate on the fact side — and Spark injects the dim's surviving "
    "keys into the fact scan as a runtime partition filter "
    "(dynamicpruningexpression, reusing the broadcast exchange; asserted "
    "in tests/test_layout_faces.py), so the scan reads 3 of 5 type "
    "directories without the query ever naming them. At 100 TB this is "
    "how a dim-filtered fact query touches 1% of the partitions instead "
    "of all of them. The oracle states the same join over the raw table "
    "— pruning must be row-invisible",
)
def layout_dpp_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    fact, dim = partitioned_events_with_dim(spark, sf_dir)
    return (
        fact.join(F.broadcast(dim), "event_type")
        .where(F.col("tier") == "active")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
        )
    )


def range_clustered_events(spark: SparkSession, sf_dir: str, n_ranges: int = 8) -> DataFrame:
    """Write events range-clustered on user_id (disjoint per-file key
    ranges, sorted within) and return the read-back frame."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    path = tempfile.mkdtemp(prefix="aidc_range_cluster_")
    (
        ev.repartitionByRange(n_ranges, "user_id")
        .sortWithinPartitions("user_id", "event_id")
        .write.mode("overwrite")
        .parquet(path)
    )
    return spark.read.parquet(path)


@register(
    "layout_range_cluster",
    """
    WITH per_user AS (
      SELECT event_type, user_id, COUNT(*) AS n_events,
             ROUND(SUM(value), 6) AS sum_value
      FROM events
      WHERE user_id BETWEEN 100 AND 199
      GROUP BY event_type, user_id)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(n_events) AS BIGINT) AS n_events,
           ROUND(SUM(sum_value), 4) AS total_value
    FROM per_user GROUP BY event_type
    """,
    doc="range-clustered layout (single-key Z-order): events are written "
    "repartitionByRange(user_id) + sortWithinPartitions(user_id, "
    "event_id), so each file owns a disjoint user_id range with tight "
    "parquet row-group min/max stats; the read-back then filters "
    "user_id BETWEEN 100 AND 199 — pushed to the scan (asserted in "
    "tests/test_layout_faces.py), which at 100 TB skips every file and "
    "row-group whose stats exclude the range, touching ~1/N of the "
    "bytes instead of all of them. The oracle runs the same filter + "
    "aggregate over the raw table: clustering must be row-invisible. "
    "Float convention: per-(type,user) sums round at 6 dp, the outer "
    "re-sum of those exact rounded values at 4 dp",
)
def layout_range_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    back = range_clustered_events(spark, sf_dir)
    per_user = (
        back.where(F.col("user_id").between(100, 199))
        .groupBy("event_type", "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
    )
    return per_user.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("n_events").alias("n_events"),
        F.round(F.sum("sum_value"), 4).alias("total_value"),
    )


def zorder_value(ub, vb, bits: int = 8):
    """Morton/Z-order interleave of two ``bits``-bit bucket columns: bit i
    of ``ub`` lands at position 2i+1, bit i of ``vb`` at 2i. Pure integer
    arithmetic (shift/and/or), identical on any engine — though no oracle
    ever needs it: the z-value only steers LAYOUT and is dropped before
    the data is read back."""
    z = F.lit(0)
    for i in range(bits):
        z = (
            z.bitwiseOR(F.shiftleft(F.shiftright(ub, i).bitwiseAND(F.lit(1)), 2 * i + 1))
            .bitwiseOR(F.shiftleft(F.shiftright(vb, i).bitwiseAND(F.lit(1)), 2 * i))
        )
    return z


def zorder_clustered_events(
    spark: SparkSession, sf_dir: str, n_ranges: int = 16
) -> DataFrame:
    """Write events Z-ORDER clustered on (user_id, value) and return the
    read-back frame. Bucketize both dimensions to 8 bits (user_id/8
    capped, value×2.56 capped — value lives in [0,100]), interleave into
    a 16-bit Morton code, range-partition + sort on it, drop the code at
    write. Each file then covers a compact RECTANGLE in (user_id, value)
    space instead of a slab: min/max stats stay tight on BOTH columns, so
    predicates on EITHER dimension skip files — what single-key range
    clustering (`layout_range_cluster`) can only do for its one key."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    ub = F.least(F.floor(F.col("user_id") / 8), F.lit(255)).cast("int")
    vb = F.least(F.floor(F.col("value") * 2.56), F.lit(255)).cast("int")
    path = tempfile.mkdtemp(prefix="aidc_zorder_")
    (
        ev.withColumn("_z", zorder_value(ub, vb))
        .repartitionByRange(n_ranges, "_z")
        .sortWithinPartitions("_z", "event_id")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )
    return spark.read.parquet(path)


@register(
    "layout_zorder_cluster",
    """
    WITH hits AS (
      SELECT event_type, user_id, value FROM events
      WHERE user_id BETWEEN 100 AND 199 AND value BETWEEN 40.0 AND 60.0)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           ROUND(SUM(value), 4) AS total_value
    FROM hits GROUP BY event_type
    """,
    doc="Z-order (Morton-curve) multi-dimensional clustering: events are "
    "written range-partitioned + sorted on the 16-bit interleave of "
    "bucketized (user_id, value), so every file covers a compact "
    "rectangle of the 2-D key space and parquet min/max stats prune "
    "files for predicates on EITHER column — the OPTIMIZE ZORDER BY "
    "layout under lakehouse engines, restated as pure open-source "
    "Spark. The read-back filters BOTH dimensions; the oracle runs the "
    "same filter over raw events (layout must be row-invisible; "
    "matching hashes also prove the write+read round trip lossless). "
    "Pruning effectiveness on both dims is pinned in "
    "tests/test_layout_faces.py",
)
def layout_zorder_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    back = zorder_clustered_events(spark, sf_dir)
    return (
        back.where(
            F.col("user_id").between(100, 199) & F.col("value").between(40.0, 60.0)
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )
