"""The benchmark's workloads: which catalog faces each one runs, and why.

Every face is a catalog entry (``plans.catalog.CATALOG``) with a DuckDB
oracle.  The workloads split the engine by where a face spends its time,
so that a change to one layer has a workload that exercises it and one
that should not move:

- ``series``: JVM-only scan, shuffle, sort, window and join work, plus a
  partitioned sink write read back: the turbofan pipeline, a rolling
  window of ``operators.windowing``, TPC-H joins and the ``ml`` training
  curve (one aggregation, then a driver-side recurrence).  No Python
  stage, so it is the control for any Python-side or driver-loop change.
- ``vectors_curation``: a face whose stage leaves the JVM (the Arrow
  product-quantisation kernel of ``operators.similarity``), the
  expression-only brute-force k-NN (its corpus goes through the
  ``operators.partitioning.spread_for_compute`` statistics probe), and
  two iterative driver loops (BPE merge rounds, connected components)
  that run many small jobs, so Python worker start-up, driver-side plan
  building and job count dominate.

Each workload pays a fresh JVM (about 15 s on a 4-core host) before its
first face, so the face sets are sized for a run of about a minute.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    faces: tuple[str, ...]
    tables: tuple[str, ...]  # every table the faces read, plus SETUP_TABLE


WORKLOADS = {
    "series": Workload(
        faces=(
            "turbofan_rul_pipeline",
            "w1_rolling_mean",
            "forecast_backtest_folds",
            "q5_region_revenue",
            "sink_roundtrip_partitioned",
            "training_curve_gd",
        ),
        tables=("events", "region", "nation", "customer", "supplier", "orders", "lineitem"),
    ),
    "vectors_curation": Workload(
        faces=(
            "embedding_pq_codes",
            "knn_brute_force",
            "text_bpe_train_merges",
            "dedup_linkage_clusters",
        ),
        tables=("embeddings", "documents", "region"),
    ),
}

# Faces whose exact oracle check fails on the sf0.1 inputs for a reason
# outside the benchmark.  They stay in their workload and count as failed
# face runs; ``correct`` only turns false on a failure not listed here.
KNOWN_MISMATCH = {
    "forecast_backtest_folds": "HALF_UP last-digit flip at sf0.1 "
    "(2049.025963 vs 2049.025962), under every row order",
}

# The first parquet read of the set-up phase (a table every seed provides).
SETUP_TABLE = "region"
