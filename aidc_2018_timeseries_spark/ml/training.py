"""M11/M12 training-curve surface: a deterministic, driver-checkable
iterative fit whose per-step loss series mirrors the reference trainer's
cost logging (``training/timeseries_trainer.py:92-110`` logs loss every
iteration; optimizer instantiated at ``turbofan_with_tcn.py:85``).

Distributed backprop stays out of scope (SURVEY §7.7) — the trainable
surface is the linear readout (see ml/baselines.py for the MLlib form).
This module adds what MLlib's black-box ``.fit`` cannot give: the STEP-BY-
STEP loss curve as a queryable DataFrame, bit-reproducible across engines
so the DuckDB oracle can hash-check the whole optimization trajectory.

Design for that reproducibility:
- the data-scale work is ONE aggregation: exact integer sufficient
  statistics (n, Σx, Σy, Σxy, Σx², Σy²) of the (cycle, capped-RUL) pairs.
  Integer sums are order-independent — both engines get identical values
  no matter the partitioning (floating sums would differ by summation
  order). The ``.first()`` here is bookkeeping of 6 scalars, the same
  class as baselines.py's metric collection, not a data-path collect.
- the gradient-descent recurrence runs on those scalars with arithmetic
  written IDENTICALLY (same association order) in Python and in the
  oracle's recursive CTE, so every iterate is bit-identical IEEE double.
- the feature is centered (u = x − x̄) and the b-step diagonally
  preconditioned, which decouples the two coordinates: each step contracts
  the error by (1 − 2·lr) regardless of data scale — the curve converges
  at any SF without retuning lr.

At 100 TB only the statistics aggregation touches data (map-side partial
sums, one reduce); the curve itself is O(n_steps) scalar work.
ANSI-overflow note: Σx² of int64 cycle indices stays < 2^63 up to ~10^12
rows of 10^3-length series; beyond that, compute centered moments in one
pass with Welford-style doubles instead.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aidc_2018_timeseries_spark.operators.labels import rul_label
from aidc_2018_timeseries_spark.operators.windowing import with_row_index
from aidc_2018_timeseries_spark.sources.tables import local_frame


def rul_gd_training_curve(
    df: DataFrame,
    key: str,
    order: str | Sequence[str],
    lr: float = 0.1,
    n_steps: int = 25,
    cap: int = 130,
    trailing: int = 3,
) -> DataFrame:
    """Per-step loss curve of preconditioned GD fitting rul ~ a + b·(rn − r̄n).

    Output: (step 0.., loss, loss_trail) — ``loss`` is the mean squared
    error of the CURRENT parameters before the step's update (step 0 =
    the a=b=0 loss), ``loss_trail`` the A8 trailing-``trailing``-step mean
    of the same series.
    """
    labeled = rul_label(with_row_index(df, key, order), key, order, cap=cap)
    s = (
        labeled.select(F.col("rn").alias("x"), F.col("rul").alias("y"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
        )
        .first()
    )
    n, sx, sy = s["n"], s["sx"], s["sy"]
    sxy, sxx, syy = s["sxy"], s["sxx"], s["syy"]
    # Derived double statistics — every expression below is mirrored
    # verbatim in the DuckDB oracle (plans/pipeline_queries.py); keep the
    # association order in sync or the trajectories drift by ulps.
    ybar = sy / n
    suu = sxx - sx * sx / n
    suy = sxy - sx * sy / n

    a = 0.0
    b = 0.0
    losses: list[float] = []
    rows: list[tuple[int, float, float]] = []
    for step in range(n_steps):
        loss = a * a + b * b * suu / n - 2.0 * b * suy / n - 2.0 * a * ybar + syy / n
        losses.append(loss)
        w = losses[max(0, step - (trailing - 1)) : step + 1]
        rows.append((step, loss, sum(w) / len(w)))
        a = a - lr * 2.0 * (a - ybar)
        b = b - lr * 2.0 * (b - suy / suu)

    out = local_frame(df.sparkSession, rows, "step bigint, loss double, loss_trail double")
    return out.select(
        "step",
        F.round("loss", 6).alias("loss"),
        F.round("loss_trail", 6).alias("loss_trail"),
    )
