"""Ordered per-conversation window features (SURVEY.md §2.4 W1/W2/W12/W13, A6).

The inter-arrival times (W1), rolling text-length aggregates (W12) and
forward fill (W13) live in the fused ``plans/pipeline.py:
per_turn_features``. This module holds the window features it does not
compute:

- W1  ``with_lead_gap``: seconds until the next turn.
- W13 backward fill: ``first(col, ignorenulls=True)`` over an
  unbounded-following frame (the reference carries last-known values in
  mutable flow state, ``src/core/flow_tracker.py:431,458,464``).
- A6  first value per (conv, role): ``first seen`` init-window analog
  (``src/core/flow_tracker.py:233-235``).
- ``with_future_labels``: forward-looking supervised labels.

The per-conversation windows share one (partitionBy conv_id, orderBy ts,
turn_idx) sort, so Catalyst reuses one exchange+sort across them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.stats import epoch_seconds

ORDER = ["ts", "turn_idx"]  # stable tie-break (FIXTURES.md §1)


def _w(key: str):
    return Window.partitionBy(key).orderBy(*ORDER)


def with_lead_gap(df: DataFrame, key: str = "conv_id", out: str = "gap_next") -> DataFrame:
    """Seconds until the next turn (lead); null on the last turn."""
    nxt = F.lead(epoch_seconds("ts")).over(_w(key))
    return df.withColumn(out, nxt - epoch_seconds("ts"))


def with_bfill(
    df: DataFrame, col: str, out: str | None = None, key: str = "conv_id"
) -> DataFrame:
    """Backward-fill: earliest non-null value at-or-after each row."""
    frame = _w(key).rowsBetween(0, Window.unboundedFollowing)
    return df.withColumn(out or f"{col}_bfill", F.first(col, ignorenulls=True).over(frame))


def first_per_role(
    df: DataFrame, value_col: str, key: str = "conv_id", role_col: str = "role"
) -> DataFrame:
    """A6 init-window analog: first ``value_col`` per (conv, role).

    Returns one row per (key, role) — an ordinary min-by aggregation, no
    window needed: algebraic, map-side combinable.
    """
    v = F.col(value_col).cast("double")
    ordkey = F.struct(F.col("ts"), F.col("turn_idx"), v.alias("_v"))
    return (
        df.groupBy(key, role_col)
        .agg(F.min(ordkey).alias("_first"))
        .select(key, role_col, F.col("_first._v").alias(f"first_{value_col}"))
    )


def with_future_labels(
    df: DataFrame,
    key: str = "conv_id",
    label_col: str = "role",
    horizon_s: float = 3600.0,
    count_cond=None,
    order_tiebreak: str = "turn_idx",
) -> DataFrame:
    """Zero-leakage supervised LABEL generation — the forward-looking
    complement of the feature windows above (which only ever look back).
    Adds, per row:

    - ``next_<label_col>``: the next row's label (LEAD 1 ordered by
      (event micros, tiebreak) — deterministic under equal timestamps);
    - ``dt_next_us``: integer microseconds to that next row (exact,
      no float epoch involved);
    - ``n_future``: how many rows satisfying ``count_cond`` fall in the
      STRICTLY-future window ``(t, t + horizon_s]`` — a RANGE frame of
      ``[1 FOLLOWING, horizon_us FOLLOWING]`` over integer micros, so a
      same-timestamp row can never leak into its own label (the same
      strictness discipline as ``asof_join(strict=True)``).

    Reference analog: the reference derives per-flow outcomes from
    packets that arrive LATER than the feature timestamp (flow teardown
    / timeout classification, ``src/core/flow_tracker.py:642-648``);
    at training time that is a label, and it must be built from a
    future-only frame.

    Plan: both window specs share partitionBy(key) and a sort the LEAD
    ordering (micros, tiebreak) already satisfies (the RANGE frame needs
    only the micros prefix) — ONE exchange, one sort, for all three
    outputs (plan-guarded in tests/test_plans.py).
    """
    if horizon_s <= 0:
        raise ValueError(f"horizon_s must be positive, got {horizon_s}")
    if count_cond is None:
        count_cond = F.lit(True)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    out = df.withColumn("_us", us)
    w_lead = Window.partitionBy(key).orderBy("_us", order_tiebreak)
    w_rng = (
        Window.partitionBy(key)
        .orderBy("_us")
        .rangeBetween(1, int(horizon_s * 1_000_000))
    )
    return out.select(
        "*",
        F.lead(label_col).over(w_lead).alias(f"next_{label_col}"),
        (F.lead("_us").over(w_lead) - F.col("_us")).cast("long").alias("dt_next_us"),
        F.coalesce(
            F.sum(F.when(count_cond, 1).otherwise(0)).over(w_rng), F.lit(0)
        )
        .cast("long")
        .alias("n_future"),
    ).drop("_us")
