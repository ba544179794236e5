"""Point-in-time as-of join (SURVEY.md §2.5 J1) — the engine's core.

Semantics (from the reference's temporal discipline: every packet update
reads flow state built strictly from *prior* packets,
``src/core/flow_tracker.py:1515-1536``): attach to each left row the
latest right row whose timestamp is strictly earlier (``strict=True``) or
earlier-or-equal (``strict=False``). Strict mode is the zero-temporal-
leakage guarantee: a snapshot taken at exactly a turn's timestamp is NOT
visible to that turn. Each value column fills per column: a later right
row with a null field does not erase an earlier non-null value.

Spark has no native ASOF JOIN. Both entry points run one physical form,
``_asof_core``, a sort-merge as-of built on the union trick:

    right rows -> per-key fill states (``_right_fill_states``)
    union(left tagged k_l, states tagged k_r)
      -> Window.partitionBy(parts).orderBy(_ets, _k)
      -> last(_state, ignorenulls=True) over unbounded-preceding
      -> keep the left rows, project the _f.<col> fields

The tag ordering encodes strictness: strict => left rows sort *before*
right rows at equal ts, so the running ``last()`` cannot see an equal-ts
snapshot. One running ``last`` serves every attached column, and left
rows carry a single nullable struct slot through the big exchange instead
of one null slot per value column. The plan is two exchanges: a small
one for the right-side fold and the big union window's, with zero
per-row Python.

Skew: a window partition is one conv_id; a pathologically hot
conversation (10^8 turns at 10^12 scale) serializes on one task. AQE
splits skewed *joins* but not window partitions, so ``asof_join_salted``
splits hot conversations into time blocks and runs the same core with
parts = (conv_id, block). Equivalence with the direct path is tested in
tests/test_asof.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.stats import epoch_seconds


def _right_fill_states(
    right_tagged: DataFrame,
    key: str,
    value_cols: list[str],
    blocks: list[str],
) -> DataFrame:
    """Fold tagged right-side rows into per-row *fill states*.

    Input columns: ``key``, ``blocks`` (``[]`` or ``["_blk"]``), ``_ets``,
    ``_k``, ``_ats`` (attach timestamp carried by the row) and
    ``value_cols``. Output: one row per (key, blocks, _ets, _k) carrying a
    single ``_state`` struct = the per-column last-non-null fold of every
    right row up to and including that position, in window order
    ``blocks, _ets, _k, struct(value_cols)`` (the engine's equal-ts
    tie-break convention). So ``state(R).c`` is the last non-null ``c``
    over the rights <= R, null before any non-null: exactly
    ``LAST_VALUE(c IGNORE NULLS)``, the oracle form.

    The fold partitions by ``key`` alone, also on the salted path: the
    right side is one row per closed session, so even a hot key's fold
    partition is small. Block ids rise with ``_ets``, so ordering by them
    first keeps the right rows in ``_ets`` order and places each carry-in
    row (``_ets = -inf``, ``_k = -1``) right after the last right row of
    the earlier blocks.
    """
    ord_struct = F.struct(*[F.col(c) for c in value_cols])
    rw = (
        Window.partitionBy(key)
        .orderBy(*blocks, "_ets", "_k", ord_struct)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    folded = right_tagged.select(
        key,
        *blocks,
        "_ets",
        "_k",
        ord_struct.alias("_ord"),
        F.struct(
            F.last("_ats", ignorenulls=True).over(rw).alias("_ts"),
            *[
                F.last(c, ignorenulls=True).over(rw).alias(c)
                for c in value_cols
            ],
        ).alias("_st"),
    )
    # one state per (key, blocks, ts, tag): the max-_ord row is LAST in
    # window order among equal-ts rows, so its state folds all of them.
    # The groupBy reuses the fold window's HashPartitioning(key): no new
    # exchange (subset rule).
    return folded.groupBy(key, *blocks, "_ets", "_k").agg(
        F.max(F.struct(F.col("_ord"), F.col("_st"))).getField("_st").alias("_state")
    )


def _asof_core(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_cols: list[str],
    value_cols: list[str],
    strict: bool,
    attach_ts_as: str,
    carry: DataFrame | None = None,
) -> DataFrame:
    """The one as-of form behind both entry points.

    ``left``: the caller's left columns plus ``_ets`` (epoch seconds).
    ``right``: ``key``, ``_ets``, ``_ats`` and ``value_cols``. With
    ``carry`` = (key, _blk) rows, one per hot left block, both sides also
    hold ``_blk`` and the window partitions by (key, _blk). Each carry-in
    row goes through the fold with null values, so its ``_state`` is the
    whole state of the latest right row in an earlier block; it sorts
    first in its block and is never split back into per-column aliases.
    """
    lk, rk = (0, 1) if strict else (1, 0)
    r_tag = right.withColumn("_k", F.lit(rk))
    blocks = []
    if carry is not None:
        blocks = ["_blk"]
        r_tag = r_tag.unionByName(
            carry.select(
                key,
                "_blk",
                F.lit(float("-inf")).alias("_ets"),
                F.lit(-1).alias("_k"),
            ),
            allowMissingColumns=True,
        )
    states = _right_fill_states(r_tag, key, value_cols, blocks)
    u = left.withColumn("_k", F.lit(lk)).unionByName(
        states, allowMissingColumns=True
    )
    w = (
        Window.partitionBy(key, *blocks)
        .orderBy("_ets", "_k")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = u.select(
        "*", F.last("_state", ignorenulls=True).over(w).alias("_f")
    )
    return filled.filter(F.col("_k") == lk).select(
        *left_cols,
        *[F.col(f"_f.{c}").alias(c) for c in value_cols],
        F.col("_f._ts").alias(attach_ts_as),
    )


def _value_cols(left, right, key, right_ts, value_cols) -> list[str]:
    value_cols = value_cols or [
        c for c in right.columns if c not in (key, right_ts)
    ]
    overlap = set(value_cols) & set(left.columns)
    if overlap:
        raise ValueError(f"value columns collide with left columns: {overlap}")
    return value_cols


def _right_rows(right: DataFrame, key: str, right_ts: str, value_cols) -> DataFrame:
    rts = epoch_seconds(F.col(right_ts))
    return right.select(
        key, rts.alias("_ets"), rts.alias("_ats"), *[F.col(c) for c in value_cols]
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "conv_id",
    left_ts: str = "ts",
    right_ts: str = "snap_ts",
    value_cols: list[str] | None = None,
    strict: bool = True,
    attach_ts_as: str = "asof_ts",
) -> DataFrame:
    """Attach the latest-preceding right-row values to each left row.

    Left rows with no preceding right row get nulls (leading-null case).
    Right values come back under their own names, each filled per column;
    the matched snapshot timestamp (epoch seconds, double) under
    ``attach_ts_as``. Runs ``_asof_core`` with one window partition per
    key: two exchanges, one running ``last(_state)``.
    """
    value_cols = _value_cols(left, right, key, right_ts, value_cols)
    return _asof_core(
        left.withColumn("_ets", epoch_seconds(left_ts)),
        _right_rows(right, key, right_ts, value_cols),
        key, left.columns, value_cols, strict, attach_ts_as,
    )


def asof_join_salted(
    left: DataFrame,
    right: DataFrame,
    key: str = "conv_id",
    left_ts: str = "ts",
    right_ts: str = "snap_ts",
    value_cols: list[str] | None = None,
    strict: bool = True,
    attach_ts_as: str = "asof_ts",
    block_seconds: float = 3600.0,
    hot_threshold: int = 100_000,
) -> DataFrame:
    """Skew-resistant as-of join, same output as ``asof_join``.

    Keys with more than ``hot_threshold`` left rows are hot. Their rows
    get block id ``_blk = floor(_ets / block_seconds)``; every other key
    gets ``_blk = 0``. Each hot left block also gets one carry-in row
    holding the state of the latest right row in an earlier block, and
    ``_asof_core`` then windows per (key, _blk), so no window partition
    outgrows one block of a hot conversation. Blocks rise with ``_ets``,
    so a right row in an earlier block is strictly earlier than every
    left row of a later block: the carry-in never leaks.
    """
    value_cols = _value_cols(left, right, key, right_ts, value_cols)
    counts = left.groupBy(key).agg(F.count("*").alias("_n"))
    hot_keys = counts.filter(F.col("_n") > hot_threshold).select(key)
    # cheap eager probe (column-pruned scan + partial agg): when nothing
    # is hot, the common case, skip the block split and its extra joins
    if hot_keys.limit(1).count() == 0:
        return asof_join(
            left, right, key, left_ts, right_ts, value_cols, strict, attach_ts_as
        )
    # the hot set is small by construction (few keys can exceed the
    # threshold): broadcast it so tagging is a map-side join
    hot = F.broadcast(hot_keys.withColumn("_hot", F.lit(True)))

    def blocked(df: DataFrame) -> DataFrame:
        blk = F.floor(F.col("_ets") / F.lit(float(block_seconds)))
        return df.join(hot, key, "left").withColumn(
            "_blk", F.when(F.col("_hot"), blk).otherwise(F.lit(0))
        )

    lb = blocked(left.withColumn("_ets", epoch_seconds(left_ts)))
    carry = lb.filter(F.col("_hot")).select(key, "_blk").distinct()
    return _asof_core(
        lb.drop("_hot"),
        blocked(_right_rows(right, key, right_ts, value_cols)).drop("_hot"),
        key, left.columns, value_cols, strict, attach_ts_as, carry,
    )


def tolerance_gate(
    joined: DataFrame,
    left_ts: str = "ts",
    value_cols: list[str] | None = None,
    tolerance_s: float = 3600.0,
    attach_ts_as: str = "asof_ts",
    flag_col: str | None = "asof_stale",
) -> DataFrame:
    """Max-staleness (TTL) gate over an as-of join's OUTPUT — the
    feature-store ttl convention: a snapshot older than ``tolerance_s``
    at the left row's timestamp is treated as expired and its attached
    values nulled out, exactly as if no snapshot preceded the row.

    Reference analog: the flow tracker expires per-flow state after an
    activity timeout (``src/core/flow_tracker.py:404-432,642-648`` —
    ``is_expired(current_time, timeout)``); a turn arriving after the
    timeout must not see the stale state.

    Works on the output of BOTH ``asof_join`` and ``asof_join_salted``
    (they emit the same columns), as a pure map-side projection — zero
    extra shuffle, whole-stage-codegens into the window's output stage.

    Cross-engine exactness: the left epoch and ``attach_ts_as`` are both
    micros/1e6 doubles, so the staleness ``(l - r) > tolerance_s`` is an
    exact-rounded IEEE subtraction + compare — bit-identical on any
    engine, no rounding guard needed.

    ``flag_col`` (optional) emits TRUE where a snapshot matched but had
    expired — distinguishing "expired" from "never had a snapshot"
    (flag FALSE, values null in both cases after the gate).
    """
    if value_cols is None:
        raise ValueError("tolerance_gate needs the as-of value_cols list")
    if tolerance_s < 0:
        raise ValueError(f"tolerance_s must be >= 0, got {tolerance_s}")
    if flag_col and flag_col in joined.columns:
        # r7 ADVICE: an input already carrying the flag column would
        # yield a duplicate output column (the '_tbound' precedent)
        raise ValueError(
            f"tolerance_gate: input already has a {flag_col!r} column; "
            "pass a different flag_col (or None)"
        )
    stale = F.col(attach_ts_as).isNotNull() & (
        (epoch_seconds(left_ts) - F.col(attach_ts_as)) > F.lit(float(tolerance_s))
    )
    out = joined.select(
        *[
            c
            for c in joined.columns
            if c not in value_cols and c != attach_ts_as
        ],
        *[F.when(stale, F.lit(None)).otherwise(F.col(c)).alias(c) for c in value_cols],
        F.when(stale, F.lit(None)).otherwise(F.col(attach_ts_as)).alias(attach_ts_as),
        *([stale.alias(flag_col)] if flag_col else []),
    )
    return out
