import numpy as np
import pandas as pd

from pyspark.sql import functions as F

from network_feature_extractor_spark.datagen import SNAPSHOTS_SCHEMA
from network_feature_extractor_spark.operators.asof import asof_join, asof_join_salted

from oracle_pandas import asof_oracle


def _cmp(got: pd.DataFrame, exp: pd.DataFrame, cols):
    got = got.sort_values(["conv_id", "turn_idx"], kind="mergesort").reset_index(drop=True)
    exp = exp.sort_values(["conv_id", "turn_idx"], kind="mergesort").reset_index(drop=True)
    assert len(got) == len(exp)
    for c in cols:
        g = got[c].astype(float).to_numpy()
        e = exp[c].astype(float).to_numpy()
        both_nan = np.isnan(g) & np.isnan(e)
        assert (both_nan | np.isclose(g, e, rtol=1e-9, atol=1e-12, equal_nan=True)).all(), c


def test_asof_strict_matches_bruteforce_oracle(spark, turns, snapshots, turns_pd):
    got = asof_join(turns, snapshots, value_cols=["f_a", "f_b"]).select(
        "conv_id", "turn_idx", "f_a", "f_b"
    ).toPandas()
    exp = asof_oracle(turns_pd, snapshots.toPandas(), ["f_a", "f_b"], strict=True)
    _cmp(got, exp, ["f_a", "f_b"])


def test_asof_inclusive_matches_bruteforce_oracle(spark, turns, snapshots, turns_pd):
    got = asof_join(
        turns, snapshots, value_cols=["f_a", "f_b"], strict=False
    ).select("conv_id", "turn_idx", "f_a", "f_b").toPandas()
    exp = asof_oracle(turns_pd, snapshots.toPandas(), ["f_a", "f_b"], strict=False)
    _cmp(got, exp, ["f_a", "f_b"])


def test_null_field_keeps_earlier_fill_micro(spark):
    """Hand-computed per-column fill: a later snapshot with a null field
    must not erase an earlier non-null value. ``asof_oracle`` takes the
    last snapshot whole, so this rule needs its own case. Both entry
    points, both strict modes; the salted call makes the conversation
    hot with 12 s blocks, so turns at 30 s and 40 s (blocks 2 and 3, no
    snapshot of their own) read the per-column fill through the carry-in
    row alone."""
    from datetime import datetime, timedelta

    from network_feature_extractor_spark.datagen import TURNS_SCHEMA

    t0 = datetime(2024, 1, 1, 12, 0, 0)
    at = lambda s: t0 + timedelta(seconds=s)  # noqa: E731
    turns = spark.createDataFrame(
        [("c", i, "user", "x", None, at(10 * i)) for i in range(5)],
        schema=TURNS_SCHEMA,
    )
    snaps = spark.createDataFrame(
        [("c", at(5), 1.0, 10.0), ("c", at(15), None, 20.0), ("c", at(20), 3.0, None)],
        schema="conv_id string, snap_ts timestamp, f_a double, f_b double",
    )
    base = turns.filter("turn_idx = 0").select(F.col("ts").cast("double")).first()[0]
    nan = float("nan")
    # (f_a, f_b, asof_ts - t0) per turn at 0, 10, 20, 30, 40 s
    strict_exp = [(nan, nan, nan), (1, 10, 5), (1, 20, 15), (3, 20, 20), (3, 20, 20)]
    incl_exp = [(nan, nan, nan), (1, 10, 5), (3, 20, 20), (3, 20, 20), (3, 20, 20)]
    for strict, exp in ((True, strict_exp), (False, incl_exp)):
        direct = asof_join(turns, snaps, value_cols=["f_a", "f_b"], strict=strict)
        salted = asof_join_salted(
            turns, snaps, value_cols=["f_a", "f_b"], strict=strict,
            hot_threshold=2, block_seconds=12.0,
        )
        for out in (direct, salted):
            got = out.orderBy("turn_idx").toPandas()
            got["asof_ts"] = got["asof_ts"] - base
            want = pd.DataFrame(exp, columns=["f_a", "f_b", "asof_ts"])
            for c in want.columns:
                g = got[c].astype(float).to_numpy()
                assert np.allclose(g, want[c].to_numpy(), equal_nan=True), (strict, c, g)


def test_salted_wide_lineage_equals_direct(spark):
    """Hot-key salting over 32 value columns that all derive from one
    input column must plan in bounded time and match the direct path.
    The carry-in must stay one struct: rebuilding each column from it
    and unioning the columns back makes the optimizer's time grow
    steeply with the column count when the columns share lineage."""
    from datetime import datetime, timedelta

    from network_feature_extractor_spark.datagen import TURNS_SCHEMA

    rng = np.random.default_rng(7)
    t0 = datetime(2024, 1, 1, 12, 0, 0)
    turn_rows, snap_rows = [], []
    for c in range(3):
        conv = f"c{c}"
        offs = np.cumsum(rng.integers(1, 20, 40))
        for i, o in enumerate(offs):
            turn_rows.append((conv, i, "user", "x", None, t0 + timedelta(seconds=int(o))))
        # half the snapshots land exactly on a turn's ts (the strict tie)
        snap_offs = np.concatenate(
            [rng.choice(offs, 8, replace=False), rng.integers(0, int(offs[-1]) + 30, 7)]
        )
        for o in snap_offs:
            snap_rows.append((conv, t0 + timedelta(seconds=int(o)), float(rng.normal())))
    turns = spark.createDataFrame(turn_rows, schema=TURNS_SCHEMA)
    snaps = spark.createDataFrame(snap_rows, "conv_id string, snap_ts timestamp, v double")
    cols = [f"v{i}" for i in range(32)]
    wide = snaps.select(
        "conv_id", "snap_ts", *[(F.col("v") + i).alias(c) for i, c in enumerate(cols)]
    )
    out = ["conv_id", "turn_idx", *cols, "asof_ts"]
    direct = asof_join(turns, wide, value_cols=cols).select(*out).toPandas()
    salted = asof_join_salted(
        turns, wide, value_cols=cols, hot_threshold=2, block_seconds=60.0
    ).select(*out).toPandas()
    assert direct["v0"].notna().any() and direct["v0"].isna().any()
    _cmp(salted, direct, [*cols, "asof_ts"])


def test_salted_equals_direct(spark, turns, snapshots):
    direct = asof_join(turns, snapshots, value_cols=["f_a", "f_b"]).select(
        "conv_id", "turn_idx", "f_a", "f_b", "asof_ts"
    ).toPandas()
    salted = asof_join_salted(
        turns, snapshots, value_cols=["f_a", "f_b"], hot_threshold=10, block_seconds=60.0
    ).select("conv_id", "turn_idx", "f_a", "f_b", "asof_ts").toPandas()
    _cmp(salted, direct, ["f_a", "f_b", "asof_ts"])


def test_equal_ts_snapshot_not_visible_strict(spark):
    """The leakage tie-break case (FIXTURES.md §2): a snapshot at exactly
    a turn's ts must NOT be attached to that turn in strict mode, but
    MUST be in inclusive mode."""
    from network_feature_extractor_spark.datagen import TURNS_SCHEMA

    from datetime import datetime

    t0 = datetime(2024, 1, 1, 12, 0, 0)
    turns = spark.createDataFrame(
        [("c", 0, "user", "a", None, t0)], schema=TURNS_SCHEMA
    )
    snaps = spark.createDataFrame([("c", t0, 7.0, 8.0)], schema=SNAPSHOTS_SCHEMA)
    strict = asof_join(turns, snaps, value_cols=["f_a", "f_b"]).toPandas()
    assert pd.isna(strict["f_a"].iloc[0])
    incl = asof_join(turns, snaps, value_cols=["f_a", "f_b"], strict=False).toPandas()
    assert incl["f_a"].iloc[0] == 7.0


def test_zero_leakage_future_perturbation(spark, turns, snapshots):
    """Property: mutating any snapshot strictly AFTER a turn's ts must not
    change that turn's attached features."""
    base = asof_join(turns, snapshots, value_cols=["f_a", "f_b"]).select(
        "conv_id", "turn_idx", "ts", "f_a", "f_b"
    ).toPandas()
    # perturb: +1000 to every snapshot's f_a (values change), but shift
    # snap_ts forward past the max turn ts for half the snapshots -> those
    # become invisible; recompute and check each turn only ever sees
    # snapshots from its past: attach for turns whose asof source was an
    # unperturbed-earlier snapshot is unchanged.
    perturbed = snapshots.withColumn(
        "f_a",
        F.when(F.crc32(F.col("conv_id")) % 2 == 0, F.col("f_a") + 1000.0).otherwise(
            F.col("f_a")
        ),
    ).withColumn(
        "snap_ts",
        F.when(
            F.crc32(F.col("conv_id")) % 2 == 0,
            F.col("snap_ts") + F.expr("INTERVAL 100 DAYS"),
        ).otherwise(F.col("snap_ts")),
    )
    pert = asof_join(turns, perturbed, value_cols=["f_a", "f_b"]).select(
        "conv_id", "turn_idx", "f_a", "f_b"
    ).toPandas()
    merged = base.merge(pert, on=["conv_id", "turn_idx"], suffixes=("_b", "_p"))
    moved = merged["conv_id"].map(lambda c: __import__("zlib").crc32(c.encode()) % 2 == 0)
    # unmoved convs: identical attach
    same = merged[~moved]
    assert np.allclose(
        same["f_a_b"].astype(float), same["f_a_p"].astype(float), equal_nan=True
    )
    # moved convs: snapshots now in the future -> all-null attach (no turn
    # may see them). any non-null would be temporal leakage.
    fut = merged[moved]
    assert fut["f_a_p"].isna().all()


def test_no_snapshot_conv_all_null(spark, turns, snapshots):
    """Convs with zero snapshots (datagen: every 7th) attach all-nulls."""
    got = asof_join(turns, snapshots, value_cols=["f_a", "f_b"]).toPandas()
    conv = "conv-%08d" % 3  # 3 % 7 == 3 -> no snapshots
    sub = got[got["conv_id"] == conv]
    assert len(sub) > 0 and sub["f_a"].isna().all()


def test_tolerance_gate_matches_pandas(spark, turns, snapshots):
    """TTL semantics derived independently from the UNGATED join output:
    stale (age > tol) rows must have values nulled and the flag up."""
    from network_feature_extractor_spark.operators.asof import tolerance_gate

    raw = asof_join(turns, snapshots, value_cols=["f_a", "f_b"])
    TOL = 60.0
    got = (
        tolerance_gate(raw, value_cols=["f_a", "f_b"], tolerance_s=TOL)
        .select("conv_id", "turn_idx", "f_a", "f_b", "asof_ts", "asof_stale")
        .toPandas()
    )
    exp = raw.select("conv_id", "turn_idx", "ts", "f_a", "f_b", "asof_ts").toPandas()
    ets = (exp["ts"].astype("int64").to_numpy() // 1000) / 1e6
    stale = exp["asof_ts"].notna().to_numpy() & (
        (ets - exp["asof_ts"].to_numpy()) > TOL
    )
    # non-vacuity: the fixture must exercise stale, fresh AND never-had
    assert stale.any() and (~stale).any() and exp["asof_ts"].isna().any()
    for c in ["f_a", "f_b", "asof_ts"]:
        exp.loc[stale, c] = np.nan
    exp["asof_stale"] = stale
    got = got.sort_values(["conv_id", "turn_idx"], kind="mergesort").reset_index(drop=True)
    exp = exp.sort_values(["conv_id", "turn_idx"], kind="mergesort").reset_index(drop=True)
    _cmp(got, exp, ["f_a", "f_b", "asof_ts"])
    assert (got["asof_stale"].to_numpy() == exp["asof_stale"].to_numpy()).all()


def test_tolerance_gate_infinite_is_identity(spark, turns, snapshots):
    from network_feature_extractor_spark.operators.asof import tolerance_gate

    raw = asof_join(turns, snapshots, value_cols=["f_a", "f_b"])
    gated = tolerance_gate(
        raw, value_cols=["f_a", "f_b"], tolerance_s=1e18, flag_col="asof_stale"
    )
    g = gated.select("conv_id", "turn_idx", "f_a", "f_b", "asof_ts", "asof_stale").toPandas()
    assert not g["asof_stale"].any()
    _cmp(
        g,
        raw.select("conv_id", "turn_idx", "f_a", "f_b", "asof_ts").toPandas(),
        ["f_a", "f_b", "asof_ts"],
    )


def test_tolerance_gate_on_salted_path(spark, turns, snapshots):
    """The gate is a pure projection over the as-of OUTPUT columns, so it
    must commute with the physical path choice (direct vs salted)."""
    from network_feature_extractor_spark.operators.asof import tolerance_gate

    kw = dict(value_cols=["f_a", "f_b"])
    direct = tolerance_gate(
        asof_join(turns, snapshots, **kw), value_cols=["f_a", "f_b"], tolerance_s=60.0
    )
    salted = tolerance_gate(
        asof_join_salted(turns, snapshots, hot_threshold=10, block_seconds=60.0, **kw),
        value_cols=["f_a", "f_b"],
        tolerance_s=60.0,
    )
    cols = ["conv_id", "turn_idx", "f_a", "f_b", "asof_ts"]
    _cmp(salted.select(*cols).toPandas(), direct.select(*cols).toPandas(), cols[2:])
