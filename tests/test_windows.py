import numpy as np
import pandas as pd

from network_feature_extractor_spark.config import EngineConfig
from network_feature_extractor_spark.operators import windows
from network_feature_extractor_spark.plans.pipeline import per_turn_features

from oracle_pandas import per_turn_oracle


def _sorted(pdf):
    return pdf.sort_values(["conv_id", "turn_idx"], kind="mergesort").reset_index(drop=True)


def test_iat_and_session_match_pandas_oracle(spark, turns, turns_pd):
    got = _sorted(
        per_turn_features(turns)
        .select("conv_id", "turn_idx", "iat", "iat_role", "session_id")
        .toPandas()
    )
    exp = _sorted(per_turn_oracle(turns_pd))
    assert np.allclose(got["iat"], exp["iat"], rtol=1e-9, atol=1e-6)
    assert np.allclose(got["iat_role"], exp["iat_role"], rtol=1e-9, atol=1e-6)
    assert (got["session_id"].to_numpy() == exp["session_id"].to_numpy()).all()


def test_rolling_text_len_matches_pandas(spark, turns, turns_pd):
    got = _sorted(
        per_turn_features(turns, EngineConfig(rolling_k=5))
        .select("conv_id", "turn_idx", "rt_len_mean", "rt_len_std", "rt_len_min", "rt_len_max")
        .toPandas()
    )
    exp = _sorted(per_turn_oracle(turns_pd, k=5))
    for c in ["rt_len_mean", "rt_len_std", "rt_len_min", "rt_len_max"]:
        assert np.allclose(got[c], exp[c], rtol=1e-9, atol=1e-9), c


def test_ffill_matches_pandas(spark, turns, turns_pd):
    got = _sorted(
        per_turn_features(turns).select("conv_id", "turn_idx", "last_tool").toPandas()
    )
    exp = _sorted(per_turn_oracle(turns_pd))
    ge = got["last_tool"].fillna("<na>")
    ee = pd.Series(exp["last_tool"]).fillna("<na>")
    assert (ge.to_numpy() == ee.to_numpy()).all()


def test_bfill_micro(spark, micro_turns):
    got = (
        windows.with_bfill(micro_turns, "tool", out="next_tool")
        .orderBy("turn_idx")
        .toPandas()
    )
    assert list(got["next_tool"]) == ["search", "search", None]


def test_first_per_role_micro(spark, micro_turns):
    got = windows.first_per_role(micro_turns, "turn_idx").toPandas()
    got = got.set_index("role")["first_turn_idx"]
    assert got["user"] == 0.0
    assert got["assistant"] == 1.0


def test_lead_gap_micro(spark, micro_turns):
    got = windows.with_lead_gap(micro_turns).orderBy("turn_idx").toPandas()
    assert np.allclose(got["gap_next"].iloc[:2], [0.1, 0.1])
    assert pd.isna(got["gap_next"].iloc[2])


def test_turn_validity_split(spark, turns):
    from pyspark.sql import functions as F

    from network_feature_extractor_spark.functions.validate import split_valid

    valid, bad = split_valid(turns)
    assert bad.count() == 0 and valid.count() == turns.count()
    # corrupt some rows -> they land in quarantine
    corrupted = turns.withColumn(
        "role", F.when(F.col("turn_idx") == 0, F.lit("alien")).otherwise(F.col("role"))
    )
    v2, b2 = split_valid(corrupted)
    assert b2.count() > 0
    assert v2.count() + b2.count() == turns.count()


def test_future_labels_matches_pandas(spark, turns, turns_pd):
    """Brute-force pandas oracle: per conv ordered by (micros, turn_idx),
    next label via shift; n_future counts user turns in the strictly-
    future (t, t+60s] window — same-micros rows excluded (zero leakage
    under the fixture's planted duplicate timestamps)."""
    from pyspark.sql import functions as F

    H = 60.0
    got = _sorted(
        windows.with_future_labels(
            turns,
            key="conv_id",
            label_col="role",
            horizon_s=H,
            count_cond=F.col("role") == "user",
            order_tiebreak="turn_idx",
        )
        .select("conv_id", "turn_idx", "next_role", "dt_next_us", "n_future")
        .toPandas()
    )
    pdf = turns_pd.copy()
    pdf["us"] = pdf["ts"].astype("int64") // 1000
    rows = []
    for conv, g in pdf.groupby("conv_id"):
        g = g.sort_values(["us", "turn_idx"], kind="mergesort")
        us = g["us"].to_numpy()
        roles = g["role"].to_numpy()
        nxt = np.roll(roles, -1).astype(object)
        nxt[-1] = None
        dt = np.roll(us, -1) - us
        dt = dt.astype(object)
        dt[-1] = None
        is_user = roles == "user"
        nf = [
            int(((us > t) & (us <= t + H * 1e6) & is_user).sum()) for t in us
        ]
        for i in range(len(g)):
            rows.append((conv, int(g["turn_idx"].iloc[i]), nxt[i], dt[i], nf[i]))
    exp = _sorted(
        pd.DataFrame(
            rows, columns=["conv_id", "turn_idx", "next_role", "dt_next_us", "n_future"]
        )
    )
    assert len(got) == len(exp)
    assert (got["next_role"].fillna("<na>").to_numpy() == exp["next_role"].fillna("<na>").to_numpy()).all()
    assert np.allclose(
        got["dt_next_us"].astype(float).to_numpy(),
        exp["dt_next_us"].astype(float).to_numpy(),
        equal_nan=True,
    )
    assert (got["n_future"].to_numpy() == exp["n_future"].to_numpy()).all()
    # non-vacuity: the 60 s horizon must produce both zero and non-zero counts
    assert (exp["n_future"] > 0).any() and (exp["n_future"] == 0).any()


def test_future_labels_equal_ts_not_counted(spark, micro_turns):
    """A row whose timestamp equals another row's must not see it in
    n_future (strictly-future frame — the label-leakage guard)."""
    from pyspark.sql import functions as F

    out = windows.with_future_labels(
        micro_turns, key="conv_id", label_col="role", horizon_s=1e9,
        count_cond=F.lit(True), order_tiebreak="turn_idx",
    ).toPandas()
    pdf = micro_turns.toPandas()
    pdf["us"] = pdf["ts"].astype("int64") // 1000
    for _, r in out.iterrows():
        g = pdf[pdf["conv_id"] == r["conv_id"]]
        t = g.loc[g["turn_idx"] == r["turn_idx"], "us"].iloc[0]
        assert r["n_future"] == int((g["us"] > t).sum()), r
