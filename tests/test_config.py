import pytest

from network_feature_extractor_spark.config_yaml import ConfigError, load_config


def _write(tmp_path, text):
    p = tmp_path / "config.yaml"
    p.write_text(text)
    return str(p)


def test_reference_shaped_config(tmp_path):
    path = _write(
        tmp_path,
        """
features:
  basic_metrics: {enabled: true}
  packet_length: {enabled: true}
  timing_metrics: {enabled: false}
  flag_analysis: {enabled: true}
  advanced_stats: {enabled: true}
protocols:
  user: {enabled: true, timeout: 120}
  assistant: {enabled: true}
  system: {enabled: false}
""",
    )
    cfg = load_config(path)
    assert "timing_metrics" not in cfg.enabled_features
    assert "transition_analysis" in cfg.enabled_features
    assert "text_length" in cfg.enabled_features
    assert cfg.session_gap_s == 120.0
    assert cfg.enabled_roles == ("user", "assistant")


def test_unknown_section_rejected(tmp_path):
    with pytest.raises(ConfigError):
        load_config(_write(tmp_path, "bogus: {a: 1}"))


def test_unknown_feature_rejected(tmp_path):
    with pytest.raises(ConfigError):
        load_config(_write(tmp_path, "features:\n  nonsense: {enabled: true}"))


def test_invalid_timeout_rejected(tmp_path):
    with pytest.raises(ConfigError):
        load_config(_write(tmp_path, "protocols:\n  user: {timeout: -5}"))


def test_defaults_on_empty(tmp_path):
    cfg = load_config(_write(tmp_path, ""))
    assert cfg.session_gap_s == 300.0
    assert "basic_metrics" in cfg.enabled_features


def test_engine_overrides(tmp_path):
    cfg = load_config(
        _write(tmp_path, "engine:\n  rolling_k: 9\n  checkpoint_buckets: 8")
    )
    assert cfg.rolling_k == 9 and cfg.checkpoint_buckets == 8


def test_unknown_engine_key_rejected(tmp_path):
    with pytest.raises(ConfigError):
        load_config(_write(tmp_path, "engine:\n  roling_k: 9"))


def test_sampling_config(tmp_path):
    cfg = load_config(
        _write(tmp_path, "network:\n  sampling:\n    enabled: true\n    rate: 0.25")
    )
    assert cfg.sample_rate == 0.25
    off = load_config(
        _write(tmp_path, "network:\n  sampling:\n    enabled: false\n    rate: 0.25")
    )
    assert off.sample_rate == 1.0
    with pytest.raises(ConfigError):
        load_config(_write(tmp_path, "network:\n  sampling:\n    enabled: true\n    rate: 7"))


def test_stratified_sample_literal_and_join_paths_identical(spark):
    """The CASE-predicate form (small strata maps) and the
    broadcast-join form (large maps) must keep the IDENTICAL subset —
    same md5 coin, two physical plans."""
    from network_feature_extractor_spark.functions.sampling import stratified_sample

    df = spark.createDataFrame(
        [(i, f"s{i % 5}") for i in range(400)], "k long, grp string"
    )
    rates = {"s0": 1.0, "s1": 0.5, "s2": 0.25, "s3": 0.0}
    lit = stratified_sample(df, rates, "grp", "k", default_rate=0.1)
    join = stratified_sample(
        df, rates, "grp", "k", default_rate=0.1, literal_threshold=0
    )
    # the join form reorders columns (join key first); compare content
    a = sorted(lit.select("k", "grp").toPandas().itertuples(index=False))
    b = sorted(join.select("k", "grp").toPandas().itertuples(index=False))
    assert a == b
    pdf = lit.toPandas()
    assert set(pdf[pdf["grp"] == "s0"]["k"]) == {i for i in range(400) if i % 5 == 0}
    assert len(pdf[pdf["grp"] == "s3"]) == 0           # rate 0 drops all
    assert 0 < len(pdf[pdf["grp"] == "s4"]) < 80       # default 0.1 on unknown


def test_stratified_sample_nested_rates(spark):
    """A fixed hash coin makes samples NESTED: everything kept at rate r
    is kept at any r' >= r — the property that lets a pipeline re-mix
    sources without resampling from scratch."""
    from network_feature_extractor_spark.functions.sampling import stratified_sample

    df = spark.createDataFrame([(i, "s") for i in range(500)], "k long, grp string")
    lo = set(stratified_sample(df, {"s": 0.2}, "grp", "k").toPandas()["k"])
    hi = set(stratified_sample(df, {"s": 0.6}, "grp", "k").toPandas()["k"])
    assert lo <= hi
    import pytest

    with pytest.raises(ValueError):
        stratified_sample(df, {"s": 1.5}, "grp", "k")


def test_stratified_sample_validates_default_rate_and_reserved_column(spark):
    import pytest

    from network_feature_extractor_spark.functions.sampling import stratified_sample

    df = spark.createDataFrame([(1, "s")], "k long, grp string")
    with pytest.raises(ValueError, match="default_rate"):
        stratified_sample(df, {"s": 0.5}, "grp", "k", default_rate=1.37)
    clash = df.withColumn("_bound", df.k)
    with pytest.raises(ValueError, match="_bound"):
        stratified_sample(clash, {"s": 0.5}, "grp", "k")


def test_split_assign_group_integral(spark):
    """Every group lands in exactly ONE split (the train/test leakage
    guard), proportions track the fractions, and the assignment is a
    pure function of the key (re-runs identical)."""
    from pyspark.sql import functions as F

    from network_feature_extractor_spark.functions.sampling import split_assign

    df = spark.range(2000).select(
        F.col("id").alias("k"), F.expr("id div 4").alias("grp")
    )
    out = split_assign(df, {"train": 0.8, "val": 0.1, "test": 0.1}, key_col="grp")
    pdf = out.toPandas()
    assert set(pdf["split"]) == {"train", "val", "test"}
    straddle = pdf.groupby("grp")["split"].nunique()
    assert (straddle == 1).all()
    share = pdf.drop_duplicates("grp")["split"].value_counts(normalize=True)
    assert 0.7 < share["train"] < 0.9
    again = split_assign(
        df, {"train": 0.8, "val": 0.1, "test": 0.1}, key_col="grp"
    ).toPandas()
    assert sorted(map(tuple, pdf.values.tolist())) == sorted(
        map(tuple, again.values.tolist())
    )


def test_split_assign_validation_and_null_key(spark):
    from network_feature_extractor_spark.functions.sampling import split_assign

    df = spark.createDataFrame([(1, "g"), (2, None)], "k long, grp string")
    with pytest.raises(ValueError, match="sum to 1"):
        split_assign(df, {"a": 0.5, "b": 0.4}, key_col="grp")
    with pytest.raises(ValueError, match="in \\(0, 1\\]"):
        split_assign(df, {"a": 0.0, "b": 1.0}, key_col="grp")
    with pytest.raises(ValueError, match="non-empty"):
        split_assign(df, {}, key_col="grp")
    # null key: every band predicate is NULL -> CASE falls through to the
    # last label on BOTH engines (md5(NULL) is NULL in Spark and DuckDB)
    pdf = (
        split_assign(df, {"train": 0.9, "holdout": 0.1}, key_col="grp")
        .toPandas()
        .set_index("k")
    )
    assert pdf.loc[2, "split"] == "holdout"


def test_split_assign_nested_bands_and_python_oracle(spark):
    """Cumulative bands share the hash prefix, so growing the leading
    fraction never evicts a key from that split (a pipeline can promote
    val->train without resplitting); and the assignment matches an
    independent pure-python md5 re-derivation exactly."""
    import hashlib

    from network_feature_extractor_spark.functions.sampling import (
        sample_bound,
        split_assign,
    )

    df = spark.range(3000).selectExpr("id as k")
    a = split_assign(df, {"train": 0.6, "rest": 0.4}, "k", split_col="s_60")
    b = split_assign(a, {"train": 0.8, "rest": 0.2}, "k", split_col="s_80")
    c = split_assign(b, {"train": 1.0}, "k", split_col="s_100")
    ten = {f"b{i}": 0.1 for i in range(10)}
    d = split_assign(c, ten, "k", split_col="s_ten")
    pdf = d.toPandas()
    assert ((pdf.s_60 == "train") <= (pdf.s_80 == "train")).all()
    assert (pdf.s_100 == "train").all()

    def py_split(key, fractions):
        prefix = hashlib.md5(str(key).encode()).hexdigest()[:8]
        labels = list(fractions)
        cum = 0.0
        for s in labels[:-1]:
            cum += fractions[s]
            if prefix < sample_bound(min(cum, 1.0)):
                return s
        return labels[-1]

    for row in pdf.itertuples(index=False):
        assert row.s_ten == py_split(row.k, ten)
        assert row.s_80 == py_split(row.k, {"train": 0.8, "rest": 0.2})


def test_temperature_sample_rates_and_python_oracle(spark):
    """rate(p) = min(1, c/sqrt(p)) with the md5-prefix coin — recompute
    the whole kept set in pure Python (hashlib + math.sqrt, the same
    IEEE ops) and require exact agreement; a heavy stratum must be
    down-sampled while a tail stratum passes whole."""
    import hashlib
    import math

    from network_feature_extractor_spark.functions.sampling import (
        temperature_sample,
    )

    rows = [(f"k{i}", "heavy" if i < 400 else "tail") for i in range(440)]
    df = spark.createDataFrame(rows, ["k", "grp"])
    got = temperature_sample(df, "grp", "k", flatten_const=0.35).toPandas()

    totals = {"heavy": 400, "tail": 40}
    tot = sum(totals.values())
    bounds = {
        g: math.floor(
            min(1.0, 0.35 / math.sqrt(w / tot)) * 4294967296.0
        )
        for g, w in totals.items()
    }
    assert bounds["tail"] == 4294967296  # rate capped at 1 -> keep all
    assert bounds["heavy"] < 4294967296

    def kept(k, g):
        return int(hashlib.md5(k.encode()).hexdigest()[:8], 16) < bounds[g]

    exp = {k for k, g in rows if kept(k, g)}
    assert set(got["k"]) == exp
    assert set(got[got.grp == "tail"]["k"]) == {k for k, g in rows if g == "tail"}
    assert 0 < len(got[got.grp == "heavy"]) < 400


def test_temperature_sample_stratum_weights_param_equivalent(spark):
    """Passing per-stratum totals from table statistics must reproduce
    the self-counting branch exactly (same IEEE divide/sqrt/floor), and
    an unlisted stratum is kept whole."""
    from network_feature_extractor_spark.functions.sampling import (
        temperature_sample,
    )

    rows = [(f"k{i}", f"s{i % 3}", 10 + i % 7) for i in range(300)]
    df = spark.createDataFrame(rows, ["k", "grp", "wgt"])
    auto = temperature_sample(df, "grp", "k", 0.4, weight_col="wgt")
    totals = {f"s{j}": sum(w for _, g, w in rows if g == f"s{j}") for j in range(3)}
    given = temperature_sample(df, "grp", "k", 0.4, stratum_weights=totals)
    a = sorted(map(tuple, auto.toPandas().values.tolist()))
    b = sorted(map(tuple, given.toPandas().values.tolist()))
    assert a == b

    part = temperature_sample(
        df, "grp", "k", 0.4, stratum_weights={"s0": totals["s0"]}
    ).toPandas()
    assert set(part[part.grp != "s0"]["k"]) == {k for k, g, _ in rows if g != "s0"}


def test_temperature_sample_validation(spark):
    import pytest

    from network_feature_extractor_spark.functions.sampling import (
        temperature_sample,
    )

    df = spark.createDataFrame([("a", "s")], ["k", "grp"])
    with pytest.raises(ValueError, match="flatten_const"):
        temperature_sample(df, "grp", "k", 0.0)
    with pytest.raises(ValueError, match="non-empty"):
        temperature_sample(df, "grp", "k", 0.5, stratum_weights={})
    with pytest.raises(ValueError, match="must be > 0"):
        temperature_sample(df, "grp", "k", 0.5, stratum_weights={"s": 0})
    bad = df.withColumnRenamed("k", "_tbound")
    with pytest.raises(ValueError, match="_tbound"):
        temperature_sample(bad, "grp", "_tbound", 0.5)


def test_asof_ttl_from_yaml(tmp_path):
    p = tmp_path / "c.yaml"
    p.write_text("engine:\n  asof_ttl_s: 1800\n")
    assert load_config(str(p)).asof_ttl_s == 1800.0
    p2 = tmp_path / "c2.yaml"
    p2.write_text("engine:\n  rolling_k: 3\n")
    assert load_config(str(p2)).asof_ttl_s is None  # default: gate off


def test_default_driver_memory_from_meminfo(tmp_path):
    from network_feature_extractor_spark.session import default_driver_memory

    p = tmp_path / "meminfo"
    p.write_text("MemTotal:       15728640 kB\nMemFree:        1000 kB\n")
    assert default_driver_memory(str(p)) == "7680m"  # half of 15 GiB
    p.write_text("MemTotal:       536870912 kB\n")  # 512 GiB host -> the 64g cap
    assert default_driver_memory(str(p)) == "65536m"
    assert default_driver_memory(str(tmp_path / "missing")) == "65536m"
