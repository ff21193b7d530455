"""End-to-end save/load round trip — mirrors reference scenario
tests/test_featurestore.py:350-402 (df1 daily floats, df2 dict payloads,
df3/df4 wide multi-feature save) with a pandas oracle."""

import numpy as np
import pandas as pd
import pytest

from bytehub_spark import ValidationError


rng = np.random.default_rng(42)


def daily_df(start="2021-01-01", periods=10):
    idx = pd.date_range(start, periods=periods, freq="D")
    return pd.DataFrame({"time": idx, "value": rng.normal(size=periods)})


def test_basic_roundtrip(fs):
    fs.create_feature("test/df1")
    src = daily_df()
    fs.save_dataframe(src, "test/df1")

    out = fs.load_pandas("test/df1")
    assert list(out.columns) == ["test/df1"]
    assert len(out) == 10
    np.testing.assert_allclose(out["test/df1"].values, src["value"].values)
    assert (out.index == src["time"]).all()

    # ranged load (inclusive both ends)
    ranged = fs.load_pandas("test/df1", from_date="2021-01-03", to_date="2021-01-06")
    np.testing.assert_allclose(
        ranged["test/df1"].values, src["value"].iloc[2:6].values
    )


def test_dict_payload_roundtrip(fs):
    fs.create_feature("test/df2")
    idx = pd.date_range("2021-01-01", periods=24, freq="h")
    src = pd.DataFrame(
        {"time": idx, "value": [{"x": float(i)} for i in range(24)]}
    )
    fs.save_dataframe(src, "test/df2")
    out = fs.load_pandas("test/df2")
    assert len(out) == 24
    v = out["test/df2"].iloc[3]
    assert v["x"] == 3.0


def test_wide_save_and_multi_load(fs):
    fs.create_feature("test/df3")
    fs.create_feature("test/df4")
    idx = pd.date_range("2021-01-01", periods=48, freq="h")
    wide = pd.DataFrame(
        {
            "time": idx,
            "test/df3": rng.normal(size=48),
            "test/df4": [chr(97 + i % 26) * 3 for i in range(48)],
        }
    )
    fs.save_dataframe(wide)

    out = fs.load_pandas(["test/df3", "test/df4"])
    assert list(out.columns) == ["test/df3", "test/df4"]
    assert len(out) == 48
    np.testing.assert_allclose(out["test/df3"].values, wide["test/df3"].values)
    assert (out["test/df4"].values == wide["test/df4"].values).all()


def test_save_validation(fs):
    fs.create_feature("test/v1")
    with pytest.raises(ValidationError):  # value col without a name
        fs.save_dataframe(
            pd.DataFrame({"time": pd.date_range("2021-01-01", periods=3),
                          "value": [1.0, 2.0, 3.0]})
        )
    with pytest.raises(Exception):  # missing feature
        fs.save_dataframe(
            pd.DataFrame({"time": pd.date_range("2021-01-01", periods=3),
                          "value": [1.0, 2.0, 3.0]}),
            "test/never_created",
        )
    with pytest.raises(ValidationError):  # no time column at all
        fs.save_dataframe(pd.DataFrame({"value": [1.0]}), "test/v1")


def test_datetimeindex_input(fs):
    fs.create_feature("test/idx1")
    idx = pd.date_range("2021-01-01", periods=5, freq="D")
    pdf = pd.DataFrame({"value": [1.0, 2.0, 3.0, 4.0, 5.0]}, index=idx)
    fs.save_dataframe(pdf, "test/idx1")
    out = fs.load_pandas("test/idx1")
    np.testing.assert_allclose(out["test/idx1"].values, pdf["value"].values)


def test_append_dedup_latest_wins(fs):
    """Bitemporal append: second save with same times overrides on read."""
    fs.create_feature("test/dd1")
    idx = pd.date_range("2021-01-01", periods=5, freq="D")
    v1 = pd.DataFrame({"time": idx, "created_time": pd.Timestamp("2021-02-01"),
                       "value": [1.0] * 5})
    v2 = pd.DataFrame({"time": idx, "created_time": pd.Timestamp("2021-02-02"),
                       "value": [2.0] * 5})
    fs.save_dataframe(v1, "test/dd1")
    fs.save_dataframe(v2, "test/dd1")
    out = fs.load_pandas("test/dd1")
    assert len(out) == 5
    assert (out["test/dd1"] == 2.0).all()


def test_sql_over_features(fs):
    """fs.sql: features as views, joined and aggregated in one SQL plan."""
    idx = pd.date_range("2021-01-01", periods=10, freq="D")
    fs.create_feature("test/price")
    fs.create_feature("test/volume")
    fs.save_dataframe(pd.DataFrame({"time": idx, "value": np.arange(10.0)}), "test/price")
    fs.save_dataframe(pd.DataFrame({"time": idx, "value": np.arange(10.0) * 2}), "test/volume")
    out = fs.sql(
        """
        SELECT p.time, p.value * v.value AS notional
        FROM test_price p JOIN test_volume v ON p.time = v.time
        ORDER BY p.time
        """,
        ["test/price", "test/volume"],
    ).toPandas()
    assert len(out) == 10
    np.testing.assert_allclose(out["notional"], np.arange(10.0) ** 2 * 2)


def test_sql_view_name_collision(fs):
    """Two features whose names map to the same view name raise instead of
    the second view silently replacing the first."""
    idx = pd.date_range("2021-01-01", periods=3, freq="D")
    for name in ("test/a-b", "test/a_b"):
        fs.create_feature(name)
        fs.save_dataframe(pd.DataFrame({"time": idx, "value": np.arange(3.0)}), name)
    with pytest.raises(ValidationError, match="test/a-b.*test/a_b.*test_a_b"):
        fs.sql("SELECT * FROM test_a_b", ["test/a-b", "test/a_b"])


def test_materialize_rollup(fs):
    """Materialized daily rollup equals the on-the-fly resample."""
    idx = pd.date_range("2021-01-01", periods=96, freq="h")
    fs.create_feature("test/raw")
    fs.save_dataframe(pd.DataFrame({"time": idx, "value": np.arange(96.0)}), "test/raw")
    fs.materialize("test/raw", "test/raw_daily", freq="1d")
    got = fs.load_pandas("test/raw_daily")
    exp = fs.load_pandas("test/raw", freq="1d")
    assert len(got) == len(exp)
    np.testing.assert_allclose(got["test/raw_daily"].to_numpy(), exp["test/raw"].to_numpy())


def _jobs_during(spark, group, fn):
    """Run fn under a job group; return how many Spark jobs it launched."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "job-count probe")
    try:
        out = fn()
    finally:
        sc.setJobGroup("probe-done", "")
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_multi_feature_load_batches_scalar_jobs(fs, spark):
    """Plan construction for a k-feature load runs ONE batched scalar job
    (seed lookups unioned), not one per feature; the omitted-range path
    likewise batches the per-feature time-bounds lookups."""
    import numpy as np

    times = pd.date_range("2021-01-01", periods=50, freq="h")
    rng = np.random.default_rng(7)
    for i in range(4):
        fs.create_feature(f"test/jb{i}")
        fs.save_dataframe(
            pd.DataFrame({"time": times, "value": rng.normal(size=len(times))}),
            f"test/jb{i}",
        )
    feats = [f"test/jb{i}" for i in range(4)]
    # warm the memoized per-feature file index / schema (a one-time
    # parquet-footer job per feature, not a per-load cost)
    fs.load_dataframe(feats, from_date="2021-01-01", to_date="2021-01-02")

    # explicit range: ONE batched seed-lookup action. AQE splits the
    # single groupBy into a map-stage job + final job, so allow <=3 —
    # the unbatched path was >= k jobs (one collect per feature).
    df, n = _jobs_during(
        spark,
        "jobs-explicit",
        lambda: fs.load_dataframe(
            feats, from_date="2021-01-01T06:00", to_date="2021-01-02", freq="1h"
        ),
    )
    assert n <= 3, f"expected one batched scalar action (<=3 AQE jobs), saw {n}"
    pdf = df.toPandas()
    assert list(pdf.columns) == ["time"] + feats
    assert len(pdf) == 19  # inclusive hourly grid 06:00..24:00

    # omitted range: ONE batched bounds action; the per-feature seed
    # lookup is skipped entirely (it cannot precede the data minimum)
    df2, n2 = _jobs_during(
        spark, "jobs-omitted", lambda: fs.load_dataframe(feats)
    )
    assert n2 <= 3, f"expected one batched scalar action (<=3 AQE jobs), saw {n2}"
    assert df2.count() == 50
