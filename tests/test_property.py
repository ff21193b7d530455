"""Property-based checks (hypothesis) of the timeseries kernel against
pandas oracles — random series shapes, duplicate timestamps, random
ranges/freqs. Mirrors the reference's randomized-input oracle style
(SURVEY §5) with systematic shrinking."""

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from bytehub_spark import timeseries as ts

SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


series_strategy = st.builds(
    lambda n, step_h, seed: (n, step_h, seed),
    n=st.integers(min_value=1, max_value=40),
    step_h=st.sampled_from([1, 6, 24]),
    seed=st.integers(min_value=0, max_value=10_000),
)


def make_series(n, step_h, seed):
    rng = np.random.default_rng(seed)
    times = pd.date_range("2021-01-01", periods=n, freq=f"{step_h}h")
    # random subset, keep at least one point
    keep = rng.random(n) < 0.7
    keep[rng.integers(0, n)] = True
    return pd.DataFrame({"time": times[keep], "value": rng.normal(size=keep.sum())})


@pytest.mark.parametrize("freq", ["1h", "5h", "1d"])
@given(spec=series_strategy)
@settings(**SETTINGS)
def test_resample_matches_pandas(spark, freq, spec):
    pdf = make_series(*spec)
    sdf = spark.createDataFrame(pdf)
    lo, hi = pdf["time"].min(), pdf["time"].max()
    out = (
        ts.resample(sdf, lo, hi, freq)
        .toPandas()
        .sort_values("time")
        .reset_index(drop=True)
    )
    grid = pd.date_range(lo, hi, freq=freq.replace("d", "D"))
    s = pdf.set_index("time")["value"]
    exp = s.reindex(s.index.union(grid)).ffill().reindex(grid)
    assert len(out) == len(exp)
    np.testing.assert_allclose(out["value"].to_numpy(), exp.to_numpy())


@given(
    n=st.integers(min_value=1, max_value=60),
    dup_every=st.integers(min_value=1, max_value=5),
    seed=st.integers(min_value=0, max_value=10_000),
)
@settings(**SETTINGS)
def test_dedup_latest_matches_pandas(spark, n, dup_every, seed):
    rng = np.random.default_rng(seed)
    base = pd.date_range("2021-01-01", periods=n, freq="h")
    times = base.repeat(1 + (np.arange(n) % dup_every == 0))
    pdf = pd.DataFrame(
        {
            "time": times,
            "created_time": pd.Timestamp("2021-06-01")
            + pd.to_timedelta(rng.permutation(len(times)), unit="m"),
            "value": rng.normal(size=len(times)),
        }
    )
    out = (
        ts.dedup_latest(spark.createDataFrame(pdf))
        .toPandas()
        .sort_values("time")
        .reset_index(drop=True)
    )
    exp = (
        pdf.sort_values(["time", "created_time"])
        .groupby("time", as_index=False)
        .last()
    )
    assert len(out) == len(exp)
    np.testing.assert_allclose(out["value"].to_numpy(), exp["value"].to_numpy())


@given(
    n=st.integers(min_value=2, max_value=50),
    null_frac=st.floats(min_value=0.0, max_value=0.9),
    seed=st.integers(min_value=0, max_value=10_000),
)
@settings(**SETTINGS)
def test_two_pass_locf_matches_pandas_ffill(spark, n, null_frac, seed):
    rng = np.random.default_rng(seed)
    pdf = pd.DataFrame(
        {
            "time": pd.date_range("2021-01-01", periods=n, freq="h"),
            "value": np.where(
                rng.random(n) < null_frac, np.nan, rng.normal(size=n)
            ),
        }
    )
    out = (
        ts.locf(spark.createDataFrame(pdf), ["value"])
        .toPandas()
        .sort_values("time")
        .reset_index(drop=True)
    )
    exp = pdf["value"].ffill()
    a, b = out["value"].to_numpy(), exp.to_numpy()
    assert (np.isnan(a) == np.isnan(b)).all()
    np.testing.assert_allclose(a[~np.isnan(a)], b[~np.isnan(b)])


bitemporal_strategy = st.builds(
    lambda n_appends, n_times, tt, step, freq, seed: (
        n_appends, n_times, tt, step, freq, seed
    ),
    n_appends=st.integers(min_value=1, max_value=4),
    n_times=st.integers(min_value=2, max_value=15),
    tt=st.sampled_from([None, "-30min", "-2h", "1h"]),
    # 9h and 1d steps cross date partitions, so ranged loads need the seed
    # probe (and its full-history fallback when time travel empties it)
    step=st.sampled_from(["1h", "9h", "1d"]),
    freq=st.sampled_from([None, "1h", "5h", "1d"]),
    seed=st.integers(min_value=0, max_value=10_000),
)


@given(spec=bitemporal_strategy)
@settings(**SETTINGS)
def test_bitemporal_load_matches_pandas_model(fs_factory, spec):
    """Full load path (appends -> dedup -> time travel -> range or LOCF
    grid) vs an independent pandas model of the reference semantics
    (dask.py:119-122 time travel, dask.py:156-165 dedup, dask.py:142-148
    seed + as-of grid)."""
    n_appends, n_times, tt, step, freq, seed = spec
    fs = fs_factory()
    rng = np.random.default_rng(seed)
    times = pd.date_range("2021-03-01", periods=n_times, freq=pd.Timedelta(step))
    fs.create_feature("test/prop_bt")
    frames = []
    for k in range(n_appends):
        keep = rng.random(n_times) < 0.8
        keep[rng.integers(0, n_times)] = True
        f = pd.DataFrame(
            {
                "time": times[keep],
                # known before or after the fact, so negative time_travel
                # offsets keep some rows and reject others
                "created_time": times[keep]
                + pd.Timedelta(minutes=int(rng.integers(-180, 180))),
                "value": rng.normal(size=keep.sum()),
            }
        )
        fs.save_dataframe(f, "test/prop_bt")
        frames.append(f)

    # from_date may fall between points, so the range starts on a seed
    lo = (times[int(rng.integers(0, n_times))] + pd.Timedelta(step) * rng.random()).floor("min")
    hi = max(lo, times[int(rng.integers(0, n_times))])
    got = fs.load_pandas(
        "test/prop_bt", from_date=lo, to_date=hi, freq=freq, time_travel=tt
    )

    # pandas model: time travel filter, then latest created_time per time,
    # then the inclusive range slice, or the as-of value at each grid point
    allf = pd.concat(frames, ignore_index=True)
    if tt is not None:
        allf = allf[allf["created_time"] <= allf["time"] + pd.Timedelta(tt)]
    latest = allf.sort_values(["time", "created_time"]).groupby("time")["value"].last()
    if freq is None:
        exp = latest.loc[(latest.index >= lo) & (latest.index <= hi)]
    else:
        grid = pd.date_range(lo, hi, freq=pd.Timedelta(freq))
        exp = latest.reindex(latest.index.union(grid)).ffill().reindex(grid)

    assert len(got) == len(exp)
    if freq is not None:
        assert (got.index == exp.index).all()
    if len(exp):
        np.testing.assert_allclose(
            got["test/prop_bt"].to_numpy(dtype=float), exp.to_numpy(), rtol=1e-12
        )
