"""Resampling + multi-feature alignment vs the pandas oracle.

Oracle semantics (reference tests/test_featurestore.py:405-491):
expected = pd.concat([...], axis=1).resample(freq).ffill().ffill()
restricted to [from_date, to_date]; non-contiguous series carry forward
across gaps; to_date < from_date clamps to from_date.
"""

import numpy as np
import pandas as pd
import pytest

rng = np.random.default_rng(7)


def save_series(fs, name, idx, values):
    fs.create_feature(name)
    fs.save_dataframe(pd.DataFrame({"time": idx, "value": values}), name)


def pandas_oracle(series: dict, from_date, to_date, freq):
    """Independent pandas recomputation of grid+LOCF semantics."""
    grid = pd.date_range(from_date, to_date, freq=freq)
    out = {}
    for name, s in series.items():
        aligned = s.reindex(s.index.union(grid)).ffill()
        out[name] = aligned.reindex(grid)
    return pd.DataFrame(out, index=grid)


def test_downsample_2d(fs):
    idx = pd.date_range("2021-01-01", periods=10, freq="D")
    vals = rng.normal(size=10)
    save_series(fs, "test/r1", idx, vals)
    out = fs.load_pandas("test/r1", from_date="2021-01-01",
                         to_date="2021-01-10", freq="2d")
    exp = pandas_oracle({"test/r1": pd.Series(vals, index=idx)},
                        "2021-01-01", "2021-01-10", "2D")
    assert len(out) == len(exp)
    np.testing.assert_allclose(out["test/r1"].values, exp["test/r1"].values)
    assert (out.index == exp.index).all()


def test_upsample_10min(fs):
    idx = pd.date_range("2021-01-01", periods=5, freq="h")
    vals = rng.normal(size=5)
    save_series(fs, "test/r2", idx, vals)
    out = fs.load_pandas("test/r2", from_date="2021-01-01 00:00",
                         to_date="2021-01-01 04:00", freq="10min")
    exp = pandas_oracle({"test/r2": pd.Series(vals, index=idx)},
                        "2021-01-01 00:00", "2021-01-01 04:00", "10min")
    np.testing.assert_allclose(out["test/r2"].values, exp["test/r2"].values)
    assert len(out) == 25


def test_multifeature_mixed_freq_alignment(fs):
    idx_a = pd.date_range("2021-01-01", periods=10, freq="D")
    idx_b = pd.date_range("2021-01-01", periods=240, freq="h")
    va, vb = rng.normal(size=10), rng.normal(size=240)
    save_series(fs, "test/ma", idx_a, va)
    save_series(fs, "test/mb", idx_b, vb)

    out = fs.load_pandas(["test/ma", "test/mb"], from_date="2021-01-01",
                         to_date="2021-01-10", freq="6h")
    exp = pandas_oracle(
        {"test/ma": pd.Series(va, index=idx_a), "test/mb": pd.Series(vb, index=idx_b)},
        "2021-01-01", "2021-01-10", "6h",
    )
    np.testing.assert_allclose(out["test/ma"].values, exp["test/ma"].values)
    np.testing.assert_allclose(out["test/mb"].values, exp["test/mb"].values)


def test_gap_carry_forward(fs):
    """Non-contiguous series: LOCF across the gap; seed before from_date."""
    idx_early = pd.date_range("2021-01-01", periods=5, freq="D")
    idx_late = pd.date_range("2021-01-10", periods=37, freq="D")
    ve, vl = rng.normal(size=5), rng.normal(size=37)
    save_series(fs, "test/g1", idx_early, ve)
    save_series(fs, "test/g2", idx_late, vl)

    out = fs.load_pandas(["test/g1", "test/g2"], from_date="2021-01-04",
                         to_date="2021-01-20", freq="1d")
    exp = pandas_oracle(
        {"test/g1": pd.Series(ve, index=idx_early),
         "test/g2": pd.Series(vl, index=idx_late)},
        "2021-01-04", "2021-01-20", "1D",
    )
    # g1 stops at 01-05 → carried forward to 01-20
    np.testing.assert_allclose(out["test/g1"].values, exp["test/g1"].values)
    # g2 starts at 01-10 → NaN before (no seed exists)
    assert out["test/g2"].isna().sum() == exp["test/g2"].isna().sum()
    np.testing.assert_allclose(
        out["test/g2"].dropna().values, exp["test/g2"].dropna().values
    )


def test_seed_before_range(fs):
    """from_date between data points: grid start takes the prior value."""
    idx = pd.date_range("2021-01-01", periods=10, freq="D")
    vals = np.arange(10.0)
    save_series(fs, "test/s1", idx, vals)
    out = fs.load_pandas("test/s1", from_date="2021-01-03 12:00",
                         to_date="2021-01-05", freq="1d")
    # grid: 01-03 12:00, 01-04 12:00 → values from 01-03 (2.0), 01-04 (3.0)
    np.testing.assert_allclose(out["test/s1"].values, [2.0, 3.0])


def asof_model(frames, from_date, to_date, freq, time_travel=None):
    """Pandas as-of model of one bitemporal feature on a LOCF grid:
    time-travel filter, latest created_time per time, then the last value
    at/before each grid point — the seed before from_date included."""
    rows = pd.concat(frames, ignore_index=True)
    if time_travel is not None:
        rows = rows[rows["created_time"] <= rows["time"] + pd.Timedelta(time_travel)]
    s = rows.sort_values(["time", "created_time"]).groupby("time")["value"].last()
    grid = pd.date_range(from_date, to_date, freq=pd.Timedelta(freq))
    return s.reindex(s.index.union(grid)).ffill().reindex(grid)


def save_rows(fs, name, times, created_offset="-2h", start=0.0):
    """Save rows at ``times`` valued start, start+1, ... and known at
    time + created_offset; returns the saved frame for the model."""
    frame = pd.DataFrame({
        "time": times,
        "created_time": times + pd.Timedelta(created_offset),
        "value": start + np.arange(len(times), dtype=float),
    })
    fs.save_dataframe(frame, name)
    return frame


def assert_grid(got, exp):
    assert (got.index == exp.index).all()
    np.testing.assert_allclose(got.to_numpy(dtype=float), exp.to_numpy(dtype=float))


# a date-partitioned feature with 5 days of data, 13 empty days, then more:
# the seed for from_date=GAP_FROM is the last point before the gap
GAP_EARLY = pd.date_range("2021-01-01", "2021-01-05 23:00", freq="h")
GAP_LATE = pd.date_range("2021-01-19", "2021-01-21 23:00", freq="h")
GAP_FROM, GAP_TO = pd.Timestamp("2021-01-18 06:00"), pd.Timestamp("2021-01-20")


def save_gap_feature(fs, name, start):
    fs.create_feature(name, partition="date")
    return [save_rows(fs, name, GAP_EARLY.append(GAP_LATE), start=start)]


def test_seed_across_empty_partitions(fs):
    """The seed sits 13 empty days before from_date: the probe follows the
    partition listing, not the calendar, and still finds it."""
    frames = save_gap_feature(fs, "test/gap", 0.0)
    out = fs.load_pandas("test/gap", from_date=GAP_FROM, to_date=GAP_TO, freq="6h")
    exp = asof_model(frames, GAP_FROM, GAP_TO, "6h")
    assert exp.iloc[0] == len(GAP_EARLY) - 1  # seeded from 01-05 23:00
    assert_grid(out["test/gap"], exp)


def test_seed_time_travel_falls_back_to_older_partition(fs):
    """Every row of the two newest partitions at/before from_date was known
    a day late, so time_travel="-1h" rejects them all and the seed must come
    from an older partition (the fallback over the full history)."""
    fs.create_feature("test/tt", partition="date")
    frames = [
        save_rows(fs, "test/tt", pd.date_range("2021-01-01", "2021-01-03 23:00", freq="h")),
        save_rows(fs, "test/tt", pd.date_range("2021-01-09", "2021-01-10 12:00", freq="h"),
                  created_offset="1d", start=100.0),
        save_rows(fs, "test/tt", pd.date_range("2021-01-10 13:00", "2021-01-12", freq="h"),
                  start=200.0),
    ]
    lo, hi = pd.Timestamp("2021-01-10 12:00"), pd.Timestamp("2021-01-11 12:00")
    for tt in (None, "-1h"):
        out = fs.load_pandas("test/tt", from_date=lo, to_date=hi, freq="3h", time_travel=tt)
        exp = asof_model(frames, lo, hi, "3h", time_travel=tt)
        assert_grid(out["test/tt"], exp)
    # with time travel the seed is 01-03 23:00 (value 71), not 01-10 12:00
    assert exp.iloc[0] == 71.0
    raw = fs.load_pandas("test/tt", from_date=lo, to_date=hi, time_travel="-1h")
    assert raw.index.min() == pd.Timestamp("2021-01-10 13:00")


def test_seed_across_gap_multi_feature_and_sql(fs):
    """The same gap through the two-feature freq load (long-format path)
    and through fs.sql, which share the batched prepass."""
    fa = save_gap_feature(fs, "test/ga", 0.0)
    fb = save_gap_feature(fs, "test/gb", 1000.0)
    ea = asof_model(fa, GAP_FROM, GAP_TO, "6h")
    eb = asof_model(fb, GAP_FROM, GAP_TO, "6h")
    out = fs.load_pandas(["test/ga", "test/gb"], from_date=GAP_FROM,
                         to_date=GAP_TO, freq="6h")
    assert_grid(out["test/ga"], ea)
    assert_grid(out["test/gb"], eb)
    got = fs.sql(
        "SELECT a.time, a.value + b.value AS value "
        "FROM test_ga a JOIN test_gb b ON a.time = b.time ORDER BY a.time",
        ["test/ga", "test/gb"], from_date=GAP_FROM, to_date=GAP_TO, freq="6h",
    ).toPandas().set_index("time")["value"]
    assert_grid(got, ea + eb)


def test_seed_probe_skips_old_partitions(fs):
    """A ranged load reads no partition older than the seed probe window:
    garbage bytes in an old partition's file fail any read that touches it,
    yet a later window loads correctly."""
    import os

    fs.create_feature("test/junk", partition="date")
    frames = [save_rows(fs, "test/junk", pd.date_range("2021-01-01", "2021-01-10", freq="h"))]
    url = fs.catalog.get_namespace("test")["url"]
    with open(os.path.join(url, "feature", "junk", "partition=2021-01-02",
                           "part-x.parquet"), "wb") as f:
        f.write(b"not a parquet file")
    lo, hi = pd.Timestamp("2021-01-08 12:30"), pd.Timestamp("2021-01-09 06:00")
    out = fs.load_pandas("test/junk", from_date=lo, to_date=hi, freq="1h")
    assert_grid(out["test/junk"], asof_model(frames, lo, hi, "1h"))
    with pytest.raises(Exception):
        fs.load_pandas("test/junk")  # the full history does read the file


def test_to_before_from_clamps(fs):
    idx = pd.date_range("2021-01-01", periods=10, freq="D")
    save_series(fs, "test/c1", idx, np.arange(10.0))
    out = fs.load_pandas("test/c1", from_date="2021-01-05",
                         to_date="2021-01-02", freq="1d")
    assert len(out) == 1
    np.testing.assert_allclose(out["test/c1"].values, [4.0])


def test_default_range_no_freq(fs):
    idx = pd.date_range("2021-01-01", periods=10, freq="D")
    vals = rng.normal(size=10)
    save_series(fs, "test/d1", idx, vals)
    out = fs.load_pandas("test/d1")
    assert len(out) == 10
    np.testing.assert_allclose(out["test/d1"].values, vals)


def test_empty_feature(fs):
    fs.create_feature("test/e1")
    out = fs.load_pandas("test/e1")
    assert len(out) == 0
    # empty + freq + explicit range → grid of nulls (ref :524-547)
    out = fs.load_pandas("test/e1", from_date="2021-01-01",
                         to_date="2021-01-05", freq="1d")
    assert len(out) == 5
    assert out["test/e1"].isna().all()


def test_wide_alignment_pivot_path(fs):
    """k>=8 numeric features: pivot strategy must give the same result as
    the join fold, with a flat (non-growing) exchange count."""
    from bytehub_spark import plans
    from bytehub_spark import timeseries as tsm

    idx = pd.date_range("2021-01-01", periods=30, freq="D")
    names = []
    for i in range(10):
        nm = f"test/w{i}"
        fs.create_feature(nm)
        # each feature observes a different sparse subset
        sub = idx[i % 3 :: 3]
        fs.save_dataframe(
            pd.DataFrame({"time": sub, "value": np.arange(len(sub)) + i * 100.0}), nm
        )
        names.append(nm)
    wide = fs.load_dataframe(names)
    pdf = wide.toPandas().set_index("time").sort_index()
    # oracle: pandas outer-concat + ffill (the reference's semantics)
    frames = {
        nm: fs.load_pandas(nm)[nm] for nm in names
    }
    exp = pd.concat(frames.values(), axis=1, join="outer").ffill()
    exp.columns = list(frames.keys())
    got = pdf[list(frames.keys())]
    pd.testing.assert_frame_equal(
        got, exp, check_dtype=False, check_freq=False, check_names=False
    )
    # strategy check: one pivot aggregate, not a 9-join chain
    plan = plans.executed_plan(wide)
    assert plan.count("SortMergeJoin") <= 2
