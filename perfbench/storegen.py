"""Seeded feature-store contents and the pandas model of what the store holds.

Every value is a closed-form integer expression of (seed, row index,
feature index) divided by a power of two, so the Spark frames handed to
``save_dataframe`` and the numpy model below agree bit for bit without the
model ever reading the store.

Store layout (namespace ``bench``):

- ``bench/deep``: ``date``-partitioned, one point every ``deep_step_s``
  seconds over 2023 (525,600 points and 365 partitions at the default
  step). Two bitemporal versions: every point as a forecast written with
  ``created_time = time - 2h``, and every 10th point corrected (value
  + 0.5) with ``created_time = time + 1d``.
- ``bench/f00`` .. ``bench/f07``: ``year``-partitioned, 6-hourly over the
  same year, ``created_time = time - 2h``.
- ``bench/combo``: a transform feature, ``f00 + f01``.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pandas as pd

from harness import ROOT

NS = "bench"
START = pd.Timestamp("2023-01-01")
END = pd.Timestamp("2024-01-01")  # exclusive
FORECAST_LEAD = pd.Timedelta("2h")
CORRECTION_LAG = pd.Timedelta("1d")
CORRECT_EVERY = 10
DEEP = f"{NS}/deep"
COMBO = f"{NS}/combo"
_NS_PER_S = 1_000_000_000


def shallow_name(k: int) -> str:
    return f"{NS}/f{k:02d}"


@dataclass(frozen=True)
class StoreSpec:
    seed: int
    deep_step_s: int = 60
    shallow_step_h: int = 6
    n_shallow: int = 8

    @property
    def n_deep(self) -> int:
        return int((END - START).total_seconds()) // self.deep_step_s

    @property
    def shallow(self) -> list[str]:
        return [shallow_name(k) for k in range(self.n_shallow)]

    @property
    def stored(self) -> list[str]:
        """The stored (non-transform) features."""
        return [DEEP, *self.shallow]

    # -- value formulas (mirrored exactly by the Spark expressions) --------

    def _deep_salt(self) -> int:
        return (self.seed * 104_729) % 10_007

    def deep_value(self, i: np.ndarray) -> np.ndarray:
        return ((i * 7919 + self._deep_salt()) % 10_007) / 16.0

    def deep_sql(self) -> tuple[str, str]:
        """(value, corrected value) as Spark SQL over ``id``."""
        v = f"cast((id * 7919 + {self._deep_salt()}) % 10007 as double) / 16.0"
        return v, f"{v} + 0.5"

    def shallow_value(self, k: int, j: np.ndarray) -> np.ndarray:
        salt = (self.seed * 17 + k * 1009) % 1009
        return ((j * (k + 3) * 31 + salt) % 1009) / 8.0

    # -- model -------------------------------------------------------------

    def deep_times(self) -> np.ndarray:
        """Event times of bench/deep as int64 nanoseconds."""
        return START.value + np.arange(self.n_deep, dtype=np.int64) * (
            self.deep_step_s * _NS_PER_S
        )

    def shallow_times(self) -> np.ndarray:
        step = self.shallow_step_h * 3600 * _NS_PER_S
        n = int((END - START).total_seconds()) // (self.shallow_step_h * 3600)
        return START.value + np.arange(n, dtype=np.int64) * step

    def model(self) -> "StoreModel":
        i = np.arange(self.n_deep, dtype=np.int64)
        forecast = self.deep_value(i)
        latest = np.where(i % CORRECT_EVERY == 0, forecast + 0.5, forecast)
        series = {DEEP: Series(self.deep_times(), latest, forecast)}
        st = self.shallow_times()
        j = np.arange(len(st), dtype=np.int64)
        for k, name in enumerate(self.shallow):
            v = self.shallow_value(k, j)
            series[name] = Series(st, v, v)
        return StoreModel(series)


@dataclass
class Series:
    """One feature's model: sorted event times (ns), the latest-version
    value and the value as known at ``time - 1h`` (time travel)."""

    times: np.ndarray
    latest: np.ndarray
    forecast: np.ndarray

    def append(self, times: np.ndarray, values: np.ndarray) -> None:
        self.times = np.concatenate([self.times, times])
        self.latest = np.concatenate([self.latest, values])
        self.forecast = np.concatenate([self.forecast, values])


class StoreModel:
    """What each read of the store must return, computed from the generator."""

    def __init__(self, series: dict[str, Series]):
        self.series = series

    def ranged(self, name: str, lo, hi, travel: bool = False) -> pd.DataFrame:
        s = self.series[name]
        a = np.searchsorted(s.times, _ns(lo), side="left")
        b = np.searchsorted(s.times, _ns(hi), side="right")
        vals = s.forecast if travel else s.latest
        return pd.DataFrame({"time": s.times[a:b], "value": vals[a:b]})

    def locf(self, name: str, grid: np.ndarray) -> np.ndarray:
        """Value of the last point at or before each grid time (NaN if none)."""
        s = self.series[name]
        idx = np.searchsorted(s.times, grid, side="right") - 1
        return np.where(idx >= 0, s.latest[np.maximum(idx, 0)], np.nan)

    def resampled(self, name: str, lo, hi, freq: str = "1h") -> pd.DataFrame:
        grid = hourly_grid(lo, hi, freq)
        return pd.DataFrame({"time": grid, "value": self.locf(name, grid)})

    def wide(self, names: list[str], lo, hi, freq: str = "1h") -> pd.DataFrame:
        grid = hourly_grid(lo, hi, freq)
        out = {"time": grid}
        for n in names:
            out[n] = self.locf(n, grid)
        return pd.DataFrame(out)

    def last(self, names: list[str]) -> dict[str, float]:
        return {n: float(self.series[n].latest[-1]) for n in names}

    def rows(self) -> int:
        """Rows written to the store, every bitemporal version counted."""
        total = 0
        for n, s in self.series.items():
            total += len(s.times)
            if n == DEEP:
                total += int(np.sum(s.latest != s.forecast))
        return total


def hourly_grid(lo, hi, freq: str = "1h") -> np.ndarray:
    return pd.date_range(pd.Timestamp(lo), pd.Timestamp(hi), freq=freq).asi8


def _ns(t) -> int:
    return pd.Timestamp(t).value


def deep_frames(spark, spec: StoreSpec):
    """(forecast, correction) Spark frames of bench/deep."""
    value, corrected = spec.deep_sql()
    t0 = START.value // _NS_PER_S
    base = spark.range(spec.n_deep).selectExpr(
        "id",
        f"timestamp_seconds({t0} + id * {spec.deep_step_s}) as time",
    )
    forecast = base.selectExpr(
        "time",
        f"time - interval {int(FORECAST_LEAD.total_seconds())} seconds as created_time",
        f"{value} as value",
    )
    correction = base.where(f"id % {CORRECT_EVERY} = 0").selectExpr(
        "time",
        f"time + interval {int(CORRECTION_LAG.total_seconds())} seconds as created_time",
        f"{corrected} as value",
    )
    return forecast, correction


def shallow_frame(spec: StoreSpec) -> pd.DataFrame:
    """One wide pandas frame holding all shallow features."""
    st = spec.shallow_times()
    j = np.arange(len(st), dtype=np.int64)
    times = pd.to_datetime(st)
    out = {"time": times, "created_time": times - FORECAST_LEAD}
    for k, name in enumerate(spec.shallow):
        out[name] = spec.shallow_value(k, j)
    return pd.DataFrame(out)


def combo_fn():
    """The transform function of bench/combo, built as a closure so it
    pickles by value and workers need not import this module."""

    def combo(df):
        return df.iloc[:, 0] + df.iloc[:, 1]

    return combo


def build_store(fs, spec: StoreSpec) -> None:
    """Create the namespace's features and write their contents."""
    fs.create_feature(DEEP, partition="date")
    for name in spec.shallow:
        fs.create_feature(name, partition="year")
    forecast, correction = deep_frames(fs.spark, spec)
    fs.save_dataframe(forecast, DEEP)
    fs.save_dataframe(correction, DEEP)
    fs.save_dataframe(shallow_frame(spec))
    fs.transform(COMBO, from_features=spec.shallow[:2])(combo_fn())


def _source_digest() -> str:
    """Digest of the code that writes the store: the package's sources and
    this module. A store written by other code is never reused."""
    h = hashlib.sha1()
    paths = sorted(glob.glob(os.path.join(ROOT, "bytehub_spark", "**", "*.py"), recursive=True))
    for path in [*paths, os.path.abspath(__file__)]:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _cache_dir(spec: StoreSpec, work: str) -> str:
    # the catalog records the store's absolute url, so the key holds it
    key = hashlib.sha1(f"{spec}|{work}|{_source_digest()}".encode()).hexdigest()[:12]
    return os.path.join(os.path.dirname(work), "cache", f"store-{key}")


def is_saved(spec: StoreSpec, work: str) -> bool:
    """Whether an earlier run in this checkout kept a copy of the store."""
    return os.path.isdir(_cache_dir(spec, work))


def restore_store(spec: StoreSpec, work: str) -> None:
    """Replace the store of ``work`` (``store/`` and the catalog) by the
    kept copy. No client may hold the old catalog open."""
    cache = _cache_dir(spec, work)
    shutil.rmtree(os.path.join(work, "store"), ignore_errors=True)
    for path in glob.glob(os.path.join(work, "catalog.db*")):
        os.remove(path)
    shutil.copytree(os.path.join(cache, "store"), os.path.join(work, "store"))
    shutil.copy2(os.path.join(cache, "catalog.db"), work)


def save_store(spec: StoreSpec, work: str) -> None:
    """Keep the just-built store of ``work`` for later runs. The catalog's
    client must be closed, so that ``catalog.db`` holds every change."""
    cache = _cache_dir(spec, work)
    tmp = f"{cache}.tmp-{os.getpid()}"
    shutil.copytree(os.path.join(work, "store"), os.path.join(tmp, "store"))
    shutil.copy2(os.path.join(work, "catalog.db"), tmp)
    os.rename(tmp, cache)
