"""``retrieval``: training-set retrieval from a built store, read-only.

Each round reads one month-long window through the seven read operations
of the store, and every output of every round is checked. The store is
never written after set-up, so every ``open()`` after warm-up hits the
file-index memo.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

import storegen as sg
from harness import assert_frame, assert_values

OPS = (
    "load_ranged", "load_resampled", "load_wide", "load_time_travel",
    "transform", "sql", "last",
)
WINDOW = pd.Timedelta("30d")
FIRST_START = pd.Timestamp("2023-02-01")
LAST_START = pd.Timestamp("2023-12-01")
STRATA = 4
SQL = (
    "SELECT a.time, a.value + b.value AS value "
    "FROM bench_f02 a JOIN bench_f03 b ON a.time = b.time"
)


def windows(rng: np.random.Generator):
    """Endless seeded rounds of windows, one window per operation. Each
    round draws one start from each quarter of [Feb 2023, Dec 2023] and
    deals them to the operations in seeded order, so every round mixes
    short and long histories before ``from_date`` (1 to 11 months) alike."""
    days = (LAST_START - FIRST_START).days
    width = days // STRATA
    while True:
        starts = [
            FIRST_START + pd.Timedelta(days=int(s * width + rng.integers(width)))
            for s in rng.permutation(STRATA)
        ]
        yield [(lo, lo + WINDOW) for lo in (starts[i % STRATA] for i in range(len(OPS)))]


class Retrieval:
    def __init__(self, ctx, spec: sg.StoreSpec, seed: int):
        self.ctx = ctx
        self.spec = spec
        self.fs = ctx.fs
        self.model = spec.model()
        self.windows = windows(np.random.default_rng([seed, 1]))

    # -- operations: each returns a lazy frame, or a dict for last() -------

    def build(self, op: str, lo, hi):
        fs, spec = self.fs, self.spec
        if op == "load_ranged":
            return fs.load_dataframe(sg.DEEP, from_date=lo, to_date=hi)
        if op == "load_resampled":
            return fs.load_dataframe(sg.DEEP, from_date=lo, to_date=hi, freq="1h")
        if op == "load_wide":
            return fs.load_dataframe(spec.stored, from_date=lo, to_date=hi, freq="1h")
        if op == "load_time_travel":
            return fs.load_dataframe(sg.DEEP, from_date=lo, to_date=hi, time_travel="-1h")
        if op == "transform":
            return fs.load_dataframe(sg.COMBO, from_date=lo, to_date=hi, freq="1h")
        if op == "sql":
            return fs.sql(SQL, spec.shallow[2:4], from_date=lo, to_date=hi, freq="1h")
        if op == "last":
            return fs.last(spec.stored)
        raise ValueError(op)

    def expected(self, op: str, lo, hi):
        m, spec = self.model, self.spec
        if op == "load_ranged":
            return m.ranged(sg.DEEP, lo, hi).rename(columns={"value": sg.DEEP})
        if op == "load_resampled":
            return m.resampled(sg.DEEP, lo, hi).rename(columns={"value": sg.DEEP})
        if op == "load_wide":
            return m.wide(spec.stored, lo, hi)
        if op == "load_time_travel":
            return m.ranged(sg.DEEP, lo, hi, travel=True).rename(columns={"value": sg.DEEP})
        if op in ("transform", "sql"):
            a, b = spec.shallow[0:2] if op == "transform" else spec.shallow[2:4]
            w = m.wide([a, b], lo, hi)
            col = sg.COMBO if op == "transform" else "value"
            return pd.DataFrame({"time": w["time"], col: w[a] + w[b]})
        if op == "last":
            return m.last(spec.stored)
        raise ValueError(op)

    def check(self, op: str, got, lo, hi) -> None:
        want = self.expected(op, lo, hi)
        if op == "last":
            assert_values(got, want, op)
        else:
            assert_frame(got.toPandas(), want, f"{op} [{lo}, {hi}]")

    def run_round(self, times: dict[str, float] | None) -> None:
        """Every operation once, then every output checked against the model
        (outside the timed region). ``times`` None: untimed."""
        done = []
        for op, (lo, hi) in zip(OPS, next(self.windows)):
            got = self.ctx.call(op, lambda op=op, lo=lo, hi=hi: self.build(op, lo, hi), times)
            if got is not None:
                done.append((op, got, lo, hi))
        for op, got, lo, hi in done:
            self.ctx.check(op, self.check, op, got, lo, hi)

    def warmup(self) -> None:
        self.run_round(None)

    def round(self) -> dict[str, float]:
        times: dict[str, float] = {}
        self.run_round(times)
        total = sum(times.values())
        return {"round_s": total, "read_s": total, **times}
