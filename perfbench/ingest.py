"""``ingest``: a production feed appending one day per round for every
stored feature, with reads right after each write.

Every append invalidates the ``open()`` file-index memo, so the reads that
follow always rediscover the dataset: the cache-miss counterpart to
``retrieval``. Every second day also back-fills a past month of
``bench/deep`` as a Spark frame and compacts the fragmented features; a
timed round is one such two-day cycle.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

import storegen as sg
from harness import assert_frame, assert_values

FIRST_DAY = pd.Timestamp("2024-01-01")
BACKFILL_EVERY = 2
# compaction rewrites partitions holding more than this many files; the
# deep feature's two bitemporal versions per day stay as written
MAX_FILES = 2
_NS_PER_S = 1_000_000_000


class Ingest:
    def __init__(self, ctx, spec: sg.StoreSpec, seed: int):
        self.ctx = ctx
        self.spec = spec
        self.seed = seed
        self.fs = ctx.fs
        self.model = spec.model()
        self.rng = np.random.default_rng([seed, 2])
        self.day = 0
        self.rows_written = self.model.rows()
        self.backfill_rows = 0

    # -- generated inputs --------------------------------------------------

    def day_frame(self, day: int) -> pd.DataFrame:
        """24 hourly rows for every stored feature, one wide frame."""
        t = FIRST_DAY + pd.Timedelta(days=day)
        times = pd.date_range(t, periods=24, freq="1h")
        out = {"time": times, "created_time": times + pd.Timedelta("5min")}
        h = np.arange(24, dtype=np.int64) + 24 * day
        for k, name in enumerate(self.spec.stored):
            out[name] = ((h * (k + 11) * 37 + self.seed * 13 + k) % 2003) / 4.0
        return pd.DataFrame(out)

    def backfill_range(self) -> tuple[int, int]:
        """Seeded month of bench/deep as a row-index range [lo, hi)."""
        per_day = 86_400 // self.spec.deep_step_s
        n_days = len(pd.date_range(sg.START, sg.END, freq="D")) - 31
        d0 = int(self.rng.integers(n_days))
        lo = -(-(d0 * 86_400) // self.spec.deep_step_s)
        return lo, min(lo + 30 * per_day, self.spec.n_deep)

    def backfill_frame(self, lo: int, hi: int, created: pd.Timestamp):
        value, _ = self.spec.deep_sql()
        t0 = sg.START.value // _NS_PER_S
        return self.fs.spark.range(lo, hi).selectExpr(
            f"timestamp_seconds({t0} + id * {self.spec.deep_step_s}) as time",
            f"timestamp_seconds({created.value // _NS_PER_S}) as created_time",
            f"{value} + 0.25 as value",
        )

    # -- model updates -----------------------------------------------------

    def apply_day(self, frame: pd.DataFrame) -> None:
        t = frame["time"].to_numpy().astype("datetime64[ns]").astype(np.int64)
        for name in self.spec.stored:
            self.model.series[name].append(t, frame[name].to_numpy(dtype=float))
        self.rows_written += len(frame) * len(self.spec.stored)

    def apply_backfill(self, lo: int, hi: int) -> None:
        i = np.arange(lo, hi, dtype=np.int64)
        self.model.series[sg.DEEP].latest[lo:hi] = self.spec.deep_value(i) + 0.25
        self.rows_written += hi - lo

    # -- rounds ------------------------------------------------------------

    def next_day(self, times: dict[str, float] | None) -> None:
        """Append the next day, read it back, and on every BACKFILL_EVERY-th
        day back-fill a month and compact. ``times`` None: untimed."""
        ctx, fs, spec = self.ctx, self.fs, self.spec
        day = self.day
        self.day += 1
        frame = self.day_frame(day)
        lo = FIRST_DAY + pd.Timedelta(days=day)
        hi = lo + pd.Timedelta("23h")

        ctx.call("append", lambda: fs.save_dataframe(frame), times)
        self.apply_day(frame)
        raw = ctx.call("read_after_write",
                       lambda: fs.load_dataframe(spec.stored, from_date=lo, to_date=hi, freq="1h"), times)
        if raw is not None:
            ctx.check("read_after_write", lambda: assert_frame(
                raw.toPandas(), self.model.wide(spec.stored, lo, hi), f"read_after_write {lo}"))
        last = ctx.call("last", lambda: fs.last(spec.stored), times)
        if last is not None:
            ctx.check("last", assert_values, last, self.model.last(spec.stored), "last")
        if day % BACKFILL_EVERY:
            return

        b_lo, b_hi = self.backfill_range()
        self.backfill_rows = b_hi - b_lo
        created = pd.Timestamp("2024-06-01") + pd.Timedelta(days=day)
        sdf = self.backfill_frame(b_lo, b_hi, created)
        ctx.call("backfill", lambda: fs.save_dataframe(sdf, sg.DEEP), times)
        self.apply_backfill(b_lo, b_hi)
        t_lo = pd.Timestamp(int(self.model.series[sg.DEEP].times[b_lo]))
        t_hi = pd.Timestamp(int(self.model.series[sg.DEEP].times[b_hi - 1]))
        ctx.check("backfill", lambda: assert_frame(
            fs.load_dataframe(sg.DEEP, from_date=t_lo, to_date=t_hi).toPandas(),
            self.model.ranged(sg.DEEP, t_lo, t_hi).rename(columns={"value": sg.DEEP}),
            f"backfill [{t_lo}, {t_hi}]"))
        for name in self.fragmented():
            ctx.call("compact", lambda name=name: fs.compact_feature(name, max_files_per_partition=MAX_FILES),
                     times)

    def warmup(self) -> None:
        """Day 0, checked: an append, its reads, a back-fill and compaction."""
        self.next_day(None)

    def round(self) -> dict[str, float]:
        """One full cycle of BACKFILL_EVERY days, so every round holds the
        same mix: that many appends and their reads, one back-fill, and the
        compaction after it."""
        times: dict[str, float] = {}
        for _ in range(BACKFILL_EVERY):
            self.next_day(times)
        out = dict(times)
        out["round_s"] = sum(times.values())
        out["read_s"] = times.get("read_after_write", 0.0) + times.get("last", 0.0)
        if "backfill" in times:
            out["backfill_rows_per_s"] = self.backfill_rows / times["backfill"]
        return out

    def fragmented(self) -> list[str]:
        """Stored features with a partition holding more than MAX_FILES files."""
        root = os.path.join(self.ctx.store_url, "feature")
        out = []
        for name in self.spec.stored:
            base = os.path.join(root, name.split("/", 1)[1])
            for d in os.listdir(base):
                files = os.listdir(os.path.join(base, d)) if d.startswith("partition=") else []
                if sum(f.endswith(".parquet") for f in files) > MAX_FILES:
                    out.append(name)
                    break
        return out

    def finish(self) -> dict:
        """Bytes on disk per user byte (rows x 24 B) at the end of the run."""
        total = 0
        for dirpath, _, names in os.walk(self.ctx.store_url):
            total += sum(os.path.getsize(os.path.join(dirpath, n)) for n in names)
        return {"bytes_per_user_byte": total / (self.rows_written * 24)}
