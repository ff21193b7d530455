"""Run plumbing shared by the workloads: environment, session, timing,
failure accounting and result comparison.

Everything here stays inside the checkout: the Spark session's local,
temporary and warehouse directories live under the run's work directory.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class CheckFailed(AssertionError):
    """An operation returned a result that differs from the model."""


def prepare_env(work: str) -> None:
    """Environment that must exist before the JVM starts: worker
    processes import ``bytehub_spark`` from the checkout, the cluster is
    ``local[nproc]``, and temporary files stay in the work directory."""
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")


def session_conf(work: str, event_log: str | None = None) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
        })
    return conf


def steal_ticks() -> int | None:
    """Cumulative CPU steal ticks (the 8th value of the cpu line of /proc/stat)."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        return int(parts[8])
    except (OSError, ValueError, IndexError):
        return None


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def summary(values: list[float]) -> dict:
    """Median, sample count and the highest of p90/p99/p99.9 that still
    has at least ten samples beyond it."""
    out: dict = {"n": len(values)}
    if not values:
        return out
    out["p50"] = statistics.median(values)
    for p in (0.9, 0.99, 0.999):
        if len(values) * (1 - p) >= 10:
            out[f"p{p * 100:g}"] = float(np.quantile(values, p))
    return out


@dataclass
class Recorder:
    """Latencies, attempts and failures of one run, per operation type."""

    attempted: dict[str, int] = field(default_factory=dict)
    failed: dict[str, int] = field(default_factory=dict)
    latency: dict[str, list[float]] = field(default_factory=dict)
    untimed: dict[str, list[float]] = field(default_factory=dict)
    rounds: list[dict[str, float]] = field(default_factory=list)

    def run(self, op: str, fn, *args, timed: bool = True, **kwargs):
        """Call ``fn`` as one operation; returns (ok, result, seconds)."""
        self.attempted[op] = self.attempted.get(op, 0) + 1
        t0 = time.perf_counter()
        try:
            res = fn(*args, **kwargs)
        except Exception:  # a failed operation is counted, not fatal
            self.fail(op, traceback.format_exc())
            return False, None, time.perf_counter() - t0
        dt = time.perf_counter() - t0
        (self.latency if timed else self.untimed).setdefault(op, []).append(dt)
        return True, res, dt

    def check(self, op: str, fn, *args) -> bool:
        """Run a correctness check; a mismatch fails one operation of ``op``."""
        self.attempted[op] = self.attempted.get(op, 0) + 1
        try:
            fn(*args)
        except Exception:
            self.fail(op, traceback.format_exc())
            return False
        return True

    def fail(self, op: str, why: str) -> None:
        self.failed[op] = self.failed.get(op, 0) + 1
        print(f"[perfbench] {op} failed:\n{why}", file=sys.stderr)

    def detail(self) -> dict:
        return {
            "ops": {
                op: {
                    "attempted": self.attempted.get(op, 0),
                    "failed": self.failed.get(op, 0),
                    **summary(self.latency.get(op, [])),
                }
                for op in sorted(set(self.attempted) | set(self.latency))
            },
            "rounds": self.rounds,
            "untimed_ops": self.untimed,
        }


# -- result comparison ---------------------------------------------------


def to_ns(col: pd.Series) -> np.ndarray:
    return pd.to_datetime(col).astype("datetime64[ns]").to_numpy().astype(np.int64)


def assert_frame(got: pd.DataFrame, want: pd.DataFrame, what: str) -> None:
    """Exact comparison after sorting by time; NaN equals NaN/None."""
    if list(got.columns) != list(want.columns) and sorted(got.columns) != sorted(want.columns):
        raise CheckFailed(f"{what}: columns {list(got.columns)} != {list(want.columns)}")
    if len(got) != len(want):
        raise CheckFailed(f"{what}: {len(got)} rows, model has {len(want)}")
    got = got.assign(time=to_ns(got["time"])).sort_values("time").reset_index(drop=True)
    want = want.assign(time=to_ns(want["time"])).sort_values("time").reset_index(drop=True)
    for c in want.columns:
        a = pd.to_numeric(got[c], errors="coerce").to_numpy(dtype=float)
        b = want[c].to_numpy(dtype=float)
        eq = (a == b) | (np.isnan(a) & np.isnan(b))
        if not eq.all():
            i = int(np.argmin(eq))
            raise CheckFailed(f"{what}: column {c} row {i}: got {a[i]!r}, model {b[i]!r}")


def assert_values(got: dict, want: dict, what: str) -> None:
    if set(got) != set(want):
        raise CheckFailed(f"{what}: keys {sorted(got)} != {sorted(want)}")
    for k, v in want.items():
        g = got[k]
        if g is None or not (g == v or (isinstance(v, float) and math.isnan(v) and math.isnan(g))):
            raise CheckFailed(f"{what}: {k} = {g!r}, model {v!r}")


def make_work_dir(name: str) -> str:
    """The run's work directory. Its path is fixed so that a store built
    by an earlier run (whose catalog records absolute urls) can be reused."""
    work = os.path.join(ROOT, ".perfbench", name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    return work
