"""Traced runs: spans around calls into the package's layers, Spark job
groups per operation, and Spark's event log parsed offline.

The tracer measures each layer from outside. It replaces public functions
of package modules with wrappers that record a span (name, start, end,
parent span, operation id) and puts the originals back afterwards; it never
edits the package. Spans stay in memory until the run ends. A layer's self
time is its span's duration minus the part of it that child spans cover.

Lazy layers (``timeseries``, ``storage.scan``, ``FeatureStore.load_dataframe``)
only build plans, so their spans hold plan-build time. Execution is read
from the event log: every Spark job is attributed to the operation whose
job group it carries, or else whose interval holds its submission time
(the workloads are single-client closed loops, so operations never overlap).
"""

from __future__ import annotations

import contextlib
import glob
import itertools
import json
import os
import threading
import time
from dataclasses import dataclass, field

import numpy as np

_MS = 1000.0


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Op:
    id: int
    name: str
    start: float
    end: float = 0.0
    catalyst: dict[str, float] = field(default_factory=dict)


def _union_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """Records spans while ``active``; a disabled tracer does nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.active = False
        self.spans: list[Span] = []
        self.ops: list[Op] = []
        self.counts: dict[str, float] = {}
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._op: Op | None = None
        self._root: dict[int, int] = {}
        self._restore: list[tuple[object, str, object]] = []
        self._seen_frames: dict[int, object] = {}
        self._lock = threading.Lock()  # wrappers also run on Spark's callback and pool threads
        self.spark = None

    # -- spans -------------------------------------------------------------

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str):
        if not (self.enabled and self.active):
            yield
            return
        stack = self._stack()
        op = self._op
        parent = stack[-1] if stack else (self._root.get(op.id) if op else None)
        sp = Span(next(self._ids), name, time.time(), parent=parent, op=op.id if op else None)
        stack.append(sp.id)
        try:
            yield
        finally:
            sp.end = time.time()
            stack.pop()
            self.spans.append(sp)

    @contextlib.contextmanager
    def op(self, name: str):
        """One user operation: a root span plus a Spark job group."""
        if not (self.enabled and self.active):
            yield
            return
        op = Op(next(self._ids), name, time.time())
        self._op = op
        sc = self.spark.sparkContext
        sc.setJobGroup(f"perfbench-{op.id}", name)
        try:
            with self.span(f"op.{name}"):
                self._root[op.id] = self._stack()[-1]
                yield
        finally:
            op.end = time.time()
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self.ops.append(op)
            self._op = None

    @contextlib.contextmanager
    def paused(self):
        active, self.active = self.active, False
        try:
            yield
        finally:
            self.active = active

    def count(self, key: str, n: float = 1) -> None:
        if self.enabled and self.active:
            with self._lock:
                self.counts[key] = self.counts.get(key, 0) + n

    def catalyst(self, df) -> None:
        """Record Catalyst phase times of a materialized frame's plan."""
        if not (self.enabled and self.active) or df is None or not self.ops:
            return
        qe = df._jdf.queryExecution()
        qe.executedPlan()  # forces optimization and planning of this plan
        phases = qe.tracker().phases()
        op = self.ops[-1]
        for phase in ("analysis", "optimization", "planning"):
            opt = phases.get(phase)
            if opt.isDefined():
                op.catalyst[phase] = float(opt.get().durationMs())

    # -- wrappers ----------------------------------------------------------

    def wrap(self, owner, attr: str, span_name: str, after=None) -> None:
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            ctx = after(args, kwargs) if after else None
            with tracer.span(span_name):
                res = orig(*args, **kwargs)
            if ctx is not None:
                ctx(res)
            return res

        wrapper.__wrapped__ = orig
        setattr(owner, attr, wrapper)
        self._restore.append((owner, attr, orig))

    def install(self, spark) -> None:
        """Wrap the public functions of the store's layers."""
        self.spark = spark
        if not self.enabled:
            return
        from bytehub_spark import catalog, core, storage
        from bytehub_spark import timeseries as ts

        for name in (
            "create_namespace", "get_namespace", "list_namespaces",
            "update_namespace", "delete_namespace", "create_feature",
            "get_feature", "list_features", "update_feature",
            "set_value_schema", "delete_feature", "clone_feature",
        ):
            self.wrap(catalog.Catalog, name, "catalog")
        St = storage.SparkStorage
        self.wrap(St, "open", "storage.open", after=self._open_after)
        self.wrap(St, "scan", "storage.scan")
        self.wrap(St, "list_partitions", "storage.list_partitions")
        self.wrap(St, "write", "storage.write", after=self._write_after)
        self.wrap(St, "compact", "storage.compact", after=self._compact_after)
        Fs = core.FeatureStore
        self.wrap(Fs, "load_dataframe", "core.load")
        self.wrap(Fs, "sql", "core.load")
        self.wrap(Fs, "last", "core.last")
        self.wrap(Fs, "save_dataframe", "core.save")
        for name in ("dedup_latest", "time_travel", "resample", "align", "locf"):
            self.wrap(ts, name, f"timeseries.{name}")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    def _open_after(self, args, kwargs):
        def done(res):
            # frames are kept alive here so that an id is never reused
            with self._lock:
                new = res is not None and id(res) not in self._seen_frames
                if new:
                    self._seen_frames[id(res)] = res
            if new:
                self.count("storage.open.misses")
        return done

    def _write_after(self, args, kwargs):
        store, name = args[0], args[1]
        path = store.feature_path(name)
        before = _tree(path)

        def done(res):
            after = _tree(path)
            self.count("storage.write.files", after[0] - before[0])
            self.count("storage.write.bytes", after[1] - before[1])
        return done

    def _compact_after(self, args, kwargs):
        def done(res):
            self.count("storage.compact.files_before", res.get("files_before", 0))
            self.count("storage.compact.files_after", res.get("files_after", 0))
        return done

    # -- results -----------------------------------------------------------

    def layer_metrics(self, rounds: int, event_log_dir: str | None) -> tuple[dict, dict]:
        """(per-layer metrics per timed round, per-operation detail)."""
        rounds = max(rounds, 1)
        by_name: dict[str, list[Span]] = {}
        for sp in self.spans:
            by_name.setdefault(sp.name, []).append(sp)

        def busy(name: str) -> float:
            return sum(s.seconds for s in by_name.get(name, []))

        def calls(name: str) -> int:
            return len(by_name.get(name, []))

        m: dict[str, float] = {}
        for layer in ("catalog", "storage.open", "storage.scan", "storage.write"):
            m[f"{layer}.calls"] = calls(layer) / rounds
            m[f"{layer}.busy_s"] = busy(layer) / rounds
        m["storage.list_partitions.busy_s"] = busy("storage.list_partitions") / rounds
        m["storage.compact.busy_s"] = busy("storage.compact") / rounds
        for key in ("storage.open.misses", "storage.write.files", "storage.write.bytes",
                    "storage.compact.files_before", "storage.compact.files_after"):
            m[key] = self.counts.get(key, 0) / rounds
        for name in ("dedup_latest", "time_travel", "resample", "align", "locf"):
            m[f"timeseries.{name}.calls"] = calls(f"timeseries.{name}") / rounds
            m[f"timeseries.{name}.busy_s"] = busy(f"timeseries.{name}") / rounds
        m["core.save.busy_s"] = busy("core.save") / rounds

        jobs = parse_event_log(event_log_dir) if event_log_dir else []
        per_op = self._attribute(jobs)
        m.update(self._exec_metrics(per_op, rounds))
        return m, per_op

    def self_times(self, rounds: int) -> dict[str, float]:
        """Self time per span name per round: each span's duration minus
        the part of it that its child spans cover."""
        children: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append(sp)
        out: dict[str, float] = {}
        for sp in self.spans:
            covered = _union_seconds(
                [(c.start, c.end) for c in children.get(sp.id, [])], sp.start, sp.end
            )
            out[sp.name] = out.get(sp.name, 0.0) + (sp.seconds - covered) / max(rounds, 1)
        return out

    def _attribute(self, jobs: list[dict]) -> dict:
        """Per-operation detail: build/exec split and event-log totals."""
        groups = {f"perfbench-{op.id}": op for op in self.ops}
        by_op: dict[int, list[dict]] = {op.id: [] for op in self.ops}
        starts = np.array([op.start for op in self.ops])
        for job in jobs:
            op = groups.get(job.get("group"))
            if op is None and len(starts):
                i = int(np.searchsorted(starts, job["start"], side="right")) - 1
                if i >= 0 and self.ops[i].start <= job["start"] <= self.ops[i].end:
                    op = self.ops[i]
            if op is not None:
                by_op[op.id].append(job)
        build_spans: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.op is not None and sp.name in ("core.load", "core.last"):
                build_spans.setdefault(sp.op, []).append(sp)
        detail: dict[str, dict] = {}
        for op in self.ops:
            js = by_op[op.id]
            builds = build_spans.get(op.id, [])
            build_s = sum(s.seconds for s in builds)
            build_jobs = sum(
                1 for j in js for s in builds if s.start <= j["start"] <= s.end
            )
            d = detail.setdefault(op.name, {"count": 0})
            d["count"] += 1
            wall = op.end - op.start
            covered = _union_seconds([(j["start"], j["end"]) for j in js], op.start, op.end)
            vals = {
                "wall_s": wall,
                "build_s": build_s,
                "build_jobs": build_jobs,
                "exec_s": wall - build_s,
                "jobs": len(js),
                "stages": sum(j["stages"] for j in js),
                "tasks": sum(j["tasks"] for j in js),
                "stage_s": sum(j["run_s"] for j in js),
                "shuffle_read_bytes": sum(j["shuffle_read"] for j in js),
                "shuffle_write_bytes": sum(j["shuffle_write"] for j in js),
                "spill_bytes": sum(j["spill"] for j in js),
                "input_bytes": sum(j["input_bytes"] for j in js),
                "input_rows": sum(j["input_rows"] for j in js),
                "driver_gap_s": wall - covered,
            }
            for k, v in op.catalyst.items():
                vals[f"catalyst_{k}_ms"] = v
            for k, v in vals.items():
                d.setdefault(k, []).append(v)
        return {
            name: {k: (v if k == "count" else float(np.median(v))) for k, v in d.items()}
            | {f"{k}_total": float(np.sum(v)) for k, v in d.items() if k != "count"}
            for name, d in detail.items()
        }

    def _exec_metrics(self, per_op: dict, rounds: int) -> dict[str, float]:
        m: dict[str, float] = {}
        keys = ("jobs", "stages", "tasks", "stage_s", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes", "input_bytes", "input_rows",
                "driver_gap_s")
        for k in keys:
            m[f"exec.{k}"] = sum(d.get(f"{k}_total", 0.0) for d in per_op.values()) / rounds
        for phase in ("analysis", "optimization", "planning"):
            m[f"catalyst.{phase}_ms"] = sum(
                d.get(f"catalyst_{phase}_ms_total", 0.0) for d in per_op.values()
            ) / rounds
        return m


def _tree(path: str) -> tuple[int, int]:
    """(parquet files, bytes) under ``path``."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def _log_order(path: str) -> tuple[int, str]:
    """Rolling event logs are ``events_<n>_<app>`` files; read them in order."""
    parts = os.path.basename(path).split("_")
    n = int(parts[1]) if len(parts) > 2 and parts[0] == "events" and parts[1].isdigit() else 0
    return n, path


def parse_event_log(event_log_dir: str) -> list[dict]:
    """Jobs of the Spark event log in ``event_log_dir`` with their stage and
    task totals. Times are epoch seconds."""
    paths = sorted(
        (p for p in glob.glob(os.path.join(event_log_dir, "**"), recursive=True)
         if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus")),
        key=_log_order,
    )
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "start": ev["Submission Time"] / _MS,
                        "end": ev["Submission Time"] / _MS,
                        "group": props.get("spark.jobGroup.id"),
                        "stages": 0, "tasks": 0, "run_s": 0.0,
                        "shuffle_read": 0, "shuffle_write": 0, "spill": 0,
                        "input_bytes": 0, "input_rows": 0,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd":
                    job = jobs.get(ev["Job ID"])
                    if job is not None:
                        job["end"] = ev["Completion Time"] / _MS
                elif kind == "SparkListenerStageCompleted":
                    job = jobs.get(stage_job.get(ev["Stage Info"]["Stage ID"]))
                    if job is not None:
                        job["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev["Stage ID"]))
                    tm = ev.get("Task Metrics")
                    if job is None or not tm:
                        continue
                    job["tasks"] += 1
                    job["run_s"] += tm.get("Executor Run Time", 0) / _MS
                    sr = tm.get("Shuffle Read Metrics", {})
                    job["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    job["shuffle_write"] += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    job["spill"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                    im = tm.get("Input Metrics", {})
                    job["input_bytes"] += im.get("Bytes Read", 0)
                    job["input_rows"] += im.get("Records Read", 0)
    return sorted(jobs.values(), key=lambda j: j["start"])


def files_per_partition(root: str) -> tuple[float, float]:
    """(median, max) parquet files per Hive partition directory under root."""
    counts = []
    for dirpath, _, names in os.walk(root):
        if os.path.basename(dirpath).startswith("partition="):
            counts.append(sum(1 for n in names if n.endswith(".parquet")))
    if not counts:
        return 0.0, 0.0
    return float(np.median(counts)), float(max(counts))
