"""Feature-store benchmark: one seeded workload per run.

    python3 perfbench/run.py --workload retrieval --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run starts ``local[nproc]`` Spark
and builds the store if this checkout has no kept copy yet. It then sets
up ``SETUPS`` times (restore the store, open a client), runs the
workload's checked warm-up once, and repeats timed rounds for
``--seconds``, at least one. The seed draws everything the rounds do.
Outputs are checked outside the timed region against a model built from
the generator; a failed or mismatched operation counts as failed.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones, measured untraced; with ``--trace 1`` they are the
per-layer ones of a traced run. A detail record (per-operation counts and
latency summaries, steal ticks, per-operation layer splits) goes to stderr
and, with ``--out PATH``, to a file.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

from harness import ROOT, Recorder, make_work_dir, materialize, prepare_env, session_conf, steal_ticks, summary

WORKLOADS = ("retrieval", "ingest")
# set-up passes per run; setup_s takes their median
SETUPS = 3

END_TO_END = {"setup_s": "s", "round_s": "s", "read_s": "s"}

LOAD_OPS = (
    "load_ranged", "load_resampled", "load_wide", "load_time_travel",
    "transform", "sql", "read_after_write",
)


def _per_layer() -> dict[str, str]:
    units: dict[str, str] = {"session.start_s": "s", "trace.round_s": "s"}
    units |= {"catalog.calls": "count", "catalog.busy_s": "s"}
    for layer in ("storage.open", "storage.scan", "storage.write"):
        units |= {f"{layer}.calls": "count", f"{layer}.busy_s": "s"}
    units |= {
        "storage.open.misses": "count",
        "storage.list_partitions.busy_s": "s",
        "storage.write.files": "count",
        "storage.write.bytes": "B",
        "storage.compact.busy_s": "s",
        "storage.compact.files_before": "count",
        "storage.compact.files_after": "count",
        "storage.files_per_partition.p50": "count",
        "storage.files_per_partition.max": "count",
        "storage.bytes_per_user_byte": "ratio",
        "core.load.build_s": "s",
        "core.load.build_jobs": "count",
        "core.load.exec_s": "s",
    }
    for op in LOAD_OPS:
        units |= {
            f"core.load.build_s.{op}": "s",
            f"core.load.build_jobs.{op}": "count",
            f"core.load.exec_s.{op}": "s",
        }
    units |= {"core.last.busy_s": "s", "core.last.jobs": "count", "core.save.busy_s": "s"}
    for name in ("dedup_latest", "time_travel", "resample", "align", "locf"):
        units |= {f"timeseries.{name}.calls": "count", f"timeseries.{name}.busy_s": "s"}
    units |= {f"catalyst.{p}_ms": "ms" for p in ("analysis", "optimization", "planning")}
    units |= {
        "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
        "exec.stage_s": "s", "exec.shuffle_read_bytes": "B",
        "exec.shuffle_write_bytes": "B", "exec.spill_bytes": "B",
        "exec.input_bytes": "B", "exec.input_rows": "count",
        "exec.driver_gap_s": "s",
    }
    return units


PER_LAYER = _per_layer()


class Context:
    """What a workload needs from the run: the store client, the recorder
    and the tracer."""

    def __init__(self, fs, rec, tracer, store_url):
        self.fs = fs
        self.rec = rec
        self.tracer = tracer
        self.store_url = store_url
        self.check_s = 0.0

    def call(self, op: str, build, times: dict[str, float] | None):
        """One operation; returns its result, or None if it failed.

        With ``times`` (a timed round), ``build()`` returning a lazy frame
        is materialized through the noop sink inside the timed region, and
        the seconds are added to ``times[op]``. Without it (warm-up), the
        result is returned unmaterialized for the caller to check."""
        from pyspark.sql import DataFrame

        if times is None:
            ok, res, _ = self.rec.run(op, build, timed=False)
            return res if ok else None
        tracer = self.tracer

        def go():
            with tracer.op(op):
                res = build()
                if isinstance(res, DataFrame):
                    with tracer.span("exec"):
                        materialize(res)
            return res

        ok, res, dt = self.rec.run(op, go)
        times[op] = times.get(op, 0.0) + dt
        if ok and isinstance(res, DataFrame):
            tracer.catalyst(res)
        return res if ok else None

    def check(self, op: str, fn, *args) -> bool:
        """A correctness check of ``op``, untraced: its reads are not part
        of any layer's figures. Its seconds add up in ``check_s``."""
        t0 = time.perf_counter()
        with self.tracer.paused():
            ok = self.rec.check(op, fn, *args)
        self.check_s += time.perf_counter() - t0
        return ok


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="also write the detail record here")
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny: minimal inputs, for the benchmark's own tests")
    return ap.parse_args(argv)


def store_spec(tiny: bool):
    """The store both store workloads start from. Its contents do not
    depend on the run's seed, so it is built once per checkout."""
    import storegen as sg

    if tiny:
        return sg.StoreSpec(seed=0, deep_step_s=86_400 // 4, n_shallow=4)
    return sg.StoreSpec(seed=0)


def close_client(fs) -> None:
    """Close a client's catalog before its files are replaced. A sqlite
    connection closed later would checkpoint into the removed file and
    delete the new catalog's write-ahead log."""
    fs.catalog._con().close()


def make_workload(name: str, ctx: Context, spec, seed: int):
    if name == "retrieval":
        from retrieval import Retrieval

        return Retrieval(ctx, spec, seed)
    from ingest import Ingest

    return Ingest(ctx, spec, seed)


def stop_jvm(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(args) -> tuple[dict, dict]:
    work = make_work_dir("work-tiny" if args.scale == "tiny" else "work")
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str) -> tuple[dict, dict]:
    prepare_env(work)
    sys.path.insert(0, ROOT)
    from bytehub_spark import FeatureStore
    from bytehub_spark.session import get_spark

    import storegen as sg
    from tracing import Tracer, files_per_partition

    steal0 = steal_ticks()
    event_log = os.path.join(work, "eventlog") if args.trace else None
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", extra_conf=session_conf(work, event_log))
    session_s = time.perf_counter() - t0
    rec = Recorder()
    tracer = Tracer(enabled=bool(args.trace))
    tracer.install(spark)
    store_url = os.path.join(work, "store")
    catalog = os.path.join(work, "catalog.db")
    spec = store_spec(args.scale == "tiny")
    try:
        # the first run in a checkout builds the store; it is not set-up
        # time, every run's set-up restores the kept copy
        t1 = time.perf_counter()
        built = not sg.is_saved(spec, work)
        if built:
            fs = FeatureStore(catalog, spark=spark)
            fs.create_namespace("bench", url=store_url)
            sg.build_store(fs, spec)
            close_client(fs)
            sg.save_store(spec, work)
        build_s = time.perf_counter() - t1

        # set up SETUPS times: restore the store and open a new client on
        # it; then warm up once, cold, on the last client
        passes, fs = [], None
        for _ in range(SETUPS):
            if fs is not None:
                close_client(fs)
            t1 = time.perf_counter()
            sg.restore_store(spec, work)
            fs = FeatureStore(catalog, spark=spark)
            passes.append(time.perf_counter() - t1)
        ctx = Context(fs, rec, tracer, store_url)
        wl = make_workload(args.workload, ctx, spec, args.seed)
        t1 = time.perf_counter()
        wl.warmup()
        warmup_s = time.perf_counter() - t1 - ctx.check_s
        setup_s = session_s + statistics.median(passes) + warmup_s

        tracer.active = True
        rounds: list[dict] = []
        t_run = time.perf_counter()
        while time.perf_counter() - t_run < args.seconds or not rounds:
            rounds.append(wl.round())
        measured_s = time.perf_counter() - t_run
        tracer.active = False
        extra = wl.finish() if hasattr(wl, "finish") else {}
        fpp = files_per_partition(store_url)
    finally:
        stop_jvm(spark)
        tracer.uninstall()
    steal1 = steal_ticks()

    rec.rounds = rounds
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "setup": {"session_s": session_s, "store_built": built, "build_s": build_s,
                  "passes_s": passes, "warmup_s": warmup_s, "setup_s": setup_s},
        "measured_s": measured_s,
        "round_s": summary([r["round_s"] for r in rounds]),
        "read_s": summary([r["read_s"] for r in rounds]),
        "steal_ticks": None if steal0 is None or steal1 is None else steal1 - steal0,
        **extra,
        **rec.detail(),
    }
    vals = [r["backfill_rows_per_s"] for r in rounds if "backfill_rows_per_s" in r]
    if vals:
        detail["backfill_rows_per_s"] = summary(vals)

    if not args.trace:
        metrics = {
            "setup_s": setup_s,
            "round_s": statistics.median(r["round_s"] for r in rounds),
            "read_s": statistics.median(r["read_s"] for r in rounds),
        }
        return metrics, detail

    metrics = {name: 0.0 for name in PER_LAYER}
    layers, per_op = tracer.layer_metrics(len(rounds), event_log)
    metrics.update(layers)
    metrics["session.start_s"] = session_s
    metrics["trace.round_s"] = statistics.median(r["round_s"] for r in rounds)
    metrics["storage.files_per_partition.p50"], metrics["storage.files_per_partition.max"] = fpp
    if "bytes_per_user_byte" in extra:
        metrics["storage.bytes_per_user_byte"] = extra["bytes_per_user_byte"]
    n = len(rounds)
    for op in LOAD_OPS:
        d = per_op.get(op)
        if d is None:
            continue
        metrics[f"core.load.build_s.{op}"] = d["build_s"]
        metrics[f"core.load.build_jobs.{op}"] = d["build_jobs"]
        metrics[f"core.load.exec_s.{op}"] = d["exec_s"]
        metrics["core.load.build_s"] += d["build_s_total"] / n
        metrics["core.load.build_jobs"] += d["build_jobs_total"] / n
        metrics["core.load.exec_s"] += d["exec_s_total"] / n
    if "last" in per_op:
        metrics["core.last.busy_s"] = per_op["last"]["build_s_total"] / n
        metrics["core.last.jobs"] = per_op["last"]["jobs_total"] / n
    detail["layers_per_op"] = per_op
    detail["self_s"] = tracer.self_times(n)
    return metrics, detail


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "bytehub_spark")):
        print(f"perfbench: no bytehub_spark package under {ROOT}", file=sys.stderr)
        return 2
    metrics, detail = run(args)
    units = PER_LAYER if args.trace else END_TO_END
    rec_ops = detail["ops"]
    attempted = sum(o["attempted"] for o in rec_ops.values())
    failed = sum(o["failed"] for o in rec_ops.values())
    detail["attempted"], detail["failed"] = attempted, failed
    print(json.dumps(detail), file=sys.stderr)
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"detail": detail, "metrics": metrics}, f, indent=1)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
