"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -q

Tiny-size runs of every workload check that each metric is emitted with
its unit and that every operation passes its correctness check; the
comparison helpers must reject a result perturbed by one.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run as bench  # noqa: E402
import storegen as sg  # noqa: E402
from harness import CheckFailed, ROOT, assert_frame, assert_values  # noqa: E402
from retrieval import OPS  # noqa: E402


def _run(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["retrieval", "ingest"])
def test_tiny_run_emits_every_metric(workload, tmp_path):
    out = tmp_path / "detail.json"
    res = _result(_run("--workload", workload, "--seed", "5", "--seconds", "1",
                       "--trace", "0", "--scale", "tiny", "--out", str(out)))
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    assert set(res["metrics"]) == set(bench.END_TO_END)
    for name, unit in bench.END_TO_END.items():
        assert res["metrics"][name]["unit"] == unit
        assert res["metrics"][name]["value"] > 0
    detail = json.loads(out.read_text())["detail"]
    assert len(detail["setup"]["passes_s"]) == bench.SETUPS
    ops = ("append", "read_after_write", "last", "backfill", "compact") if workload == "ingest" else OPS
    for r in detail["rounds"]:
        assert set(ops) <= set(r)  # every round holds the same mix of operations


@pytest.mark.parametrize("workload", ["retrieval", "ingest"])
def test_tiny_traced_run_emits_every_layer_metric(workload):
    res = _result(_run("--workload", workload, "--seed", "6", "--seconds", "1",
                       "--trace", "1", "--scale", "tiny"))
    assert res["correct"]
    assert set(res["metrics"]) == set(bench.PER_LAYER)
    for name, unit in bench.PER_LAYER.items():
        assert res["metrics"][name]["unit"] == unit
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["exec.jobs"] > 0 and m["catalog.calls"] > 0
    if workload == "retrieval":
        assert m["core.load.build_s.load_wide"] > 0
        assert m["core.load.exec_s.load_wide"] > 0
        assert m["storage.open.misses"] == 0  # read-only: the memo always hits
    else:
        assert m["storage.open.misses"] > 0
        assert m["storage.write.files"] > 0


def test_without_the_package_the_run_fails_without_a_result(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = _run("--workload", "retrieval", "--seed", "1", "--seconds", "1",
                cwd=str(tmp_path))
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_check_rejects_a_value_off_by_one():
    spec = sg.StoreSpec(seed=0, deep_step_s=86_400 // 4, n_shallow=4)
    model = spec.model()
    lo, hi = pd.Timestamp("2023-03-01"), pd.Timestamp("2023-03-31")
    want = model.wide(spec.stored, lo, hi)
    assert_frame(want.copy(), want, "unchanged")
    bad = want.copy()
    bad.loc[7, spec.stored[3]] += 1
    with pytest.raises(CheckFailed):
        assert_frame(bad, want, "perturbed")
    short = want.iloc[:-1]
    with pytest.raises(CheckFailed):
        assert_frame(short, want, "row missing")
    last = model.last(spec.stored)
    assert_values(dict(last), last, "unchanged")
    off = dict(last)
    off[sg.DEEP] += 1
    with pytest.raises(CheckFailed):
        assert_values(off, last, "perturbed")


def test_model_versions():
    """Every 10th deep point is corrected; time travel sees the forecast."""
    spec = sg.StoreSpec(seed=3, deep_step_s=3600, n_shallow=1)
    s = spec.model().series[sg.DEEP]
    changed = np.flatnonzero(s.latest != s.forecast)
    assert len(changed) == -(-spec.n_deep // 10)
    assert (changed % 10 == 0).all()
    np.testing.assert_array_equal(s.latest[changed] - s.forecast[changed], 0.5)


def test_store_cache_key_covers_the_package_sources(tmp_path, monkeypatch):
    """A store written by other package code is never restored."""
    pkg = tmp_path / "bytehub_spark"
    pkg.mkdir()
    (pkg / "storage.py").write_text("LAYOUT = 1\n")
    monkeypatch.setattr(sg, "ROOT", str(tmp_path))
    spec = sg.StoreSpec(seed=0)
    work = str(tmp_path / ".perfbench" / "work")
    before = sg._cache_dir(spec, work)
    assert sg._cache_dir(spec, work) == before
    (pkg / "storage.py").write_text("LAYOUT = 2\n")
    assert sg._cache_dir(spec, work) != before
