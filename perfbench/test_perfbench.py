"""Tests of the benchmark itself.

    python -m pytest perfbench -q                    # fast checks
    PERFBENCH_E2E=1 python -m pytest perfbench -q    # also runs every workload

The end-to-end test runs each workload once untraced and once traced
with ``--seconds 1`` (a few minutes on 4 cores) and checks that the
emitted metric names and units are exactly those of BENCHMARK.json.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import gen
from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def test_workload_names_match_benchmark_json():
    names = [w["name"] for w in SPEC["workloads"]]
    assert sorted(names) == sorted(WORKLOADS)
    assert sorted(names) == sorted(gen.SIZES)


def _twice(tmp_path, write, **kw):
    a = write(str(tmp_path / "a"), **kw)
    b = write(str(tmp_path / "b"), **kw)
    return a, b


def test_fixed_seed_gives_identical_ingest_files(tmp_path):
    a, b = _twice(tmp_path, gen.write_ingest_files, seed=5, n_files=2, events_per_file=20_000)
    assert a["checksum"] == b["checksum"] and a["n_events"] == b["n_events"] == 40_000
    assert gen._files_sha256(str(tmp_path / "a")) == gen._files_sha256(str(tmp_path / "b"))
    other = gen.write_ingest_files(str(tmp_path / "c"), seed=6, n_files=2, events_per_file=20_000)
    assert other["checksum"] != a["checksum"]


def test_fixed_seed_gives_identical_event_table(tmp_path):
    a, b = _twice(tmp_path, gen.write_event_table, seed=5, n_events=50_000)
    assert a["checksum"] == b["checksum"]
    assert (a["corr_ref"] == b["corr_ref"]).all()
    assert gen._files_sha256(str(tmp_path / "a")) == gen._files_sha256(str(tmp_path / "b"))
    # every event is inside the correction grid
    assert int(a["corr_ref"].sum()) == 50_000


def test_fixed_seed_gives_identical_query_tables(tmp_path):
    a, b = _twice(tmp_path, gen.write_query_tables, seed=5, scale=0.001)
    assert a["rows"] == b["rows"]
    assert gen._files_sha256(str(tmp_path / "a")) == gen._files_sha256(str(tmp_path / "b"))


def test_fixed_seed_gives_identical_workload_inputs(tmp_path, monkeypatch):
    """Each workload's whole input set, as a run generates it, depends
    on the seed alone."""
    monkeypatch.setitem(gen.SIZES, "event_pipeline", {
        "ingest": {"n_files": 2, "events_per_file": 20_000},
        "table": {"n_events": 50_000},
    })
    monkeypatch.setitem(gen.SIZES, "query_mix", {"scale": 0.001})
    for workload in gen.SIZES:
        dir_a, dir_b = str(tmp_path / workload / "a"), str(tmp_path / workload / "b")
        a = gen._generate(workload, dir_a, 5)
        b = gen._generate(workload, dir_b, 5)
        assert json.dumps(a) == json.dumps(b).replace(dir_b, dir_a)
        assert gen._files_sha256(dir_a) == gen._files_sha256(dir_b)


def test_generated_events_stay_inside_analysis_grid(tmp_path):
    info = gen.write_event_table(str(tmp_path), seed=9, n_events=50_000)
    import pyarrow.parquet as pq

    t = pq.read_table(info["path"])
    kx, ky, e = gen.calibrate_np(*(t.column(c).to_numpy() for c in ("X", "Y", "t")))
    for col, (name, _, lo, hi) in zip((kx, ky, e), gen.K_GRID):
        assert col.min() - gen.JITTER[name] >= lo and col.max() + gen.JITTER[name] < hi


def test_refuses_to_run_without_the_engine(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark,
    the command exits non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"),
        tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    proc = subprocess.run(
        [*SPEC["command"], "--workload", "query_mix", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


@pytest.mark.skipif(os.environ.get("PERFBENCH_E2E") != "1", reason="set PERFBENCH_E2E=1")
@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_emitted_metrics_match_benchmark_json(workload, trace):
    proc = subprocess.run(
        [*SPEC["command"], "--workload", workload, "--seed", "3", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert sorted(result) == ["attempted", "correct", "failed", "metrics"]
    assert result["correct"] is True and result["failed"] == 0
    declared = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in declared
    }
