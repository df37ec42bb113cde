"""Tests of the benchmark itself. Run from the repository root:

    python3 -m pytest perfbench/tests -q

The smoke runs start a Spark session per workload (about a minute
each on four cores)."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, metrics  # noqa: E402
from perfbench.run import WORKLOADS  # noqa: E402


def _inputs_digest(seed: int, out: str) -> str:
    etl = gen.etl_inputs(seed, f"{out}/etl", rows_per_batch=200)
    shard = gen.corpus_shard(seed, f"{out}/corpus", 1992, 100)
    model = gen.CorpusModel(seed, f"{out}/cdc", 50)
    epochs = [model.epoch(i, 8) for i in range(3)]
    digest = gen.file_digest(
        etl.paths() + [shard.path, model.initial_path]
        + [e.path for e in epochs])
    return json.dumps([digest, etl.order, shard.families,
                       shard.exact_groups, model.read_ids(2, 4)])


def test_generator_is_deterministic_per_seed(tmp_path):
    a = _inputs_digest(7, str(tmp_path / "a"))
    b = _inputs_digest(7, str(tmp_path / "b"))
    c = _inputs_digest(8, str(tmp_path / "c"))
    assert a == b
    assert a != c


def test_cdc_model_tracks_the_change_stream(tmp_path):
    model = gen.CorpusModel(5, str(tmp_path), 40)
    live = set(model.live)
    ep = model.epoch(0, 10)
    assert set(ep.deleted) <= live and set(ep.updated) <= live
    assert not set(ep.inserted) & live
    assert set(model.live) == (live - set(ep.deleted)) | set(ep.inserted)


def test_benchmark_json_matches_emitted_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"])
            for m in spec["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == \
        metrics.per_layer()
    assert all(m["better"] == metrics.better(m["name"])
               for m in spec["per_layer"])


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=600)


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(str(tmp_path), "--workload", WORKLOADS[0], "--seed", "1",
             "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


@pytest.mark.parametrize("workload,trace", [(w, 0) for w in WORKLOADS]
                         + [(WORKLOADS[-1], 1)])
def test_tiny_smoke_run_passes_its_checks(workload, trace):
    p = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
             "--trace", str(trace), "--scale", "tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["correct"] is True, p.stdout[-3000:]
    assert out["failed"] == 0 and out["attempted"] >= 1
    want = metrics.per_layer() if trace else {
        n: u for n, (u, _) in metrics.END_TO_END.items()}
    assert {n: m["unit"] for n, m in out["metrics"].items()} == want
    if not trace:
        assert all(m["value"] > 0 for m in out["metrics"].values())
