"""Tests of the benchmark itself (not of the engine).

    python3 -m pytest cdcbench -q

The traced smoke run starts Spark and takes a few minutes.
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import subprocess
import sys

import pytest

import bench_gen
import run

BENCHMARK = json.load(open(os.path.join(run.REPO, "BENCHMARK.json")))
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}\Z")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}\Z")

TINY = {
    "nosql_upsert": {"keys": 2_000, "batch_rows": 200, "reads_per_batch": 2,
                     "ticks_per_s": 2.0, "warmup": 1},
    # a warm-up cycle and 2 timed cycles of 5 appends (a traced run
    # halves sync_every) cross a fileset-log compaction (and its prune)
    "sql_append_replica": {"base_rows": 1_000, "batch_rows": 200,
                           "sync_every": 10, "cycles_per_s": 1.0, "warmup": 1,
                           "warmup_appends": 5},
}
GEN_TINY = {name: {**sizes, "batches": 3} for name, sizes in TINY.items()}


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


@pytest.mark.parametrize("workload", sorted(GEN_TINY))
def test_generator_is_deterministic(tmp_path, workload):
    """Same seed, same bytes, also through the command line a run uses."""
    sizes = GEN_TINY[workload]
    bench_gen.generate(str(tmp_path / "a"), workload, 7, sizes)
    subprocess.run([sys.executable, bench_gen.__file__, str(tmp_path / "b"),
                    workload, "7", json.dumps(sizes)], check=True)
    bench_gen.generate(str(tmp_path / "c"), workload, 8, sizes)
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _same_tree(str(tmp_path / "a"), str(tmp_path / "c"))


def test_metric_names_and_units():
    metrics = BENCHMARK["end_to_end"] + BENCHMARK["per_layer"]
    names = [m["name"] for m in metrics]
    assert len(names) == len(set(names))
    for m in metrics:
        assert NAME.match(m["name"]), m["name"]
        assert UNIT.match(m["unit"]), m["unit"]
        assert m["better"] in ("lower", "higher")
    for w in BENCHMARK["workloads"]:
        assert NAME.match(w["name"]) and w["name"] in run.WORKLOAD_NAMES


@pytest.fixture(scope="module")
def smoke_runs():
    """One short traced run of every workload BENCHMARK.json lists."""
    return {w["name"]: run.run(w["name"], seed=3, seconds=1, trace=True,
                               sizes=TINY[w["name"]])
            for w in BENCHMARK["workloads"]}


def test_smoke_runs_pass_their_gates(smoke_runs):
    for name, out in smoke_runs.items():
        res = out["result"]
        assert res["correct"] and res["failed"] == 0, (name, out["failures"])
        assert res["attempted"] > 0


def test_smoke_runs_print_exactly_the_listed_metrics(smoke_runs):
    e2e = {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]}
    for out in smoke_runs.values():
        assert {k: v[1] for k, v in out["end_to_end"].items()} == e2e
        got = out["result"]["metrics"]
        assert {k: m["unit"] for k, m in got.items()} == layers
        assert all(v[0] > 0 for v in out["end_to_end"].values())


def test_every_wrapper_saw_calls(smoke_runs):
    """A refactor that stops going through a wrapped public function
    must fail here instead of reading zero in the traced run."""
    calls: dict[str, int] = {}
    for out in smoke_runs.values():
        for name, n in out["tracer"].calls.items():
            calls[name] = calls.get(name, 0) + n
    assert calls and not [name for name, n in calls.items() if n == 0]


def test_commit_path_layers_are_attributed(smoke_runs):
    sql = smoke_runs["sql_append_replica"]["result"]["metrics"]
    assert sql["fileset.append_batch.calls"]["value"] > 0
    assert sql["fsio.calls"]["value"] > 0
    assert sql["cdf.stream_sync_changes.jobs"]["value"] > 0
    nosql = smoke_runs["nosql_upsert"]["result"]["metrics"]
    assert nosql["apply.apply_changes.jobs"]["value"] > 0
    assert nosql["apply.read_warehouse.jobs"]["value"] > 0
