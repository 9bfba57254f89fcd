"""Smoke test of the benchmark itself, at a few hundred docs per workload.

    python -m pytest perfbench/test_smoke.py -q

Each case starts its own Spark session through `perfbench/run.py`, so the
whole file takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]
WORKLOADS = ("kg_build", "shard_ingest")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _left_over(cwd: str) -> list[int]:
    """Live processes whose command line or environment names the run's
    scratch directory: the JVM, the Python daemon and its workers."""
    mark = os.path.join(cwd, ".perfbench_work").encode()
    found = []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) == os.getpid():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                if f.read().rsplit(")", 1)[1].split()[0] in ("Z", "X"):
                    continue
            with open(f"/proc/{name}/cmdline", "rb") as f, open(f"/proc/{name}/environ", "rb") as g:
                if mark in f.read() or mark in g.read():
                    found.append(int(name))
        except OSError:  # the process ended, or is not ours to read
            continue
    return found


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", "--seed", "3", "--seconds", "1", "--scale", "0.03"]
    proc = subprocess.run(cmd + list(args), cwd=cwd, capture_output=True, text=True, timeout=600)
    assert _left_over(cwd) == [], "the run left processes behind"
    return proc


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_workloads_match_spec():
    from run import END_TO_END, per_layer_catalogue
    from workloads import WORKLOADS as IMPLEMENTED

    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == sorted(IMPLEMENTED) == list(WORKLOADS)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == [
        (n, u) for n, u, _moves in per_layer_catalogue()
    ]


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", ("0", "1"))
def test_every_metric_printed_and_correct(workload, trace):
    proc = _run(ROOT, "--workload", workload, "--trace", trace)
    res = _result(proc)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    spec = _spec()["end_to_end" if trace == "0" else "per_layer"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {m["name"]: m["unit"] for m in spec}
    assert all(isinstance(v["value"], (int, float)) for v in res["metrics"].values())
    table = proc.stdout
    if trace == "0":
        assert all(res["metrics"][m["name"]]["value"] > 0 for m in spec)
        line = next(ln for ln in table.splitlines() if ln.startswith("failed_ops_ratio"))
        assert float(line.split()[1]) == 0.0 and line.split()[2] == "ratio"
    else:
        assert "trace.coverage" in table
        m = {k: v["value"] for k, v in res["metrics"].items()}
        if workload == "shard_ingest":
            for row in ("curate.gate_s", "dedup.exact_s", "dedup.intra_clusters_s",
                        "dedup.probe_s", "dedup.index_build_s", "ingest.write_shard_state_s"):
                assert m[row] > 0, row
            assert m["dedup.hot_buckets_pruned"] > 0
            assert m["dedup.intra_dups"] > 0
        else:
            assert m["tables.write_run_triples_s"] > 0 and m["graph.ego_1hop_s"] > 0


def test_wrong_expectation_is_a_failed_op_not_a_crash():
    res = _result(_run(ROOT, "--workload", "kg_build", "--trace", "0", "--check-offset", "1"))
    assert res["correct"] is False
    assert res["failed"] == res["attempted"] >= 1


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(str(tmp_path), "--workload", "kg_build", "--trace", "0")
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
