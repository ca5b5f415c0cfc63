"""Smoke test of the benchmark at tiny size (2k docs, 4 catalog queries):
every metric BENCHMARK.json names prints with its unit, the outputs pass
their checks, and the layers each workload runs report non-zero values.

    python3 -m pytest perfbench/test_smoke.py -q

Takes a few minutes: each case starts its own Spark JVM.
"""

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))

# per-layer metrics that must be non-zero on each workload's smoke run
RUNS_LAYERS = {
    "filter_full": ("pipeline.", "scan.", "arrow.", "models.", "audit.",
                    "heuristics.drain_s", "scrub.docs_per_s",
                    "dedup.shuffle_mb", "dedup.keeper_rows",
                    "checkpoint.mark_done_s", "process.cpu_s",
                    "trace.cover_frac"),
    "catalog_suite": ("catalog.simhash_pairs_s", "catalog.test_type_stats_s",
                      "catalog.embedding_ivf_topk_s", "catalog.dedup_s",
                      "catalog.ivf_s", "catalog.rules_scoring_s",
                      "catalog.doc_token_stats_s", "catalog.textstats_s",
                      "catalog.embedding_ivf_topk_jobs", "process.cpu_s",
                      "trace.cover_frac"),
}


def run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_metric_prints_with_its_unit(workload, trace):
    res = run(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    wanted = SPEC["per_layer" if trace else "end_to_end"]
    assert {n: m["unit"] for n, m in res["metrics"].items()} == \
        {m["name"]: m["unit"] for m in wanted}
    if trace:
        for name, m in res["metrics"].items():
            if name.startswith(RUNS_LAYERS[workload]):
                assert m["value"] != 0, name
    else:
        assert all(m["value"] > 0 for m in res["metrics"].values())


def test_bare_directory_fails(tmp_path):
    """With only BENCHMARK.json and perfbench/, the run exits non-zero
    without printing a result."""
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "filter_full",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
