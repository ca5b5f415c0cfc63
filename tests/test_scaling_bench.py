"""The merged scaling harness runs end to end at tiny size: input
materialized once, two pinned and warmed children, the ``pipeline`` job
and one real stage job interleaved, and the JSON line it prints."""

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JOB_KEYS = {"low_sec", "high_sec", "efficiency", "pair_efficiencies",
            "best_pair_efficiency"}


@pytest.mark.skipif(len(os.sched_getaffinity(0)) < 4,
                    reason="4N = 4 pinned cores")
def test_scaling_bench_smoke():
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "scripts", "scaling_bench.py"),
         "2000", "1", "1", "pipeline,dedup"],
        capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"n_docs", "low_cores", "high_cores", "jobs",
                        "host_cpu_ceiling", "probe_before_sec",
                        "probe_after_sec"}
    assert (out["n_docs"], out["low_cores"], out["high_cores"]) == \
        (2000, 1, 4)
    assert set(out["jobs"]) == {"pipeline", "dedup"}
    for job in out["jobs"].values():
        assert set(job) == JOB_KEYS
        assert job["low_sec"] > 0 and job["high_sec"] > 0
        assert len(job["pair_efficiencies"]) == 1
