"""Scaling evidence: the same job at N and 4N cores.

North rule (BASELINE.json): "throughput scaling efficiency >= 0.8 between
N- and 4N-executor clusters", evidenced on one machine as two
parallelism levels over the SAME materialized input.

A job is ``pipeline`` (``run_pipeline`` end to end, its docs and
lineage frames drained into ``noop`` sinks; its rule metrics are
collected inside the run) or the name of one pipeline stage
(``dq.pipeline.STAGES``, or ``scrub``). A stage job times the real stage
function alone: its input, the output of the stages before it, is
cached and materialized before the clock starts, so one badly-scaling
stage cannot hide inside the end-to-end number.

Measurement protocol (each detail exists because the naive version was
measured to lie):
- **CPU affinity pins the whole process tree** (`taskset -c 0-(N-1)`).
  ``local[N]`` alone only caps Spark *task* threads — pandas-UDF worker
  processes run beside them, so an un-pinned "8-core" run actually
  consumes ~2-3x that many cores and the comparison flatters N.
- **Fresh JVM per level** (subprocess), **every job warmed up first**
  on a 10% sample (first execution of a plan pays JIT/codegen/python-
  worker spin-up that is amortized to nothing at production scale:
  measured 201 s cold vs 12 s warm for one stage at 32 threads), then
  best-of-``reps``.
- **Levels interleaved A/B per rep pair** so slow drift of the shared
  host (CPU steal varies over minutes) cancels instead of biasing one
  side; the per-pair efficiencies are the same-minute observations.

Prints one JSON line, with the host's own single-core probe and N->4N
parallel ceiling beside the job times.

Usage: python scripts/scaling_bench.py [n_docs] [N] [reps] [jobs]
(N defaults to nproc // 4, so 4N is the whole machine; jobs is a
comma-separated list, default ``pipeline``)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bench import host_parallel_ceiling, host_probe  # noqa: E402
from dq.pipeline import STAGES  # noqa: E402

NPROC = len(os.sched_getaffinity(0))
N_DOCS = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
N_LOW = int(sys.argv[2]) if len(sys.argv) > 2 else max(1, NPROC // 4)
REPS = int(sys.argv[3]) if len(sys.argv) > 3 else 4
JOBS = sys.argv[4].split(",") if len(sys.argv) > 4 else ["pipeline"]
N_HIGH = N_LOW * 4
# input must be big enough that parallel work dwarfs per-job fixed cost
# (driver orchestration, stage scheduling): at 200k docs those ~8 s of
# serial overhead cap measurable speedup at ~1.5x regardless of engine
PAGES = f"/tmp/dq_scaling_pages_{N_DOCS}"

CHILD = r"""
import datetime as dt, json, sys, time
from pyspark.storagelevel import StorageLevel
from dq.pipeline import STAGES, PipelineConfig, run_pipeline, score_pages, scrub
from dq.session import get_spark

cores, pages_path, jobs = int(sys.argv[1]), sys.argv[2], sys.argv[3].split(",")
spark = get_spark("scale", master=f"local[{cores}]",
                  shuffle_partitions=max(cores, 8))
cfg = PipelineConfig()
steps = {**STAGES, "scrub": lambda spark, df, cfg: scrub(df)}
order = list(steps)


def drain(df):
    df.write.format("noop").mode("overwrite").save()


def run(job, pages):
    if job == "pipeline":
        t0 = time.time()
        out = run_pipeline(spark, pages, job, dt.datetime(2025, 10, 3),
                           store=None, resume=False, cfg=cfg)
        for frame in ("docs", "lineage"):
            drain(out[frame])
        sec = time.time() - t0
        out["scored"].unpersist()
        return sec
    before = score_pages(spark, pages, cfg, skip=order[order.index(job):])
    before = before.persist(StorageLevel.MEMORY_AND_DISK)
    drain(before)
    t0 = time.time()
    drain(steps[job](spark, before, cfg))
    sec = time.time() - t0
    before.unpersist()
    return sec


pages = spark.read.parquet(pages_path)
for job in jobs:
    run(job, pages.sample(0.1, seed=1))
print("READY", flush=True)
for line in sys.stdin:                   # the parent interleaves levels
    job = line.strip()
    if job == "quit":
        break
    print("RESULT " + json.dumps({"sec": run(job, pages)}), flush=True)
spark.stop()
"""


def materialize() -> None:
    """Write the input once (4 files per core, so 4N runs in waves), in
    a throwaway JVM using the whole box."""
    code = ("from bench import materialize_pages\n"
            "from dq.session import get_spark\n"
            f"spark = get_spark('gen', master='local[{NPROC}]')\n"
            f"materialize_pages(spark, {N_DOCS}, {4 * NPROC}, {PAGES!r})\n"
            "spark.stop()\n")
    subprocess.run([sys.executable, "-c", code], check=True, cwd=ROOT,
                   timeout=1800)


class Level:
    """A pinned, warmed, long-lived child that runs jobs on demand."""

    def __init__(self, cores: int):
        self.cores = cores
        self.proc = subprocess.Popen(
            ["taskset", "-c", f"0-{cores - 1}", sys.executable, "-c", CHILD,
             str(cores), PAGES, ",".join(JOBS)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
            bufsize=1, cwd=ROOT)

    def read(self, tag: str) -> str:
        while True:
            line = self.proc.stdout.readline()
            if not line:
                raise SystemExit(f"child {self.cores} died")
            if line.startswith(tag):
                return line[len(tag):]

    def run(self, job: str) -> float:
        self.proc.stdin.write(job + "\n")
        self.proc.stdin.flush()
        return json.loads(self.read("RESULT "))["sec"]

    def stop(self):
        try:
            self.proc.stdin.write("quit\n")
            self.proc.stdin.flush()
            self.proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            self.proc.kill()


def main() -> None:
    unknown = set(JOBS) - {"pipeline", "scrub", *STAGES}
    if unknown:
        raise SystemExit(f"unknown jobs: {sorted(unknown)}")
    materialize()
    probe_before = host_probe()
    low, high = Level(N_LOW), Level(N_HIGH)
    for level in (low, high):            # both warm up at once
        level.read("READY")
    times = {j: {N_LOW: [], N_HIGH: []} for j in JOBS}
    for _rep in range(REPS):             # interleaved A/B pairs
        for j in JOBS:
            times[j][N_LOW].append(low.run(j))
            times[j][N_HIGH].append(high.run(j))
    low.stop()
    high.stop()
    ratio = N_HIGH / N_LOW
    jobs = {}
    for j, t in times.items():
        tl, th = min(t[N_LOW]), min(t[N_HIGH])
        pairs = [round((a / b) / ratio, 3)
                 for a, b in zip(t[N_LOW], t[N_HIGH])]
        jobs[j] = {"low_sec": round(tl, 2), "high_sec": round(th, 2),
                   "efficiency": round((tl / th) / ratio, 3),
                   "pair_efficiencies": pairs,
                   "best_pair_efficiency": max(pairs)}
        sys.stderr.write(f"{j}: {t}\n")
    print(json.dumps({
        "n_docs": N_DOCS, "low_cores": N_LOW, "high_cores": N_HIGH,
        "jobs": jobs,
        "host_cpu_ceiling": host_parallel_ceiling(N_HIGH, N_LOW),
        "probe_before_sec": probe_before,
        "probe_after_sec": host_probe(),
    }))


if __name__ == "__main__":
    main()
