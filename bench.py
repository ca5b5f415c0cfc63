#!/usr/bin/env python
"""Benchmark: headline queries + the end-to-end quality-filter pipeline.

Runs every catalog query from ``dq.queries`` against
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]``, then the north-rule pipeline
(heuristics + langid + perplexity + dedup + scrub + lineage/metrics)
over a deterministic synthetic ``webpages`` corpus (BASELINE.json
input_hint shape; generation is materialized to parquet first so the
measurement is the pipeline, not the generator).

Prints ONE JSON line:
  {"metric": ..., "value": <total suite seconds>, "unit": "sec",
   "queries": {name: sec, ..., "pipeline": sec}, "sf": ...,
   "pipeline_docs": N, "pipeline_docs_per_sec": ...}

Scaling evidence (north rule: ≥0.8 efficiency from N to 4N executors,
evidenced in-sandbox as two parallelism levels) is produced by
``scripts/scaling_bench.py`` and recorded in BENCH.md.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from dq.pipeline import run_pipeline  # noqa: E402
from dq.queries import QUERIES  # noqa: E402
from dq.session import catalog_session, get_spark  # noqa: E402
from dq.synth import webpages  # noqa: E402

PIPELINE_DOCS = int(os.environ.get("DQ_BENCH_DOCS", "100000"))
PAGES_PATH = os.environ.get("DQ_BENCH_PAGES", "/tmp/dq_bench_pages")


def host_probe() -> float:
    """Single-core pure-CPU probe (seconds for a fixed register-only
    loop). The sandbox host's effective clock swings ~2-6x under
    sustained load; recording the probe beside every bench run is what
    lets a regression be told from host weather (round-2's recorded
    53.6s-vs-remeasured-11.45s pipeline discrepancy was pure weather
    and cost a review cycle)."""
    t0 = time.time()
    s = 0
    for i in range(20_000_000):
        s += i * i
    return round(time.time() - t0, 2)


def host_parallel_ceiling(high: int, low: int = 1) -> float:
    """Aggregate pure-CPU loop throughput at ``high`` pinned processes
    relative to ``low`` — the host's own parallel-compute ceiling (the
    VM lowers per-core clock under multi-core load, so no workload can
    scale at 1.0 here; this is the denominator for judging engine
    scaling). Returns parallel efficiency in [0, 1]."""
    import subprocess
    burn = ("import time\n"
            "t0 = time.time(); n = 0\n"
            "while time.time() - t0 < 4:\n"
            "    x = 0\n"
            "    for i in range(10**6):\n"
            "        x += i * i\n"
            "    n += 1\n"
            "print(n)\n")

    def aggregate(k: int) -> int:
        procs = [subprocess.Popen(
            ["taskset", "-c", str(c % os.cpu_count()), "python", "-c", burn],
            stdout=subprocess.PIPE, text=True) for c in range(k)]
        return sum(int(p.communicate()[0].strip()) for p in procs)

    many = aggregate(high)               # hot first: leaves the box in
    few = aggregate(low)                 # the same throttled state
    return round((many / few) / (high / low), 3) if few else 0.0


def materialize_pages(spark, n: int, parallelism: int,
                      path: str = PAGES_PATH) -> None:
    """Write ``n`` synthetic webpages as ``parallelism`` parquet files
    at ``path`` once; later calls with the same shape reuse them."""
    marker = os.path.join(path, "_N")
    want = f"{n}:{parallelism}"
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read().strip() == want:
                return
        shutil.rmtree(path, ignore_errors=True)
    webpages(spark, n, num_partitions=parallelism) \
        .write.mode("overwrite").parquet(path)
    with open(marker, "w") as f:
        f.write(want)


def bench_pipeline(spark, reps: int = int(os.environ.get("DQ_BENCH_REPS", "2"))
                   ) -> float:
    """Best of ``reps`` (first run pays page-cache/JIT warmup)."""
    best = float("inf")
    for rep in range(reps):
        pages = spark.read.parquet(PAGES_PATH)
        t0 = time.time()
        out = run_pipeline(spark, pages, f"bench-{rep}-{t0:.0f}",
                           dt.datetime(2025, 10, 3), store=None, resume=False)
        for frame in ("docs", "lineage"):
            out[frame].write.format("noop").mode("overwrite").save()
        best = min(best, time.time() - t0)
        out["scored"].unpersist()
    return best


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    probe_before = host_probe()
    spark = get_spark("bench", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    from dq.queries import ensure_dq_shipped
    ensure_dq_shipped(spark)    # workers need dq importable from any cwd

    # best-of-reps per query (same protocol as the pipeline below): on
    # the shared VM a single sample conflates plan cost with host
    # weather — rep 1 additionally pays JVM/UDF warmup. Cold first-run
    # totals are still visible in cold_total_sec.
    query_reps = int(os.environ.get("DQ_BENCH_QUERY_REPS", "2"))
    timings: dict[str, float] = {}
    cold_total = 0.0
    total = 0.0
    # reference usage pattern for hosts embedding the catalog: actions
    # run inside catalog_session so the catalog's ansi/TZ pins are
    # restored afterwards (no-op for this throwaway session, but the
    # shape callers should copy)
    with catalog_session(spark):
        for name, fn in QUERIES.items():
            best = float("inf")
            for rep in range(query_reps):
                t0 = time.time()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                dt_s = time.time() - t0
                if rep == 0:
                    cold_total += dt_s
                best = min(best, dt_s)
            timings[name] = round(best, 3)
            total += timings[name]

    # multi-wave input layout once the corpus is big enough to amortize
    # per-partition Arrow-batch overhead (~8k docs/partition floor):
    # 1 task-wave inputs are straggler-gated the moment a co-tenant
    # steals a core, and a 100 TB input is never 1 file per core —
    # measured 11.5 -> 10.0 s on the 1M-doc pipeline at local[32]
    waves = max(1, min(4, PIPELINE_DOCS // (8000 * cpus)))
    materialize_pages(spark, PIPELINE_DOCS, cpus * waves)
    pipe_sec = bench_pipeline(spark)
    timings["pipeline"] = round(pipe_sec, 3)
    total += pipe_sec

    spark.stop()
    probe_after = host_probe()
    ceiling = host_parallel_ceiling(cpus)
    print(json.dumps({
        "metric": ("catalog queries + end-to-end quality-filter pipeline "
                   "(langid+perplexity+rules+dedup+scrub) wall seconds"),
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        # the suite grows round-over-round — compare totals only at
        # equal n_queries (includes the pipeline entry)
        "n_queries": len(timings),
        "query_reps": query_reps,
        "cold_total_sec": round(cold_total, 3),
        "sf": sf,
        "pipeline_docs": PIPELINE_DOCS,
        "pipeline_docs_per_sec": round(PIPELINE_DOCS / pipe_sec, 1),
        # host context: single-core probe seconds before/after (cool box
        # ~1.3-1.6s; throttled 3-4.6s) and the host's own parallel
        # efficiency at this core count — read the wall seconds above
        # relative to these, not in absolute terms
        "probe_before_sec": probe_before,
        "probe_after_sec": probe_after,
        "host_parallel_ceiling": ceiling,
    }))


if __name__ == "__main__":
    main()
