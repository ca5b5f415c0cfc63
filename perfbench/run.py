"""spark-dq benchmark: one workload per invocation, closed loop, one client.

    python3 perfbench/run.py --workload filter_full --seed 42 \\
        --seconds 5 --trace 0

Workloads (see BENCHMARK.json for why each was chosen):

- ``filter_full``: ``run_pipeline`` with a real ``AuditStore`` over a
  seeded ``dq.synth.webpages`` corpus (perfbench/filter_workload.py);
- ``catalog_suite``: a pass over the catalog queries that run the
  near-dup, ANN, multimodal, contamination, textstats and check-contract
  layers (perfbench/catalog_workload.py).

A run launches one JVM and sets up Spark on ``local[nproc]`` in it four
times; ``setup_s`` is the median of the last three, and the first (which
also loads Spark's classes) is kept in the context. It then builds or
reuses its input, warms up, then repeats the operation until
``--seconds`` have been measured (and the catalog pass at least
``CATALOG_PASSES`` times), collecting garbage in Python and in the
driver JVM before each. ``wall_s`` is the median operation; for the
catalog it is the sum of each query's fastest time over the measured
passes. Every measured
operation's output is checked outside its timed span. With ``--trace 0``
the end-to-end metrics are printed; with ``--trace 1`` the same untraced
operations run, then one traced operation gives the per-layer metrics.
The last line of standard output is the JSON result; the line before it
holds the host context. The benchmark's own files (inputs, caches, audit
stores, Spark's scratch space) go under ``.perfbench_work/`` in the
checkout; ``dq`` itself keeps its shipped zip and its persisted ANN
indexes where it always does.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("filter_full", "catalog_suite")
N_SETUPS = 4          # the first loads Spark's classes; setup_s is the
                      # median of the others (one takes ~0.3 s, and
                      # stopping the session before it another ~0.3 s)
# On 4 vCPUs a warm run_pipeline call takes ~6.7 s at 20k docs, ~9 s at
# 80k and ~14 s at 160k: at 20k the per-job and per-file costs dominate.
# At 60k, running each per-doc Python UDF twice adds ~17% to wall_s;
# larger inputs do not fit the benchmark's run budget.
FILTER_DOCS = 60_000
SMOKE_DOCS = 2_000
HEAP = "2g"
# measured catalog passes: host load that slows one query for a few
# seconds in one pass (up to +50% on dedup_clusters) then does not count
CATALOG_PASSES = 2


def isolate() -> dict[str, str]:
    """Keep the files Spark, the JVMs and Python write for the run (local
    files, temp files, bytecode) inside the checkout; return the Spark
    conf."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    sys.dont_write_bytecode = True
    # JVMs write their perf-counter file to /tmp whatever java.io.tmpdir
    # says; this reaches the launcher JVM that spark-submit starts too
    os.environ.update({"TMPDIR": tmp, "SPARK_LOCAL_DIRS": tmp,
                       "PYTHONDONTWRITEBYTECODE": "1",
                       "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData"})
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return {
        "spark.driver.memory": HEAP,
        # a fixed-size heap, so the JVM's PSS does not depend on when the
        # collector chose to grow it
        "spark.driver.extraJavaOptions":
            f"-XX:+UseParallelGC -Xms{HEAP} -Djava.io.tmpdir={tmp}",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def setup(conf: dict[str, str], nproc: int
          ) -> tuple[object, float, list[float]]:
    """Start the JVM once, then set up ``N_SETUPS`` times: start a Spark
    application, import ``dq`` afresh (which trains the langid and LM
    tables) and ship it to the workers. Returns the last session, the
    JVM launch time and every set-up time."""
    from pyspark import SparkConf, SparkContext

    t0 = time.perf_counter()
    SparkContext._ensure_initialized(conf=SparkConf().setAll(conf.items()))
    launch_s = time.perf_counter() - t0
    times, spark = [], None
    for i in range(N_SETUPS):
        if spark is not None:
            spark.stop()
        for mod in [m for m in sys.modules if m == "dq" or
                    m.startswith("dq.")]:
            del sys.modules[mod]
        t0 = time.perf_counter()
        from dq.session import get_spark

        spark = get_spark("perfbench", master=f"local[{nproc}]",
                          shuffle_partitions=nproc, extra_conf=conf)
        import dq.pipeline  # noqa: F401
        import dq.queries

        dq.queries.ensure_dq_shipped(spark)
        times.append(time.perf_counter() - t0)
    return spark, launch_s, times


def teardown(spark) -> None:
    """Stop Spark and the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    gw.shutdown()
    gw.proc.stdin.close()
    gw.proc.wait(timeout=60)


def memory_bandwidth_gbs(nproc: int) -> float:
    """Aggregate copy bandwidth of ``nproc`` threads over 32 MB buffers
    (numpy releases the GIL while copying)."""
    from concurrent.futures import ThreadPoolExecutor

    import numpy as np

    bufs = [(np.ones(1 << 22), np.empty(1 << 22)) for _ in range(nproc)]

    def copy(pair):
        for _ in range(8):
            np.copyto(pair[1], pair[0])

    with ThreadPoolExecutor(nproc) as pool:
        list(pool.map(copy, bufs))                    # fault pages in
        t0 = time.perf_counter()
        list(pool.map(copy, bufs))
        dt = time.perf_counter() - t0
    return nproc * 8 * 2 * bufs[0][0].nbytes / dt / 1e9


def cpu_steal_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far, from /proc/stat: the
    share of time a virtual machine's CPUs were runnable but held by the
    hypervisor, which slows every layer at once."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def source_hash() -> str:
    """Hash of the code the checks depend on: ``dq``, ``scripts`` and
    ``tests`` (goldens included). Caches of check results and oracle
    outputs are keyed on it, so an edit to any of them, committed or not,
    invalidates them."""
    h = hashlib.sha256()
    for top in ("dq", "scripts", "tests"):
        for root, dirs, names in os.walk(os.path.join(ROOT, top)):
            dirs[:] = sorted(d for d in dirs if d != "__pycache__")
            for name in sorted(names):
                if name.endswith((".py", ".json")):
                    path = os.path.join(root, name)
                    with open(path, "rb") as f:
                        h.update(os.path.relpath(path, ROOT).encode())
                        h.update(f.read())
    return h.hexdigest()[:16]


def git_commit() -> str:
    """The checkout's commit, for the context line only ("" when the
    checkout is not a git work tree of its own)."""
    try:
        top = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"],
                             cwd=ROOT, capture_output=True, text=True,
                             check=True, timeout=10).stdout.split()
    except (OSError, subprocess.SubprocessError):
        return ""
    return top[1] if os.path.realpath(top[0]) == os.path.realpath(ROOT) \
        else ""


def collect_garbage(spark) -> None:
    """Full collection in Python and in the driver JVM, so that garbage
    left by the previous operation is not collected inside the next
    timed one."""
    import gc

    gc.collect()
    spark.sparkContext._jvm.java.lang.System.gc()


class Ops:
    """Measured operations of one run: wall, CPU and peak PSS of each,
    and how many were attempted and failed."""

    def __init__(self, jvm_pid: int, settle):
        self.jvm_pid = jvm_pid
        self.settle = settle
        self.walls: list[float] = []
        self.cpu: list[float] = []
        self.peak_mb = 0.0
        self.at_peak: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.phases: dict[str, float] = {}
        self.warmup: list[float] = []
        self.detail: dict[str, float] = {}
        self.wall_s: float | None = None      # when not the median wall
        self._t = time.perf_counter()

    def phase(self, name: str) -> None:
        """Close the current phase of the run under ``name``."""
        now = time.perf_counter()
        self.phases[name] = now - self._t
        self._t = now

    def record(self, problems: list[str], n_ops: int = 1,
               n_failed: int | None = None) -> None:
        self.attempted += n_ops
        self.failed += (min(len(problems), n_ops) if n_failed is None
                        else n_failed)
        self.problems += problems

    def measure(self, op, seconds: float, min_ops: int = 1) -> None:
        """Repeat ``op()`` until ``seconds`` have been measured (at least
        ``min_ops`` times), settling before each. ``op`` returns its wall seconds and a
        check to run after the sampler has stopped."""
        from perfbench.tracing import Sampler

        spent = 0.0
        while len(self.walls) < min_ops or spent < seconds:
            self.settle()
            with Sampler(self.jvm_pid) as s:
                wall, check = op()
            check()
            self.walls.append(wall)
            self.cpu.append(s.cpu_s)
            if s.peak > self.peak_mb:
                self.peak_mb, self.at_peak = s.peak, s.at_peak
            spent += wall


def run_filter(spark, args, nproc: int, ops: Ops, version: str
               ) -> dict[str, float]:
    from perfbench import filter_workload as fw

    n_docs = SMOKE_DOCS if args.smoke else FILTER_DOCS
    parts = nproc if args.smoke else 4 * nproc
    inp = fw.prepare(spark, WORK, args.seed, n_docs, parts, version)
    ops.phase("prepare")
    store_dir = os.path.join(WORK, "audit")
    counter = iter(range(1 << 30))

    def check():
        problems, digest = fw.check(inp, store_dir)
        ops.record(problems + fw.check_digest(inp, digest))

    def one():
        t0 = time.perf_counter()
        try:
            wall, out = fw.run_op(spark, inp, store_dir,
                                  f"bench-{next(counter)}")
        except Exception:  # noqa: BLE001 - a failed operation
            traceback.print_exc()
            return (time.perf_counter() - t0,
                    lambda: ops.record(["run_pipeline raised"]))
        out["scored"].unpersist()
        return wall, check

    # the first run in a fresh JVM pays ~20 s for class loading, JIT and
    # code generation, whatever the input size; the next, the one
    # measured, is still ~10% slower than settled, but a second warm-up
    # run does not fit the run budget
    ops.warmup = [one()[0]]
    ops.phase("warmup")
    ops.measure(one, args.seconds)
    ops.phase("measure")
    if not args.trace:
        return {}
    m, out, _ = fw.trace_metrics(spark, inp, store_dir, "traced",
                                 statistics.median(ops.walls))
    out["scored"].unpersist()
    problems, digest = fw.check(inp, store_dir)
    ops.record(problems + fw.check_digest(inp, digest))
    m.update(fw.scorer_metrics(spark, inp))
    shutil.rmtree(store_dir)
    return m


def run_catalog(spark, args, ops: Ops, version: str) -> dict[str, float]:
    from dq.session import catalog_session
    from perfbench import catalog_workload as cw

    cat = cw.prepare(WORK, args.smoke, version)
    ops.phase("prepare")
    with catalog_session(spark):
        # the first pass pays ~18 s over a settled one
        ops.warmup = [cw.run_pass(spark, cat)[0]]
        ops.record(cw.check_goldens(spark, cat, WORK, version),
                   n_ops=0, n_failed=0)
        ops.phase("warmup")

        passes = []

        def one():
            wall, per, problems = cw.run_pass(spark, cat)
            passes.append(per)
            return wall, lambda: record_pass(ops, problems)

        ops.measure(one, args.seconds, min_ops=CATALOG_PASSES)
        ops.detail = {n: min(p[n] for p in passes) for n in passes[0]}
        ops.wall_s = sum(ops.detail.values())
        ops.phase("measure")
        if not args.trace:
            return {}
        m, problems, _ = cw.trace_metrics(
            spark, cat, statistics.median(ops.walls), "traced")
    record_pass(ops, problems)
    return m


def record_pass(ops: Ops, problems: dict[str, list[str]]) -> None:
    """Each catalog query is one operation."""
    ops.record([p for ps in problems.values() for p in ps],
               n_ops=len(problems),
               n_failed=sum(bool(ps) for ps in problems.values()))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs and one warm-up, for the smoke test")
    args = ap.parse_args(argv)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(ROOT, "dq", "__init__.py")):
        print(f"no dq package under {ROOT}", file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    conf = isolate()
    nproc = len(os.sched_getaffinity(0))
    spark, jvm_launch_s, setup_times = setup(conf, nproc)
    version = source_hash()

    from pyspark import SparkContext

    context = {"workload": args.workload, "seed": args.seed, "nproc": nproc,
               "jvm_launch_s": jvm_launch_s, "setup_times_s": setup_times,
               "mem_bandwidth_gbs": memory_bandwidth_gbs(nproc),
               "source_hash": version, "git_commit": git_commit(),
               "spark_conf": dict(sorted(
                   spark.sparkContext.getConf().getAll()))}
    steal0 = cpu_steal_ticks()
    ops = Ops(SparkContext._gateway.proc.pid,
              lambda: collect_garbage(spark))
    ops.phases["setup"] = time.perf_counter() - T_START
    try:
        if args.workload == "filter_full":
            layer = run_filter(spark, args, nproc, ops, version)
        else:
            layer = run_catalog(spark, args, ops, version)
    finally:
        teardown(spark)
    steal1 = cpu_steal_ticks()
    context["cpu_steal_frac"] = ((steal1[0] - steal0[0]) /
                                 max(steal1[1] - steal0[1], 1))
    context["run_s"] = time.perf_counter() - T_START
    ops.phase("trace_and_teardown")
    context["phases_s"] = ops.phases
    context["warmup_walls_s"] = ops.warmup
    context["walls_s"] = ops.walls
    context["cpu_s"] = ops.cpu
    context["pss_at_peak_mb"] = ops.at_peak
    context["best_query_s"] = ops.detail
    context["problems"] = ops.problems[:20]

    if args.trace:
        values = dict(layer, **{"process.cpu_s": statistics.median(ops.cpu)})
    else:
        values = {"setup_s": statistics.median(setup_times[1:]),
                  "wall_s": (statistics.median(ops.walls)
                             if ops.wall_s is None else ops.wall_s),
                  "peak_mem_mb": ops.peak_mb}
    # layers a workload does not run read 0
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in wanted}
    unknown = set(values) - set(metrics)
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {unknown}")
    for name, v in metrics.items():
        print(f"{name} {v['value']} {v['unit']}")
    print(json.dumps({"context": context}, default=str))
    print(json.dumps({"correct": ops.failed == 0 and not ops.problems,
                      "attempted": ops.attempted, "failed": ops.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
