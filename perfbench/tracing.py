"""Outside-in tracing: spans around calls into dq's public functions, plus
the engine's own counters read after each action.

Nothing here changes what the program does. The spans come from a
subclass of ``dq.audit.AuditStore`` passed as ``store`` and from the
benchmark's own calls; the counters come from three places Spark keeps
anyway:

- the executed (post-AQE) plan of a persisted frame, whose nodes carry
  SQL metrics (``pythonTotalTime``, ``shuffleBytesWritten``,
  ``filesSize`` ...);
- the status store, which keeps per-stage task metrics (GC time, spill)
  for every job, tagged with the job group that was set when the job ran;
- the process tree of the Spark JVM, sampled from ``/proc`` for PSS and
  CPU time.
"""

from __future__ import annotations

import os
import threading
import time

from dq.audit import AuditStore

_CLK_TCK = os.sysconf("SC_CLK_TCK")


class Spans:
    """Named (start, end) intervals of one traced operation, each tagged
    with a Spark job group so its jobs can be counted afterwards."""

    def __init__(self, sc, prefix: str):
        self.sc = sc
        self.prefix = prefix
        self.items: list[tuple[str, float, float]] = []
        self.groups: list[str] = []

    def group(self, name: str) -> None:
        g = f"{self.prefix}.{name}"
        if g not in self.groups:
            self.groups.append(g)
        self.sc.setJobGroup(g, name)

    def run(self, name: str, fn, after: str):
        """Time ``fn()`` as span ``name``; jobs it starts go to group
        ``name``, later ones to group ``after``."""
        self.group(name)
        t0 = time.perf_counter()
        try:
            return fn()
        finally:
            self.items.append((name, t0, time.perf_counter()))
            self.group(after)

    def total(self, name: str) -> float:
        return sum(b - a for n, a, b in self.items if n == name)

    def jobs(self, name: str | None = None) -> list[int]:
        st = self.sc.statusTracker()
        groups = self.groups if name is None else [f"{self.prefix}.{name}"]
        return sorted(j for g in groups for j in st.getJobIdsForGroup(g))


class TimingStore(AuditStore):
    """An ``AuditStore`` that records a span per call: ``audit.<table>``
    for sink writes, ``checkpoint.read`` and ``checkpoint.mark_done`` for
    the checkpoint table. Work between calls is attributed to
    ``pipeline.score``."""

    def __init__(self, base_path: str, spans: Spans):
        super().__init__(base_path)
        self.spans = spans

    def read(self, spark, table):
        name = "checkpoint.read" if table == "checkpoint" else f"read.{table}"
        return self.spans.run(name, lambda: super(TimingStore, self)
                              .read(spark, table), "pipeline.score")

    def overwrite_partitions(self, table, df, keys=None):
        return self.spans.run(f"audit.{table}", lambda: super(
            TimingStore, self).overwrite_partitions(table, df, keys),
            "pipeline.score")

    def append(self, table, df):
        name = ("checkpoint.mark_done" if table == "checkpoint"
                else f"audit.{table}")
        return self.spans.run(name, lambda: super(TimingStore, self)
                              .append(table, df), "pipeline.score")


# ----------------------------------------------------------- plan metrics

def _metrics(node) -> dict[str, int]:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().value()
    return out


def plan_nodes(df) -> list[tuple[str, str, dict[str, int]]]:
    """Pre-order (name, description, metrics) of every physical node that
    ran for ``df``, descending through the cached relation, adaptive
    plans and query stages into the plan that actually executed."""
    out = []

    def walk(node):
        name = node.nodeName()
        cls = node.getClass().getSimpleName()
        out.append((name, node.simpleString(200), _metrics(node)))
        if name == "InMemoryTableScan":
            walk(node.relation().cachedPlan())
        if cls == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
        elif "QueryStageExec" in cls:
            walk(node.plan())
        it = node.children().iterator()
        while it.hasNext():
            walk(it.next())

    walk(df._jdf.queryExecution().executedPlan())
    return out


def stage_totals(sc, job_ids: list[int]) -> dict[str, float]:
    """Task GC time and disk spill summed over every stage attempt of
    ``job_ids``, read from the status store."""
    store = sc._jsc.sc().statusStore()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    st = sc.statusTracker()
    stage_ids = set()
    for j in job_ids:
        info = st.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    tot = {"gc_s": 0.0, "spill_mb": 0.0}
    for sid in sorted(stage_ids):
        it = store.stageData(sid, False, None, False, no_quantiles).iterator()
        while it.hasNext():
            s = it.next()
            tot["gc_s"] += s.jvmGcTime() / 1e3
            tot["spill_mb"] += s.diskBytesSpilled() / 1e6
    return tot


def cached_mb(sc) -> float:
    """Memory + disk size of every persisted RDD (the scored frame)."""
    return sum((i.memSize() + i.diskSize()) / 1e6
               for i in sc._jsc.sc().getRDDStorageInfo())


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``; Spark's marker files and
    checksums are not data files but their bytes count."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return size, files


# ------------------------------------------------------ process sampling

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU of ``root`` and its descendants, including
    reaped children (so Python workers that exit still count)."""
    total = 0
    for p in tree(root):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / _CLK_TCK


def tree_pss_mb(root: int) -> list[float]:
    """PSS of ``root`` and of each live descendant, root first."""
    out = []
    for p in tree(root):
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        out.append(int(line.split()[1]) / 1024)
                        break
        except OSError:
            continue
    return out


class Sampler:
    """Background thread tracking the peak summed PSS of the JVM's
    process tree while a measured operation runs. One sample reads
    ``smaps_rollup`` of every process (~40 ms, with the JVM's mmap lock
    held for ~16 ms), so sampling is kept to once a second; the heap has
    a fixed size, so the peak moves slowly."""

    def __init__(self, root_pid: int, interval: float = 1.0):
        self.root = root_pid
        self.interval = interval
        self.peak = 0.0
        self.at_peak: list[float] = []      # per-process PSS at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while True:
            pss = tree_pss_mb(self.root)
            if sum(pss) > self.peak:
                self.peak, self.at_peak = sum(pss), pss
            if self._stop.wait(self.interval):
                return

    def __enter__(self):
        self.cpu0 = tree_cpu_s(self.root)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.cpu_s = tree_cpu_s(self.root) - self.cpu0
        return False
