"""``filter_full``: the north-rule job as users run it.

One operation is ``run_pipeline(spark, pages, ..., store=AuditStore(<fresh
dir>), resume=True)`` with the default ``PipelineConfig``: scan ->
heuristics -> langid + perplexity -> dedup exchange -> scrub -> persist ->
four audit sinks -> checkpoint. The input is a seeded ``dq.synth.webpages``
corpus in 4 x nproc partitions; the bucket labels the correctness oracle
needs go to a side file the pipeline never reads.

Generating 60k docs takes ~20 s in a fresh JVM (~9 s in a warm one), a
third of a run; cutting a seed's share out of a pool takes ~2 s, and the
first pipeline run then pays ~10 s more for the colder JVM. So
``make_pool`` generates ``POOL_FACTOR`` x the docs once per checkout, at
``dq.synth.SEED = POOL_SEED``, and a seed's input is the half of the pool
whose seeded hash of ``url`` is even, cut in pool order into the same
number of files (``pick``): the same seed always gives the same docs, and
two seeds share about half. The cut is made with pyarrow and keeps
Spark's file format (INT96 timestamps, Spark's schema metadata).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import shutil
import time

import pyarrow.parquet as pq

RUN_TS = dt.datetime(2025, 10, 3, 6, 0, 0)
SINKS = ("docs", "lineage", "rule_metrics", "row_count_history")
MODEL_SAMPLE = 2000
POOL_SEED = 42
POOL_FACTOR = 2


def prepare(spark, work: str, seed: int, n_docs: int, parts: int,
            version: str) -> dict:
    """Write (or reuse) the seed's corpus; return paths and what the
    output checks compare with: the label oracle and every doc's text
    through ``scrub_string``. ``version`` keys the docs digest."""
    from dq.scrub import scrub_string

    pool = make_pool(spark, work, POOL_FACTOR * n_docs, parts)
    d = os.path.join(work, "inputs",
                     f"pick_s{seed}_n{n_docs}_p{parts}_pool{POOL_SEED}")
    if not os.path.exists(os.path.join(d, "_READY")):
        shutil.rmtree(d, ignore_errors=True)
        pick(os.path.join(pool, "pages"), os.path.join(d, "pages"), seed,
             parts)
        open(os.path.join(d, "_READY"), "w").close()
    pages = pq.read_table(os.path.join(d, "pages"),
                          columns=["url", "text", "warc_ts"]).to_pandas()
    labels = pq.read_table(os.path.join(pool, "labels")).to_pandas()
    oracle = pages.merge(labels, on="url")
    return {"dir": d, "pages_path": os.path.join(d, "pages"),
            "digest_path": os.path.join(d, f"docs_digest_{version}"),
            "n_docs": len(pages),
            "scrubbed": {u: scrub_string(t) for u, t in
                         zip(pages["url"], pages["text"])},
            "days": set(pages["warc_ts"].dt.date), "oracle": oracle,
            "sample": pages["text"].head(MODEL_SAMPLE)}


def make_pool(spark, work: str, n_docs: int, parts: int) -> str:
    """Generate (or reuse) the pool the seeds' inputs are drawn from."""
    import dq.synth
    from dq.synth import webpages

    d = os.path.join(work, "inputs", f"pool_s{POOL_SEED}_n{n_docs}_p{parts}")
    if not os.path.exists(os.path.join(d, "_READY")):
        shutil.rmtree(d, ignore_errors=True)
        dq.synth.SEED = POOL_SEED     # read by dq.synth._h at call time
        # content is a pure function of (id, SEED), so the two writes see
        # the same docs; the labels-only one skips generating the text
        full = webpages(spark, n_docs, with_labels=True,
                        num_partitions=parts)
        full.drop("bucket", "domain", "content_key") \
            .write.parquet(os.path.join(d, "pages"))
        full.select("url", "bucket").write.parquet(os.path.join(d, "labels"))
        open(os.path.join(d, "_READY"), "w").close()
    return d


def pick(src: str, dst: str, seed: int, parts: int) -> None:
    """Write the seed's share of the pool at ``src`` to ``parts`` files
    under ``dst``."""
    table = pq.read_table(src)
    mine = [hashlib.blake2b(f"{seed}/{u}".encode(), digest_size=8).digest()[0]
            % POOL_FACTOR == 0 for u in table.column("url").to_pylist()]
    table = table.filter(mine)
    os.makedirs(dst)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(dst, f"part-{i:05d}.snappy.parquet"),
                       use_deprecated_int96_timestamps=True)


def run_op(spark, inp: dict, store_dir: str, exec_id: str, store=None):
    """One timed ``run_pipeline`` call; returns (wall seconds, outputs)."""
    from dq.audit import AuditStore
    from dq.pipeline import run_pipeline

    shutil.rmtree(store_dir, ignore_errors=True)
    store = store or AuditStore(store_dir)
    t0 = time.perf_counter()
    pages = spark.read.parquet(inp["pages_path"])
    out = run_pipeline(spark, pages, exec_id, RUN_TS, store=store,
                       resume=True)
    return time.perf_counter() - t0, out


# ------------------------------------------------------------------ checks

def check(inp: dict, store_dir: str) -> tuple[list[str], str]:
    """Output checks of one run against the label oracle; returns
    (problems, order-insensitive digest of the docs table)."""
    from dq.pipeline import ALL_RULES
    from tests.test_pipeline import _oracle_keep

    problems = []
    n = inp["n_docs"]
    docs = pq.read_table(os.path.join(store_dir, "docs")).to_pandas()

    oracle = inp["oracle"]
    want = _oracle_keep(oracle)
    got = oracle["url"].isin(set(docs["url"]))
    tp = int((want & got).sum())
    fp = int((~want & got).sum())
    fn = int((want & ~got).sum())
    f1 = 2 * tp / (2 * tp + fp + fn) if tp else 0.0
    if f1 < 0.99:
        problems.append(f"keep/drop F1 {f1:.4f} < 0.99 (tp {tp} fp {fp} "
                        f"fn {fn})")

    want_text = inp["scrubbed"]
    bad = [u for u, t in zip(docs["url"], docs["text"])
           if t != want_text[u]]
    if bad:
        problems.append(f"{len(bad)} kept docs differ from scrub_string, "
                        f"e.g. {bad[0]}")

    lineage_rows = pq.ParquetDataset(
        os.path.join(store_dir, "lineage")).read(columns=["keep"]).num_rows
    if lineage_rows != n * len(ALL_RULES):
        problems.append(f"lineage has {lineage_rows} rows, want "
                        f"{n} x {len(ALL_RULES)}")

    m = pq.read_table(os.path.join(store_dir, "rule_metrics")).to_pandas()
    one_rule = m[m["rule_name"] == ALL_RULES[0]]
    if int(one_rule["total"].sum()) != n:
        problems.append(f"rule_metrics total {one_rule['total'].sum()} != {n}")
    if int(one_rule["kept"].sum()) != len(docs):
        problems.append(f"rule_metrics kept {one_rule['kept'].sum()} != "
                        f"docs rows {len(docs)}")

    cp = pq.read_table(os.path.join(store_dir, "checkpoint")).to_pandas()
    days = inp["days"]
    if set(cp["partition_value"]) != days:
        problems.append(f"checkpoint marks {len(set(cp['partition_value']))}"
                        f" of {len(days)} day partitions")

    rows = sorted(zip(docs["url"], docs["text"], docs["lang_pred"],
                      map(repr, docs["ppl"]), docs["scrub_changed"],
                      map(str, docs["partition_value"])))
    digest = hashlib.sha256(repr(rows).encode()).hexdigest()[:16]
    return problems, digest


def check_digest(inp: dict, digest: str) -> list[str]:
    """The docs table of every run of one seed must be identical: the
    first run of this code records its digest beside the cached input."""
    path = inp["digest_path"]
    if not os.path.exists(path):
        with open(path, "w") as f:
            f.write(digest)
        return []
    with open(path) as f:
        want = f.read().strip()
    return [] if want == digest else [f"docs digest {digest} != {want}"]


# ----------------------------------------------------------------- tracing

def trace_metrics(spark, inp: dict, store_dir: str, exec_id: str,
                  untraced_median: float) -> tuple[dict, object, float]:
    """One traced operation; returns (per-layer metrics, outputs, wall)."""
    from perfbench.tracing import (Spans, TimingStore, cached_mb, dir_stats,
                                 plan_nodes, stage_totals)

    sc = spark.sparkContext
    spans = Spans(sc, f"trace.{exec_id}")
    spans.group("pipeline.score")
    wall, out = run_op(spark, inp, store_dir, exec_id,
                       store=TimingStore(store_dir, spans))
    sc.setJobGroup("bench.idle", "idle")

    m: dict[str, float] = {}
    first_write = min(a for n, a, _ in spans.items if n.startswith("audit."))
    cp_read_end = max(b for n, _, b in spans.items if n == "checkpoint.read")
    m["pipeline.score_s"] = first_write - cp_read_end
    m["pipeline.jobs"] = len(spans.jobs())
    m["pipeline.cache_mb"] = cached_mb(sc)
    m["pipeline.docs_per_s"] = inp["n_docs"] / wall
    m["checkpoint.read_s"] = spans.total("checkpoint.read")
    m["checkpoint.mark_done_s"] = spans.total("checkpoint.mark_done")
    for t in SINKS:
        m[f"audit.{t}_s"] = spans.total(f"audit.{t}")
        size, files = dir_stats(os.path.join(store_dir, t))
        m[f"audit.{t}_mb"] = size / 1e6
        m[f"audit.{t}_files"] = files
    total_bytes, _ = dir_stats(store_dir)
    m["audit.bytes_per_doc"] = total_bytes / inp["n_docs"]

    nodes = plan_nodes(out["scored"])
    scans = [mt for n, _, mt in nodes if n.startswith("Scan")]
    m["scan.nodes"] = len(scans)
    m["scan.read_mb"] = sum(s.get("filesSize", 0) for s in scans) / 1e6
    arrow = [(d, mt) for n, d, mt in nodes if n == "ArrowEvalPython"]
    for label, pick in (("scrub", [mt for d, mt in arrow if "scrub" in d]),
                        ("score", [mt for d, mt in arrow
                                   if "scrub" not in d])):
        m[f"arrow.{label}.python_task_s"] = sum(
            x.get("pythonTotalTime", 0) for x in pick) / 1e3
        m[f"arrow.{label}.sent_mb"] = sum(
            x.get("pythonDataSent", 0) for x in pick) / 1e6
        m[f"arrow.{label}.received_mb"] = sum(
            x.get("pythonDataReceived", 0) for x in pick) / 1e6
    m["arrow.score.rows"] = sum(
        mt.get("pythonNumRowsReceived", 0) for d, mt in arrow
        if "scrub" not in d)
    exchanges = [mt for n, _, mt in nodes if n == "Exchange"]
    m["dedup.shuffle_mb"] = sum(
        x.get("shuffleBytesWritten", 0) for x in exchanges) / 1e6
    m["dedup.shuffle_records"] = sum(
        x.get("shuffleRecordsWritten", 0) for x in exchanges)
    m["dedup.shuffle_write_s"] = sum(
        x.get("shuffleWriteTime", 0) for x in exchanges) / 1e9
    aggs = [mt for n, _, mt in nodes if n.endswith("Aggregate")]
    m["dedup.keeper_rows"] = aggs[0].get("numOutputRows", 0) if aggs else 0

    tasks = stage_totals(sc, spans.jobs())
    m["jvm.gc_task_s"] = tasks["gc_s"]
    m["jvm.spill_mb"] = tasks["spill_mb"]
    m["trace.overhead_s"] = wall - untraced_median
    covered = sum(b - a for _, a, b in spans.items) + (
        first_write - cp_read_end)
    m["trace.cover_frac"] = covered / wall
    return m, out, wall


def scorer_metrics(spark, inp: dict) -> dict[str, float]:
    """Single-process throughput of the langid and perplexity scorers on
    the first ``MODEL_SAMPLE`` docs of the seed's corpus, of the scrub on
    the non-empty ones, and one drain of the heuristics stage."""
    from dq.heuristics import with_heuristics
    from dq.models import LANGID_MODEL, LM_MODEL
    from dq.scrub import scrub_string

    def rate(fn, texts) -> float:
        fn(texts)                                   # warm
        n, t0 = 0, time.perf_counter()
        while time.perf_counter() - t0 < 0.5:
            fn(texts)
            n += len(texts)
        return n / (time.perf_counter() - t0)

    sample = inp["sample"]
    kept = [t for t in sample if t]
    m = {"models.langid_docs_per_s": rate(LANGID_MODEL.predict_batch, sample),
         "models.ppl_docs_per_s": rate(LM_MODEL.perplexity_batch, sample),
         "scrub.docs_per_s": rate(lambda ts: [scrub_string(t) for t in ts],
                                  kept)}
    t0 = time.perf_counter()
    with_heuristics(spark.read.parquet(inp["pages_path"]).drop("html"),
                    "text").write.format("noop").mode("overwrite").save()
    m["heuristics.drain_s"] = time.perf_counter() - t0
    return m
