"""End-to-end pipeline tests: keep/drop F1 vs an independent pandas oracle
(FIXTURES.md §5), scrub byte-identity on kept docs, checkpointed resume."""

import datetime as dt

import pandas as pd
import pytest
from pyspark.sql import functions as F

from dq.audit import AuditStore
from dq.checkpoint import mark_done
from dq.pipeline import run_pipeline, score_pages
from dq.scrub import scrub_string
from dq.synth import BUCKETS, webpages

N = 1200
RUN_TS = dt.datetime(2025, 10, 3, 6, 0, 0)


def _bucket_group(b):
    for name, (lo, hi) in BUCKETS.items():
        if lo <= b <= hi:
            return name
    raise AssertionError(b)


def _oracle_keep(pdf: pd.DataFrame) -> pd.Series:
    """Reference-semantics keep/drop computed in pure pandas."""
    group = pdf["bucket"].map(_bucket_group)
    keep = group.isin(["clean", "pii"])
    dup = group == "dup"
    if dup.any():
        first_url = (pdf[dup].groupby("text")["url"].transform("min")
                     .reindex(pdf.index))
        keep = keep | (dup & (pdf["url"] == first_url))
    return keep


def test_keep_drop_f1_vs_oracle(spark):
    pages = webpages(spark, N, with_labels=True)
    scored = score_pages(spark, pages.drop("bucket", "domain", "content_key"))
    got = scored.select("url", "keep").toPandas().set_index("url")["keep"]

    pdf = pages.select("url", "text", "bucket").toPandas()
    want = _oracle_keep(pdf)
    pdf["want"] = want
    pdf = pdf.set_index("url")

    both = pdf.join(got.rename("got"))
    tp = int((both.want & both.got).sum())
    fp = int((~both.want & both.got).sum())
    fn = int((both.want & ~both.got).sum())
    precision = tp / (tp + fp) if tp + fp else 1.0
    recall = tp / (tp + fn) if tp + fn else 1.0
    f1 = 2 * precision * recall / (precision + recall)
    assert f1 >= 0.99, (f1, tp, fp, fn)


def _final_plan(df) -> str:
    """The executed (post-AQE) physical plan of ``df``'s own query."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Final Plan ==")[-1].split("== Initial Plan ==")[0]


class _RecordingStore(AuditStore):
    """An AuditStore that records the analyzed plan's root class of
    every frame written to it."""

    def __init__(self, base_path):
        super().__init__(base_path)
        self.roots = {}

    def _record(self, table, df):
        self.roots[table] = (df._jdf.queryExecution().analyzed()
                             .getClass().getSimpleName())

    def append(self, table, df):
        self._record(table, df)
        super().append(table, df)

    def overwrite_partitions(self, table, df, keys=None):
        self._record(table, df)
        super().overwrite_partitions(table, df, keys)


def test_scored_plan_has_one_python_crossing(spark, tmp_path):
    """The stages keep the Python boundary crossed once per document:
    score_pages executes ONE ArrowEvalPython node (token stats, langid
    and perplexity fused) and one dedup exchange, so the keeper branch
    never pulls in the UDFs; run_pipeline's scored frame adds only the
    scrub node. The audit tail's driver-built frames are LocalRelations,
    so writing them starts no Python worker (a silent fallback to a
    Python RDD shows here)."""
    pages = webpages(spark, 2000)
    plan = _final_plan(score_pages(spark, pages))
    assert plan.count("ArrowEvalPython") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    store = _RecordingStore(str(tmp_path / "audit"))
    out = run_pipeline(spark, pages, "plan", RUN_TS, store=store)
    plan = _final_plan(out["scored"])
    nodes = [ln for ln in plan.splitlines() if "ArrowEvalPython" in ln]
    assert len(nodes) == 2, plan
    assert sum("scrub_udf" in n for n in nodes) == 1, plan
    out["scored"].unpersist()
    local = {t for t, root in store.roots.items() if root == "LocalRelation"}
    assert local == {"rule_metrics", "row_count_history", "checkpoint"}, \
        store.roots


def test_flagship_goldens(spark):
    """Regression gate for the model-scored flagship (the one driver
    query with no SQL oracle): per-(source, rule) pass tallies AND
    quantized model-score sums at sf0.001/sf0.01 must match the
    committed goldens exactly. The score pins are order-independent
    long sums (xxhash64(lang_pred) mod p; floor(ppl*100)) of per-doc
    values the batch≡per-doc property tests prove partition-invariant,
    so any model change that shifts a verdict OR a score fails loudly
    — regenerate via scripts/make_goldens.py only with an intentional
    model change."""
    import json
    import pathlib

    from dq import queries

    golden = json.load(open(
        pathlib.Path(__file__).parent / "goldens"
        / "quality_filter_pipeline.json"))
    for sf, want in golden.items():
        d = f"/root/testdata/{sf}"
        tallies = sorted(
            (r.asDict() for r in
             queries.q_quality_filter_pipeline(spark, d).collect()),
            key=lambda r: r["source"])
        assert tallies == want["tallies"], sf
        pins = sorted(
            (r.asDict() for r in
             queries.flagship_scored(spark, d).groupBy("source").agg(
                 F.sum(F.pmod(F.xxhash64("lang_pred"),
                              F.lit(1000003))).alias("lang_hash_sum"),
                 F.sum(F.floor(F.col("ppl") * 100)
                       .cast("long")).alias("ppl_q_sum"),
                 F.sum(F.col("lang_pred").eqNullSafe(F.lit("en"))
                       .cast("long")).alias("n_en")).collect()),
            key=lambda r: r["source"])
        assert pins == want["score_pins"], sf


def test_pipeline_outputs_and_scrub_identity(spark, tmp_path):
    store = AuditStore(str(tmp_path / "audit"))
    pages = webpages(spark, 600)
    # plus one page with no timestamp: its day (and history table_name)
    # is NULL, never the string 'None'; a too-short page with PII (the
    # scrub scans it, its verdict still hides the result); NULL text
    one = pages.limit(1)
    ts = F.to_timestamp(F.lit("2025-10-03 06:00:00"))
    for url, cols in (
            ("doc://no-ts", {"warc_ts": F.lit(None).cast("timestamp")}),
            ("doc://pii-dropped", {"warc_ts": ts, "text": F.lit(
                "mail jane.doe@example.com today")}),
            ("doc://null-text", {"warc_ts": ts,
                                 "text": F.lit(None).cast("string")})):
        pages = pages.unionByName(one.withColumns({"url": F.lit(url), **cols}))
    out = run_pipeline(spark, pages, "exec1", RUN_TS, store=store)

    docs = out["docs"].collect()
    assert len(docs) > 0
    # kept docs: scrubbed text byte-identical to python scrub of original,
    # scrub_changed exactly where it differs
    originals = {r.url: r.text for r in pages.collect()}
    changed = 0
    for d in docs:
        assert d.text == scrub_string(originals[d.url]), d.url
        assert d.scrub_changed == (d.text != originals[d.url]), d.url
        changed += int(d.scrub_changed)
    assert 0 < changed < len(docs)          # PII docs were kept and scrubbed
    assert all("@" not in d.text or "[EMAIL]" in d.text for d in docs)
    # dropped docs carry no scrub verdict; NULL text stays NULL
    scored = {r.url: r for r in out["scored"].filter(F.col("url").isin(
        "doc://pii-dropped", "doc://null-text")).collect()}
    assert not scored["doc://pii-dropped"].keep
    for r in scored.values():
        assert r.text_scrubbed is None and r.scrub_changed is None, r

    # lineage: one row per (url, rule)
    from dq.pipeline import ALL_RULES
    lineage = store.read(spark, "lineage")
    n_pages = pages.count()
    assert lineage.count() == n_pages * len(ALL_RULES)

    # metrics add up
    m = store.read(spark, "rule_metrics")
    row = m.filter("rule_name = 'rule_non_empty'").agg(
        F.sum("total").alias("t"), F.sum("kept").alias("k")).collect()[0]
    assert row.t == n_pages
    assert row.k == len(docs)

    # the audit tail comes from one per-day tally: per (day, rule) the
    # passed count is the lineage's, each day's history row_count is its
    # rule_metrics total, the checkpoint holds exactly the input's days,
    # and the returned metrics frame is driver-local rows
    passed = {(r.partition_value, r.rule_name): r.n for r in
              lineage.filter("passed").groupBy("partition_value", "rule_name")
              .agg(F.count(F.lit(1)).alias("n")).collect()}
    metric_rows = m.collect()
    assert len(metric_rows) == len(ALL_RULES) * len(
        {r.partition_value for r in metric_rows})
    for r in metric_rows:
        assert r.passed_count == passed.get(
            (r.partition_value, r.rule_name), 0), r
        assert r.failed_count == r.total - r.passed_count, r
    totals = {r.partition_value: r.total for r in metric_rows}
    history = {r.table_name: r.row_count for r in
               store.read(spark, "row_count_history").collect()}
    assert history == totals and None in history
    days = {r.d for r in pages.select(F.to_date("warc_ts").alias("d"))
            .distinct().collect()}
    assert {r.partition_value for r in
            store.read(spark, "checkpoint").collect()} == days
    assert {r.partition_value for r in metric_rows} == days
    assert out["metrics"]._jdf.queryExecution().analyzed() \
        .getClass().getSimpleName() == "LocalRelation"

    out["scored"].unpersist()


def test_audit_timestamps_use_session_time_zone(spark, tmp_path,
                                                os_time_zone):
    """A naive run_ts is stored as that wall time in the session zone
    (UTC), whatever the driver's OS zone: row_count_history and the
    checkpoint read back as RUN_TS with the driver at UTC+05:30."""
    store = AuditStore(str(tmp_path / "audit_tz"))
    run_pipeline(spark, webpages(spark, 100), "exec_tz", RUN_TS,
                 store=store)["scored"].unpersist()
    want = RUN_TS.strftime("%Y-%m-%d %H:%M:%S")
    for table, col in (("row_count_history", "execution_timestamp"),
                       ("checkpoint", "completed_at")):
        got = {r.t for r in store.read(spark, table).select(
            F.date_format(col, "yyyy-MM-dd HH:mm:ss").alias("t")).collect()}
        assert got == {want}, (table, got)


def test_resume_skips_completed_partitions(spark, tmp_path):
    store = AuditStore(str(tmp_path / "audit2"))
    pages = webpages(spark, 400)

    out1 = run_pipeline(spark, pages, "exec1", RUN_TS, store=store)
    n_lineage = store.read(spark, "lineage").count()
    assert n_lineage > 0
    out1["scored"].unpersist()

    # rerun: every partition checkpointed → nothing reprocessed,
    # no duplicate audit rows
    out2 = run_pipeline(spark, pages, "exec2", RUN_TS, store=store)
    assert out2["scored"].count() == 0
    assert store.read(spark, "lineage").count() == n_lineage
    assert store.read(spark, "docs").count() == out1["docs"].count()
    out2["scored"].unpersist()


def test_partial_resume_processes_only_remaining(spark, tmp_path):
    store = AuditStore(str(tmp_path / "audit3"))
    pages = webpages(spark, 400).withColumn("pv", F.to_date("warc_ts"))
    parts = sorted(r.pv for r in pages.select("pv").distinct().collect())
    half = parts[: len(parts) // 2]
    mark_done(spark, store, "webpages", "exec0", half, RUN_TS)

    out = run_pipeline(spark, pages.drop("pv"), "exec1", RUN_TS, store=store)
    seen = {r.partition_value for r in
            out["scored"].select("partition_value").distinct().collect()}
    assert seen == set(parts) - set(half)
    out["scored"].unpersist()


@pytest.mark.xfail(strict=True, raises=AssertionError,
                   reason="exact_dedup sees only the current run's pages: "
                          "a copy whose keeper lies in a day an earlier run "
                          "already did is kept (ROADMAP.md: a persisted "
                          "keeper table)")
def test_split_runs_give_one_run_dedup_verdicts(spark, tmp_path):
    """Days that reach the pipeline over two runs (the second resuming)
    must get the same exact-dedup verdicts as one run over all pages:
    ``http://a/1`` (09-20) is the min-url keeper of the text that
    ``http://b/1`` (09-01) copies, whichever run sees which day."""
    text = " ".join(["the quick brown fox jumps over the lazy dog"] * 8)
    pages = spark.createDataFrame(
        [("http://b/1", dt.datetime(2025, 9, 1, 12), text),
         ("http://a/1", dt.datetime(2025, 9, 20, 12), text),
         ("http://c/1", dt.datetime(2025, 9, 10, 12),
          "a filler page with words of its own")],
        "url string, warc_ts timestamp, text string")

    def not_dup(store):
        return {r.url: r.passed for r in store.read(spark, "lineage")
                .filter("rule_name = 'rule_not_dup'").collect()}

    one = AuditStore(str(tmp_path / "one"))
    run_pipeline(spark, pages, "exec1", RUN_TS, store=one)["scored"].unpersist()
    split = AuditStore(str(tmp_path / "split"))
    first = pages.filter(F.to_date("warc_ts") <= dt.date(2025, 9, 15))
    run_pipeline(spark, first, "exec1", RUN_TS,
                 store=split)["scored"].unpersist()
    run_pipeline(spark, pages, "exec2", RUN_TS, store=split,
                 resume=True)["scored"].unpersist()
    assert not_dup(split) == not_dup(one)
