"""The end-to-end web-text quality-filter pipeline.

North-rule composition (BASELINE.json): heuristic rules (native Column
expressions) + langid + perplexity (broadcast-model pandas UDFs) + exact
dedup (hash-signature keeper join) → keep/drop = conjunction of rule verdicts
(mirroring the reference's "passed = all checks passed",
``main.py:188-208``) → compiled-regex PII scrub of kept docs → audit
writes (per-url lineage, per-partition rule metrics, row-count history)
→ checkpoint mark-done.

Scale shape (the plan at 100 TB):
- one scan of the input; heuristics + UDF scoring are row-local (no
  shuffle), Arrow-batched where Python is required;
- exactly ONE data-wide exchange: the dedup keeper join on the 64-bit
  text signature — a map-side-combined aggregate + join back, so a
  skewed duplicate key is AQE-splittable and a small keeper table
  broadcasts (null/empty texts get a per-row signature so they cannot
  form a skewed hash bucket either way);
- lineage/metrics/docs derive from one persisted scored frame —
  MEMORY_AND_DISK locally, a staged Iceberg table on a cluster;
- one collected per-day rule tally feeds rule_metrics, row_count_history
  and the checkpoint, built as driver-local frames (``dq.audit.
  local_frame``) so the audit tail starts no Python worker; the resume
  anti-join touches only a tiny frame.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from dq.audit import (ROW_COUNT_HISTORY_SCHEMA, AuditStore, local_frame,
                      session_ts)
from dq.checkpoint import completed_partitions, filter_unprocessed, mark_done
from dq.dedup import exact_dedup
from dq.heuristics import RULE_NAMES, HeuristicConfig, with_heuristics
from dq.models import DEFAULT_PPL_THRESHOLD, make_langid_udf, make_perplexity_udf
from dq.scrub import scrub_udf


@dataclass(frozen=True)
class PipelineConfig:
    accept_langs: tuple[str, ...] = ("en",)
    ppl_threshold: float = DEFAULT_PPL_THRESHOLD
    heuristics: HeuristicConfig = field(default_factory=HeuristicConfig)
    repartition: int | None = None       # explicit pre-stage balancing


SCOPE = "webpages"                       # checkpoint scope, history table name
ALL_RULES = RULE_NAMES + ["rule_lang", "rule_ppl", "rule_not_dup"]
RULE_METRICS_SCHEMA = (
    "execution_id string, partition_value date, rule_name string, "
    "passed_count long, total long, kept long, failed_count long")


def _heuristics(spark: SparkSession, df: DataFrame,
                cfg: PipelineConfig) -> DataFrame:
    return with_heuristics(df, "text", cfg.heuristics)


def _models(spark: SparkSession, df: DataFrame,
            cfg: PipelineConfig) -> DataFrame:
    langid = make_langid_udf(spark)
    ppl = make_perplexity_udf(spark)
    return df.withColumns({
        "lang_pred": langid(F.col("text")),
        "ppl": ppl(F.col("text")),
    }).withColumns({
        "rule_lang": F.col("lang_pred").isin(*cfg.accept_langs),
        "rule_ppl": F.col("ppl") <= F.lit(cfg.ppl_threshold),
    })


def _dedup(spark: SparkSession, df: DataFrame,
           cfg: PipelineConfig) -> DataFrame:
    # keep-first by url within an exact-text signature. PRECONDITION:
    # urls are unique non-null (Common-Crawl-style inputs guarantee one
    # row per capture url); see exact_dedup for the plan shape and the
    # reason its keeper branch never pulls in the UDF stages.
    return (exact_dedup(df, "text", "url")
            .withColumn("rule_not_dup", ~F.col("is_dup_copy"))
            .drop("is_dup_copy"))


def _keep(spark: SparkSession, df: DataFrame,
          cfg: PipelineConfig) -> DataFrame:
    """keep = conjunction of every rule verdict the frame carries
    (the reference's "passed = all checks passed", ``main.py:188-208``)."""
    keep = F.lit(True)
    for r in ALL_RULES:
        if r in df.columns:
            keep = keep & F.col(r)
    return df.withColumn("keep", keep)


# The pipeline's stages, in order. Every caller composes these: the
# batch pipeline runs them all, the stream skips dedup (it dedups with
# watermark-bounded state instead), the rules-only oracle query skips
# models, and scripts/scaling_bench.py times each one alone.
STAGES = {
    "heuristics": _heuristics,
    "models": _models,
    "dedup": _dedup,
    "keep": _keep,
}


def score_pages(spark: SparkSession, pages: DataFrame,
                cfg: PipelineConfig | None = None,
                skip: tuple[str, ...] = ()) -> DataFrame:
    """Wide scored frame: input cols + stats + rule_* booleans + keep,
    from every stage in ``STAGES`` not named in ``skip``.

    The raw ``html`` binary is projected away first: no downstream stage
    reads it, and carrying a multi-KB binary through every projection,
    the Arrow UDF boundary, and the dedup shuffle dominates runtime
    (measured 3-10x on the full pipeline) and shuffle volume at scale.
    """
    cfg = cfg or PipelineConfig()
    df = pages.drop("html")
    df = df.withColumn("partition_value", F.to_date("warc_ts"))
    if cfg.repartition:
        from dq.skew import salted_repartition
        df = salted_repartition(df, cfg.repartition)
    for name, stage in STAGES.items():
        if name not in skip:
            df = stage(spark, df, cfg)
    return df


def scrub(scored: DataFrame) -> DataFrame:
    """PII-scrub the kept docs: ``text_scrubbed`` and ``scrub_changed``,
    both NULL for dropped docs.

    The keep-condition goes INSIDE the UDF input: Spark extracts pandas
    UDFs out of ``when`` branches into an unconditional ArrowEvalPython
    node, so ``when(keep, scrub_udf(text))`` would still regex-scan every
    DROPPED doc — feeding ``when(keep, text)`` (null otherwise) instead
    skips them inside the batch (na_action='ignore'). The UDF sends back
    only the texts it changes (NULL elsewhere), so ``coalesce`` with the
    JVM's own text gives the scrubbed text, byte-identically."""
    keep = F.col("keep")
    changed = F.col("_scrub_out")
    return (scored
            .withColumn("_scrub_out", scrub_udf(F.when(keep, F.col("text"))))
            .withColumns({
                "text_scrubbed": F.when(keep, F.coalesce(changed,
                                                         F.col("text"))),
                "scrub_changed": F.when(keep, changed.isNotNull())})
            .drop("_scrub_out"))


def melt_lineage(scored: DataFrame, execution_id: str) -> DataFrame:
    """Per-(url, rule) lineage rows (FIXTURES.md §4 lineage schema)."""
    stack_expr = "stack({}, {}) as (rule_name, passed)".format(
        len(ALL_RULES),
        ", ".join(f"'{r}', {r}" for r in ALL_RULES))
    return scored.select(
        F.lit(execution_id).alias("execution_id"),
        "url", "partition_value",
        F.expr(stack_expr),
        "keep",
    )


def rule_tallies(df: DataFrame, *keys) -> DataFrame:
    """Per-key pass tallies — ONE aggregation over the wide frame (no
    melt): ``pass__<rule>`` for every ``ALL_RULES`` column ``df``
    carries, plus ``total`` rows and ``kept`` rows. Shared by the
    pipeline's audit tail, the stream's windowed metrics and the
    flagship query."""
    rules = [r for r in ALL_RULES if r in df.columns]
    return df.groupBy(*keys).agg(
        *[F.sum(F.col(r).cast("long")).alias(f"pass__{r}") for r in rules],
        F.count(F.lit(1)).alias("total"),
        F.sum(F.col("keep").cast("long")).alias("kept"))


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    execution_id: str,
    run_ts: dt.datetime,
    store: AuditStore | None = None,
    resume: bool = True,
    cfg: PipelineConfig | None = None,
) -> dict[str, DataFrame]:
    """Full run. Returns {'docs', 'lineage', 'metrics', 'scored'} frames.

    Runs one action even without a store: the per-day tally collect that
    fills the persisted ``scored`` frame. ``metrics`` is built from its
    rows (driver-local); ``docs`` and ``lineage`` stay lazy.

    With a store: writes docs/lineage/rule_metrics/row_count_history and
    marks partitions done; a rerun after failure skips completed
    partitions via the checkpoint anti-join (idempotent appends).
    """
    cfg = cfg or PipelineConfig()
    run_ts = session_ts(spark, run_ts)
    pages = pages.withColumn("partition_value", F.to_date("warc_ts"))
    if resume and store is not None:
        done = completed_partitions(spark, store, SCOPE)
        pages = filter_unprocessed(pages, done)

    # persist WITHOUT the raw text: every downstream consumer (docs/
    # lineage/metrics/history) reads the persisted frame, and dropping
    # the dominant column shrinks the cache ~40% (kept docs carry
    # scrubbed text only; dropped docs carry none) — the memory-pressure
    # lever that showed up as sub-linear thread scaling at local[32]
    scored = scrub(score_pages(spark, pages.drop("partition_value"), cfg)
                   ).drop("text")
    scored = scored.persist(StorageLevel.MEMORY_AND_DISK)

    docs = (scored.filter("keep")
            .select("url", "warc_ts", "partition_value",
                    F.col("text_scrubbed").alias("text"),
                    "lang_pred", "ppl", "scrub_changed"))
    lineage = melt_lineage(scored, execution_id)

    # the per-day tally fills the persisted frame; rule_metrics, history
    # (row_count IS the day's total) and the checkpoint's day list are
    # built from its driver rows, so only docs and lineage re-read it
    days = rule_tallies(scored, "partition_value").collect()
    rows = [(execution_id, d.partition_value, r, p, d.total, d.kept,
             d.total - p)
            for d in days for r in ALL_RULES for p in [d[f"pass__{r}"]]]
    metrics = local_frame(spark, rows, RULE_METRICS_SCHEMA)

    if store is not None:
        # dynamic partition overwrite at day grain: a partition whose
        # processing crashed after a partial append is fully REPLACED on
        # the rerun (the checkpoint anti-join only skips partitions whose
        # mark_done committed, and mark_done runs last) — "a partition is
        # either fully absent or fully present" holds even mid-crash
        store.overwrite_partitions("docs", docs)
        store.overwrite_partitions("lineage", lineage)
        store.overwrite_partitions("rule_metrics", metrics)
        store.overwrite_partitions("row_count_history", local_frame(
            spark, [(execution_id, run_ts, "PROD", SCOPE,
                     None if d.partition_value is None
                     else str(d.partition_value), d.total) for d in days],
            ROW_COUNT_HISTORY_SCHEMA), ["execution_id", "table_name"])
        mark_done(spark, store, SCOPE, execution_id,
                  [d.partition_value for d in days], run_ts)

    return {"docs": docs, "lineage": lineage, "metrics": metrics,
            "scored": scored}
