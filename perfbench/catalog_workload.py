"""``catalog_suite``: one pass over the catalog queries that exercise the
layers the filter job never runs, consumed the way the correctness gate
consumes them (``toPandas()``), inside ``catalog_session``.

Input is the read-only gate corpus copied under ``perfbench/data/sf0.01``
(built with seed 42, so ``--seed`` does not apply). Every query result is
compared with its DuckDB oracle through ``scripts/parity.py``'s canonical
form. Once per code version, outside the timed passes, the model-scored
flagship is compared with ``tests/goldens``; it is not timed here because
the filter workload times the same scoring stage at scale.

``embedding_ivf_topk`` builds its persisted index where ``dq.queries``
keeps it, during the warm-up pass, and reuses it afterwards.
"""

from __future__ import annotations

import json
import os
import time

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                    "sf0.01")

# query -> the dq layer it exercises (for catalog.<layer>_s)
QUERIES = {
    "dedup_clusters": "dedup",            # jaccard_pairs + connected_components
    "minhash_lsh_pairs": "dedup",
    "simhash_pairs": "dedup",
    "embedding_lsh_topk": "similarity",
    "embedding_ivf_topk": "ivf",
    "image_decode": "multimodal",
    "contamination_scan": "contamination",
    "test_type_stats": "rules_scoring",
    "doc_token_stats": "textstats",       # with_text_stats
    "quality_flag_summary": "textstats",  # quality_flags
}
LAYERS = ("dedup", "similarity", "ivf", "multimodal", "contamination",
          "rules_scoring", "textstats")
# queries whose Spark job count must repeat exactly
JOB_COUNTED = ("dedup_clusters", "minhash_lsh_pairs", "embedding_ivf_topk")
SMOKE_QUERIES = ("simhash_pairs", "test_type_stats", "embedding_ivf_topk",
                 "doc_token_stats")


def oracle_keys(work: str, version: str) -> dict:
    """Canonical DuckDB oracle result of every query, computed once per
    code version (the input is fixed) and kept as JSON in the work dir."""
    path = os.path.join(work, f"catalog_oracles_{version}.json")
    if os.path.exists(path):
        with open(path) as f:
            return {n: [tuple(k[0]), [tuple(r) for r in k[1]]]
                    for n, k in json.load(f).items()}
    import duckdb

    from dq.queries import ORACLES, TABLES, ivf_oracle_sql
    from scripts.parity import pdf_key

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{DATA}/{t}.parquet')")
    oracles = dict(ORACLES, embedding_ivf_topk=ivf_oracle_sql(DATA))
    keys = {n: pdf_key(con.execute(oracles[n]).df()) for n in QUERIES}
    con.close()
    with open(path + ".tmp", "w") as f:
        json.dump(keys, f)
    os.replace(path + ".tmp", path)
    return oracle_keys(work, version)


def prepare(work: str, smoke: bool, version: str) -> dict:
    """Query callables, oracle results and goldens for one run."""
    from dq.queries import QUERIES as CATALOG

    names = SMOKE_QUERIES if smoke else tuple(QUERIES)
    fns = {n: CATALOG[n] for n in names}
    keys = oracle_keys(work, version)
    want = {n: (tuple(keys[n][0]), keys[n][1]) for n in names}
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "tests", "goldens",
                           "quality_filter_pipeline.json")) as f:
        goldens = json.load(f)["sf0.01"]
    return {"fns": fns, "want": want, "goldens": goldens}


def check(cat: dict, name: str, pdf) -> list[str]:
    from scripts.parity import pdf_key

    key = pdf_key(pdf)
    return [] if (key[0], list(key[1])) == cat["want"][name] else [
        f"{name}: differs from its DuckDB oracle"]


def check_goldens(spark, cat: dict, work: str, version: str) -> list[str]:
    """The flagship's per-source tallies and quantized model-score sums
    against tests/goldens, as tests/test_pipeline.py checks them. A pass
    is remembered per ``version`` (a hash of the sources), since the
    input is fixed."""
    from dq.queries import flagship_scored, q_quality_filter_pipeline
    from scripts.make_goldens import score_pins

    marker = os.path.join(work, f"goldens_ok_{version}")
    if os.path.exists(marker):
        return []

    def rows(df):
        return sorted((r.asDict() for r in df.collect()),
                      key=lambda r: r["source"])

    problems = []
    if rows(q_quality_filter_pipeline(spark, DATA)) != \
            cat["goldens"]["tallies"]:
        problems.append("flagship tallies differ from tests/goldens")
    if rows(score_pins(flagship_scored(spark, DATA))) != \
            cat["goldens"]["score_pins"]:
        problems.append("flagship score pins differ from tests/goldens")
    if not problems:
        open(marker, "w").close()
    return problems


def run_pass(spark, cat: dict, spans=None
             ) -> tuple[float, dict, dict[str, list[str]]]:
    """One pass over the queries; returns (wall seconds, per-query
    seconds, per-query problems). Each result is checked right after its
    query, and the check time is left out of the wall."""
    per, problems, checking = {}, {}, 0.0
    t_pass = time.perf_counter()
    for name, fn in cat["fns"].items():
        if spans is not None:
            spans.group(name)
        t0 = time.perf_counter()
        try:
            pdf = fn(spark, DATA).toPandas()
        except Exception as exc:  # noqa: BLE001 - a failed operation
            per[name] = time.perf_counter() - t0
            problems[name] = [f"{name}: {exc!r}"]
            continue
        t1 = time.perf_counter()
        per[name] = t1 - t0
        problems[name] = check(cat, name, pdf)
        checking += time.perf_counter() - t1
    return time.perf_counter() - t_pass - checking, per, problems


def trace_metrics(spark, cat: dict, untraced_median: float, tag: str
                  ) -> tuple[dict, dict[str, list[str]], float]:
    """One traced pass, each query under its own job group; returns
    (per-layer metrics, per-query problems, wall)."""
    from perfbench.tracing import Spans, stage_totals

    sc = spark.sparkContext
    spans = Spans(sc, f"trace.{tag}")
    wall, per, problems = run_pass(spark, cat, spans)
    sc.setJobGroup("bench.idle", "idle")
    m = {f"catalog.{n}_s": per.get(n, 0.0) for n in QUERIES}
    for layer in LAYERS:
        m[f"catalog.{layer}_s"] = sum(per.get(n, 0.0) for n, lay in
                                      QUERIES.items() if lay == layer)
    for n in JOB_COUNTED:
        m[f"catalog.{n}_jobs"] = len(spans.jobs(n)) if n in per else 0
    tasks = stage_totals(sc, spans.jobs())
    m["jvm.gc_task_s"] = tasks["gc_s"]
    m["jvm.spill_mb"] = tasks["spill_mb"]
    m["trace.overhead_s"] = wall - untraced_median
    m["trace.cover_frac"] = sum(per.values()) / wall
    return m, problems, wall
