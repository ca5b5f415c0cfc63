"""Benchmark decontamination: flag corpus documents sharing n-gram
shingles with a reference (benchmark/eval) set.

The one corpus-vs-REFERENCE operator in the dedup family — every other
dedup op compares the corpus against itself. Standard LLM-training
hygiene (n-gram collision scans of training data against evaluation
sets, as published in the GPT-3 appendix-C dedup methodology and the
C4 contamination studies): an eval example whose n-grams appear in
training data inflates benchmark scores, so contaminated documents are
flagged (and typically dropped) before training.

Scale shape (the 100-TB rationale): the benchmark side is SMALL
(10^4-10^6 eval examples) next to a 10^12-doc corpus, so its distinct
n-gram set is built once and broadcast. The corpus side never shuffles
for the probe join; the only corpus-wide movement is the
map-side-combined per-doc hit count. Shingling rides the Arrow fast
path (``dq.dedup.make_shingles_udf``), bit-parity-tested against the
Column tokenizer.

Reference scope note: the reference repo has no contamination check —
this is part of the training-data operator family the north rule adds
on top of its schema-validation surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dq.dedup import make_shingles_udf


def benchmark_ngrams(benchmark: DataFrame, n: int = 8) -> DataFrame:
    """Distinct n-gram shingle set of the benchmark side's ``text`` (one
    column, ``gram``). Built once and broadcast by
    :func:`flag_contaminated`."""
    return (benchmark
            .select(F.explode(make_shingles_udf(n)(F.col("text")))
                    .alias("gram"))
            .distinct())


def flag_contaminated(corpus: DataFrame, benchmark: DataFrame,
                      n: int = 8, min_hits: int = 1) -> DataFrame:
    """Per-corpus-doc contamination flags over ``doc_id`` and ``text``.

    Returns (doc_id, hits, contaminated): ``hits`` = number of the
    document's DISTINCT n-gram shingles that appear anywhere in the
    benchmark set (per-doc distinctness comes from the shingle UDF, so
    a gram repeated inside one document counts once); ``contaminated``
    = hits >= min_hits. Documents with no shingles (blank/short text)
    report hits=0.

    Precondition (same as ``dq.dedup.exact_dedup``): ``doc_id`` values
    are unique in ``corpus``. Duplicate ids would sum their rows' hits
    under one key and duplicate output rows — deduplicating here would
    cost a corpus-wide exchange the broadcast design exists to avoid,
    so the contract is on the caller (web corpora key by url).
    """
    bench = F.broadcast(benchmark_ngrams(benchmark, n))
    grams = corpus.select(
        F.col("doc_id"),
        F.explode(make_shingles_udf(n)(F.col("text"))).alias("gram"))
    hits = (grams.join(bench, "gram")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("hits")))
    zero = F.lit(0).cast("long")
    return (corpus.select("doc_id")
            .join(hits, "doc_id", "left")
            .select(F.col("doc_id"),
                    F.coalesce(F.col("hits"), zero).alias("hits"),
                    (F.coalesce(F.col("hits"), zero) >= min_hits)
                    .alias("contaminated")))
