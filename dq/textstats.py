"""Text analysis operators for training-data pipelines.

Token counting, document statistics, quality flags, and content
fingerprinting — all as native Column expressions (JVM-side, inside
whole-stage codegen, zero Python in the hot path). These generalize the
reference's per-table column statistics (null/empty tallies,
``core/quality_checks.py:463-467`` in /root/reference) to per-document
text statistics, and are the building blocks the heuristic rules
(dq.heuristics) and the dedup families (dq.dedup) compose.

Scale notes: every expression here is row-local — no shuffle, no UDF.
Fingerprints use ``md5`` (cross-engine reproducible, oracle-testable) for
the stable content id and ``xxhash64`` (cheap, 64-bit) for shuffle keys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

WS_SPLIT = r"\s+"
# BPE-ish word/number/punctuation segmentation for subword-style counting:
# runs of letters, runs of digits, or single non-space symbols.
BPE_TOKEN_RE = r"[\p{L}]+|[\p{N}]+|[^\p{L}\p{N}\s]"


def tokens(text: Column) -> Column:
    """Whitespace tokens; NULL/blank text → empty array (never NULL)."""
    return F.when(
        text.isNotNull() & (F.trim(text) != ""),
        F.split(F.trim(text), WS_SPLIT),
    ).otherwise(F.array().cast("array<string>"))


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def bpe_token_count(text: Column) -> Column:
    """Sub-word-ish token count (letters / digit runs / single symbols)."""
    return F.when(text.isNotNull(),
                  F.size(F.regexp_extract_all(text, F.lit(BPE_TOKEN_RE), 0))
                  ).otherwise(0)


def distinct_token_count(text: Column) -> Column:
    return F.size(F.array_distinct(tokens(text)))


def char_count(text: Column) -> Column:
    return F.coalesce(F.length(text), F.lit(0))


def token_len_sum(text: Column) -> Column:
    """Sum of token lengths (mean = token_len_sum / token_count)."""
    return F.aggregate(tokens(text), F.lit(0), lambda acc, t: acc + F.length(t))


def content_fingerprint(text: Column) -> Column:
    """Stable 128-bit content fingerprint of the *normalized* text.

    Normalization: lowercase, collapse whitespace runs to single spaces,
    trim. md5 is deliberate — reproducible in any engine (the DuckDB
    oracle computes the identical digest), unlike xxhash64.
    """
    norm = F.lower(F.regexp_replace(F.coalesce(text, F.lit("")),
                                    r"\s+", " "))
    return F.md5(F.encode(F.trim(norm), "UTF-8"))


def rolling_fingerprints(text: Column, window_tokens: int = 8) -> Column:
    """Array of hashes of overlapping ``window_tokens``-token windows.

    The per-document analog of a rolling (Rabin-style) content hash:
    near-identical documents share most window fingerprints, so a
    ``groupBy(explode(...))`` over these finds partially-copied content.
    Row-local; the only shuffle is whatever aggregation the caller adds.
    """
    toks = tokens(text)
    n = F.size(toks)
    starts = F.when(
        n >= window_tokens,
        F.sequence(F.lit(1), n - window_tokens + 1),
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(
        starts,
        lambda i: F.xxhash64(
            F.array_join(F.slice(toks, i, window_tokens), "␟")),
    )


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append integer/string stat columns (no floating point — every stat
    is exactly reproducible in any engine for oracle checks)."""
    t = F.col(text_col)
    return df.withColumns({
        "n_tokens": token_count(t),
        "n_bpe_tokens": bpe_token_count(t),
        "n_distinct_tokens": distinct_token_count(t),
        "n_chars_actual": char_count(t),
        "token_len_sum": token_len_sum(t),
        "fingerprint": content_fingerprint(t),
    })


def quality_flags(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Integer-arithmetic quality gates (cross-engine exact): 30 to
    10,000 tokens, mean token length 3.0 to 12.0 chars, at least 20%
    distinct tokens.

    Ratio thresholds are expressed as integer cross-multiplications
    (``distinct*100 >= 20*n``) so the booleans are bit-reproducible in
    the SQL oracle — the float versions live in dq.heuristics.
    """
    df = with_text_stats(df, text_col)
    n = F.col("n_tokens")
    return df.withColumns({
        "q_min_tokens": n >= 30,
        "q_max_tokens": n <= 10_000,
        "q_mean_token_len": (
            (F.col("token_len_sum") * 10 >= 30 * n)
            & (F.col("token_len_sum") * 10 <= 120 * n)
            & (n > 0)),
        "q_distinct_ratio": (
            (F.col("n_distinct_tokens") * 100 >= 20 * n)
            & (n > 0)),
    })
