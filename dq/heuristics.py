"""Gopher/C4-style heuristic document rules.

These are the north-rule extensions (BASELINE.json north_star; SURVEY.md
§2.11) — the per-document analog of the reference's per-table checks.

Execution split (same rationale as dq/models.py / dq/dedup.py):

- The five **token statistics** (n_words, len_sum, stop_count,
  distinct_count, alpha_count) are computed by ONE Arrow-vectorized
  pandas UDF per batch. The round-1/2 implementation used JVM
  higher-order functions (``F.aggregate`` / ``F.transform`` /
  ``F.filter`` lambdas) — those are *interpreted*, never enter
  whole-stage codegen, and measured as the worst-scaling pipeline stage
  (0.42 efficiency 8→32 cores vs the 0.77 host ceiling the Arrow stages
  reach — BENCH.md round 2). The UDF replaces ~5 interpreted per-token
  expression trees with C-regex passes + set ops per batch.
- The **ratios and rule verdicts** derived from the stats stay native
  Column expressions (cheap scalar arithmetic, codegen'd), as does the
  symbol count (``length(x) - length(translate(x, SYMBOLS, ''))`` —
  no regex, no HOF).
- :func:`with_heuristics_expr` keeps the pure Column-expression
  implementation as the JVM reference both paths are parity-tested
  against (tests/test_heuristics.py asserts zero mismatches on the
  corpus + adversarial fixtures); the DuckDB oracle
  (dq/queries.py ORACLE_HEURISTICS) mirrors the same semantics.

Rules (Gopher: Rae et al. 2021 "Scaling Language Models"; C4: Raffel et
al. 2020 — public papers, re-parameterized for the synthetic corpus):
- non_empty:       text is not NULL and has ≥1 token
- min/max_words:   50 ≤ n_words ≤ 100_000
- mean_word_len:   3 ≤ mean token length ≤ 12
- symbol_ratio:    symbol chars per word ≤ 0.10
- stopword_frac:   English-stopword token fraction ≥ 0.06
- distinct_ratio:  distinct-token fraction ≥ 0.20 (repetition filter)
- alpha_frac:      ≥ 0.80 of tokens contain a Unicode letter

Tokenizer contract (mirrored EXACTLY by the Python UDF, the Column
expressions, and the SQL oracle): ``split(lower(trim(text)), '\\s+')``
with Spark semantics — trim strips U+0020 only, Java ``\\s`` is ASCII
``[ \\t\\n\\x0B\\f\\r]``, and split keeps leading/trailing empty fields
(limit=-1). Token normalization removes every char outside Unicode
categories L*/N* (Java ``[^\\p{L}\\p{N}]``).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dq.vocab import EN_STOPWORDS

SYMBOL_CHARS = "#@^~|<>*={}[]$%&\\+_"
SYMBOL_CHARS_RE = r"[#@^~|<>*={}\[\]$%&\\+_]"
_LETTER_RE = "[\\p{L}]"


@dataclass(frozen=True)
class HeuristicConfig:
    min_words: int = 50
    max_words: int = 100_000
    min_mean_word_len: float = 3.0
    max_mean_word_len: float = 12.0
    max_symbol_ratio: float = 0.10
    min_stopword_frac: float = 0.06
    min_distinct_ratio: float = 0.20
    min_alpha_frac: float = 0.80


RULE_NAMES = [
    "rule_non_empty", "rule_min_words", "rule_max_words",
    "rule_mean_word_len", "rule_symbol_ratio", "rule_stopword_frac",
    "rule_distinct_ratio", "rule_alpha_frac",
]

STAT_COLS = ["n_words", "mean_word_len", "symbol_ratio", "stopword_frac",
             "distinct_ratio", "alpha_frac"]


# ------------------------------------------------------- token-stats UDF ---

# Java regex \s is ASCII-only ([ \t\n\x0B\f\r]); Python re.ASCII \s is the
# identical set. re.split == Java Pattern.split(limit=-1): both keep
# leading AND trailing empty fields for a non-zero-width pattern.
_WS_RE = re.compile(r"\s+", re.ASCII)
_STOPSET = frozenset(EN_STOPWORDS)
# Joining tokens with a private-use sentinel lets ONE C-regex pass
# normalize every token of a document; any document actually containing
# the sentinel takes the exact per-token fallback below.
_SEP = "\ue000"

_CLASS_CACHE: dict[str, re.Pattern] = {}


def _unicode_class(categories: tuple[str, ...]) -> str:
    """Regex character-class body for the chars whose Unicode major
    category is in ``categories`` — the exact Python-side equivalent of
    Java's ``\\p{L}`` / ``\\p{N}`` (same category taxonomy; table
    version skew only touches codepoints added between Unicode
    releases, which the parity tests would surface)."""
    import sys
    import unicodedata
    out = []
    start = prev = None
    for cp in range(sys.maxunicode + 1):
        if unicodedata.category(chr(cp))[0] in categories:
            if prev is not None and cp == prev + 1:
                prev = cp
            else:
                if start is not None:
                    out.append((start, prev))
                start = prev = cp
    if start is not None:
        out.append((start, prev))
    return "".join(
        (re.escape(chr(a)) if a == b
         else f"{re.escape(chr(a))}-{re.escape(chr(b))}")
        for a, b in out)


def _patterns() -> dict[str, re.Pattern]:
    """Lazily-built (once per process — driver or reused python worker)
    deletion regexes: everything outside the keep-class + sentinel."""
    if not _CLASS_CACHE:
        ln = _unicode_class(("L", "N"))
        letters = _unicode_class(("L",))
        _CLASS_CACHE["not_ln"] = re.compile(f"[^{ln}{_SEP}]")
        _CLASS_CACHE["not_l"] = re.compile(f"[^{letters}{_SEP}]")
        _CLASS_CACHE["not_ln_tok"] = re.compile(f"[^{ln}]")
        _CLASS_CACHE["not_l_tok"] = re.compile(f"[^{letters}]")
    return _CLASS_CACHE


# ASCII fast path: byte-level deletion tables (C memchr speed, ~30x the
# regex sub). Post-lower() ASCII letters are exactly a-z; ASCII \p{N} is
# 0-9. \x1f (unit separator) is the in-band token sentinel — docs that
# contain it take the general path.
_ASCII_SEP = "\x1f"
_ASCII_SEP_B = b"\x1f"
_KEEP_LN = set(b"abcdefghijklmnopqrstuvwxyz0123456789" + _ASCII_SEP_B)
_KEEP_L = set(b"abcdefghijklmnopqrstuvwxyz" + _ASCII_SEP_B)
_DEL_NOT_LN = bytes(b for b in range(128) if b not in _KEEP_LN)
_DEL_NOT_L = bytes(b for b in range(128) if b not in _KEEP_L)
_OTHER_WS = ("\t", "\n", "\x0b", "\x0c", "\r", "  ")


def _doc_token_stats(t: str | None, pats: dict[str, re.Pattern]
                     ) -> tuple[int, int, int, int, int]:
    """(n_words, len_sum, stop_count, distinct_count, alpha_count) for
    one document — the exact mirror of the Column-expression semantics
    (empty/NULL → zeros, matching the empty-array branch)."""
    if t is None or t.strip(" ") == "":
        return (0, 0, 0, 0, 0)
    lowered = t.strip(" ").lower()
    if lowered.isascii() and _ASCII_SEP not in lowered \
            and not any(w in lowered for w in _OTHER_WS):
        # single-space-separated ASCII (the common web-text shape after
        # trim): every separator is exactly one space, so token count and
        # length sum fall out of the space count, and one byte-translate
        # pass == the \p-class sub per token
        n_spaces = lowered.count(" ")
        b = lowered.replace(" ", _ASCII_SEP).encode("ascii")
        norm = b.translate(None, _DEL_NOT_LN).decode("ascii") \
                .split(_ASCII_SEP)
        alpha_toks = b.translate(None, _DEL_NOT_L).decode("ascii") \
                      .split(_ASCII_SEP)
        stop_count = sum(1 for w in norm if w in _STOPSET)
        return (n_spaces + 1, len(lowered) - n_spaces, stop_count,
                len(set(norm)), sum(1 for w in alpha_toks if w))
    else:
        toks = _WS_RE.split(lowered)
        len_sum = sum(map(len, toks))
        if _SEP not in lowered:
            joined = _SEP.join(toks)
            norm = pats["not_ln"].sub("", joined).split(_SEP)
            alpha_toks = pats["not_l"].sub("", joined).split(_SEP)
        else:  # sentinel collision: exact per-token fallback (rare)
            norm = [pats["not_ln_tok"].sub("", w) for w in toks]
            alpha_toks = [pats["not_l_tok"].sub("", w) for w in toks]
    stop_count = sum(1 for w in norm if w in _STOPSET)
    distinct_count = len(set(norm))
    alpha_count = sum(1 for w in alpha_toks if w)
    return (len(toks), len_sum, stop_count, distinct_count, alpha_count)


_TOKEN_STATS_TYPE = T.StructType([
    T.StructField("n_words", T.IntegerType()),
    T.StructField("len_sum", T.LongType()),
    T.StructField("stop_count", T.IntegerType()),
    T.StructField("distinct_count", T.IntegerType()),
    T.StructField("alpha_count", T.IntegerType()),
])


@F.pandas_udf(_TOKEN_STATS_TYPE)
def _token_stats_udf(texts: pd.Series) -> pd.DataFrame:
    pats = _patterns()
    rows = [_doc_token_stats(t, pats) for t in texts]
    arr = np.asarray(rows, dtype=np.int64).reshape(len(rows), 5)
    return pd.DataFrame({
        "n_words": arr[:, 0].astype(np.int32),
        "len_sum": arr[:, 1],
        "stop_count": arr[:, 2].astype(np.int32),
        "distinct_count": arr[:, 3].astype(np.int32),
        "alpha_count": arr[:, 4].astype(np.int32),
    })


# ----------------------------------------------------------- rule layer ---

def _with_rules(df: DataFrame, cfg: HeuristicConfig) -> DataFrame:
    """Ratios + rule verdicts from the five stat columns (native scalar
    Column arithmetic — fully codegen'd; shared by both stat paths)."""
    text = F.col("_ht_text")
    has_text = text.isNotNull() & (F.trim(text) != "")
    n_words = F.col("n_words")
    # per-char class count via translate-and-diff: identical result to
    # regexp_count over the class, ~5x cheaper (no regex engine)
    symbol_count = F.when(has_text,
                          F.length(text)
                          - F.length(F.translate(text, SYMBOL_CHARS, ""))
                          ).otherwise(0)
    df = df.withColumns({
        "mean_word_len": F.when(n_words > 0,
                                F.col("_len_sum") / n_words).otherwise(0.0),
        "symbol_ratio": symbol_count / F.greatest(n_words, F.lit(1)),
        "stopword_frac": F.when(n_words > 0,
                                F.col("_stop_count") / n_words).otherwise(0.0),
        "distinct_ratio": F.when(n_words > 0,
                                 F.col("_distinct_count") / n_words
                                 ).otherwise(0.0),
        "alpha_frac": F.when(n_words > 0,
                             F.col("_alpha_count") / n_words).otherwise(0.0),
    }).drop("_len_sum", "_stop_count", "_distinct_count", "_alpha_count")

    rules = {
        "rule_non_empty": has_text & (n_words > 0),
        "rule_min_words": n_words >= cfg.min_words,
        "rule_max_words": n_words <= cfg.max_words,
        "rule_mean_word_len": (F.col("mean_word_len") >= cfg.min_mean_word_len)
                              & (F.col("mean_word_len") <= cfg.max_mean_word_len),
        "rule_symbol_ratio": F.col("symbol_ratio") <= cfg.max_symbol_ratio,
        "rule_stopword_frac": F.col("stopword_frac") >= cfg.min_stopword_frac,
        "rule_distinct_ratio": F.col("distinct_ratio") >= cfg.min_distinct_ratio,
        "rule_alpha_frac": F.col("alpha_frac") >= cfg.min_alpha_frac,
    }
    gate = F.col("rule_non_empty")
    return df.withColumns({
        name: (cond if name == "rule_non_empty"
               else F.coalesce(gate & cond, F.lit(False)))
        for name, cond in rules.items()
    }).drop("_ht_text")


def with_heuristics(df: DataFrame, text_col: str = "text",
                    cfg: HeuristicConfig | None = None) -> DataFrame:
    """Append stat columns (n_words, mean_word_len, symbol_ratio,
    stopword_frac, distinct_ratio, alpha_frac) and boolean rule_* columns.

    NULL/empty text yields False for every rule (dropped, and counted as
    failures in the per-rule metrics — the analog of the reference's
    null_columns semantics at document grain).

    Token stats come from one Arrow-batched pandas UDF (module
    docstring); materialized via ``withColumn`` so the struct is
    computed ONCE (CollapseProject will not inline a non-cheap
    multi-referenced expression — the UDF appears as a single
    ArrowEvalPython node in the plan, asserted in tests).
    """
    cfg = cfg or HeuristicConfig()
    st = F.col("_ts")
    return _with_rules(
        df.withColumn("_ts", _token_stats_udf(F.col(text_col)))
          .withColumns({
              "_ht_text": F.col(text_col),
              "n_words": st["n_words"],
              "_len_sum": st["len_sum"],
              "_stop_count": st["stop_count"],
              "_distinct_count": st["distinct_count"],
              "_alpha_count": st["alpha_count"],
          }).drop("_ts"),
        cfg)


def with_heuristics_expr(df: DataFrame) -> DataFrame:
    """Pure Column-expression implementation — IDENTICAL semantics to
    :func:`with_heuristics` (over ``text``, default config), kept as the
    JVM-side reference for parity tests and oracle authoring.

    NOT the hot path: the per-token work runs in *interpreted*
    higher-order functions (``F.aggregate`` / ``F.transform`` /
    ``F.filter`` lambdas never enter whole-stage codegen) and measured
    0.42 scaling efficiency 8→32 cores as a pipeline stage — use the
    Arrow-UDF default for anything data-wide.
    """
    text = F.col("text")
    has_text = text.isNotNull() & (F.trim(text) != "")

    # lowercase ONCE on the full string, then tokenize; normalize ONCE:
    # the normalized array feeds both the stopword count and the
    # distinct-token count
    words = F.when(has_text, F.split(F.lower(F.trim(text)), r"\s+")) \
             .otherwise(F.array().cast("array<string>"))
    df = (df.withColumn("_words", words)
            .withColumn("_norm", F.transform(
                F.col("_words"),
                lambda w: F.regexp_replace(w, r"[^\p{L}\p{N}]", ""))))
    words = F.col("_words")

    # literal map → constant-folded hash lookup per token (vs an
    # O(|stop|) array scan per token); try_element_at: element_at throws
    # MAP_KEY_DOES_NOT_EXIST under ANSI mode (Spark 4 default)
    stop_map = F.create_map(*[x for w in EN_STOPWORDS
                              for x in (F.lit(w), F.lit(1))])
    df = df.withColumns({
        "_ht_text": text,
        "n_words": F.size(words),
        "_len_sum": F.aggregate(words, F.lit(0).cast("bigint"),
                                lambda acc, w: acc + F.length(w)),
        "_stop_count": F.size(F.filter(
            F.col("_norm"),
            lambda t: F.try_element_at(stop_map, t).isNotNull())),
        "_distinct_count": F.size(F.array_distinct(F.col("_norm"))),
        "_alpha_count": F.size(F.filter(words,
                                        lambda w: w.rlike(_LETTER_RE))),
    }).drop("_words", "_norm")
    return _with_rules(df, HeuristicConfig())

