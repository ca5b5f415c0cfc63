"""Compiled-regex PII/toxicity scrubbing — byte-identical Python semantics.

North-rule requirement (BASELINE.json): scrubbed text must be
byte-identical per url to the Python-defined reference semantics. JVM
``regexp_replace`` has subtly different regex semantics (Unicode ``\\w``
classes, etc.), so the scrub runs Python ``re`` inside an Arrow-vectorized
pandas UDF: module-level compiled patterns, reused per batch, no per-row
Python UDFs (SURVEY.md §2.9).

``scrub_string`` is the single source of truth; the pandas UDF and the
golden tests both call it, which is what makes byte-identity testable.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dq.vocab import TOXIC_LEXICON

EMAIL_TOKEN = "[EMAIL]"
PHONE_TOKEN = "[PHONE]"
IP_TOKEN = "[IP]"
TOXIC_TOKEN = "[CENSORED]"

EMAIL_RE = re.compile(
    r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")
# international (+1-555-012-3456) and local ((555) 012-3456 / 555-012-3456)
PHONE_RE = re.compile(
    r"(?:\+\d{1,3}(?:[-. ]\d{2,4}){2,4})"
    r"|(?:\(\d{3}\)[-. ]?\d{2,4}[-. ]\d{2,4})"
    r"|(?:\b\d{3}[-.]\d{3,4}[-.]\d{2,4}\b)")
IPV4_RE = re.compile(
    r"\b(?:(?:25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)\.){3}"
    r"(?:25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)\b")
TOXIC_RE = re.compile(
    r"\b(?:" + "|".join(re.escape(w) for w in TOXIC_LEXICON) + r")\b",
    re.IGNORECASE | re.UNICODE)


# Every EMAIL match contains a literal '@' and every IPV4/PHONE match
# contains a '\d' char (same engine, same Unicode digit class), so a text
# with no [@\d] occurrence is provably a no-op for all three subs — one
# trivial single-class scan replaces three complex-pattern scans on the
# (common) PII-free document. Byte-identity is preserved by construction.
_PII_PREFILTER = re.compile(r"[@\d]")

# Toxic prefilter: on pure-ASCII text, IGNORECASE literal matching
# reduces to ASCII case, so TOXIC_RE can only match if lower(text)
# contains one of the lexicon words as a substring (the \b boundaries
# only narrow that). isascii + lower + 5 C-speed substring scans beat
# the interpreted alternation scan ~14x on clean documents. Non-ASCII
# text skips the shortcut: sre's Unicode IGNORECASE folds equivalences
# lower() does not (ſ→s, K→k, ı→i), so only the full regex is sound
# there. Byte-identity is preserved by construction (prefilter is a
# strict over-approximation of the regex's match opportunities).
_TOXIC_SUBSTRINGS = tuple(w.lower() for w in TOXIC_LEXICON)
# The shortcut above is sound ONLY for an all-ASCII lexicon: a non-ASCII
# lexicon word whose Unicode IGNORECASE fold matches ASCII text (e.g.
# 'ſ' folding to 's') would be missed by the substring scan. Enforce the
# invariant the optimization depends on instead of assuming it.
# A real raise, not `assert`: python -O strips asserts, and executors
# commonly run PYTHONOPTIMIZE'd — the one mode where losing this guard
# would silently break the byte-identity contract.
if not all(w.isascii() for w in TOXIC_LEXICON):
    raise ValueError("ASCII toxic-prefilter requires a pure-ASCII lexicon; "
                     "remove the shortcut in scrub_string before adding "
                     "non-ASCII lexicon words")


def scrub_string(text: str | None) -> str | None:
    """Pure-Python scrub — the byte-identity contract."""
    if text is None:
        return None
    if _PII_PREFILTER.search(text):
        out = EMAIL_RE.sub(EMAIL_TOKEN, text)
        out = IPV4_RE.sub(IP_TOKEN, out)
        out = PHONE_RE.sub(PHONE_TOKEN, out)
    else:
        out = text
    if out.isascii():
        low = out.lower()
        if not any(w in low for w in _TOXIC_SUBSTRINGS):
            return out
    return TOXIC_RE.sub(TOXIC_TOKEN, out)


@F.pandas_udf(T.StringType())
def scrub_udf(texts: pd.Series) -> pd.Series:
    # Changes only: scrub_string(t) where it differs from t, else NULL, so
    # unchanged texts cross back as nulls; coalesce(scrub_udf(t), t) is the
    # scrub. Arrow batch in/out; compiled patterns shared across batches.
    out = texts.map(scrub_string, na_action="ignore")
    return out.where(out != texts, None)
