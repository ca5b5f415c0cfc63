"""Golden scrub tests (byte-identity) and model behavior."""

import math

from dq.models import LANGID_MODEL, LM_MODEL
from dq.scrub import scrub_string, scrub_udf

GOLDEN = [
    ("mail me at jane.doe+spam@example.co.uk today",
     "mail me at [EMAIL] today"),
    ("call +1-555-012-3456 or (555) 012-3456 now",
     "call [PHONE] or [PHONE] now"),
    ("server at 203.12.44.7 and 10.0.0.1 replied",
     "server at [IP] and [IP] replied"),
    ("that frakking GORRAM box", "that [CENSORED] [CENSORED] box"),
    ("no pii here at all", "no pii here at all"),
    ("", ""),
    (None, None),
    # ambiguity: version strings are not IPs (only 3 octets)
    ("upgrade to 1.2.3 now", "upgrade to 1.2.3 now"),
]


def test_scrub_golden():
    for raw, want in GOLDEN:
        assert scrub_string(raw) == want, (raw, scrub_string(raw), want)


def test_scrub_spark_matches_python_bytewise(spark):
    texts = [g[0] for g in GOLDEN if g[0] is not None] + [
        "Contact erin@example.com or call +1-555-087-8965 from host "
        "203.10.139.157. That felgercarb server is down."]
    texts.append(None)
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = df.select("text", scrub_udf("text").alias("s")).collect()
    want = [scrub_string(t) for t in texts]
    # changes only: NULL exactly where the scrub leaves the text as is
    assert [r.s is None for r in got] == [w == t for w, t in zip(want, texts)]
    assert [r.text if r.s is None else r.s for r in got] == want


def test_langid_on_vocab_sentences():
    assert LANGID_MODEL.predict(
        "the river and the mountain near the village garden") == "en"
    assert LANGID_MODEL.predict(
        "le jardin de la ville et les montagnes dans le pays") == "fr"
    assert LANGID_MODEL.predict(
        "die geschichte der stadt und das wasser im garten") == "de"
    assert LANGID_MODEL.predict("في من على حديقة نافذة رحلة") == "ar"
    assert LANGID_MODEL.predict("xqzt vrbk qqvn zzkr wxjf ptkk") == "unk"
    assert LANGID_MODEL.predict(None) == "unk"
    assert LANGID_MODEL.predict("") == "unk"


def test_perplexity_orders_languages():
    en = LM_MODEL.perplexity(
        "the river and the mountain were seen from the village garden "
        "and the people of the valley said that the harvest was good")
    fr = LM_MODEL.perplexity(
        "le jardin de la ville et les montagnes dans le pays des fleuves")
    assert en < 500 < 10_000 < fr
    assert math.isinf(LM_MODEL.perplexity(None))
    assert math.isinf(LM_MODEL.perplexity("!!! ... ###"))


ADVERSARIAL = [
    None, "", " ", "\t\n", "a", "ab", "the", "İstanbul İİİ",  # İ.lower() len 2
    "café ́combining", "emoji 😀 mix the and of",
    " nbsp led", "\x0bvt\x0cff", "le the der في",
    "x" * 1000, ("the and of " * 200).strip(),   # > MAX truncation paths
    "!!! ... ###", "123 456 789",
]


def test_batch_scorers_bit_identical(spark):
    """predict_batch / perplexity_batch must equal the single-doc
    scorers EXACTLY (==, not approx) — the batch forms reuse the same
    per-doc numpy reductions over contiguous views, so any divergence
    is a real bug, not float noise."""
    from dq.synth import webpages
    texts = [r.text for r in webpages(spark, 3000).select("text")
             .collect()] + ADVERSARIAL
    # langid: exact label equality
    want = [LANGID_MODEL.predict(t) for t in texts]
    got = LANGID_MODEL.predict_batch(texts)
    assert got == want
    # perplexity: exact float equality (inf included)
    want_p = [LM_MODEL.perplexity(t) for t in texts]
    got_p = LM_MODEL.perplexity_batch(texts)
    assert len(got_p) == len(want_p)
    for g, w in zip(got_p, want_p):
        assert (math.isinf(g) and math.isinf(w)) or g == w


def test_models_deterministic_rebuild():
    from dq.models import LangIdModel, NGramLM
    assert LangIdModel.train().profiles == LANGID_MODEL.profiles
    m2 = NGramLM.train()
    assert m2.uni == LM_MODEL.uni and m2.bi == LM_MODEL.bi
