"""Deterministic language-ID and n-gram perplexity models.

North-rule stages (BASELINE.json): "fastText-style language-ID and
KenLM-style n-gram perplexity scoring inside vectorized pandas/Arrow UDFs
(model broadcast per executor, no per-row Python)".

Both models are trained at import time from the fixed vocabularies in
``dq.vocab`` (seeded, no wall clock, no external data), so every run —
at any parallelism — produces identical scores. They are intentionally
small, pure-Python stand-ins with the same *shape* as fastText/KenLM:

- LangId: per-language **UTF-8 byte-trigram** log-probability profiles
  hashed into a shared 2^16-bucket table (fastText's hashed char-n-gram
  buckets, minus the learned weights); prediction = argmax of mean
  trigram log-prob, with an "unk" floor.
- NGramLM: interpolated word-bigram/unigram model with add-k smoothing
  (KenLM's backoff shape); score = perplexity over ASCII-letter tokens.

Memory-bandwidth design (the round-5 rework — the models stage is the
most expensive pipeline stage at scale, and its per-doc memory traffic
is what stops it scaling across cores on a bandwidth-bound host):

- **No UTF-32 materialization.** Scoring runs directly on the UTF-8
  byte buffer of one ``pyarrow`` StringArray per batch (offsets give
  the per-doc segments) — 1 byte/char of ASCII web text instead of the
  4 bytes/char the previous codepoint LUT path encoded, gathered and
  re-read.
- **Cache-resident tables.** The langid score table is
  ``(2^16 buckets, n_langs) float32`` ≈ 1 MB (vs the previous ~7 MB
  float64 dense-alphabet table) and the gather output is float32 —
  both the random-access working set and the streamed score rows fit
  in per-core cache instead of thrashing shared bandwidth.
- **No per-document Python.** Per-doc reductions are segmented
  ``np.add.reduceat`` calls over the whole batch; tokenization is a
  byte-class LUT + boundary diff; vocab lookup packs each token's
  bytes into two uint64 keys and binary-searches a 155-entry sorted
  key table (exact — the vocabulary is ASCII and ≤ 16 bytes, so the
  packed keys determine token identity; no hash collisions).

The models are broadcast once per executor via ``SparkContext.broadcast``
and applied through Arrow-vectorized pandas UDFs. ``predict`` /
``perplexity`` remain independent per-document reference implementations
(plain Python loops over the same byte semantics); the batch forms are
property-tested bit-identical to them (tests/test_property.py,
tests/test_scrub_models.py).

Reference parity: the reference has no ML scoring — these stand in for
the fastText/KenLM stages the north rule adds on top of its rule checks
(ref core/quality_checks.py applies per-table boolean checks; here the
same keep/drop conjunction gains model-scored members).
"""

from __future__ import annotations

import math
import random
import re
from collections import Counter

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dq.vocab import (
    AR_WORDS,
    DE_WORDS,
    EN_CONTENT,
    EN_STOPWORDS,
    FR_WORDS,
)

LANG_PROFILES_SOURCE: dict[str, list[str]] = {
    # stopwords over-weighted 3x for English to mirror real text (and the
    # generator's 45% stopword rate)
    "en": EN_STOPWORDS * 3 + EN_CONTENT,
    "fr": FR_WORDS,
    "de": DE_WORDS,
    "ar": AR_WORDS,
}

UNK_LOGPROB_FLOOR = -13.0     # unseen-trigram penalty
UNK_SCORE_CUTOFF = -9.0       # best mean log-prob below this → 'unk'
MAX_LANGID_BYTES = 400        # score the first 400 UTF-8 bytes
MAX_PPL_TOKENS = 400
DEFAULT_PPL_THRESHOLD = 1000.0

_N_BUCKETS = 1 << 16
_FIB32 = 2654435761           # Knuth multiplicative-hash constant
_FIB64 = 0x9E3779B97F4A7C15   # 64-bit golden-ratio constant
_HASH_TABLE_SIZE = 2048       # vocab probe table (load factor ~0.08)

# zero-padding masks: keep the top min(len, 8) bytes of a big-endian
# 8-byte window read (so trailing bytes past the token are dropped
# without a per-byte mask pass)
_KEY_MASKS = np.array(
    [0] + [(0xFFFFFFFFFFFFFFFF << (8 * (8 - n))) & 0xFFFFFFFFFFFFFFFF
           for n in range(1, 9)], dtype=np.uint64)


def _key_slot(k1, k2):
    """Home slot of a packed token key in the vocab probe table (works
    elementwise on uint64 arrays and scalars alike)."""
    h = (k1 * np.uint64(_FIB64)) ^ (k2 * np.uint64(0xC2B2AE3D27D4EB4F))
    return h >> np.uint64(64 - 11)            # table size 2^11

# ASCII case fold as a byte transform (A-Z → a-z, every other byte —
# including UTF-8 continuation/lead bytes, all ≥ 0x80 — untouched).
# Applied identically by the scalar paths (bytes.translate) and the
# batch paths (uint8 LUT), so the two are equal by construction.
_ASCII_LOWER_TABLE = bytes(
    b + 32 if 0x41 <= b <= 0x5A else b for b in range(256))
_ASCII_LOWER_LUT = np.frombuffer(_ASCII_LOWER_TABLE, dtype=np.uint8)

# token = maximal run of ASCII letters a-z after the fold (the LM vocab
# is ASCII, so any token containing another byte is OOV by definition)
_IS_LETTER_LUT = np.zeros(256, dtype=bool)
_IS_LETTER_LUT[ord("a"):ord("z") + 1] = True
_TOKEN_BYTES_RE = re.compile(rb"[a-z]+")


def _hash_trigram(b0: int, b1: int, b2: int) -> int:
    """16-bit Fibonacci hash of one byte trigram (scalar form — the
    batch path computes the identical function vectorized in uint32)."""
    code = (b0 << 16) | (b1 << 8) | b2
    return ((code * _FIB32) & 0xFFFFFFFF) >> 16


# Chunked-scoring scratch (process-lifetime, lazily built per worker).
# The langid batch path processes documents in document-aligned chunks
# of ~64 KB so its gathered score rows live in a reused cache-resident
# buffer instead of a fresh batch-sized (bytes × n_langs) float32
# matrix: measured on a 32-worker box, the batch-sized gather ran 5.3x
# slower per worker than single-worker (DRAM write contention + page
# allocator churn on the ~64 MB/batch transient), while every value,
# zero-row, and per-document reduceat segment is unchanged — trigrams
# that cross a chunk boundary cross a document boundary by
# construction, and those rows were already zeroed.
_LANGID_CHUNK = 1 << 16
_SCRATCH: dict[str, np.ndarray] = {}


def _scratch(name: str, shape: tuple, dtype) -> np.ndarray:
    buf = _SCRATCH.get(name)
    if buf is None or buf.shape != shape or buf.dtype != dtype:
        buf = np.empty(shape, dtype=dtype)
        _SCRATCH[name] = buf
    return buf


def _scratch_cap(name: str, n: int, dtype) -> np.ndarray:
    """Length-``n`` view of a capacity-grown scratch buffer (for the
    perplexity path, whose chunk size is bounded by the byte budget
    only when no single document exceeds it — one huge document grows
    the buffer once and it stays)."""
    buf = _SCRATCH.get(name)
    if buf is None or buf.size < n or buf.dtype != dtype:
        cap = max(n, _PPL_CHUNK + 64)
        buf = np.empty(cap + (cap >> 1), dtype=dtype)
        _SCRATCH[name] = buf
    return buf[:n]


_PPL_CHUNK = 1 << 17


def _as_string_array(texts) -> pa.Array:
    """Normalize a batch (pd.Series from the Arrow UDF boundary, or any
    sequence of str|None) to ONE pyarrow StringArray — the batch scorers
    then work directly on its UTF-8 data buffer + offsets, with no
    per-document Python string handling."""
    if isinstance(texts, pa.ChunkedArray):
        texts = texts.combine_chunks()
    if isinstance(texts, pa.Array):
        if not pa.types.is_string(texts.type):
            texts = texts.cast(pa.string())
        return texts
    if isinstance(texts, pd.Series):
        try:
            return pa.array(texts, type=pa.string(), from_pandas=True)
        except (pa.ArrowInvalid, pa.ArrowTypeError):
            texts = texts.tolist()
    return pa.array([t if isinstance(t, str) else None for t in texts],
                    type=pa.string())


def _string_view(arr: pa.Array):
    """(offsets int64[k+1], data uint8[B], valid bool[k]|None) numpy views
    of a StringArray, rebased so offsets index ``data`` from 0."""
    off = np.frombuffer(arr.buffers()[1], dtype=np.int32)
    off = off[arr.offset: arr.offset + len(arr) + 1].astype(np.int64)
    dbuf = arr.buffers()[2]
    data = (np.frombuffer(dbuf, dtype=np.uint8) if dbuf is not None
            else np.empty(0, dtype=np.uint8))
    base = off[0]
    if base:
        off = off - base
        data = data[base:]
    data = data[: off[-1]]
    valid = None
    if arr.null_count:
        valid = pc.is_valid(arr).to_numpy(zero_copy_only=False)
    return off, data, valid


class LangIdModel:
    """Hashed byte-trigram profile scorer (fastText-shaped API).

    Scoring is fully numpy-vectorized over the batch's shared UTF-8
    buffer: three shifted uint8 views make the trigram codes, a 16-bit
    Fibonacci hash indexes one ``(2^16, n_langs) float32`` table (~1 MB
    — cache-resident), and per-document sums are segmented
    ``np.add.reduceat`` reductions (rows that span document boundaries
    or fall past the per-doc byte cap are zeroed first, which adds an
    exact +0.0 to the affected sums). Distinct profile trigrams that
    share a bucket fold their counts — the same shared-bucket semantics
    fastText's hashed n-gram features have.
    """

    def __init__(self, profiles: dict[str, dict[bytes, int]]):
        self.profiles = profiles          # per-lang byte-trigram counts
        self.langs = list(profiles)
        n_langs = len(self.langs)
        table = np.full((_N_BUCKETS, n_langs), UNK_LOGPROB_FLOOR,
                        dtype=np.float32)
        for j, lang in enumerate(self.langs):
            counts = profiles[lang]
            total = sum(counts.values())
            bucket: Counter = Counter()
            for tri, c in counts.items():
                bucket[_hash_trigram(tri[0], tri[1], tri[2])] += c
            for idx, c in bucket.items():
                table[idx, j] = np.float32(math.log(c / total))
        self._table = table
        self._labels = np.array(self.langs + ["unk"], dtype=object)
        self._unk_idx = n_langs

    @classmethod
    def train(cls) -> "LangIdModel":
        profiles = {}
        for lang, words in LANG_PROFILES_SOURCE.items():
            counts: Counter = Counter()
            for w in words:
                b = (" " + w.lower() + " ").encode("utf-8")
                for i in range(len(b) - 2):
                    counts[b[i:i + 3]] += 1
            profiles[lang] = dict(counts)
        return cls(profiles)

    def predict(self, text: str | None) -> str:
        """Per-document reference scorer — independent plain-Python
        mirror of the batch path's byte semantics (same fold LUT, same
        hash, and the same reduction SHAPE: ``np.add.reduceat`` sums
        with pairwise blocking whose rounding depends on the segment
        length, so both paths reduce an ``n``-row segment of ``n-2``
        scored rows + 2 zero rows — bit-identical by construction)."""
        if not isinstance(text, str) or not text:
            return "unk"
        b = text.encode("utf-8")[:MAX_LANGID_BYTES] \
                .translate(_ASCII_LOWER_TABLE)
        n = len(b)
        n2 = n - 2
        if n2 < 1:
            return "unk"
        idx = np.fromiter(
            (_hash_trigram(b[i], b[i + 1], b[i + 2]) for i in range(n2)),
            dtype=np.int64, count=n2)
        rows = np.zeros((n, self._table.shape[1]), dtype=np.float32)
        rows[:n2] = self._table[idx]
        sums = np.add.reduceat(rows, np.array([0]), axis=0)[0]
        mean = sums.max() / np.int64(n2)
        if mean < UNK_SCORE_CUTOFF:
            return "unk"
        return self.langs[int(sums.argmax())]

    def predict_batch(self, texts) -> list:
        """Batch form of :func:`predict` — zero per-document Python.

        ``pc.binary_slice`` compacts every document to its scored
        byte prefix (so no trigram work runs past the cap), one pass
        builds the hashed trigram codes for the whole sliced buffer,
        rows outside a document's scored range (the 2 boundary spans
        per doc) are zeroed, and one segmented ``np.add.reduceat``
        per chunk produces every document's per-language sum. Each
        document's segment is exactly its ``n`` sliced bytes (n-2
        scored rows + 2 zero rows) — the same reduction tree as
        :func:`predict`, hence bit-identical (property-tested).

        Work proceeds in DOCUMENT-ALIGNED chunks of ~64 KB through
        reused scratch buffers (see ``_LANGID_CHUNK``): chunking
        changes no value — a chunk's final 2 rows correspond to global
        positions that are either past a document's scored range or
        cross into the next document, both zeroed in the unchunked
        formulation too — it only keeps the gather's working set
        cache-resident so 32 parallel workers stop fighting for DRAM
        write bandwidth."""
        arr = _as_string_array(texts)
        k = len(arr)
        if k == 0:
            return []
        sliced = pc.binary_slice(arr.cast(pa.binary()), 0,
                                 MAX_LANGID_BYTES)
        off, data, valid = _string_view(sliced)
        n2 = (off[1:] - off[:-1]) - 2            # trigram rows per doc
        scorable = n2 >= 1
        if valid is not None:
            scorable &= valid
        B = data.size
        if B < 3 or not scorable.any():
            return ["unk"] * k
        L = self._table.shape[1]
        # chunk capacity: every sliced doc is <= MAX_LANGID_BYTES + a
        # guard, so a single doc always fits one chunk
        cap = max(_LANGID_CHUNK, MAX_LANGID_BYTES + 8)
        lowbuf = _scratch("lang_low", (cap,), np.uint8)
        codebuf = _scratch("lang_code", (cap,), np.uint32)
        rowsbuf = _scratch("lang_rows", (cap, L), np.float32)
        keepbuf = _scratch("lang_keep", (cap + 1,), np.int8)
        cumbuf = _scratch("lang_cum", (cap,), np.int64)
        maskbuf = _scratch("lang_mask", (cap,), bool)
        # documents whose (empty) slice starts at B have no rows; they
        # are a suffix (offsets are monotone) — excluding them lets the
        # last real document's segment run to the array end, keeping
        # every segment length == its doc's sliced byte count
        nvalid = int(np.searchsorted(off[:-1], B, "left"))
        sums = np.zeros((nvalid, L), dtype=np.float32)
        d0 = 0
        while d0 < nvalid:
            a = off[d0]
            d1 = int(np.searchsorted(off, a + _LANGID_CHUNK, "right")) - 1
            d1 = max(d1, d0 + 1)
            d1 = min(d1, nvalid)
            b = off[d1]
            Bc = int(b - a)
            d0_next = d1
            if Bc == 0:
                d0 = d0_next
                continue
            Rc = Bc - 2
            g = rowsbuf[:Bc]
            if Rc >= 1:
                low_c = lowbuf[:Bc]
                np.take(_ASCII_LOWER_LUT, data[a:b], out=low_c)
                code = codebuf[:Rc]
                code[:] = low_c[:-2]
                code <<= 8
                code |= low_c[1:-1]
                code <<= 8
                code |= low_c[2:]
                code *= np.uint32(_FIB32)
                code >>= np.uint32(16)
                np.take(self._table, code, axis=0, out=g[:Rc])
                g[Rc:] = 0.0
            else:
                g[:] = 0.0
            # zero every row not inside a document's scored range
            # [s_i, s_i + max(n2_i, 0)): +1/-1 deltas, cumsum > 0 = keep
            starts_c = (off[d0:d1] - a).astype(np.int64)
            keep = keepbuf[:Bc + 1]
            keep[:] = 0
            np.add.at(keep, starts_c, 1)
            np.add.at(keep, starts_c + np.maximum(n2[d0:d1], 0), -1)
            cum = cumbuf[:Bc]
            np.cumsum(keep[:-1], out=cum)
            mask = maskbuf[:Bc]
            np.less_equal(cum, 0, out=mask)
            g[mask] = 0.0
            nv_c = int(np.searchsorted(starts_c, Bc, "left"))
            if nv_c:
                np.add.reduceat(g, starts_c[:nv_c], axis=0,
                                out=sums[d0:d0 + nv_c])
            d0 = d0_next
        mx = sums.max(axis=1)
        mean = mx / np.maximum(n2[:nvalid], 1)
        pick = np.where(scorable[:nvalid] & (mean >= UNK_SCORE_CUTOFF),
                        sums.argmax(axis=1), self._unk_idx)
        out = np.full(k, "unk", dtype=object)
        out[:nvalid] = self._labels[pick]
        return out.tolist()


class NGramLM:
    """Interpolated bigram LM with add-k smoothing (KenLM-shaped scorer).

    Tokens are maximal runs of ASCII letters after an ASCII case fold
    (the vocabulary is ASCII, so any token containing another byte is
    OOV either way); every OOV token scores identically under add-k
    smoothing, so collapsing all OOV onto one UNK row/column reproduces
    the dict model exactly. The (V+1)² float64 log-prob table is
    ~200 KB — L2-resident.
    """

    def __init__(self, uni: dict[str, float], bi: dict[tuple[str, str], int],
                 uni_counts: dict[str, int], n_tokens: int, vocab_size: int,
                 k: float = 0.1, lambda_bi: float = 0.6):
        self.uni = uni
        self.bi = bi
        self.uni_counts = uni_counts
        self.n = n_tokens
        self.v = vocab_size
        self.k = k
        self.lambda_bi = lambda_bi
        words = sorted(uni_counts)
        for w in words:
            if not re.fullmatch(r"[a-z]{1,16}", w):
                raise ValueError(
                    f"vocab word {w!r} breaks the packed-key tokenizer "
                    "contract (ASCII a-z, <= 16 bytes)")
        self._vid = {w: i for i, w in enumerate(words)}
        self._unk = len(words)
        sentinel = "\x00"                 # guaranteed-OOV stand-in
        vocab_plus = words + [sentinel]
        vp = len(vocab_plus)
        self._logp_uni = np.array(
            [math.log(self._p_uni(w)) for w in vocab_plus])
        logp_bi = np.empty((vp, vp))
        for pi, prev in enumerate(vocab_plus):
            for wi, w in enumerate(vocab_plus):
                logp_bi[pi, wi] = math.log(self._p(prev, w))
        self._logp_bi = logp_bi
        # --- packed-key vocab index: a token of <= 16 bytes is uniquely
        # determined by (first 8 bytes, next 8 bytes) zero-padded big-
        # endian, so an exact-match probe over these keys IS exact dict
        # lookup. The probe table is tiny open addressing (linear, load
        # factor ~0.08): a vocab hit resolves within ``_max_probe``
        # slots (computed at build); a key1 of 0 marks an empty slot —
        # no real token packs to 0 (its first byte is a letter).
        n_words = len(words)
        k1 = np.zeros(n_words, dtype=np.uint64)
        k2 = np.zeros(n_words, dtype=np.uint64)
        for i, w in enumerate(words):
            wb = w.encode("ascii")
            k1[i] = int.from_bytes(wb[:8].ljust(8, b"\0"), "big")
            k2[i] = int.from_bytes(wb[8:16].ljust(8, b"\0"), "big")
        size = _HASH_TABLE_SIZE
        self._hk1 = np.zeros(size, dtype=np.uint64)
        self._hk2 = np.zeros(size, dtype=np.uint64)
        self._hid = np.zeros(size, dtype=np.int64)
        self._max_probe = 1
        homes = _key_slot(k1, k2)
        for i in range(n_words):
            slot = int(homes[i])
            probe = 1
            while self._hk1[slot] != 0:
                slot = (slot + 1) % size
                probe += 1
            self._hk1[slot] = k1[i]
            self._hk2[slot] = k2[i]
            self._hid[slot] = i
            self._max_probe = max(self._max_probe, probe)

    @classmethod
    def train(cls) -> "NGramLM":
        n_tokens = 60_000
        rng = random.Random(1234)
        toks = []
        for _ in range(n_tokens):
            if rng.random() < 0.45:
                toks.append(rng.choice(EN_STOPWORDS))
            else:
                toks.append(rng.choice(EN_CONTENT))
        uni_counts = Counter(toks)
        bi_counts = Counter(zip(toks, toks[1:]))
        v = len(uni_counts)
        k = 0.1
        uni = {w: (c + k) / (n_tokens + k * (v + 1))
               for w, c in uni_counts.items()}
        return cls(uni, dict(bi_counts), dict(uni_counts), n_tokens, v, k)

    def _p_uni(self, w: str) -> float:
        return self.uni.get(w, self.k / (self.n + self.k * (self.v + 1)))

    def _p_bi(self, prev: str, w: str) -> float:
        cprev = self.uni_counts.get(prev, 0)
        cbi = self.bi.get((prev, w), 0)
        return (cbi + self.k) / (cprev + self.k * (self.v + 1))

    def _p(self, prev: str, w: str) -> float:
        # Witten-Bell-shaped interpolation: unseen contexts fall back to
        # the unigram entirely, so OOV text keeps its full penalty instead
        # of inheriting the smoothed-bigram uniform mass.
        cprev = self.uni_counts.get(prev, 0)
        lam = cprev / (cprev + 40.0)
        return lam * self._p_bi(prev, w) + (1 - lam) * self._p_uni(w)

    def _token_ids(self, toks: list[bytes]) -> np.ndarray:
        vid, unk = self._vid, self._unk
        return np.fromiter(
            (vid.get(t.decode("ascii"), unk) for t in toks),
            dtype=np.int64, count=len(toks))

    def perplexity(self, text: str | None) -> float:
        """Per-document reference scorer — independent plain-Python
        mirror of the batch path (same byte fold + [a-z]+ tokenizer,
        dict vocab lookup, sequential reduceat sum, np.exp)."""
        if not isinstance(text, str) or not text:
            return float("inf")
        b = text.encode("utf-8").translate(_ASCII_LOWER_TABLE)
        toks = _TOKEN_BYTES_RE.findall(b)[:MAX_PPL_TOKENS]
        if not toks:
            return float("inf")
        ids = self._token_ids(toks)
        n = len(ids)
        # reduction SHAPE matches the batch path: np.add.reduceat sums
        # with pairwise blocking whose rounding depends on segment
        # length, so both paths reduce an n-slot segment of n-1 bigram
        # log-probs + 1 zero slot — bit-identical by construction
        pair_lp = np.zeros(n, dtype=np.float64)
        if n > 1:
            pair_lp[:-1] = self._logp_bi[ids[:-1], ids[1:]]
        lp = self._logp_uni[ids[0]] + np.add.reduceat(pair_lp,
                                                      np.array([0]))[0]
        return float(np.exp(np.array([-lp / n]))[0])

    def perplexity_batch(self, texts) -> list:
        """Batch form of :func:`perplexity` — zero per-document Python.

        The whole batch's UTF-8 buffer is case-folded by LUT, token
        boundaries come from a letter-class diff (document starts force
        breaks), each token's bytes pack into two uint64 keys matched
        exactly against the sorted vocab keys, and per-document bigram
        log-prob sums are one segmented ``np.add.reduceat`` (document-
        crossing pairs are zeroed — an exact +0.0 as each segment's
        final addend). Bit-identical to mapping :func:`perplexity`
        (property-tested)."""
        arr = _as_string_array(texts)
        kdocs = len(arr)
        if kdocs == 0:
            return []
        off, data, valid = _string_view(arr)
        inf = float("inf")
        if data.size == 0:
            return [inf] * kdocs
        B = data.size
        ppl = np.full(kdocs, inf)
        # Document-aligned chunks through reused scratch (same rationale
        # and value-preservation argument as predict_batch: no token or
        # bigram pair crosses a document, so none crosses a chunk; the
        # chunk's final token takes the zero sentinel exactly where the
        # unchunked formulation zeroed its document-crossing pair).
        d0 = 0
        while d0 < kdocs:
            a = int(off[d0])
            d1 = int(np.searchsorted(off, a + _PPL_CHUNK, "right")) - 1
            d1 = max(d1, d0 + 1)
            d1 = min(d1, kdocs)
            b = int(off[d1])
            Bc = b - a
            if Bc == 0:                 # empty docs: ppl stays inf
                d0 = d1
                continue
            kc = d1 - d0
            off_c = off[d0:d1 + 1] - a
            low = _scratch_cap("ppl_low", Bc, np.uint8)
            np.take(_ASCII_LOWER_LUT, data[a:b], out=low)
            letter = _scratch_cap("ppl_letter", Bc, bool)
            np.take(_IS_LETTER_LUT, low, out=letter)
            prev = _scratch_cap("ppl_prev", Bc, bool)
            prev[0] = False
            prev[1:] = letter[:-1]
            nxt = _scratch_cap("ppl_nxt", Bc, bool)
            nxt[-1] = False
            nxt[:-1] = letter[1:]
            # document boundaries break tokens: a doc's first byte has
            # no predecessor, its last byte no successor
            inner = off_c[1:-1]
            inner = inner[(inner > 0) & (inner < Bc)]
            prev[inner] = False
            nxt[inner - 1] = False
            tok_start = np.flatnonzero(letter & ~prev)
            if tok_start.size == 0:
                d0 = d1
                continue
            tok_end = np.flatnonzero(letter & ~nxt) + 1
            # tokens per doc, capped at MAX_PPL_TOKENS (prefix trunc)
            bound = np.searchsorted(tok_start, off_c)     # (kc+1,)
            counts = np.minimum(bound[1:] - bound[:-1], MAX_PPL_TOKENS)
            cs = np.zeros(kc + 1, dtype=np.int64)
            np.cumsum(counts, out=cs[1:])
            n_sel = int(cs[-1])
            if n_sel == 0:
                d0 = d1
                continue
            within = np.arange(n_sel, dtype=np.int64) \
                - np.repeat(cs[:-1], counts)
            tok_idx = np.repeat(bound[:-1], counts) + within
            starts = tok_start[tok_idx]
            tlens = tok_end[tok_idx] - starts
            # pack each token's first 16 bytes into two uint64 keys:
            # ONE unaligned big-endian 8-byte window read per key (a
            # byte-strided uint64 view over the padded buffer), then a
            # mask gather zeroes bytes past the token's end
            pad = _scratch_cap("ppl_pad", Bc + 16, np.uint8)
            pad[:Bc] = low
            pad[Bc:Bc + 16] = 0
            win = np.ndarray(shape=(Bc + 9,), dtype=">u8",
                             buffer=pad.data, strides=(1,))
            key1 = win[starts] & _KEY_MASKS[np.minimum(tlens, 8)]
            key2 = np.zeros(n_sel, dtype=np.uint64)
            long_tok = np.flatnonzero(tlens > 8)
            if long_tok.size:
                key2[long_tok] = (
                    win[starts[long_tok] + 8]
                    & _KEY_MASKS[np.minimum(tlens[long_tok] - 8, 8)])
            # exact vocab match: linear-probe the tiny open-address
            # table (a vocab key resolves within _max_probe slots by
            # construction; OOV tokens simply never match)
            slot = _key_slot(key1, key2)
            ids = np.full(n_sel, self._unk, dtype=np.int64)
            short = tlens <= 16
            size = np.uint64(_HASH_TABLE_SIZE)
            for _probe in range(self._max_probe):
                hit = (self._hk1[slot] == key1) \
                    & (self._hk2[slot] == key2) & short
                ids[hit] = self._hid[slot[hit]]
                if _probe + 1 < self._max_probe:
                    slot = (slot + np.uint64(1)) % size
            # per-doc log-prob: unigram of the first token + segmented
            # bigram sum. Each doc's segment is exactly counts[i]
            # slots: its counts[i]-1 in-doc bigram log-probs followed
            # by 1 zeroed slot (the document-crossing pair, or the
            # chunk sentinel for the chunk's final token — a position
            # the unchunked form also zeroes) — the same reduction
            # tree as :func:`perplexity`, hence bit-identical.
            # Zero-token docs are a zero-length segment mid-chunk
            # (garbage, masked to inf) and are excluded when they
            # trail the last token (offsets are monotone → suffix).
            pair_lp = _scratch_cap("ppl_pair", n_sel, np.float64)
            pair_lp[-1] = 0.0             # sentinel for the last token
            if n_sel > 1:
                pair_lp[:-1] = self._logp_bi[ids[:-1], ids[1:]]
            cross = cs[1:-1] - 1
            pair_lp[cross[cross >= 0]] = 0.0
            nv_c = int(np.searchsorted(cs[:-1], n_sel, "left"))
            if nv_c:
                pair_sum = np.add.reduceat(pair_lp, cs[:nv_c])
                first_ids = ids[cs[:nv_c]]
                lp = self._logp_uni[first_ids] + pair_sum
                head = counts[:nv_c]
                ppl[d0:d0 + nv_c] = np.where(
                    head > 0, np.exp(-lp / np.maximum(head, 1)), inf)
            d0 = d1
        if valid is not None:
            ppl[~valid] = inf
        return ppl.tolist()


# Module-level singletons: trained once per process, deterministic.
LANGID_MODEL = LangIdModel.train()
LM_MODEL = NGramLM.train()


def make_langid_udf(spark: SparkSession):
    """Series→Series pandas UDF; model broadcast once per executor."""
    bc = spark.sparkContext.broadcast(LANGID_MODEL)

    @F.pandas_udf(T.StringType())
    def langid(texts: pd.Series) -> pd.Series:
        model = bc.value
        return pd.Series(model.predict_batch(texts),
                         index=texts.index)

    return langid


def make_perplexity_udf(spark: SparkSession):
    bc = spark.sparkContext.broadcast(LM_MODEL)

    @F.pandas_udf(T.DoubleType())
    def perplexity(texts: pd.Series) -> pd.Series:
        model = bc.value
        return pd.Series(model.perplexity_batch(texts),
                         index=texts.index, dtype=np.float64)

    return perplexity
