"""Vectorized per-document metric kernels.

These NumPy/pandas kernels are the analogue of sequali's C accumulator
kernels (reference: src/sequali/_qcmodule.c:1966-2139 per-position base
classification; :1993-2058 GC fraction; :4462-4517 dedup fingerprints;
:3846-3930 overrepresented-fragment sampling).  They are pure functions
of a batch of documents, shared verbatim by

  * the single-process pandas oracle (sequali_spark.oracle), and
  * the Spark pipeline's Arrow batches (sequali_spark.pipeline),

so Spark output matches the oracle exactly by construction — the same
way sequali's tests assert exact per-read metric values
(reference: tests/test_qc_metrics.py:90-140).

All sampling is keyed on a deterministic hash of ``url`` (never on row
position), so results are invariant to partitioning — the deliberate
re-specification of sequali's ``seq_index % sample_every`` early-skip
(reference: _qcmodule.c:3833-3836); see SURVEY.md §4.
"""

from __future__ import annotations

import hashlib
import re
import zlib
from typing import NamedTuple, Sequence

import numpy as np
import pandas as pd

# --- char classification ----------------------------------------------------
# Byte-class lookup table over UTF-8 bytes, the analogue of sequali's
# NUCLEOTIDE_TO_INDEX[128] (reference: _qcmodule.c:1741-1766).  Classes:
#   0 alpha (a-zA-Z)  1 digit  2 space  3 punct/symbol (other ASCII printable)
#   4 control (ASCII < 0x20 except \t\n\r which count as space)  5 non-ASCII
# It is a bytes.translate table, and A-Z map to the extra id N_CLASSES so
# one translated copy yields both the class counts and the upper-case
# count (char_class_counts still counts them as alpha).
N_CLASSES = 6
CLASS_ALPHA, CLASS_DIGIT, CLASS_SPACE, CLASS_PUNCT, CLASS_CTRL, CLASS_NONASCII = range(6)

_table = bytearray([CLASS_PUNCT]) * 256
for _c in range(ord("a"), ord("z") + 1):
    _table[_c] = CLASS_ALPHA
for _c in range(ord("A"), ord("Z") + 1):
    _table[_c] = N_CLASSES
for _c in range(ord("0"), ord("9") + 1):
    _table[_c] = CLASS_DIGIT
for _c in b" \t\n\r":
    _table[_c] = CLASS_SPACE
for _c in range(0x20):
    if _c not in b"\t\n\r":
        _table[_c] = CLASS_CTRL
_table[0x7F] = CLASS_CTRL
_table[0x80:] = bytes([CLASS_NONASCII]) * 0x80
_CLASS_TABLE = bytes(_table)
_COUNTED_IDS = [bytes([k]) for k in range(CLASS_ALPHA + 1, N_CLASSES + 1)]


def _concat_bytes(texts: list[bytes]) -> tuple[np.ndarray, np.ndarray]:
    """Concatenate byte strings; return (uint8 array, offsets[n+1])."""
    lengths = np.fromiter((len(t) for t in texts), dtype=np.int64, count=len(texts))
    offsets = np.zeros(len(texts) + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    buf = np.frombuffer(b"".join(texts), dtype=np.uint8)
    return buf, offsets


def segment_sums(values: np.ndarray, offsets: np.ndarray, out_dtype=np.int64) -> np.ndarray:
    """Per-document sums over a flat value array with doc offsets[n+1].

    ``np.add.reduceat`` is only safe on strictly-increasing in-bounds
    indices, so empty docs (start == next start, or start == len) are
    excluded from the reduce and scattered back as 0 — a naive clamp
    would silently split the preceding document's segment.
    """
    n = len(offsets) - 1
    out = np.zeros(n, dtype=out_dtype)
    if n == 0 or len(values) == 0:
        return out
    nonempty = np.flatnonzero(offsets[1:] > offsets[:-1])
    if len(nonempty) == 0:
        return out
    red = offsets[:-1][nonempty]  # strictly increasing, all < len(values);
    # a segment spans through any following empty docs, which hold 0 bytes
    out[nonempty] = np.add.reduceat(values, red, dtype=out_dtype)
    return out


def char_class_counts(texts: list[bytes]) -> np.ndarray:
    """(n_docs, N_CLASSES+1) matrix: per-doc byte-class counts + upper count.

    Per doc, one ``bytes.translate`` through ``_CLASS_TABLE`` maps every
    byte to its class id (A-Z to the extra id N_CLASSES) and one
    ``bytes.count`` per id counts it — C-speed passes with no
    batch-sized temporaries, the equivalent of sequali's unrolled
    per-base count loop (reference: _qcmodule.c:2004-2031).  Alpha (A-Z
    included), the most frequent class and so the slowest to count, is
    the doc length minus the other classes.  Empty docs give a zero row.
    """
    n = len(texts)
    rows = []
    for t in texts:
        tr = t.translate(_CLASS_TABLE)
        rows.append([len(t)] + [tr.count(k) for k in _COUNTED_IDS])
    out = np.array(rows, dtype=np.int64).reshape(n, N_CLASSES + 1)
    # column CLASS_ALPHA holds the doc length until here
    out[:, CLASS_ALPHA] -= out[:, CLASS_ALPHA + 1 : N_CLASSES].sum(axis=1)
    return out


def max_char_run(texts: list[bytes]) -> np.ndarray:
    """Longest run of one repeated byte per doc (junk detector).

    Batched: run boundaries are computed once over the concatenated
    buffer, with doc offsets forced in as boundaries so a run never
    spans two documents; per-doc max via one scatter-max.  (The per-doc
    NumPy-call loop this replaced was overhead-bound on small docs.)"""
    n = len(texts)
    out = np.zeros(n, dtype=np.int64)
    if n == 0:
        return out
    buf, offsets = _concat_bytes(texts)
    if len(buf) == 0:
        return out
    # O(n) boolean break mask (a sort-based union of change points and
    # offsets was itself the hot spot): position p starts a new run if
    # the byte changes there or a doc boundary is forced there
    brk = np.empty(len(buf) + 1, dtype=bool)
    brk[0] = True
    brk[-1] = True
    brk[1:-1] = buf[1:] != buf[:-1]
    brk[offsets] = True
    bounds = np.flatnonzero(brk)
    run_lens = np.diff(bounds)
    # runs are doc-contiguous (sorted by position), so the per-doc max is
    # one maximum.reduceat over each doc's first-run index — empty docs
    # own no runs and are excluded exactly as in segment_sums
    first_run = np.searchsorted(bounds[: len(bounds) - 1], offsets[:-1], side="left")
    nonempty = np.flatnonzero(offsets[1:] > offsets[:-1])
    if len(nonempty):
        out[nonempty] = np.maximum.reduceat(run_lens, first_run[nonempty])
    return out


# --- deterministic hashing --------------------------------------------------

def stable_hash64(data: bytes, seed: int = 0) -> int:
    """Deterministic 64-bit hash (blake2b-based, like sequali's seeded
    MurmurHash3 at _qcmodule.c:4475 — the exact function is irrelevant,
    determinism across processes/partitions is what matters)."""
    h = hashlib.blake2b(data, digest_size=8, key=seed.to_bytes(8, "little"))
    return int.from_bytes(h.digest(), "little") & 0x7FFFFFFFFFFFFFFF


def url_sample_mask(urls: pd.Series, sample_every: int = 8) -> np.ndarray:
    """Deterministic 1-in-N sampling keyed on url hash.

    Re-spec of sequali's ``seq_index % sample_every == 0``
    (reference: _qcmodule.c:3833-3836, default 8 at :3431): a sequential
    index is not reproducible under distribution, a key hash is.
    """
    # None -> b'': NULL urls soft-degrade like NULL text/html in
    # compute_metrics instead of killing the whole metric stage
    return np.fromiter(
        (stable_hash64((u or "").encode("utf-8")) % sample_every == 0 for u in urls),
        dtype=bool,
        count=len(urls),
    )


# --- dedup fingerprint ------------------------------------------------------
# Analogue of sequali's DedupEstimator fingerprint: a fixed-size sample of
# 8 bytes at offset<=64 from the front plus 8 bytes from the back, offsets
# shrunk proportionally for short documents (reference: _qcmodule.c:4462-4485),
# hashed with a length-bucket seed (seed = len >> 6, reference: :4475).
FP_SAMPLE_LEN = 16
FP_MAX_OFFSET = 64


def dedup_fingerprints(texts: list[bytes]) -> np.ndarray:
    out = np.zeros(len(texts), dtype=np.int64)
    for i, t in enumerate(texts):
        n = len(t)
        if n >= 2 * (FP_MAX_OFFSET + FP_SAMPLE_LEN):
            front = t[FP_MAX_OFFSET : FP_MAX_OFFSET + FP_SAMPLE_LEN]
            back = t[n - FP_MAX_OFFSET - FP_SAMPLE_LEN : n - FP_MAX_OFFSET]
        else:
            # proportional shrink, like the reference's short-read path
            off = n // 4
            half = max((n - 2 * off) // 2, 0)
            front = t[off : off + min(half, FP_SAMPLE_LEN)]
            back = t[n - off - min(half, FP_SAMPLE_LEN) : n - off]
        out[i] = stable_hash64(front + back, seed=n >> 6)
    return out


# --- overrepresented fragments ---------------------------------------------
# Analogue of OverrepresentedSequences: from sampled documents take
# non-overlapping k-char shingles from the first and last ANCHOR chars,
# distinct within a document (reference: _qcmodule.c:3846-3930 sampling
# diagram; :3588-3608 within-read staging-dedup).
SHINGLE_K = 21
SHINGLE_ANCHOR = 100


def doc_shingles(text: bytes, k: int = SHINGLE_K, anchor: int = SHINGLE_ANCHOR) -> list[bytes]:
    """Non-overlapping k-byte shingles from head and tail anchors, distinct
    within the doc, order-stable (front-in then back-in)."""
    n = len(text)
    seen: dict[bytes, None] = {}
    head = text[: min(anchor, n)]
    for s in range(0, len(head) - k + 1, k):
        seen.setdefault(head[s : s + k])
    if n > anchor:
        tail = text[max(n - anchor, 0) :]
        for s in range(0, len(tail) - k + 1, k):
            seen.setdefault(tail[s : s + k])
    return list(seen.keys())


# --- tokenization -----------------------------------------------------------

def tokenize(text: str) -> list[str]:
    """Whitespace tokenization, lowercased. Shared by langid/perplexity/
    repetition metrics so oracle and pipeline agree byte-for-byte."""
    return text.lower().split()


_TOK_CACHE: dict[str, int] = {}
_TOK_CACHE_CAP = 1 << 20
_ALPHA_RE = re.compile("[A-Za-z]")


class TokenVocab(NamedTuple):
    """A token list factorized to its distinct tokens.  ``codes`` maps
    each token to its unique; the other arrays hold one value per
    unique."""

    codes: np.ndarray  # intp, one per token
    hashes: np.ndarray  # uint64 crc32 of the utf-8 bytes
    alpha: np.ndarray  # bool: contains an ASCII letter
    lengths: np.ndarray  # int64 length in characters

    def gather(self) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """Per-token (hashes, alpha, lengths): one gather each."""
        return self.hashes[self.codes], self.alpha[self.codes], self.lengths[self.codes]


def token_vocab(toks: Sequence[str]) -> TokenVocab:
    """Factorize a token list once and compute every per-token feature
    the metric battery needs on the UNIQUE tokens only (a 10k-page batch
    has ~1.8M tokens but ~9k distinct ones): the crc32 of the utf-8
    bytes, the ASCII-letter test and the length in characters.
    :meth:`TokenVocab.gather` fans them back out per token.

    The vocabulary is a dict keyed by the str tokens: Python's str hash
    and equality are NUL-safe, so one path serves every batch (pandas'
    str factorize is not — it conflates ``'\\x00'``-bearing tokens with
    their prefixes).  crc32 is memoized across batches in
    ``_TOK_CACHE``, capped per insert."""
    # uniques in first-seen order, numbered in place; the per-token
    # codes are then one C-level dict lookup each (no Python frame)
    index = dict.fromkeys(toks)
    m = len(index)
    hashes = np.empty(m, dtype=np.uint64)
    cache = _TOK_CACHE
    for j, u in enumerate(index):
        index[u] = j
        h = cache.get(u)
        if h is None:
            h = zlib.crc32(u.encode("utf-8"))
            # per-insert capacity check: the cap bounds worker memory on
            # unbounded vocabularies (one oracle call can see the whole
            # corpus), so it must hold within a single batch too
            if len(cache) < _TOK_CACHE_CAP:
                cache[u] = h
        hashes[j] = h
    codes = np.fromiter(map(index.__getitem__, toks), np.intp, len(toks))
    alpha = np.fromiter((_ALPHA_RE.search(u) is not None for u in index), bool, m)
    lengths = np.fromiter(map(len, index), np.int64, m)
    return TokenVocab(codes, hashes, alpha, lengths)


def hash_tokens(toks: Sequence[str], assume_no_nul: bool = False) -> np.ndarray:
    """crc32 per token (uint64 array) — deterministic across processes,
    C-speed: the vocabulary's hashes (:func:`token_vocab`) gathered per
    token.  Shared by the perplexity LM's standalone scoring paths;
    compute_metrics takes them from :func:`token_vocab`.

    ``assume_no_nul`` is ignored (the vocabulary is NUL-safe on every
    input); it is kept only because the perfbench kernel harness passes
    it by keyword."""
    v = token_vocab(toks)
    return v.hashes[v.codes]


def flatten_tokens(texts: list[str]) -> tuple[list[str], np.ndarray, np.ndarray]:
    """One tokenization pass for the whole batch: returns (flat token
    list, per-doc lengths, offsets[n+1])."""
    n = len(texts)
    tok_lists = [tokenize(t) for t in texts]
    lengths = np.fromiter((len(t) for t in tok_lists), np.int64, n)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    flat: list[str] = []
    for t in tok_lists:
        flat.extend(t)
    return flat, lengths, offsets


_PAIR_BITS = 44


def top_bigram_fraction(
    hashes: np.ndarray, lengths: np.ndarray, offsets: np.ndarray
) -> np.ndarray:
    """Most-frequent (hashed) token bigram as a fraction of a doc's
    bigrams — fully vectorized: one radix key (doc_id ‖ 44-bit pair
    hash), one sort, run-length counts, per-doc max via reduceat.
    The repetition detector of the rule battery (OverrepresentedSequences
    spirit, reference _qcmodule.c:3416-4236, collapsed to per-doc)."""
    n = len(lengths)
    out = np.zeros(n, dtype=np.float64)
    if len(hashes) < 2:
        return out
    # the radix key holds the doc index in the top 64-_PAIR_BITS=20 bits;
    # larger batches are processed in 2^20-doc chunks (Arrow batches in
    # the pipeline are ~10k rows; this path serves whole-table oracle runs)
    max_docs = 1 << (64 - _PAIR_BITS)
    if n > max_docs:
        offsets64 = offsets
        for lo in range(0, n, max_docs):
            hi = min(lo + max_docs, n)
            sl = slice(offsets64[lo], offsets64[hi])
            out[lo:hi] = top_bigram_fraction(
                hashes[sl], lengths[lo:hi], offsets64[lo : hi + 1] - offsets64[lo]
            )
        return out
    doc_of_tok = np.repeat(np.arange(n, dtype=np.int64), lengths)
    valid = doc_of_tok[:-1] == doc_of_tok[1:]  # pairs inside one doc only
    pair = ((hashes[:-1] << np.uint64(32)) ^ hashes[1:])[valid]
    doc_of_pair = doc_of_tok[:-1][valid].astype(np.uint64)
    key = (doc_of_pair << np.uint64(_PAIR_BITS)) ^ (pair & np.uint64((1 << _PAIR_BITS) - 1))
    key = np.sort(key)
    if len(key) == 0:
        return out
    change = np.flatnonzero(np.diff(key) != 0)
    starts = np.concatenate(([0], change + 1))
    counts = np.diff(np.concatenate((starts, [len(key)])))
    udocs = (key[starts] >> np.uint64(_PAIR_BITS)).astype(np.int64)
    doc_start = np.flatnonzero(np.concatenate(([True], np.diff(udocs) != 0)))
    maxima = np.maximum.reduceat(counts, doc_start)
    present = udocs[doc_start]
    out[present] = maxima / (lengths[present] - 1)
    return out


def word_stats(texts: list[str]) -> pd.DataFrame:
    """Per-doc token metrics (convenience wrapper: one tokenize pass and
    one token vocabulary, then :func:`word_stats_from_tokens`)."""
    flat, lengths, offsets = flatten_tokens(texts)
    hashes, _, tok_lens = token_vocab(flat).gather()
    return word_stats_from_tokens(texts, tok_lens, lengths, offsets, hashes)


def word_stats_from_tokens(
    texts: list[str],
    tok_lens: np.ndarray,
    lengths: np.ndarray,
    offsets: np.ndarray,
    hashes: np.ndarray,
) -> pd.DataFrame:
    """Per-doc token metrics: n_words, mean_word_len, top-bigram fraction,
    duplicate-line fraction (by chars) — the repetition battery, analogue of
    sequali's overrepresented/duplication per-read views.  The token
    stream (per-token lengths and hashes, per-doc counts and offsets) is
    computed once per batch and shared with the perplexity scorer."""
    n = len(texts)
    safe_len = np.maximum(lengths, 1)
    sums = segment_sums(tok_lens, offsets)
    mean_wlen = np.where(lengths > 0, sums / safe_len, 0.0)

    top_bigram = top_bigram_fraction(hashes, lengths, offsets)

    dup_line = np.zeros(n, dtype=np.float64)
    for i, t in enumerate(texts):
        if "\n" not in t:
            continue
        lines = [ln for ln in t.split("\n") if ln.strip()]
        if lines:
            seen: set[str] = set()
            dup_chars = 0
            total_chars = 0
            for ln in lines:
                total_chars += len(ln)
                if ln in seen:
                    dup_chars += len(ln)
                seen.add(ln)
            dup_line[i] = dup_chars / total_chars if total_chars else 0.0
    return pd.DataFrame(
        {
            "n_words": lengths,
            "mean_word_len": mean_wlen,
            "top_bigram_frac": top_bigram,
            "dup_line_frac": dup_line,
        }
    )


# --- winnowing fingerprints -------------------------------------------------
# Rolling-hash k-gram fingerprints with window-min selection (winnowing,
# Schleimer/Wilkerson/Aiken SIGMOD'03 — public algorithm): guarantees any
# shared substring of length >= w + k - 1 yields a shared fingerprint, with
# density ~2/(w+1).  The position-robust complement to the head/tail
# dedup fingerprint (which the reference uses for whole-record identity).
WINNOW_K = 8
WINNOW_W = 16


def winnow_fingerprints(text: bytes, k: int = WINNOW_K, w: int = WINNOW_W) -> np.ndarray:
    """Sorted distinct winnowed k-gram hashes of a document (int64)."""
    n = len(text) - k + 1
    if n <= 0:
        return np.zeros(0, dtype=np.int64)
    a = np.frombuffer(text, dtype=np.uint8)
    with np.errstate(over="ignore"):
        h = np.zeros(n, dtype=np.uint64)
        for i in range(k):
            h = h * np.uint64(1099511628211) + a[i : n + i].astype(np.uint64)
    h = (h >> np.uint64(1)).astype(np.int64)  # keep positive for SQL longs
    if n <= w:
        return np.unique(h.min(keepdims=True))
    # sliding-window minimum via stride tricks (windows = n - w + 1)
    from numpy.lib.stride_tricks import sliding_window_view

    mins = sliding_window_view(h, w).min(axis=1)
    return np.unique(mins)


COMPRESS_CAP = 1 << 16  # measure at most the first 64 KiB per doc


def compression_ratios(texts: list[bytes], level: int = 1) -> np.ndarray:
    """zlib-compressed size / raw size per doc (1.0 for empty docs).

    A standard web-QC repetitiveness signal: highly repetitive or
    templated documents compress far below natural prose (~0.4-0.6);
    the cheap, language-agnostic complement to the bigram/line
    repetition metrics.  Level 1 + a 64 KiB cap bound per-doc cost
    (the same bounded-work-per-record discipline as MAX_TOKENS)."""
    out = np.ones(len(texts), dtype=np.float64)
    for i, t in enumerate(texts):
        if t:
            sample = t[:COMPRESS_CAP]
            out[i] = len(zlib.compress(sample, level)) / len(sample)
    return out
