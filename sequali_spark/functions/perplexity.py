"""Hashed n-gram language model for perplexity scoring — vectorized.

The analogue of sequali's per-read mean-quality score: sequali converts
phred chars to error rates through a generated lookup table and averages
in probability space (reference: src/sequali/_qcmodule.c:2126-2137,
score_to_error_rate.h); we convert tokens to log-probabilities through a
hashed count table and average in log space.  KenLM-style interpolated
unigram/bigram model with add-k smoothing, built from scratch.

Implementation notes (the performance shape mirrors the reference's
"columnar state + batch kernel" design):
  * token hash = crc32 (C-speed, deterministic across processes),
    memoized in a bounded dict;
  * bigram hash combines the two token hashes *numerically*
    (h_prev * 31 + h) so the whole batch scores as NumPy gathers —
    no per-token Python in the scoring hot path;
  * per-doc log-prob sums via np.add.reduceat over the flattened
    token stream (one kernel pass per batch, like add_record_array).

Deterministic: the count tables are trained on the seeded fixture
corpus by scripts/build_models.py and shipped in-package as
``resources/models/ngram_lm.npz``; every executor and the oracle load
the same arrays and score identically.
"""

from __future__ import annotations

from importlib import resources

import numpy as np

from sequali_spark.functions.kernels import flatten_tokens, hash_tokens, tokenize

LM_DIM = 1 << 16
ADD_K = 0.1
LAMBDA_BIGRAM = 0.7  # interpolation weight: p = λ·p(w|prev) + (1-λ)·p(w)
MAX_TOKENS = 512  # score at most the first N tokens (bounded work per doc)
_BIGRAM_MIX = np.uint64(31)


class NgramLM:
    def __init__(self, texts: list[str]):
        uni = np.zeros(LM_DIM, dtype=np.float64)
        bi = np.zeros(LM_DIM, dtype=np.float64)
        total = 0
        for t in texts:
            h = hash_tokens(tokenize(t))
            total += len(h)
            np.add.at(uni, (h % np.uint64(LM_DIM)).astype(np.int64), 1.0)
            if len(h) > 1:
                with np.errstate(over="ignore"):
                    bidx = ((h[:-1] * _BIGRAM_MIX + h[1:]) % np.uint64(LM_DIM)).astype(np.int64)
                np.add.at(bi, bidx, 1.0)
        self.uni = uni
        self.bi = bi
        self.total = max(total, 1)
        self._empty_ppl = float(self.total + ADD_K * LM_DIM) / ADD_K

    def perplexities(self, texts: list[str]) -> np.ndarray:
        """exp(mean negative log prob) per doc, interpolated bigram/unigram.
        Convenience wrapper: tokenizes, hashes, then scores."""
        flat, lengths, offsets = flatten_tokens(texts)
        return self.perplexities_hashed(hash_tokens(flat), lengths, offsets)

    def perplexities_hashed(
        self, hashes: np.ndarray, lengths: np.ndarray, offsets: np.ndarray
    ) -> np.ndarray:
        """Score a pre-tokenized, pre-hashed batch token stream (shared
        with the repetition metrics — one tokenize+hash pass per batch).
        Each doc is truncated to its first MAX_TOKENS tokens.

        Empty docs score the vocabulary-uniform perplexity (soft-degrade,
        never a failure — cf. sequali's skipped_reason pattern)."""
        n_docs = len(lengths)
        out = np.full(n_docs, self._empty_ppl, dtype=np.float64)
        if n_docs == 0:
            return out
        if lengths.max(initial=0) > MAX_TOKENS:
            pos_in_doc = np.arange(len(hashes), dtype=np.int64) - np.repeat(
                offsets[:-1], lengths
            )
            keep_tok = pos_in_doc < MAX_TOKENS
            hashes = hashes[keep_tok]
            lengths = np.minimum(lengths, MAX_TOKENS)
            offsets = np.zeros(n_docs + 1, dtype=np.int64)
            np.cumsum(lengths, out=offsets[1:])
        nonempty = lengths > 0
        if not nonempty.any():
            return out
        h = hashes

        uni_idx = (h % np.uint64(LM_DIM)).astype(np.int64)
        p_uni = (self.uni[uni_idx] + ADD_K) / (self.total + ADD_K * LM_DIM)
        # bigram probability for every adjacent pair in the flat stream;
        # pairs that cross a document boundary are masked out below.
        p = p_uni.copy()
        if len(h) > 1:
            with np.errstate(over="ignore"):
                bi_idx = ((h[:-1] * _BIGRAM_MIX + h[1:]) % np.uint64(LM_DIM)).astype(np.int64)
            denom = self.uni[uni_idx[:-1]] + ADD_K * LM_DIM
            p_bi = (self.bi[bi_idx] + ADD_K) / denom
            mixed = LAMBDA_BIGRAM * p_bi + (1.0 - LAMBDA_BIGRAM) * p_uni[1:]
            p[1:] = mixed
            # first token of each doc falls back to its unigram prob
            starts = offsets[:-1][nonempty]
            p[starts] = p_uni[starts]

        neg_log = -np.log(p)
        from sequali_spark.functions.kernels import segment_sums

        sums = segment_sums(neg_log, offsets, out_dtype=np.float64)
        out[nonempty] = np.exp(sums[nonempty] / lengths[nonempty])
        return out

    def perplexity(self, text: str) -> float:
        return float(self.perplexities([text])[0])


_MODEL: NgramLM | None = None


def get_model() -> NgramLM:
    """Singleton loaded from the baked ``resources/models/ngram_lm.npz``
    (scripts/build_models.py) through importlib.resources, so it
    resolves from a checkout and from the ``--py-files`` zip alike."""
    global _MODEL
    if _MODEL is None:
        art = resources.files("sequali_spark").joinpath("resources", "models", "ngram_lm.npz")
        m = NgramLM.__new__(NgramLM)
        # NpzFile reads lazily: take the arrays while the file is open
        with art.open("rb") as f, np.load(f) as data:
            m.uni = data["uni"]
            m.bi = data["bi"]
            m.total = int(data["total"][0])
        m._empty_ppl = float(m.total + ADD_K * LM_DIM) / ADD_K
        _MODEL = m
    return _MODEL
