"""Hashed character-n-gram language identifier (fastText-style, from scratch).

Plays the role of sequali's sequencing-technology detection
(reference: src/sequali/util.py:162-254 — classify a record by the shape
of its header) generalized to a linear classifier over hashed char
trigrams, the standard fastText/langid.py architecture re-implemented
from public knowledge only.

The model is *derived deterministically* from the seeded fixture
vocabularies (sequali_spark.fixtures.LANG_VOCAB) by
scripts/build_models.py and shipped in-package as
``resources/models/langid.npz`` — the analogue of sequali shipping its
contaminant FASTA databases in-package.  No network, no training on a
worker; identical weights in every process, so the oracle and every
Spark executor score identically.
"""

from __future__ import annotations

from importlib import resources

import numpy as np

HASH_DIM = 4096
NGRAM_N = 3
_PRIME = np.uint64(1099511628211)
_BASIS = np.uint64(14695981039346656037)


def _ngram_hashes(text: str, n: int = NGRAM_N, dim: int = HASH_DIM) -> np.ndarray:
    """FNV-1a over byte n-grams of the (lowercased, space-padded) text."""
    b = (" " + text.lower() + " ").encode("utf-8")
    if len(b) < n:
        return np.zeros(0, dtype=np.int64)
    a = np.frombuffer(b, dtype=np.uint8)
    with np.errstate(over="ignore"):
        h = np.full(len(a) - n + 1, _BASIS, dtype=np.uint64)
        for k in range(n):
            h = (h ^ a[k : len(a) - n + 1 + k].astype(np.uint64)) * _PRIME
    return (h % np.uint64(dim)).astype(np.int64)


def _ngram_hashes_flat(
    texts: list[str], max_chars: int, n: int = NGRAM_N, dim: int = HASH_DIM
) -> tuple[np.ndarray, np.ndarray]:
    """Batched twin of _ngram_hashes: ONE FNV pass over the concatenated
    padded docs (per-doc windows never cross a doc boundary because a
    doc's windows stop n-1 bytes before its end), returning (flat hashed
    trigram indices, per-doc counts).  Replaces len(texts) small NumPy
    calls with ~6 large ones — the per-doc variant was a top-3 kernel
    hot spot."""
    m = len(texts)
    padded = [(" " + t[:max_chars].lower() + " ").encode("utf-8") for t in texts]
    L = np.fromiter((len(p) for p in padded), np.int64, m)
    counts = np.maximum(L - n + 1, 0)
    total = int(counts.sum())
    if total == 0:
        return np.zeros(0, dtype=np.int64), counts
    buf = np.frombuffer(b"".join(padded), dtype=np.uint8)
    with np.errstate(over="ignore"):
        h = np.full(len(buf) - n + 1, _BASIS, dtype=np.uint64)
        for k in range(n):
            h = (h ^ buf[k : len(buf) - n + 1 + k].astype(np.uint64)) * _PRIME
    doc_starts = np.zeros(m, dtype=np.int64)
    np.cumsum(L[:-1], out=doc_starts[1:])
    out_starts = np.zeros(m, dtype=np.int64)
    np.cumsum(counts[:-1], out=out_starts[1:])
    # flat positions: for each doc, doc_start + [0..count)
    pos = np.arange(total, dtype=np.int64) - np.repeat(out_starts, counts) + np.repeat(
        doc_starts, counts
    )
    return (h[pos] % np.uint64(dim)).astype(np.int64), counts


def _profile(texts: list[str], dim: int = HASH_DIM) -> np.ndarray:
    counts = np.ones(dim, dtype=np.float64)  # add-one smoothing
    for t in texts:
        idx = _ngram_hashes(t, dim=dim)
        if len(idx):
            np.add.at(counts, idx, 1.0)
    return np.log(counts / counts.sum())


class LangIdModel:
    """log-probability profile per language; score = mean log-prob of the
    document's hashed trigrams under each profile (multinomial NB)."""

    def __init__(self, lang_texts: dict[str, list[str]]):
        self.langs = sorted(lang_texts)
        self.weights = np.stack([_profile(lang_texts[lang]) for lang in self.langs])

    def predict(self, texts: list[str], max_chars: int = 400) -> tuple[np.ndarray, np.ndarray]:
        """Returns (lang_codes: object array, confidence: float array).

        Fully vectorized: hashed trigrams of the whole batch are
        flattened once; per-(doc, lang) scores come from one weight
        gather + np.add.reduceat per language — no per-doc Python.

        Confidence is the softmax margin of the best language. Documents
        with no trigrams get lang='und', confidence 0 — the analogue of
        sequali's skipped_reason soft-degrade (_qcmodule.c:3136-3148).
        """
        n = len(texts)
        preds = np.full(n, "und", dtype=object)
        conf = np.zeros(n, dtype=np.float64)
        if n == 0:
            return preds, conf
        flat, lengths = _ngram_hashes_flat(texts, max_chars)
        nonempty = lengths > 0
        if not nonempty.any():
            return preds, conf
        from sequali_spark.functions.kernels import segment_sums

        offsets = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(lengths, out=offsets[1:])
        scores = np.empty((len(self.langs), n), dtype=np.float64)
        safe_len = np.maximum(lengths, 1)
        for li in range(len(self.langs)):
            scores[li] = segment_sums(self.weights[li][flat], offsets, out_dtype=np.float64) / safe_len
        best = scores.argmax(axis=0)
        e = np.exp(scores - scores[best, np.arange(n)][None, :])
        c = 1.0 / e.sum(axis=0)
        lang_arr = np.array(self.langs, dtype=object)
        preds[nonempty] = lang_arr[best[nonempty]]
        conf[nonempty] = c[nonempty]
        return preds, conf


_MODEL: LangIdModel | None = None


def get_model() -> LangIdModel:
    """Module-level singleton loaded from the baked
    ``resources/models/langid.npz`` (scripts/build_models.py) through
    importlib.resources, so it resolves from a checkout and from the
    ``--py-files`` zip alike."""
    global _MODEL
    if _MODEL is None:
        art = resources.files("sequali_spark").joinpath("resources", "models", "langid.npz")
        m = LangIdModel.__new__(LangIdModel)
        # NpzFile reads lazily: take the arrays while the file is open
        with art.open("rb") as f, np.load(f, allow_pickle=True) as data:
            m.langs = [str(x) for x in data["langs"]]
            m.weights = data["weights"]
        _MODEL = m
    return _MODEL
