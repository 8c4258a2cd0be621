"""Property-based kernel tests (hypothesis) — invariants that must hold
for ANY input, complementing the exact-value goldens the way sequali's
numeric-stability tests complement its per-cell asserts
(reference: tests/test_qc_metrics.py:143-173)."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from sequali_spark.functions import kernels, scrub
import pandas as pd

texts = st.lists(st.text(max_size=300), min_size=0, max_size=20)


@given(texts)
@settings(max_examples=50, deadline=None)
def test_char_class_counts_partition_of_bytes(ts):
    raw = [t.encode("utf-8") for t in ts]
    m = kernels.char_class_counts(raw)
    for i, b in enumerate(raw):
        assert m[i, : kernels.N_CLASSES].sum() == len(b)  # classes partition bytes
        assert 0 <= m[i, kernels.N_CLASSES] <= m[i, kernels.CLASS_ALPHA]  # upper ⊆ alpha


@given(texts)
@settings(max_examples=50, deadline=None)
def test_max_run_bounds(ts):
    raw = [t.encode("utf-8") for t in ts]
    runs = kernels.max_char_run(raw)
    for i, b in enumerate(raw):
        assert 0 <= runs[i] <= len(b)
        if b:
            assert runs[i] >= 1


@given(texts)
@settings(max_examples=50, deadline=None)
def test_word_stats_invariants(ts):
    ws = kernels.word_stats(ts)
    for i, t in enumerate(ts):
        assert ws["n_words"][i] == len(t.split())
        assert 0.0 <= ws["top_bigram_frac"][i] <= 1.0
        assert 0.0 <= ws["dup_line_frac"][i] <= 1.0


@given(st.lists(st.text(max_size=200), min_size=1, max_size=10))
@settings(max_examples=30, deadline=None)
def test_scrub_idempotent_and_stable(ts):
    s = pd.Series(ts)
    once, hits1 = scrub.scrub_batch(s)
    twice, hits2 = scrub.scrub_batch(once)
    # scrubbing already-scrubbed text finds nothing new and changes nothing
    assert (hits2["pii_hits"] == 0).all() or (once == twice).all()
    for orig, scr, h in zip(ts, once, hits1["pii_hits"] + hits1["tox_hits"]):
        if h == 0:
            assert scr == orig  # untouched docs round-trip exactly


@given(st.lists(st.text(min_size=1, max_size=100), min_size=1, max_size=30))
@settings(max_examples=30, deadline=None)
def test_sampling_deterministic_subset_invariant(urls):
    s = pd.Series(urls)
    full = kernels.url_sample_mask(s)
    half = kernels.url_sample_mask(s[: len(s) // 2 or 1])
    assert (full[: len(half)] == half).all()  # decision depends only on the url


@given(st.binary(max_size=500))
@settings(max_examples=50, deadline=None)
def test_shingles_within_anchors(payload):
    for sh in kernels.doc_shingles(payload):
        assert len(sh) == kernels.SHINGLE_K
        assert sh in payload  # every shingle is a real substring


@given(texts)
@settings(max_examples=50, deadline=None)
def test_max_run_matches_naive(ts):
    """Exact equivalence of the batched run-length kernel against the
    obvious per-doc implementation (the r2 rewrite's safety net)."""
    raw = [t.encode("utf-8") for t in ts]
    got = kernels.max_char_run(raw)
    for i, b in enumerate(raw):
        best = cur = 0
        prev = None
        for byte in b:
            cur = cur + 1 if byte == prev else 1
            prev = byte
            best = max(best, cur)
        assert got[i] == best


@given(st.lists(st.text(max_size=30), min_size=0, max_size=200))
@settings(max_examples=50, deadline=None)
def test_hash_tokens_matches_crc32(toks):
    import zlib
    import numpy as np

    got = kernels.hash_tokens(toks)
    exp = np.array([zlib.crc32(t.encode("utf-8")) for t in toks], dtype=np.uint64)
    assert got.shape == exp.shape and (got == exp).all()


@given(texts)
@settings(max_examples=30, deadline=None)
def test_langid_batch_hashing_matches_per_doc(ts):
    from sequali_spark.functions.langid import _ngram_hashes, _ngram_hashes_flat

    flat, counts = _ngram_hashes_flat(ts, max_chars=400)
    off = 0
    for t, c in zip(ts, counts):
        per = _ngram_hashes(t[:400])
        assert len(per) == c
        assert (flat[off : off + c] == per).all()
        off += c


@given(texts)
@settings(max_examples=30, deadline=None)
def test_simhash_majority_definition(ts):
    """Vectorized simhash == the bit-majority definition computed naively."""
    from sequali_spark.operators.dedup import _simhash, _shingle_hashes

    for t in ts:
        sh = _shingle_hashes(t)
        got = _simhash(t)
        if len(sh) == 0:
            assert got == 0
            continue
        exp = 0
        for bit in range(64):
            ones = sum(1 for h in sh if (int(h) >> bit) & 1)
            if 2 * ones > len(sh):
                exp |= 1 << bit
        assert got == exp & 0x7FFFFFFFFFFFFFFF


# tokens skewed toward NUL and case-folding code points (U+212A KELVIN
# SIGN, U+0130, sharp s) next to plain ASCII letters and digits; the
# rest come from characters(codec="utf-8"), st.text()'s default domain:
# tokens arrive as Arrow UTF-8 strings, so they never hold a lone
# surrogate, which has no UTF-8 bytes to hash
_vocab_tokens = st.lists(
    st.text(
        alphabet=st.one_of(
            st.sampled_from(list("\x00\u212a\u0130\u00dfAz1 \u00e9")),
            st.characters(codec="utf-8"),
        ),
        max_size=12,
    ),
    max_size=150,
)


@given(_vocab_tokens)
@settings(max_examples=50, deadline=None)
def test_token_vocab_gather_matches_per_token(toks):
    """The per-unique features fanned back out through ``codes`` equal
    the per-token definitions."""
    import re
    import zlib

    hashes, alpha, lens = kernels.token_vocab(toks).gather()
    assert list(hashes) == [zlib.crc32(t.encode("utf-8")) for t in toks]
    assert list(alpha) == [bool(re.search("[A-Za-z]", t)) for t in toks]
    assert list(lens) == [len(t) for t in toks]


def test_token_vocab_keeps_nul_tokens_distinct():
    """NUL-bearing tokens are distinct from their NUL-free prefixes
    (pandas' str factorize would fold '' and '\\x00' into one unique)."""
    v = kernels.token_vocab(["", "\x00", "a\x00", "a", "\x00"])
    assert len(v.hashes) == 4
    assert list(v.codes) == [0, 1, 2, 3, 1]


def _naive_class_row(b: bytes) -> list[int]:
    row = [0] * (kernels.N_CLASSES + 1)
    for x in b:
        if ord("a") <= x <= ord("z") or ord("A") <= x <= ord("Z"):
            row[kernels.CLASS_ALPHA] += 1
        elif ord("0") <= x <= ord("9"):
            row[kernels.CLASS_DIGIT] += 1
        elif x in b" \t\n\r":
            row[kernels.CLASS_SPACE] += 1
        elif x < 0x20 or x == 0x7F:
            row[kernels.CLASS_CTRL] += 1
        elif x >= 0x80:
            row[kernels.CLASS_NONASCII] += 1
        else:
            row[kernels.CLASS_PUNCT] += 1
        if ord("A") <= x <= ord("Z"):
            row[kernels.N_CLASSES] += 1
    return row


@given(st.lists(st.binary(max_size=200), max_size=12))
@settings(max_examples=50, deadline=None)
def test_char_class_counts_matches_naive(docs):
    """Exact per-byte definition of the class matrix, with an empty doc
    between every pair of docs (and at the end)."""
    docs = [d for doc in docs for d in (doc, b"")]
    got = kernels.char_class_counts(docs)
    assert got.shape == (len(docs), kernels.N_CLASSES + 1)
    assert got.tolist() == [_naive_class_row(d) for d in docs]


@given(
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=0, max_value=2**32 - 1),
)
@settings(max_examples=50, deadline=None)
def test_bmp_roundtrip_property(h, w, seed):
    """encode_bmp/decode_bmp are exact inverses for any HxWx3 uint8
    image — including the odd widths that exercise 4-byte row padding."""
    import numpy as np

    from sequali_spark.sources import multimodal

    img = np.random.RandomState(seed % 2**31).randint(0, 256, size=(h, w, 3), dtype=np.uint8)
    assert np.array_equal(multimodal.decode_bmp(multimodal.encode_bmp(img)), img)


@given(
    st.integers(min_value=0, max_value=5000),
    st.integers(min_value=0, max_value=2**32 - 1),
    st.sampled_from([8000, 16000, 44100]),
)
@settings(max_examples=50, deadline=None)
def test_wav_roundtrip_property(n, seed, rate):
    """encode_wav/decode_wav are exact inverses for any int16 sample
    array (odd lengths exercise RIFF word-alignment), preserving rate."""
    import numpy as np

    from sequali_spark.sources import multimodal

    s = (
        np.random.RandomState(seed % 2**31)
        .randint(-32768, 32768, size=n)
        .astype(np.int16)
    )
    got, got_rate = multimodal.decode_wav(multimodal.encode_wav(s, rate=rate))
    assert got_rate == rate
    assert np.array_equal(got, s)


@given(st.integers(0, 2**31))
@settings(max_examples=25, deadline=None)
def test_band_keys_match_scalar_mix_loop(seed):
    """The vectorized band mix (_band_keys: batched dot with powers of
    31 in uint64 wraparound, masked to 63 bits) must reproduce the
    order-stable scalar loop `h = (h*31 + v) & M` bit-for-bit."""
    import numpy as np

    from sequali_spark.operators.dedup import (
        LSH_BANDS, N_MINHASH, _band_keys,
    )

    rng = np.random.RandomState(seed % (2**32 - 1))
    sigs = rng.randint(0, 2**62, size=(5, N_MINHASH), dtype=np.int64)
    got = _band_keys(sigs)
    rows = N_MINHASH // LSH_BANDS
    for d in range(sigs.shape[0]):
        for bi in range(LSH_BANDS):
            h = bi
            for v in sigs[d, bi * rows : (bi + 1) * rows]:
                h = (h * 31 + int(v)) & 0x7FFFFFFFFFFFFFFF
            assert got[d, bi] == h, (d, bi)


@given(
    st.integers(1, 24),
    st.integers(1, 24),
    st.sampled_from([3, 4]),
    st.integers(0, 4),
    st.integers(0, 2**31),
)
@settings(max_examples=40, deadline=None)
def test_png_roundtrip_property(h, w, ch, filter_type, seed):
    """decode(encode(img, any filter)) == img for arbitrary dims,
    RGB/RGBA, and every scanline filter — the property the deterministic
    round-trip test samples, randomized."""
    import numpy as np

    from sequali_spark.sources import multimodal

    rng = np.random.RandomState(seed % (2**32 - 1))
    img = rng.randint(0, 256, size=(h, w, ch), dtype=np.uint8)
    png = multimodal.encode_png(img, filter_type=filter_type)
    assert np.array_equal(multimodal.decode_png(png), img)


# Structured text skewed toward the Gopher signals: bullets, ellipses,
# hashes, digits, newlines, and unicode — the shapes the rules read.
_gopher_text = st.text(
    alphabet=st.sampled_from(list("ab #.\n-*•…0!")), max_size=200
)


@given(st.lists(_gopher_text, min_size=1, max_size=10))
@settings(max_examples=50, deadline=None)
def test_gopher_battery_matches_pure_python(ts):
    """The vectorized battery metrics (multiline regex + token stream)
    must equal a from-scratch per-doc Python recomputation for ANY
    text — pinning the (?m) anchors, the '...' non-overlap, and the
    empty-token conventions against the spec, not the implementation."""
    import re

    from sequali_spark.functions.metrics import compute_metrics

    pdf = pd.DataFrame(
        {
            "url": [f"u{i}" for i in range(len(ts))],
            "warc_ts": pd.to_datetime(["2024-01-01"] * len(ts)),
            "html": [None] * len(ts),
            "text": ts,
            "lang": ["en"] * len(ts),
        }
    )
    m = compute_metrics(pdf)
    for i, t in enumerate(ts):
        lines = t.split("\n")
        bullet = sum(l.startswith(("- ", "* ", "•")) for l in lines)
        ellip = sum(l.endswith(("...", "…")) for l in lines)
        # battery words = kernels.tokenize = str.split() (any whitespace,
        # empties dropped); zero-word docs take the 1.0 convention
        # (emptiness is too_short's job, not a structure violation)
        words = t.split()
        alpha = sum(bool(re.search("[A-Za-z]", w)) for w in words)
        symbols = t.count("#") + len(re.findall(r"\.\.\.", t))
        assert m["bullet_line_frac"][i] == bullet / len(lines)
        assert m["ellipsis_line_frac"][i] == ellip / len(lines)
        assert m["alpha_word_frac"][i] == (alpha / len(words) if words else 1.0)
        assert m["symbol_word_ratio"][i] == symbols / max(len(words), 1)
