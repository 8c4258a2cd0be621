"""Exact-value unit tests for the metric kernels — mirroring sequali's
per-cell assertions (reference: tests/test_qc_metrics.py:90-140)."""

from __future__ import annotations

import numpy as np
import pandas as pd

from sequali_spark.functions import kernels


def test_char_class_counts_exact():
    texts = [b"Abc 123!", b"", b"\tA\n", b"\xc3\xa9"]  # é = 2 non-ascii bytes
    m = kernels.char_class_counts(texts)
    # "Abc 123!": 3 alpha, 3 digit, 1 space, 1 punct, 1 upper
    assert m[0].tolist() == [3, 3, 1, 1, 0, 0, 1]
    assert m[1].tolist() == [0, 0, 0, 0, 0, 0, 0]
    assert m[2].tolist() == [1, 0, 2, 0, 0, 0, 1]
    assert m[3].tolist() == [0, 0, 0, 0, 0, 2, 0]


def test_char_class_counts_empty_between():
    texts = [b"aa", b"", b"", b"99"]
    m = kernels.char_class_counts(texts)
    assert m[:, kernels.CLASS_ALPHA].tolist() == [2, 0, 0, 0]
    assert m[:, kernels.CLASS_DIGIT].tolist() == [0, 0, 0, 2]


def test_max_char_run():
    out = kernels.max_char_run([b"", b"a", b"aab", b"abbbbc", b"xxxx"])
    assert out.tolist() == [0, 1, 2, 4, 4]


def test_stable_hash64_deterministic():
    a = kernels.stable_hash64(b"hello", seed=3)
    assert a == kernels.stable_hash64(b"hello", seed=3)
    assert a != kernels.stable_hash64(b"hello", seed=4)
    assert 0 <= a < 2**63


def test_url_sample_mask_partition_invariant():
    urls = pd.Series([f"https://h/{i}" for i in range(64)])
    full = kernels.url_sample_mask(urls)
    # split into two "partitions": same per-url decision
    left = kernels.url_sample_mask(urls[:32])
    right = kernels.url_sample_mask(urls[32:].reset_index(drop=True))
    assert np.array_equal(full, np.concatenate([left, right]))
    assert 0 < full.sum() < 64


def test_dedup_fingerprint_semantics():
    t_long = (b"x" * 64) + b"FRONTSAMPLE00000" + (b"m" * 100) + b"BACKSAMPLE000000" + (b"y" * 64)
    same_mid = (b"x" * 64) + b"FRONTSAMPLE00000" + (b"Z" * 100) + b"BACKSAMPLE000000" + (b"y" * 64)
    fp = kernels.dedup_fingerprints([t_long, same_mid, b"short text here"])
    # same sampled front/back + same length bucket -> same fingerprint
    assert fp[0] == fp[1]
    assert fp[0] != fp[2]


def test_doc_shingles_distinct_and_anchored():
    text = b"A" * 21 + b"B" * 21 + b"A" * 21  # head anchor only (63 chars)
    sh = kernels.doc_shingles(text)
    assert sh == [b"A" * 21, b"B" * 21]  # within-doc distinct, order stable
    long = b"H" * 100 + b"m" * 500 + b"T" * 100
    sh2 = kernels.doc_shingles(long)
    assert b"H" * 21 in sh2 and b"T" * 21 in sh2
    assert all(b"m" * 21 != s for s in sh2)  # middle never sampled


def test_word_stats_exact():
    ws = kernels.word_stats(["a bb ccc", "x x x x", "l1\nl1\nl2", ""])
    assert ws["n_words"].tolist() == [3, 4, 3, 0]
    assert ws["mean_word_len"][0] == 2.0
    assert ws["top_bigram_frac"][1] == 1.0  # (x,x) 3 times / 3 bigrams
    assert abs(ws["dup_line_frac"][2] - 2 / 6) < 1e-12


def test_winnow_fingerprints_shared_substring_guarantee():
    """Winnowing guarantee: docs sharing a substring of length >= w+k-1
    share at least one fingerprint; disjoint docs (different alphabets)
    share none."""
    from sequali_spark.functions.kernels import WINNOW_K, WINNOW_W, winnow_fingerprints

    shared = b"the quick brown fox jumps over the lazy dog repeatedly"  # 54 >= 16+8-1
    a = b"prefix one " + shared + b" suffix alpha"
    b_ = b"another beginning " + shared + b" other ending"
    fa, fb = winnow_fingerprints(a), winnow_fingerprints(b_)
    assert len(np.intersect1d(fa, fb)) > 0
    c = winnow_fingerprints(b"0123456789" * 10)
    assert len(np.intersect1d(fa, c)) == 0
    # density ~2/(w+1): far fewer fingerprints than positions
    assert 0 < len(fa) < len(a) // 4
    assert winnow_fingerprints(b"").size == 0
    assert winnow_fingerprints(b"tiny").size == 0  # < k


def test_compression_ratios():
    from sequali_spark.functions.kernels import compression_ratios

    out = compression_ratios([b"", b"a" * 1000, bytes(range(256)) * 4])
    assert out[0] == 1.0
    assert out[1] < 0.05  # pure repetition compresses away
    assert out[2] > out[1]  # richer byte diversity compresses worse


def test_token_cache_cap_holds_within_one_batch(monkeypatch):
    """The memo cap must bound insertions inside a single call too — one
    oracle call can feed the whole corpus vocabulary."""
    from sequali_spark.functions import kernels

    monkeypatch.setattr(kernels, "_TOK_CACHE", {})
    monkeypatch.setattr(kernels, "_TOK_CACHE_CAP", 10)
    toks = [f"tok{i}" for i in range(100)]
    out = kernels.hash_tokens(toks)
    assert len(out) == 100
    assert len(kernels._TOK_CACHE) <= 10
    # values still correct despite the cap
    import zlib
    assert out[42] == zlib.crc32(b"tok42")


def _pages(texts: list[str | None]) -> pd.DataFrame:
    """A compute_metrics input batch with the given texts."""
    n = len(texts)
    return pd.DataFrame(
        {
            "url": [f"u{i}" for i in range(n)],
            "warc_ts": pd.to_datetime(["2024-01-01"] * n),
            "html": [None] * n,
            "text": texts,
            "lang": ["en"] * n,
        }
    )


def test_battery_words_are_lowercased_tokens():
    """Battery words are ``kernels.tokenize`` tokens, i.e. LOWERCASED
    before the letter test: U+212A KELVIN SIGN lowercases to ASCII 'k'
    (a letter-bearing word), and U+0130 lowercases to two code points
    (length 2).  A NUL-bearing doc shares the batch vocabulary with
    the clean ones and gets the same per-token values."""
    from sequali_spark.functions.metrics import compute_metrics

    texts = ["\u212a 12 34", "\u0130 12", "a\x00 12 \x00", "ok fine", ""]
    m = compute_metrics(_pages(texts))
    assert list(m["alpha_word_frac"]) == [1 / 3, 0.5, 1 / 3, 1.0, 1.0]
    assert list(m["n_words"]) == [3, 2, 3, 2, 0]
    assert list(m["mean_word_len"]) == [5 / 3, 2.0, 5 / 3, 3.0, 0.0]


def test_scrub_prescreen_exact_on_non_ascii_digits():
    """The literal pre-screen sees only ASCII digit counts, so the
    shipped patterns spell digits ``[0-9]``: an Arabic-Indic SSN is
    never scrubbed, whether or not an unrelated ASCII digit elsewhere
    in the doc opens the screen, and scrub_batch gives the same result
    with and without the screen."""
    from sequali_spark.functions import scrub
    from sequali_spark.functions.metrics import compute_metrics

    texts = [
        "my ssn is \u0663\u0663\u0663-\u0663\u0663-\u0663\u0663\u0663\u0663 ok",
        "my ssn is \u0663\u0663\u0663-\u0663\u0663-\u0663\u0663\u0663\u0663 ok, room 7",
        "my ssn is 123-45-6789 ok",
        "call me at 555-123-4567 today",
    ]
    m = compute_metrics(_pages(texts))
    assert list(m["pii_hits"]) == [0, 0, 1, 1]
    assert list(m["scrubbed_text"]) == [
        None, None, b"my ssn is <SSN> ok", b"call me at <PHONE> today"
    ]
    s = pd.Series(texts)
    digits = kernels.char_class_counts([t.encode("utf-8") for t in texts])
    screened, screened_hits = scrub.scrub_batch(s, digit_counts=digits[:, kernels.CLASS_DIGIT])
    full, full_hits = scrub.scrub_batch(s)
    assert list(screened) == list(full)
    pd.testing.assert_frame_equal(screened_hits, full_hits)


def test_scrub_prescreen_literals_match_shipped_patterns():
    """The pre-screen copies facts about the shipped battery: its
    pattern names, the tox_grawlix alternation, and ASCII-only digit
    classes.  An edit to patterns.tsv that breaks any of them must fail
    here, not silently under-scrub."""
    import re

    from sequali_spark.functions import scrub

    pats = {p.name: p.regex.pattern for p in scrub.get_patterns()}
    assert set(pats) == scrub._DEFAULT_NAMES
    alt = re.fullmatch(r"\\b\(\?:([^()]*)\)\\b", pats["tox_grawlix"])
    assert alt is not None, pats["tox_grawlix"]
    assert alt.group(1).split("|") == scrub.TOX_LITERALS
    assert not any("\\d" in p for p in pats.values())


def test_pruned_metrics_keep_decision_identical():
    """Computation pruning must never change keep/drop: PRUNABLE_COLUMNS
    is asserted disjoint from RULE_INPUT_COLUMNS at import, and this
    pins the behavior end-to-end."""
    import pandas as pd
    from sequali_spark.fixtures import generate_pages
    from sequali_spark.functions.metrics import PRUNABLE_COLUMNS, compute_metrics

    p = generate_pages(300, seed=9)
    pdf = pd.DataFrame(
        {"url": p["url"], "warc_ts": p["warc_ts"], "html": p["html"],
         "text": p["text"], "lang": p["lang"]}
    )
    full = compute_metrics(pdf)
    pruned = compute_metrics(pdf, needed={"url", "keep", "drop_reasons"})
    assert list(full["keep"]) == list(pruned["keep"])
    assert [list(r) for r in full["drop_reasons"]] == [list(r) for r in pruned["drop_reasons"]]
    # and the expensive columns were genuinely skipped (dummy values)
    assert set(PRUNABLE_COLUMNS) <= set(full.columns)


def test_gopher_structure_rules_fire_on_crafted_docs():
    """The r8 Gopher rules (Rae et al. 2021 §A1.1) on hand-built docs the
    synthetic corpus never contains: a pure bullet list, an ellipsis-
    teaser page, symbol soup, and letterless word salad — plus a healthy
    doc asserting none of the four fire."""
    import pandas as pd
    from sequali_spark.functions.metrics import compute_metrics

    healthy = (
        "The quick brown fox jumps over the lazy dog near the river bank. "
        * 3
    )
    bullets = "\n".join(f"- item number {i} in the listing" for i in range(20))
    teaser = "\n".join(f"read the full story about topic {i}..." for i in range(10))
    symbols = " ".join(f"#tag{i} more..." for i in range(30))
    numbers = "the " + " ".join(str(i * 137) for i in range(40))
    pdf = pd.DataFrame(
        {
            "url": [f"https://x.test/{i}" for i in range(5)],
            "warc_ts": pd.to_datetime(["2024-01-01"] * 5),
            "html": [None] * 5,
            "text": [healthy, bullets, teaser, symbols, numbers],
            "lang": ["en"] * 5,
        }
    )
    m = compute_metrics(pdf)
    reasons = [set(r) for r in m["drop_reasons"]]
    new_rules = {"bullet_heavy", "ellipsis_heavy", "low_alpha_words", "symbol_heavy"}
    assert not (reasons[0] & new_rules), reasons[0]
    assert "bullet_heavy" in reasons[1]
    assert "ellipsis_heavy" in reasons[2]
    assert "symbol_heavy" in reasons[3]
    assert "low_alpha_words" in reasons[4]
    # metric values, hand-checked
    assert m["bullet_line_frac"][1] == 1.0
    assert m["ellipsis_line_frac"][2] == 1.0
    assert m["alpha_word_frac"][4] == 1.0 / 41
    assert m["symbol_word_ratio"][3] == 1.0  # one '#' + one '...' per 2 words
