"""The per-document metric battery + keep/drop rule engine.

This is the single source of truth for per-document semantics: the
pandas oracle applies :func:`compute_metrics` to the whole table in one
process; the Spark pipeline applies the *same function* to every Arrow
batch inside ``mapInPandas``.  Per-document metrics are pure row
functions, so batch-wise == global and the pipeline matches the oracle
exactly (keep/drop F1 = 1.0, scrubbed text byte-identical) by
construction — the transplant of sequali's exact-value testing
philosophy (reference: tests/test_qc_metrics.py:90-140).

Rule battery ancestry (SURVEY.md §7.2):
  length / char-class ratios     <- QCMetrics per-position tables (A1-A5)
  repetition (dup lines/bigrams) <- OverrepresentedSequences spirit (A8)
  langid                         <- seqtech detection (util.py:162-254)
  perplexity                     <- per-read mean quality (A5)
  PII/toxicity scrub             <- AdapterCounter exact search (A6)
  fingerprint / shingles         <- DedupEstimator (A10) / OverrepSeqs (A8)
  Gopher structure rules (r8)    <- Rae et al. 2021 §A1.1 (bullet/
                                    ellipsis lines, letter-bearing
                                    words, symbol-to-word ratio)
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from sequali_spark.functions import kernels, langid, perplexity, scrub

# --- thresholds (the rule battery's config, cf. sequali's CLI defaults
# __main__.py:58-199) ---------------------------------------------------------
MIN_CHARS = 50
MAX_CHARS = 2_000_000
MIN_WORDS = 10
MEAN_WORD_LEN_RANGE = (2.0, 12.0)
MAX_DIGIT_RATIO = 0.25
MAX_UPPER_RATIO = 0.30
MAX_PUNCT_RATIO = 0.20
MAX_CTRL_RATIO = 0.005
MAX_CHAR_RUN = 20
MAX_DUP_LINE_FRAC = 0.30
MAX_TOP_BIGRAM_FRAC = 0.20
# Gopher structure rules (Rae et al. 2021 §A1.1): listing-like pages
# (>90% bullet lines), clipped/teaser pages (>30% lines ending in an
# ellipsis), symbol soup (<80% of words contain a letter, or >0.1
# symbols per word).  The line-frac and alpha-word thresholds are the
# paper's; the symbol rule deliberately deviates: '#' and '...' COUNTS
# are summed against ONE 0.1 threshold (the paper applies 0.1 to each
# symbol's ratio separately), and U+2026 counts only for the
# line-ending ellipsis rule, not as a symbol.  Slightly stricter than
# the paper; pinned by the oracle-backed gopher queries — do not
# "fix" without re-deriving every downstream hash.
MAX_BULLET_LINE_FRAC = 0.90
MAX_ELLIPSIS_LINE_FRAC = 0.30
MIN_ALPHA_WORD_FRAC = 0.80
MAX_SYMBOL_WORD_RATIO = 0.10
# Model-gated thresholds are calibrated to reject GIBBERISH, not merely
# out-of-domain text: a hashed add-k LM scores fully-unseen vocabulary
# ~450k ppl and pure noise far higher, while unfamiliar-but-real prose
# lands 10k-50k; the 4-way softmax margin floors at 0.25 for a flat
# profile, so 0.30 keeps plausibly-classified text and still drops
# profile-less noise.
MAX_PERPLEXITY = 100_000.0
MIN_LANG_CONF = 0.30

RULE_ORDER = [
    "too_short",
    "too_long",
    "too_few_words",
    "word_len_out_of_range",
    "digit_heavy",
    "upper_heavy",
    "punct_heavy",
    "control_chars",
    "char_run",
    "dup_lines",
    "repeated_bigrams",
    "bullet_heavy",
    "ellipsis_heavy",
    "low_alpha_words",
    "symbol_heavy",
    "high_perplexity",
    "low_lang_conf",
    "toxicity",
    "bad_html_encoding",
]

# metric columns _apply_rules reads — keep in sync with the flags dict
# (cheap: the rules read plain ndarray columns, nothing derived)
RULE_INPUT_COLUMNS = frozenset(
    {
        "n_chars", "n_words", "mean_word_len", "digit_ratio", "upper_ratio",
        "punct_ratio", "ctrl_ratio", "max_char_run", "dup_line_frac",
        "top_bigram_frac", "bullet_line_frac", "ellipsis_line_frac",
        "alpha_word_frac", "symbol_word_ratio",
        "perplexity", "lang_pred", "lang_conf",
        "tox_hits", "html_utf8",
    }
)

# columns compute_metrics may SKIP under output pruning; a pruned column
# gets a dummy value, so it must never feed the keep/drop decision
PRUNABLE_COLUMNS = frozenset({"compression_ratio", "shingles", "sampled", "fingerprint"})

assert not (PRUNABLE_COLUMNS & RULE_INPUT_COLUMNS), (
    "a prunable metric column is used by the rule battery — pruning it "
    "would silently change keep/drop decisions"
)

METRIC_SCHEMA_DDL = (
    "url string, warc_ts timestamp, lang string, "
    "n_chars bigint, n_bytes bigint, n_words bigint, "
    "alpha_ratio double, digit_ratio double, upper_ratio double, "
    "space_ratio double, punct_ratio double, ctrl_ratio double, "
    "nonascii_ratio double, mean_word_len double, max_char_run bigint, "
    "dup_line_frac double, top_bigram_frac double, "
    "bullet_line_frac double, ellipsis_line_frac double, "
    "alpha_word_frac double, symbol_word_ratio double, "
    "compression_ratio double, "
    "lang_pred string, lang_conf double, perplexity double, "
    "pii_hits bigint, tox_hits bigint, html_utf8 boolean, "
    "fingerprint bigint, sampled boolean, shingles array<string>, "
    "keep boolean, drop_reasons array<string>, scrubbed_text binary"
)


def compute_metrics(pdf: pd.DataFrame, needed: set[str] | None = None) -> pd.DataFrame:
    """Batch of pages (url, warc_ts, html, text, lang) -> metric frame.

    One pass of batch kernels, the same work sequali does per read:
    char classes via one ``bytes.translate`` and a few ``bytes.count``
    per doc (kernels.char_class_counts); every per-token feature (hash,
    letter test, length) computed once per batch VOCABULARY
    (kernels.token_vocab — one NUL-safe path for every batch) and
    gathered back per token; literal counts
    via ``str.count`` and line counts via two multiline regexes per doc;
    scrubbing via a literal pre-screen plus compiled regexes on the few
    docs it flags (scrub.scrub_batch); models via NumPy.

    ``needed`` (the output projection, when the caller prunes columns)
    lets the expensive columns that feed NO keep/drop rule —
    PRUNABLE_COLUMNS: compression_ratio (zlib), shingles (sampled k-gram
    extraction), sampled (per-url hash), fingerprint (per-doc hash) — be
    skipped entirely: computation pruning to match the Arrow-boundary
    projection pruning.  None (the oracle/default path) computes
    everything.  A module-level assertion keeps PRUNABLE_COLUMNS
    disjoint from RULE_INPUT_COLUMNS, so adding a rule on a pruned
    column is a loud import-time failure, never a silent keep/drop
    divergence.
    """
    n = len(pdf)
    texts = pdf["text"].fillna("").astype(object)
    raw_bytes = [t.encode("utf-8") for t in texts]

    cls_counts = kernels.char_class_counts(raw_bytes)
    n_bytes = cls_counts.sum(axis=1) - cls_counts[:, kernels.N_CLASSES]
    denom = np.maximum(n_bytes, 1).astype(np.float64)

    # ONE tokenize pass and ONE vocabulary per batch feed the repetition
    # metrics, the Gopher letter-word test AND perplexity.
    texts_list = list(texts)
    flat, tok_lengths, tok_offsets = kernels.flatten_tokens(texts_list)
    tok_hashes, tok_alpha, tok_lens = kernels.token_vocab(flat).gather()
    ws = kernels.word_stats_from_tokens(
        texts_list, tok_lens, tok_lengths, tok_offsets, tok_hashes
    )
    run = kernels.max_char_run(raw_bytes)

    # Gopher structure signals (Rae et al. 2021 §A1.1): the multiline
    # regexes count qualifying lines in one C pass per doc, the literal
    # counts are plain str.count passes (same non-overlapping matches as
    # the regex), and the letter-bearing-word test reuses the vocabulary.
    n_lines = np.fromiter((t.count("\n") for t in texts_list), np.float64, n) + 1.0
    bullet_lines = texts.str.count(r"(?m)^(?:- |\* |•)").to_numpy(dtype=np.float64)
    ellipsis_lines = texts.str.count(r"(?m)(?:\.\.\.|…)$").to_numpy(dtype=np.float64)
    alpha_counts = kernels.segment_sums(tok_alpha, tok_offsets)
    word_denom = np.maximum(tok_lengths, 1).astype(np.float64)
    alpha_word_frac = np.where(tok_lengths > 0, alpha_counts / word_denom, 1.0)
    symbol_counts = np.fromiter(
        (t.count("#") + t.count("...") for t in texts_list), np.float64, n
    )
    symbol_word_ratio = symbol_counts / word_denom

    lang_pred, lang_conf = langid.get_model().predict(texts_list)
    ppl = perplexity.get_model().perplexities_hashed(tok_hashes, tok_lengths, tok_offsets)

    scrubbed, hit_frame = scrub.scrub_batch(
        texts, digit_counts=cls_counts[:, kernels.CLASS_DIGIT]
    )

    html = pdf["html"]
    html_utf8 = np.ones(n, dtype=bool)
    for i, h in enumerate(html):
        if h is None:
            continue
        try:
            (h if isinstance(h, (bytes, bytearray)) else bytes(h)).decode("utf-8")
        except UnicodeDecodeError:
            html_utf8[i] = False

    def _want(col: str) -> bool:
        return needed is None or col in needed

    fingerprints = (
        kernels.dedup_fingerprints(raw_bytes)
        if _want("fingerprint")
        else np.zeros(n, dtype=np.int64)
    )
    # `sampled` feeds `shingles`, so it is computed when either is wanted
    sampled = (
        kernels.url_sample_mask(pdf["url"])
        if _want("sampled") or _want("shingles")
        else np.zeros(n, dtype=bool)
    )
    shingles: list[list[str]] = (
        [
            [s.decode("utf-8", "replace") for s in kernels.doc_shingles(raw_bytes[i])]
            if sampled[i]
            else []
            for i in range(n)
        ]
        if _want("shingles")
        else [[] for _ in range(n)]
    )

    out = pd.DataFrame(
        {
            "url": pdf["url"].to_numpy(),
            "warc_ts": pdf["warc_ts"].to_numpy(),
            "lang": pdf["lang"].to_numpy(),
            "n_chars": np.fromiter((len(t) for t in texts), np.int64, n),
            "n_bytes": n_bytes,
            "n_words": ws["n_words"].to_numpy(),
            "alpha_ratio": cls_counts[:, kernels.CLASS_ALPHA] / denom,
            "digit_ratio": cls_counts[:, kernels.CLASS_DIGIT] / denom,
            "upper_ratio": cls_counts[:, kernels.N_CLASSES] / denom,
            "space_ratio": cls_counts[:, kernels.CLASS_SPACE] / denom,
            "punct_ratio": cls_counts[:, kernels.CLASS_PUNCT] / denom,
            "ctrl_ratio": cls_counts[:, kernels.CLASS_CTRL] / denom,
            "nonascii_ratio": cls_counts[:, kernels.CLASS_NONASCII] / denom,
            "mean_word_len": ws["mean_word_len"].to_numpy(),
            "max_char_run": run,
            "dup_line_frac": ws["dup_line_frac"].to_numpy(),
            "top_bigram_frac": ws["top_bigram_frac"].to_numpy(),
            "bullet_line_frac": bullet_lines / n_lines,
            "ellipsis_line_frac": ellipsis_lines / n_lines,
            "alpha_word_frac": alpha_word_frac,
            "symbol_word_ratio": symbol_word_ratio,
            "compression_ratio": (
                kernels.compression_ratios(raw_bytes)
                if _want("compression_ratio")
                else np.zeros(n, dtype=np.float64)
            ),
            "lang_pred": lang_pred,
            "lang_conf": lang_conf,
            "perplexity": ppl,
            "pii_hits": hit_frame["pii_hits"].to_numpy(dtype=np.int64),
            "tox_hits": hit_frame["tox_hits"].to_numpy(dtype=np.int64),
            "html_utf8": html_utf8,
            "fingerprint": fingerprints,
            "sampled": sampled,
            "shingles": shingles,
        }
    )

    reasons = _apply_rules(out)
    out["keep"] = [len(r) == 0 for r in reasons]
    out["drop_reasons"] = reasons
    # Contract: scrubbed_text is NULL when no pattern fired (text is
    # unchanged) — sinks coalesce(scrubbed_text, encode(text)).  This
    # halves the bytes crossing the Arrow boundary on mostly-clean
    # corpora (cf. sequali emitting only aggregate state, never reads).
    touched = (hit_frame["pii_hits"].to_numpy() + hit_frame["tox_hits"].to_numpy()) > 0
    scrubbed_vals = scrubbed.to_numpy()
    out["scrubbed_text"] = [
        scrubbed_vals[i].encode("utf-8") if touched[i] else None for i in range(n)
    ]
    return out


def _apply_rules(m: pd.DataFrame) -> list[list[str]]:
    """Evaluate the rule battery; returns per-doc ordered drop reasons.

    Soft-degrade philosophy: a rule firing adds a reason, it never raises
    (cf. sequali's skipped_reason, _qcmodule.c:3136-3148)."""
    flags = {
        "too_short": m["n_chars"].to_numpy() < MIN_CHARS,
        "too_long": m["n_chars"].to_numpy() > MAX_CHARS,
        "too_few_words": m["n_words"].to_numpy() < MIN_WORDS,
        "word_len_out_of_range": (
            (m["mean_word_len"].to_numpy() < MEAN_WORD_LEN_RANGE[0])
            | (m["mean_word_len"].to_numpy() > MEAN_WORD_LEN_RANGE[1])
        )
        & (m["n_words"].to_numpy() > 0),
        "digit_heavy": m["digit_ratio"].to_numpy() > MAX_DIGIT_RATIO,
        "upper_heavy": m["upper_ratio"].to_numpy() > MAX_UPPER_RATIO,
        "punct_heavy": m["punct_ratio"].to_numpy() > MAX_PUNCT_RATIO,
        "control_chars": m["ctrl_ratio"].to_numpy() > MAX_CTRL_RATIO,
        "char_run": m["max_char_run"].to_numpy() > MAX_CHAR_RUN,
        "dup_lines": m["dup_line_frac"].to_numpy() > MAX_DUP_LINE_FRAC,
        "repeated_bigrams": m["top_bigram_frac"].to_numpy() > MAX_TOP_BIGRAM_FRAC,
        "bullet_heavy": m["bullet_line_frac"].to_numpy() > MAX_BULLET_LINE_FRAC,
        "ellipsis_heavy": m["ellipsis_line_frac"].to_numpy() > MAX_ELLIPSIS_LINE_FRAC,
        "low_alpha_words": m["alpha_word_frac"].to_numpy() < MIN_ALPHA_WORD_FRAC,
        "symbol_heavy": m["symbol_word_ratio"].to_numpy() > MAX_SYMBOL_WORD_RATIO,
        "high_perplexity": (m["perplexity"].to_numpy() > MAX_PERPLEXITY)
        & (m["lang_pred"].to_numpy() == "en"),
        "low_lang_conf": m["lang_conf"].to_numpy() < MIN_LANG_CONF,
        "toxicity": m["tox_hits"].to_numpy() > 0,
        "bad_html_encoding": ~m["html_utf8"].to_numpy(),
    }
    n = len(m)
    out: list[list[str]] = [[] for _ in range(n)]
    for name in RULE_ORDER:
        f = flags[name]
        for i in np.flatnonzero(f):
            out[i].append(name)
    return out
