"""Compiled-regex PII / toxicity scrubber.

The analogue of sequali's AdapterCounter exact multi-pattern search
(reference: src/sequali/_qcmodule.c:2387-2963, shift-AND/bitap over
packed adapter probes): a battery of compiled patterns applied to every
document, with deterministic byte-exact replacement.  Patterns are
declared in a TSV the same shape as sequali's adapter_list.tsv
(reference: src/sequali/adapters/adapters.py:32-48 — '#' comments
ignored, tab-separated) so the battery is config, not code.

Scrubbing must be byte-identical between the oracle and every Spark
executor: only this module touches the text, and it is shared by both.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from importlib import resources

import numpy as np
import pandas as pd


@dataclass(frozen=True)
class ScrubPattern:
    name: str
    category: str  # 'pii' | 'toxicity'
    regex: re.Pattern
    replacement: str


def load_patterns() -> list[ScrubPattern]:
    """The shipped ``resources/patterns.tsv``, read through
    importlib.resources so it resolves from a checkout and from the
    ``--py-files`` zip alike.  TSV columns: name, category, regex,
    replacement ('#' = comment)."""
    tsv = resources.files("sequali_spark").joinpath("resources", "patterns.tsv")
    out: list[ScrubPattern] = []
    for line in tsv.read_text(encoding="utf-8").splitlines():
        if not line.strip() or line.startswith("#"):
            continue
        name, category, pattern, replacement = line.split("\t")
        out.append(ScrubPattern(name, category, re.compile(pattern), replacement))
    return out


_PATTERNS: list[ScrubPattern] | None = None
_PREFILTER: re.Pattern | None = None


def get_patterns() -> list[ScrubPattern]:
    global _PATTERNS
    if _PATTERNS is None:
        _PATTERNS = load_patterns()
    return _PATTERNS


def _get_prefilter() -> re.Pattern:
    """One alternation of all patterns: a single scan decides whether a
    doc needs the full battery at all — the analogue of sequali's bitap
    packing many probes into one machine-word pass (_qcmodule.c:2506-2518).
    Most documents are clean, so this removes ~|patterns|× regex work."""
    global _PREFILTER
    if _PREFILTER is None:
        _PREFILTER = re.compile(
            "|".join(f"(?:{p.regex.pattern})" for p in get_patterns())
        )
    return _PREFILTER


TOX_LITERALS = ["frakking", "smegging", "gorram", "felgercarb", "shazbot"]
_DEFAULT_NAMES = {"email", "phone", "ipv4", "ssn", "tox_grawlix"}


def _patterns_are_default() -> bool:
    return {p.name for p in get_patterns()} == _DEFAULT_NAMES


def _maybe_dirty(t: str, has_digits: bool) -> bool:
    """O(len) literal pre-screen: every pattern in the default battery
    requires an ASCII digit, an '@', or a toxicity literal — docs with
    none can skip the regex battery entirely.  The shipped patterns
    spell digits ``[0-9]``, never ``\\d`` (which also matches every
    Unicode decimal digit), so the ASCII digit count the char
    classifier supplies makes the screen exact."""
    if has_digits or "@" in t:
        return True
    return any(w in t for w in TOX_LITERALS)


def scrub_batch(
    texts: pd.Series, digit_counts: np.ndarray | None = None
) -> tuple[pd.Series, pd.DataFrame]:
    """Apply every pattern in declared order (first-listed wins on overlap,
    like sequali's first-occurrence-per-read semantics, _qcmodule.c:2643-2672).

    Returns (scrubbed texts, per-doc hit-count frame with one int column
    per pattern name plus 'pii_hits' / 'tox_hits' totals).

    ``digit_counts`` (per-doc digit totals, already computed by the char
    classifier) enables the literal pre-screen fast path.
    """
    patterns = get_patterns()
    pre = _get_prefilter()
    n = len(texts)
    vals = texts.to_numpy(dtype=object)
    # literal fast path is only sound for the default battery (whose
    # patterns all require a digit, '@', or a toxicity literal)
    use_fast = digit_counts is not None and _patterns_are_default()
    if use_fast:
        dirty_idx = [
            i
            for i, t in enumerate(vals)
            if t and _maybe_dirty(t, bool(digit_counts[i])) and pre.search(t)
        ]
    else:
        dirty_idx = [i for i, t in enumerate(vals) if t and pre.search(t)]
    counts = {
        f"hits_{p.name}": np.zeros(n, dtype=np.int64) for p in patterns
    }
    scrubbed = vals.copy()
    for i in dirty_idx:
        t = vals[i]
        for p in patterns:
            t, k = p.regex.subn(p.replacement, t)
            counts[f"hits_{p.name}"][i] = k
        scrubbed[i] = t
    frame = pd.DataFrame(counts, index=texts.index)
    pii_cols = [f"hits_{p.name}" for p in patterns if p.category == "pii"]
    tox_cols = [f"hits_{p.name}" for p in patterns if p.category == "toxicity"]
    frame["pii_hits"] = frame[pii_cols].sum(axis=1) if pii_cols else 0
    frame["tox_hits"] = frame[tox_cols].sum(axis=1) if tox_cols else 0
    return pd.Series(scrubbed, index=texts.index), frame
