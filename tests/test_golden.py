"""Committed golden snapshot — semantic drift guard.

The pipeline and the pandas oracle share kernel code, so their mutual
parity cannot detect an *unintentional semantic change* (both sides
would drift together).  This golden file pins the labels, scrub-byte
digest, and report counters for the seed-42/500-row corpus, committed
to the repo — the direct transplant of sequali's golden integration
values (reference: tests/test_integration.py:127-137 asserts exact
n50 == 59502 on a fixed fixture).

If a change is INTENTIONAL (new rule, recalibrated threshold, vocab
edit), regenerate with the snippet in tests/golden/README (and say so
in the commit message); an unexplained diff here is a bug.
"""

from __future__ import annotations

import hashlib
import json
from pathlib import Path

import numpy as np

GOLDEN = Path(__file__).parent / "golden" / "labels_500_seed42.json"
METRICS_GOLDEN = Path(__file__).parent / "golden" / "metrics_500_seed42.json"


def test_oracle_matches_committed_golden():
    from sequali_spark.fixtures import generate_pages
    from sequali_spark.oracle import oracle_metrics, oracle_report

    golden = json.loads(GOLDEN.read_text())
    pages = generate_pages(**{"n_rows": golden["generator"]["rows"], "seed": golden["generator"]["seed"]})
    m = oracle_metrics(pages)

    scrub_digest = hashlib.blake2b(digest_size=16)
    got_rows = []
    for _, r in m.sort_values("url").iterrows():
        got_rows.append(
            {
                "url": r["url"], "keep": bool(r["keep"]), "lang_pred": r["lang_pred"],
                "fingerprint": int(r["fingerprint"]), "n_words": int(r["n_words"]),
                "pii_hits": int(r["pii_hits"]), "tox_hits": int(r["tox_hits"]),
                "drop_reasons": list(r["drop_reasons"]),
            }
        )
        scrub_digest.update(r["url"].encode())
        scrub_digest.update(
            r["scrubbed_text"] if r["scrubbed_text"] is not None else b"\x00NULL"
        )

    assert scrub_digest.hexdigest() == golden["scrubbed_digest"], "scrub bytes drifted"
    assert got_rows == golden["labels"], "per-doc labels drifted"

    rep = oracle_report(m)
    for key, want in golden["report"].items():
        assert rep[key] == want, f"report[{key}] drifted"


def test_metric_columns_match_committed_golden():
    """Every numeric metric column, bit for bit.  The labels golden only
    sees a metric through a threshold, so a last-bit drift in a ratio or
    mean (e.g. alpha_word_frac, mean_word_len) would pass it unnoticed;
    one blake2b digest per float64/int64 column (rows sorted by url,
    little-endian bytes) catches it."""
    from sequali_spark.fixtures import generate_pages
    from sequali_spark.oracle import oracle_metrics

    golden = json.loads(METRICS_GOLDEN.read_text())
    gen = golden["generator"]
    m = oracle_metrics(generate_pages(gen["rows"], seed=gen["seed"])).sort_values("url")

    got = {}
    for col in m.columns:
        dt = m[col].dtype
        if dt in (np.float64, np.int64):
            raw = m[col].to_numpy(dtype=dt.newbyteorder("<")).tobytes()
            got[col] = hashlib.blake2b(raw, digest_size=16).hexdigest()
    assert sorted(got) == sorted(golden["columns"]), "numeric metric columns changed"
    drifted = [c for c in got if got[c] != golden["columns"][c]]
    assert not drifted, f"metric columns drifted: {drifted}"
