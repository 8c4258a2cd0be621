#!/usr/bin/env python
"""Build the deterministic model artifacts shipped with the package.

langid profile matrix and perplexity LM count tables are pure functions
of the seeded training corpora (sequali_spark.fixtures); baking them to
.npz means executors only load arrays — the package has no training
path at run time (the analogue of sequali shipping
score_to_error_rate.h and its contaminant FASTA in-package).  Re-run
after changing vocabularies, hash functions, or training seeds; tests
assert artifact freshness.
"""

from __future__ import annotations

import sys
from pathlib import Path

import numpy as np

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from sequali_spark.fixtures import lang_training_texts, lm_training_texts  # noqa: E402
from sequali_spark.functions.langid import LangIdModel  # noqa: E402
from sequali_spark.functions.perplexity import NgramLM  # noqa: E402

OUT = Path(__file__).resolve().parent.parent / "sequali_spark" / "resources" / "models"


def main() -> None:
    OUT.mkdir(parents=True, exist_ok=True)
    langid = LangIdModel(lang_training_texts())
    np.savez_compressed(
        OUT / "langid.npz",
        langs=np.array(langid.langs, dtype=object),
        weights=langid.weights,
    )
    lm = NgramLM(lm_training_texts())
    np.savez_compressed(
        OUT / "ngram_lm.npz", uni=lm.uni, bi=lm.bi, total=np.array([lm.total])
    )
    print(f"wrote {OUT}/langid.npz and ngram_lm.npz")


if __name__ == "__main__":
    main()
