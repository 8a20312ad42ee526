"""Seeded ``documents`` table for the n-gram Jaccard workload.

Same shape as the operator suite's documents table: a 30-word vocabulary,
10-100 words per document, five languages, twenty sources. A share of the
documents are edited copies of earlier ones, so the near-duplicate
search has real pairs to find.
"""

import numpy as np
import pandas as pd

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ("en", "en", "en", "zh", "es", "fr", "de")
NEAR_DUP_SHARE = 0.05


def documents(seed, n_docs):
    rng = np.random.default_rng(seed)
    texts = []
    for i in range(n_docs):
        if i > 0 and rng.random() < NEAR_DUP_SHARE:
            words = texts[rng.integers(0, i)].split()
            for _ in range(rng.integers(1, 4)):
                words[rng.integers(0, len(words))] = "dup"
        else:
            words = list(rng.choice(VOCAB, rng.integers(10, 101)))
        texts.append(" ".join(words))
    return pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs),
        "source": ["src%d" % (i % 20) for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
