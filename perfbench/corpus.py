"""Seeded documents corpus for the ``corpus_prep`` workload.

The shape follows the ``documents`` test table at scale factor 0.1: 5,000
word-bag documents of 10-100 words over a 30-word vocabulary, 20 sources,
about 5 % near-duplicates (a copy of an earlier document
with `` dup`` appended) and a few exact copies.  ``mirrored`` then makes
each document ``times`` near-duplicate mirrors (``r<k> `` prefix, distinct
ids ``doc_id * times + k``) — the same mirror shape bench.py's scale
entries use.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
N_SOURCES = 20


def base_documents(seed: int, n: int = 5000) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    vocab = np.array(VOCAB)
    texts: list[str] = []
    n_near = n // 20
    n_exact = 8
    near_at = set(rng.choice(np.arange(n // 10, n), n_near + n_exact, replace=False))
    exact_at = set(sorted(near_at)[:n_exact])
    for i in range(n):
        if i in near_at:
            src = texts[int(rng.integers(0, i))]
            texts.append(src if i in exact_at else src + " dup")
        else:
            words = vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]
            texts.append(" ".join(words))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "source": [f"src{i % N_SOURCES}" for i in range(n)],
            "text": texts,
        }
    )


def mirrored(base: pd.DataFrame, times: int) -> pd.DataFrame:
    parts = []
    for r in range(times):
        parts.append(
            pd.DataFrame(
                {
                    "doc_id": base["doc_id"] * times + r,
                    "source": base["source"],
                    "text": f"r{r} " + base["text"],
                }
            )
        )
    return pd.concat(parts, ignore_index=True).sort_values("doc_id", ignore_index=True)
