"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of its ``numpy.random.Generator``:
the same seed gives the same frames, byte for byte.  The engine only
ever sees what these functions return.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

NS_PER_S = 10**9
DAY_NS = 86_400 * NS_PER_S
HOUR_NS = 3_600 * NS_PER_S
MIN_NS = 60 * NS_PER_S
#: 2024-01-02T00:00:00Z, the first tick day of every workload
BASE_NS = 1_704_153_600 * NS_PER_S


def ticks(
    rng: np.random.Generator,
    n: int,
    start_ns: int,
    span_ns: int,
    first_event_id: int,
    price0: float,
    sub_us: bool,
) -> pd.DataFrame:
    """``n`` trades in ``[start_ns, start_ns + span_ns)``, sorted by
    (ts, event_id).  ``ts`` is int64 epoch nanoseconds; with
    ``sub_us=False`` every stamp is a whole microsecond (the precision a
    bucket stores), with ``sub_us=True`` stamps carry real nanoseconds."""
    if sub_us:
        ts = rng.integers(start_ns, start_ns + span_ns, n)
    else:
        ts = rng.integers(start_ns // 1000, (start_ns + span_ns) // 1000, n) * 1000
    ts.sort()
    steps = rng.normal(0.0, 0.02, n)
    value = np.round(np.maximum(price0 + np.cumsum(steps), 1.0), 2)
    return pd.DataFrame(
        {
            "ts": ts.astype(np.int64),
            "event_id": np.arange(first_event_id, first_event_id + n, dtype=np.int64),
            "value": value,
            "size": rng.integers(1, 1000, n).astype(np.int64),
        }
    )


# -- analytics corpus -----------------------------------------------------

_VOCAB = (
    "a the row key agg scan slow fast table value part hash merge batch "
    "spark line sort window data column join small customer query big "
    "stream order group filter vector"
).split()


ANALYTICS_DOCS = 300
#: words in a document (a passage-repeat document has 30 more)
DOC_WORDS = 50
#: (kind, share of the documents after the first 20 originals).  The
#: counts are fixed and only their order is seeded, so every seed gives a
#: corpus of the same shape and about the same size
_DOC_KINDS = (("exact", 0.04), ("near", 0.08), ("passage", 0.06))


def analytics_documents(rng: np.random.Generator) -> pd.DataFrame:
    """The corpus the analytics workload reads, with the schema of the
    engine's ``documents`` test table at 6% of its ``sf0.1`` size:
    random-word documents with planted exact duplicates, near duplicates
    (a few words substituted) and passage repeats, so the dedup keys have
    work and a non-empty answer."""
    n_docs = ANALYTICS_DOCS
    vocab = np.array(_VOCAB)
    rest = n_docs - 20
    kinds = ["original"] * rest
    at = 0
    for kind, share in _DOC_KINDS:
        k = round(share * rest)
        kinds[at : at + k] = [kind] * k
        at += k
    kinds = ["original"] * 20 + [str(k) for k in rng.permutation(kinds)]
    texts: list[str] = []
    plain: list[int] = []  # documents of DOC_WORDS words, the copy sources
    for i, kind in enumerate(kinds):
        if kind in ("exact", "near"):
            words = texts[plain[int(rng.integers(0, len(plain)))]].split()
            if kind == "near":  # ~3% of words swapped
                for j in rng.choice(len(words), len(words) // 40, replace=False):
                    words[j] = vocab[int(rng.integers(0, len(vocab)))]
        else:
            words = list(vocab[rng.integers(0, len(vocab), DOC_WORDS)])
            if kind == "passage":  # a passage repeated three times
                words = words[:15] * 3 + words[15:]
        if len(words) == DOC_WORDS:
            plain.append(i)
        texts.append(" ".join(words))
    langs = np.array(["en", "en", "en", "zh", "es", "de", "fr"])
    return pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": langs[rng.integers(0, len(langs), n_docs)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def tree_bytes(root: str) -> int:
    """Bytes of every file under ``root``."""
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root) for f in fs
    )
