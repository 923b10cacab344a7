"""Seeded input generators and digest-keyed staging.

The catalog workload needs tables shaped like the sf0.1 ``events`` and
``documents`` parquet the entries were written against: 100k events over
1,500 users and 30 days, and 5,000 documents over a 30-word vocabulary
of which 250 are near-duplicates.  They are generated here from the seed
so that a run reads nothing outside its checkout.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pandas as pd

EVENT_TYPES = np.array(["signup", "purchase", "view", "click", "error"])
WORDS = np.array(
    "spark window merge table column vector stream value data small join filter big "
    "group hash customer sort order slow line part fast row the agg key query a scan "
    "batch".split()
)
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = np.array([0.4, 0.15, 0.15, 0.15, 0.15])


def gen_events(seed: int, n_events: int = 100_000, n_users: int = 1_500,
               days: int = 30) -> pd.DataFrame:
    """Events in ts order: uniform users and types, exponential values."""
    rng = np.random.default_rng([seed, 1])
    span_us = days * 86_400 * 1_000_000
    offs = np.sort(rng.integers(0, span_us, n_events))
    return pd.DataFrame(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": (np.datetime64("2024-01-01T00:00:00", "us") + offs.astype("timedelta64[us]")),
            "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
            "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n_events)],
            "value": np.round(rng.exponential(50.0, n_events), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )


def gen_documents(seed: int, n_docs: int = 5_000, n_dups: int = 250) -> pd.DataFrame:
    """Random word bags of 10-100 words; ``n_dups`` docs copy another
    document's text and append " dup"."""
    rng = np.random.default_rng([seed, 2])
    lens = rng.integers(10, 101, n_docs)
    words = WORDS[rng.integers(0, len(WORDS), int(lens.sum()))]
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(w) for w in np.split(words, cuts)]
    dup_ids = rng.choice(n_docs, n_dups, replace=False)
    originals = np.setdiff1d(np.arange(n_docs), dup_ids)
    for d, src in zip(dup_ids, rng.choice(originals, n_dups)):
        texts[d] = texts[src] + " dup"
    return pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": LANGS[rng.choice(len(LANGS), n_docs, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def frame_digest(pdf: pd.DataFrame) -> str:
    """Content digest of a frame: column names, dtypes and row hashes."""
    h = hashlib.sha256()
    h.update(json.dumps([(c, str(t)) for c, t in pdf.dtypes.items()]).encode())
    h.update(pd.util.hash_pandas_object(pdf, index=False).to_numpy().tobytes())
    return h.hexdigest()[:16]


def stage(root: str, generator: str, seed: int, size: int, tables: dict) -> str:
    """Write ``tables`` ({name: frame}) as parquet under a directory keyed
    by (generator, seed, size, content digest) and return it.

    A directory is reused only when its recorded digests equal the
    frames' digests; anything else there is deleted and rewritten, so a
    stale or half-written directory never changes the workload.
    """
    digests = {name: frame_digest(pdf) for name, pdf in tables.items()}
    key = hashlib.sha256(json.dumps(digests, sort_keys=True).encode()).hexdigest()[:12]
    out = os.path.join(root, f"{generator}-s{seed}-n{size}-{key}")
    manifest = os.path.join(out, "_digests.json")
    if os.path.exists(manifest):
        with open(manifest) as f:
            if json.load(f) == digests:
                return out
    shutil.rmtree(out, ignore_errors=True)
    for name, pdf in tables.items():
        d = os.path.join(out, f"{name}.parquet")
        os.makedirs(d)
        pdf.to_parquet(os.path.join(d, "part-0000.parquet"), index=False)
    with open(manifest, "w") as f:
        json.dump(digests, f)
    return out
