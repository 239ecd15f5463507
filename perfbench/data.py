"""Seeded synthetic inputs for the benchmark.

Every table is a pure function of the workload seed, shaped like the sf0.1
tables the package is tested on, so the benchmark needs nothing outside its
own checkout:

* ``events``: 100,000 rows over 30 UTC days from 2024-01-01 — ``event_id``
  in time order, ``ts`` uniform with microsecond precision, ``user_id``
  uniform over 1,500 users, ``event_type`` uniform over five values,
  ``value`` exponential with mean 50 rounded to cents, ``props`` a small
  JSON string.
* ``documents``: a base corpus of ``BASE_DOCS`` texts over a 31-word
  vocabulary (as in sf0.1), where a fixed share are near-duplicate edits or
  exact copies of an earlier document, plus ``lang``/``source``/
  ``n_chars``. :func:`corpus_table` derives the scaled corpus: ``COPIES``
  token-suffixed copies of the base, so cross-copy shingle Jaccard is 0.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_ROWS = 100_000
DAYS = 30
T0 = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp())
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
USERS = 1500

BASE_DOCS = 100
COPIES = 10
#: Doc-id offset between copies. A multiple of 7, so ``doc_id % 7`` (the
#: fuzzy-decontamination hold-out rule) picks the same documents in every
#: copy and the scaled answer is the base answer once per copy.
COPY_ID_STRIDE = 7_000_000
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split() + ["time"]
LANGS = ("de", "en", "es", "fr", "zh")
SOURCES = tuple(f"src{i}" for i in range(20))


def events_table(seed: int, rows: int = EVENT_ROWS) -> pa.Table:
    rng = np.random.default_rng([seed, 1])
    span_us = DAYS * 86400 * 1_000_000
    off = np.sort(rng.integers(0, span_us, rows, dtype=np.int64))
    ts = (T0 * 1_000_000 + off).astype("datetime64[us]")
    value = np.round(rng.exponential(50.0, rows), 2)
    return pa.table(
        {
            "event_id": pa.array(np.arange(rows, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, USERS, rows, dtype=np.int64)),
            "event_type": pa.array(
                np.asarray(EVENT_TYPES, dtype=object)[
                    rng.integers(0, len(EVENT_TYPES), rows)
                ]
            ),
            "value": pa.array(value),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, rows)]
            ),
        }
    )


def base_documents(seed: int, n: int = BASE_DOCS) -> list[tuple]:
    """``(doc_id, text, lang, source)`` rows of the base corpus. About one
    document in six is a light edit (a few tokens replaced, or a tail cut)
    of an earlier one and one in 100 an exact copy, so near-duplicate
    clusters, including chains, exist at every seed."""
    rng = np.random.default_rng([seed, 2])
    texts: list[list[str]] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.01:
            toks = list(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.17:
            toks = list(texts[int(rng.integers(max(0, i - 200), i))])
            for _ in range(int(rng.integers(1, 4))):
                toks[int(rng.integers(0, len(toks)))] = VOCAB[
                    int(rng.integers(0, len(VOCAB)))
                ]
            if rng.random() < 0.3:
                toks = toks[: max(8, len(toks) - int(rng.integers(1, 6)))]
        else:
            length = int(rng.integers(8, 100))
            toks = [VOCAB[j] for j in rng.integers(0, len(VOCAB), length)]
        texts.append(toks)
    return [
        (
            i,
            " ".join(t),
            LANGS[int(rng.integers(0, len(LANGS)))],
            SOURCES[int(rng.integers(0, len(SOURCES)))],
        )
        for i, t in enumerate(texts)
    ]


def corpus_table(seed: int, copies: int = COPIES) -> pa.Table:
    """The scaled corpus: copy ``c`` suffixes every token with ``_c{c}``
    and offsets ``doc_id`` by ``c * COPY_ID_STRIDE``."""
    base = base_documents(seed)
    ids, texts, langs, srcs = [], [], [], []
    for c in range(copies):
        for doc_id, text, lang, src in base:
            ids.append(doc_id + c * COPY_ID_STRIDE)
            texts.append(" ".join(f"{t}_c{c}" for t in text.split(" ")))
            langs.append(lang)
            srcs.append(src)
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(langs),
            "source": pa.array(srcs),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def write(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path
