"""Seeded input generation for the engine benchmark.

Every workload's input is synthesized from ``--seed`` alone, with the
schemas of the engine's ``events`` and ``documents`` tables, and written
as parquet under the benchmark's work directory. The engine sees only
these files. The same seed gives byte-identical files.

* ``events``: ``n_users`` series with uniformly drawn timestamps over 30
  days starting on a seed-chosen day of 2024, the five event types, a heavy-tailed
  ``value`` with a small share of non-positive values (silver's invalid
  rows) and a few duplicated (user, ts) pairs (silver's duplicate flag).
  The file row order is a seeded permutation.
* ``documents``: 10-100 words drawn from the engine's 30-word corpus
  vocabulary. One document in ten belongs to a near-duplicate triangle
  (a document and two copies with one and two extra tokens) and one in
  two hundred is an exact copy, so the MinHash, connected-components and
  PageRank stages have clusters to work on. Document lengths and the
  cluster shape are the same for every seed, so the amount of text and
  the number of iterative rounds are too; the seed picks the words and a
  ``doc_id`` permutation.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("signup", "purchase", "view", "click", "error")
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "de", "es", "fr")
LANG_WEIGHTS = (0.41, 0.15, 0.14, 0.15, 0.15)
SPAN_DAYS = 30


def _write(table: pa.Table, path: str) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return os.path.getsize(path)


def make_events(rng: np.random.Generator, n_rows: int, n_users: int) -> pa.Table:
    # the span stays inside one calendar year, so every seed writes the same
    # event_year partitions
    start = dt.datetime(2024, 1, 1) + dt.timedelta(days=int(rng.integers(0, 366 - SPAN_DAYS)))
    start_us = int((start - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    offs = np.sort(rng.integers(0, SPAN_DAYS * 86_400 * 1_000_000, n_rows))
    users = rng.integers(0, n_users, n_rows)
    # duplicated (user, ts) pairs: copy a few rows' ts+user onto their successor
    dup = rng.choice(n_rows - 1, size=max(1, n_rows // 2000), replace=False)
    offs[dup + 1] = offs[dup]
    users[dup + 1] = users[dup]
    value = np.round(rng.lognormal(3.5, 1.1, n_rows), 2)
    value[rng.choice(n_rows, size=max(1, n_rows // 5000), replace=False)] = 0.0
    order = rng.permutation(n_rows)
    cols = {
        "event_id": np.arange(n_rows, dtype=np.int64),
        "ts": pa.array(start_us + offs, pa.timestamp("us")),
        "user_id": users.astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n_rows)],
        "value": value,
        "props": np.char.add(
            np.char.add('{"k": ', rng.integers(0, 100, n_rows).astype(str)), "}"
        ),
    }
    table = pa.table({k: cols[k] if k == "ts" else pa.array(cols[k]) for k in cols})
    return table.take(pa.array(order))


def make_documents(rng: np.random.Generator, n_docs: int) -> pa.Table:
    n_clusters = max(1, n_docs // 30)
    n_exact = max(1, n_docs // 200)
    n_base = n_docs - 2 * n_clusters - n_exact
    # a fixed schedule of lengths, 10 to 100 words, so every seed has the
    # same amount of text; the doc_id permutation below sets the order
    lengths = 10 + (np.arange(n_base) * 91) // n_base

    def words(n: int) -> str:
        return " ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), int(n)))

    texts = [words(n) for n in lengths]
    # the longest documents each seed one near-duplicate triangle; exact
    # copies are taken from the middle of the schedule
    texts += [t + suffix for t in texts[-n_clusters:] for suffix in (" dup", " dup dup")]
    texts += texts[n_base // 2 : n_base // 2 + n_exact]
    ids = rng.permutation(n_docs).astype(np.int64)
    order = np.argsort(ids)
    texts_arr = np.array(texts, dtype=object)[order]
    return pa.table(
        {
            "doc_id": pa.array(ids[order]),
            "text": pa.array(texts_arr, pa.string()),
            "lang": pa.array(
                np.array(LANGS)[rng.choice(len(LANGS), n_docs, p=LANG_WEIGHTS)]
            ),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
            "n_chars": pa.array([len(t) for t in texts_arr], pa.int64()),
        }
    )


def write_events(seed: int, out_dir: str, n_rows: int, n_users: int) -> dict:
    rng = np.random.default_rng([seed, 1])
    t = make_events(rng, n_rows, n_users)
    nbytes = _write(t, os.path.join(out_dir, "events.parquet"))
    return {"rows": t.num_rows, "bytes": nbytes}


def write_documents(seed: int, out_dir: str, n_docs: int, stream: int = 2) -> dict:
    rng = np.random.default_rng([seed, stream])
    t = make_documents(rng, n_docs)
    nbytes = _write(t, os.path.join(out_dir, "documents.parquet"))
    return {"rows": t.num_rows, "bytes": nbytes}
