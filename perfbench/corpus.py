"""Seeded inputs for the benchmark workloads.

Everything here is plain numpy + pyarrow: the program under test sees
only the parquet files written below, never this module's state. The
same seed always gives byte-identical inputs. Sizes hardly move with
the seed (only the outage lengths do, by ~2 % of the rows), so
run-to-run spread measures the program, not a different corpus.
"""

from __future__ import annotations

import datetime as dt
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The domain tables are derived from ``events.event_id`` by
# cosmoz_data_pipeline_spark.domain.synth: 8 sites, one reading per
# site every 20 minutes, starting at EPOCH.
N_SITES = 8
STEP_S = 1200
EPOCH = dt.datetime(2021, 1, 1)
STEPS_PER_DAY = 86400 // STEP_S


def _write_split(table: pa.Table, out_dir: str, n_files: int, rng: np.random.Generator) -> None:
    """Write ``table`` as ``n_files`` parquet parts in a seeded row order."""
    os.makedirs(out_dir, exist_ok=True)
    order = rng.permutation(table.num_rows)
    for i, part in enumerate(np.array_split(order, n_files)):
        pq.write_table(table.take(pa.array(part)), f"{out_dir}/part-{i:03d}.parquet")


def _nation_table() -> pa.Table:
    """25 nations; ``all_stations`` takes its site names from here."""
    keys = np.arange(25, dtype=np.int32)
    return pa.table(
        {
            "n_nationkey": keys,
            "n_name": [f"SITE{k:02d}" for k in keys],
            "n_regionkey": keys % 5,
        }
    )


def write_events(
    out_dir: str, seed: int, n_events: int, drop_share: float, outage_days: tuple[int, int]
) -> dt.datetime:
    """Write ``events.parquet`` (a directory of parts) and
    ``nation.parquet`` under ``out_dir``.

    Seeded: a fixed-size share of dropped ``event_id``s (missing
    readings), one multi-day outage per site (exercises the gap and
    as-of fallback paths), and the file count and row order. The last
    day is never dropped, so the corpus end does not depend on the seed.
    Returns the time of the corpus's last reading.
    """
    rng = np.random.default_rng([seed, 1])
    ids = np.arange(n_events, dtype=np.int64)
    site = ids % N_SITES + 1
    step = ids // N_SITES
    n_steps = int(step.max()) + 1
    keep = np.ones(n_events, dtype=bool)
    tail = n_steps - STEPS_PER_DAY
    droppable = np.flatnonzero(step < tail)
    keep[rng.choice(droppable, int(drop_share * n_events), replace=False)] = False
    for s in range(1, N_SITES + 1):
        length = int(rng.integers(outage_days[0], outage_days[1] + 1)) * STEPS_PER_DAY
        start = int(rng.integers(STEPS_PER_DAY, tail - length))
        keep &= ~((site == s) & (step >= start) & (step < start + length))
    ids = ids[keep]
    events = pa.table(
        {
            "event_id": ids,
            "ts": pa.array(ids * 1_000_000, type=pa.timestamp("us")),
            "user_id": ids % 2000,
            "event_type": pa.array(np.array(["view", "click", "error", "purchase", "login"])[ids % 5]),
            "value": (ids % 56022) / 100.0,
            "props": pa.array(np.char.add(np.char.add('{"k": ', (ids % 100).astype(str)), "}")),
        }
    )
    _write_split(events, f"{out_dir}/events.parquet", int(rng.integers(3, 9)), rng)
    pq.write_table(_nation_table(), f"{out_dir}/nation.parquet")
    return EPOCH + dt.timedelta(seconds=(n_steps - 1) * STEP_S)


def write_documents(out_dir: str, seed: int, n_docs: int) -> None:
    """Write ``documents.parquet`` under ``out_dir``: a seeded subset of
    a fixed superset of synthetic documents (10-100 tokens drawn from a
    vocabulary that grows as sqrt(N), like tools/scale_corpus.py), with
    ids assigned in a seeded order and rows written in another."""
    superset = int(n_docs * 1.25)
    base = np.random.default_rng(0)
    vocab = max(31, int(31 * math.sqrt(n_docs / 5000)))
    lens = base.integers(10, 101, superset)
    toks = base.integers(0, vocab, int(lens.sum()))
    langs = base.integers(0, 5, superset)
    srcs = base.integers(0, 20, superset)
    rng = np.random.default_rng([seed, 2])
    pick = rng.choice(superset, n_docs, replace=False)
    words = np.array([f"w{i}" for i in range(vocab)], dtype=object)
    offs = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(words[toks[offs[i]:offs[i + 1]]]) for i in pick]
    docs = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": np.array(["en", "es", "de", "fr", "zh"], dtype=object)[langs[pick]],
            "source": np.char.add("src", srcs[pick].astype(str)),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    _write_split(docs, f"{out_dir}/documents.parquet", int(rng.integers(2, 6)), rng)
