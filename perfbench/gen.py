"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments: the
same arguments give byte-identical frames. The program under test sees
only the parquet files written from these frames.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# mix_fresh: the repo's own transcript mix (60% HTML, 25% base64 PDF,
# 10% plain, 5% adversarial) over Pareto conversation lengths, with
# conversation 0 forced to ``max_turns`` turns.
MIX_TURNS = 6_000
MIX_MAX_TURNS = 600

# corpus_ops: ``documents`` and ``events`` with the schemas of the repo's
# sf0.1 test tables and the shape measured there: 10-100 words per
# document over the same vocabulary, ``en`` ~41% and four other
# languages ~15% each, 20 sources, five event types ~20% each, event
# values exponential with mean ~50, events over 30 days. Two shares are
# changed on purpose: 10% near-duplicate and 3% exact-duplicate
# documents (sf0.1 has 0.16% exact duplicates) so the dedup operators
# find pairs, and one heavy user with 20% of the events (sf0.1's top
# user has 0.1%), the skewed-events case for the per-user windows.
CORPUS_DOCS = 1_200
CORPUS_EVENTS = 24_000
CORPUS_USERS = 400
CORPUS_SOURCES = 20
HEAVY_USER_SHARE = 0.2
_DOC_WORDS = (
    "batch part spark line column order small sort fast value scan hash "
    "slow group agg filter big key window row table stream merge data a "
    "the vector query join customer"
).split()
_LANGS = np.array(["en", "zh", "es", "fr", "de"])
_LANG_P = np.array([0.4, 0.15, 0.15, 0.15, 0.15])
_EVENT_TYPES = np.array(["signup", "purchase", "view", "click", "error"])


def mix_transcripts(seed: int, n_turns: int = MIX_TURNS) -> pd.DataFrame:
    """The repo's bench transcript mix at ``n_turns`` turns."""
    from service1_text_extraction_spark.pipeline.datagen import (
        generate_transcripts,
    )

    t, _ = generate_transcripts(
        seed=seed,
        with_golden=False,
        target_turns=n_turns,
        max_turns=MIX_MAX_TURNS,
    )
    return t


def corpus_tables(
    seed: int,
    n_docs: int = CORPUS_DOCS,
    n_events: int = CORPUS_EVENTS,
) -> dict[str, pd.DataFrame]:
    """``documents`` and ``events`` with the test tables' schemas. 10%
    of documents are near-duplicates (1-3 words replaced) and 3% exact
    duplicates of an earlier document; user 0 owns ``HEAVY_USER_SHARE``
    of the events."""
    rng = np.random.default_rng(seed)
    words = np.array(_DOC_WORDS)
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.03:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i > 10 and r < 0.13:
            toks = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 4))):
                toks[int(rng.integers(0, len(toks)))] = str(
                    words[rng.integers(0, len(words))]
                )
            texts.append(" ".join(toks))
            continue
        n = int(rng.integers(10, 101))
        texts.append(" ".join(words[rng.integers(0, len(words), n)]))
    documents = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype="int64"),
            "text": texts,
            "lang": _LANGS[rng.choice(len(_LANGS), n_docs, p=_LANG_P)],
            "source": [f"src{i % CORPUS_SOURCES}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )

    gaps = rng.exponential(30 * 86400 / n_events, n_events)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + (
        np.cumsum(gaps) * 1e6
    ).astype("int64").astype("timedelta64[us]")
    events = pd.DataFrame(
        {
            "event_id": np.arange(n_events, dtype="int64"),
            "ts": ts,
            "user_id": np.where(
                rng.random(n_events) < HEAVY_USER_SHARE,
                0,
                rng.integers(1, CORPUS_USERS, n_events),
            ).astype("int64"),
            "event_type": _EVENT_TYPES[rng.integers(0, 5, n_events)],
            "value": np.round(rng.exponential(50.0, n_events), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )

    return {"documents": documents, "events": events}


def write_parquet(df: pd.DataFrame, path: str, n_files: int) -> None:
    """Write ``df`` as ``n_files`` row-contiguous parquet files under the
    directory ``path`` (microsecond timestamps, as Spark reads them)."""
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pandas(df, preserve_index=False)
    n = table.num_rows
    for k in range(n_files):
        lo, hi = k * n // n_files, (k + 1) * n // n_files
        pq.write_table(
            table.slice(lo, hi - lo),
            os.path.join(path, f"part-{k:05d}.parquet"),
            coerce_timestamps="us",
        )


def write_table_file(df: pd.DataFrame, path: str) -> None:
    """Write ``df`` as the single parquet file ``path``."""
    pq.write_table(
        pa.Table.from_pandas(df, preserve_index=False),
        path,
        coerce_timestamps="us",
    )

