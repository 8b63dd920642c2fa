"""Correctness gates run after timing. Each returns a list of problems;
an empty list means the output is correct."""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd

GATE_SAMPLE = 2_000


def sample_positions(n_rows: int, seed: int, k: int = GATE_SAMPLE) -> np.ndarray:
    """Fixed sample of row positions (sorted) for the direct-call check."""
    rng = np.random.default_rng(seed + 7919)
    return np.sort(rng.choice(n_rows, size=min(k, n_rows), replace=False))


def _spans(v) -> list[tuple[int, int, str]]:
    if v is None:
        return []
    return [(int(s["start"]), int(s["end"]), str(s["kind"])) for s in v]


def check_extraction(
    inp: pd.DataFrame, out: pd.DataFrame, sample: np.ndarray
) -> list[str]:
    """Gate for one committed extraction output.

    - every input turn appears exactly once;
    - ``turn_seq`` runs densely 1..n within each conversation, in
      ``turn_idx`` order;
    - ``doc_char_offset`` is the running sum of earlier ``chars_out``;
    - on the sampled input rows, ``text``, ``method``, ``spans`` and
      ``chars_out`` equal a direct ``extract_turn`` call on the payload.
    """
    from service1_text_extraction_spark.kernels.payload import extract_turn

    problems: list[str] = []
    keys = ["conv_id", "turn_idx"]
    n_dup = int(out.duplicated(keys).sum())
    if n_dup:
        problems.append(f"{n_dup} output turns appear more than once")
    both = inp[keys].merge(
        out[keys].drop_duplicates(), on=keys, how="outer", indicator=True
    )
    missing = int((both["_merge"] == "left_only").sum())
    extra = int((both["_merge"] == "right_only").sum())
    if missing or extra:
        problems.append(f"{missing} input turns missing, {extra} unknown turns")
    if problems:
        return problems

    o = out.sort_values(keys).reset_index(drop=True)
    by_conv = o.groupby("conv_id", sort=False)
    seq = by_conv.cumcount() + 1
    bad_seq = int((o["turn_seq"].to_numpy() != seq.to_numpy()).sum())
    if bad_seq:
        problems.append(f"{bad_seq} rows with turn_seq not dense 1..n")
    offset = by_conv["chars_out"].cumsum() - o["chars_out"]
    bad_off = int((o["doc_char_offset"].to_numpy() != offset.to_numpy()).sum())
    if bad_off:
        problems.append(f"{bad_off} rows with doc_char_offset != running chars_out")

    picked = inp.iloc[sample][keys + ["text"]].rename(columns={"text": "payload"})
    got = picked.merge(o, on=keys, how="left")
    bad = []
    for row in got.itertuples(index=False):
        r = extract_turn(row.payload if isinstance(row.payload, str) else None)
        if (
            row.text != r.text
            or row.method != r.method
            or int(row.chars_out) != r.chars_out
            or _spans(row.spans) != [(s, e, k) for s, e, k in r.spans]
        ):
            bad.append(f"{row.conv_id}/{row.turn_idx}")
    if bad:
        problems.append(
            f"{len(bad)} sampled turns differ from extract_turn: {bad[:3]}"
        )
    return problems


def check_resume(
    n_turns: int,
    n_buckets_present: int,
    crash_limit: int,
    processed: list[list[int]],
    markers: pd.DataFrame,
) -> list[str]:
    """Gate for crash -> resume -> rerun sequences: in every sequence the
    crash run did ``crash_limit`` buckets, the resume did the rest and
    the rerun did nothing; the last sequence's marker table counts every
    input turn exactly once."""
    problems = []
    crash = min(n_buckets_present, crash_limit)
    bad = [p for p in processed if p != [crash, n_buckets_present - crash, 0]]
    if bad:
        problems.append(f"buckets processed per crash/resume/rerun: {bad}")
    if markers["bucket_id"].nunique() != len(markers):
        problems.append("a bucket has more than one marker row")
    redo = int(markers["n_turns"].sum()) - n_turns
    if redo:
        problems.append(f"markers count {redo:+d} turns against the input")
    return problems


def norm_cell(v) -> str:
    """Cell normalisation of the repo's DuckDB-parity test: floats to
    six decimals with -0.0 folded to 0.0, NaN and null as tokens."""
    if v is None:
        return "<null>"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "<nan>"
        return f"{round(v, 6) + 0.0:.6f}"
    return str(v)


def digest(rows, cols) -> str:
    """Order-free digest of a result: rows normalised cell by cell under
    sorted column names, then sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    norm = sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256(repr([cols[i] for i in order]).encode())
    for r in norm:
        h.update(repr(r).encode())
    return f"{len(norm)}:{h.hexdigest()}"
