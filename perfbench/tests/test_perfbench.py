"""Tests of the benchmark's own code (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gate, gen  # noqa: E402
from service1_text_extraction_spark.kernels.payload import extract_turn  # noqa: E402

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")
KEYS = ["conv_id", "turn_idx"]


def test_same_seed_same_inputs():
    a, b = gen.mix_transcripts(5, 200), gen.mix_transcripts(5, 200)
    pd.testing.assert_frame_equal(a, b)
    assert not a["text"].equals(gen.mix_transcripts(6, 200)["text"])
    c1, c2 = gen.corpus_tables(5, 100, 500), gen.corpus_tables(5, 100, 500)
    for name in c1:
        pd.testing.assert_frame_equal(c1[name], c2[name])
    other = gen.corpus_tables(6, 100, 500)
    assert not c1["documents"]["text"].equals(other["documents"]["text"])


def test_metric_names_and_units():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert NAME_RE.fullmatch(m["name"]), m["name"]
        assert UNIT_RE.fullmatch(m["unit"]), m["unit"]
    for w in bench["workloads"]:
        assert NAME_RE.fullmatch(w["name"]), w["name"]


def _pipeline_output(inp: pd.DataFrame) -> pd.DataFrame:
    """What a correct extraction run commits for ``inp``."""
    rows = []
    for r in inp.itertuples(index=False):
        t = extract_turn(r.text)
        rows.append(
            {
                "conv_id": r.conv_id,
                "turn_idx": r.turn_idx,
                "text": t.text,
                "method": t.method,
                "spans": [{"start": s, "end": e, "kind": k} for s, e, k in t.spans],
                "chars_out": t.chars_out,
            }
        )
    out = pd.DataFrame(rows).sort_values(KEYS).reset_index(drop=True)
    by_conv = out.groupby("conv_id")
    out["turn_seq"] = by_conv.cumcount() + 1
    out["doc_char_offset"] = by_conv["chars_out"].cumsum() - out["chars_out"]
    return out.sample(frac=1.0, random_state=0)  # the gate must not rely on order


@pytest.fixture(scope="module")
def mix():
    inp = gen.mix_transcripts(3, 100)
    return inp, _pipeline_output(inp), gate.sample_positions(len(inp), 3, k=len(inp))


def test_gate_accepts_correct_output(mix):
    inp, out, sample = mix
    assert gate.check_extraction(inp, out, sample) == []


def _corrupt_text(out):
    i = out.index[out["method"] == "html"][0]
    out.loc[i, "text"] = out.loc[i, "text"] + " x"
    return out


def _corrupt_seq(out):
    out.loc[out.index[0], "turn_seq"] += 1
    return out


def _corrupt_offset(out):
    out.loc[out.index[0], "doc_char_offset"] += 1
    return out


def _corrupt_spans(out):
    i = out.index[out["method"] == "pdf"][0]
    out.at[i, "spans"] = out.loc[i, "spans"][1:]
    return out


@pytest.mark.parametrize(
    "corrupt",
    [
        lambda o: o.iloc[1:],  # a turn missing
        lambda o: pd.concat([o, o.iloc[:1]]),  # a turn twice
        _corrupt_text,
        _corrupt_seq,
        _corrupt_offset,
        _corrupt_spans,
    ],
    ids=["missing", "duplicate", "text", "turn_seq", "offset", "spans"],
)
def test_gate_rejects_corrupted_row(mix, corrupt):
    inp, out, sample = mix
    assert gate.check_extraction(inp, corrupt(out.copy()), sample)


def test_resume_gate():
    markers = pd.DataFrame({"bucket_id": [0, 1, 2, 3], "n_turns": [5, 5, 5, 5]})
    good = [[2, 2, 0]]
    assert gate.check_resume(20, 4, 2, good, markers) == []
    assert gate.check_resume(21, 4, 2, good, markers)  # a turn not counted
    assert gate.check_resume(20, 4, 2, [[2, 2, 1]], markers)  # rerun redid work
    doubled = pd.concat([markers, markers.iloc[:1]])
    assert gate.check_resume(20, 4, 2, good, doubled)


def test_digest_is_order_free_and_sees_a_changed_cell():
    rows = [(1, "a", 0.5), (2, "b", None)]
    cols = ["id", "s", "x"]
    assert gate.digest(rows, cols) == gate.digest(rows[::-1], cols)
    # column order does not matter either
    assert gate.digest(rows, cols) == gate.digest(
        [(s, i, x) for i, s, x in rows], ["s", "id", "x"]
    )
    assert gate.digest(rows, cols) != gate.digest([(1, "a", 0.5), (2, "c", None)], cols)
    # floats compare at six decimals, as in the DuckDB parity test
    assert gate.digest([(1, "a", 0.5000001)], cols) == gate.digest(
        [(1, "a", 0.5)], cols
    )
