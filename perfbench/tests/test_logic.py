"""Self-tests of the benchmark's own logic (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""
from __future__ import annotations

import math
import os
import subprocess
import sys

import pytest

from perfbench import gen, spans
from perfbench.status import parse_metric, stream_layers, trigger_seconds

HERE = os.path.dirname(os.path.abspath(__file__))
RUN_PY = os.path.join(os.path.dirname(HERE), "run.py")


@pytest.mark.parametrize(
    "text, kind, want",
    [
        ("206 ms", "timing", 0.206),
        ("2.7 s", "timing", 2.7),
        ("1.5 m", "timing", 90.0),
        ("3 ms", "nsTiming", 0.003),
        ("189.1 KiB", "size", 189.1 * 1024),
        ("0.0 B", "size", 0.0),
        ("2.0 GiB", "size", 2.0 * 2**30),
        ("500", "sum", 500.0),
        ("1,234,567", "sum", 1234567.0),
        (
            "total (min, med, max (stageId: taskId))\n"
            "135.7 KiB (0.0 B, 0.0 B, 135.7 KiB (stage 14.0: task 47))",
            "size",
            135.7 * 1024,
        ),
        (
            "total (min, med, max (stageId: taskId))\n"
            "1.2 s (10 ms, 300 ms, 800 ms (stage 3.0: task 9))",
            "timing",
            1.2,
        ),
        ("", "sum", 0.0),
        (None, "timing", 0.0),
        ("n/a", "sum", 0.0),
    ],
)
def test_parse_metric(text, kind, want):
    assert parse_metric(text, kind) == pytest.approx(want)


def test_tail_percentile_keeps_ten_beyond():
    xs = [float(i) for i in range(1, 41)]  # 1..40
    value, pct, n = spans.tail_percentile(xs)
    assert n == 40
    assert value == 30.0  # exactly 10 samples (31..40) lie beyond it
    assert pct == pytest.approx(75.0)
    assert sum(x > value for x in xs) == 10


def test_tail_percentile_order_free_and_small_samples():
    xs = [float(i) for i in range(21, 0, -1)]  # 21..1, unsorted
    assert spans.tail_percentile(xs) == (11.0, pytest.approx(100 * 11 / 21), 21)
    assert spans.tail_percentile(xs[:11]) == (21.0 - 10, pytest.approx(100 / 11), 11)
    # no percentile of 10 samples or fewer has 10 beyond it: the maximum
    assert spans.tail_percentile(xs[:10]) == (21.0, 100.0, 10)
    assert spans.tail_percentile([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    v, p, n = spans.tail_percentile([])
    assert math.isnan(v) and n == 0


def test_median():
    assert spans.median([3.0, 1.0, 2.0]) == 2.0
    assert spans.median([4.0, 1.0, 2.0, 3.0]) == 2.5


def test_covered_merges_overlaps_and_clips():
    assert spans.covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert spans.covered([(-5, 1), (9, 20)], 0, 10) == 2
    assert spans.covered([], 0, 10) == 0
    assert spans.covered([(2, 3), (2, 3)], 0, 10) == 1


def test_self_time_on_synthetic_tree():
    t = spans.Tracer()
    run = t.add("run", 0.0, 100.0)
    p = t.add("pass", 10.0, 60.0, run.id)
    q = t.add("query", 10.0, 50.0, p.id)
    b = t.add("plans.build", 10.0, 30.0, q.id)
    e = t.add("spark.exec", 30.0, 50.0, q.id)
    t.add("spark.job", 12.0, 20.0, b.id)
    t.add("spark.job", 15.0, 25.0, b.id)  # overlaps the first
    t.add("spark.job", 31.0, 49.0, e.id)
    assert t.self_time(run) == 50.0
    assert t.self_time(p) == 10.0
    assert t.self_time(q) == 0.0
    assert t.self_time(b) == 7.0  # 20 s minus the 13 s the two jobs cover
    assert t.self_time(e) == 2.0


def test_stream_progress_rollup():
    progress = [
        {"numInputRows": 0, "durationMs": {"triggerExecution": 5}},
        {
            "numInputRows": 10,
            "durationMs": {"triggerExecution": 900, "addBatch": 700, "queryPlanning": 50,
                           "walCommit": 20, "commitOffsets": 30},
            "stateOperators": [{"numRowsTotal": 4, "memoryUsedBytes": 100, "commitTimeMs": 40}],
        },
        {
            "numInputRows": 12,
            "durationMs": {"triggerExecution": 1100, "addBatch": 800, "queryPlanning": 60,
                           "walCommit": 10, "commitOffsets": 10},
            "stateOperators": [{"numRowsTotal": 6, "memoryUsedBytes": 150, "commitTimeMs": 60}],
        },
    ]
    assert trigger_seconds(progress) == [0.9, 1.1]
    got = stream_layers(progress)
    assert got["streaming.batches"] == 2
    assert got["streaming.add_batch_s"] == pytest.approx(1.5)
    assert got["streaming.planning_s"] == pytest.approx(0.11)
    assert got["streaming.commit_s"] == pytest.approx(0.07)
    assert got["streaming.state_rows"] == 6
    assert got["streaming.state_bytes"] == 150
    assert got["streaming.state_commit_s"] == pytest.approx(0.1)


def test_generator_is_seeded(tmp_path):
    shape = gen.Shape(documents=30, doc_copy_rate=0.2, embeddings=20,
                      stream_keys=2, stream_rows_per_key=15, stream_files=3)
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    rows = gen.write_inputs(str(a), shape, 7)
    gen.write_inputs(str(b), shape, 7)
    gen.write_inputs(str(c), shape, 8)
    assert rows == {"documents": 30, "embeddings": 20, "stream": 30}
    files = sorted(p.relative_to(a) for p in a.rglob("*.parquet"))
    assert len(files) == 5
    for f in files:
        assert (a / f).read_bytes() == (b / f).read_bytes()
    assert (a / "documents.parquet").read_bytes() != (c / "documents.parquet").read_bytes()


def test_documents_follow_the_fixture():
    import numpy as np

    docs = gen.documents(400, gen.DOC_COPY_RATE, seed=3).to_pandas()
    words = docs["text"].str.split()
    assert words.map(len).between(10, 100).all()
    assert set(w for ws in words for w in ws) <= set(gen.VOCAB)
    assert (docs["n_chars"] == docs["text"].str.len()).all()
    # each near-copy is one word longer or shorter than a document it copies
    by_len = {}
    for ws in words:
        by_len.setdefault(len(ws), []).append(" ".join(ws))
    copies = sum(
        any(" ".join(ws[:-1]) == t for t in by_len.get(len(ws) - 1, []))
        or any(t.startswith(" ".join(ws) + " ") for t in by_len.get(len(ws) + 1, []))
        for ws in words
    )
    assert copies >= round(400 * gen.DOC_COPY_RATE)
    vecs = np.stack(gen.embeddings(50, seed=3).column("embedding").to_pylist())
    assert np.allclose(np.linalg.norm(vecs, axis=1), 1.0, atol=1e-6)


def test_stream_feed_is_time_ordered_across_files():
    feed = gen.stream_feed(keys=3, rows_per_key=33, files=4, seed=1)
    assert sum(t.num_rows for t in feed) == 99
    ts = [t.column("ts").cast("int64").to_pylist() for t in feed]
    flat = [x for part in ts for x in part]
    assert flat == sorted(flat) and len(set(flat)) == len(flat)


def test_refuses_to_run_without_the_engine(tmp_path):
    proc = subprocess.run(
        [sys.executable, RUN_PY, "--workload", "dedup", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_benchmark_json_matches_the_code():
    import json

    from perfbench.runner import END_TO_END, PER_LAYER
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == list(END_TO_END)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == list(PER_LAYER)
    assert {w["name"]: w["why"] for w in bench["workloads"]} == {
        name: w.why for name, w in WORKLOADS.items()
    }
