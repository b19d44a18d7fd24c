"""One tiny end-to-end run of each workload kind, traced, on inputs below
the sf0.001 fixture's size (100 documents and 100 embeddings against its
500 and 500; a 2-key, 2-file stream backlog).

    python3 -m pytest perfbench/tests -q
"""
from __future__ import annotations

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import runner  # noqa: E402
from perfbench.gen import DOC_COPY_RATE, Shape  # noqa: E402
from perfbench.workloads import Workload  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from beymani_spark.sources import get_spark

    s = get_spark("perfbench-selftest", shuffle_partitions=2)
    s.sparkContext.setLogLevel("ERROR")
    yield s


TINY = [
    Workload(
        name="tiny_batch",
        why="self-test",
        shape=Shape(documents=100, doc_copy_rate=DOC_COPY_RATE, embeddings=100),
        queries=("dedup_minhash_lsh", "cosine_dup_pairs"),
    ),
    Workload(
        name="tiny_stream",
        why="self-test",
        shape=Shape(stream_keys=2, stream_rows_per_key=30, stream_files=2),
        stream=True,
    ),
]


@pytest.mark.parametrize("workload", TINY, ids=lambda w: w.name)
def test_traced_run_end_to_end(spark, tmp_path, workload):
    run = runner.Run(spark, workload, seed=5, work_dir=str(tmp_path), cores=2)
    reps = [run.setup_once(0)]
    first, warm = run.measure(seconds=0, traced=True)
    result, lines = runner.summarize(run, 1.0, 0.5, reps, first, warm, os.getpid(), traced=True)

    assert result["correct"], lines
    assert result["failed"] == 0 and result["attempted"] >= 3
    assert set(result["metrics"]) == {k for k, _ in runner.PER_LAYER}
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["spark.jobs"] > 0 and m["spark.tasks"] > 0
    assert 0.0 < m["spark.exec_job_cover"] <= 1.0
    # a part of the task time cannot exceed the task time
    assert m["operators.codegen_s"] <= m["spark.task_s"]
    assert m["operators.pandas_s"] + m["operators.pandas_boot_s"] <= m["spark.task_s"]
    # the four parts of the traced pass add up to the pass
    parts = sum(m[k] for k in ("split.build_self_s", "split.build_jobs_s",
                               "split.exec_jobs_s", "split.driver_other_s"))
    assert parts == pytest.approx(m["trace.pass_s"])
    if workload.stream:
        assert m["streaming.batches"] == workload.shape.stream_files
        assert m["streaming.state_rows"] == workload.shape.stream_keys
    else:
        assert m["sources.rows_read"] > 0

    traced = [p for p in warm if p.traced]
    assert len(traced) >= runner.TRACED_MIN_PASSES
    assert sum(not p.traced for p in warm) >= runner.TRACED_MIN_PASSES + 1

    path = tmp_path / "trace.json"
    run.tracer.dump(str(path))
    dumped = json.loads(path.read_text())
    names = {s["name"] for s in dumped}
    assert {"run", "pass", "query", "plans.build", "spark.exec", "spark.job"} <= names
    by_id = {s["id"]: s for s in dumped}
    for s in dumped:
        if s["name"] == "spark.job":
            assert by_id[s["parent"]]["name"] in ("plans.build", "spark.exec")
        assert s["self_s"] <= s["end"] - s["start"] + 1e-9


def test_untraced_run_reports_end_to_end_metrics(spark, tmp_path):
    run = runner.Run(spark, TINY[0], seed=6, work_dir=str(tmp_path), cores=2)
    reps = [run.setup_once(0)]
    first, warm = run.measure(seconds=0, traced=False)
    result, lines = runner.summarize(run, 1.0, 0.5, reps, first, warm, os.getpid(), traced=False)
    assert result["correct"], lines
    assert set(result["metrics"]) == {k for k, _ in runner.END_TO_END}
    assert all(v["value"] > 0 for v in result["metrics"].values())
    assert not any(p.traced for p in [first, *warm])
