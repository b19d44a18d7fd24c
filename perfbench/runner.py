"""One benchmark run: set-up, a first pass, warm passes for the measuring
window, output checks, and the metrics.

The engine is driven only through public entry points, timed from outside:
``Query.builder(spark, sf_dir)`` from the ``plans`` registry and the action
on the DataFrame it returns (``toPandas``: the user waits for the scored
rows), ``sources.load_table`` for the set-up scans, and
``streaming.jobs.apply_stream_one_step_ahead`` between
``sources.streams.open_stream`` and ``start_sink``.

One driver process, ``local[<cores>]``, one client in a closed loop: each
query (or micro-batch) starts when the previous one has finished.
"""
from __future__ import annotations

import json
import os
import shutil
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass, field

from . import check, gen, spans, status
from .workloads import STREAM_ARGS, STREAM_KEYS, STREAM_SCHEMA, Workload

SETUP_REPS = 3
UNTRACED_MIN_PASSES = 3
TRACED_MIN_PASSES = 2  # of each kind: traced and untraced, interleaved

PER_LAYER = (
    ("plans.build_s", "s"),
    ("plans.build_self_s", "s"),
    ("plans.build_jobs", "count"),
    ("plans.build_job_s", "s"),
    ("plans.collect_bytes", "B"),
    ("sources.scan_s", "s"),
    ("sources.rows_read", "count"),
    ("sources.bytes_read", "B"),
    ("operators.codegen_s", "s"),
    ("operators.broadcast_bytes", "B"),
    ("operators.broadcast_s", "s"),
    ("operators.exchanges", "count"),
    ("operators.shuffle_bytes", "B"),
    ("operators.shuffle_write_s", "s"),
    ("operators.fetch_wait_s", "s"),
    ("operators.shuffle_skew", "ratio"),
    ("operators.pandas_s", "s"),
    ("operators.pandas_boot_s", "s"),
    ("operators.arrow_bytes", "B"),
    ("spark.exec_s", "s"),
    ("spark.jobs", "count"),
    ("spark.tasks", "count"),
    ("spark.task_s", "s"),
    ("spark.cpu_s", "s"),
    ("spark.busy_ratio", "ratio"),
    ("spark.gc_s", "s"),
    ("spark.spill_bytes", "B"),
    ("spark.exec_job_cover", "ratio"),
    ("functions.caching.leaked", "count"),
    ("streaming.add_batch_s", "s"),
    ("streaming.planning_s", "s"),
    ("streaming.commit_s", "s"),
    ("streaming.state_rows", "count"),
    ("streaming.state_bytes", "B"),
    ("streaming.state_commit_s", "s"),
    ("streaming.batches", "count"),
    ("split.build_self_s", "s"),
    ("split.build_jobs_s", "s"),
    ("split.exec_jobs_s", "s"),
    ("split.driver_other_s", "s"),
    ("trace.pass_s", "s"),
    ("trace.untraced_pass_s", "s"),
    ("trace.overhead_ratio", "ratio"),
)

END_TO_END = (
    ("setup_s", "s"),
    ("first_pass_s", "s"),
    ("pass_s", "s"),
    ("latency_p50_s", "s"),
    ("latency_tail_s", "s"),
    ("peak_rss_mb", "MB"),
)


@dataclass
class PassResult:
    index: int
    traced: bool
    seconds: float
    latencies: list[float]  # per query, or per non-empty micro-batch
    by_query: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    leaked: list[str] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)


def warm_session(spark, work_dir: str) -> None:
    """The session's one-time start-up, paid once per run with the session:
    the first Spark job and the first parquet write and read, so that the
    input set-ups after it cost the same and their median hides nothing.
    The Python workers are not started here: the first pass pays for them,
    as a one-shot job would."""
    path = os.path.join(work_dir, "warm.parquet")
    spark.range(1).write.mode("overwrite").parquet(path)
    spark.read.parquet(path).write.format("noop").mode("overwrite").save()
    shutil.rmtree(path, ignore_errors=True)


class Run:
    def __init__(self, spark, workload: Workload, seed: int, work_dir: str, cores: int):
        self.spark = spark
        self.w = workload
        self.seed = seed
        self.work = work_dir
        self.cores = cores
        self.inputs = os.path.join(work_dir, "inputs-0")
        self.tracer = spans.Tracer()
        self.status = status.StatusReader(spark)
        self.run_span = self.tracer.add("run", time.time(), time.time(), workload=workload.name)
        self.rows: dict[str, int] = {}
        self.first_results: dict[str, int] = {}  # query -> digest of checked output
        self.reference = None  # stream: batch kernel output with batch index

    # ------------------------------------------------------------ set-up
    def setup_once(self, rep: int) -> float:
        """Generate this seed's inputs and scan every table once (parquet
        footers, page cache). Returns its wall time.

        Each set-up writes to a directory of its own, so the engine's
        per-path caches (``load_table``'s schema cache and the
        nano-timestamp footer read) miss on every repetition; the passes
        use the last one's inputs."""
        from beymani_spark.sources import load_table

        t0 = time.perf_counter()
        shutil.rmtree(self.inputs, ignore_errors=True)
        self.inputs = os.path.join(self.work, f"inputs-{rep}")
        self.rows = gen.write_inputs(self.inputs, self.w.shape, self.seed)
        for table in self.rows:
            if table == "stream":
                df = self.spark.read.schema(STREAM_SCHEMA).parquet(os.path.join(self.inputs, "stream"))
            else:
                df = load_table(self.spark, self.inputs, table)
            df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def _cache_leaked(self) -> bool:
        """Census first, then the clear: whether anything is still cached
        after the caller released what the query pinned. The clear keeps
        one query's leak from leaking into the next measurement."""
        leaked = not self.spark._jsparkSession.sharedState().cacheManager().isEmpty()
        self.spark.catalog.clearCache()
        return leaked

    # ------------------------------------------------------------ batch
    def _tag(self, pass_no: int, query: str, phase: str) -> str:
        return f"{self.w.name}/{pass_no}/{query}/{phase}"

    def batch_pass(self, pass_no: int, traced: bool) -> tuple[PassResult, dict]:
        from beymani_spark.functions import caching
        from beymani_spark.plans import QUERIES

        sc = self.spark.sparkContext
        res = PassResult(pass_no, traced, 0.0, [])
        outputs: dict = {}
        per_query = []
        p_start = time.time()
        t_pass = time.perf_counter()
        for name in self.w.queries:
            res.attempted += 1
            q = QUERIES[name]
            df = None
            if traced:
                sc.setJobGroup(self._tag(pass_no, name, "build"), name)
            t0 = time.perf_counter()
            w0 = time.time()
            try:
                df = q.builder(self.spark, self.inputs)
                w1 = time.time()
                if traced:
                    sc.setJobGroup(self._tag(pass_no, name, "exec"), name)
                out = df.toPandas()
                elapsed = time.perf_counter() - t0
                w2 = time.time()
                res.latencies.append(elapsed)
                res.by_query[name] = elapsed
                outputs[name] = out
            except Exception:
                w1 = w2 = time.time()
                res.failures.append(f"{name}: raised {traceback.format_exc().strip().splitlines()[-1]}")
            if traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
                per_query.append((name, w0, w1, w2))
            if df is not None:
                caching.release(df)
            if self._cache_leaked():
                res.leaked.append(name)
        res.seconds = time.perf_counter() - t_pass
        if traced:
            res.layers = self._batch_layers(pass_no, p_start, time.time(), res, per_query)
        return res, outputs

    def _batch_layers(self, pass_no, p_start, p_end, res, per_query) -> dict[str, float]:
        tr = self.tracer
        self.status.drain()
        pass_span = tr.add("pass", p_start, p_end, self.run_span.id, index=pass_no, traced=True)
        build_spans, exec_spans, all_jobs = [], [], []
        build_jobs_by_span, exec_jobs_by_span = {}, {}
        for name, w0, w1, w2 in per_query:
            qspan = tr.add("query", w0, w2, pass_span.id, query=name)
            b = tr.add("plans.build", w0, w1, qspan.id)
            e = tr.add("spark.exec", w1, w2, qspan.id)
            build_spans.append(b)
            exec_spans.append(e)
            for span, phase, bucket in ((b, "build", build_jobs_by_span), (e, "exec", exec_jobs_by_span)):
                jobs = self.status.jobs(self.status.job_ids(self._tag(pass_no, name, phase)))
                bucket[span.id] = jobs
                all_jobs.extend(jobs)
                for j in jobs:
                    tr.add("spark.job", j.start, j.end, span.id, job_id=j.job_id, stages=len(j.stage_ids))
        return self._layers(res, build_spans, exec_spans, build_jobs_by_span, exec_jobs_by_span, all_jobs)

    def _layers(self, res, build_spans, exec_spans, build_jobs, exec_jobs, all_jobs):
        def cover(span_list, by_span):
            return sum(
                spans.covered([(j.start, j.end) for j in by_span[s.id]], s.start, s.end)
                for s in span_list
            )

        build_s = sum(s.duration for s in build_spans)
        build_job_s = cover(build_spans, build_jobs)
        exec_s = sum(s.duration for s in exec_spans)
        exec_job_s = cover(exec_spans, exec_jobs)
        # stage totals cover every job of the SQL executions whose plan
        # metrics are summed, so the two describe the same tasks
        sql_ids = {j.sql_id for j in all_jobs if j.sql_id is not None}
        counted = {j.job_id for j in all_jobs}
        more = sorted({jid for e in sql_ids for jid in self.status.execution_jobs(e)} - counted)
        st = self.status.stages(all_jobs + self.status.jobs(more))
        layers = defaultdict(float)
        layers.update(self.status.plan_metrics(sql_ids))
        layers.update(
            {
                "plans.build_s": build_s,
                "plans.build_self_s": build_s - build_job_s,
                "plans.build_jobs": float(sum(len(build_jobs[s.id]) for s in build_spans)),
                "plans.build_job_s": build_job_s,
                "plans.collect_bytes": st.result_bytes,
                "sources.rows_read": st.input_rows,
                "sources.bytes_read": st.input_bytes,
                "operators.shuffle_skew": st.skew,
                "spark.exec_s": exec_s,
                "spark.jobs": float(len(all_jobs)),
                "spark.tasks": float(st.tasks),
                "spark.task_s": st.task_s,
                "spark.cpu_s": st.cpu_s,
                "spark.busy_ratio": st.task_s / (res.seconds * self.cores),
                "spark.gc_s": st.gc_s,
                "spark.spill_bytes": st.spill_bytes,
                "spark.exec_job_cover": exec_job_s / exec_s if exec_s > 0 else 0.0,
                "functions.caching.leaked": float(len(res.leaked)),
                "split.build_self_s": build_s - build_job_s,
                "split.build_jobs_s": build_job_s,
                "split.exec_jobs_s": exec_job_s,
                "split.driver_other_s": res.seconds - build_s - exec_job_s,
                "trace.pass_s": res.seconds,
            }
        )
        return dict(layers)

    def check_first_pass(self, res: PassResult, outputs: dict) -> None:
        from beymani_spark.plans import QUERIES

        for name, out in outputs.items():
            try:
                errs = check.oracle_mismatches(out, self.inputs, QUERIES[name].oracle_sql(self.inputs))
            except Exception:
                errs = [f"oracle raised {traceback.format_exc().strip().splitlines()[-1]}"]
            if errs:
                res.failures.append(f"{name}: " + "; ".join(errs[:3]))
            else:
                self.first_results[name] = check.digest(out)

    def check_warm_pass(self, res: PassResult, outputs: dict) -> None:
        for name, out in outputs.items():
            want = self.first_results.get(name)
            if want is None:
                res.failures.append(f"{name}: no checked first-pass result to compare with")
            elif check.digest(out) != want:
                res.failures.append(f"{name}: differs from its checked first-pass result")

    # ------------------------------------------------------------ stream
    def stream_pass(self, pass_no: int, traced: bool) -> tuple[PassResult, dict]:
        from beymani_spark.sources import streams
        from beymani_spark.streaming.jobs import apply_stream_one_step_ahead

        sc = self.spark.sparkContext
        res = PassResult(pass_no, traced, 0.0, [])
        res.attempted = self.w.shape.stream_files
        base = os.path.join(self.work, f"stream-pass{pass_no}")
        shutil.rmtree(base, ignore_errors=True)
        out_dir, ck_dir = os.path.join(base, "out"), os.path.join(base, "checkpoint")
        src = {
            "format": "file",
            "path": os.path.join(self.inputs, "stream"),
            "schema": STREAM_SCHEMA,
            "maxFilesPerTrigger": "1",
        }
        sink = {"format": "parquet", "path": out_dir, "checkpoint": ck_dir, "trigger": "availableNow"}
        q = None
        progress: list[dict] = []
        if traced:
            sc.setJobGroup(self._tag(pass_no, "stream", "build"), "stream")
        p_start = time.time()
        t0 = time.perf_counter()
        try:
            scored = apply_stream_one_step_ahead(
                streams.open_stream(self.spark, src), STREAM_KEYS, **STREAM_ARGS
            )
            q = streams.start_sink(scored, sink)
            w1 = time.time()
            q.awaitTermination(150)
            res.seconds = time.perf_counter() - t0
            w2 = time.time()
            progress = [json.loads(p.json) for p in q.recentProgress]
            if q.isActive:
                q.stop()
                raise RuntimeError("stream did not drain its backlog within 150 s")
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()).splitlines()[0])
        except Exception:
            w1 = w2 = time.time()
            res.seconds = time.perf_counter() - t0
            # a pass that raised counts every micro-batch it owed as failed
            msg = f"stream: raised {traceback.format_exc().strip().splitlines()[-1]}"
            res.failures.extend([msg] * res.attempted)
        finally:
            if traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
        res.latencies = status.trigger_seconds(progress)
        if self._cache_leaked():
            res.leaked.append("stream")
        if traced and q is not None:
            res.layers = self._stream_layers(pass_no, p_start, w1, w2, res, q, progress)
        return res, {"out": out_dir if q is not None and not res.failures else None}

    def _stream_layers(self, pass_no, p_start, w1, w2, res, q, progress) -> dict[str, float]:
        tr = self.tracer
        self.status.drain()
        pass_span = tr.add("pass", p_start, w2, self.run_span.id, index=pass_no, traced=True)
        qspan = tr.add("query", p_start, w2, pass_span.id, query="stream")
        b = tr.add("plans.build", p_start, w1, qspan.id)
        e = tr.add("spark.exec", w1, w2, qspan.id)
        build_jobs = self.status.jobs(self.status.job_ids(self._tag(pass_no, "stream", "build")))
        exec_jobs = self.status.jobs(self.status.job_ids(str(q.runId)))
        for span, jobs in ((b, build_jobs), (e, exec_jobs)):
            for j in jobs:
                tr.add("spark.job", j.start, j.end, span.id, job_id=j.job_id, stages=len(j.stage_ids))
        for p in progress:
            if p.get("numInputRows", 0) > 0:
                end = _iso_epoch(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1e3
                tr.add(
                    "streaming.batch",
                    _iso_epoch(p["timestamp"]),
                    end,
                    e.id,
                    batch_id=p["batchId"],
                    rows=p["numInputRows"],
                )
        layers = self._layers(
            res, [b], [e], {b.id: build_jobs}, {e.id: exec_jobs}, build_jobs + exec_jobs
        )
        layers.update(status.stream_layers(progress))
        return layers

    def stream_reference(self):
        """The batch kernel (operators.sequence.one_step_ahead) on the
        concatenated feed, with each row's micro-batch (= source file)."""
        from pyspark.sql import functions as F

        from beymani_spark.operators import sequence

        feed = self.spark.read.schema(STREAM_SCHEMA).parquet(os.path.join(self.inputs, "stream"))
        files = (
            feed.select("ts", F.input_file_name().alias("_file")).toPandas()
        )
        order = {f: i for i, f in enumerate(sorted(files["_file"].unique()))}
        batch_of = dict(zip(files["ts"], files["_file"].map(order)))
        ref = (
            sequence.one_step_ahead(feed, STREAM_KEYS, **STREAM_ARGS)
            .select(*STREAM_KEYS, "ts", "predicted", "osa_score", "label")
            .toPandas()
        )
        ref["_batch"] = ref["ts"].map(batch_of)
        self.reference = (ref, batch_of)

    def check_stream_pass(self, res: PassResult, outputs: dict) -> None:
        out_dir = outputs.get("out")
        if out_dir is None:
            return  # the raise is already counted
        import pyarrow.dataset as ds

        ref, batch_of = self.reference
        # read the sink's part files directly: a Spark read per pass would
        # add jobs and wall time to every run; the _spark_metadata log is
        # skipped (a leftover part file of a failed batch shows as a
        # mismatch)
        cols = [*STREAM_KEYS, "ts", "predicted", "osa_score", "label"]
        got = ds.dataset(out_dir, format="parquet").to_table(columns=cols).to_pandas()
        got["ts"] = got["ts"].astype(ref["ts"].dtype)
        got["_batch"] = got["ts"].map(batch_of)
        key = [*STREAM_KEYS, "ts"]
        for b in range(self.w.shape.stream_files):
            errs = check.compare_stream(
                got[got["_batch"] == b].drop(columns="_batch"),
                ref[ref["_batch"] == b].drop(columns="_batch"),
                key,
            )
            if errs:
                res.failures.append(f"stream batch {b}: " + "; ".join(errs[:3]))

    # ------------------------------------------------------------ driver
    def one_pass(self, pass_no: int, traced: bool, first: bool) -> PassResult:
        if self.w.stream:
            res, outputs = self.stream_pass(pass_no, traced)
            if first:
                self.stream_reference()
            self.check_stream_pass(res, outputs)
        else:
            res, outputs = self.batch_pass(pass_no, traced)
            if first:
                self.check_first_pass(res, outputs)
            else:
                self.check_warm_pass(res, outputs)
        return res

    def measure(self, seconds: float, traced: bool) -> tuple[PassResult, list[PassResult]]:
        """The first pass, then warm passes until ``seconds`` have been
        measured, at least the minimum count. Returns the first pass and
        the warm passes. Every warm figure is a median over passes, so a
        first warm pass that is still slow (the JIT compiling the mix's hot
        paths) does not move it."""
        first = self.one_pass(0, traced, first=True)
        warm: list[PassResult] = []
        t0 = time.perf_counter()
        while True:
            n = len(warm) + 1
            # the traced run interleaves untraced and traced warm passes,
            # U T T U U T T U ..., so their difference is the tracing
            # overhead under the same load and warm-up trend
            is_traced = traced and n % 4 in (2, 3)
            warm.append(self.one_pass(n, is_traced, first=False))
            n_untraced = sum(not p.traced for p in warm)
            n_traced = len(warm) - n_untraced
            if traced:
                n_untraced -= 1  # the first warm pass is no tracing baseline
            enough = (
                n_untraced >= TRACED_MIN_PASSES and n_traced >= TRACED_MIN_PASSES
                if traced
                else n_untraced >= UNTRACED_MIN_PASSES
            )
            elapsed = time.perf_counter() - t0
            if enough and elapsed + warm[-1].seconds > seconds:
                break
        self.run_span.end = time.time()
        return first, warm


def _iso_epoch(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def vm_hwm_kb(pid: int | str) -> int:
    """Peak resident set (VmHWM) of a process, from /proc, in KiB."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def summarize(run: Run, setup_s: float, session_s: float, setup_reps: list[float],
              first: PassResult, warm: list[PassResult], jvm_pid: int, traced: bool) -> tuple[dict, list[str]]:
    """The result object and the human-readable lines printed before it."""
    passes = [first, *warm]
    attempted = sum(p.attempted for p in passes)
    failures = [f"pass {p.index}: {f}" for p in passes for f in p.failures]
    failed = min(attempted, len(failures))
    untraced = [p for p in warm if not p.traced]
    pass_s = spans.median([p.seconds for p in untraced])
    # a pass yields a handful of latencies (one per query or micro-batch),
    # too few for a percentile with 10 samples beyond it to be a tail, so
    # both figures are per pass, as medians over the warm passes: a pass's
    # median latency and its slowest
    lat = [x for p in untraced for x in p.latencies]
    p50 = spans.median([spans.median(p.latencies) for p in untraced if p.latencies])
    tail = spans.median([max(p.latencies) for p in untraced if p.latencies])
    rule, rule_pct, n = spans.tail_percentile(lat)
    jvm_mb, py_mb = vm_hwm_kb(jvm_pid) / 1024.0, vm_hwm_kb("self") / 1024.0
    rss_mb = jvm_mb + py_mb
    unit = "micro-batch triggerExecution" if run.w.stream else "query build+action"
    lines = [
        f"workload {run.w.name} seed {run.seed}: inputs {json.dumps(run.rows)} "
        f"shape {json.dumps(run.w.shape.record())}",
        f"order: {', '.join(run.w.queries) if run.w.queries else 'apply_stream_one_step_ahead'}",
        f"setup_s {setup_s:.4f} s = session {session_s:.4f} s + median of "
        f"{len(setup_reps)} input set-ups {spans.median(setup_reps):.4f} s "
        f"({', '.join(f'{x:.3f}' for x in setup_reps)})",
        f"first_pass_s {first.seconds:.4f} s",
        f"pass_s {pass_s:.4f} s (median of {len(untraced)} untraced warm passes: "
        f"{', '.join(f'{p.seconds:.3f}' for p in untraced)})",
        f"latency_p50_s {p50:.4f} s ({unit}: the median of a warm pass, median over "
        f"{len(untraced)} passes; n={len(lat)})",
        f"latency_tail_s {tail:.4f} s (the slowest of a warm pass, median over "
        f"{len(untraced)} passes; the highest percentile with >=10 samples beyond "
        f"it would be p{rule_pct:.1f} = {rule:.4f} s of n={n})",
        f"failed_ratio {failed}/{attempted} = {failed / attempted:.4f}",
        f"peak_rss_mb {rss_mb:.1f} MB (VmHWM of driver JVM {jvm_mb:.1f} + driver Python {py_mb:.1f})",
        f"functions.caching.leaked {sorted({q for p in passes for q in p.leaked})}",
    ]
    if run.w.queries:
        lines.append(
            "warm median per query: "
            + ", ".join(
                f"{q} {spans.median([p.by_query[q] for p in untraced if q in p.by_query]):.3f}"
                for q in run.w.queries
            )
        )
    lines += [f"FAILED {f}" for f in dict.fromkeys(failures)]
    if traced:
        traced_passes = [p for p in warm if p.traced]
        keys = {k for p in traced_passes for k in p.layers}
        layers = {k: spans.median([p.layers.get(k, 0.0) for p in traced_passes]) for k in keys}
        traced_s = spans.median([p.seconds for p in traced_passes])
        # the first warm pass is often still slow (the JIT at work), so the
        # untraced baseline starts after it
        base_s = spans.median([p.seconds for p in untraced[1:]])
        layers["trace.untraced_pass_s"] = base_s
        layers["trace.overhead_ratio"] = traced_s / base_s - 1.0
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in PER_LAYER}
        parts = ("split.build_self_s", "split.build_jobs_s", "split.exec_jobs_s", "split.driver_other_s")
        lines.append(
            f"traced warm pass {traced_s:.4f} s vs untraced {base_s:.4f} s: "
            f"tracing overhead {layers['trace.overhead_ratio']:+.2%}"
        )
        lines.append(
            "split of the traced warm pass: "
            + ", ".join(f"{k.split('.', 1)[1]} {layers.get(k, 0.0):.4f}" for k in parts)
            + f"; job spans cover {layers.get('spark.exec_job_cover', 0.0):.1%} of spark.exec"
        )
    else:
        values = {
            "setup_s": setup_s,
            "first_pass_s": first.seconds,
            "pass_s": pass_s,
            "latency_p50_s": p50,
            "latency_tail_s": tail,
            "peak_rss_mb": rss_mb,
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END}
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    return result, lines
