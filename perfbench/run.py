#!/usr/bin/env python3
"""Engine benchmark entry point.

    python3 perfbench/run.py --workload dedup --seed 1 --seconds 16 --trace 0

Run from the root of a checkout that holds ``beymani_spark/``. Inputs are
generated from ``--seed`` under ``.perfbench/`` in the current directory;
Spark's scratch space and the JVM's temp files go there too. The last line
of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``, the
per-layer metrics (read from Spark's status stores after each pass) with
``--trace 1``. The traced run also writes its span tree to
``.perfbench/trace-<workload>-<seed>.json``.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time


def _descendants(pid: int) -> set[int]:
    """Every live process whose parent chain reaches ``pid``."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                parent[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    found, frontier = set(), {pid}
    while frontier:
        frontier = {c for c, p in parent.items() if p in frontier} - found
        found |= frontier
    return found


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _stop_spark(spark) -> None:
    """Stop the session, end the gateway JVM and wait for it and for the
    Python workers it forked to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    children = _descendants(proc.pid) if proc is not None else set()
    spark.stop()
    if proc is None:
        return
    gw.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.time() + 30
    while any(_alive(c) for c in children) and time.time() < deadline:
        time.sleep(0.1)
    for c in children:
        if _alive(c):
            os.kill(c, 9)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "beymani_spark", "plans", "registry.py")):
        print("perfbench: run from the root of a checkout holding beymani_spark/", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    sys.path.insert(1, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(root, ".perfbench", f"{workload.name}-{args.seed}")
    tmp = os.path.join(root, ".perfbench", "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep every file Spark, the JVM and Python write inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # a fixed heap (-Xms = -Xmx): heap resizing would make peak_rss_mb wander
    os.environ["SPARK_DRIVER_MEM"] = "1g"
    os.environ["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = (
        "-XX:ReservedCodeCacheSize=512m -XX:+UseCodeCacheFlushing -Xms1g "
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
    )

    from perfbench import runner, spans

    t0 = time.perf_counter()
    from beymani_spark.sources import get_spark

    spark = get_spark(f"perfbench-{workload.name}", shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    runner.warm_session(spark, tmp)
    session_s = time.perf_counter() - t0
    try:
        from pyspark import SparkContext

        jvm_pid = SparkContext._gateway.proc.pid
        run = runner.Run(spark, workload, args.seed, work, cores)
        reps = [run.setup_once(i) for i in range(runner.SETUP_REPS)]
        setup_s = session_s + spans.median(reps)
        first, warm = run.measure(args.seconds, traced=bool(args.trace))
        result, lines = runner.summarize(
            run, setup_s, session_s, reps, first, warm, jvm_pid, bool(args.trace)
        )
        if args.trace:
            path = os.path.join(root, ".perfbench", f"trace-{workload.name}-{args.seed}.json")
            run.tracer.dump(path)
            lines.append(f"spans: {len(run.tracer.spans)} written to {os.path.relpath(path, root)}")
    finally:
        _stop_spark(spark)
    shutil.rmtree(work, ignore_errors=True)
    for line in lines:
        print(line)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
