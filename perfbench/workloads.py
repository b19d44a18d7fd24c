"""The benchmark's workloads: a fixed, explicit query list in a fixed order
(never the registry's iteration order) plus the input shape it runs on."""
from __future__ import annotations

from dataclasses import dataclass

from .gen import DOC_COPY_RATE, EVENT_ROWS_PER_KEY, Shape


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    shape: Shape
    queries: tuple[str, ...] = ()  # batch: registry names, run in this order
    stream: bool = False


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            name="dedup",
            why=(
                "near-duplicate family on sf0.1-like documents and embeddings: "
                "MinHash banded-candidate join, eager cluster jobs in builder(), "
                "shuffles, broadcast, exact cosine pairs"
            ),
            # sf0.1 holds 5,000 documents and 2,000 embeddings; at that size
            # a warm pass over these queries takes about 7 s on 4 cores, and
            # a run must fit three warm passes, the first pass and a JVM
            # start in well under a minute, so the rows are the sf0.01
            # fixture's (500 and 500); the near-copy rate and every
            # distribution are sf0.1's (gen.py). dedup_clusters runs the
            # MinHash banded candidate join (dedup_minhash_lsh's plan)
            # inside its builder.
            shape=Shape(documents=500, doc_copy_rate=DOC_COPY_RATE, embeddings=500),
            queries=(
                "dedup_clusters",
                "cosine_dup_pairs",
            ),
        ),
        Workload(
            name="stream",
            why=(
                "stateful one-step-ahead scoring of an sf0.1-like event backlog, one "
                "file per micro-batch: pandas-with-state boundary, state store, "
                "checkpoint; bypasses the candidate join"
            ),
            # sf0.1 events hold 1,500 keys of about 67 rows each; at 1,500
            # keys a micro-batch takes about 8 s (64 keys: 2 s), and a run
            # must fit three warm passes, the first pass and a JVM start in
            # about a minute on a slow host, so the key count is cut to 8
            # while rows per key stay sf0.1's
            shape=Shape(stream_keys=8, stream_rows_per_key=EVENT_ROWS_PER_KEY, stream_files=4),
            stream=True,
        ),
    )
}

#: apply_stream_one_step_ahead parameters, shared with the batch reference
STREAM_KEYS = ["entity"]
STREAM_ARGS = dict(ts="ts", value="value", window=8, threshold=3.0)
STREAM_SCHEMA = "entity long, ts timestamp, value double"
