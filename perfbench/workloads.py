"""The closed-loop workloads.

Every workload runs on one SparkSession with one client: each op starts
only after the previous one has committed or returned. A workload
generates its inputs from the seed before the engine starts, sets up
(table create, bootstrap, untimed warm-up ops of the same plan shapes),
runs ops until the timed window closes, and checks its outputs against
DuckDB afterwards.

Sizes are chosen so that a run, set-up included, fits the benchmark's
time budget on a 4-core host while its window still holds several ops.
"""

from __future__ import annotations

import os
import sys
import threading
import time

import pyarrow.parquet as pq
from pyspark.sql.streaming import StreamingQueryListener

import gen
import oracle

CORPUS_QUERIES = (
    ("functions.minhash", "dedup_minhash_lsh"),
    ("functions.simhash", "dedup_simhash"),
    ("functions.near_dedup", "dedup_near_corpus"),
)


class ProgressListener(StreamingQueryListener):
    """Progress events of the ingest stream: the load generator's signal
    that a micro-batch has finished, and the source of the
    triggerExecution / addBatch split."""

    def __init__(self) -> None:
        self.cond = threading.Condition()
        self.batches: list[dict] = []  # durationMs of each data batch
        self.error: str | None = None

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        if p.numInputRows > 0:
            with self.cond:
                self.batches.append(dict(p.durationMs))
                self.cond.notify_all()

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self.cond:
            self.error = event.exception or "terminated"
            self.cond.notify_all()

    def wait_for(self, n_batches: int, timeout: float) -> None:
        """Block until ``n_batches`` data batches have completed."""
        deadline = time.time() + timeout
        with self.cond:
            while len(self.batches) < n_batches:
                left = deadline - time.time()
                if self.error or left <= 0:
                    raise RuntimeError(f"stream stalled: {self.error or 'timeout'}")
                self.cond.wait(left)


class Workload:
    """Interface of one workload; ``op`` returns the units of work done."""

    name = ""
    warm_ops = 0
    cycle = 1  # a timed window closes on a multiple of this many ops
    min_ops = 1  # and holds at least this many
    scales = False  # the traced run repeats the window under local[1]

    def __init__(self, work: str, seed: int, windows: int):
        self.work, self.seed, self.windows = work, seed, windows
        self.tracer = None

    def span(self, name: str):
        from contextlib import nullcontext

        return self.tracer.span(name) if self.tracer else nullcontext()

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def warm_up(self, spark) -> None:
        """Untimed ops of the same plan shapes as the timed ones."""
        lat = []
        for _ in range(self.warm_ops):
            t = time.time()
            self.op(spark)
            lat.append(time.time() - t)
        print("warm-up op seconds " + " ".join(f"{x:.3f}" for x in lat), file=sys.stderr)

    def table(self):
        """The lake table the workload writes, if any."""
        return None

    def close(self, spark) -> None:
        pass


class MorStream(Workload):
    """Small micro-batches through run_stream into a merge-on-read table
    with in-stream auto-compaction.

    The load generator stages one chunk file into the stream's source
    directory per op and waits for the stream's progress event before
    staging the next, so each micro-batch reads exactly one chunk.
    Every micro-batch touches every bucket and adds one file to each, so
    the auto-compaction fires on every ``cycle``-th op."""

    name = "mor_stream"
    scales = True
    n_buckets = 8
    n_docs = 20_000
    chunk_events = 5_000
    # one compaction in six ops: the median op is a plain micro-batch,
    # and a window of one cycle still lasts longer than --seconds
    auto_compact_files = 6
    cycle = auto_compact_files
    warm_ops = cycle
    max_ops = 2 * cycle  # per timed window; windows close on whole cycles

    def generate(self) -> None:
        pq.write_table(gen.base_table(self.seed, self.n_docs), self.path("base.parquet"))
        self.pending = gen.write_chunks(
            self.path("pending"), self.seed, self.warm_ops + self.windows * self.max_ops,
            self.chunk_events, self.n_docs,
        )

    def start(self, spark, name: str) -> None:
        """Create and bootstrap a table, and start its ingest stream; the
        next op stages the first chunk again."""
        from nebula_spark.cdc.binlog import SEQUENCE_SCHEMA
        from nebula_spark.cdc.snapshot import maybe_bootstrap
        from nebula_spark.lake.table import LakeTable
        from nebula_spark.streaming import run_stream

        self.tbl = LakeTable.create(
            self.path(name, "table"), SEQUENCE_SCHEMA, "doc_id",
            n_buckets=self.n_buckets, properties={"merge_mode": "mor"},
        )
        maybe_bootstrap(spark, self.tbl, self.path("base.parquet"))
        self.source = self.path(name, "source")
        os.makedirs(self.source)
        self.staged: list[str] = []
        self.listener = ProgressListener()
        spark.streams.addListener(self.listener)
        qid = run_stream(
            spark, self.tbl, self.source, self.path(name, "checkpoint"),
            available_now=False, auto_compact_files=self.auto_compact_files,
        )["query_id"]
        self.query = spark.streams.get(qid)

    def setup(self, spark) -> None:
        self.start(spark, "main")
        self.warm_up(spark)

    def op(self, spark) -> int:
        k = len(self.staged)
        if k >= len(self.pending):
            raise IndexError("out of input chunks")
        # a hard link keeps the chunk for a later stream; the link into
        # the source directory is atomic, so the stream never sees a
        # partial file
        staged = os.path.join(self.source, os.path.basename(self.pending[k]))
        os.link(self.pending[k], staged)
        self.staged.append(staged)
        # the final-state check covers the rows; numInputRows is no
        # count of them, it counts every action foreachBatch runs
        self.listener.wait_for(len(self.staged), timeout=60)
        return self.chunk_events

    def table(self):
        return self.tbl

    def close(self, spark) -> None:
        self.query.stop()
        spark.streams.removeListener(self.listener)

    def check(self, spark) -> list[str]:
        """Problems found in the outputs; empty when all are correct."""
        ref = oracle.Oracle(self.path("base.parquet"), self.staged)
        out = self.path("final")
        self.tbl.read(spark).select("doc_id", "tokens", "n_tok", "source").write.parquet(out)
        bad = ref.mismatches(out)
        return [f"{bad} rows differ from the replay of {len(self.staged)} chunks"] if bad else []


class CorpusDedup(Workload):
    """One op is one pass of the three corpus-dedup entry points
    (``__spark_entry__.queries()``) over seed-salted replicas of a
    documents table, each writing its output to parquet."""

    name = "corpus_dedup"
    replicas = 1
    # a pass costs ~4 s of fixed planning and job overhead plus ~0.6 s
    # per 1,000 documents; small passes fit three per window
    docs_per_replica = 1_000
    warm_ops = 3
    min_ops = 3  # the median then ignores one slow pass

    def generate(self) -> None:
        self.corpus_dir = self.path("corpus")
        self.documents = os.path.join(self.corpus_dir, "documents.parquet")
        self.n_docs = gen.corpus_replicas(
            self.documents, self.seed, self.replicas, self.docs_per_replica
        )
        self.outputs: list[str] = []
        self.passes = 0

    def setup(self, spark) -> None:
        import __spark_entry__ as entry

        self.queries = entry.queries()
        self.warm_up(spark)
        self.outputs.clear()

    def op(self, spark) -> int:
        out = self.path("out", str(self.passes))
        self.passes += 1
        self.outputs.append(out)
        for span_name, q in CORPUS_QUERIES:
            with self.span(span_name):
                self.queries[q](spark, self.corpus_dir).write.parquet(os.path.join(out, q))
        return self.n_docs

    def check(self, spark) -> list[str]:
        """Every pass's outputs against the entry's oracle SQL."""
        import __spark_entry__ as entry

        sql = entry.oracle_sql()
        problems = []
        for _, q in CORPUS_QUERIES:
            ref = oracle.Corpus(self.documents, sql[q])
            wrong = sum(ref.mismatches(os.path.join(out, q)) > 0 for out in self.outputs)
            if wrong:
                problems.append(f"{q}: {wrong} of {len(self.outputs)} passes differ from the oracle")
        return problems


WORKLOADS = {w.name: w for w in (MorStream, CorpusDedup)}
