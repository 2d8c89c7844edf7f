"""Traced-run instrumentation, installed only with ``--trace 1``.

Spans are kept in memory and analysed when the run ends. Each span has a
name, start, end, parent and op id. They are recorded by wrappers around
calls into the engine's public functions; the wrappers are installed
for the traced window and removed afterwards. The traced run also reads
Spark's local event log, the JVM's GC counters and ``/proc``.
"""

from __future__ import annotations

import functools
import inspect
import itertools
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

# span record fields
SID, NAME, T0, T1, PARENT, OP, INFO = range(7)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[list] = []
        self._tls = threading.local()
        self._ids = itertools.count()
        self._root: int | None = None
        self._op: int | None = None
        self._patches: list[tuple] = []

    @contextmanager
    def op(self, op_id: int):
        """Root span of one op. Spans opened on other threads while it is
        open (the stream's foreachBatch thread) become its children."""
        sid = next(self._ids)
        self._root, self._op = sid, op_id
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append([sid, "op", t0, time.time(), None, op_id, None])
            self._root = self._op = None

    @contextmanager
    def span(self, name: str):
        stack = self._tls.__dict__.setdefault("stack", [])
        rec = [next(self._ids), name, time.time(), None,
               stack[-1] if stack else self._root, self._op, None]
        stack.append(rec[SID])
        try:
            yield rec
        finally:
            rec[T1] = time.time()
            stack.pop()
            self.spans.append(rec)

    def by_name(self) -> dict[str, list[list]]:
        out: dict[str, list[list]] = {}
        for s in self.spans:
            out.setdefault(s[NAME], []).append(s)
        return out

    def wrap(self, owner, attr: str, name: str, info=None) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper; ``info``
        maps the call's result to the span's info field."""
        raw = inspect.getattr_static(owner, attr)
        kind = type(raw) if isinstance(raw, (staticmethod, classmethod)) else None
        func = raw.__func__ if kind else raw

        @functools.wraps(func)
        def wrapper(*args, **kwargs):
            with self.span(name) as rec:
                out = func(*args, **kwargs)
                if info is not None:
                    rec[INFO] = info(out)
                return out

        setattr(owner, attr, kind(wrapper) if kind else wrapper)
        self._patches.append((owner, attr, raw))

    def install(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter

        import nebula_spark.cdc.apply as apply_mod
        import nebula_spark.lake.maintenance as maint_mod
        import nebula_spark.streaming.ingest as ingest_mod
        from nebula_spark.lake.table import LakeTable

        # apply_changes is bound by name in both the cdc and streaming
        # modules; evolve_schema and merge_into in the cdc module
        self.wrap(apply_mod, "apply_changes", "cdc.apply_changes")
        self.wrap(ingest_mod, "apply_changes", "cdc.apply_changes")
        self.wrap(apply_mod, "evolve_schema", "evolution.evolve_schema")
        self.wrap(apply_mod, "merge_into", "lake.merge_into")
        self.wrap(maint_mod, "compact", "lake.maintenance.compact")
        self.wrap(LakeTable, "commit", "lake.table.commit")
        self.wrap(LakeTable, "snapshot", "lake.table.snapshot")
        self.wrap(LakeTable, "read", "lake.table.read")
        self.wrap(
            LakeTable, "list_written_files", "lake.table.list_written_files",
            info=lambda out: (
                sum(len(fs) for fs in out.values()),
                sum(f[1] for fs in out.values() for f in fs),
            ),
        )
        self.wrap(DataFrame, "collect", "spark.collect")
        self.wrap(DataFrameWriter, "parquet", "spark.write")

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, raw = self._patches.pop()
            setattr(owner, attr, raw)


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans: list[list]) -> dict[int, float]:
    """sid -> span duration minus the part covered by its children,
    children clipped to the parent's interval."""
    by_sid = {s[SID]: s for s in spans}
    kids: dict[int, list] = {}
    for s in spans:
        if s[PARENT] in by_sid:
            kids.setdefault(s[PARENT], []).append(s)
    out = {}
    for s in spans:
        a, b = s[T0], s[T1]
        cover = [(max(k[T0], a), min(k[T1], b)) for k in kids.get(s[SID], ())]
        out[s[SID]] = (b - a) - _covered([(x, y) for x, y in cover if y > x])
    return out


SELF_LAYERS = {
    "op": "harness.op_self_s",
    "cdc.apply_changes": "cdc.apply_self_s",
    "evolution.evolve_schema": "evolution.evolve_s",
    "lake.merge_into": "lake.merge.self_s",
    "lake.table.commit": "lake.table.commit_s",
    "lake.table.list_written_files": "lake.table.list_s",
    "lake.table.snapshot": "lake.table.snapshot_s",
    "lake.table.read": "lake.table.read_plan_s",
    "lake.maintenance.compact": "lake.maintenance.compact_s",
    "functions.minhash": "functions.minhash_s",
    "functions.simhash": "functions.simhash_s",
    "functions.near_dedup": "functions.near_dedup_s",
}


def layer_of(span: list, by_sid: dict) -> str:
    """The per-layer metric a span's self time is charged to. A Spark
    action counts towards the span that ran it, and within merge_into
    towards the stats pre-scan (collect) or the write job."""
    parent = by_sid.get(span[PARENT])
    if span[NAME].startswith("spark.") and parent:
        if parent[NAME] == "lake.merge_into":
            return "lake.merge.stats_s" if span[NAME] == "spark.collect" else "lake.merge.write_s"
        return layer_of(parent, by_sid)
    return SELF_LAYERS.get(span[NAME], "harness.other_s")


def analyse_spans(spans: list[list]) -> tuple[dict[str, float], float]:
    """(mean self seconds per op by layer, plus ``harness.op_mean_s``;
    worst |sum of an op's self times - its op span| over ops)."""
    ops = {s[OP] for s in spans if s[NAME] == "op"}
    spans = [s for s in spans if s[OP] in ops]
    by_sid = {s[SID]: s for s in spans}
    st = self_times(spans)
    per_layer: dict[str, float] = {}
    per_op = dict.fromkeys(ops, 0.0)
    for s in spans:
        key = layer_of(s, by_sid)
        per_layer[key] = per_layer.get(key, 0.0) + st[s[SID]]
        per_op[s[OP]] += st[s[SID]]
    roots = [s for s in spans if s[NAME] == "op"]
    worst = max((abs(per_op[r[OP]] - (r[T1] - r[T0])) for r in roots), default=0.0)
    n = max(len(ops), 1)
    out = {k: v / n for k, v in per_layer.items()}
    out["harness.op_mean_s"] = sum(r[T1] - r[T0] for r in roots) / n
    return out, worst


# ---------------------------------------------------------------- Spark runtime


def read_event_log(log_dir: str) -> tuple[list[dict], dict[int, list[dict]]]:
    """(jobs with submission time and stage ids, tasks by stage id) from
    Spark's uncompressed JSON event log (rolled files in one directory
    per application)."""
    jobs, tasks = [], {}
    paths = sorted(
        os.path.join(d, n) for d, _, ns in os.walk(log_dir) for n in ns if n.startswith("events_")
    )
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs.append({"t": ev["Submission Time"] / 1000.0,
                                 "stages": ev["Stage IDs"]})
                elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                    m = ev["Task Metrics"]
                    tasks.setdefault(ev["Stage ID"], []).append({
                        "run_ms": m["Executor Run Time"],
                        "cpu_ns": m["Executor CPU Time"],
                        "shuffle_w": m["Shuffle Write Metrics"]["Shuffle Bytes Written"],
                        "spill": m["Disk Bytes Spilled"],
                    })
    return jobs, tasks


def spark_layer(jobs, tasks, op_spans, merge_spans, work_units: int) -> dict[str, float]:
    """Spark-runtime per-layer metrics over the jobs submitted inside the
    traced ops (``op_spans``: [(start, end)]); merge jobs are those
    submitted inside a merge_into span (``merge_spans``)."""
    def inside(t, windows):
        return any(a <= t <= b for a, b in windows)

    n_ops = max(len(op_spans), 1)
    op_jobs = [j for j in jobs if inside(j["t"], op_spans)]
    merge_jobs = [j for j in op_jobs if inside(j["t"], merge_spans)]
    skews, shuffle, spill, cpu_ms, run_ms = [], 0, 0, 0.0, 0
    for a, b in op_spans:
        stages = {s for j in op_jobs if a <= j["t"] <= b for s in j["stages"]}
        ts = [t for s in stages for t in tasks.get(s, ())]
        shuffle += sum(t["shuffle_w"] for t in ts)
        spill += sum(t["spill"] for t in ts)
        cpu_ms += sum(t["cpu_ns"] for t in ts) / 1e6
        run_ms += sum(t["run_ms"] for t in ts)
        widest = max((tasks.get(s, []) for s in stages), key=len, default=[])
        runs = [t["run_ms"] for t in widest]
        if len(runs) > 1 and statistics.median(runs) > 0:
            skews.append(max(runs) / statistics.median(runs))
    return {
        "lake.merge.jobs_per_op": len(merge_jobs) / n_ops,
        "spark.shuffle_bytes_per_event": shuffle / max(work_units, 1),
        "spark.spill_bytes": spill / n_ops,
        "spark.task_skew": statistics.median(skews) if skews else 0.0,
        "spark.task_cpu_over_run": cpu_ms / run_ms if run_ms else 0.0,
    }


def jvm_gc_ms(spark) -> int:
    """Total collection time of the driver JVM's garbage collectors."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)
