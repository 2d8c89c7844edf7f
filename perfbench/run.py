"""Ingest benchmark for nebula_spark.

    python3 perfbench/run.py --workload mor_stream --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The benchmark generates its inputs
from the seed into a fresh work directory under the checkout, starts a
``local[4]`` SparkSession, sets the workload up (including untimed
warm-up ops), runs closed-loop ops for ``--seconds``, checks every
output against DuckDB, removes the work directory and prints one JSON
object as the last line of stdout.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs an
untraced window, then a second window with span wrappers installed, and
reports the per-layer metrics; see README.md in this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4

# the engine's environment knobs; unset so every run measures defaults
ENGINE_ENV = (
    "NEBULA_MERGE_MODE", "NEBULA_DEDUP_HOW", "NEBULA_RESOLVE_STRATEGY",
    "NEBULA_CONFLICT", "NEBULA_SEGMENT_BUCKETS", "NEBULA_SHUFFLE_PARTITIONS",
    "NEBULA_UNIONAGG_MAX_BYTES", "NEBULA_BROADCAST_MAX_KEYS",
    "NEBULA_WINDOW_DEDUP_MIN_EVENTS", "SPARK_MASTER", "SPARK_EXECUTOR_MEMORY",
)


def warm_drift(lat: list[float], cycle: int) -> float:
    """Median of the first quarter of ops / median of the last quarter - 1;
    positive while ops are still getting faster. The last op of each
    cycle (the one carrying the periodic work) is left out."""
    lat = [x for i, x in enumerate(lat) if cycle == 1 or i % cycle != cycle - 1]
    if not lat:
        return 0.0
    q = max(len(lat) // 4, 1)
    return statistics.median(lat[:q]) / statistics.median(lat[-q:]) - 1.0


class Window:
    """Closed-loop ops for at least ``seconds``. The window closes on a
    multiple of the workload's ``cycle`` ops, so every window holds the
    same share of periodic work (the stream's auto-compactions), and
    after at least ``min_ops`` ops, so the median is not one op alone."""

    def __init__(self) -> None:
        self.lat: list[float] = []
        self.spans: list[tuple[float, float]] = []
        self.work = 0
        self.attempted = self.failed = 0
        self.elapsed = 0.0

    def run(self, wl, spark, seconds: float, tracer=None) -> "Window":
        t0 = time.time()
        while (
            time.time() - t0 < seconds
            or self.attempted % wl.cycle
            or self.attempted < wl.min_ops
        ):
            self.attempted += 1
            a = time.time()
            try:
                if tracer is not None:
                    with tracer.op(self.attempted):
                        done = wl.op(spark)
                else:
                    done = wl.op(spark)
            except IndexError:  # inputs exhausted: the window ends early
                self.attempted -= 1
                print("perfbench: inputs exhausted before the window closed", file=sys.stderr)
                break
            except Exception as e:  # counts as failed and ends the window
                print(f"op {self.attempted} failed: {type(e).__name__}: {e}", file=sys.stderr)
                self.failed += 1
                break
            b = time.time()
            self.lat.append(b - a)
            self.spans.append((a, b))
            self.work += done
        self.elapsed = time.time() - t0
        print(
            f"{wl.name}: {len(self.lat)} ops in {self.elapsed:.2f}s,"
            f" warm_drift {warm_drift(self.lat, wl.cycle):+.3f}; op seconds "
            + " ".join(f"{x:.3f}" for x in self.lat),
            file=sys.stderr,
        )
        return self

    @property
    def rate(self) -> float:
        return self.work / self.elapsed


def stop_jvm() -> None:
    """End the driver JVM that pyspark launched and wait for it; it exits
    when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def start_spark(work: str, cores: int, event_log: str | None):
    from nebula_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
        })
    return get_spark("perfbench", parallelism=cores, extra_conf=conf)


def isolate(work: str) -> None:
    """Keep the run's temporary files inside the work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    for k in ENGINE_ENV:
        os.environ.pop(k, None)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_DRIVER_MEMORY": "3g",
        # no jar probing outside the checkout (session.find_*_jar)
        "NEBULA_JDBC_JAR": os.path.join(work, "absent.jar"),
        "NEBULA_AVRO_JAR": os.path.join(work, "absent.jar"),
        # the launcher JVM of spark-submit and the driver JVM: no
        # /tmp/hsperfdata files, temporary files under the work directory
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": (
            f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" pyspark-shell'
        ),
    })


def traced_window(wl, spark, seconds: float, base: Window) -> tuple[dict, Window, list]:
    """A second window with span wrappers installed; returns the
    per-layer metrics that do not need the event log, the window, and
    the merge_into spans as (start, end)."""
    import tracing

    tracer = tracing.Tracer()
    wl.tracer = tracer
    listener = getattr(wl, "listener", None)
    mark = len(listener.batches) if listener else 0
    steal0, gc0 = tracing.cpu_ticks(), tracing.jvm_gc_ms(spark)
    tracer.install()
    try:
        win = Window().run(wl, spark, seconds, tracer)
    finally:
        tracer.uninstall()
        wl.tracer = None
    steal1, gc1 = tracing.cpu_ticks(), tracing.jvm_gc_ms(spark)
    n = max(len(win.lat), 1)

    m, worst = tracing.analyse_spans(tracer.spans)
    if worst > 1e-4:
        raise RuntimeError(f"per-layer self times miss an op span by {worst:.6f}s")
    named = tracer.by_name()
    files = [s[tracing.INFO] for s in named.get("lake.table.list_written_files", [])]
    commits = len(named.get("lake.table.commit", []))
    m["lake.table.snapshot_calls_per_op"] = len(named.get("lake.table.snapshot", [])) / n
    m["lake.table.files_per_commit"] = sum(f for f, _ in files) / commits if commits else 0.0
    m["lake.table.bytes_written_per_event"] = sum(b for _, b in files) / max(win.work, 1)
    m["lake.maintenance.compactions"] = float(len(named.get("lake.maintenance.compact", [])))
    tbl = wl.table()
    if tbl is not None:
        m["lake.table.live_files"] = float(sum(len(fs) for fs in tbl.snapshot().files.values()))
    if listener:
        done = listener.batches[mark:]
        m["streaming.trigger_s"] = statistics.mean(d["triggerExecution"] for d in done) / 1e3
        m["streaming.overhead_s"] = statistics.mean(
            d["triggerExecution"] - d.get("addBatch", 0) for d in done
        ) / 1e3
    m["spark.gc_s"] = (gc1 - gc0) / 1e3 / n
    m["spark.peak_rss_mb"] = tracing.peak_rss_mb(tracing.jvm_pid(spark))
    m["host.steal_frac"] = (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1)
    m["harness.warm_drift"] = warm_drift(win.lat, wl.cycle)
    m["harness.trace_overhead"] = win.rate / base.rate
    merges = [(s[tracing.T0], s[tracing.T1]) for s in named.get("lake.merge_into", [])]
    return m, win, merges


def main() -> int:
    if not os.path.isfile(os.path.join(ROOT, "nebula_spark", "__init__.py")):
        print(f"perfbench: no nebula_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        isolate(work)
        wl = WORKLOADS[args.workload](work, args.seed, windows=2 if args.trace else 1)
        g0 = time.time()
        wl.generate()
        gen_s = time.time() - g0

        event_log = os.path.join(work, "eventlog") if args.trace else None
        t_session = time.time()
        spark = start_spark(work, CORES, event_log)
        t_setup = time.time()
        wl.setup(spark)
        setup_s = time.time() - T_START - gen_s
        print(
            f"phases: gen {gen_s:.2f}s, session {t_setup - t_session:.2f}s,"
            f" workload set-up {time.time() - t_setup:.2f}s", file=sys.stderr,
        )

        base = Window().run(wl, spark, args.seconds)
        wins = [base]
        if args.trace:
            layer, traced, merges = traced_window(wl, spark, args.seconds, base)
            wins.append(traced)
        wl.close(spark)
        t_check = time.time()
        problems = wl.check(spark)
        print(f"phases: check {time.time() - t_check:.2f}s", file=sys.stderr)
        for msg in problems:
            print(f"check failed: {msg}", file=sys.stderr)

        if args.trace:
            import tracing

            spark.stop()
            jobs, tasks = tracing.read_event_log(event_log)
            layer.update(tracing.spark_layer(jobs, tasks, traced.spans, merges, traced.work))
            layer["harness.gen_s"] = gen_s
            if wl.scales:
                # the same ops on one core, for the N -> 4N scaling rule;
                # one untimed cycle first on the fresh table and stream
                spark = start_spark(work, 1, None)
                wl.start(spark, "scaling")
                for _ in range(wl.cycle):
                    wl.op(spark)
                one_core = Window().run(wl, spark, args.seconds)
                wl.close(spark)
                layer["spark.scaling_eff_1_to_4"] = base.rate / (CORES * one_core.rate)
            metrics = {m["name"]: (layer.get(m["name"], 0.0), m["unit"]) for m in spec["per_layer"]}
        else:
            metrics = {
                "rate_per_s": (base.rate, "1/s"),
                # a window whose first op failed has no latency but its own
                "op_p50_s": (statistics.median(base.lat or [base.elapsed]), "s"),
                "setup_s": (setup_s, "s"),
            }
        result = {
            "correct": not problems,
            "attempted": sum(w.attempted for w in wins),
            "failed": sum(w.failed for w in wins),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())},
        }
    finally:
        if spark is not None:
            spark.stop()
            stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still uses it
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
