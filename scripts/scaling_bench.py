"""Scaling-efficiency evidence: run the identical workload at two
parallelism levels (N and 4N local cores — the sandbox stand-in for N
vs 4N executors) and report throughput + efficiency.

Each level runs in a fresh subprocess (own JVM) against the same
pre-generated input. Results go into BENCH/BASELINE.md.

Workloads (env WORKLOAD):
- cdc (default): replay-to-final-state over the synthetic binlog
  (events/sec) — argv: [N] [4N] [events] [batches]
- minhash: MinHash-LSH candidate generation over the replicated
  documents corpus (docs/sec) — argv: [N] [4N] [replicate]
  (env SPARK_GRAFT_SF_DIR picks the corpus)

Usage: python scripts/scaling_bench.py [N] [4N] ...
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench(env_extra: dict, result_key: str) -> dict:
    env = dict(
        os.environ,
        SPARK_DRIVER_MEMORY=os.environ.get("SPARK_DRIVER_MEMORY", "24g"),
        # this script interleaves levels itself; bench.py's own
        # repetition layer would only multiply the cost
        BENCH_REPS=os.environ.get("BENCH_REPS", "1"),
        **env_extra,
    )
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        env=env,
        capture_output=True,
        text=True,
        timeout=3600,
    )
    line = out.stdout.strip().splitlines()[-1]
    return json.loads(line)[result_key]


def run_level(cpus: int, events: int, batches: int, workdir: str) -> dict:
    return _bench(
        dict(
            SPARK_GRAFT_CPUS=str(cpus),
            BENCH_EVENTS=str(events),
            BENCH_BATCHES=str(batches),
            BENCH_WORKDIR=workdir,
            BENCH_ONLY_CDC="1",
            # large-batch regime: window dedup (WindowGroupLimit pushes the
            # top-1 before the sort) feeds the full-outer SMJ already
            # hash-partitioned AND key-sorted — 2 exchanges total vs 4 for
            # agg+semijoin dedup; measured ~30% faster at both 1 and 4 cores
            NEBULA_DEDUP_HOW=os.environ.get("NEBULA_DEDUP_HOW", "window"),
            NEBULA_RESOLVE_STRATEGY=os.environ.get(
                "NEBULA_RESOLVE_STRATEGY", "fullouter"
            ),
        ),
        "cdc_replay",
    )


def run_cluster_level(n_exec: int, cores: int, events: int, batches: int, workdir: str) -> dict:
    """Replay on a REAL multi-JVM local-cluster: N executor JVMs × C
    cores each, with actual serde + netty shuffle between them — the
    one cost plain local[N] threads hide. merge-on-read mode (the
    declared 10^10-event operating point)."""
    return _bench(
        dict(
            SPARK_GRAFT_CPUS=str(n_exec * cores),
            SPARK_MASTER=f"local-cluster[{n_exec},{cores},8192]",
            SPARK_EXECUTOR_MEMORY="6g",
            # BOTH levels shuffle into the same partition count, or the
            # comparison confounds parallelism with task sizing (small
            # tasks drown in per-task RPC at local-cluster latencies).
            # This sizes get_spark's session only; a copy-on-write
            # merge shuffles at the table's n_buckets at every core
            # count, and a merge-on-read one repartitions to it
            NEBULA_SHUFFLE_PARTITIONS=os.environ.get(
                "NEBULA_SHUFFLE_PARTITIONS", "64"
            ),
            BENCH_EVENTS=str(events),
            BENCH_BATCHES=str(batches),
            BENCH_WORKDIR=workdir,
            BENCH_ONLY_CDC="1",
            NEBULA_MERGE_MODE="mor",
            NEBULA_DEDUP_HOW=os.environ.get("NEBULA_DEDUP_HOW", "window"),
        ),
        "cdc_replay",
    )


def run_minhash_level(cpus: int, replicate: int) -> dict:
    return _bench(
        dict(
            SPARK_GRAFT_CPUS=str(cpus),
            BENCH_MINHASH_REPLICATE=str(replicate),
            BENCH_ONLY_MINHASH="1",
        ),
        "minhash",
    )


def _interleaved(rounds: int, run_lo, run_hi, rate_key: str, ratio: float) -> dict:
    """The sandbox host shows episodic CPU steal from co-tenants —
    interleave the two levels across rounds and take the best rate per
    level (best-of filters the noise; both levels face the same
    environment)."""
    lo_runs, hi_runs = [], []
    for _ in range(rounds):
        lo_runs.append(run_lo())
        hi_runs.append(run_hi())
    lo = max(lo_runs, key=lambda r: r[rate_key])
    hi = max(hi_runs, key=lambda r: r[rate_key])
    eff = (hi[rate_key] / lo[rate_key]) / ratio
    return {
        "lo": lo,
        "hi": hi,
        "all_lo": [r[rate_key] for r in lo_runs],
        "all_hi": [r[rate_key] for r in hi_runs],
        "scaling_efficiency": round(eff, 3),
    }


def main():
    workload = os.environ.get("WORKLOAD", "cdc")
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    n4 = int(sys.argv[2]) if len(sys.argv) > 2 else 4 * n
    rounds = int(os.environ.get("SCALING_ROUNDS", "3"))

    if workload == "minhash":
        replicate = int(sys.argv[3]) if len(sys.argv) > 3 else 20
        run_minhash_level(n, replicate)  # JVM/ivy warmup, excluded
        r = _interleaved(
            rounds,
            lambda: run_minhash_level(n, replicate),
            lambda: run_minhash_level(n4, replicate),
            "docs_per_sec",
            n4 / n,
        )
        result = {
            "workload": "minhash_lsh_candidates",
            "cores_n": n,
            "cores_4n": n4,
            "replicate": replicate,
            "docs": r["lo"]["docs"],
            "pairs": r["lo"]["pairs"],
            "rounds": rounds,
            "docs_per_sec_n": r["lo"]["docs_per_sec"],
            "docs_per_sec_4n": r["hi"]["docs_per_sec"],
            "all_docs_per_sec_n": r["all_lo"],
            "all_docs_per_sec_4n": r["all_hi"],
            "scaling_efficiency": r["scaling_efficiency"],
        }
        print(json.dumps(result))
        return

    if workload == "mor_cluster":
        # N vs 4N EXECUTOR JVMS (1×4 vs 4×4 cores), not threads: argv =
        # [execs_lo] [execs_hi] [events] [batches]
        e_lo = int(sys.argv[1]) if len(sys.argv) > 1 else 1
        e_hi = int(sys.argv[2]) if len(sys.argv) > 2 else 4
        events = int(sys.argv[3]) if len(sys.argv) > 3 else 2_000_000
        batches = int(sys.argv[4]) if len(sys.argv) > 4 else 3
        cores = int(os.environ.get("CLUSTER_CORES_PER_EXEC", "4"))
        workdir = f"/tmp/nebula_scaling_mor_{events}_{batches}"
        os.makedirs(workdir, exist_ok=True)
        run_cluster_level(e_lo, cores, events, batches, workdir)  # warmup+gen
        r = _interleaved(
            rounds,
            lambda: run_cluster_level(e_lo, cores, events, batches, workdir),
            lambda: run_cluster_level(e_hi, cores, events, batches, workdir),
            "sustained_events_per_sec",
            e_hi / e_lo,
        )
        result = {
            "workload": "cdc_replay_mor_local_cluster",
            "executors_n": e_lo,
            "executors_4n": e_hi,
            "cores_per_executor": cores,
            "events": events,
            "batches": batches,
            "rounds": rounds,
            "sustained_events_per_sec_n": r["lo"]["sustained_events_per_sec"],
            "sustained_events_per_sec_4n": r["hi"]["sustained_events_per_sec"],
            "all_sustained_n": r["all_lo"],
            "all_sustained_4n": r["all_hi"],
            "batch_seconds_n": r["lo"]["batch_seconds"],
            "batch_seconds_4n": r["hi"]["batch_seconds"],
            "scaling_efficiency": r["scaling_efficiency"],
        }
        print(json.dumps(result))
        return

    events = int(sys.argv[3]) if len(sys.argv) > 3 else 1_000_000
    batches = int(sys.argv[4]) if len(sys.argv) > 4 else 2
    workdir = f"/tmp/nebula_scaling_{events}_{batches}"
    os.makedirs(workdir, exist_ok=True)

    # warm the binlog cache once (generation excluded from both runs)
    run_level(n, events, batches, workdir)

    r = _interleaved(
        rounds,
        lambda: run_level(n, events, batches, workdir),
        lambda: run_level(n4, events, batches, workdir),
        "sustained_events_per_sec",
        n4 / n,
    )
    result = {
        "workload": "cdc_replay",
        "cores_n": n,
        "cores_4n": n4,
        "events": events,
        "batches": batches,
        "rounds": rounds,
        "sustained_events_per_sec_n": r["lo"]["sustained_events_per_sec"],
        "sustained_events_per_sec_4n": r["hi"]["sustained_events_per_sec"],
        "all_sustained_n": r["all_lo"],
        "all_sustained_4n": r["all_hi"],
        "batch_seconds_n": r["lo"]["batch_seconds"],
        "batch_seconds_4n": r["hi"]["batch_seconds"],
        "scaling_efficiency": r["scaling_efficiency"],
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
