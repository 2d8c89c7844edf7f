"""Benchmark harness — prints ONE JSON line.

Headline metric: CDC replay throughput (change-events/sec applied,
replay-to-final-state) on a deterministic synthetic binlog sized to the
scale factor, via the full engine path (dedup → sequence-aware merge →
snapshot commit). Plus per-query wall times for the other headline
operators at $SPARK_GRAFT_SF_DIR.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32),
     BENCH_EVENTS / BENCH_DOCS / BENCH_BATCHES override the replay size,
     BENCH_REPS interleaved repetitions per query (default 3; per-query
     value reported is BEST-OF, with every round's time in
     query_rounds — single runs are meaningless under this host's
     documented ~10× CPU-steal variance),
     NEBULA_MERGE_MODE / NEBULA_DEDUP_HOW / NEBULA_RESOLVE_STRATEGY pick
     the replay table's merge mode and apply_changes' dedup_how /
     resolve_strategy (default cow / auto / auto).

Scaling-efficiency evidence (N vs 4N cores) is produced by
scripts/scaling_bench.py → BENCH/BASELINE.md; this file reports the
single-parallelism numbers the driver records per round.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _sf_of(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.1


def run_cdc_replay(spark, sf: float, cpus: int, workdir: str, warm: bool = True) -> dict:
    from nebula_spark.cdc.apply import apply_changes
    from nebula_spark.cdc.binlog import SEQUENCE_SCHEMA, gen_binlog, write_binlog_chunks
    from nebula_spark.lake.table import LakeTable

    n_events = int(os.environ.get("BENCH_EVENTS", int(5_000_000 * sf)))
    # doc space ~ half the events: realistic update collapse without the
    # degenerate case where dedup shrinks every batch to a tiny key set
    n_docs = max(int(os.environ.get("BENCH_DOCS", n_events // 2)), 100)
    n_batches = int(os.environ.get("BENCH_BATCHES", 3))
    max_tok = int(os.environ.get("BENCH_MAX_TOK", 256))
    policy = {
        "dedup_how": os.environ.get("NEBULA_DEDUP_HOW", "auto"),
        "resolve_strategy": os.environ.get("NEBULA_RESOLVE_STRATEGY", "auto"),
    }

    # BENCH_BUCKET_ALIGNED: producer-side bucket alignment (16 residues,
    # fixed across parallelism levels) — pairs with the map-only merge
    # (NEBULA_DEDUP_HOW=none) so the MoR write path has zero exchanges
    aligned = bool(os.environ.get("BENCH_BUCKET_ALIGNED"))
    binlog_dir = os.path.join(
        workdir,
        f"binlog_{n_events}_{n_batches}_{max_tok}" + ("_ba" if aligned else ""),
    )
    if not os.path.exists(os.path.join(binlog_dir, "_SUCCESS")):
        shutil.rmtree(binlog_dir, ignore_errors=True)
        # n_partitions fixed (not cpus) so every parallelism level
        # replays the byte-identical binlog — required for the N vs 4N
        # scaling comparison
        log = gen_binlog(
            spark,
            n_events,
            n_docs,
            seed=42,
            hot_frac=0.2,
            n_hot=4,
            n_partitions=8,
            max_tok=max_tok,
        )
        write_binlog_chunks(
            log,
            binlog_dir,
            n_chunks=n_batches,
            **(
                {"files_per_chunk": 16, "bucket_key": ("doc_id", 16)}
                if aligned
                else {}
            ),
        )
    chunks = sorted(
        os.path.join(binlog_dir, d)
        for d in os.listdir(binlog_dir)
        if d.startswith("_chunk=")
    )

    table_dir = os.path.join(workdir, "table")
    shutil.rmtree(table_dir, ignore_errors=True)
    table = LakeTable.create(
        table_dir,
        SEQUENCE_SCHEMA,
        "doc_id",
        n_buckets=max(cpus, 16),
        # NEBULA_MERGE_MODE=mor appends deltas instead of rewriting
        # buckets (read-time LWW resolution) — the flat-write-cost mode
        properties={"merge_mode": os.environ.get("NEBULA_MERGE_MODE", "cow")},
    )

    # codegen/JIT warmup outside the timed window: the first merge plan
    # ever run in a JVM pays ~10 s of whole-stage-codegen compilation
    # that exists once per executor lifetime, not once per batch — at
    # the 10^10-event operating point it is noise, so the measured
    # replay starts warm (sustained_events_per_sec already excluded
    # batch 1 for the same reason; this fixes the total too)
    if warm:  # later interleaved repetitions are already hot
        warm_dir = os.path.join(workdir, "warmup_table")
        shutil.rmtree(warm_dir, ignore_errors=True)
        wt = LakeTable.create(
            warm_dir,
            SEQUENCE_SCHEMA,
            "doc_id",
            n_buckets=4,
            # same merge mode as the measured table: NEBULA_DEDUP_HOW=none
            # (map-only) is valid only on merge-on-read tables
            properties={"merge_mode": os.environ.get("NEBULA_MERGE_MODE", "cow")},
        )
        apply_changes(spark, wt, gen_binlog(spark, 2000, 500, seed=7), epoch=0, **policy)
        shutil.rmtree(warm_dir, ignore_errors=True)

    per_chunk_events = n_events / n_batches
    t0 = time.time()
    batch_secs: list[float] = []
    for i, chunk in enumerate(chunks):
        tb = time.time()
        apply_changes(spark, table, spark.read.parquet(chunk), epoch=i, **policy)
        batch_secs.append(time.time() - tb)
    dt = time.time() - t0
    # sustained = steady-state rate (first batch carries JVM/codegen
    # warmup; the 10^10-scale figure is the sustained one)
    tail = batch_secs[1:] or batch_secs
    sustained = per_chunk_events * len(tail) / sum(tail)
    return {
        "events": n_events,
        "batches": n_batches,
        "seconds": round(dt, 2),
        "batch_seconds": [round(s, 2) for s in batch_secs],
        "events_per_sec": round(n_events / dt, 1),
        "sustained_events_per_sec": round(sustained, 1),
    }


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_minhash_scale(spark, sf_dir: str) -> dict:
    """Corpus-dedup scaling workload: MinHash-LSH candidate generation
    over the documents table, optionally replicated ×K (deterministic
    near-dup-preserving variants) so the N-vs-4N comparison runs at a
    size where the parallel stages dominate. This is the 100 TB
    LLM-pipeline path (signature fold → band groupBy → in-group pair
    enumeration — one shuffle)."""
    from pyspark.sql import functions as F

    from nebula_spark.functions.dedupe import minhash_lsh_candidates

    rep = int(os.environ.get("BENCH_MINHASH_REPLICATE", "1"))
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", "text"
    )
    if rep > 1:
        # spread the base corpus BEFORE the explode: the sf documents
        # table is one small parquet file = one input split, and a
        # single-task ×K replication is a serial stage that caps
        # scaling efficiency (Amdahl) — a real corpus arrives in many
        # files, so parallel generation is the faithful shape
        docs = docs.repartition(spark.sparkContext.defaultParallelism)
        docs = docs.select(
            F.explode(F.sequence(F.lit(0), F.lit(rep - 1))).alias("_r"),
            "doc_id",
            "text",
        ).select(
            F.concat_ws("#", "doc_id", F.col("_r").cast("string")).alias("doc_id"),
            # salt EVERY word with the replica index: replica r and r'
            # of the same doc share no shingles (no cross-replica LSH
            # collisions → candidate pairs grow linearly in K, not
            # quadratically), while the corpus's own near-dup structure
            # is preserved inside each replica
            F.array_join(
                F.transform(
                    F.split(F.col("text"), r"\s+"),
                    lambda w: F.concat(w, F.lit("_"), F.col("_r").cast("string")),
                ),
                " ",
            ).alias("text"),
        )
    n_docs = docs.count()
    t0 = time.time()
    n_pairs = minhash_lsh_candidates(docs).count()
    dt = time.time() - t0
    return {
        "docs": n_docs,
        "pairs": n_pairs,
        "seconds": round(dt, 2),
        "docs_per_sec": round(n_docs / dt, 1),
    }


def run_queries(spark, sf_dir: str, reps: int) -> tuple[dict, dict]:
    """Per-query wall times, noise-robust: the host shows documented
    ~10× CPU-steal swings (BENCH/BASELINE.md "Host noise"), so a single
    measurement per query is meaningless. Run ``reps`` INTERLEAVED
    rounds (q1..qn, q1..qn, ...) — a steal burst then inflates one
    whole round, not one query's every sample — and report per-query
    best-of plus the full spread. Best-of round 1 also absorbs the
    one-time whole-stage-codegen compile each plan pays per JVM."""
    import __spark_entry__ as entry

    names = [
        "cdc_lww_dedup_agg",
        "cdc_replay_final_state",
        "cdc_event_filter",
        "transform_chain",
        "dedup_exact",
        "text_stats",
        "agg_events_by_type",
        "ann_cosine_topk",
        "ann_ivf_topk",
        "dedup_minhash_lsh",
        "dedup_near_corpus",
        "dedup_simhash",
        "pack_sequences",
        "multimodal_features",
    ]
    qs = entry.queries()
    rounds: dict[str, list[float]] = {n: [] for n in names}
    for _ in range(max(1, reps)):
        for name in names:
            t0 = time.time()
            _noop(qs[name](spark, sf_dir))
            rounds[name].append(round(time.time() - t0, 3))
    return {n: min(ts) for n, ts in rounds.items()}, rounds


def main() -> None:
    from nebula_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = _sf_of(sf_dir)
    workdir = os.environ.get("BENCH_WORKDIR", f"/tmp/nebula_bench_sf{sf}")
    os.makedirs(workdir, exist_ok=True)

    spark = get_spark("nebula-bench", parallelism=cpus)

    if os.environ.get("BENCH_ONLY_MINHASH"):
        # scaling-evidence mode for the corpus-dedup workload
        mh = run_minhash_scale(spark, sf_dir)
        print(
            json.dumps(
                {
                    "metric": "minhash_docs_per_sec",
                    "value": mh["docs_per_sec"],
                    "unit": "docs/sec",
                    "sf": sf,
                    "cpus": cpus,
                    "minhash": mh,
                }
            )
        )
        return

    reps = int(os.environ.get("BENCH_REPS", "3"))
    if os.environ.get("BENCH_ONLY_CDC"):
        queries, query_rounds = {}, {}
    else:
        queries, query_rounds = run_queries(spark, sf_dir, reps)

    # CDC replays, interleaved CoW/MoR × reps, best-of per mode — the
    # same steal-noise defense as run_queries. MoR is the operating
    # mode for 10^10-event scale (append-only merges, read-time LWW
    # fold, BENCH/BASELINE.md "merge-on-read vs copy-on-write").
    run_mor = not (
        os.environ.get("BENCH_ONLY_CDC") or os.environ.get("NEBULA_MERGE_MODE")
    )
    cow_runs: list[dict] = []
    mor_runs: list[dict] = []
    for r in range(max(1, reps)):
        cow_runs.append(run_cdc_replay(spark, sf, cpus, workdir, warm=r == 0))
        if run_mor:
            os.environ["NEBULA_MERGE_MODE"] = "mor"
            try:
                mor_runs.append(
                    run_cdc_replay(spark, sf, cpus, workdir, warm=r == 0)
                )
            finally:
                del os.environ["NEBULA_MERGE_MODE"]
    cdc = min(cow_runs, key=lambda d: d["seconds"])
    cdc["all_seconds"] = [d["seconds"] for d in cow_runs]
    queries["cdc_replay_pipeline"] = cdc["seconds"]
    query_rounds["cdc_replay_pipeline"] = cdc["all_seconds"]
    cdc_mor = None
    if run_mor:
        cdc_mor = min(mor_runs, key=lambda d: d["seconds"])
        cdc_mor["all_seconds"] = [d["seconds"] for d in mor_runs]
        queries["cdc_replay_mor_pipeline"] = cdc_mor["seconds"]
        query_rounds["cdc_replay_mor_pipeline"] = cdc_mor["all_seconds"]
    total = round(sum(queries.values()), 2)

    out = {
        "metric": "headline_total",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "sf": sf,
        "cpus": cpus,
        "reps": reps,
        "query_rounds": query_rounds,
        "cdc_replay": cdc,
    }
    if cdc_mor is not None:
        out["cdc_replay_mor"] = cdc_mor
    print(json.dumps(out))


if __name__ == "__main__":
    main()
