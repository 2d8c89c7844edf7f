"""nebula_spark CLI — the spark-submit entrypoint.

Mirrors the reference's `nebula run --source … --destination …` CLI
(/root/reference/cmd/nebula/main.go:102-145) as subcommands:

  gen     — synthesize a deterministic binlog (and optional base table)
  ingest  — replay binlog chunks into a LakeTable (one epoch per chunk),
            exactly-once; safe to re-run / resume
  stream  — same via Structured Streaming with checkpoint resume
  show    — table state: row count, snapshot version, lineage offsets

Usage (cluster shape):
  spark-submit --py-files nebula_spark.zip bin/ingest.py ingest \
      --table /data/t --binlog /data/binlog
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nebula_spark.session import get_spark


def cmd_gen(args) -> dict:
    from nebula_spark.cdc.binlog import (
        gen_base_table,
        gen_binlog,
        write_binlog_chunks,
    )

    spark = get_spark("nebula-gen", parallelism=args.cpus)
    log = gen_binlog(
        spark,
        args.events,
        args.docs,
        seed=args.seed,
        hot_frac=args.hot_frac,
        n_hot=args.n_hot,
        n_partitions=args.partitions,
    )
    if args.multi_tables:
        # route each event to one of N source tables deterministically
        # (the TableMap key of a multi-table tailer)
        from pyspark.sql import functions as F

        names = args.multi_tables.split(",")
        pick = F.pmod(F.xxhash64(F.col("op_sequence"), F.lit(99)), F.lit(len(names)))
        log = log.withColumn(
            "source_table",
            F.element_at(F.array(*[F.lit(n) for n in names]), (pick + 1).cast("int")),
        )
    chunks = write_binlog_chunks(log, args.out, n_chunks=args.chunks)
    out = {"binlog": args.out, "chunks": len(chunks), "events": args.events}
    if args.base:
        gen_base_table(spark, args.docs, seed=args.seed).write.mode(
            "overwrite"
        ).parquet(args.base)
        out["base"] = args.base
    return out


def _ensure_table(args):
    from nebula_spark.cdc.binlog import SEQUENCE_SCHEMA
    from nebula_spark.lake import LakeTable

    if LakeTable.exists(args.table):
        return LakeTable.load(args.table)
    return LakeTable.create(
        args.table,
        SEQUENCE_SCHEMA,
        "doc_id",
        n_buckets=args.buckets,
        properties={"merge_mode": getattr(args, "merge_mode", "cow")},
    )


def _ensure_dlq(path, base_schema=None):
    """Create-or-load the dead-letter table for a stream/ingest run:
    stream schema + the reason-stamped event_key merge key."""
    from pyspark.sql import types as T

    from nebula_spark.cdc.binlog import BINLOG_SCHEMA
    from nebula_spark.lake import LakeTable

    if path is None:
        return None
    if LakeTable.exists(path):
        return LakeTable.load(path)
    schema = T.StructType(
        list((base_schema or BINLOG_SCHEMA).fields)
        + [T.StructField("event_key", T.StringType(), False)]
    )
    return LakeTable.create(path, schema, "event_key", n_buckets=4)


def cmd_ingest(args) -> dict:
    from nebula_spark.cdc.apply import apply_changes
    from nebula_spark.cdc.snapshot import maybe_bootstrap

    spark = get_spark("nebula-ingest", parallelism=args.cpus)
    table = _ensure_table(args)
    dlq = _ensure_dlq(args.dlq)
    snapshot_info = maybe_bootstrap(spark, table, args.bootstrap, args.snapshot_mode)
    # epoch = the chunk number itself (numeric, not listing position):
    # a directory that appears between runs can never inherit an
    # already-applied epoch and be silently skipped on resume
    chunks = sorted(
        (int(d.split("=", 1)[1]), os.path.join(args.binlog, d))
        for d in os.listdir(args.binlog)
        if d.startswith("_chunk=")
    )
    t0 = time.time()
    applied = skipped = events = 0
    renames = json.loads(args.renames) if args.renames else None
    for epoch, chunk in chunks:
        res = apply_changes(
            spark,
            table,
            spark.read.parquet(chunk),
            epoch=epoch,
            conflict=args.conflict,
            dedup_how=args.dedup_how,
            renames=renames,
            dlq_table=dlq,
        )
        if res.merge.skipped:
            skipped += 1
        else:
            applied += 1
            events += res.merge.events_in
    dt = time.time() - t0
    return {
        "chunks_applied": applied,
        "chunks_skipped": skipped,
        "keys_merged": events,
        "seconds": round(dt, 2),
        "snapshot_version": table.snapshot().version,
        "bootstrap": snapshot_info,
    }


def cmd_stream(args) -> dict:
    from nebula_spark.cdc.snapshot import maybe_bootstrap
    from nebula_spark.streaming.ingest import run_stream

    spark = get_spark("nebula-stream", parallelism=args.cpus)
    table = _ensure_table(args)
    dlq = _ensure_dlq(args.dlq)
    snapshot_info = maybe_bootstrap(spark, table, args.bootstrap, args.snapshot_mode)
    out = run_stream(
        spark,
        table,
        args.binlog,
        checkpoint_dir=args.checkpoint,
        max_files_per_trigger=args.max_files_per_trigger,
        conflict=args.conflict,
        dedup_how=args.dedup_how,
        renames=json.loads(args.renames) if args.renames else None,
        auto_compact_files=args.auto_compact_files,
        adaptive_target_batch_s=args.adaptive_target_batch_s,
        dlq_table=dlq,
    )
    out["bootstrap"] = snapshot_info
    return out


def cmd_multistream(args) -> dict:
    """One stream fanned out to N tables by source_table (the
    reference's multi-table tailer): --tables users=/d/u,orders=/d/o.
    Per-table exactly-once; unrouted events go to --dlq when given."""
    from nebula_spark.cdc.binlog import MULTI_BINLOG_SCHEMA, SEQUENCE_SCHEMA
    from nebula_spark.lake import LakeTable
    from nebula_spark.streaming.ingest import TableRoute, run_multi_stream

    spark = get_spark("nebula-multistream", parallelism=args.cpus)
    routes = {}
    for spec in args.tables.split(","):
        name, path = spec.split("=", 1)
        t = (
            LakeTable.load(path)
            if LakeTable.exists(path)
            else LakeTable.create(
                path,
                SEQUENCE_SCHEMA,
                "doc_id",
                n_buckets=args.buckets,
                properties={"merge_mode": args.merge_mode},
            )
        )
        routes[name] = TableRoute(table=t)
    dlq = _ensure_dlq(args.dlq, base_schema=MULTI_BINLOG_SCHEMA)
    return run_multi_stream(
        spark,
        routes,
        args.binlog,
        checkpoint_dir=args.checkpoint,
        dlq_table=dlq,
        max_files_per_trigger=args.max_files_per_trigger,
    )


def cmd_compact(args) -> dict:
    """Consolidate bucket files + purge tombstones below the lineage
    low-water mark (or all, with --purge-all once the log is drained)."""
    from nebula_spark.lake import LakeTable
    from nebula_spark.lake.maintenance import compact, expire_snapshots

    spark = get_spark("nebula-compact", parallelism=args.cpus)
    table = LakeTable.load(args.table)
    watermark = None if args.purge_all else table.snapshot().low_water_mark()
    out = compact(
        spark,
        table,
        purge_tombstone_watermark=watermark,
        purge_all_tombstones=args.purge_all,
        cluster_by_key=args.cluster_by_key,
        max_file_rows=args.max_file_rows,
    )
    if args.expire_snapshots:
        out["snapshots_expired_files"] = expire_snapshots(
            table, keep_last=args.keep_snapshots
        )
    if args.vacuum:
        from nebula_spark.lake.maintenance import vacuum_orphans

        out["orphan_files_removed"] = vacuum_orphans(
            table, grace_s=args.vacuum_grace_s
        )
    return out


def cmd_lookup(args) -> dict:
    """Point lookup: current rows for the given keys (bucket- and
    file-pruned; the CDC serving query)."""
    from nebula_spark.lake import LakeTable

    from pyspark.sql import types as T

    spark = get_spark("nebula-lookup", parallelism=args.cpus)
    table = LakeTable.load(args.table)
    snap = table.snapshot()
    keys = [k for k in args.keys.split(",") if k]
    # cast the comma-split CLI strings to the table's key type — lookup
    # types its probe from the key field, and raw strings fail on any
    # non-string-keyed table ("LongType can not accept object ... str")
    key_type = next(
        f.dataType for f in snap.schema.fields if f.name == snap.key_col
    )
    if isinstance(key_type, T.IntegralType):
        keys = [int(k) for k in keys]
    elif isinstance(key_type, T.FractionalType):
        keys = [float(k) for k in keys]
    rows = table.lookup(spark, keys, version=snap).collect()
    return {"rows": [r.asDict() for r in rows], "requested": len(keys)}


def cmd_diff(args) -> dict:
    """Change data feed between two snapshots: each changed key once,
    stamped insert/update/delete — what a downstream consumer replays
    to stay in sync without re-reading the table."""
    from pyspark.sql import functions as F

    from nebula_spark.io.sources import change_feed

    spark = get_spark("nebula-diff", parallelism=args.cpus)
    feed = change_feed(
        spark, args.table, args.from_version, to_version=args.to_version
    )
    if args.out:
        feed.write.mode("overwrite").parquet(args.out)
        counts = {
            r["_change_type"]: r["n"]
            for r in feed.groupBy("_change_type").agg(
                F.count("*").alias("n")
            ).collect()
        }
        return {"out": args.out, "changes": counts}
    rows = feed.limit(args.limit).collect()
    return {"rows": [r.asDict() for r in rows]}


def cmd_rescale(args) -> dict:
    """Atomic bucket-count change on a live table (partition-spec
    evolution): a table created small re-buckets to the count its size
    now demands; losers of any concurrent-writer race conflict cleanly
    and retry."""
    from nebula_spark.lake import LakeTable
    from nebula_spark.lake.maintenance import rescale

    spark = get_spark("nebula-rescale", parallelism=args.cpus)
    return rescale(spark, LakeTable.load(args.table), args.buckets)


def cmd_alter(args) -> dict:
    """Schema DDL: --add-column name:type[:default] appends a nullable
    column whose default fills rows written BEFORE it existed
    (initial-default, read-time); --migrate-column name:type runs the
    explicit non-widening type rewrite (try_cast; unconvertible ->
    null)."""
    from nebula_spark.lake import LakeTable

    table = LakeTable.load(args.table)
    if args.add_column:
        parts = args.add_column.split(":", 2)
        name, dtype = parts[0], parts[1]
        default = parts[2] if len(parts) > 2 else None
        snap = table.add_column(name, dtype, default=default)
        return {
            "added": name,
            "type": dtype,
            "default": default,
            "version": snap.version,
        }
    if args.migrate_column:
        from nebula_spark.lake.maintenance import migrate_column

        name, dtype = args.migrate_column.split(":", 1)
        spark = get_spark("nebula-alter", parallelism=args.cpus)
        return migrate_column(spark, table, name, dtype, strict=args.strict)
    raise SystemExit("alter needs --add-column or --migrate-column")


def cmd_reprocess(args) -> dict:
    """Replay dead-lettered events back into the target table (the
    operational return path of the retry->DLQ loop): select live DLQ
    rows by reason substring, re-apply exactly-once, tombstone them in
    the DLQ. Re-running is a no-op until new events are quarantined."""
    from nebula_spark.cdc.dlq import reprocess_dlq
    from nebula_spark.lake import LakeTable

    spark = get_spark("nebula-reprocess", parallelism=args.cpus)
    return reprocess_dlq(
        spark,
        LakeTable.load(args.dlq),
        LakeTable.load(args.table),
        reasons=tuple(args.reasons.split(",")),
        conflict=args.conflict,
    )


def cmd_publish(args) -> dict:
    """CDC → transactional topic (the reference's Kafka delivery path,
    pkg/cdc/kafka.go:257-312): each binlog chunk is one exactly-once
    transaction keyed by its chunk epoch — re-running publishes nothing
    twice. Messages are (key=doc_id, value=JSON event)."""
    from pyspark.sql import functions as F

    from nebula_spark.io.kafka_sink import TopicDir, produce_exactly_once

    spark = get_spark("nebula-publish", parallelism=args.cpus)
    topic = TopicDir(args.topic, n_partitions=args.topic_partitions)
    chunks = sorted(
        (int(d.split("=", 1)[1]), os.path.join(args.binlog, d))
        for d in os.listdir(args.binlog)
        if d.startswith("_chunk=")
    )
    published = skipped = 0
    for epoch, chunk in chunks:
        df = spark.read.parquet(chunk)
        msg = df.select(
            F.col("doc_id").alias("key"),
            F.to_json(F.struct(*[F.col(c) for c in df.columns])).alias("value"),
        )
        if produce_exactly_once(topic, msg, epoch=epoch):
            published += 1
        else:
            skipped += 1
    return {
        "published": published,
        "skipped": skipped,
        "messages_visible": topic.read(spark).count(),
        "epochs": sorted(topic.committed_epochs(), key=int),
    }


def cmd_run(args) -> dict:
    """EL pipeline from JSON configs (reference: `nebula run`)."""
    from nebula_spark.pipeline import Pipeline

    spark = get_spark("nebula-run", parallelism=args.cpus)
    return Pipeline.from_files(args.source, args.destination).run(spark)


def cmd_show(args) -> dict:
    from nebula_spark.lake import LakeTable

    spark = get_spark("nebula-show", parallelism=args.cpus)
    table = LakeTable.load(args.table)
    snap = table.snapshot()
    df = table.read(spark, version=snap)
    return {
        "rows": df.count(),
        "snapshot_version": snap.version,
        "schema_version": snap.schema_version,
        "schema": [f"{f.name}:{f.dataType.simpleString()}" for f in snap.schema.fields],
        "n_buckets": snap.raw["n_buckets"],
        # numeric epochs first in order, then string-keyed ones (DLQ
        # appends `c<e>`/`f<e>`, reprocess `rp<v>` — not ints)
        "epochs_applied": sorted(
            snap.applied.keys(),
            key=lambda e: (0, int(e), "") if e.lstrip("-").isdigit() else (1, 0, e),
        ),
        # numeric epochs at/below this were folded out of the list
        # above (manifest stays bounded; epoch_applied still covers
        # them); None = nothing folded yet
        "applied_watermark": snap.raw.get("applied_watermark"),
        "merge_mode": snap.merge_mode,
        "lineage_offsets": snap.partition_offsets(),
    }


def main(argv=None):
    p = argparse.ArgumentParser(prog="nebula-spark")
    p.add_argument("--cpus", type=int, default=None)
    sub = p.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("gen")
    g.add_argument("--out", required=True)
    g.add_argument("--events", type=int, default=100_000)
    g.add_argument("--docs", type=int, default=10_000)
    g.add_argument("--seed", type=int, default=42)
    g.add_argument("--chunks", type=int, default=8)
    g.add_argument("--hot-frac", type=float, default=0.0)
    g.add_argument("--n-hot", type=int, default=1)
    g.add_argument("--partitions", type=int, default=8)
    g.add_argument("--base", default=None)
    # comma-separated table names: emit a source_table routing column
    g.add_argument("--multi-tables", default=None)
    g.set_defaults(fn=cmd_gen)

    for name, fn in (("ingest", cmd_ingest), ("stream", cmd_stream)):
        s = sub.add_parser(name)
        s.add_argument("--table", required=True)
        s.add_argument("--binlog", required=True)
        s.add_argument("--buckets", type=int, default=16)
        s.add_argument("--bootstrap", default=None)
        s.add_argument(
            "--snapshot-mode",
            choices=["initial", "never", "when_needed"],
            default="initial",
        )
        s.add_argument(
            "--conflict",
            choices=["last_write_wins", "first_write_wins", "merge", "reject"],
            default="last_write_wins",
        )
        # declared source renames, e.g. '{"source": "origin"}'
        s.add_argument("--renames", default=None)
        # optional dead-letter table (created on first use): malformed /
        # rejected / poison-batch events are quarantined there instead of
        # failing the run; replay later with the reprocess subcommand
        s.add_argument("--dlq", default=None)
        # cow: merges rewrite touched buckets (plain-scan reads);
        # mor: merges append deltas (flat write cost, read-time LWW
        # resolution, compact to fold) — Iceberg's write modes
        s.add_argument("--merge-mode", default="cow", choices=["cow", "mor"])
        s.add_argument(
            "--dedup-how",
            default="auto",
            choices=["auto", "agg", "window", "salted", "none"],
            help="in-batch LWW dedup strategy; 'none' = map-only "
            "merge-on-read append (zero exchanges — the read fold "
            "resolves every version; MoR tables only)",
        )
        if name == "stream":
            s.add_argument("--checkpoint", required=True)
            s.add_argument("--max-files-per-trigger", type=int, default=1)
            # in-stream small-file maintenance: compact any bucket
            # whose file count exceeds this after a batch commits
            s.add_argument("--auto-compact-files", type=int, default=None)
            s.add_argument(
                "--adaptive-target-batch-s",
                type=float,
                default=None,
                help="adaptive trigger sizing: halve/double "
                "maxFilesPerTrigger to track this batch duration "
                "(restarts from checkpoint; exactly-once preserved)",
            )
        s.set_defaults(fn=fn)

    sh = sub.add_parser("show")
    sh.add_argument("--table", required=True)
    sh.set_defaults(fn=cmd_show)

    pub = sub.add_parser("publish")
    pub.add_argument("--binlog", required=True)
    pub.add_argument("--topic", required=True)
    pub.add_argument("--topic-partitions", type=int, default=8)
    pub.set_defaults(fn=cmd_publish)

    r = sub.add_parser("run")
    r.add_argument("--source", required=True)
    r.add_argument("--destination", required=True)
    r.set_defaults(fn=cmd_run)

    ms = sub.add_parser("multistream")
    ms.add_argument("--tables", required=True)
    ms.add_argument("--binlog", required=True)
    ms.add_argument("--checkpoint", required=True)
    ms.add_argument("--buckets", type=int, default=16)
    ms.add_argument("--merge-mode", default="cow", choices=["cow", "mor"])
    ms.add_argument("--dlq", default=None)
    ms.add_argument("--max-files-per-trigger", type=int, default=1)
    ms.set_defaults(fn=cmd_multistream)

    rp = sub.add_parser("reprocess")
    rp.add_argument("--table", required=True)
    rp.add_argument("--dlq", required=True)
    rp.add_argument("--reasons", default="failed-")
    rp.add_argument(
        "--conflict",
        choices=["last_write_wins", "first_write_wins", "merge", "reject"],
        default="last_write_wins",
    )
    rp.set_defaults(fn=cmd_reprocess)

    rs = sub.add_parser("rescale")
    rs.add_argument("--table", required=True)
    rs.add_argument("--buckets", type=int, required=True)
    rs.set_defaults(fn=cmd_rescale)

    al = sub.add_parser("alter")
    al.add_argument("--table", required=True)
    al.add_argument("--add-column", default=None, metavar="NAME:TYPE[:DEFAULT]")
    al.add_argument("--migrate-column", default=None, metavar="NAME:TYPE")
    al.add_argument("--strict", action="store_true")
    al.set_defaults(fn=cmd_alter)

    c = sub.add_parser("compact")
    c.add_argument("--table", required=True)
    c.add_argument("--purge-all", action="store_true")
    c.add_argument("--expire-snapshots", action="store_true")
    c.add_argument("--keep-snapshots", type=int, default=10)
    # remove data files referenced by no retained snapshot (failed
    # commits / expired history); grace protects in-flight commits
    c.add_argument("--vacuum", action="store_true")
    c.add_argument("--vacuum-grace-s", type=float, default=86400.0)
    # key-clustered rewrite: sort each bucket by key and roll a file
    # every N rows → disjoint per-file key ranges (merge pruning keeps
    # working after compaction; MoR reads stay plain scans)
    c.add_argument("--cluster-by-key", action="store_true")
    c.add_argument("--max-file-rows", type=int, default=None)
    c.set_defaults(fn=cmd_compact)

    lk = sub.add_parser("lookup")
    lk.add_argument("--table", required=True)
    lk.add_argument("--keys", required=True, help="comma-separated keys")
    lk.set_defaults(fn=cmd_lookup)

    df = sub.add_parser("diff")
    df.add_argument("--table", required=True)
    df.add_argument("--from-version", type=int, required=True)
    df.add_argument("--to-version", type=int, default=None)
    df.add_argument("--out", default=None, help="write feed as parquet")
    df.add_argument("--limit", type=int, default=20)
    df.set_defaults(fn=cmd_diff)

    args = p.parse_args(argv)
    print(json.dumps(args.fn(args)))


if __name__ == "__main__":
    main()
