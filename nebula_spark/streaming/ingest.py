"""Structured Streaming ingest — tail the binlog directory and apply
each micro-batch exactly-once.

The reference tails a live binlog with a syncer goroutine feeding a
channel (/root/reference/pkg/cdc/mysql.go:412-477); here the tail is a
file-source stream over the ordered binlog chunk directory (file roll ≙
binlog rotate), and the channel/batcher
(internal/pipeline/simple_pipeline.go:353-409) becomes the micro-batch
trigger. `foreachBatch` is the WriteBatch loop; Spark's checkpoint
tracks which files were consumed (the reference's `Acknowledge`
position), and the LakeTable manifest makes the *sink side* idempotent
— after a crash, foreachBatch re-delivers the last batchId, the
manifest says it's applied, and the merge is skipped. Both layers
together give exactly-once end-to-end.

Resume: restart with the same checkpoint dir — the stream continues
from the first unconsumed file; already-applied epochs are no-ops.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from nebula_spark.cdc.apply import apply_changes
from nebula_spark.cdc.binlog import BINLOG_SCHEMA, MULTI_BINLOG_SCHEMA
from nebula_spark.cdc.filters import EventFilter
from nebula_spark.cdc.transforms import Transform
from nebula_spark.lake.table import LakeTable


class _TriggerResize(Exception):
    """Internal control-flow signal: the last micro-batch's duration
    asked for a different maxFilesPerTrigger. Raised AFTER the batch
    committed, so the restart redelivers it as a manifest-skip no-op."""


class _Trigger:
    """maxFilesPerTrigger of one stream, with the adaptive sizing that
    ``run_stream`` and ``run_multi_stream`` share. A batch taking >1.5×
    ``target_s`` halves the trigger; one finishing <0.5× doubles it
    (capped at ``max_files``). maxFilesPerTrigger is fixed at stream
    start, so a resize stops the availableNow stream and restarts it
    from the same checkpoint with the new size."""

    def __init__(
        self, files: int, target_s: float | None, max_files: int, available_now: bool
    ):
        if target_s is not None and not available_now:
            raise ValueError(
                "adaptive trigger sizing resizes via availableNow restarts; "
                "unsupported for a continuous stream"
            )
        self.cur, self.target_s, self.max_files = files, target_s, max_files
        self.resizes: list[dict] = []
        self.pending = False
        # the batch a resize restart redelivers: its work was counted
        # when it first committed
        self.resized_batch: int | None = None

    def after_batch(self, batch_id: int, dt: float) -> None:
        """Decide on a committed batch that took ``dt`` seconds. A
        resize raises, Spark fails the batch, and the restart redelivers
        it as a manifest skip — exactly-once is untouched. Callers skip
        redelivered (skipped) batches: their duration measures nothing."""
        if self.target_s is None:
            return
        cur = new = self.cur
        if dt > 1.5 * self.target_s and cur > 1:
            new = max(1, cur // 2)
        elif dt < 0.5 * self.target_s and cur < self.max_files:
            new = min(self.max_files, cur * 2)
        if new != cur:
            self.cur, self.pending, self.resized_batch = new, True, batch_id
            self.resizes.append(
                {"batch": batch_id, "from": cur, "to": new, "batch_s": round(dt, 3)}
            )
            raise _TriggerResize

    def run_available_now(self, build_writer) -> None:
        """Drain the backlog, restarting after each resize."""
        while True:
            q = build_writer(self.cur).trigger(availableNow=True).start()
            try:
                q.awaitTermination()
                return
            except Exception:
                if not self.pending:
                    raise
                self.pending = False  # restart with the new size

    def report(self) -> dict:
        if self.target_s is None:
            return {}
        return {"trigger_resizes": self.resizes, "final_trigger": self.cur}


def run_stream(
    spark: SparkSession,
    table: LakeTable,
    binlog_dir: str,
    checkpoint_dir: str,
    *,
    max_files_per_trigger: int = 1,
    event_filter: EventFilter | None = None,
    evolution_policy: str = "default",
    renames: dict[str, str] | None = None,
    conflict: str = "last_write_wins",
    dedup_how: str = "auto",
    dlq_table: LakeTable | None = None,
    available_now: bool = True,
    schema=None,
    metrics_path: str | None = None,
    retry_max: int = 3,
    retry_backoff_s: float = 1.0,
    auto_compact_files: int | None = None,
    purge_tombstones: bool = False,
    compact_cluster_by_key: bool = False,
    compact_max_file_rows: int | None = None,
    adaptive_target_batch_s: float | None = None,
    adaptive_max_trigger: int = 64,
) -> dict:
    """Run the ingest stream until the backlog is drained
    (``available_now``) or indefinitely. Returns throughput metrics
    built from the streaming progress + the table manifest.

    ``adaptive_target_batch_s`` turns on adaptive trigger sizing — the
    reference's backpressure controller (buffer-utilization thresholds,
    /root/reference/internal/pipeline/backpressure.go:16-98) mapped to
    the one knob Structured Streaming actually exposes: files per
    trigger. A batch taking >1.5× the target halves the trigger; one
    finishing <0.5× doubles it (capped at ``adaptive_max_trigger``).
    maxFilesPerTrigger is fixed at stream start, so a resize STOPS the
    drained-so-far stream and restarts it from the same checkpoint with
    the new size — the resize signal is raised AFTER the batch's commit,
    so the redelivered batch is a manifest-skip no-op and exactly-once
    holds across every restart. availableNow only.

    ``auto_compact_files``: every copy-on-write merge leaves fresh
    files in the touched buckets, so a long stream's per-bucket file
    count — and with it read amplification — grows without bound.
    When set, any bucket whose file count exceeds the threshold is
    compacted to one file right after the batch commits (the metadata
    check is free: file lists live in the snapshot). This is the
    in-stream analogue of Iceberg's rewrite_data_files maintenance.

    ``compact_cluster_by_key`` + ``compact_max_file_rows``: make those
    in-stream compactions KEY-CLUSTERED (sort-ordered rewrite, see
    lake.maintenance.compact) instead of bin-pack. On feeds with key
    locality (monotonic primary keys) this keeps per-file key bounds
    narrow ACROSS compactions, so later merges keep pruning
    key-disjoint files and MoR reads keep their multi-file plain-scan
    shortcut — without it, each compaction collapses a bucket to one
    file spanning the whole key range and the first post-compaction
    merge rewrites all of it again.

    ``purge_tombstones``: additionally drop tombstones whose ``_seq``
    sits below the lineage low-water mark during those compactions, so
    a delete-heavy unbounded stream's buckets stay bounded. OPT-IN
    because it is sound only when the source delivers each partition's
    events IN ORDER (every real CDC feed — binlog/WAL/Kafka — does;
    the LWM then truly means "everything at/below was applied"). A
    feed that re-orders chunks (e.g. test fixtures sharing one mtime)
    can deliver a LOWER-seq event after the purge, and with the
    tombstone gone that stale event would resurrect the key. Refused
    semantics under first-write-wins are unchanged (FWW tombstones
    beat any later seq and must persist — compaction keeps them).

    A failing micro-batch is retried ``retry_max`` times with
    exponential backoff (``retry_backoff_s * 2^attempt``); after the
    last attempt its events are quarantined to the DLQ table (when one
    is configured) and the stream continues — the reference's
    retry-then-dead-letter loop (pkg/cdc/stream.go:694-738) at
    micro-batch granularity. Without a DLQ the final failure propagates
    (fail-stop)."""
    from nebula_spark.metrics import IngestMetrics

    ingest_metrics = IngestMetrics()
    metrics = {"batches": 0, "skipped": 0, "events": 0, "retries": 0, "batches_dlq": 0}
    trigger = _Trigger(
        max_files_per_trigger, adaptive_target_batch_s, adaptive_max_trigger,
        available_now,
    )

    def apply_once(batch_df, batch_id: int):
        return apply_changes(
            spark,
            table,
            batch_df,
            epoch=batch_id,
            event_filter=event_filter,
            evolution_policy=evolution_policy,
            renames=renames,
            conflict=conflict,
            dedup_how=dedup_how,
            dlq_table=dlq_table,
        )

    def apply_batch(batch_df, batch_id: int):
        t_batch = time.time()
        attempt = 0
        while True:
            try:
                res = apply_once(batch_df, batch_id)
                break
            except Exception as e:
                attempt += 1
                if attempt > retry_max:
                    if dlq_table is None:
                        raise
                    # quarantine the whole batch; idempotent per epoch
                    from pyspark.sql import functions as F

                    from nebula_spark.lake.merge import append_into

                    bad = batch_df.withColumn(
                        "event_key",
                        F.concat_ws(
                            ":",
                            F.lit(str(batch_id)),
                            F.col("op_sequence"),
                            F.lit(f"failed-{type(e).__name__}"),
                        ),
                    )
                    append_into(
                        spark, dlq_table, bad, epoch=f"f{batch_id}", summary_op="dlq-failed"
                    )
                    metrics["batches_dlq"] += 1
                    return
                metrics["retries"] += 1
                time.sleep(retry_backoff_s * (2 ** (attempt - 1)))
        if res.merge.skipped and trigger.resized_batch == batch_id:
            # redelivery caused by our own resize restart: the work was
            # already counted when this batch originally committed —
            # recounting would overstate batches/skipped by one per
            # resize. (A genuine crash-redelivery skip still counts.)
            trigger.resized_batch = None
            return
        ingest_metrics.record(res)
        metrics["batches"] += 1
        if res.merge.skipped:
            metrics["skipped"] += 1
        else:
            metrics["events"] += res.merge.events_in
        if auto_compact_files and not res.merge.skipped:
            from nebula_spark.lake.maintenance import compact

            # cluster mode counts only files OUTSIDE the ideal sorted
            # layout — a clustered bucket holds many disjoint files by
            # design, and recounting them would re-fire the compaction
            # every batch (see LakeTable.unclustered_count)
            from nebula_spark.lake.table import LakeTable as _LT

            measure = (
                _LT.unclustered_count if compact_cluster_by_key else len
            )
            # only buckets the batch just touched can have grown — scan
            # those, not the whole table (O(changed segments) on
            # segmented manifests; a bucket never touched again never
            # re-fats, so nothing is missed)
            snap = table.snapshot()
            recent = table._buckets_changed_by(snap)
            fat = [
                b
                for b, fs in snap.files_for(recent).items()
                if measure(fs) > auto_compact_files
            ]
            if fat:
                purge_wm = None
                if purge_tombstones:
                    # see the docstring: requires per-partition-ordered
                    # delivery; refused under first-write-wins (a FWW
                    # tombstone beats ANY later seq and must persist)
                    fww = conflict == "first_write_wins" or (
                        snap.merge_mode == "mor"
                        and snap.mor_conflict == "first_write_wins"
                    )
                    purge_wm = None if fww else snap.low_water_mark()
                compact(
                    spark,
                    table,
                    buckets=fat,
                    purge_tombstone_watermark=purge_wm,
                    cluster_by_key=compact_cluster_by_key,
                    max_file_rows=compact_max_file_rows,
                )
                metrics["compactions"] = metrics.get("compactions", 0) + 1
        if metrics_path:
            ingest_metrics.dump(metrics_path, table)
        if not res.merge.skipped:
            trigger.after_batch(batch_id, time.time() - t_batch)

    def build_writer(files: int):
        return _binlog_writer(
            spark, schema or BINLOG_SCHEMA, files, binlog_dir, apply_batch,
            checkpoint_dir,
        )

    t0 = time.time()
    if not available_now:
        return {"query_id": str(build_writer(trigger.cur).start().id)}
    trigger.run_available_now(build_writer)
    dt = time.time() - t0
    snap = table.snapshot()
    return {
        **metrics,
        "seconds": round(dt, 2),
        "events_per_sec": round(metrics["events"] / dt, 1) if dt > 0 else None,
        "snapshot_version": snap.version,
        "lineage_offsets": snap.partition_offsets(),
        "detail": ingest_metrics.snapshot(),
        **trigger.report(),
    }


def _binlog_writer(
    spark: SparkSession, schema, files: int, binlog_dir: str, apply_batch,
    checkpoint_dir: str,
):
    """The foreachBatch writer over the binlog directory, at ``files``
    per trigger."""
    reader = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files)
        # binlog chunks are written dir-per-chunk (_chunk=K)
        .option("recursiveFileLookup", "true")
        .parquet(binlog_dir)
    )
    return reader.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", checkpoint_dir
    )


@dataclass
class TableRoute:
    """Per-table routing config for a multi-table CDC stream — the
    Spark-side analogue of the reference's per-table schema caches and
    column filters (pkg/cdc/mysql.go:493-604 TableMap routing;
    internal/pipeline/cdc.go:62-65 per-table column filters)."""

    table: LakeTable
    event_filter: EventFilter | None = None
    transforms: list[Transform] = field(default_factory=list)
    evolution_policy: str = "default"
    renames: dict[str, str] | None = None
    conflict: str = "last_write_wins"
    # payload projection: restrict this table to a column subset of the
    # (union-schema) stream — the per-table column filter. Envelope
    # columns are always kept.
    columns: list[str] | None = None


def run_multi_stream(
    spark: SparkSession,
    routes: dict[str, "TableRoute | LakeTable"],
    binlog_dir: str,
    checkpoint_dir: str,
    *,
    table_col: str = "source_table",
    max_files_per_trigger: int = 1,
    dlq_table: LakeTable | None = None,
    available_now: bool = True,
    schema=None,
    retry_max: int = 3,
    retry_backoff_s: float = 1.0,
    adaptive_target_batch_s: float | None = None,
    adaptive_max_trigger: int = 64,
) -> dict:
    """ONE binlog stream fanned out to N LakeTables by ``table_col`` —
    the reference tails many tables per connection and routes rows via
    its TableMap (pkg/cdc/mysql.go:493-604); here one file-source
    stream carries every table's events and ``foreachBatch`` splits
    each micro-batch per table, applying per-table merge + evolution.

    Exactly-once is PER TABLE: each LakeTable's commit manifest records
    the epoch independently, so a crash mid-fan-out (table A applied,
    table B not) retries the batch, table A skips as already-applied,
    and table B applies — no duplicates, no gaps. The micro-batch is
    persisted once so the N per-table filters don't re-read the source
    N times (bounded: one micro-batch).

    Events whose ``table_col`` matches no route go to the DLQ
    (reason-stamped ``unrouted``) when one is configured, else are
    dropped and counted.

    ``adaptive_target_batch_s``: same adaptive trigger sizing as
    run_stream — the decision is made after EVERY route's table commit
    landed, so the restart redelivers a batch in which each per-table
    epoch manifest-skips (exactly-once per table preserved)."""
    from pyspark.sql import functions as F

    routes = {
        name: r if isinstance(r, TableRoute) else TableRoute(table=r)
        for name, r in routes.items()
    }
    metrics: dict = {
        "batches": 0,
        "retries": 0,
        "events_unrouted": 0,
        "tables": {name: {"batches": 0, "skipped": 0, "events": 0} for name in routes},
    }
    trigger = _Trigger(
        max_files_per_trigger, adaptive_target_batch_s, adaptive_max_trigger,
        available_now,
    )

    def apply_batch(batch_df, batch_id: int):
        t_batch = time.time()
        applied_any = False
        attempt = 0
        # redelivery caused by our own resize restart: every route
        # manifest-skips; replay the (idempotent) fan-out but don't
        # recount — metrics would overstate by one per route per resize
        recount = trigger.resized_batch != batch_id
        while True:
            batch_df.persist()
            try:
                known = list(routes)
                # NULL-safe: ~isin(NULL) is NULL and would silently
                # drop a null-routed event from BOTH sides
                unknown = batch_df.filter(
                    F.col(table_col).isNull() | ~F.col(table_col).isin(known)
                )
                n_unknown = unknown.count()
                if n_unknown:
                    if recount:
                        metrics["events_unrouted"] += n_unknown
                    if dlq_table is not None:
                        from nebula_spark.lake.merge import append_into

                        bad = unknown.withColumn(
                            "event_key",
                            F.concat_ws(
                                ":",
                                F.lit(str(batch_id)),
                                F.col("op_sequence"),
                                F.lit("unrouted"),
                            ),
                        )
                        append_into(
                            spark, dlq_table, bad, epoch=f"u{batch_id}",
                            summary_op="dlq-unrouted",
                        )
                for name, route in routes.items():
                    sub = batch_df.filter(F.col(table_col) == name).drop(table_col)
                    if route.columns is not None:
                        from nebula_spark.cdc.apply import ENVELOPE_COLS

                        keep = [
                            c
                            for c in sub.columns
                            if c in route.columns or c in ENVELOPE_COLS
                        ]
                        sub = sub.select(*keep)
                    res = apply_changes(
                        spark,
                        route.table,
                        sub,
                        epoch=batch_id,
                        event_filter=route.event_filter,
                        transforms=route.transforms,
                        evolution_policy=route.evolution_policy,
                        renames=route.renames,
                        conflict=route.conflict,
                        dlq_table=dlq_table,
                        # namespace the shared DLQ's epochs per route —
                        # otherwise the first route claims epoch batch_id
                        # on the DLQ manifest and every later route's
                        # quarantined rows for this micro-batch skip as
                        # already-applied (silent loss in the safety path)
                        dlq_ns=f"{name}:",
                    )
                    m = metrics["tables"][name]
                    if recount:
                        m["batches"] += 1
                        if res.merge.skipped:
                            m["skipped"] += 1
                        else:
                            m["events"] += res.merge.events_in
                    if not res.merge.skipped:
                        applied_any = True
                if recount:
                    metrics["batches"] += 1
                else:
                    trigger.resized_batch = None
                break
            except Exception:
                attempt += 1
                if attempt > retry_max:
                    raise
                metrics["retries"] += 1
                time.sleep(retry_backoff_s * (2 ** (attempt - 1)))
            finally:
                batch_df.unpersist()
        if applied_any:
            # after EVERY route committed: a resize raise makes the
            # restart redeliver this batch as N per-table manifest skips
            trigger.after_batch(batch_id, time.time() - t_batch)

    def build_writer(files: int):
        return _binlog_writer(
            spark, schema or MULTI_BINLOG_SCHEMA, files, binlog_dir,
            apply_batch, checkpoint_dir,
        )

    t0 = time.time()
    if not available_now:
        return {"query_id": str(build_writer(trigger.cur).start().id)}
    trigger.run_available_now(build_writer)
    dt = time.time() - t0
    total_events = sum(m["events"] for m in metrics["tables"].values())
    snaps = {name: r.table.snapshot() for name, r in routes.items()}
    return {
        **metrics,
        **trigger.report(),
        "seconds": round(dt, 2),
        "events": total_events,
        "events_per_sec": round(total_events / dt, 1) if dt > 0 else None,
        "versions": {name: s.version for name, s in snaps.items()},
        # per-table per-source-partition high-water marks (the lineage
        # offsets, folded from each table's commit manifest)
        "lineage_offsets": {
            name: s.partition_offsets() for name, s in snaps.items()
        },
    }
