"""Lineage + throughput metrics — the reference's EventMetrics/health
surface (pkg/cdc/types.go:117-126, 179-189; stream.go:495-540) built
from the two sources of truth this engine already has: the table's
commit manifest (events per epoch, per-partition offsets) and
Structured Streaming's lastProgress."""

from __future__ import annotations

import json
import time
from dataclasses import dataclass, field

from nebula_spark.lake.table import LakeTable


@dataclass
class IngestMetrics:
    started_at: float = field(default_factory=time.time)
    batches: int = 0
    batches_skipped: int = 0
    events_applied: int = 0
    rows_upserted: int = 0
    rows_deleted: int = 0
    rows_rejected: int = 0
    events_dlq: int = 0
    buckets_touched: int = 0
    schema_changes: int = 0
    batch_seconds: list = field(default_factory=list)

    def record(self, apply_result) -> None:
        m = apply_result.merge
        self.batches += 1
        if m.skipped:
            self.batches_skipped += 1
            return
        self.events_applied += m.events_in
        self.rows_upserted += m.rows_upserted
        self.rows_deleted += m.rows_deleted
        self.rows_rejected += m.rows_rejected
        self.events_dlq += apply_result.events_dlq
        self.buckets_touched += m.buckets_touched
        self.schema_changes += apply_result.schema_changes
        self.batch_seconds.append(m.seconds)

    @property
    def events_per_sec(self) -> float | None:
        dt = time.time() - self.started_at
        return round(self.events_applied / dt, 1) if dt > 0 else None

    def snapshot(self, table: LakeTable | None = None) -> dict:
        out = {
            "batches": self.batches,
            "batches_skipped": self.batches_skipped,
            "events_applied": self.events_applied,
            "rows_upserted": self.rows_upserted,
            "rows_deleted": self.rows_deleted,
            "rows_rejected": self.rows_rejected,
            "events_dlq": self.events_dlq,
            "buckets_touched": self.buckets_touched,
            "schema_changes": self.schema_changes,
            "events_per_sec": self.events_per_sec,
            "uptime_sec": round(time.time() - self.started_at, 1),
        }
        if table is not None:
            # offsets and version of the same snapshot
            snap = table.snapshot()
            out["lineage_offsets"] = snap.partition_offsets()
            out["table_version"] = snap.version
        return out

    def dump(self, path: str, table: LakeTable | None = None) -> None:
        with open(path, "w") as f:
            json.dump(self.snapshot(table), f)


def streaming_progress(query) -> dict:
    """Condensed view of a StreamingQuery's lastProgress (rates, batch
    duration, source offsets) — the health endpoint analogue."""
    p = query.lastProgress
    if not p:
        return {}
    return {
        "batch_id": p.get("batchId"),
        "input_rows_per_sec": p.get("inputRowsPerSecond"),
        "processed_rows_per_sec": p.get("processedRowsPerSecond"),
        "duration_ms": p.get("durationMs", {}),
        "sources": [
            {"description": s.get("description"), "end_offset": s.get("endOffset")}
            for s in p.get("sources", [])
        ],
    }
