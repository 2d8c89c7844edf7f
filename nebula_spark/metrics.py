"""Throughput counters of an ingest stream — the reference's
EventMetrics surface (pkg/cdc/types.go:117-126, 179-189;
stream.go:495-540). Lineage offsets and versions are not counted here:
they come from the table's commit manifest."""

from __future__ import annotations

from dataclasses import dataclass


@dataclass
class IngestMetrics:
    """The counters of one stream over one table; ``asdict`` of it is
    the flat result of ``run_stream``. ``run_multi_stream`` keeps one
    per routed table and one for the fan-out's batches and retries."""

    batches: int = 0
    skipped: int = 0
    events: int = 0
    retries: int = 0
    batches_dlq: int = 0
    compactions: int = 0
    rows_upserted: int = 0
    rows_deleted: int = 0
    rows_rejected: int = 0
    events_dlq: int = 0
    buckets_touched: int = 0
    schema_changes: int = 0

    def record(self, apply_result) -> None:
        """Count one ``apply_changes`` result."""
        m = apply_result.merge
        self.batches += 1
        if m.skipped:
            self.skipped += 1
            return
        self.events += m.events_in
        self.rows_upserted += m.rows_upserted
        self.rows_deleted += m.rows_deleted
        self.rows_rejected += m.rows_rejected
        self.events_dlq += apply_result.events_dlq
        self.buckets_touched += m.buckets_touched
        self.schema_changes += apply_result.schema_changes
