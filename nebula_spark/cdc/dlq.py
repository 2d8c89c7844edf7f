"""Dead-letter reprocessing — the operational return path for the
retry-then-dead-letter loop.

The ingest side quarantines three classes of events into the DLQ table
(reason-stamped ``event_key``): malformed rows, conflict-rejected rows,
and whole poison batches that exhausted their retries
(/root/reference/pkg/cdc/stream.go:694-738, 857-959 — the reference
dead-letters with the intent that an operator fixes the cause and
replays). ``reprocess_dlq`` is that replay: select live DLQ events by
reason, re-apply them to the target table through the normal
apply_changes path, then tombstone them in the DLQ — all exactly-once.

Exactly-once bookkeeping rides both tables' commit manifests, keyed by
the DLQ snapshot version the batch was read from:

- target epoch ``rp<v>``  — a crash after the apply but before the
  tombstoning retries into a manifest skip (nothing double-applies);
- DLQ epoch  ``rpdel<v>`` — the tombstone commit is idempotent too.

A later call sees a new DLQ version (the tombstone commit advanced it)
and only live — i.e. not-yet-reprocessed — events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from nebula_spark.cdc.apply import ApplyResult, apply_changes
from nebula_spark.lake.table import LakeTable

# quarantine reason classes (substrings of event_key)
REASON_FAILED = "failed-"      # poison batch, retries exhausted
REASON_CONFLICT = "conflict"   # conflict='reject' surfaced events
REASON_MALFORMED = "malformed"  # null key / unknown op / null payload


def reprocess_dlq(
    spark: SparkSession,
    dlq_table: LakeTable,
    target: LakeTable,
    *,
    reasons: tuple[str, ...] = (REASON_FAILED,),
    **apply_kwargs,
) -> dict:
    """Re-apply quarantined events matching any of ``reasons`` to
    ``target`` and tombstone them in the DLQ. Returns counts + the
    epochs used. ``apply_kwargs`` pass through to apply_changes (e.g. a
    corrected event_filter/transforms — the reason the batch poisoned
    in the first place is usually fixed by one of these)."""
    if apply_kwargs.get("conflict") == "reject":
        raise ValueError(
            "reprocessing with conflict='reject' would re-reject the very "
            "events being replayed and tombstone them from the DLQ — they'd "
            "be lost; replay with last_write_wins/first_write_wins/merge"
        )
    v = dlq_table.snapshot().version
    cond = None
    for r in reasons:
        c = F.col("event_key").contains(r)
        cond = c if cond is None else (cond | c)
    rows = dlq_table.read(spark).filter(cond)
    n = rows.count()
    if n == 0:
        return {"reprocessed": 0, "dlq_version": v}

    batch = rows.drop("event_key")
    # dlq_table passes back in: a quarantined poison batch can contain
    # genuinely malformed rows — they re-quarantine under the rp<v>
    # epoch's ':malformed'-stamped event_key instead of being silently
    # dropped while their originals get tombstoned below. (A later
    # REASON_MALFORMED replay picks them up again — intended: they stay
    # quarantined-and-replayable until a corrective transform fixes them.)
    res: ApplyResult = apply_changes(
        spark, target, batch, epoch=f"rp{v}", dlq_table=dlq_table, **apply_kwargs
    )

    # tombstone the replayed events in the DLQ (op_sequence 0 beats the
    # append's _seq=-1); event_key is the DLQ merge key, so this is a
    # plain keyed DELETE batch through the normal merge
    from nebula_spark.lake.merge import merge_into

    tomb = rows.select(
        F.col("event_key"),
        F.lit("DELETE").alias("op"),
        F.lit(0).cast("long").alias("op_sequence"),
    )
    merge_into(spark, dlq_table, tomb, epoch=f"rpdel{v}")
    return {
        "reprocessed": n,
        "dlq_version": v,
        "target_epoch": f"rp{v}",
        "target_skipped": res.merge.skipped,
        "events_applied": res.merge.events_in,
    }
