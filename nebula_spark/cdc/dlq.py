"""The dead-letter table — the reference's retry-then-dead-letter loop
(pkg/cdc/stream.go:694-738, 857-959) at micro-batch granularity: the
reference dead-letters with the intent that an operator fixes the cause
and replays.

``quarantine`` is the one writer of a DLQ record, for each of the four
reason classes: malformed rows, conflict-rejected rows, whole poison
batches that exhausted their retries, and unrouted events of a
multi-table stream. A record is the event row plus its ``event_key``,
``<epoch>:<op_sequence>:<reason>``, the DLQ's merge key.

``reprocess_dlq`` is the replay: select live DLQ events by reason,
re-apply them to the target table through the normal apply_changes
path, then tombstone them in the DLQ — all exactly-once.

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

from nebula_spark.lake.merge import append_into, merge_into
from nebula_spark.lake.table import LakeTable

# quarantine reason classes: the last field of event_key starts with one
REASON_FAILED = "failed-"      # poison batch, retries exhausted
REASON_CONFLICT = "conflict"   # conflict='reject' surfaced events
REASON_MALFORMED = "malformed"  # null key / unknown op / null payload
REASON_UNROUTED = "unrouted"   # multi-table event matching no route

# reason class -> (tag of its DLQ manifest epoch, commit summary op).
# The tag keeps each class's append idempotent per batch on its own: a
# batch's malformed rows and its conflict rows are two appends.
_RECORD = {
    REASON_MALFORMED: ("", "dlq"),
    REASON_CONFLICT: ("c", "dlq-conflict"),
    REASON_FAILED: ("f", "dlq-failed"),
    REASON_UNROUTED: ("u", "dlq-unrouted"),
}


def quarantine(
    spark: SparkSession,
    dlq_table: LakeTable,
    rows: DataFrame,
    *,
    epoch,
    reason: str,
    ns: str = "",
) -> int:
    """Append ``rows`` to the DLQ keyed ``<ns><epoch>:<op_sequence>:<reason>``,
    exactly-once per batch: the append records ``<ns><tag><epoch>`` on
    the DLQ manifest, the tag set by the reason class. ``ns`` separates
    the targets that share one DLQ under one epoch sequence (see
    ``apply_changes``' ``dlq_ns``). Returns ``append_into``'s version."""
    tag, summary_op = next(v for c, v in _RECORD.items() if reason.startswith(c))
    keyed = rows.withColumn(
        "event_key",
        F.concat_ws(":", F.lit(f"{ns}{epoch}"), F.col("op_sequence"), F.lit(reason)),
    )
    return append_into(
        spark, dlq_table, keyed, epoch=f"{ns}{tag}{epoch}", summary_op=summary_op
    )


def reprocess_dlq(
    spark: SparkSession,
    dlq_table: LakeTable,
    target: LakeTable,
    *,
    reasons: tuple[str, ...] = (REASON_FAILED,),
    **apply_kwargs,
) -> dict:
    """Re-apply quarantined events whose reason starts with any of
    ``reasons`` to ``target`` and tombstone them in the DLQ. Returns
    counts + the epochs used. ``apply_kwargs`` pass through to
    apply_changes (e.g. a corrected event_filter/transforms — the reason
    the batch poisoned in the first place is usually fixed by one of
    these)."""
    # lazy: apply_changes quarantines through this module
    from nebula_spark.cdc.apply import apply_changes

    if apply_kwargs.get("conflict") == "reject":
        raise ValueError(
            "reprocessing with conflict='reject' would re-reject the very "
            "events being replayed and tombstone them from the DLQ — they'd "
            "be lost; replay with last_write_wins/first_write_wins/merge"
        )
    v = dlq_table.snapshot().version
    # the reason is the key's last field: a route or epoch that happens
    # to contain a reason's name selects nothing
    reason = F.substring_index("event_key", ":", -1)
    cond = None
    for r in reasons:
        c = reason.startswith(r)
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
    res = apply_changes(
        spark, target, batch, epoch=f"rp{v}", dlq_table=dlq_table, **apply_kwargs
    )

    # tombstone the replayed events in the DLQ (op_sequence 0 beats the
    # append's _seq=-1); event_key is the DLQ merge key, so this is a
    # plain keyed DELETE batch through the normal merge
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
