"""apply_changes — the per-micro-batch pipeline body.

This is the Spark analogue of the reference's pipeline stages
(readSource → transforms → batch → write,
/root/reference/internal/pipeline/simple_pipeline.go:173-248) fused
with its CDC apply/conflict/evolution path (internal/pipeline/cdc.go;
pkg/connector/evolution/schema_evolution_destination.go:287-366):

    event filter → transform chain → DLQ split → schema evolution
    → LWW dedup → bucketed MERGE (+ manifest)

It runs identically as a batch call or inside
``foreachBatch(lambda df, epoch: apply_changes(...))``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from nebula_spark.cdc.filters import EventFilter
from nebula_spark.cdc.transforms import Transform
from nebula_spark.evolution import evolve_schema
from nebula_spark.functions.dedupe import _q
from nebula_spark.lake.merge import MergeResult, merge_into
from nebula_spark.lake.table import LakeTable

# columns that belong to the change-envelope, not the table payload
ENVELOPE_COLS = ("op", "op_sequence", "ts", "txn_id", "partition_id", "schema_version")


@dataclass
class ApplyResult:
    merge: MergeResult
    events_in: int = 0
    events_filtered: int = 0
    events_dlq: int = 0
    schema_changes: int = 0


def payload_schema(schema: T.StructType, key_col: str) -> T.StructType:
    """The payload fields of a batch ``schema``: every field but the
    change envelope's (the key stays, whatever its name)."""
    return T.StructType(
        [f for f in schema.fields if f.name not in ENVELOPE_COLS or f.name == key_col]
    )


def apply_changes(
    spark: SparkSession,
    table: LakeTable,
    batch: DataFrame,
    epoch: int | None = None,
    *,
    event_filter: EventFilter | None = None,
    transforms: list[Transform] | None = None,
    evolution_policy: str = "default",
    renames: dict[str, str] | None = None,
    dedup_how: str = "auto",
    resolve_strategy: str = "auto",
    conflict: str = "last_write_wins",
    dlq_table: LakeTable | None = None,
    dlq_ns: str = "",
    count_inputs: bool = False,
) -> ApplyResult:
    """Apply one change batch to the lake table, exactly-once.

    ONE snapshot read and ONE commit: the epoch check, key and schema
    come from one snapshot, which is handed to ``merge_into``. A batch
    that evolves the schema pins ``Snapshot.evolve``'s next schema, so
    the merge reads and writes through it and its one commit carries
    the schema, renames, files and epoch together.

    ``count_inputs`` adds two cheap aggregate passes for the filtered/
    input counters (off by default — metrics come from the merge).

    ``dlq_ns``: namespace prefix for this call's DLQ manifest epochs and
    event keys. REQUIRED when several targets share one DLQ table under
    the same epoch sequence (multi-table fan-out): append_into records
    the applied epoch even for a zero-row batch, so without a namespace
    the FIRST route processed claims epoch ``e`` on the shared DLQ
    manifest and every later route's quarantined rows for that
    micro-batch silently skip as already-applied — data loss in the
    safety path. run_multi_stream passes ``f"{route}:"``."""
    # the one snapshot read: epoch check, key and schema here, and the
    # pin of merge_into below
    snap = table.snapshot()
    if epoch is not None and snap.epoch_applied(epoch):
        return ApplyResult(merge=MergeResult(skipped=True, epoch=epoch))
    key = snap.key_col

    res = ApplyResult(merge=MergeResult())
    # DDL marker rows (op='DDL', from a binlog QueryEvent) carry no
    # payload — evolution is driven by the batch *schema*; drop them
    # before the data path (reference reloads schemas on QueryEvent,
    # pkg/cdc/mysql.go:701-723)
    df = batch.filter("op <> 'DDL'") if "op" in batch.columns else batch
    if count_inputs:
        res.events_in = df.count()
    if event_filter is not None:
        df = event_filter.apply(df)
    for t in transforms or ():
        df = t(df)
    if count_inputs:
        kept = df.count()
        res.events_filtered = res.events_in - kept

    # malformed events → dead-letter table instead of poisoning the merge
    # (reference DLQ: pkg/cdc/stream.go:857-959); SQL text over one
    # schema fetch
    schema = df.schema
    bad = f"{_q(key)} IS NULL OR op IS NULL"
    if "tokens" in schema.fieldNames():
        bad += (
            " OR NOT (op IN ('INSERT', 'UPDATE', 'DELETE'))"
            " OR (op <> 'DELETE' AND tokens IS NULL)"
        )
    if dlq_table is not None:
        from nebula_spark.lake.merge import append_into

        # key carries the ':malformed' reason stamp so reprocess_dlq can
        # select this class by INCLUSION like the other two (the keys
        # used to be bare epoch:op_sequence, reachable only by exclusion)
        dlq_rows = df.filter(bad).withColumn(
            "event_key",
            F.concat_ws(
                ":",
                F.lit(f"{dlq_ns}{epoch}"),
                F.col("op_sequence"),
                F.lit("malformed"),
            ),
        )
        append_into(
            spark, dlq_table, dlq_rows, epoch=f"{dlq_ns}{epoch}", summary_op="dlq"
        )
    df = df.filter(f"NOT ({bad})")

    # schema evolution: batch payload vs table user schema (merge-on-write)
    from nebula_spark.lake.table import INTERNAL_COLS, INTERNAL_FIELDS

    bad_cols = [c for c in schema.fieldNames() if c in INTERNAL_COLS]
    if bad_cols:
        raise ValueError(f"batch uses reserved columns {bad_cols}")
    new_user, changes = evolve_schema(
        snap.user_schema,
        payload_schema(schema, key),
        policy=evolution_policy,
        renames=renames,
    )
    if changes:
        from nebula_spark.evolution.schema_evolution import RENAME_FIELD

        applied_renames = {
            c.field: c.to_type for c in changes if c.kind == RENAME_FIELD
        }
        snap = snap.evolve(
            T.StructType(list(new_user.fields) + INTERNAL_FIELDS),
            applied_renames or None,
            [c.__dict__ for c in changes],
        )
        res.schema_changes = len(changes)

    def _route_rejected(rej_df: DataFrame) -> None:
        # conflict='reject': surfaced events go to the dead-letter
        # table with a reason-stamped key (ingest QA reads them there).
        # Runs BEFORE the merge commit (see merge_into's on_rejected
        # contract) so a crash can never apply the epoch yet lose its
        # conflict records; the f'c{epoch}' manifest key keeps the
        # append idempotent across retries (and distinct from the
        # malformed-event append above, which recorded `epoch`).
        from nebula_spark.lake.merge import append_into

        rej = rej_df.withColumn(
            "event_key",
            F.concat_ws(
                ":", F.lit(f"{dlq_ns}{epoch}"), F.col("op_sequence"), F.lit("conflict")
            ),
        )
        append_into(
            spark, dlq_table, rej, epoch=f"{dlq_ns}c{epoch}", summary_op="dlq-conflict"
        )

    res.merge = merge_into(
        spark,
        table,
        df,
        epoch=epoch,
        dedup_how=dedup_how,
        resolve_strategy=resolve_strategy,
        conflict=conflict,
        on_rejected=_route_rejected if dlq_table is not None else None,
        version=snap,
    )
    if dlq_table is not None:
        res.events_dlq += res.merge.rows_rejected
    if res.merge.rejected is not None:
        # no DLQ configured: nothing routes the surfaced events here —
        # just release the intermediate
        res.merge.rejected.unpersist()
        res.merge.rejected = None
    return res
