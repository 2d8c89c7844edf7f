"""merge_into — key-partitioned upsert of a deduped change batch into a
LakeTable, with exactly-once manifest bookkeeping.

This is the engine's MERGE INTO. Semantics (matching the SQL we'd run
against Iceberg, and the reference's apply loop,
/root/reference/internal/pipeline/cdc.go):

    MERGE INTO target t USING batch s ON t.<key> = s.<key>
    WHEN MATCHED AND s.op = 'DELETE' THEN DELETE
    WHEN MATCHED                     THEN UPDATE SET *
    WHEN NOT MATCHED AND s.op <> 'DELETE' THEN INSERT *

Physical plan, chosen for 100 TB:

1. The batch is already deduped to one event per key (LWW) — so the
   merge is key-unique on the source side by construction.
2. Compute each key's bucket; **only the touched buckets are read and
   rewritten** (copy-on-write at bucket granularity). Cost scales with
   batch key-spread, not table size.
3. The matched/not-matched resolution is ``target LEFT ANTI JOIN
   batch-keys`` + ``UNION`` of the batch's non-delete images — one join
   instead of a full outer join. The batch side is a deduped
   micro-batch, orders of magnitude smaller than the table: Spark/AQE
   broadcasts it, so the target scan never shuffles. (Verified via
   .explain: BroadcastHashJoin LeftAnti with the batch build-side.)
4. Output is written ``partitionBy(_bucket)`` into a fresh immutable
   commit dir; the snapshot swap (old bucket files → new) and the
   commit-manifest update are one atomic rename.

Idempotence: if ``epoch`` was already applied, return immediately —
foreachBatch re-delivers the same batchId after a crash, and this check
(against the manifest *inside the table commit*) is what makes delivery
exactly-once rather than at-least-once.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from nebula_spark.lake.table import (
    DELETED_COL,
    SEQ_COL,
    LakeTable,
    align_to_schema,
    bucket_expr,
)

DELETE_OP = "DELETE"


@contextmanager
def _bucket_aligned_shuffle(spark: SparkSession, n_buckets: int):
    """Run a merge's jobs with shuffle width == the table's bucket
    count (Iceberg's ``write.distribution-mode=hash``): ``bucket_expr``
    is pmod over the SAME Murmur3 hash HashPartitioning uses, so with
    the widths equal every shuffle output partition holds exactly ONE
    bucket — each write task streams one bucket directory, producing
    one well-sized file per bucket per commit instead of
    (shuffle.partitions / n_buckets) fragments, and the dedup/fold/join
    exchanges all land directly on the write layout (no residual
    repartition, fewer+larger shuffle blocks, guide §2.2). This is
    sized by the TABLE's declared layout (4096+ buckets at 100 TB), not
    by the local core count, and AQE's partition coalescing still
    merges undersized partitions when a small batch meets a wide
    table. ``NEBULA_SHUFFLE_PARTITIONS`` (the scaling-run pin: N and 4N
    cores must shuffle identically) takes precedence when set.

    The conf is set on ``spark``, the caller's session, so it reaches
    only plans of frames that belong to that session. Inside
    ``foreachBatch`` the batch frame belongs to the stream's cloned
    session: there the stats job and the whole merge-on-read write plan
    at that session's default width (16 shuffle partitions on a
    4-core ``get_spark`` session with 4 buckets), and only the
    copy-on-write resolve, built on the target read through ``spark``,
    gets ``n_buckets``. Direct ``merge_into`` calls on frames of
    ``spark`` get ``n_buckets`` throughout."""
    key = "spark.sql.shuffle.partitions"
    if os.environ.get("NEBULA_SHUFFLE_PARTITIONS"):
        yield
        return
    prev = spark.conf.get(key, None)
    spark.conf.set(key, str(n_buckets))
    try:
        yield
    finally:
        if prev is not None:
            spark.conf.set(key, prev)


def _as_table_rows(batch: DataFrame, table: LakeTable, op_col: str, seq_col: str) -> DataFrame:
    """Project a deduped change batch onto the storage schema: payload
    columns (nulled for deletes), _seq = op_sequence, _deleted flag."""
    user_fields = table.user_schema.fields
    is_del = F.col(op_col) == DELETE_OP
    cols = []
    for f in user_fields:
        if f.name == table.key_col:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        elif f.name in batch.columns:
            cols.append(
                F.when(is_del, F.lit(None)).otherwise(F.col(f.name)).cast(f.dataType).alias(f.name)
            )
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    cols.append(F.col(seq_col).cast("long").alias(SEQ_COL))
    cols.append(is_del.alias(DELETED_COL))
    return batch.select(*cols)


def _resolve(
    spark: SparkSession,
    table: LakeTable,
    deduped: DataFrame,
    affected: list[int],
    op_col: str,
    seq_col: str,
    strategy: str,
    fww: bool = False,
    fieldmerge: bool = False,
    exclude_paths: dict[int, set[str]] | None = None,
    target_version: int | None = None,
) -> DataFrame:
    """Order-independent LWW resolution of batch vs target with one of
    the resolve strategies ``unionagg``, ``join`` or ``fullouter``.

    Every outcome is a row (DELETE → tombstone). Under ``join`` the
    whole matched-side resolution is ONE projection after ONE left-outer
    join — AQE broadcasts a small batch, so the wide target scan is
    never recomputed and never shuffled. Inserts need target *keys*
    only, which is a column-pruned scan (parquet reads just the key +
    _seq columns).

    A batch event wins a matched key iff its op_sequence is strictly
    greater than the stored row's _seq — so replayed/out-of-order
    batches converge to the same final state in any delivery order.
    """
    key = table.key_col
    b = _as_table_rows(deduped, table, op_col, seq_col)
    target = table.read(
        spark,
        buckets=affected,
        include_internal=True,
        exclude_paths=exclude_paths,
        version=target_version,
    )

    def winner_col(c: str):
        """Value of column ``c`` when the batch row wins a matched key.
        Plain LWW takes the batch image; field-level ``merge`` (ref
        internal/pipeline/cdc.go:208-211) coalesces batch-over-target
        per column so a partial update (null batch field) keeps the
        stored value. DELETEs never coalesce — a tombstone's payload
        stays null."""
        bc = F.col(f"b.{c}")
        if not fieldmerge or c in (key, SEQ_COL, DELETED_COL):
            return bc
        return F.when(F.col(f"b.{DELETED_COL}"), bc).otherwise(
            F.coalesce(bc, F.col(f"t.{c}"))
        )

    if strategy == "unionagg":
        # one hash aggregation over (target ∪ batch): per key keep the
        # row with max _seq — identical LWW semantics, single shuffle,
        # partial agg combines map-side. Fewer stages than the join
        # plan; preferable when the touched buckets are comparable in
        # size to the batch (e.g. bulk replay). The join plan wins when
        # the table dwarfs the batch (target never shuffles there).
        # Precedence field: target rows outrank batch rows on ties, so
        # a same-seq re-sent event with a different image can never flip
        # the row (mirrors the strict `b_seq > t_seq` rule of the join
        # plans). FWW puts _pri first (target always wins); LWW puts
        # _seq first (_pri only breaks exact-seq ties).
        everything = target.withColumn("_pri", F.lit(1)).unionByName(
            b.withColumn("_pri", F.lit(0))
        )
        head = (
            (F.col("_pri"), F.col(SEQ_COL)) if fww else (F.col(SEQ_COL), F.col("_pri"))
        )
        packed = F.struct(
            *head,
            *[F.col(c) for c in b.columns if c != SEQ_COL and c != key],
        )
        reduced = everything.groupBy(key).agg(F.max(packed).alias("_e"))
        resolved = reduced.select(F.col(key), F.col("_e.*")).select(*b.columns)
        return table.bucket_of(resolved)

    t_a, b_a = target.alias("t"), b.alias("b")

    if strategy == "fullouter":
        # fat-batch plan: when the deduped batch is too big to
        # broadcast, the left-join plan degenerates to SMJ + an extra
        # key-scan + an anti-join — three shuffles and two target
        # scans. ONE full-outer SMJ covers matched, target-only AND
        # batch-only rows in a single pass.
        f = t_a.join(b_a, F.col(f"t.{key}") == F.col(f"b.{key}"), "full")
        b_wins = F.col(f"b.{SEQ_COL}").isNotNull() & (
            F.col(f"t.{SEQ_COL}").isNull()
            if fww
            else (
                F.col(f"t.{SEQ_COL}").isNull()
                | (F.col(f"b.{SEQ_COL}") > F.col(f"t.{SEQ_COL}"))
            )
        )
        cols = [
            F.coalesce(F.col(f"b.{key}"), F.col(f"t.{key}")).alias(key)
            if c == key
            else F.when(b_wins, winner_col(c)).otherwise(F.col(f"t.{c}")).alias(c)
            for c in b.columns
        ]
        return table.bucket_of(f.select(*cols))

    # 'join': AQE picks BHJ/SMJ from runtime sizes (a small batch
    # broadcasts); forcing a broadcast of a fat batch would stall the
    # driver for tens of seconds.
    joined = t_a.join(b_a, F.col(f"t.{key}") == F.col(f"b.{key}"), "left")
    b_wins = F.col(f"b.{SEQ_COL}").isNotNull() & (
        F.lit(False)
        if fww
        else (
            F.col(f"t.{SEQ_COL}").isNull()
            | (F.col(f"b.{SEQ_COL}") > F.col(f"t.{SEQ_COL}"))
        )
    )
    resolved = joined.select(
        *[
            F.when(b_wins, winner_col(c)).otherwise(F.col(f"t.{c}")).alias(c)
            for c in b.columns
        ]
    )

    # inserts: batch keys absent from the touched buckets (key-only
    # scan; pruned files can't hold a batch key, so skipping them keeps
    # the anti-join complete)
    inserts = b.join(target.select(key), on=key, how="left_anti")

    return table.bucket_of(resolved.unionByName(inserts))


CONFLICT_STRATEGIES = ("last_write_wins", "first_write_wins", "merge", "reject")
DEDUP_CHOICES = ("auto", "agg", "window", "salted", "none")
RESOLVE_CHOICES = ("auto", "unionagg", "join", "fullouter")

# the thresholds of the ``auto`` choices (measured at 1M-event batches,
# BENCH/): a copy-on-write merge resolves with ``unionagg`` while the
# touched buckets hold less than UNIONAGG_MAX_BYTES, else with ``join``
# below JOIN_MAX_KEYS batch keys, else with ``fullouter``; the in-batch
# dedup is ``window`` from WINDOW_DEDUP_MIN_EVENTS batch events, else
# ``agg``
UNIONAGG_MAX_BYTES = 256 * 1024 * 1024
JOIN_MAX_KEYS = 200_000
WINDOW_DEDUP_MIN_EVENTS = 500_000


def plan_merge(
    *,
    merge_mode: str,
    conflict: str,
    dedup_how: str,
    resolve_strategy: str,
    already_deduped: bool,
    events_in: int,
    keys_touched: int,
    touched_bytes: int | None,
    mor_conflict: str | None = None,
) -> tuple[str | None, str | None]:
    """The merge policy, decided once from the caller's choices and the
    batch's statistics: ``(dedup, resolve)`` — the ``lww_dedup``
    strategy, or None to take the batch as it is, and the resolve
    strategy against the target, or None for a merge-on-read append.
    Raises ValueError for a combination the merge cannot run, before
    any write job.

    ``touched_bytes`` (stored bytes of the touched buckets) is read only
    by a copy-on-write ``auto`` resolve; ``mor_conflict`` (the table's
    read-time fold) only on a merge-on-read table."""
    for name, value, choices in (
        ("conflict", conflict, CONFLICT_STRATEGIES),
        ("dedup", dedup_how, DEDUP_CHOICES),
        ("resolve", resolve_strategy, RESOLVE_CHOICES),
    ):
        if value not in choices:
            raise ValueError(f"unknown {name} strategy {value!r}; one of {choices}")
    mor = merge_mode == "mor"
    if dedup_how == "none" and not mor:
        raise ValueError(
            "dedup_how='none' (map-only merge) requires a "
            "merge-on-read table: copy-on-write resolution needs a "
            "key-unique batch"
        )
    if mor and conflict != mor_conflict:
        raise ValueError(
            f"this merge-on-read table resolves "
            f"conflict={mor_conflict!r} at read time; a merge "
            f"with conflict={conflict!r} would append rows the read "
            "fold interprets under the other rule. last_write_wins "
            "and first_write_wins are read-time folds chosen by the "
            "table's 'conflict' property at create; reject/merge "
            "need the pre-merge target state and stay CoW-only"
        )

    if mor:
        resolve = None
    elif resolve_strategy != "auto":
        resolve = resolve_strategy
    # three regimes: small touched data → one hash-agg, fewest stages;
    # huge table, small batch → join, the batch broadcasts and the
    # table side never shuffles; huge table, fat batch → one full-outer
    # SMJ covers matched + both unmatched sides in a single pass (the
    # left-join plan would shuffle the table AND scan it twice)
    elif touched_bytes < UNIONAGG_MAX_BYTES and conflict != "merge":
        resolve = "unionagg"
    elif keys_touched < JOIN_MAX_KEYS:
        resolve = "join"
    else:
        resolve = "fullouter"
    if resolve == "unionagg" and conflict == "merge":
        # field-level merge needs both row images side by side; the
        # single-agg reduction can't coalesce across rows
        raise ValueError("conflict='merge' requires a join-family resolve strategy")

    if already_deduped or dedup_how == "none":
        # 'none' is the MAP-ONLY merge (MoR only): the read-time fold
        # already resolves EVERY version of a key, so within-batch
        # duplicates change nothing but appended bytes. What it buys at
        # scale: the dedup exchange is the ONE all-to-all shuffle in the
        # MoR write path, and on multi-executor topologies it moves the
        # full token payload through serde+network (measured 3.2× cost
        # at 4 executor JVMs, BENCH/BASELINE.md round 4). With it gone
        # the whole merge is scan → project → partitioned write: zero
        # exchanges. Best used with a bucket-aligned change feed
        # (write_binlog_chunks(bucket_key=...)) so each input split
        # holds few buckets and the file count stays at one per (task,
        # bucket).
        dedup = None
    elif dedup_how != "auto":
        dedup = dedup_how
    elif resolve == "unionagg" and conflict == "last_write_wins":
        # the unionagg resolve IS a LWW max-per-key fold over (target ∪
        # batch): folding the raw batch directly returns the same
        # winners as dedup-then-fold (max over a set == max over its
        # per-key maxima), so a separate in-batch dedup just shuffles
        # the full payload one extra time (guide §2.4). Ties: when the
        # batch holds two events with the same (key, op_sequence) —
        # outside op_sequence's total-order contract — lww_dedup picks
        # between the raw batch rows, while the fold compares their
        # table projections (delete payloads nulled, _pri added), so
        # the surviving image can differ from an explicit dedup_how.
        # LWW only: the FWW fold keeps target rows but takes the
        # MAX-seq batch row per key, so FWW still needs its min-seq
        # in-batch dedup. Never on MoR (its resolve is None): there the
        # skip would make the append map-only. Explicit dedup_how
        # requests are honored.
        dedup = None
    else:
        # measured (BENCH/BASELINE.md round 2): for fat batches the
        # window dedup (partial+final WindowGroupLimit) leaves its
        # output hash-partitioned AND key-sorted, so the downstream SMJ
        # re-sorts nothing — 2 exchanges total vs 4 for the agg shape,
        # ~35% faster at 1M+ events. Small micro-batches keep the
        # one-agg plan (fewest stages).
        dedup = "window" if events_in >= WINDOW_DEDUP_MIN_EVENTS else "agg"
    return dedup, resolve


@dataclass
class MergeResult:
    skipped: bool = False
    epoch: int | None = None
    events_in: int = 0
    keys_touched: int = 0
    buckets_touched: int = 0
    rows_upserted: int = 0
    rows_deleted: int = 0
    rows_rejected: int = 0
    seconds: float = 0.0
    partitions: dict = field(default_factory=dict)
    version: int | None = None
    # conflict='reject': the surfaced conflicting events, persisted —
    # the caller routes them (DLQ) and unpersists
    rejected: DataFrame | None = None


def append_into(
    spark: SparkSession,
    table: LakeTable,
    df: DataFrame,
    *,
    epoch: int | str | None = None,
    summary_op: str = "append",
) -> int:
    """Idempotent append (no key matching) — used for the bootstrap
    snapshot load and the dead-letter table. Returns the new snapshot
    version, or -1 if the epoch was already applied / batch empty."""
    if epoch is not None and table.epoch_applied(epoch):
        return -1
    nb = table.n_buckets  # layout this append is computed under
    if SEQ_COL not in df.columns:
        df = df.withColumn(SEQ_COL, F.lit(-1).cast("long"))
    if DELETED_COL not in df.columns:
        df = df.withColumn(DELETED_COL, F.lit(False))
    aligned = align_to_schema(df, table.schema)
    out = table.bucket_of(aligned)
    commit_dir = table.new_commit_dir()
    # repartition by the KEY into exactly n_buckets partitions: Spark's
    # HashPartitioning uses the same Murmur3 hash as bucket_expr, so
    # partition id == bucket id — every write task streams exactly one
    # bucket directory. The old repartition("_bucket") hashed the
    # ≤ n_buckets distinct bucket VALUES into the session shuffle width
    # (guide §2.5, synthetic keys with too few distinct values): ~1/e
    # of tasks empty, others writing several buckets.
    out.repartition(nb, F.col(table.key_col)).write.partitionBy("_bucket").mode(
        "append"
    ).parquet(commit_dir)
    new_files = LakeTable.list_written_files(commit_dir, key_col=table.key_col)
    applied = {str(epoch): {"partitions": {}, "events": None}} if epoch is not None else None
    if not new_files and applied is None:
        return -1
    snap = table.commit(
        new_files_by_bucket=new_files,
        applied_update=applied,
        summary={"operation": summary_op, "epoch": epoch},
        expect_n_buckets=nb,
    )
    return snap.version


def merge_into(
    spark: SparkSession,
    table: LakeTable,
    batch: DataFrame,
    *,
    epoch: int | None = None,
    op_col: str = "op",
    seq_col: str = "op_sequence",
    partition_col: str | None = "partition_id",
    dedup_how: str = "auto",
    already_deduped: bool = False,
    resolve_strategy: str = "auto",
    conflict: str = "last_write_wins",
    on_rejected=None,
) -> MergeResult:
    """Apply one change batch. ``batch`` must contain the table columns
    plus ``op_col``/``seq_col`` (and optionally ``partition_col`` for
    per-source-partition lineage offsets).

    Three steps: plan (the stats job, then ``plan_merge``), write (the
    merge-on-read append or the copy-on-write resolve and rewrite), and
    one table commit.

    ``conflict`` mirrors the reference's four resolver strategies
    (internal/pipeline/cdc.go:197-221):

    - ``last_write_wins`` (default) — higher op_sequence wins.
    - ``first_write_wins`` — an existing row is never overwritten;
      batch events only fill absent keys.
    - ``merge`` — field-level merge: the winning batch event updates a
      matched row column-by-column, null batch fields keeping the
      stored value (partial updates). Within-batch conflicts still
      reduce LWW first.
    - ``reject`` — a batch event whose key already exists live in the
      target is a conflict: it is NOT applied and is surfaced on
      ``MergeResult.rejected`` (persisted; caller routes to DLQ and
      unpersists). New keys (and keys present only as tombstones)
      apply normally.

    ``on_rejected``: callable(df) invoked with the (persisted) rejected
    rows BEFORE the table commit. Routing conflicts this way (instead
    of reading ``MergeResult.rejected`` after the call) makes the
    routing crash-safe: if the commit lands but the process dies before
    the DLQ write, a retry would skip the already-applied epoch and the
    rejected set — derivable only from the PRE-merge table state —
    would be lost forever. With the callback, a post-callback crash
    retries the whole merge against unchanged state and re-derives the
    identical set (idempotent DLQ epochs absorb the duplicate). When a
    callback is given, ``MergeResult.rejected`` stays None and the
    intermediate is unpersisted internally.
    """
    from nebula_spark.cdc.dedup import lww_dedup  # lazy: avoids lake<->cdc cycle

    t0 = time.time()
    res = MergeResult(epoch=epoch)
    if epoch is not None and table.epoch_applied(epoch):
        res.skipped = True
        return res
    key = table.key_col
    nb = table.n_buckets  # layout this merge is computed under; the
    # commit re-checks it so a concurrent rescale conflicts cleanly

    with _bucket_aligned_shuffle(spark, nb):
        # --- plan. The stats job (cheap, column-pruned: key/op/seq/
        # partition only — no dedup, no arrays): touched buckets, event
        # counters, and per-source-partition high-water marks for lineage.
        grain = [bucket_expr(key, nb).alias("_bucket")] + (
            [F.col(partition_col)] if partition_col and partition_col in batch.columns else []
        )
        stats = batch.groupBy(*grain).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col(op_col) == DELETE_OP).cast("long")).alias("n_del"),
            F.max(seq_col).alias("mx"),
            F.approx_count_distinct(key).alias("nk"),
            F.min(key).alias("kmin"),
            F.max(key).alias("kmax"),
        ).collect()
        affected = sorted({int(r["_bucket"]) for r in stats})
        # per-bucket key span of the batch — drives merge-time file
        # pruning (free: same shuffle as the counters above)
        key_bounds: dict[int, tuple] = {}
        for r in stats:
            kb = int(r["_bucket"])
            kmn, kmx = r["kmin"], r["kmax"]
            cur = key_bounds.get(kb)
            if kmn is None or kmx is None or (cur is not None and cur[0] is None):
                key_bounds[kb] = (None, None)
            elif cur is None:
                key_bounds[kb] = (kmn, kmx)
            else:
                key_bounds[kb] = (min(cur[0], kmn), max(cur[1], kmx))
        res.events_in = int(sum(r["n"] for r in stats))
        res.rows_deleted = int(sum(r["n_del"] for r in stats))
        res.rows_upserted = res.events_in - res.rows_deleted
        # approx distinct keys, free in the same agg; summed per stats
        # cell it can double-count a key spanning source partitions, so
        # it stays a (tight) upper bound — good as the join threshold,
        # honest as a metric
        res.keys_touched = min(int(sum(r["nk"] for r in stats)), res.events_in)
        res.buckets_touched = len(affected)
        if len(grain) > 1:
            for r in stats:
                pid = str(r[partition_col])
                res.partitions[pid] = max(res.partitions.get(pid, -1), int(r["mx"]))

        mode = table.merge_mode
        dedup, resolve = plan_merge(
            merge_mode=mode,
            conflict=conflict,
            dedup_how=dedup_how,
            resolve_strategy=resolve_strategy,
            already_deduped=already_deduped,
            events_in=res.events_in,
            keys_touched=res.keys_touched,
            # one snapshot parse, paid only where the choice reads it
            touched_bytes=(
                table.bucket_bytes(affected)
                if mode != "mor" and resolve_strategy == "auto"
                else None
            ),
            mor_conflict=table.mor_conflict if mode == "mor" else None,
        )
        fww = conflict == "first_write_wins"
        deduped = batch if dedup is None else lww_dedup(
            batch, key=key, seq=seq_col, how=dedup, first_writer_wins=fww
        )

        # --- write
        new_files, replace = None, {}
        summary = {"operation": "merge-empty", "epoch": epoch}
        if affected:
            summary.update(keys=res.keys_touched, buckets=res.buckets_touched)
        if affected and mode == "mor":
            # merge-on-read: APPEND the batch rows to the touched
            # buckets — no target scan, no join, no bucket rewrite, so
            # per-batch cost is flat in table size (the copy-on-write
            # path rewrites every touched bucket, which for key-spread
            # change streams approaches a full-table rewrite per batch
            # as the table grows). Readers resolve per key
            # (LakeTable.read); compaction folds versions.
            summary["operation"] = "merge-append"
            rows = table.bucket_of(_as_table_rows(deduped, table, op_col, seq_col))
            commit_dir = table.new_commit_dir()
            rows.write.partitionBy("_bucket").mode("append").parquet(commit_dir)
            # map-only appends (dedup skipped, caller did not pre-dedup)
            # write files that may hold several versions of a key — mark
            # them so the read fold never plain-scans them
            new_files = LakeTable.list_written_files(
                commit_dir, key_unique=already_deduped or dedup is not None, key_col=key
            )
        elif affected:
            summary["operation"] = "merge"
            new_files, replace, summary["files_kept"] = _rewrite_buckets(
                spark, table, deduped, res, key, affected, key_bounds, resolve,
                conflict, on_rejected, op_col, seq_col,
            )
        # an empty batch commits too: its epoch is recorded in the manifest

        # --- commit
        applied_update = None
        if epoch is not None:
            applied_update = {
                str(epoch): {"partitions": res.partitions, "events": res.events_in}
            }
        snap = table.commit(
            new_files_by_bucket=new_files,
            applied_update=applied_update,
            summary=summary,
            expect_n_buckets=nb,
            **replace,
        )
    res.version = snap.version
    res.seconds = time.time() - t0
    return res


def _rewrite_buckets(
    spark: SparkSession, table: LakeTable, deduped: DataFrame, res: MergeResult,
    key: str, affected: list[int], key_bounds: dict[int, tuple], resolve: str,
    conflict: str, on_rejected, op_col: str, seq_col: str,
) -> tuple[dict, dict, int]:
    """Copy-on-write write of ``merge_into``: resolve the batch against
    the touched buckets and write their new files. Returns (new files
    by bucket, the commit's replace arguments, files kept unrewritten).

    FILE pruning: a live file whose recorded key range misses the
    batch's per-bucket key span is left out of the target scan AND kept
    (unrewritten) in the commit — sound because a bucket's live files
    are key-disjoint under CoW, so a pruned file can hold no matched key
    and hide no insert. Biggest win on monotonic-PK feeds, where a fresh
    batch never touches old id ranges; uniform random keys prune nothing
    and fall back to the full-bucket rewrite.

    The whole resolve/prune/replace cycle is pinned to ONE snapshot
    version: pruning decisions, the target scans, and the commit's
    kept-file list must all describe the same file set, and with
    FILE-level replace a concurrent rewrite (e.g. an external
    compaction) landing between plan and commit is NOT
    content-preserving the way a bucket-level replace is — the merge
    output lacks the pruned files' rows, so silently replacing the
    compacted file would lose them. base_version makes that window a
    clean ConcurrentBucketConflict instead."""
    pin = table.snapshot()
    pruned = table.prunable_files(affected, key_bounds, version=pin.version)
    if conflict == "reject":
        # conflict = key already live in the target: surface those
        # events instead of applying them; the remainder merges
        # normally (tombstoned keys still respect LWW vs the
        # tombstone's _seq). Materialized eagerly — after the commit
        # the target state changes and a lazy plan would recompute a
        # different set.
        live = (
            table.read(
                spark,
                buckets=affected,
                include_internal=True,
                exclude_paths=pruned,
                version=pin.version,
            )
            .filter(~F.coalesce(F.col(DELETED_COL), F.lit(False)))
            .select(key)
        )
        rejected = deduped.join(live, on=key, how="leftsemi").persist()
        res.rows_rejected = rejected.count()
        # rejected events never reach the table — keep the applied
        # counter honest (they're reported on rows_rejected instead)
        res.rows_upserted = max(0, res.rows_upserted - res.rows_rejected)
        if on_rejected is not None:
            try:
                if res.rows_rejected:
                    on_rejected(rejected)
            finally:
                rejected.unpersist()
        else:
            res.rejected = rejected
        deduped = deduped.join(live, on=key, how="leftanti")
    deduped = table.bucket_of(deduped)
    # the join plan references the batch twice (matched + inserts);
    # single-pass plans (unionagg/fullouter) keep it lazy so dedup
    # fuses straight into the resolve+write job
    needs_persist = resolve == "join"
    if needs_persist:
        deduped = deduped.persist()
    try:
        merged = _resolve(
            spark, table, deduped, affected, op_col, seq_col, resolve,
            fww=conflict == "first_write_wins",
            fieldmerge=conflict == "merge",
            exclude_paths=pruned,
            target_version=pin.version,
        )
        commit_dir = table.new_commit_dir()
        # NO repartition before the write: the resolve plans leave data
        # hash-partitioned by key (or file-partitioned per bucket), and
        # bucket_expr matches Spark's shuffle hash, so tasks naturally
        # hold few buckets each. partitionBy splits the dirs; compaction
        # consolidates stragglers.
        merged.write.partitionBy("_bucket").mode("append").parquet(commit_dir)
    finally:
        if needs_persist:
            deduped.unpersist()

    replace: dict = {"replaced_buckets": affected}
    if pruned:
        # file-level replace: rewrite exactly the scanned files of the
        # PINNED snapshot, keep the key-disjoint ones; the commit's
        # base_version guard turns any intervening commit into a clean
        # conflict (see the pin note above)
        pin_files = pin.files_for(affected)  # O(touched segments)
        replace = {
            "replaced_files": {
                b: [
                    e["path"]
                    for e in pin_files.get(b, [])
                    if e["path"] not in pruned.get(b, set())
                ]
                for b in affected
            },
            "base_version": pin.version,
        }
    new_files = LakeTable.list_written_files(commit_dir, key_col=key)
    return new_files, replace, sum(len(v) for v in pruned.values())
