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
import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from nebula_spark.functions.dedupe import _q
from nebula_spark.lake.table import (
    DELETED_COL,
    SEQ_COL,
    LakeTable,
    Snapshot,
    align_to_schema,
)

DELETE_OP = "DELETE"


@contextmanager
def _bucket_aligned_shuffle(spark: SparkSession, n_buckets: int):
    """Run a copy-on-write merge's jobs with shuffle width == the
    table's bucket count (Iceberg's ``write.distribution-mode=hash``):
    ``bucket_expr`` is pmod over the SAME Murmur3 hash HashPartitioning
    uses, so with the widths equal every shuffle output partition holds
    exactly ONE bucket — each write task streams one bucket directory,
    producing one well-sized file per bucket per commit instead of
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
    session: there the stats job plans at that session's default width,
    and only the resolve, built on the target read through ``spark``,
    gets ``n_buckets``. A merge-on-read append does not run under this
    block: it sets its width itself, with one ``repartition(n_buckets,
    key)`` in front of its in-batch dedup, so it writes one file per
    bucket in any session."""
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


def _as_table_rows(batch: DataFrame, snap: Snapshot, op_col: str, seq_col: str) -> DataFrame:
    """Project a deduped change batch onto the storage schema of
    ``snap``: payload columns (nulled for deletes), _seq = op_sequence,
    _deleted flag. Built as SQL text over one ``batch.schema`` fetch; a
    column already of its table type is not cast."""
    have = {f.name: f.dataType for f in batch.schema.fields}
    is_del = f"{_q(op_col)} = '{DELETE_OP}'"
    cols = []
    for f in snap.user_schema.fields:
        name, typ = _q(f.name), f.dataType.simpleString()
        if f.name not in have:
            cols.append(f"CAST(NULL AS {typ}) AS {name}")
            continue
        v = name if f.name == snap.key_col else f"CASE WHEN {is_del} THEN NULL ELSE {name} END"
        if have[f.name] != f.dataType:
            v = f"CAST({v} AS {typ})"
        cols.append(f"{v} AS {name}")
    cols.append(f"CAST({_q(seq_col)} AS BIGINT) AS {SEQ_COL}")
    cols.append(f"{is_del} AS {DELETED_COL}")
    return batch.selectExpr(*cols)


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
    target_version: int | Snapshot | None = None,
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
    ``target_version`` (a version or an already-read Snapshot, default
    HEAD) is the one snapshot the resolve reads.
    """
    snap = table._pinned(target_version)
    key = snap.key_col
    b = _as_table_rows(deduped, snap, op_col, seq_col)
    target = table.read(
        spark,
        buckets=affected,
        include_internal=True,
        exclude_paths=exclude_paths,
        version=snap,
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
        return table.bucket_of(resolved, snap)

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
        return table.bucket_of(f.select(*cols), snap)

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

    return table.bucket_of(resolved.unionByName(inserts), snap)


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
    events_in: int | None,
    keys_touched: int | None,
    touched_bytes: int | None,
    mor_conflict: str | None = None,
) -> tuple[str | None, str | None]:
    """The merge policy, decided once from the caller's choices and the
    batch's statistics: ``(dedup, resolve)`` — the ``lww_dedup``
    strategy, or None to take the batch as it is, and the resolve
    strategy against the target, or None for a merge-on-read append.
    Raises ValueError for a combination the merge cannot run, before
    any write job.

    The batch statistics are read only on a copy-on-write table:
    ``touched_bytes`` (stored bytes of the touched buckets) and
    ``keys_touched`` by an ``auto`` resolve, ``events_in`` by an
    ``auto`` dedup. A merge-on-read merge plans before its write job,
    which is where it counts its batch, and passes None for all three;
    ``mor_conflict`` (the table's read-time fold) is read only there."""
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
        # one-agg plan (fewest stages). The sorted output pays off only
        # in front of a copy-on-write join: a merge-on-read append
        # always takes the agg.
        dedup = (
            "window" if not mor and events_in >= WINDOW_DEDUP_MIN_EVENTS else "agg"
        )
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
    snap = table.snapshot()
    if epoch is not None and snap.epoch_applied(epoch):
        return -1
    nb, key = snap.n_buckets, snap.key_col  # layout this append is computed under
    if SEQ_COL not in df.columns:
        df = df.withColumn(SEQ_COL, F.lit(-1).cast("long"))
    if DELETED_COL not in df.columns:
        df = df.withColumn(DELETED_COL, F.lit(False))
    aligned = align_to_schema(df, snap.schema)
    out = table.bucket_of(aligned, snap)
    commit_dir = table.new_commit_dir()
    # repartition by the KEY into exactly n_buckets partitions: Spark's
    # HashPartitioning uses the same Murmur3 hash as bucket_expr, so
    # partition id == bucket id — every write task streams exactly one
    # bucket directory. The old repartition("_bucket") hashed the
    # ≤ n_buckets distinct bucket VALUES into the session shuffle width
    # (guide §2.5, synthetic keys with too few distinct values): ~1/e
    # of tasks empty, others writing several buckets.
    out.repartition(nb, F.col(key)).write.partitionBy("_bucket").mode(
        "append"
    ).parquet(commit_dir)
    new_files = LakeTable.list_written_files(commit_dir, key_col=key)
    applied = {str(epoch): {"partitions": {}, "events": None}} if epoch is not None else None
    if not new_files and applied is None:
        return -1
    return table.commit(
        new_files_by_bucket=new_files,
        applied_update=applied,
        summary={"operation": summary_op, "epoch": epoch},
        expect_n_buckets=nb,
    ).version


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
    version: Snapshot | None = None,
) -> MergeResult:
    """Apply one change batch. ``batch`` must contain the table columns
    plus ``op_col``/``seq_col`` (and optionally ``partition_col`` for
    per-source-partition lineage offsets).

    Three steps over ONE snapshot: plan (``plan_merge``; on a
    copy-on-write table after the stats job), write (the merge-on-read
    append or the copy-on-write resolve and rewrite), and ONE table
    commit. A merge-on-read merge runs no stats job: its counters,
    touched buckets and lineage offsets come from the write job (see
    ``_append_rows``).

    ``version``: the snapshot the caller already read and checked the
    epoch against (``apply_changes`` passes its own); None reads HEAD
    and checks the epoch here. A pin from :meth:`Snapshot.evolve` is
    read and written through with its next schema, and the one commit
    carries that schema and its renames together with the files and
    the epoch; a plain pin never rewrites the schema.

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
    # the one snapshot: every choice below (key, layout, mode, fold,
    # schema, lineage) describes this version, and the commit re-checks
    # its bucket count so a concurrent rescale conflicts
    snap = version
    if snap is None:
        snap = table.snapshot()
        if epoch is not None and snap.epoch_applied(epoch):
            res.skipped = True
            return res
    key, nb, mor = snap.key_col, snap.n_buckets, snap.merge_mode == "mor"
    lineage = partition_col if partition_col in batch.columns else None
    fww = conflict == "first_write_wins"
    replace: dict = {}

    if mor:
        dedup, _ = plan_merge(
            merge_mode="mor", conflict=conflict, dedup_how=dedup_how,
            resolve_strategy=resolve_strategy, already_deduped=already_deduped,
            events_in=None, keys_touched=None, touched_bytes=None,
            mor_conflict=snap.mor_conflict,
        )
        new_files = _append_rows(
            table, snap, batch, res, dedup, fww, already_deduped, lineage,
            op_col, seq_col,
        )
        summary = {"operation": "merge-append" if new_files else "merge-empty"}
    else:
        with _bucket_aligned_shuffle(spark, nb):
            # --- plan. The stats job (cheap, column-pruned: key/op/seq/
            # partition only — no dedup, no arrays): touched buckets,
            # event counters, per-source-partition high-water marks for
            # lineage, and per-bucket key bounds for file pruning.
            grain = [f"pmod(hash({_q(key)}), {nb}) AS _bucket"] + (
                [_q(lineage)] if lineage else []
            )
            stats = batch.groupBy(*[F.expr(g) for g in grain]).agg(*[
                F.expr(e) for e in (
                    "count(1) AS n",
                    f"sum(CAST({_q(op_col)} = '{DELETE_OP}' AS BIGINT)) AS n_del",
                    f"max({_q(seq_col)}) AS mx",
                    f"approx_count_distinct({_q(key)}) AS nk",
                    f"min({_q(key)}) AS kmin",
                    f"max({_q(key)}) AS kmax",
                )
            ]).collect()
            affected = sorted({int(r["_bucket"]) for r in stats})
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
            # approx distinct keys, free in the same agg; summed per
            # stats cell it can double-count a key spanning source
            # partitions, so it stays a (tight) upper bound — good as
            # the join threshold, honest as a metric
            res.keys_touched = min(int(sum(r["nk"] for r in stats)), res.events_in)
            res.buckets_touched = len(affected)
            if lineage:
                for r in stats:
                    pid = str(r[lineage])
                    res.partitions[pid] = max(res.partitions.get(pid, -1), int(r["mx"]))

            dedup, resolve = plan_merge(
                merge_mode=snap.merge_mode,
                conflict=conflict,
                dedup_how=dedup_how,
                resolve_strategy=resolve_strategy,
                already_deduped=already_deduped,
                events_in=res.events_in,
                keys_touched=res.keys_touched,
                # metadata only, paid only where the choice reads it
                touched_bytes=(
                    table.bucket_bytes(affected, snap)
                    if resolve_strategy == "auto"
                    else None
                ),
            )
            deduped = batch if dedup is None else lww_dedup(
                batch, key=key, seq=seq_col, how=dedup, first_writer_wins=fww
            )
            new_files, summary = None, {"operation": "merge-empty"}
            if affected:
                summary["operation"] = "merge"
                new_files, replace, summary["files_kept"] = _rewrite_buckets(
                    spark, table, snap, deduped, res, affected, key_bounds,
                    resolve, conflict, on_rejected, op_col, seq_col,
                )
    # an empty batch commits too: its epoch is recorded in the manifest
    summary["epoch"] = epoch
    if res.buckets_touched:
        summary.update(keys=res.keys_touched, buckets=res.buckets_touched)
    new_schema = renames = None
    if snap.evolution is not None:
        new_schema, renames, summary["changes"] = snap.evolution

    # --- commit
    applied_update = None
    if epoch is not None:
        applied_update = {
            str(epoch): {"partitions": res.partitions, "events": res.events_in}
        }
    new_snap = table.commit(
        new_files_by_bucket=new_files,
        applied_update=applied_update,
        summary=summary,
        expect_n_buckets=nb,
        new_schema=new_schema,
        renames=renames,
        **replace,
    )
    res.version = new_snap.version
    res.seconds = time.time() - t0
    return res


def _append_rows(
    table: LakeTable, snap: Snapshot, batch: DataFrame, res: MergeResult,
    dedup: str | None, fww: bool, already_deduped: bool, lineage: str | None,
    op_col: str, seq_col: str,
) -> dict:
    """Merge-on-read write of ``merge_into``: APPEND the batch rows to
    the touched buckets — no target scan, no join, no bucket rewrite, so
    per-batch cost is flat in table size (the copy-on-write path
    rewrites every touched bucket, which for key-spread change streams
    approaches a full-table rewrite per batch as the table grows).
    Readers resolve per key (LakeTable.read); compaction folds versions.
    Returns the written files by bucket, and fills ``res``.

    ONE job writes and counts: the write carries a ``DataFrame.observe``
    of the batch's event/delete/approx-key counters, of max(seq) for
    each source partition ``snap`` already knows, and of the count of
    rows from partitions it has not seen. The touched buckets are the
    written ones. Only a batch that brings an unseen partition pays a
    second, grouped query for its offsets — after the write, so the
    lineage offsets stay exact.

    The in-batch dedup runs behind one ``repartition(n_buckets, key)``:
    partition id == bucket id (the same Murmur3 as ``bucket_expr``), the
    dedup needs no exchange of its own, and each write task streams one
    bucket directory — one file per bucket per commit, in the caller's
    session or a ``foreachBatch`` one alike. A batch taken as it is
    (``dedup_how='none'``, ``already_deduped``) stays exchange-free."""
    from nebula_spark.cdc.dedup import lww_dedup  # lazy: avoids lake<->cdc cycle

    key, seq = snap.key_col, _q(seq_col)
    known = sorted(snap.partition_offsets()) if lineage else []
    metrics = [
        "count(1) AS n",
        f"count_if({_q(op_col)} = '{DELETE_OP}') AS n_del",
        f"approx_count_distinct({_q(key)}) AS nk",
    ]
    if lineage:
        pid = f"CAST({_q(lineage)} AS STRING)"
        seen = "false"
        if known:
            # one array of per-partition maxima: one expression to build
            metrics.append("array(" + ", ".join(
                f"max(CASE WHEN {pid} = {_str_lit(p)} THEN {seq} END)" for p in known
            ) + ") AS offsets")
            seen = f"{pid} IN ({', '.join(map(_str_lit, known))})"
        metrics.append(f"count_if({pid} IS NULL OR NOT ({seen})) AS unseen")
    obs = Observation()
    rows = batch.observe(obs, *[F.expr(m) for m in metrics])
    if dedup is not None:
        rows = lww_dedup(
            rows.repartition(snap.n_buckets, F.col(key)),
            key=key, seq=seq_col, how=dedup, first_writer_wins=fww,
        )
    rows = table.bucket_of(_as_table_rows(rows, snap, op_col, seq_col), snap)
    commit_dir = table.new_commit_dir()
    rows.write.partitionBy("_bucket").mode("append").parquet(commit_dir)
    # map-only appends (dedup skipped, caller did not pre-dedup) write
    # files that may hold several versions of a key — mark them so the
    # read fold never plain-scans them
    new_files = LakeTable.list_written_files(
        commit_dir, key_unique=already_deduped or dedup is not None, key_col=key
    )
    if not new_files:
        # every event writes a row (a delete its tombstone), so no file
        # means an empty batch: nothing to count, and no metrics to read
        # (Spark reports none when its adaptive plan drops the empty
        # input stage)
        shutil.rmtree(commit_dir, ignore_errors=True)
        return new_files
    m = obs.get
    res.events_in = int(m["n"])
    res.rows_deleted = int(m["n_del"])
    res.rows_upserted = res.events_in - res.rows_deleted
    res.keys_touched = min(int(m["nk"]), res.events_in)
    res.buckets_touched = len(new_files)
    for p, mx in zip(known, m.get("offsets") or ()):
        if mx is not None:
            res.partitions[p] = int(mx)
    if lineage and m["unseen"]:
        for r in batch.groupBy(_q(lineage)).agg(F.expr(f"max({seq}) AS mx")).collect():
            if r["mx"] is not None:
                p = str(r[lineage])
                res.partitions[p] = max(res.partitions.get(p, -1), int(r["mx"]))
    return new_files


def _str_lit(s: str) -> str:
    """A SQL string literal for ``s``."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _rewrite_buckets(
    spark: SparkSession, table: LakeTable, pin: Snapshot, deduped: DataFrame,
    res: MergeResult, affected: list[int], key_bounds: dict[int, tuple],
    resolve: str, conflict: str, on_rejected, op_col: str, seq_col: str,
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
    version, ``pin`` (the merge's one read): pruning decisions, the target scans, and the commit's
    kept-file list must all describe the same file set, and with
    FILE-level replace a concurrent rewrite (e.g. an external
    compaction) landing between plan and commit is NOT
    content-preserving the way a bucket-level replace is — the merge
    output lacks the pruned files' rows, so silently replacing the
    compacted file would lose them. base_version makes that window a
    clean ConcurrentBucketConflict instead."""
    key = pin.key_col
    pruned = table.prunable_files(affected, key_bounds, version=pin)
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
                version=pin,
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
    deduped = table.bucket_of(deduped, pin)
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
            target_version=pin,
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
