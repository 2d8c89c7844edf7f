"""Table maintenance: compaction (small-file merge) and tombstone
purge.

Every merge writes fresh files for touched buckets, so long streams
accumulate tombstone rows. Compaction rewrites chosen
buckets into one file each and drops tombstones whose _seq is below a
safety watermark.

Watermark semantics: a tombstone at _seq=s may still be needed to beat
an out-of-order event with seq<s arriving later. The caller passes the
global low-water mark of the source (min over partitions of the lineage
offsets = everything at or below it has been applied); tombstones below
it can never lose to a future event and are safe to purge. watermark=None
purges all tombstones (only valid once the change log is fully drained).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import SparkSession, functions as F, types as T

from nebula_spark.lake.table import (
    DELETED_COL,
    INTERNAL_FIELDS,
    SEGMENTS_DIR,
    SEQ_COL,
    TMP_MARK,
    LakeTable,
    bucket_expr,
    published_versions,
    type_from_ddl,
)


def compact(
    spark: SparkSession,
    table: LakeTable,
    buckets: list[int] | None = None,
    purge_tombstone_watermark: int | None = None,
    purge_all_tombstones: bool = False,
    cluster_by_key: bool = False,
    max_file_rows: int | None = None,
) -> dict:
    """Rewrite buckets into one file each; optionally purge tombstones.
    Returns a summary dict. Atomic (one snapshot commit); the read, the
    layout and the commit's base all come from one snapshot read, so a
    commit touching the chosen buckets in between raises
    ConcurrentBucketConflict instead of being compacted away.

    ``cluster_by_key`` + ``max_file_rows``: key-CLUSTERED compaction —
    Iceberg's sort-ordered RewriteDataFiles instead of its bin-pack.
    Rows are sorted by the merge key inside each bucket and the writer
    rolls a new file every ``max_file_rows`` rows, so a big bucket
    compacts into several files covering contiguous, provably DISJOINT
    key ranges (each key appears exactly once post-fold, so a roll
    boundary cannot split a key). Two scale effects at 4096-bucket /
    multi-GB-bucket tables:

    - CoW merges keep pruning after compaction: the per-file key bounds
      stay narrow instead of collapsing to the whole bucket's span, so
      a key-local batch (the monotonic-PK CDC shape) rewrites one
      right-sized file, not the whole compacted bucket.
    - MoR reads stay plain scans: the read fold is skipped not just for
      single-file buckets but for any bucket whose files are all
      key-unique AND pairwise bounds-disjoint — which is exactly what
      this writer produces.

    The sort is per shuffle partition (sortWithinPartitions), not a
    global range exchange: same single shuffle as the unsorted path."""
    t0 = time.time()
    snap = table.snapshot()
    if (
        purge_tombstone_watermark is not None
        and snap.merge_mode == "mor"
        and snap.mor_conflict == "first_write_wins"
    ):
        raise ValueError(
            "first_write_wins tombstones never expire by seq watermark: "
            "under FWW a tombstone wins against ANY later event, so purging "
            "one lets a future event resurrect the key; use "
            "purge_all_tombstones once the change log is fully drained"
        )
    chosen = sorted(snap.files.keys()) if buckets is None else sorted(buckets)
    if not chosen:
        return {"buckets": 0, "seconds": 0.0}

    df = table.read(spark, buckets=chosen, version=snap, include_internal=True)
    if purge_all_tombstones:
        df = df.filter(~F.col(DELETED_COL))
    elif purge_tombstone_watermark is not None:
        df = df.filter(
            ~(F.col(DELETED_COL) & (F.col(SEQ_COL) < F.lit(purge_tombstone_watermark)))
        )
    df = table.bucket_of(df, snap)
    # one bucket per write task, one (or max_file_rows-rolled) file per
    # bucket (see LakeTable.write_files)
    df = df.repartition(snap.n_buckets, F.col(snap.key_col))
    if cluster_by_key:
        # a task holds exactly one bucket now, but sorting by
        # (_bucket, key) stays correct if a future layout ever changes
        # that — every rolled file is a sorted contiguous key range
        df = df.sortWithinPartitions("_bucket", snap.key_col)
    new_files = table.write_files(
        df, key_col=snap.key_col, max_file_rows=max_file_rows
    )
    new_snap = table.commit(
        snap,
        new_files_by_bucket=new_files,
        replaced_buckets=chosen,
        summary={"operation": "compact", "buckets": len(chosen)},
    )
    return {
        "buckets": len(chosen),
        "version": new_snap.version,
        "seconds": round(time.time() - t0, 2),
    }


def rescale(spark: SparkSession, table: LakeTable, new_n_buckets: int) -> dict:
    """Re-bucket a live table to ``new_n_buckets`` — partition-spec
    evolution (Iceberg's ALTER TABLE ... WRITE ORDERED BY / bucket-spec
    change; the reference's only analogue is recreating the sink).

    Why it exists: ``n_buckets`` is frozen at create, but the right
    bucket count scales with the table — a stream that outgrows its
    16-bucket test layout needs 4096+ buckets at 10^10 events or every
    merge/fold unit becomes a multi-GB rewrite. This makes the move a
    single atomic commit instead of a by-hand table copy.

    Plan: one full read (for a merge-on-read table the read-time fold
    runs here, so a rescale doubles as a full compaction), re-bucketed
    under the new layout, written fresh, committed with
    ``new_n_buckets`` + every old bucket replaced, the file listing
    re-segmented at the new width. Readers on older
    snapshots keep the old layout (a snapshot pins its n_buckets);
    readers of HEAD see the new one. Concurrency is strict: the commit
    is a full rewrite, so any commit landing after the plan's read
    raises ConcurrentBucketConflict (the rescale recomputes), and a
    writer whose base predates the rescale conflicts the same way
    instead of writing files with meaningless bucket ids (see
    LakeTable.commit)."""
    t0 = time.time()
    snap = table.snapshot()
    old_nb, key = snap.n_buckets, snap.key_col
    if int(new_n_buckets) == old_nb:
        return {"rescaled": False, "n_buckets": old_nb, "version": snap.version}
    df = table.read(spark, version=snap, include_internal=True)
    df = df.withColumn("_bucket", bucket_expr(key, int(new_n_buckets)))
    # key-hash repartition at the NEW width: one write task per new bucket
    new_files = table.write_files(
        df.repartition(int(new_n_buckets), F.col(key)), key_col=key
    )
    new_snap = table.commit(
        snap,
        new_files_by_bucket=new_files,
        replaced_buckets=sorted(snap.files.keys()),
        new_n_buckets=int(new_n_buckets),
        summary={
            "operation": "rescale",
            "from_n_buckets": old_nb,
            "to_n_buckets": int(new_n_buckets),
        },
    )
    return {
        "rescaled": True,
        "from_n_buckets": old_nb,
        "n_buckets": int(new_n_buckets),
        "version": new_snap.version,
        "seconds": round(time.time() - t0, 2),
    }


def migrate_column(
    spark: SparkSession,
    table: LakeTable,
    column: str,
    new_type,
    strict: bool = False,
) -> dict:
    """Non-widening column type migration — the reference's
    converter-registry modify-type (pkg/schema/migration.go:256-370,
    string↔int/float/bool/timestamp). Widenings (int→long,
    float→double) never need this: the engine's schema-versioned file
    groups cast them on read. Anything else (string→int, long→int,
    …) cannot be expressed as cast-on-read safely, so this is an
    EXPLICIT one-shot rewrite: read the whole table, convert the
    column (``try_cast`` — unconvertible values become null), write
    back under a bumped schema. ``strict=True`` FAILS (before any
    write) if the conversion would change any value: a non-null value
    converting to null (unparseable string), or a numeric→numeric
    conversion that doesn't round-trip (long→int overflow wraps,
    double→int truncates — Spark's non-ANSI ``cast`` silently loses
    precision, so strictness needs an explicit check). Same atomicity
    + concurrency posture as rescale: a full rewrite committed against
    the snapshot it read, so any commit in between conflicts cleanly."""
    if isinstance(new_type, str):
        new_type = type_from_ddl(new_type)
    t0 = time.time()
    snap = table.snapshot()
    user, key, nb = snap.user_schema, snap.key_col, snap.n_buckets
    if column not in user.fieldNames():
        raise ValueError(f"no such column {column!r}")
    if column == key:
        raise ValueError("cannot migrate the merge key's type")
    old_field = next(f for f in user.fields if f.name == column)
    if old_field.dataType == new_type:
        return {"migrated": False, "version": snap.version}

    df = table.read(spark, version=snap, include_internal=True)
    conv = (
        F.try_cast(F.col(column), new_type)
        if hasattr(F, "try_cast")
        else F.expr(f"try_cast({column} as {new_type.simpleString()})")
    )
    if strict:
        # refuse (before any write) if the conversion changes a value:
        # non-null → null, or a numeric round-trip mismatch (overflow
        # wrap / fractional truncation under Spark's non-ANSI cast)
        lossy = F.col(column).isNotNull() & conv.isNull()
        if isinstance(old_field.dataType, T.NumericType) and isinstance(
            new_type, T.NumericType
        ):
            lossy = lossy | (
                F.col(column).isNotNull()
                & ~conv.cast(old_field.dataType).eqNullSafe(F.col(column))
            )
        bad = df.filter(lossy).select(column).limit(1).collect()
        if bad:
            raise ValueError(
                f"strict migrate_column: value {bad[0][0]!r} of column "
                f"{column!r} does not convert losslessly to "
                f"{new_type.simpleString()}"
            )
    df = df.withColumn(column, conv)
    df = df.withColumn("_bucket", bucket_expr(key, nb))

    new_user = T.StructType(
        [
            T.StructField(f.name, new_type, True, f.metadata)
            if f.name == column
            else f
            for f in user.fields
        ]
    )
    new_files = table.write_files(df.repartition(nb, F.col(key)), key_col=key)
    new_snap = table.commit(
        snap.evolve(T.StructType(list(new_user.fields) + INTERNAL_FIELDS)),
        new_files_by_bucket=new_files,
        replaced_buckets=sorted(snap.files.keys()),
        summary={
            "operation": "migrate-column",
            "column": column,
            "to_type": new_type.simpleString(),
        },
    )
    return {
        "migrated": True,
        "column": column,
        "to_type": new_type.simpleString(),
        "version": new_snap.version,
        "seconds": round(time.time() - t0, 2),
    }


def expire_snapshots(table: LakeTable, keep_last: int = 10) -> int:
    """Delete snapshot JSONs (and data files referenced by no retained
    snapshot) older than the last ``keep_last`` — Iceberg's
    expire_snapshots analogue. Returns number of files removed.

    O(changed), not O(snapshots × files): every commit records the
    ``removed`` file set whose last reference died with its parent
    (computed from the replaced buckets at commit time). A file is dead
    once every snapshot that referenced it is expired — i.e. its
    removal version is at or below the retention boundary — so the
    deletion set is just the UNION of the expiring versions' removed
    lists. Only snapshots below the boundary are even opened; the
    retained ones (including HEAD's full file listing) are never
    walked."""
    if keep_last < 1:
        raise ValueError(f"keep_last must be at least 1 (HEAD), got {keep_last}")
    head = table.snapshot().version
    boundary = max(0, head - keep_last + 1)  # first RETAINED version
    meta = table._meta()
    all_versions = published_versions(meta)
    expiring = [v for v in all_versions if v < boundary]
    if not expiring:
        return 0
    # union of removed-lists over versions <= boundary: a file removed
    # at v was referenced by snapshots [birth, v-1] only, all expired
    dead: set[str] = set()
    for v in (v for v in all_versions if v <= boundary):
        raw = table.snapshot(v).raw
        dead.update(raw.get("removed", []))
        # replaced manifest segments die with their last referencing
        # snapshot exactly like data files
        dead.update(raw.get("removed_segments", []))
    removed = 0
    for p in sorted(dead):
        if os.path.exists(p):
            os.remove(p)
            removed += 1
    for v in expiring:
        os.remove(os.path.join(meta, f"snap-{v:012d}.json"))
    return removed


def vacuum_orphans(table: LakeTable, grace_s: float = 86400.0) -> int:
    """Delete data files referenced by NO retained snapshot — the
    leftovers of failed/interrupted commits (their dirs are inert for
    correctness but accumulate forever) and of expired history.
    Iceberg's remove_orphan_files analogue.

    Liveness is O(HEAD + removed-lists), not O(snapshots × files):
    every file some retained snapshot references is either in HEAD's
    listing or in the ``removed`` list of the (existing) commit where
    its last reference died — the same bookkeeping that makes
    expire_snapshots O(changed). Only HEAD's manifest segments are
    opened; the old implementation loaded every
    snapshot's full listing (every segment of every snapshot), which
    is quadratic-ish on a long-unexpired table. Temp files a crash
    stranded in the metadata dir before their publish are swept too.

    ``grace_s``: only files older than this are touched — an IN-FLIGHT
    commit has already written its files but not yet published its
    snapshot, and deleting them would corrupt it. Keep the grace
    comfortably above the longest plausible commit. Returns files
    removed; empty commit dirs are pruned too."""
    live: set[str] = set()
    live_segs: set[str] = set()
    meta = table._meta()
    versions = published_versions(meta)
    for v in versions:
        raw = table.snapshot(v).raw
        live.update(os.path.abspath(p) for p in raw.get("removed", ()))
        live_segs.update(
            os.path.abspath(p) for p in raw.get("removed_segments", ())
        )
    if versions:
        head_snap = table.snapshot(versions[-1])
        for entries in head_snap.files.values():
            live.update(os.path.abspath(e["path"]) for e in entries)
        live_segs.update(
            os.path.abspath(p)
            for p in head_snap.raw["files_segmented"]["segments"].values()
        )
    cutoff = time.time() - grace_s
    removed = 0
    data_root = os.path.join(table.root, "data")
    for commit_dir in sorted(os.listdir(data_root)):
        cdir = os.path.join(data_root, commit_dir)
        if not os.path.isdir(cdir):
            continue
        for dirpath, _dirnames, filenames in os.walk(cdir, topdown=False):
            for fn in filenames:
                p = os.path.abspath(os.path.join(dirpath, fn))
                if p in live:
                    continue
                try:
                    if os.path.getmtime(p) <= cutoff:
                        os.remove(p)
                        removed += 1
                except FileNotFoundError:
                    pass
            try:
                os.rmdir(dirpath)  # only succeeds when fully emptied
            except OSError:
                pass
    # manifest segments referenced by no snapshot (the leftovers of
    # commit attempts that lost their publish race; live_segs is HEAD's
    # map + removed_segments), and stranded temp files
    seg_dir = table._meta(SEGMENTS_DIR)
    stray = [os.path.abspath(os.path.join(seg_dir, fn)) for fn in os.listdir(seg_dir)]
    stray += [os.path.join(meta, fn) for fn in os.listdir(meta) if TMP_MARK in fn]
    for p in stray:
        try:
            if p not in live_segs and os.path.getmtime(p) <= cutoff:
                os.remove(p)
                removed += 1
        except FileNotFoundError:
            pass
    return removed
