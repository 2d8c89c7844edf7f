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

import time

from pyspark.sql import SparkSession, functions as F

from nebula_spark.lake.table import DELETED_COL, SEQ_COL, LakeTable


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
    Returns a summary dict. Atomic (one snapshot commit); the read,
    the layout and the commit's expected bucket count all come from one
    snapshot read.

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

    commit_dir = table.new_commit_dir()
    # repartition by the KEY into exactly n_buckets partitions: Spark's
    # HashPartitioning shares bucket_expr's Murmur3, so partition id ==
    # bucket id — one bucket per write task, one (or maxRecordsPerFile-
    # rolled) file per bucket. Hashing the _bucket VALUE instead lands
    # several buckets per task and leaves ~1/e of tasks empty
    # (guide §2.5, synthetic keys with too few distinct values).
    df = df.repartition(snap.n_buckets, F.col(snap.key_col))
    if cluster_by_key:
        # a task holds exactly one bucket now, but sorting by
        # (_bucket, key) stays correct if a future layout ever changes
        # that — every rolled file is a sorted contiguous key range
        df = df.sortWithinPartitions("_bucket", snap.key_col)
    writer = df.write.partitionBy("_bucket").mode("append")
    if max_file_rows is not None:
        writer = writer.option("maxRecordsPerFile", int(max_file_rows))
    writer.parquet(commit_dir)
    new_files = LakeTable.list_written_files(commit_dir, key_col=snap.key_col)
    new_snap = table.commit(
        new_files_by_bucket=new_files,
        replaced_buckets=chosen,
        summary={"operation": "compact", "buckets": len(chosen)},
        expect_n_buckets=snap.n_buckets,
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
    ``new_n_buckets`` + every old bucket replaced. Readers on older
    snapshots keep the old layout (a snapshot pins its n_buckets);
    readers of HEAD see the new one. Concurrency is strict: a rescale
    never rebases (it is a full rewrite — whoever commits first wins,
    ConcurrentBucketConflict tells the loser to recompute), and every
    data writer passes expect_n_buckets so a merge computed under the
    old layout that commits after the rescale conflicts cleanly instead
    of writing files with meaningless bucket ids."""
    from nebula_spark.lake.table import bucket_expr

    t0 = time.time()
    snap = table.snapshot()
    old_nb, key = snap.n_buckets, snap.key_col
    if int(new_n_buckets) == old_nb:
        return {"rescaled": False, "n_buckets": old_nb, "version": snap.version}
    df = table.read(spark, version=snap, include_internal=True)
    df = df.withColumn("_bucket", bucket_expr(key, int(new_n_buckets)))
    commit_dir = table.new_commit_dir()
    # key-hash repartition at the NEW width: partition id == new bucket
    # id (see compact) — one write task per new bucket
    df.repartition(int(new_n_buckets), F.col(key)).write.partitionBy(
        "_bucket"
    ).mode("append").parquet(commit_dir)
    new_files = LakeTable.list_written_files(commit_dir, key_col=key)
    new_props = None
    if (
        int(new_n_buckets) >= 256
        and "manifest_segment_buckets" not in (snap.raw.get("properties") or {})
    ):
        # growing past the wide-table threshold: adopt segmented
        # manifests in the same commit — the rescale is a full rewrite
        # anyway, so the one-time every-segment write is free here
        # (same default/threshold as LakeTable.create)
        new_props = {"manifest_segment_buckets": 64}
    new_snap = table.commit(
        new_files_by_bucket=new_files,
        replaced_buckets=sorted(snap.files.keys()),
        new_n_buckets=int(new_n_buckets),
        expect_n_buckets=old_nb,
        new_properties=new_props,
        # the rewrite was computed from snap — ANY commit landing in
        # between (even a pure append) would be silently erased by this
        # full replace, so the commit is pinned to the planned version
        base_version=snap.version,
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


def set_segmentation(table: LakeTable, width: int) -> dict:
    """Switch a live table's manifest layout — inline ↔ segmented, or a
    new segment width — WITHOUT touching data files: one metadata-only
    commit whose ``new_properties`` carries the new
    ``manifest_segment_buckets``; the commit's file store sees the
    parent/child width mismatch and rewrites every populated segment
    (or inlines them for width 0) exactly once. The escape hatch for a
    big table created inline before it grew: adopting segmented
    manifests costs one O(table) metadata write instead of a rescale's
    O(table) data rewrite. Concurrency: plain optimistic commit — a
    racing data commit wins or loses the O_EXCL race like any other;
    no data is at stake either way."""
    snap = table.snapshot()
    cur = int(
        (snap.raw.get("properties") or {}).get("manifest_segment_buckets", 0)
        or 0
    )
    if cur == int(width):
        return {"changed": False, "width": cur, "version": snap.version}
    new_snap = table.commit(
        new_properties={"manifest_segment_buckets": int(width)},
        summary={"operation": "set-segmentation", "width": int(width)},
    )
    return {
        "changed": True,
        "from_width": cur,
        "width": int(width),
        "version": new_snap.version,
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
    + concurrency posture as rescale: pinned base_version, full
    replace, losers conflict cleanly."""
    from pyspark.sql import functions as F, types as T

    if isinstance(new_type, str):
        from nebula_spark.lake.table import type_from_ddl

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
    from nebula_spark.lake.table import INTERNAL_FIELDS, bucket_expr

    df = df.withColumn("_bucket", bucket_expr(key, nb))

    new_user = T.StructType(
        [
            T.StructField(f.name, new_type, True, f.metadata)
            if f.name == column
            else f
            for f in user.fields
        ]
    )
    commit_dir = table.new_commit_dir()
    # one write task per bucket (see compact's note)
    df.repartition(nb, F.col(key)).write.partitionBy("_bucket").mode(
        "append"
    ).parquet(commit_dir)
    new_files = LakeTable.list_written_files(commit_dir, key_col=key)
    new_snap = table.commit(
        new_files_by_bucket=new_files,
        replaced_buckets=sorted(snap.files.keys()),
        new_schema=T.StructType(list(new_user.fields) + INTERNAL_FIELDS),
        expect_n_buckets=nb,
        base_version=snap.version,
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
    walked. Snapshots from before the ``removed`` field existed fall
    back to the full walk."""
    import os

    head = table.snapshot().version
    boundary = max(0, head - keep_last + 1)  # first RETAINED version
    meta = table._meta()
    all_versions = {
        int(f[5:17]) for f in os.listdir(meta) if f.startswith("snap-")
    }
    expiring = sorted(v for v in all_versions if v < boundary)
    if not expiring:
        return 0
    # union of removed-lists over versions <= boundary: a file removed
    # at v was referenced by snapshots [birth, v-1] only, all expired
    dead: set[str] = set()
    legacy = False
    for v in sorted(v for v in all_versions if v <= boundary):
        raw = table.snapshot(v).raw
        if v > 0 and "removed" not in raw:
            legacy = True
            break
        dead.update(raw.get("removed", []))
        # segmented manifests: replaced segment JSONs die with their
        # last referencing snapshot exactly like data files
        dead.update(raw.get("removed_segments", []))
    if legacy:
        return _expire_snapshots_full_walk(table, keep_last)
    removed = 0
    for p in sorted(dead):
        if os.path.exists(p):
            os.remove(p)
            removed += 1
    for v in expiring:
        os.remove(os.path.join(meta, f"snap-{v:012d}.json"))
    return removed


def _expire_snapshots_full_walk(table: LakeTable, keep_last: int = 10) -> int:
    """Legacy path for tables whose old snapshots predate the
    ``removed`` commit field: liveness from walking every snapshot."""
    import os

    head = table.snapshot().version
    keep_versions = set(range(max(0, head - keep_last + 1), head + 1))
    meta = table._meta()
    all_versions = {
        int(f[5:17]) for f in os.listdir(meta) if f.startswith("snap-")
    }
    # files referenced by any retained snapshot stay
    live: set[str] = set()
    for v in keep_versions:
        if v in all_versions:
            for entries in table.snapshot(v).files.values():
                live.update(e["path"] for e in entries)
    removed = 0
    for v in sorted(all_versions):
        if v in keep_versions:
            continue
        for entries in table.snapshot(v).files.values():
            for e in entries:
                p = e["path"]
                if p not in live and os.path.exists(p):
                    os.remove(p)
                    removed += 1
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
    expire_snapshots O(changed). On a segmented table only HEAD's
    manifest segments are opened; the old implementation loaded every
    snapshot's full listing (every segment of every snapshot), which
    is quadratic-ish on a long-unexpired table. Snapshots predating
    the ``removed`` field fall back to the full walk.

    ``grace_s``: only files older than this are touched — an IN-FLIGHT
    commit has already written its files but not yet published its
    snapshot, and deleting them would corrupt it. Keep the grace
    comfortably above the longest plausible commit. Returns files
    removed; empty commit dirs are pruned too."""
    import os
    import time

    live: set[str] = set()
    live_segs: set[str] = set()
    meta = table._meta()
    versions = sorted(
        int(f[5:17]) for f in os.listdir(meta) if f.startswith("snap-")
    )
    legacy = False
    for v in versions:
        raw = table.snapshot(v).raw
        if v > 0 and "removed" not in raw:
            legacy = True
            break
        live.update(os.path.abspath(p) for p in raw.get("removed", ()))
        live_segs.update(
            os.path.abspath(p) for p in raw.get("removed_segments", ())
        )
    if legacy:
        live, live_segs = set(), set()
        for v in versions:
            snap = table.snapshot(v)
            for entries in snap.files.values():
                live.update(os.path.abspath(e["path"]) for e in entries)
            seg = snap.raw.get("files_segmented")
            if seg:
                live_segs.update(
                    os.path.abspath(p) for p in seg["segments"].values()
                )
    elif versions:
        head_snap = table.snapshot(versions[-1])
        for entries in head_snap.files.values():
            live.update(os.path.abspath(e["path"]) for e in entries)
        seg = head_snap.raw.get("files_segmented")
        if seg:
            live_segs.update(
                os.path.abspath(p) for p in seg["segments"].values()
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
    # manifest segments: sweep JSONs referenced by no snapshot (the
    # leftovers of commit attempts that lost their O_EXCL race) —
    # live_segs was computed above (HEAD's map + removed_segments, or
    # the legacy full walk)
    seg_dir = os.path.join(meta, "segments")
    if os.path.isdir(seg_dir):
        for fn in os.listdir(seg_dir):
            p = os.path.abspath(os.path.join(seg_dir, fn))
            try:
                if p not in live_segs and os.path.getmtime(p) <= cutoff:
                    os.remove(p)
                    removed += 1
            except FileNotFoundError:
                pass
    return removed
