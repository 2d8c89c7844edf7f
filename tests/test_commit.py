"""The commit rule, with no Spark: ``LakeTable.commit(base)`` publishes
on top of the snapshot the writer read, rebases over intervening commits
that cannot have changed its input, and raises otherwise. Data files are
fake (:func:`tests.fakes.fake_file`); only the manifests are real."""

import json
import os
import stat

import pytest
from pyspark.sql import types as T

from nebula_spark.lake import LakeTable
from nebula_spark.lake.maintenance import expire_snapshots, vacuum_orphans
from nebula_spark.lake.table import (
    HEAD_FILE,
    INTERNAL_FIELDS,
    META_DIR,
    SNAP_FMT,
    TMP_MARK,
    ConcurrentBucketConflict,
)
from tests.fakes import fake_file

_SCHEMA = T.StructType([
    T.StructField("k", T.StringType(), False),
    T.StructField("v", T.LongType(), True),
])


def _table(tmp_path):
    return LakeTable.create(str(tmp_path / "t"), _SCHEMA, "k", n_buckets=4)


def _append(table, path, bucket=0, base=None):
    return table.commit(
        base or table.snapshot(),
        new_files_by_bucket={bucket: [fake_file(path)]},
        summary={"operation": "append"},
    )


def _paths(snap, bucket=0):
    return sorted(e["path"] for e in snap.files.get(bucket, []))


def _meta_files(table):
    return sorted(os.listdir(table._meta()))


def test_stray_snapshot_ahead_of_head_is_rolled_forward(tmp_path):
    """A crash between publishing snap-N and updating HEAD leaves HEAD at
    N-1: readers see N and the next commit lands at N+1."""
    table = _table(tmp_path)
    _append(table, "/fake/f1.parquet")
    _append(table, "/fake/f2.parquet")
    with open(table._meta(HEAD_FILE), "w") as f:
        f.write("1")
    assert table.snapshot().version == 2
    snap = _append(table, "/fake/f3.parquet")
    assert snap.version == 3
    assert _paths(table.snapshot()) == [
        "/fake/f1.parquet", "/fake/f2.parquet", "/fake/f3.parquet"
    ]


def test_failure_after_temp_write_leaves_table_writable(tmp_path, monkeypatch):
    """A publish that fails once its snapshot bytes are written (here:
    the fsync of the snapshot's temp file) leaves no version behind, no
    stray snapshot, and a table the next commit lands on."""
    table = _table(tmp_path)
    _append(table, "/fake/f1.parquet")
    before = _meta_files(table)
    real_fsync = os.fsync
    calls = []

    def failing_fsync(fd):
        ino = os.fstat(fd).st_ino
        if not calls and any(
            TMP_MARK in n and os.stat(table._meta(n)).st_ino == ino
            for n in os.listdir(table._meta())
        ):
            calls.append(fd)
            raise OSError("injected fsync failure")
        return real_fsync(fd)

    monkeypatch.setattr(os, "fsync", failing_fsync)
    with pytest.raises(OSError, match="injected"):
        _append(table, "/fake/lost.parquet")
    monkeypatch.undo()

    assert _meta_files(table) == before
    assert table.snapshot().version == 1
    snap = _append(table, "/fake/f2.parquet")
    assert snap.version == 2
    assert _paths(table.snapshot()) == ["/fake/f1.parquet", "/fake/f2.parquet"]


def test_vacuum_sweeps_stranded_temp_files(tmp_path):
    """A temp file stranded by a crash before its publish is never read
    as a version and is swept by vacuum_orphans once past the grace."""
    table = _table(tmp_path)
    _append(table, "/fake/f1.parquet")
    stray = table._meta(f".snap-000000000002.json{TMP_MARK}deadbeef")
    with open(stray, "w") as f:
        f.write("{")
    assert table.snapshot().version == 1
    assert expire_snapshots(table, keep_last=1) == 0
    vacuum_orphans(table, grace_s=3600)
    assert os.path.exists(stray)
    vacuum_orphans(table, grace_s=0)
    assert not os.path.exists(stray)
    assert _append(table, "/fake/f2.parquet").version == 2


def test_compaction_conflicts_with_append_and_retry_keeps_both(tmp_path):
    """A compaction planned at v1 that commits after an append landed at
    v2 must not drop the appended file: it conflicts, and the retry
    against v2 rewrites both files."""
    table = _table(tmp_path)
    _append(table, "/fake/f1.parquet")
    planned = table.snapshot()
    _append(table, "/fake/appended.parquet")
    compaction = dict(
        new_files_by_bucket={0: [fake_file("/fake/f3.parquet", 2)]},
        replaced_buckets=[0],
        summary={"operation": "compact"},
    )
    with pytest.raises(ConcurrentBucketConflict, match="advanced"):
        table.commit(planned, **compaction)
    assert _paths(table.snapshot()) == ["/fake/appended.parquet", "/fake/f1.parquet"]

    snap = table.commit(table.snapshot(), **compaction)
    assert _paths(snap) == ["/fake/f3.parquet"]
    assert snap.raw["removed"] == ["/fake/appended.parquet", "/fake/f1.parquet"]


def test_disjoint_replace_rebases_over_append(tmp_path):
    """A bucket replace computed before an append to ANOTHER bucket
    rebases: both land."""
    table = _table(tmp_path)
    _append(table, "/fake/b0.parquet", bucket=0)
    _append(table, "/fake/b1.parquet", bucket=1)
    planned = table.snapshot()
    _append(table, "/fake/b1-new.parquet", bucket=1)
    snap = table.commit(
        planned,
        new_files_by_bucket={0: [fake_file("/fake/b0-rewritten.parquet")]},
        replaced_buckets=[0],
    )
    assert snap.version == 4 and snap.raw["parent"] == 3
    assert _paths(snap, 0) == ["/fake/b0-rewritten.parquet"]
    assert _paths(snap, 1) == ["/fake/b1-new.parquet", "/fake/b1.parquet"]


def test_evolving_commit_conflicts_with_intervening_add_column(tmp_path):
    """A commit that evolves the schema from v1 conflicts with an
    add_column that landed since; a plain append from v1 rebases and
    records the schema its file was written with."""
    table = _table(tmp_path)
    _append(table, "/fake/f1.parquet")
    planned = table.snapshot()
    table.add_column("lang", "string")
    wider = T.StructType(
        list(planned.user_schema.fields)
        + [T.StructField("origin", T.StringType(), True)]
        + INTERNAL_FIELDS
    )
    with pytest.raises(ConcurrentBucketConflict, match="schema"):
        table.commit(planned.evolve(wider), summary={"operation": "evolve"})
    assert "origin" not in table.snapshot().user_schema.fieldNames()

    snap = _append(table, "/fake/f2.parquet", base=planned)
    assert snap.schema_version == planned.schema_version + 1
    entry = next(e for e in snap.files[0] if e["path"] == "/fake/f2.parquet")
    assert entry["schema_version"] == planned.schema_version


def test_stale_base_past_expired_snapshots_never_publishes_below_head(tmp_path):
    """A base older than the expired history cannot be checked against
    it: the commit raises instead of publishing a version below HEAD."""
    table = _table(tmp_path)
    _append(table, "/fake/f0.parquet")
    stale = table.snapshot()
    for i in range(8):
        _append(table, f"/fake/f{i + 1}.parquet", bucket=1)
    expire_snapshots(table, keep_last=3)
    head = table.snapshot().version
    versions = _meta_files(table)
    with pytest.raises(ConcurrentBucketConflict, match="expired"):
        _append(table, "/fake/late.parquet", base=stale)
    assert table.snapshot().version == head
    assert _meta_files(table) == versions


def test_create_crash_before_head_leaves_a_loadable_table(tmp_path, monkeypatch):
    """A crash between publishing snap-0 and writing the first HEAD
    leaves a table, not a wedged directory: it exists, loads, and its
    next commit lands at v1."""
    def crash(*args, **kwargs):
        raise OSError("injected crash before HEAD")

    monkeypatch.setattr(os, "replace", crash)
    with pytest.raises(OSError, match="injected"):
        _table(tmp_path)
    monkeypatch.undo()
    root = str(tmp_path / "t")
    assert not os.path.exists(os.path.join(root, META_DIR, HEAD_FILE))
    assert LakeTable.exists(root)
    table = LakeTable.load(root)
    assert table.snapshot().version == 0
    assert _append(table, "/fake/f1.parquet").version == 1
    assert _paths(table.snapshot()) == ["/fake/f1.parquet"]


def test_create_over_empty_meta_dir_and_never_over_a_table(tmp_path):
    """A meta dir holding no snapshot is no table: create succeeds over
    it. A real table is refused, with or without its HEAD hint."""
    os.makedirs(tmp_path / "t" / META_DIR)
    table = _table(tmp_path)
    assert table.snapshot().version == 0
    with pytest.raises(FileExistsError):
        _table(tmp_path)
    os.remove(table._meta(HEAD_FILE))
    with pytest.raises(FileExistsError):
        _table(tmp_path)
    assert table.snapshot().version == 0


def test_expired_table_without_head_is_still_a_table(tmp_path):
    """Once snap-0 is expired, the published snapshots alone make the
    table: with HEAD lost it still exists and loads at its newest
    version, create refuses it, and the next commit lands after it."""
    table = _table(tmp_path)
    for i in range(4):
        _append(table, f"/fake/f{i}.parquet")
    expire_snapshots(table, keep_last=2)
    os.remove(table._meta(HEAD_FILE))
    root = str(tmp_path / "t")
    assert LakeTable.exists(root)
    assert LakeTable.load(root).snapshot().version == 4
    with pytest.raises(FileExistsError):
        _table(tmp_path)
    assert _meta_files(table) == ["segments", SNAP_FMT % 3, SNAP_FMT % 4]
    assert _append(table, "/fake/f4.parquet").version == 5
    assert _paths(table.snapshot()) == [f"/fake/f{i}.parquet" for i in range(5)]


def test_head_naming_an_expired_snapshot_is_skipped(tmp_path):
    """A HEAD hint that lags behind expired history (a crash before two
    HEAD writes) rolls forward from the lowest published snapshot."""
    table = _table(tmp_path)
    for i in range(4):
        _append(table, f"/fake/f{i}.parquet")
    expire_snapshots(table, keep_last=1)
    with open(table._meta(HEAD_FILE), "w") as f:
        f.write("1")
    assert table.snapshot().version == 4


def test_expire_keeps_head_snapshot(tmp_path):
    """keep_last below 1 would delete HEAD's own snapshot: refused
    before anything is deleted."""
    table = _table(tmp_path)
    _append(table, "/fake/f0.parquet")
    before = _meta_files(table)
    for keep in (0, -1):
        with pytest.raises(ValueError, match="keep_last"):
            expire_snapshots(table, keep_last=keep)
    assert _meta_files(table) == before
    assert table.snapshot().version == 1


def test_segments_dir_fsynced_once_before_snapshot_link(tmp_path, monkeypatch):
    """A commit's new segment files are made durable by one fsync of the
    segments dir, before the snapshot naming them is linked into place;
    a commit writing no segment skips it."""
    table = _table(tmp_path)
    seg_ino = os.stat(table._meta("segments")).st_ino
    meta_ino = os.stat(table._meta()).st_ino
    events = []
    real_fsync, real_link = os.fsync, os.link

    def fsync(fd):
        st = os.fstat(fd)
        if stat.S_ISDIR(st.st_mode):
            events.append({seg_ino: "fsync segments", meta_ino: "fsync meta"}[st.st_ino])
        return real_fsync(fd)

    def link(src, dst, *args, **kwargs):
        events.append("link " + os.path.basename(dst))
        return real_link(src, dst, *args, **kwargs)

    monkeypatch.setattr(os, "fsync", fsync)
    monkeypatch.setattr(os, "link", link)
    # buckets 0 and 2 sit in different segments (width 2 at 4 buckets)
    table.commit(
        table.snapshot(),
        new_files_by_bucket={
            0: [fake_file("/fake/b0.parquet")], 2: [fake_file("/fake/b2.parquet")]
        },
    )
    table.add_column("lang", "string")
    monkeypatch.undo()
    assert len(table.snapshot(1).raw["files_segmented"]["segments"]) == 2
    assert events == [
        "fsync segments", "link " + SNAP_FMT % 1, "fsync meta",
        "link " + SNAP_FMT % 2, "fsync meta",
    ]


def test_v1_snapshot_is_refused(tmp_path):
    """Format v1 snapshots (file listings inline) are not read: the
    table must be re-created."""
    table = _table(tmp_path)
    path = table._meta(SNAP_FMT % 0)
    with open(path) as f:
        raw = json.load(f)
    del raw["files_segmented"]
    raw.update(format_version=1, files={})
    with open(path, "w") as f:
        json.dump(raw, f)
    with pytest.raises(ValueError, match="re-create the table"):
        table.snapshot()
