"""Manifest segments, the one file-listing layout: the snapshot JSON
carries only a {segment_id: path} map and per-bucket file entries live
in immutable side JSONs, W = √n_buckets buckets per segment. A commit
rewrites only the segments whose buckets changed (Iceberg's manifest
reuse) — per-commit metadata writes are O(changed segments) instead of
O(all files), and the snapshot holds √n paths. Replaced segments are
tracked like removed data files so expire/vacuum stay O(changed)."""

import json
import os

import pytest
from pyspark.sql import functions as F, types as T

from nebula_spark.lake import LakeTable, merge_into
from nebula_spark.lake.maintenance import (
    compact,
    expire_snapshots,
    rescale,
    vacuum_orphans,
)

_SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType(), False),
        T.StructField("v", T.LongType(), True),
    ]
)


def _batch(spark, keys, seq0, op="INSERT", val=lambda i: i):
    rows = [
        (seq0 + i, op, k, None if op == "DELETE" else val(i))
        for i, k in enumerate(keys)
    ]
    return spark.createDataFrame(
        rows, "op_sequence long, op string, k string, v long"
    )


def _seg_table(tmp_path, n_buckets=16):
    return LakeTable.create(str(tmp_path / "t"), _SCHEMA, "k", n_buckets=n_buckets)


def test_segmented_merge_state_and_snapshot_shape(spark, tmp_path):
    table = _seg_table(tmp_path)
    keys = [f"k{i:05d}" for i in range(300)]
    merge_into(spark, table, _batch(spark, keys, 0), epoch=0)
    merge_into(
        spark, table, _batch(spark, keys[:50], 1000, val=lambda i: 9000 + i), epoch=1
    )
    merge_into(spark, table, _batch(spark, keys[50:70], 2000, op="DELETE"), epoch=2)

    snap = table.snapshot()
    assert "files" not in snap.raw
    seg = snap.raw["files_segmented"]
    assert seg["width"] == 4
    # every populated segment groups buckets of its own range only
    for s, path in seg["segments"].items():
        with open(path) as f:
            content = json.load(f)["files"]
        assert all(int(b) // 4 == int(s) for b in content)
    got = {r["k"]: r["v"] for r in table.read(spark).collect()}
    oracle = {k: i for i, k in enumerate(keys)}
    oracle.update({k: 9000 + i for i, k in enumerate(keys[:50])})
    for k in keys[50:70]:
        del oracle[k]
    assert got == oracle


def test_commit_rewrites_only_changed_segments(spark, tmp_path):
    table = _seg_table(tmp_path)
    keys = [f"k{i:05d}" for i in range(400)]
    merge_into(spark, table, _batch(spark, keys, 0), epoch=0)
    before = dict(table.snapshot().raw["files_segmented"]["segments"])

    # a one-key batch touches ONE bucket → exactly one segment path may
    # change; all others are carried by reference
    merge_into(spark, table, _batch(spark, [keys[0]], 1000, val=lambda i: 1), epoch=1)
    snap = table.snapshot()
    after = dict(snap.raw["files_segmented"]["segments"])
    changed = {s for s in set(before) | set(after) if before.get(s) != after.get(s)}
    assert len(changed) == 1
    # the replaced path is recorded for O(changed) expiry
    assert snap.raw["removed_segments"] == [before[next(iter(changed))]]
    # and the conflict footprint comes out of the segment fast path
    assert 0 < len(snap.changed_buckets) <= 1


def test_files_for_reads_only_needed_segments(spark, tmp_path):
    table = _seg_table(tmp_path)
    keys = [f"k{i:05d}" for i in range(400)]
    merge_into(spark, table, _batch(spark, keys, 0), epoch=0)
    snap = table.snapshot()
    full = snap.files
    # a fresh Snapshot instance (no cache): ask for two buckets
    snap2 = table.snapshot()
    sub = snap2.files_for([0, 5])
    assert set(sub) <= {0, 5}
    for b, es in sub.items():
        assert es == full[b]
    # consistency: full load agrees with itself across instances
    assert {b: [e["path"] for e in es] for b, es in table.snapshot().files.items()} == {
        b: [e["path"] for e in es] for b, es in full.items()
    }


def test_segmented_expire_and_vacuum(spark, tmp_path):
    table = _seg_table(tmp_path)
    keys = [f"k{i:05d}" for i in range(200)]
    merge_into(spark, table, _batch(spark, keys, 0), epoch=0)
    for e in range(1, 8):
        merge_into(
            spark, table, _batch(spark, keys[:20], 1000 * e, val=lambda i, e=e: e), epoch=e
        )
    seg_dir = table._meta("segments")
    n_before = len(os.listdir(seg_dir))
    removed = expire_snapshots(table, keep_last=2)
    assert removed > 0
    n_after = len(os.listdir(seg_dir))
    assert n_after < n_before, "dead segment JSONs must be deleted"
    # table still reads correctly after expiry
    got = {r["k"]: r["v"] for r in table.read(spark).collect()}
    oracle = {k: i for i, k in enumerate(keys)}
    oracle.update({k: 7 for k in keys[:20]})
    assert got == oracle
    # orphan sweep (grace 0) leaves every referenced segment alone
    vacuum_orphans(table, grace_s=0.0)
    got2 = {r["k"]: r["v"] for r in table.read(spark).collect()}
    assert got2 == oracle


def test_segmented_compact_rescale_evolution(spark, tmp_path):
    table = _seg_table(tmp_path, n_buckets=8)
    keys = [f"k{i:05d}" for i in range(300)]
    merge_into(spark, table, _batch(spark, keys, 0), epoch=0)
    merge_into(
        spark, table, _batch(spark, keys[:100], 1000, val=lambda i: -i), epoch=1
    )
    compact(spark, table)
    oracle = {k: i for i, k in enumerate(keys)}
    oracle.update({k: -i for i, k in enumerate(keys[:100])})
    got = {r["k"]: r["v"] for r in table.read(spark).collect()}
    assert got == oracle

    rescale(spark, table, 16)
    assert table.snapshot().raw["n_buckets"] == 16
    # old high-bucket segments were replaced/emptied consistently
    seg = table.snapshot().raw["files_segmented"]
    for s, path in seg["segments"].items():
        with open(path) as f:
            assert all(int(b) < 16 for b in json.load(f)["files"])
    got = {r["k"]: r["v"] for r in table.read(spark).collect()}
    assert got == oracle

    table.add_column("extra", "long", default=5)
    merge_into(
        spark,
        table,
        spark.createDataFrame(
            [(9000, "INSERT", "znew", 1, 42)],
            "op_sequence long, op string, k string, v long, extra long",
        ),
        epoch=2,
    )
    rows = {r["k"]: (r["v"], r["extra"]) for r in table.read(spark).collect()}
    assert rows["znew"] == (1, 42)
    assert rows[keys[5]] == (-5, 5)  # initial default applies to history


def test_segmented_mor_and_lookup(spark, tmp_path):
    table = LakeTable.create(
        str(tmp_path / "t"),
        _SCHEMA,
        "k",
        n_buckets=4,
        properties={"merge_mode": "mor"},
    )
    keys = [f"k{i:05d}" for i in range(100)]
    merge_into(spark, table, _batch(spark, keys, 0), epoch=0)
    merge_into(
        spark, table, _batch(spark, keys[:30], 1000, val=lambda i: 7), epoch=1
    )
    oracle = {k: i for i, k in enumerate(keys)}
    oracle.update({k: 7 for k in keys[:30]})
    got = {r["k"]: r["v"] for r in table.read(spark).collect()}
    assert got == oracle
    out = {r["k"]: r["v"] for r in table.lookup(spark, keys[:3] + ["nope"]).collect()}
    assert out == {k: oracle[k] for k in keys[:3]}


def test_narrow_commit_never_full_loads_segments(spark, tmp_path, monkeypatch):
    """commit() on a segmented table must read ONLY the segments
    covering its touched buckets — O(changed) metadata READS, matching
    the O(changed) writes. A regression to the full `Snapshot.files`
    load (O(table) at 4096 buckets) fails this test."""
    from nebula_spark.lake.table import Snapshot

    table = _seg_table(tmp_path)
    keys = [f"k{i:05d}" for i in range(400)]
    merge_into(spark, table, _batch(spark, keys, 0), epoch=0)

    def boom(self):
        raise AssertionError(
            "narrow segmented commit triggered a full manifest load"
        )

    monkeypatch.setattr(Snapshot, "files", property(boom))
    merge_into(
        spark, table, _batch(spark, keys[:3], 1000, val=lambda i: -1), epoch=1
    )
    monkeypatch.undo()
    got = {r["k"]: r["v"] for r in table.read(spark).collect()}
    oracle = {k: i for i, k in enumerate(keys)}
    oracle.update({k: -1 for k in keys[:3]})
    assert got == oracle


def test_segment_width_is_isqrt_of_buckets(spark, tmp_path):
    """Every table segments its listing at √n_buckets, and no snapshot
    lists files inline."""
    for n, width in [(1, 1), (4, 2), (8, 2), (64, 8), (256, 16), (4096, 64)]:
        t = LakeTable.create(str(tmp_path / f"t{n}"), _SCHEMA, "k", n_buckets=n)
        raw = t.snapshot().raw
        assert raw["files_segmented"] == {"width": width, "segments": {}}
        assert "files" not in raw
    wide = LakeTable.load(str(tmp_path / "t256"))
    merge_into(spark, wide, _batch(spark, [f"k{i}" for i in range(50)], 0), epoch=0)
    assert "files" not in wide.snapshot().raw
    assert wide.read(spark).count() == 50


def test_rescale_past_threshold_adopts_segmented(spark, tmp_path):
    """Rescaling 8 → 256 buckets re-segments the listing from width 2 to
    16 in the same (full-rewrite) commit; state is untouched and later
    narrow commits reuse segments."""
    table = LakeTable.create(str(tmp_path / "t"), _SCHEMA, "k", n_buckets=8)
    keys = [f"k{i:05d}" for i in range(300)]
    merge_into(spark, table, _batch(spark, keys, 0), epoch=0)
    old = table.snapshot().raw["files_segmented"]
    assert old["width"] == 2

    rescale(spark, table, 256)
    snap = table.snapshot()
    assert snap.raw["n_buckets"] == 256
    assert snap.raw["files_segmented"]["width"] == 16
    assert "files" not in snap.raw
    # every width-2 parent segment dies with the rescale
    assert snap.raw["removed_segments"] == sorted(old["segments"].values())
    got = {r["k"]: r["v"] for r in table.read(spark).collect()}
    assert got == {k: i for i, k in enumerate(keys)}

    # narrow follow-up commit reuses untouched segments by path
    before = dict(snap.raw["files_segmented"]["segments"])
    merge_into(spark, table, _batch(spark, [keys[0]], 1000, val=lambda i: -1), epoch=1)
    after = dict(table.snapshot().raw["files_segmented"]["segments"])
    assert any(before.get(s) == p for s, p in after.items())
