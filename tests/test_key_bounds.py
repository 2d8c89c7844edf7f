"""Per-file KEY bounds + file-level replace: a CoW merge keeps (unread,
unrewritten) any file of a touched bucket whose recorded [min_key,
max_key] provably misses the batch's key span — Iceberg's manifest
column bounds applied to the merge path. The payoff workload is the
typical CDC feed with monotonic primary keys: fresh batches touch
recent id ranges, so old generations prune away and per-batch cost
stops growing with bucket history."""

import pytest
from pyspark.sql import functions as F, types as T

from nebula_spark.lake import LakeTable, merge_into
from nebula_spark.lake.maintenance import compact

_SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType(), False),
        T.StructField("v", T.LongType(), True),
    ]
)


def _batch(spark, keys, seq0, op="INSERT", val=lambda i: i):
    rows = [(seq0 + i, op, k, None if op == "DELETE" else val(i)) for i, k in enumerate(keys)]
    return spark.createDataFrame(
        rows, "op_sequence long, op string, k string, v long"
    )


def _paths(table):
    return {
        e["path"] for es in table.snapshot().files.values() for e in es
    }


def test_merge_keeps_key_disjoint_files(spark, tmp_path):
    table = LakeTable.create(str(tmp_path / "t"), _SCHEMA, "k", n_buckets=2)
    oracle = {}

    gen0 = [f"k{i:06d}" for i in range(200)]
    merge_into(spark, table, _batch(spark, gen0, 0), epoch=0)
    oracle.update({k: i for i, k in enumerate(gen0)})
    p0 = _paths(table)
    # bounds recorded in the manifest
    assert all(
        "min_key" in e and "max_key" in e
        for es in table.snapshot().files.values()
        for e in es
    )

    # a later id range: every generation-0 file is key-disjoint from
    # the batch and must survive the merge untouched
    gen1 = [f"k{200000 + i:06d}" for i in range(200)]
    merge_into(spark, table, _batch(spark, gen1, 1000), epoch=1)
    oracle.update({k: i for i, k in enumerate(gen1)})
    snap = table.snapshot()
    assert p0 <= _paths(table), "key-disjoint files were rewritten"
    assert snap.raw["summary"]["files_kept"] >= len(p0)

    # an update batch back in the OLD range: gen-0 files are rewritten,
    # gen-1 files kept
    p1_only = _paths(table) - p0
    upd = [f"k{i:06d}" for i in range(10)]
    merge_into(
        spark, table, _batch(spark, upd, 2000, val=lambda i: 9000 + i), epoch=2
    )
    oracle.update({k: 9000 + i for i, k in enumerate(upd)})
    assert p1_only <= _paths(table), "disjoint newer generation was rewritten"
    assert not (p0 & _paths(table)), "updated files must be replaced"

    got = {r["k"]: r["v"] for r in table.read(spark).collect()}
    assert got == oracle
    # row-list equality too: file-level replace must not duplicate keys
    assert table.read(spark).count() == len(oracle)

    # compaction resets the fragmentation and state survives
    compact(spark, table)
    got2 = {r["k"]: r["v"] for r in table.read(spark).collect()}
    assert got2 == oracle
    assert all(len(es) == 1 for es in table.snapshot().files.values())


def test_merge_prune_deletes_and_inserts_complete(spark, tmp_path):
    """Pruned files can neither hide a matched key (updates/deletes
    complete) nor shadow an insert: deletes in a new range + inserts
    colliding with nothing must behave exactly as without pruning."""
    table = LakeTable.create(str(tmp_path / "t"), _SCHEMA, "k", n_buckets=2)
    gen0 = [f"k{i:06d}" for i in range(100)]
    merge_into(spark, table, _batch(spark, gen0, 0), epoch=0)
    gen1 = [f"k{500000 + i:06d}" for i in range(100)]
    merge_into(spark, table, _batch(spark, gen1, 1000), epoch=1)
    # delete half of gen1 (gen0 files disjoint → kept)
    p0 = _paths(table)
    dels = gen1[:50]
    merge_into(spark, table, _batch(spark, dels, 2000, op="DELETE"), epoch=2)
    got = {r["k"] for r in table.read(spark).collect()}
    assert got == set(gen0) | set(gen1[50:])
    # re-insert the deleted keys (must beat the tombstones)
    merge_into(
        spark, table, _batch(spark, dels, 3000, val=lambda i: -i), epoch=3
    )
    got2 = {r["k"]: r["v"] for r in table.read(spark).collect()}
    assert set(got2) == set(gen0) | set(gen1)
    assert got2[dels[0]] == 0 and got2[dels[5]] == -5


def test_pruned_merge_conflicts_with_concurrent_compaction(spark, tmp_path):
    """FILE-level replace is not content-preserving the way a bucket
    replace is: if a compaction lands between the pruned merge's plan
    and its commit, silently committing would drop the pruned files'
    rows (their content lives only in the compacted file the commit
    would replace). The pinned base_version must turn that window into
    a clean ConcurrentBucketConflict, and a retry against the new
    snapshot must converge to the right state."""
    from nebula_spark.lake.table import ConcurrentBucketConflict

    table = LakeTable.create(str(tmp_path / "t"), _SCHEMA, "k", n_buckets=2)
    gen0 = [f"k{i:06d}" for i in range(200)]
    merge_into(spark, table, _batch(spark, gen0, 0), epoch=0)
    gen1 = [f"k{500000 + i:06d}" for i in range(200)]
    merge_into(spark, table, _batch(spark, gen1, 1000), epoch=1)
    oracle = {k: i for i, k in enumerate(gen0)}
    oracle.update({k: i for i, k in enumerate(gen1)})

    # update batch in the OLD range → gen1 files would be pruned; race
    # a compaction into the plan-to-commit window by intercepting the
    # merge's own commit call
    real_commit = LakeTable.commit
    state = {"fired": False}

    def racing_commit(self, *args, **kwargs):
        if (
            not state["fired"]
            and (kwargs.get("summary") or {}).get("operation") == "merge"
        ):
            state["fired"] = True
            compact(spark, table)  # lands first; goes through this
            # wrapper too but fired=True passes it straight through
        return real_commit(self, *args, **kwargs)

    LakeTable.commit = racing_commit
    try:
        upd = _batch(spark, gen0[:10], 2000, val=lambda i: 7000 + i)
        with pytest.raises(ConcurrentBucketConflict):
            merge_into(spark, table, upd, epoch=2)
    finally:
        LakeTable.commit = real_commit

    # nothing lost: the compacted state is exactly the pre-merge oracle
    got = {r["k"]: r["v"] for r in table.read(spark).collect()}
    assert got == oracle
    # the losing epoch was NOT recorded as applied; the retry converges
    assert not table.snapshot().epoch_applied(2)
    upd = _batch(spark, gen0[:10], 2000, val=lambda i: 7000 + i)
    merge_into(spark, table, upd, epoch=2)
    oracle.update({k: 7000 + i for i, k in enumerate(gen0[:10])})
    got2 = {r["k"]: r["v"] for r in table.read(spark).collect()}
    assert got2 == oracle


def test_prunable_files_never_prunes_without_bounds(spark, tmp_path):
    """Entries lacking key bounds (legacy snapshots, exotic key types)
    must never be pruned."""
    # explicitly INLINE manifest (segment width 0): this test edits
    # raw["files"] to simulate a pre-key-bounds legacy snapshot
    table = LakeTable.create(
        str(tmp_path / "t"),
        _SCHEMA,
        "k",
        n_buckets=1,
        properties={"manifest_segment_buckets": 0},
    )
    merge_into(spark, table, _batch(spark, ["a", "b"], 0), epoch=0)
    # simulate a legacy manifest entry: strip the recorded bounds
    snap = table.snapshot()
    for es in snap.raw["files"].values():
        for e in es:
            e.pop("min_key", None)
            e.pop("max_key", None)
    table._write_snapshot(snap.version + 1, {**snap.raw, "version": snap.version + 1, "parent": snap.version})
    assert table.prunable_files([0], {0: ("x", "z")}) == {}
    # and unknown batch bounds prune nothing either
    assert table.prunable_files([0], {0: (None, None)}) == {}
