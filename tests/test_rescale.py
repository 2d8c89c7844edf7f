"""Bucket-count rescale — partition-spec evolution on a live table.

n_buckets is frozen at create; at 10^10 events a table created small
must move to 4096+ buckets or every bucket becomes a multi-GB
rewrite/fold unit. rescale() is the atomic re-bucketing commit
(Iceberg's partition-spec evolution; the reference's only analogue is
re-creating the sink)."""

import pytest
from pyspark.sql import functions as F

from nebula_spark.cdc import gen_binlog
from nebula_spark.cdc.binlog import SEQUENCE_SCHEMA
from nebula_spark.lake import LakeTable
from nebula_spark.lake.maintenance import rescale
from nebula_spark.lake.merge import merge_into
from nebula_spark.lake.table import ConcurrentBucketConflict

from tests.oracle import assert_equivalent, replay_final_state


def _mk(spark, tmp_path, mode="cow", n_buckets=4, events=4000, docs=300, seed=41):
    table = LakeTable.create(
        str(tmp_path / f"t_{mode}"),
        SEQUENCE_SCHEMA,
        "doc_id",
        n_buckets=n_buckets,
        properties={"merge_mode": mode},
    )
    merge_into(spark, table, gen_binlog(spark, events, docs, seed=seed), epoch=0)
    merge_into(
        spark,
        table,
        gen_binlog(spark, events, docs, seed=seed + 1).withColumn(
            "op_sequence", F.col("op_sequence") + events
        ),
        epoch=1,
    )
    return table


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_rescale_preserves_rows_and_relayouts(spark, tmp_path, mode):
    table = _mk(spark, tmp_path, mode=mode)
    before = sorted(tuple(r) for r in table.read(spark).collect())
    out = rescale(spark, table, 16)
    assert out["rescaled"] and out["from_n_buckets"] == 4
    assert table.snapshot().n_buckets == 16
    after = sorted(tuple(r) for r in table.read(spark).collect())
    assert before == after and before

    snap = table.snapshot()
    assert set(snap.files) <= set(range(16)) and len(snap.files) > 4
    # one file per bucket: the rescale doubles as a full compaction
    assert all(len(fs) == 1 for fs in snap.files.values())
    # files really hold the new layout: a bucket-pruned read returns
    # only keys whose NEW bucket id matches
    for b in sorted(snap.files)[:3]:
        got = (
            table.read(spark, buckets=[b])
            .select(F.pmod(F.hash(F.col("doc_id")), F.lit(16)).alias("bb"))
            .distinct()
            .collect()
        )
        assert {r["bb"] for r in got} == {b}


def test_rescale_noop_and_merge_prunes_new_layout(spark, tmp_path):
    table = _mk(spark, tmp_path)
    assert rescale(spark, table, 4) == {
        "rescaled": False,
        "n_buckets": 4,
        "version": table.snapshot().version,
    }
    rescale(spark, table, 32)
    # a small post-rescale merge touches only its computed buckets
    v_before = table.snapshot()
    small = gen_binlog(spark, 20, 300, seed=47).withColumn(
        "op_sequence", F.col("op_sequence") + 50_000
    )
    res = merge_into(spark, table, small, epoch=2)
    assert 0 < res.buckets_touched < 32
    changed = {
        b
        for b in set(table.snapshot().files) | set(v_before.files)
        if table.snapshot().files.get(b) != v_before.files.get(b)
    }
    assert len(changed) == res.buckets_touched


def test_replay_across_midstream_rescale_matches_oracle(spark, tmp_path):
    binlog = gen_binlog(spark, 8000, 400, seed=43)
    path = str(tmp_path / "binlog")
    binlog.write.parquet(path)
    df = spark.read.parquet(path)
    table = LakeTable.create(
        str(tmp_path / "t"), SEQUENCE_SCHEMA, "doc_id", n_buckets=4
    )
    merge_into(spark, table, df.filter(F.col("op_sequence") < 4000), epoch=0)
    rescale(spark, table, 32)
    merge_into(spark, table, df.filter(F.col("op_sequence") >= 4000), epoch=1)
    assert_equivalent(table.read(spark), replay_final_state(path + "/*.parquet"))
    # idempotence carried across the rescale: both epochs survive in the
    # manifest, a redelivered epoch skips
    assert {"0", "1"} <= set(table.snapshot().applied)
    res = merge_into(spark, table, df.filter(F.col("op_sequence") < 4000), epoch=0)
    assert res.skipped


def test_merge_after_rescale_conflicts_cleanly(spark, tmp_path):
    """A writer that planned under the OLD layout and commits after the
    rescale must get ConcurrentBucketConflict, not silently write files
    with meaningless bucket ids."""
    table = _mk(spark, tmp_path)
    old_nb = table.snapshot().n_buckets
    rescale(spark, table, 8)
    with pytest.raises(ConcurrentBucketConflict, match="rescaled"):
        table.commit(
            new_files_by_bucket={},
            replaced_buckets=[0],
            expect_n_buckets=old_nb,
        )


def test_rescale_loses_race_to_concurrent_merge(spark, tmp_path, monkeypatch):
    """A merge that fully lands between the rescale's plan-read and its
    commit must NOT be erased by the full rewrite: the pinned
    base_version turns it into a clean conflict the rescale can retry."""
    table = _mk(spark, tmp_path)
    fired = {"done": False}
    orig_new_commit_dir = LakeTable.new_commit_dir

    def racy_new_commit_dir(self):
        # first call = the rescale allocating its commit dir (after its
        # plan pinned the snapshot); inject a full competing merge here
        if not fired["done"]:
            fired["done"] = True
            merge_into(
                spark,
                self,
                gen_binlog(spark, 50, 300, seed=48).withColumn(
                    "op_sequence", F.col("op_sequence") + 90_000
                ),
                epoch=9,
            )
        return orig_new_commit_dir(self)

    monkeypatch.setattr(LakeTable, "new_commit_dir", racy_new_commit_dir)
    with pytest.raises(ConcurrentBucketConflict, match="advanced"):
        rescale(spark, table, 8)
    monkeypatch.undo()
    # nothing was lost: the competing merge's epoch and rows are intact
    assert "9" in table.snapshot().applied
    assert table.snapshot().n_buckets == 4
    # and the retry (against the new snapshot) succeeds
    out = rescale(spark, table, 8)
    assert out["rescaled"] and table.snapshot().n_buckets == 8


def test_incremental_diff_across_rescale_falls_back(spark, tmp_path):
    """Manifest-diff incremental reads prune by bucket id — incomparable
    across layouts, so a diff spanning a rescale must fall back to the
    full comparison and still return exactly the changed rows."""
    from nebula_spark.io.sources import incremental_diff

    table = _mk(spark, tmp_path)
    v0 = table.snapshot().version
    rescale(spark, table, 16)
    batch = gen_binlog(spark, 100, 300, seed=49).withColumn(
        "op_sequence", F.col("op_sequence") + 70_000
    )
    merge_into(spark, table, batch, epoch=5)
    diff = incremental_diff(spark, table.root, from_version=v0)
    got = {r["doc_id"] for r in diff.collect()}
    want = {r["doc_id"] for r in batch.select("doc_id").distinct().collect()}
    assert got == want


def test_stream_rescale_resume_roundtrip(spark, tmp_path):
    """Operational rescale on a STREAMING table: drain half the backlog,
    rescale while the stream is stopped, resume from the SAME
    checkpoint — post-rescale merges pick up the new layout, epochs
    survive, final state matches the oracle."""
    import os

    from nebula_spark.cdc.binlog import write_binlog_chunks
    from nebula_spark.streaming.ingest import run_stream

    binlog_dir = str(tmp_path / "binlog")
    log = gen_binlog(spark, 6000, 250, seed=171)
    chunks = write_binlog_chunks(log, binlog_dir, n_chunks=6, files_per_chunk=1)

    staged = str(tmp_path / "staged")
    os.makedirs(staged)
    for c in chunks[:3]:
        os.symlink(c, os.path.join(staged, os.path.basename(c)))
    table = LakeTable.create(
        str(tmp_path / "t"), SEQUENCE_SCHEMA, "doc_id", n_buckets=4
    )
    ckpt = str(tmp_path / "ckpt")
    run_stream(spark, table, staged, checkpoint_dir=ckpt, max_files_per_trigger=1)

    out = rescale(spark, table, 16)
    assert out["rescaled"] and table.snapshot().n_buckets == 16

    for c in chunks[3:]:
        os.symlink(c, os.path.join(staged, os.path.basename(c)))
    m2 = run_stream(spark, table, staged, checkpoint_dir=ckpt, max_files_per_trigger=1)
    assert m2["skipped"] == 0 and m2["batches"] == 3

    from tests.oracle import assert_equivalent, replay_final_state

    assert_equivalent(
        table.read(spark),
        replay_final_state(os.path.join(binlog_dir, "*", "*.parquet")),
    )
    assert set(table.snapshot().files) <= set(range(16))
