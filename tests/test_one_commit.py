"""One snapshot read and one commit per change batch: ``apply_changes``
hands its snapshot to ``merge_into``, whose single commit is made
against it (parsing no snapshot while HEAD has not moved), and an
evolving batch's schema, renames, files and epoch land in that commit."""

import pytest
from pyspark.sql import functions as F, types as T

from nebula_spark.cdc import gen_binlog
from nebula_spark.cdc.apply import apply_changes
from nebula_spark.cdc.binlog import SEQUENCE_SCHEMA
from nebula_spark.lake import LakeTable
from nebula_spark.lake.table import INTERNAL_FIELDS, ConcurrentBucketConflict
from tests.fakes import fake_file


def _calls_on(monkeypatch, table, name):
    """The calls of ``LakeTable.<name>`` on ``table``'s root, recorded
    from now on (other tables, e.g. a dead-letter table, not counted)."""
    calls = []
    orig = getattr(LakeTable, name)

    def spy(self, *args, **kwargs):
        if self.root == table.root:
            calls.append((args, kwargs))
        return orig(self, *args, **kwargs)

    monkeypatch.setattr(LakeTable, name, spy)
    return calls


def _table(tmp_path, mode):
    return LakeTable.create(
        str(tmp_path / "t"), SEQUENCE_SCHEMA, "doc_id", n_buckets=8,
        properties={"merge_mode": mode},
    )


def _second_batch(spark, evolving):
    batch = gen_binlog(spark, 2000, 300, seed=72).withColumn(
        "op_sequence", F.col("op_sequence") + 10_000
    )
    if evolving:
        batch = batch.withColumn("lang", F.lit("en")).withColumnRenamed(
            "source", "origin"
        )
    return batch


@pytest.mark.parametrize("evolving", [False, True], ids=["plain", "evolving"])
@pytest.mark.parametrize("mode", ["mor", "cow"])
def test_apply_changes_parses_twice_and_commits_once(
    spark, tmp_path, monkeypatch, mode, evolving
):
    """One parse of the target's snapshot (the batch's read; the commit
    is made against it) and exactly one commit; an evolving batch leaves
    one new snapshot holding its schema, renames, files and epoch, and
    the previous version still reads with the old schema."""
    table = _table(tmp_path, mode)
    apply_changes(spark, table, gen_binlog(spark, 2000, 300, seed=71), epoch=0)
    prev = table.snapshot()
    batch = _second_batch(spark, evolving)
    renames = {"source": "origin"} if evolving else None

    parses = _calls_on(monkeypatch, table, "snapshot")
    commits = _calls_on(monkeypatch, table, "commit")
    res = apply_changes(spark, table, batch, epoch=1, renames=renames)
    monkeypatch.undo()

    assert len(parses) <= 1, parses
    assert len(commits) == 1, commits
    snap = table.snapshot()
    assert snap.version == prev.version + 1 == res.merge.version
    assert snap.epoch_applied(1)
    summary = snap.raw["summary"]
    assert summary["operation"] in ("merge", "merge-append")
    assert summary["epoch"] == 1
    new_entries = [
        e for es in snap.files.values() for e in es
        if e["path"] not in {p["path"] for ps in prev.files.values() for p in ps}
    ]
    assert new_entries
    assert {e["schema_version"] for e in new_entries} == {snap.schema_version}
    if not evolving:
        assert res.schema_changes == 0
        assert snap.schema_version == prev.schema_version
        assert "changes" not in summary
        return
    assert res.schema_changes == len(summary["changes"]) >= 2
    assert snap.schema_version == prev.schema_version + 1
    names = snap.user_schema.fieldNames()
    assert "lang" in names and "origin" in names and "source" not in names
    assert snap.renames == {"source": "origin"}
    old = table.read(spark, version=prev.version).columns
    assert "source" in old and "lang" not in old and "origin" not in old


@pytest.mark.parametrize("mode", ["mor", "cow"])
def test_empty_evolving_batch_commits_schema_once(spark, tmp_path, mode):
    """An evolving batch with no rows makes one ``merge-empty`` commit
    that carries the new schema and the epoch."""
    table = _table(tmp_path, mode)
    apply_changes(spark, table, gen_binlog(spark, 500, 100, seed=73), epoch=0)
    prev = table.snapshot()
    res = apply_changes(
        spark, table, _second_batch(spark, True).limit(0), epoch=1,
        renames={"source": "origin"},
    )
    snap = table.snapshot()
    assert snap.version == prev.version + 1 == res.merge.version
    assert snap.raw["summary"]["operation"] == "merge-empty"
    assert snap.epoch_applied(1)
    assert "lang" in snap.user_schema.fieldNames()
    assert snap.renames == {"source": "origin"}
    assert snap.files == prev.files


def test_commit_against_head_parses_no_snapshot(tmp_path, monkeypatch):
    """With HEAD still at ``base`` a commit reads the HEAD integer and
    parses no snapshot, also when ``base`` evolves the schema."""
    table = _table(tmp_path, "mor")
    base = table.snapshot()
    parses = _calls_on(monkeypatch, table, "snapshot")
    snap = table.commit(
        base, new_files_by_bucket={0: [fake_file("/fake/a.parquet")]}
    )
    wider = T.StructType(
        list(snap.user_schema.fields)
        + [T.StructField("lang", T.StringType(), True)]
        + INTERNAL_FIELDS
    )
    evolved = table.commit(snap.evolve(wider))
    monkeypatch.undo()
    assert parses == []
    assert evolved.version == base.version + 2
    assert "lang" in table.snapshot().user_schema.fieldNames()
    # and a stale base is checked, not silently committed over
    with pytest.raises(ConcurrentBucketConflict):
        table.commit(base, replaced_buckets=[0])


def test_stream_micro_batch_parses_snapshot_once(spark, tmp_path, monkeypatch):
    """A ``run_stream`` micro-batch that does not compact parses the
    target's snapshot once: its auto-compaction check reads the batch's
    own commit instead of HEAD."""
    from nebula_spark.cdc.binlog import write_binlog_chunks
    from nebula_spark.streaming.ingest import run_stream

    table = _table(tmp_path, "mor")
    binlog = str(tmp_path / "binlog")
    write_binlog_chunks(
        gen_binlog(spark, 3000, 300, seed=74), binlog, n_chunks=3,
        files_per_chunk=1,
    )
    parses = _calls_on(monkeypatch, table, "snapshot")
    out = run_stream(
        spark, table, binlog, str(tmp_path / "ckpt"),
        auto_compact_files=1000,
    )
    monkeypatch.undo()
    assert out["batches"] == 3 and "compactions" not in out
    # one per micro-batch, plus run_stream's closing summary read
    assert len(parses) == out["batches"] + 1, parses
