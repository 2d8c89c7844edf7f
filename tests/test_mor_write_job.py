"""A merge-on-read micro-batch in one write job: no stats pre-scan (the
counters, touched buckets and lineage offsets come from the write), an
explicit bucket-aligned width inside ``foreachBatch``, compaction
without a file-listing job, and the jobs and py4j round trips one
``apply_changes`` costs."""

import datetime
import os
import re

import pytest
from pyspark.sql import types as T
from pyspark.sql.classic.dataframe import DataFrame

import nebula_spark.streaming.ingest as ingest_mod
from nebula_spark.cdc import gen_binlog
from nebula_spark.cdc.apply import apply_changes
from nebula_spark.cdc.binlog import BINLOG_SCHEMA, SEQUENCE_SCHEMA
from nebula_spark.lake import LakeTable, merge_into
from nebula_spark.lake.maintenance import compact
from nebula_spark.lake.table import bucket_of_value
from nebula_spark.streaming import run_stream

from tests.test_dedupe_sql import _round_trips


def _mor(tmp_path, name="m", buckets=4):
    return LakeTable.create(
        str(tmp_path / name), SEQUENCE_SCHEMA, "doc_id", n_buckets=buckets,
        properties={"merge_mode": "mor"},
    )


def _written_frames(monkeypatch):
    """Every DataFrame whose ``.write`` is taken, in order — also inside
    ``foreachBatch``, which runs in this driver process."""
    frames = []
    write = DataFrame.write

    def spy(self):
        frames.append(self)
        return write.fget(self)

    monkeypatch.setattr(DataFrame, "write", property(spy))
    return frames


def _exchanges(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    return re.findall(r"Exchange (\w+\([^)]*\))", plan)


def _jobs(spark):
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None) or [])


def _event(seq, op, doc, pid):
    live = op != "DELETE"
    return (
        seq, op, doc, [seq % 7] if live else None, 1 if live else None,
        "web" if live else None,
        datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=seq),
        f"t{seq}", pid, 1,
    )


# three micro-batches; partition 2 first appears in the second one, and
# in the third, partition 1's highest event (doc-x at 50) loses doc-x to
# partition 0's later event (60)
CHUNKS = [
    [_event(s, "INSERT", f"doc-{s % 5}", s % 2) for s in range(1, 21)],
    [_event(s, "UPDATE" if s % 3 else "DELETE", f"doc-{s % 7}", s % 3) for s in range(21, 41)]
    + [_event(41, "INSERT", "doc-new", 2)],
    [
        _event(45, "INSERT", "doc-x", 0),
        _event(50, "UPDATE", "doc-x", 1),
        _event(55, "DELETE", "doc-2", 2),
        _event(60, "UPDATE", "doc-x", 0),
        _event(58, "INSERT", "doc-y", 1),
    ],
]


def test_stream_lineage_and_counters_match_reference(spark, tmp_path, monkeypatch):
    """MoR batches through run_stream: per-batch counters, touched
    buckets and partition offsets equal a Python reference over the rows
    each batch delivered, and the final offsets and table state equal
    the reference over the whole log."""
    table = _mor(tmp_path)
    log = str(tmp_path / "log")
    for i, rows in enumerate(CHUNKS):
        d = os.path.join(log, f"c{i}")
        spark.createDataFrame(rows, BINLOG_SCHEMA).coalesce(1).write.parquet(d)
        for f in os.listdir(d):  # the file source delivers oldest first
            os.utime(os.path.join(d, f), (1e9 + i, 1e9 + i))
    seen = []
    apply = ingest_mod.apply_changes

    def recording(spark_, table_, batch_df, **kw):
        rows = batch_df.collect()
        res = apply(spark_, table_, batch_df, **kw)
        seen.append((rows, res.merge))
        return res

    monkeypatch.setattr(ingest_mod, "apply_changes", recording)
    run_stream(spark, table, log, str(tmp_path / "ckpt"), max_files_per_trigger=1)

    assert len(seen) == len(CHUNKS)
    offsets, final = {}, {}
    for rows, m in seen:
        parts = {}
        for r in rows:
            parts[str(r["partition_id"])] = max(parts.get(str(r["partition_id"]), -1), r["op_sequence"])
            offsets[str(r["partition_id"])] = max(offsets.get(str(r["partition_id"]), -1), r["op_sequence"])
            if r["doc_id"] not in final or final[r["doc_id"]][0] < r["op_sequence"]:
                final[r["doc_id"]] = (r["op_sequence"], r["op"], r["tokens"])
        n_del = sum(r["op"] == "DELETE" for r in rows)
        keys = {r["doc_id"] for r in rows}
        buckets = {bucket_of_value(k, T.StringType(), 4) for k in keys}
        assert (m.events_in, m.rows_deleted, m.rows_upserted, m.buckets_touched) == (
            len(rows), n_del, len(rows) - n_del, len(buckets)
        )
        assert m.partitions == parts
        assert abs(m.keys_touched - len(keys)) <= 1 + len(keys) // 10
    assert offsets == {"0": 60, "1": 58, "2": 55}
    assert table.snapshot().partition_offsets() == offsets
    got = {r["doc_id"]: r["tokens"] for r in table.read(spark).collect()}
    assert got == {k: v[2] for k, v in final.items() if v[1] != "DELETE"}
    assert got["doc-x"] == [60 % 7]


def test_foreach_batch_mor_merge_is_bucket_aligned(spark, tmp_path, monkeypatch):
    """Inside foreachBatch (a cloned session at the default width of 16)
    the MoR write plans one exchange, hashpartitioning(doc_id, 4), in
    front of the dedup, and every commit writes one file per bucket."""
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) != 4
    table = _mor(tmp_path)
    log = str(tmp_path / "log")
    for i in range(3):
        _binlog(spark, 40 + i, 3000).repartition(3).write.parquet(os.path.join(log, f"c{i}"))
    frames = _written_frames(monkeypatch)
    run_stream(spark, table, log, str(tmp_path / "ckpt"), max_files_per_trigger=3)
    assert frames, "the stream wrote nothing"
    for df in frames:
        ex = _exchanges(df)
        assert len(ex) == 1 and re.fullmatch(r"hashpartitioning\(doc_id#\d+, 4\)", ex[0]), ex
    data = os.path.join(table.root, "data")
    for commit in os.listdir(data):
        for bucket in os.listdir(os.path.join(data, commit)):
            if bucket.startswith("_bucket="):
                files = os.listdir(os.path.join(data, commit, bucket))
                assert len([f for f in files if f.endswith(".parquet")]) == 1


def test_map_only_mor_merge_stays_exchange_free(spark, tmp_path, monkeypatch):
    table = _mor(tmp_path)
    frames = _written_frames(monkeypatch)
    res = merge_into(spark, table, gen_binlog(spark, 500, 80, seed=5), epoch=0, dedup_how="none")
    assert res.events_in == 500
    assert [_exchanges(df) for df in frames] == [[]]


def _binlog(spark, seed, n):
    """gen_binlog events with op_sequence shifted by seed * 100,000, so
    batches of different seeds order by seed."""
    return gen_binlog(spark, n, 600, seed=seed).selectExpr(
        *[f"op_sequence + {seed * 100_000} AS op_sequence" if c == "op_sequence" else c
          for c in BINLOG_SCHEMA.fieldNames()]
    )


def _batch(spark, path, seed, n=3000):
    _binlog(spark, seed, n).write.parquet(path)
    return spark.read.schema(BINLOG_SCHEMA).parquet(path)


def test_mor_apply_changes_job_and_round_trip_budget(spark, tmp_path):
    """Once its source partitions are known, a MoR apply_changes submits
    at most two jobs (the write's shuffle-map stage and the write) and
    sends at most 2x the 145 py4j commands measured with the one-job
    write; with the stats pre-scan and Column-API plans it took about
    1,060."""
    table = _mor(tmp_path, buckets=8)
    apply_changes(spark, table, _batch(spark, str(tmp_path / "b0"), 1), epoch=0)
    batch = _batch(spark, str(tmp_path / "b1"), 2)
    before = _jobs(spark)
    n = _round_trips(spark, lambda: apply_changes(spark, table, batch, epoch=1))
    jobs = _jobs(spark) - before
    assert table.snapshot().applied["1"]["events"] == 3000
    assert len(jobs) <= 2, f"MoR apply_changes submitted {len(jobs)} jobs"
    assert n <= 290, f"MoR apply_changes took {n} py4j round trips (budget 290)"


def test_compaction_submits_no_listing_job(spark, tmp_path):
    """A compaction reads files the manifest names: building its scan of
    more than 32 files (Spark's default parallel-listing threshold)
    submits no 'Listing leaf files' job, and the compaction runs only
    its fold's and its repartition's shuffle-map jobs and the write."""
    table = _mor(tmp_path, buckets=4)
    for e in range(10):
        merge_into(spark, table, gen_binlog(spark, 400, 300, seed=e), epoch=e)
    n_files = sum(len(fs) for fs in table.snapshot().files.values())
    assert n_files > 32
    before = _jobs(spark)
    table.read(spark, include_internal=True)
    assert _jobs(spark) == before, "building the scan ran a listing job"
    compact(spark, table)
    assert len(_jobs(spark) - before) <= 3
    assert sum(len(fs) for fs in table.snapshot().files.values()) <= 4


@pytest.mark.parametrize("dedup_how", ["auto", "none"])
def test_empty_mor_batch_commits_its_epoch(spark, tmp_path, dedup_how):
    """A batch that writes no row still records its epoch; the empty
    commit directory is removed."""
    table = _mor(tmp_path)
    empty = gen_binlog(spark, 10, 5, seed=1).limit(0)
    res = merge_into(spark, table, empty, epoch=0, dedup_how=dedup_how)
    assert (res.events_in, res.buckets_touched, res.partitions) == (0, 0, {})
    assert table.snapshot().epoch_applied(0)
    assert table.snapshot().raw["summary"]["operation"] == "merge-empty"
    assert os.listdir(os.path.join(table.root, "data")) == []
