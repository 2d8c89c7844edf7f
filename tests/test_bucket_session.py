"""A copy-on-write merge takes its shuffle width from the table's layout,
through a cached clone of the caller's session (``bucket_session``):
the caller's conf is never written, two threads merging into tables of
different widths on one session each plan at their own table's width,
and a ``foreachBatch`` merge plans at it too."""

import os
import re
import threading

from pyspark.sql.classic.dataframe import DataFrame

import nebula_spark.lake.merge as merge_mod
from nebula_spark.cdc.binlog import SEQUENCE_SCHEMA
from nebula_spark.lake import LakeTable, merge_into
from nebula_spark.lake.table import bucket_session
from nebula_spark.streaming import run_stream

from tests.oracle import assert_equivalent, replay_final_state
from tests.test_mor_write_job import _binlog

WIDTH = "spark.sql.shuffle.partitions"


def _write_plans(monkeypatch):
    """(thread name, physical plan) of every DataFrame whose ``.write``
    is taken, planned at that moment — also inside ``foreachBatch``,
    which runs in this driver process."""
    plans = []
    write = DataFrame.write

    def spy(self):
        plan = self._jdf.queryExecution().executedPlan().toString()
        plans.append((threading.current_thread().name, plan))
        return write.fget(self)

    monkeypatch.setattr(DataFrame, "write", property(spy))
    return plans


def _assert_bucket_aligned(plan: str, nb: int):
    """One exchange, on the key at the table's width, with the resolve's
    partial aggregate in front of it."""
    ex = re.findall(r"Exchange (\w+\([^)]*\))", plan)
    assert len(ex) == 1 and re.fullmatch(rf"hashpartitioning\(doc_id#\d+, {nb}\)", ex[0]), ex
    assert plan.index("partial_max") > plan.index("Exchange ")


def _one_file_per_bucket(table: LakeTable):
    data = os.path.join(table.root, "data")
    for commit in os.listdir(data):
        for bucket in os.listdir(os.path.join(data, commit)):
            if bucket.startswith("_bucket="):
                files = os.listdir(os.path.join(data, commit, bucket))
                assert len([f for f in files if f.endswith(".parquet")]) == 1, (commit, bucket)


def _chunk(spark, log, i, seed):
    path = os.path.join(log, f"c{i}")
    _binlog(spark, seed, 3000).repartition(3).write.parquet(path)
    return spark.read.parquet(path)


def test_bucket_session_is_cached_and_leaves_the_caller_alone(spark):
    width = spark.conf.get(WIDTH)
    s4 = bucket_session(spark, 4)
    assert s4 is bucket_session(spark, 4) and s4 is not bucket_session(spark, 8)
    assert s4.conf.get(WIDTH) == "4" and bucket_session(spark, 8).conf.get(WIDTH) == "8"
    assert spark.conf.get(WIDTH) == width
    assert s4.conf.get("spark.sql.autoBroadcastJoinThreshold") == spark.conf.get(
        "spark.sql.autoBroadcastJoinThreshold"
    )


def test_concurrent_cow_merges_each_plan_at_their_own_width(spark, tmp_path, monkeypatch):
    """Two threads on one session merge into 4- and 8-bucket tables,
    meeting at a barrier inside the merge: each write plans at its own
    table's width, each touched bucket gets one file, the session's
    width is unchanged, and both tables match the oracle."""
    width = spark.conf.get(WIDTH)
    widths = (4, 8)
    tables, batches = {}, {}
    for nb in widths:
        tables[nb] = LakeTable.create(
            str(tmp_path / f"t{nb}"), SEQUENCE_SCHEMA, "doc_id", n_buckets=nb
        )
        log = str(tmp_path / f"log{nb}")
        batches[nb] = [_chunk(spark, log, i, nb * 10 + i) for i in range(2)]
        merge_into(spark, tables[nb], batches[nb][0], epoch=0)

    barrier = threading.Barrier(len(widths))
    plan_merge = merge_mod.plan_merge

    def meet(**kw):
        barrier.wait(timeout=120)
        return plan_merge(**kw)

    monkeypatch.setattr(merge_mod, "plan_merge", meet)
    plans = _write_plans(monkeypatch)
    errors = []

    def run(nb):
        try:
            merge_into(spark, tables[nb], batches[nb][1], epoch=1)
        except BaseException as e:  # surfaced below
            errors.append(e)
            barrier.abort()

    threads = [threading.Thread(target=run, args=(nb,), name=f"nb{nb}") for nb in widths]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert spark.conf.get(WIDTH) == width
    assert sorted(name for name, _ in plans) == [f"nb{nb}" for nb in widths]
    for name, plan in plans:
        _assert_bucket_aligned(plan, int(name[2:]))
    for nb, table in tables.items():
        _one_file_per_bucket(table)
        oracle = replay_final_state(str(tmp_path / f"log{nb}" / "*" / "*.parquet"))
        assert_equivalent(table.read(spark), oracle)


def test_foreach_batch_cow_merge_is_bucket_aligned(spark, tmp_path, monkeypatch):
    """Inside foreachBatch (the stream's own session, at the default
    width) every copy-on-write write plans at the table's width and
    every commit writes one file per bucket."""
    assert int(spark.conf.get(WIDTH)) != 4
    table = LakeTable.create(str(tmp_path / "t"), SEQUENCE_SCHEMA, "doc_id", n_buckets=4)
    log = str(tmp_path / "log")
    for i in range(3):
        _chunk(spark, log, i, 40 + i)
    plans = _write_plans(monkeypatch)
    run_stream(spark, table, log, str(tmp_path / "ckpt"), max_files_per_trigger=3)
    assert plans, "the stream wrote nothing"
    for _, plan in plans:
        _assert_bucket_aligned(plan, 4)
    _one_file_per_bucket(table)
    assert_equivalent(table.read(spark), replay_final_state(os.path.join(log, "*", "*.parquet")))
