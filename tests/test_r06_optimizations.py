"""Round-6 optimization guards: driver-side Murmur3 bucket assignment
(single-job lookups), O(1)-per-version changed-bucket metadata for
incremental reads, NULL ``_deleted`` handling in change_feed, and the
sound default for legacy short file tuples."""

import random

from pyspark.sql import functions as F, types as T

from nebula_spark.cdc import gen_binlog
from nebula_spark.cdc.binlog import SEQUENCE_SCHEMA
from nebula_spark.lake import LakeTable, merge_into
from nebula_spark.lake.merge import append_into
from nebula_spark.lake.table import bucket_expr, bucket_of_value


def _spark_buckets(spark, values, dtype, nb):
    field = T.StructField("k", dtype, True)
    df = spark.createDataFrame([(v,) for v in values], T.StructType([field]))
    return [r["_b"] for r in df.select(bucket_expr("k", nb).alias("_b")).collect()]


def test_driver_murmur3_matches_bucket_expr(spark):
    """bucket_of_value must be bit-exact with Spark's pmod(hash(k), n)
    for every supported key type — longs across the full signed range,
    ints, and unicode strings of every alignment (the byte-tail path)."""
    rng = random.Random(42)
    nb = 1021  # prime: any hash mismatch shifts the bucket
    longs = [rng.randint(-(2**63), 2**63 - 1) for _ in range(10_000)] + [
        0, -1, 1, 2**63 - 1, -(2**63), 42,
    ]
    got = [bucket_of_value(v, T.LongType(), nb) for v in longs]
    assert got == _spark_buckets(spark, longs, T.LongType(), nb)

    ints = [rng.randint(-(2**31), 2**31 - 1) for _ in range(5_000)] + [0, -1]
    got = [bucket_of_value(v, T.IntegerType(), nb) for v in ints]
    assert got == _spark_buckets(spark, ints, T.IntegerType(), nb)

    alphabet = "abcXYZ0189_:-äöüßéмир中文🎉 "
    strs = [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 24)))
        for _ in range(10_000)
    ]
    got = [bucket_of_value(v, T.StringType(), nb) for v in strs]
    assert got == _spark_buckets(spark, strs, T.StringType(), nb)


def test_lookup_schedules_no_assignment_job(spark, tmp_path):
    """lookup() used to run a createDataFrame+collect job just to hash
    the keys; with driver-side assignment, BUILDING the lookup plan
    runs zero Spark jobs (the one real job is the pruned scan when the
    caller consumes the DataFrame)."""
    table = LakeTable.create(
        str(tmp_path / "t"), SEQUENCE_SCHEMA, "doc_id", n_buckets=4
    )
    merge_into(spark, table, gen_binlog(spark, 2000, 200, seed=3), epoch=0)
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None) or [])
    out = table.lookup(spark, ["doc-00000001", "doc-00000002", "nope"])
    after = set(tracker.getJobIdsForGroup(None) or [])
    assert before == after, "lookup construction ran a Spark job"
    rows = {r["doc_id"] for r in out.collect()}
    assert rows <= {"doc-00000001", "doc-00000002"}
    # and the driver assignment agrees with a full-scan ground truth
    want = {
        r["doc_id"]
        for r in table.read(spark)
        .filter(F.col("doc_id").isin("doc-00000001", "doc-00000002"))
        .collect()
    }
    assert rows == want


_SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType(), False),
        T.StructField("v", T.IntegerType(), True),
    ]
)


def _batch(spark, keys, seq0, val=None):
    rows = [
        (k, (val(i) if val else i), "UPDATE", seq0 + i)
        for i, k in enumerate(keys)
    ]
    return spark.createDataFrame(
        rows, "k string, v int, op string, op_sequence long"
    )


def test_changed_buckets_recorded_no_segment_reads(spark, tmp_path, monkeypatch):
    """Commits persist their touched-bucket set; an incremental-diff
    catch-up walk reads one snapshot field per version and never opens
    manifest segments (the old walk opened every changed segment per
    version — O(commits × segments) driver I/O on a long window)."""
    import builtins

    table = LakeTable.create(str(tmp_path / "t"), _SCHEMA, "k", n_buckets=8)
    keys = [f"k{i:04d}" for i in range(200)]
    merge_into(spark, table, _batch(spark, keys, 0), epoch=0)
    v0 = table.snapshot().version
    for e in range(1, 4):
        merge_into(
            spark, table, _batch(spark, keys[:5], 1000 * e, val=lambda i: e),
            epoch=e,
        )
    head = table.snapshot().version

    seg_opens = []
    real_open = builtins.open

    def counting_open(path, *a, **k):
        if "/segments/" in str(path):
            seg_opens.append(str(path))
        return real_open(path, *a, **k)

    monkeypatch.setattr(builtins, "open", counting_open)
    changed = set()
    for v in range(v0 + 1, head + 1):
        changed |= table.snapshot(v).changed_buckets
    monkeypatch.undo()
    assert not seg_opens, f"catch-up walk opened segments: {seg_opens[:3]}"
    # the recorded sets cover exactly the buckets the narrow commits hit
    want = {
        bucket_of_value(k, T.StringType(), 8) for k in keys[:5]
    }
    assert changed == want


def test_change_feed_null_deleted_flag(spark, tmp_path):
    """A stored NULL _deleted (nullable field) means LIVE everywhere in
    the engine; change_feed must agree: an update over such a row is an
    'update' (not 'insert'), and a delete of it is a real 'delete'
    (not netted out as never-lived)."""
    from nebula_spark.io.sources import change_feed

    table = LakeTable.create(str(tmp_path / "t"), _SCHEMA, "k", n_buckets=4)
    base = spark.createDataFrame(
        [("a", 1, 10, None), ("b", 2, 11, None)],
        "k string, v int, _seq long, _deleted boolean",
    )
    append_into(spark, table, base, epoch=0)
    v0 = table.snapshot().version
    upd = spark.createDataFrame(
        [("a", 9, "UPDATE", 100), ("b", None, "DELETE", 101)],
        "k string, v int, op string, op_sequence long",
    )
    merge_into(spark, table, upd, epoch=1)
    feed = {r["k"]: r["_change_type"] for r in change_feed(spark, table.root, v0).collect()}
    assert feed == {"a": "update", "b": "delete"}


def test_vacuum_liveness_opens_only_head_segments(spark, tmp_path, monkeypatch):
    """vacuum_orphans derives liveness from HEAD's listing + the
    removed/removed_segments bookkeeping — on a segmented table it must
    open only HEAD's manifest segments, not every snapshot's (the old
    walk was O(snapshots × segments)). Orphans still die; files any
    retained snapshot references survive."""
    import builtins
    import os

    from nebula_spark.lake.maintenance import vacuum_orphans

    table = LakeTable.create(str(tmp_path / "t"), _SCHEMA, "k", n_buckets=8)
    keys = [f"k{i:04d}" for i in range(100)]
    for e in range(4):
        merge_into(
            spark, table, _batch(spark, keys, 1000 * e, val=lambda i: e), epoch=e
        )
    # plant an orphan (failed-commit leftover)
    orphan_dir = table.new_commit_dir()
    orphan = os.path.join(orphan_dir, "_bucket=0")
    os.makedirs(orphan)
    orphan_file = os.path.join(orphan, "part-orphan.parquet")
    with open(orphan_file, "wb") as f:
        f.write(b"junk")
    head_segs = set(
        table.snapshot().raw["files_segmented"]["segments"].values()
    )
    n_all_segs = len(os.listdir(table._meta("segments")))
    assert n_all_segs > len(head_segs)  # history kept older segments

    seg_opens = []
    real_open = builtins.open

    def counting_open(path, *a, **k):
        if "/segments/" in str(path):
            seg_opens.append(str(path))
        return real_open(path, *a, **k)

    monkeypatch.setattr(builtins, "open", counting_open)
    vacuum_orphans(table, grace_s=0.0)
    monkeypatch.undo()
    assert set(seg_opens) <= head_segs, "vacuum opened non-HEAD segments"
    assert not os.path.exists(orphan_file)
    # every retained snapshot still reads whole
    oracle = {k: 3 for k in keys}
    assert {r["k"]: r["v"] for r in table.read(spark).collect()} == oracle
    v1_rows = {r["k"]: r["v"] for r in table.read(spark, version=2).collect()}
    assert v1_rows == {k: 1 for k in keys}
