"""Sources/sinks, type inference, incremental diff, compaction."""

import os

from pyspark.sql import functions as F, types as T

from nebula_spark.cdc import gen_binlog
from nebula_spark.cdc.binlog import SEQUENCE_SCHEMA
from nebula_spark.io.inference import coerce, infer_schema, infer_types
from nebula_spark.io.sinks import FileSink
from nebula_spark.io.sources import CSVSource, JSONSource, incremental_diff
from nebula_spark.lake import LakeTable, merge_into
from nebula_spark.lake.maintenance import compact, expire_snapshots


def test_csv_roundtrip_with_options(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a|x", 1.5), (2, "b", 2.5)], "id int, name string, v double"
    )
    out = str(tmp_path / "csv")
    FileSink(out, format="csv", compression="gzip", mode="overwrite",
             options={"header": True, "sep": ";"}).write(df)
    back = CSVSource(out, delimiter=";", infer_schema=True).read(spark)
    assert sorted(tuple(r) for r in back.collect()) == sorted(tuple(r) for r in df.collect())


def test_json_lines_and_array(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
    lines = str(tmp_path / "jl")
    df.write.json(lines)
    assert JSONSource(lines).read(spark).count() == 2
    arr = str(tmp_path / "ja" / "d.json")
    os.makedirs(os.path.dirname(arr))
    with open(arr, "w") as f:
        f.write('[{"id": 1, "name": "a"}, {"id": 2, "name": "b"}]')
    assert JSONSource(str(tmp_path / "ja"), array_format=True).read(spark).count() == 2


def test_type_inference_engine(spark):
    rows = [
        ("42", "3.14", "true", "2024-01-02 03:04:05", "2024-01-02",
         "a@b.co", "https://x.io/p", '{"k":1}', "plain text"),
    ] * 50
    cols = "i string, d string, b string, ts string, dt string, em string, url string, js string, s string"
    df = spark.createDataFrame(rows, cols)
    t = infer_types(df)
    assert t == {
        "i": "long", "d": "double", "b": "boolean", "ts": "timestamp",
        "dt": "date", "em": "email", "url": "url", "js": "json", "s": "string",
    }
    schema = infer_schema(df)
    typed = coerce(df, schema)
    by = {f.name: f.dataType for f in typed.schema.fields}
    assert isinstance(by["i"], T.LongType) and isinstance(by["ts"], T.TimestampType)
    row = typed.collect()[0]
    assert row["i"] == 42 and row["b"] is True


def test_inference_confidence_threshold(spark):
    rows = [("1",)] * 90 + [("x",)] * 10  # 90% long < 95% threshold
    df = spark.createDataFrame(rows, "v string")
    assert infer_types(df)["v"] == "string"
    assert infer_types(df, confidence=0.8)["v"] == "long"


def test_incremental_diff_between_snapshots(spark, tmp_path):
    table = LakeTable.create(str(tmp_path / "t"), SEQUENCE_SCHEMA, "doc_id", n_buckets=4)
    merge_into(spark, table, gen_binlog(spark, 2000, 100, seed=1), epoch=0)
    v1 = table.snapshot().version
    delta = gen_binlog(spark, 500, 100, seed=2).withColumn(
        "op_sequence", F.col("op_sequence") + 10_000
    )
    merge_into(spark, table, delta, epoch=1)

    diff = incremental_diff(spark, str(tmp_path / "t"), from_version=v1)
    changed_keys = {r["doc_id"] for r in diff.select("doc_id").collect()}
    expect = {r["doc_id"] for r in delta.select("doc_id").distinct().collect()}
    assert changed_keys == expect
    # deletes appear as tombstones in the diff
    assert diff.filter("_deleted").count() > 0


def test_compaction_preserves_state_and_purges(spark, tmp_path):
    table = LakeTable.create(str(tmp_path / "t"), SEQUENCE_SCHEMA, "doc_id", n_buckets=4)
    for i in range(4):
        b = gen_binlog(spark, 1000, 80, seed=i).withColumn(
            "op_sequence", F.col("op_sequence") + i * 10_000
        )
        merge_into(spark, table, b, epoch=i)
    before = sorted(tuple(r) for r in table.read(spark).collect())
    n_files_before = sum(len(v) for v in table.snapshot().files.values())
    n_tombstones = table.read(spark, include_internal=True).filter("_deleted").count()
    assert n_tombstones > 0

    compact(spark, table, purge_all_tombstones=True)
    after = sorted(tuple(r) for r in table.read(spark).collect())
    assert after == before
    assert table.read(spark, include_internal=True).filter("_deleted").count() == 0
    assert sum(len(v) for v in table.snapshot().files.values()) <= min(n_files_before, 4)

    removed = expire_snapshots(table, keep_last=1)
    assert removed > 0
    # current state still readable after expiry
    assert sorted(tuple(r) for r in table.read(spark).collect()) == before


def test_compaction_watermark_keeps_recent_tombstones(spark, tmp_path):
    table = LakeTable.create(str(tmp_path / "t"), SEQUENCE_SCHEMA, "doc_id", n_buckets=2)
    merge_into(spark, table, gen_binlog(spark, 1000, 50, seed=5), epoch=0)
    mid = 500
    compact(spark, table, purge_tombstone_watermark=mid)
    remaining = table.read(spark, include_internal=True).filter("_deleted")
    assert remaining.filter(F.col("_seq") < mid).count() == 0
    # late tombstones survive to defend against out-of-order stragglers
    assert remaining.count() == remaining.filter(F.col("_seq") >= mid).count()


def test_orc_roundtrip(spark, tmp_path):
    """ORC write path (ref S3 sink format matrix, destinations/s3/
    s3_destination.go:398-427) — Spark-native, zlib-compressed here
    because ORC names its codecs differently from parquet."""
    df = spark.range(500).selectExpr(
        "cast(id as string) AS k", "id * 2 AS v", "array(id, id + 1) AS arr"
    )
    out = str(tmp_path / "orc")
    FileSink(out, format="orc", compression="zlib", mode="overwrite").write(df)
    back = spark.read.orc(out)
    assert back.count() == 500
    assert {f.name for f in back.schema.fields} == {"k", "v", "arr"}
    assert back.filter("v = 998").first()["arr"] == [499, 500]


def test_avro_roundtrip_if_available(spark, tmp_path):
    """Avro needs the external spark-avro package (same situation as the
    reference needing its avro lib); skip cleanly when absent."""
    import pytest

    from nebula_spark.session import find_spark_avro_jar

    df = spark.range(100).selectExpr("cast(id as string) AS k", "id AS v")
    out = str(tmp_path / "avro")
    try:
        FileSink(out, format="avro", compression=None, mode="overwrite").write(df)
    except Exception as e:
        assert find_spark_avro_jar() is None, (
            "a spark-avro jar was found but the write still failed — "
            "probe wiring is broken"
        )
        pytest.skip(
            "missing artifact org.apache.spark:spark-avro_2.13 (external "
            f"datasource module; probed caches + NEBULA_AVRO_JAR): {type(e).__name__}"
        )
    assert spark.read.format("avro").load(out).count() == 100


def test_jdbc_source_smoke_if_driver(spark, tmp_path):
    """JDBC batch scan (ref sources/postgresql/postgresql_source.go:
    248-354) against an in-memory DuckDB over its JDBC driver — no
    server needed; skips when no driver jar is cached locally."""
    import pytest

    from nebula_spark.io.sources import JDBCSource
    from nebula_spark.session import find_jdbc_jar

    if not find_jdbc_jar() or "duckdb" not in (spark.conf.get("spark.jars") or ""):
        pytest.skip("no local JDBC driver jar")

    src = JDBCSource(
        url="jdbc:duckdb:",
        query="SELECT i AS id, i * 2 AS v, 'r' || i AS name FROM range(0, 100) t(i)",
        options={"driver": "org.duckdb.DuckDBDriver"},
    )
    df = src.read(spark)
    assert df.count() == 100
    row = df.filter("id = 3").first()
    assert row["v"] == 6 and row["name"] == "r3"


def test_incremental_diff_scans_only_changed_buckets(spark, tmp_path, monkeypatch):
    """The snapshot-metadata diff must prune both scans to the buckets
    whose file lists changed between the versions (copy-on-write ⇒
    unchanged bucket = unchanged rows) — the reference's manifest walk
    (sources/iceberg/snapshot_manager.go:26-49), not two full reads."""
    table = LakeTable.create(
        str(tmp_path / "t"), SEQUENCE_SCHEMA, "doc_id", n_buckets=16
    )
    merge_into(spark, table, gen_binlog(spark, 4000, 400, seed=11), epoch=0)
    v1 = table.snapshot().version
    # touch only a couple of keys → a couple of buckets
    delta = (
        gen_binlog(spark, 40, 400, seed=12)
        .withColumn(
            "doc_id",
            F.when(F.col("op_sequence") % 2 == 0, F.lit("doc-00000003")).otherwise(
                F.lit("doc-00000007")
            ),
        )
        .withColumn("op_sequence", F.col("op_sequence") + 10_000)
        .withColumn("op", F.lit("UPDATE"))
    )
    merge_into(spark, table, delta, epoch=1)
    changed = set()
    for v in range(v1 + 1, table.snapshot().version + 1):
        changed |= table._buckets_changed_by(v)
    assert 0 < len(changed) < 16

    seen = []
    orig_read = LakeTable.read
    monkeypatch.setattr(
        LakeTable,
        "read",
        lambda self, sp, buckets=None, **kw: (
            seen.append(buckets),
            orig_read(self, sp, buckets=buckets, **kw),
        )[1],
    )
    diff = incremental_diff(spark, str(tmp_path / "t"), from_version=v1)
    rows = diff.collect()
    assert {r["doc_id"] for r in rows} == {"doc-00000003", "doc-00000007"}
    # both the new-side and old-side scans were bucket-pruned
    assert len(seen) == 2
    assert all(b is not None and set(b) == changed for b in seen)


def test_vacuum_orphans_removes_failed_commit_files(spark, tmp_path):
    """Files of failed/interrupted commits (written but never
    referenced by a snapshot) are inert but accumulate — vacuum
    removes them without touching any retained snapshot's files."""
    import os
    import time

    from nebula_spark.lake.maintenance import vacuum_orphans

    table = LakeTable.create(str(tmp_path / "t"), SEQUENCE_SCHEMA, "doc_id", n_buckets=2)
    merge_into(spark, table, gen_binlog(spark, 500, 50, seed=61), epoch=0)

    # simulate a crashed commit: files written, snapshot never published
    orphan_dir = table.new_commit_dir()
    os.makedirs(os.path.join(orphan_dir, "_bucket=0"), exist_ok=True)
    orphan = os.path.join(orphan_dir, "_bucket=0", "part-orphan.parquet")
    with open(orphan, "wb") as f:
        f.write(b"not really parquet")
    old = time.time() - 10_000
    os.utime(orphan, (old, old))

    before = sorted(tuple(r) for r in table.read(spark).collect())
    n_live = sum(len(fs) for fs in table.snapshot().files.values())

    # inside grace: nothing happens (protects in-flight commits)
    assert vacuum_orphans(table, grace_s=86400) == 0
    assert os.path.exists(orphan)

    removed = vacuum_orphans(table, grace_s=3600)
    assert removed == 1 and not os.path.exists(orphan)
    assert not os.path.exists(orphan_dir)  # emptied dir pruned
    assert sum(len(fs) for fs in table.snapshot().files.values()) == n_live
    assert sorted(tuple(r) for r in table.read(spark).collect()) == before


def test_expire_snapshots_incremental_o_changed(spark, tmp_path, monkeypatch):
    """The incremental expiry deletes EXACTLY the files whose last
    reference died below the retention boundary, opens only snapshots
    at/below the boundary (O(changed), never re-walking the retained
    file listings), and leaves every retained version readable."""
    import os

    from nebula_spark.cdc import gen_binlog
    from nebula_spark.lake.maintenance import expire_snapshots

    table = LakeTable.create(str(tmp_path / "t"), SEQUENCE_SCHEMA, "doc_id", n_buckets=4)
    for i in range(8):
        merge_into(
            spark,
            table,
            gen_binlog(spark, 600, 60, seed=30 + i).withColumn(
                "op_sequence", F.col("op_sequence") + i * 10_000
            ),
            epoch=i,
        )
    head = table.snapshot().version
    refs = {
        v: {e["path"] for es in table.snapshot(v).files.values() for e in es}
        for v in range(head + 1)
    }
    keep_last = 3
    boundary = head - keep_last + 1
    live = set().union(*(refs[v] for v in range(boundary, head + 1)))
    dead_expected = set().union(*(refs[v] for v in range(boundary))) - live
    assert dead_expected  # the table churned enough to have dead files

    opened: list[int] = []
    orig = LakeTable.snapshot

    def spy(self, version=None):
        snap = orig(self, version)
        opened.append(snap.version)
        return snap

    monkeypatch.setattr(LakeTable, "snapshot", spy)
    removed = expire_snapshots(table, keep_last=keep_last)
    monkeypatch.undo()

    # on a segmented manifest the count would also include dead segment
    # JSONs; the existence checks below pin the exact data-file
    # semantics either way
    assert removed >= len(dead_expected)
    for p in dead_expected:
        assert not os.path.exists(p)
    for p in live:
        assert os.path.exists(p)
    # O(changed): beyond the HEAD lookup, only versions <= boundary
    # were opened — no retained snapshot's file listing was walked
    assert set(opened) <= set(range(boundary + 1)) | {head}
    # expired metadata gone, boundary + head still time-travel readable
    assert not os.path.exists(table._meta("snap-%012d.json" % 0))
    rows_head = sorted(tuple(r) for r in table.read(spark).collect())
    assert rows_head
    assert table.read(spark, version=boundary).count() > 0


def test_change_feed_types_and_netting(spark, tmp_path):
    """change_feed stamps each changed key insert/update/delete, nets
    out tombstones with no live pre-image, and treats a re-insert over
    an old tombstone as an insert."""
    from pyspark.sql import types as T

    from nebula_spark.io.sources import change_feed

    schema = T.StructType(
        [
            T.StructField("k", T.StringType(), False),
            T.StructField("v", T.LongType(), True),
        ]
    )
    table = LakeTable.create(str(tmp_path / "t"), schema, "k", n_buckets=4)

    def batch(rows):
        return spark.createDataFrame(
            rows, "op_sequence long, op string, k string, v long"
        )

    # v_base: k1..k3 live, k5 inserted-then-deleted (tombstone, never
    # reappears), k6 live
    merge_into(
        spark,
        table,
        batch(
            [
                (0, "INSERT", "k1", 1),
                (1, "INSERT", "k2", 2),
                (2, "INSERT", "k3", 3),
                (3, "INSERT", "k6", 6),
                (4, "INSERT", "k5", 5),
                (5, "DELETE", "k5", None),
            ]
        ),
        epoch=0,
    )
    v_base = table.snapshot().version

    # window: update k2, delete k3, insert k4, re-delete k5 (tombstone
    # at BOTH ends plus a fresh event — no live pre-image: must net
    # out), delete k6 then re-insert it (live at both ends: update)
    merge_into(
        spark,
        table,
        batch(
            [
                (10, "UPDATE", "k2", 22),
                (11, "DELETE", "k3", None),
                (12, "INSERT", "k4", 4),
                (13, "DELETE", "k5", None),
                (14, "DELETE", "k6", None),
                (15, "INSERT", "k6", 66),
            ]
        ),
        epoch=1,
    )

    feed = {
        r["k"]: (r["_change_type"], r["v"])
        for r in change_feed(spark, str(tmp_path / "t"), v_base).collect()
    }
    assert feed == {
        "k2": ("update", 22),
        "k3": ("delete", None),
        "k4": ("insert", 4),
        "k6": ("update", 66),
    }

    # re-insert over an OLD tombstone is an insert
    v2 = table.snapshot().version
    merge_into(spark, table, batch([(20, "INSERT", "k3", 33)]), epoch=2)
    feed2 = {
        r["k"]: (r["_change_type"], r["v"])
        for r in change_feed(spark, str(tmp_path / "t"), v2).collect()
    }
    assert feed2 == {"k3": ("insert", 33)}


def test_change_feed_to_version_before_added_column(spark, tmp_path):
    """change_feed(..., to_version=v) takes its columns from snapshot
    v: a column added after v is not in the feed (it used to take
    them from HEAD and fail with UNRESOLVED_COLUMN)."""
    from nebula_spark.io.sources import change_feed

    schema = T.StructType(
        [
            T.StructField("k", T.StringType(), False),
            T.StructField("v", T.LongType(), True),
        ]
    )
    path = str(tmp_path / "t")
    table = LakeTable.create(path, schema, "k", n_buckets=4)

    def batch(rows):
        return spark.createDataFrame(
            rows, "op_sequence long, op string, k string, v long"
        )

    merge_into(spark, table, batch([(0, "INSERT", "k1", 1)]), epoch=0)
    v1 = table.snapshot().version
    merge_into(
        spark, table, batch([(1, "UPDATE", "k1", 11), (2, "INSERT", "k2", 2)]),
        epoch=1,
    )
    v2 = table.snapshot().version
    table.add_column("note", "string")

    feed = change_feed(spark, path, v1, to_version=v2)
    assert feed.columns == ["k", "v", "_seq", "_change_type"]
    assert {(r["k"], r["_change_type"], r["v"]) for r in feed.collect()} == {
        ("k1", "update", 11),
        ("k2", "insert", 2),
    }
