"""Structured Streaming ingest: availableNow drain, checkpoint resume,
exactly-once across restart, and DLQ routing."""

import os

from pyspark.sql import functions as F

from nebula_spark.cdc import gen_binlog
from nebula_spark.cdc.binlog import BINLOG_SCHEMA, SEQUENCE_SCHEMA, write_binlog_chunks
from nebula_spark.lake import LakeTable
from nebula_spark.streaming.ingest import run_stream

from tests.oracle import replay_final_state, assert_equivalent


def test_stream_drain_matches_oracle(spark, tmp_path):
    binlog_dir = str(tmp_path / "binlog")
    log = gen_binlog(spark, 8000, 200, seed=17, hot_frac=0.3, n_hot=2)
    write_binlog_chunks(log, binlog_dir, n_chunks=4, files_per_chunk=2)

    table = LakeTable.create(str(tmp_path / "t"), SEQUENCE_SCHEMA, "doc_id", n_buckets=4)
    m = run_stream(
        spark,
        table,
        binlog_dir,
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=3,
    )
    assert m["batches"] >= 2 and m["skipped"] == 0
    oracle = replay_final_state(os.path.join(binlog_dir, "*", "*.parquet"))
    assert_equivalent(table.read(spark), oracle)
    assert m["lineage_offsets"]


def test_stream_resume_is_exactly_once(spark, tmp_path):
    """Drain half the backlog, then restart with the same checkpoint and
    more files present — nothing double-applies, final state matches."""
    binlog_dir = str(tmp_path / "binlog")
    log = gen_binlog(spark, 6000, 150, seed=19)
    chunks = write_binlog_chunks(log, binlog_dir, n_chunks=6, files_per_chunk=1)

    # stage 1: only the first 3 chunks exist
    staged = str(tmp_path / "staged")
    os.makedirs(staged)
    for c in chunks[:3]:
        os.symlink(c, os.path.join(staged, os.path.basename(c)))

    table = LakeTable.create(str(tmp_path / "t"), SEQUENCE_SCHEMA, "doc_id", n_buckets=4)
    ckpt = str(tmp_path / "ckpt")
    m1 = run_stream(spark, table, staged, checkpoint_dir=ckpt, max_files_per_trigger=1)
    assert m1["batches"] == 3
    epochs_after_1 = set(table.snapshot().applied)

    # stage 2: the rest arrives; same checkpoint => resume, no re-apply
    for c in chunks[3:]:
        os.symlink(c, os.path.join(staged, os.path.basename(c)))
    m2 = run_stream(spark, table, staged, checkpoint_dir=ckpt, max_files_per_trigger=1)
    assert m2["skipped"] == 0
    assert epochs_after_1 < set(table.snapshot().applied)

    oracle = replay_final_state(os.path.join(binlog_dir, "*", "*.parquet"))
    assert_equivalent(table.read(spark), oracle)


def test_stream_with_ddl_evolution(spark, tmp_path):
    """DDL marker mid-binlog: the stream evolves the table schema in
    flight; final state matches the oracle and pre-DDL rows read
    lang = null."""
    from nebula_spark.cdc.binlog import gen_binlog_evolved

    binlog_dir = str(tmp_path / "binlog")
    log = gen_binlog_evolved(spark, 6000, 2000, seed=29, evolve_at=3000)
    write_binlog_chunks(log, binlog_dir, n_chunks=3, files_per_chunk=1)

    table = LakeTable.create(str(tmp_path / "t"), SEQUENCE_SCHEMA, "doc_id", n_buckets=4)
    m = run_stream(
        spark, table, binlog_dir,
        checkpoint_dir=str(tmp_path / "ckpt"), max_files_per_trigger=1,
        schema=log.schema,
    )
    assert m["batches"] == 3
    cols = {f.name: f.dataType.simpleString() for f in table.snapshot().user_schema.fields}
    assert cols.get("lang") == "string" and cols.get("n_tok") == "bigint"

    import duckdb

    oracle = duckdb.sql(f"""
        SELECT doc_id, tokens, n_tok, lang FROM (
          SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY op_sequence DESC) rn
          FROM read_parquet('{binlog_dir}/*/*.parquet') WHERE op <> 'DDL'
        ) WHERE rn = 1 AND op <> 'DELETE' ORDER BY doc_id
    """).fetchall()
    got = sorted(
        (r["doc_id"], list(r["tokens"]), r["n_tok"], r["lang"])
        for r in table.read(spark).collect()
    )
    want = sorted((d, list(t), n, lg) for d, t, n, lg in oracle)
    assert got == want
    # at least one surviving pre-DDL row has lang null, one post has it
    langs = {r[3] for r in got}
    assert None in langs and len(langs) > 1


def test_dlq_routes_malformed_events(spark, tmp_path):
    """Malformed events (null key / bad op / missing after-image) land
    in the DLQ table, not the target (ref: pkg/cdc/stream.go:857-959)."""
    from nebula_spark.cdc.apply import apply_changes
    from pyspark.sql import types as T

    good = gen_binlog(spark, 1000, 100, seed=21)
    bad = (
        gen_binlog(spark, 10, 100, seed=22)
        .withColumn("op_sequence", F.col("op_sequence") + 10_000)
        .withColumn("op", F.lit("UPSERT"))  # invalid op
    )
    batch = good.unionByName(bad)

    table = LakeTable.create(str(tmp_path / "t"), SEQUENCE_SCHEMA, "doc_id", n_buckets=4)
    dlq_schema = T.StructType(
        list(BINLOG_SCHEMA.fields) + [T.StructField("event_key", T.StringType(), False)]
    )
    dlq = LakeTable.create(str(tmp_path / "dlq"), dlq_schema, "event_key", n_buckets=2)

    apply_changes(spark, table, batch, epoch=0, dlq_table=dlq)
    assert dlq.read(spark).count() == 10
    # none of the bad keys' ops reached the target with op_sequence >= 10k
    assert table.read(spark).count() > 0

    # DLQ append is idempotent per epoch too
    apply_changes(spark, table, batch, epoch=0, dlq_table=dlq)
    assert dlq.read(spark).count() == 10


class _Flaky:
    """Event-filter stand-in that fails the first N plan builds —
    simulates a transient source/sink fault at batch granularity."""

    def __init__(self, fails: int):
        self.left = fails
        self.calls = 0

    def apply(self, df):
        self.calls += 1
        if self.left > 0:
            self.left -= 1
            raise RuntimeError("transient fault")
        return df


def test_stream_retries_transient_failure(spark, tmp_path):
    """Retry-with-backoff (ref pkg/cdc/stream.go:694-738): two transient
    failures then success — no events lost, no DLQ involvement."""
    from nebula_spark.cdc.binlog import gen_binlog, write_binlog_chunks
    from nebula_spark.streaming.ingest import run_stream

    binlog = str(tmp_path / "b")
    write_binlog_chunks(gen_binlog(spark, 2000, 150, seed=71), binlog, n_chunks=1)
    table = LakeTable.create(str(tmp_path / "t"), SEQUENCE_SCHEMA, "doc_id", n_buckets=4)
    flaky = _Flaky(2)
    out = run_stream(
        spark,
        table,
        binlog,
        checkpoint_dir=str(tmp_path / "ck"),
        event_filter=flaky,
        retry_max=3,
        retry_backoff_s=0.01,
    )
    assert out["retries"] == 2 and out["batches_dlq"] == 0
    assert out["events"] == 2000
    assert table.read(spark).count() > 0


def test_stream_quarantines_poison_batch(spark, tmp_path):
    """A batch that keeps failing past retry_max is quarantined to the
    DLQ and the stream continues (dead-letter after max retries)."""
    from pyspark.sql import types as T

    from nebula_spark.cdc.binlog import BINLOG_SCHEMA, gen_binlog, write_binlog_chunks
    from nebula_spark.streaming.ingest import run_stream

    binlog = str(tmp_path / "b")
    write_binlog_chunks(gen_binlog(spark, 1000, 100, seed=72), binlog, n_chunks=1)
    table = LakeTable.create(str(tmp_path / "t"), SEQUENCE_SCHEMA, "doc_id", n_buckets=4)
    dlq_schema = T.StructType(
        list(BINLOG_SCHEMA.fields) + [T.StructField("event_key", T.StringType(), False)]
    )
    dlq = LakeTable.create(str(tmp_path / "dlq"), dlq_schema, "event_key", n_buckets=2)
    out = run_stream(
        spark,
        table,
        binlog,
        checkpoint_dir=str(tmp_path / "ck"),
        event_filter=_Flaky(100),  # never recovers
        dlq_table=dlq,
        retry_max=2,
        retry_backoff_s=0.01,
    )
    # one quarantine per micro-batch (the file source may split the
    # chunk into several triggers), each after retry_max retries
    assert out["batches_dlq"] >= 1
    assert out["retries"] == 2 * out["batches_dlq"]
    assert table.read(spark).count() == 0  # nothing applied
    quarantined = dlq.read(spark).filter(F.col("event_key").contains("failed-"))
    assert quarantined.count() == 1000


def test_stream_auto_compaction_bounds_file_counts(spark, tmp_path):
    """Long streams must not accumulate unbounded files per bucket:
    with auto_compact_files set, any bucket over the threshold is
    rewritten to one file after the batch commits — and the final
    state still matches the oracle (compaction is state-preserving)."""
    binlog_dir = str(tmp_path / "binlog")
    log = gen_binlog(spark, 6000, 100, seed=73)
    write_binlog_chunks(log, binlog_dir, n_chunks=4, files_per_chunk=1)

    table = LakeTable.create(str(tmp_path / "t"), SEQUENCE_SCHEMA, "doc_id", n_buckets=2)
    # pin a shuffle width ≫ buckets (NEBULA_SHUFFLE_PARTITIONS disables
    # the merge's bucket-aligned width) so each merge writes several
    # files per bucket dir — bucket-aligned merges emit ONE file per
    # bucket and a plain CoW stream would never fragment; the
    # fragmentation this test exercises still arises from pruned
    # (generational) merges and MoR appends. AQE's small-output
    # coalescing would hide it at this toy size.
    import os as _os

    _os.environ["NEBULA_SHUFFLE_PARTITIONS"] = "16"
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        m = run_stream(
            spark,
            table,
            binlog_dir,
            checkpoint_dir=str(tmp_path / "ckpt"),
            max_files_per_trigger=1,
            auto_compact_files=2,
        )
    finally:
        del _os.environ["NEBULA_SHUFFLE_PARTITIONS"]
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    assert m.get("compactions", 0) >= 1
    assert all(len(fs) <= 2 for fs in table.snapshot().files.values())
    oracle = replay_final_state(os.path.join(binlog_dir, "*", "*.parquet"))
    assert_equivalent(table.read(spark), oracle)


def test_stream_clustered_auto_compaction(spark, tmp_path):
    """In-stream compaction in CLUSTER mode: compactions produce
    multiple bounds-disjoint files per bucket (rolled key ranges), the
    trigger counts only files outside that layout (a clustered bucket
    must NOT re-fire compaction every batch), and the final state
    stays oracle-exact."""
    binlog_dir = str(tmp_path / "binlog")
    log = gen_binlog(spark, 6000, 100, seed=74)
    write_binlog_chunks(log, binlog_dir, n_chunks=4, files_per_chunk=1)

    table = LakeTable.create(
        str(tmp_path / "t"), SEQUENCE_SCHEMA, "doc_id", n_buckets=2
    )
    # pin a shuffle width ≫ buckets so each merge fragments its bucket
    # dirs (bucket-aligned merges emit one file per bucket and would
    # never trip the trigger at this toy size) — see the note in
    # test_stream_auto_compaction_bounds_file_counts
    import os as _os

    _os.environ["NEBULA_SHUFFLE_PARTITIONS"] = "16"
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        m = run_stream(
            spark,
            table,
            binlog_dir,
            checkpoint_dir=str(tmp_path / "ckpt"),
            max_files_per_trigger=1,
            auto_compact_files=2,
            compact_cluster_by_key=True,
            compact_max_file_rows=20,
        )
    finally:
        del _os.environ["NEBULA_SHUFFLE_PARTITIONS"]
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    assert m.get("compactions", 0) >= 1
    snap = table.snapshot()
    # a clustered bucket may hold MANY files, but the loose count is
    # what the trigger sees and it must be at/below the threshold + the
    # files of at most one uncompacted batch tail
    for fs in snap.files.values():
        assert LakeTable.unclustered_count(fs) <= 2 + 4
    oracle = replay_final_state(os.path.join(binlog_dir, "*", "*.parquet"))
    assert_equivalent(table.read(spark), oracle)


def test_unclustered_count_layouts():
    """Unit: disjoint sorted ranges count 0; touching, overlapping,
    boundless, and non-key-unique files all count."""
    d = lambda mn, mx, **kw: {"min_key": mn, "max_key": mx, **kw}
    assert LakeTable.unclustered_count([]) == 0
    assert (
        LakeTable.unclustered_count(
            [d("a", "c"), d("d", "f"), d("g", "k")]
        )
        == 0
    )
    # touching boundary (shared key possible) counts both
    assert LakeTable.unclustered_count([d("a", "c"), d("c", "f")]) == 2
    # overlap counts both; a third disjoint file stays clean
    assert (
        LakeTable.unclustered_count([d("a", "d"), d("c", "f"), d("x", "z")])
        == 2
    )
    # missing bounds / map-only files are always loose
    assert LakeTable.unclustered_count([{"path": "p"}]) == 1
    assert (
        LakeTable.unclustered_count([d("a", "b", key_unique=False)]) == 1
    )
    # mixed key types: everything loose (conservative)
    assert LakeTable.unclustered_count([d(1, 5), d("a", "b")]) == 2


def test_dlq_reprocess_roundtrip(spark, tmp_path):
    """The return path of the dead-letter loop: a poison batch is
    quarantined, the operator fixes the cause, reprocess_dlq replays it
    into the target exactly-once and tombstones the DLQ — the final
    state equals a clean replay of the original binlog."""
    from pyspark.sql import types as T

    from nebula_spark.cdc.dlq import reprocess_dlq

    binlog = str(tmp_path / "b")
    write_binlog_chunks(gen_binlog(spark, 2000, 150, seed=81), binlog, n_chunks=1)
    table = LakeTable.create(str(tmp_path / "t"), SEQUENCE_SCHEMA, "doc_id", n_buckets=4)
    dlq_schema = T.StructType(
        list(BINLOG_SCHEMA.fields) + [T.StructField("event_key", T.StringType(), False)]
    )
    dlq = LakeTable.create(str(tmp_path / "dlq"), dlq_schema, "event_key", n_buckets=2)

    run_stream(
        spark,
        table,
        binlog,
        checkpoint_dir=str(tmp_path / "ck"),
        event_filter=_Flaky(100),  # never recovers -> everything quarantined
        dlq_table=dlq,
        retry_max=1,
        retry_backoff_s=0.01,
    )
    assert table.read(spark).count() == 0
    n_quarantined = dlq.read(spark).count()
    assert n_quarantined == 2000

    # cause fixed (no filter) -> replay
    out = reprocess_dlq(spark, dlq, table)
    assert out["reprocessed"] == 2000 and not out["target_skipped"]
    oracle = replay_final_state(os.path.join(binlog, "*", "*.parquet"))
    assert_equivalent(table.read(spark), oracle)
    # replayed events are tombstoned in the DLQ...
    assert dlq.read(spark).count() == 0
    # ...so a second invocation is a no-op
    again = reprocess_dlq(spark, dlq, table)
    assert again["reprocessed"] == 0
    assert_equivalent(table.read(spark), oracle)


def test_dlq_reprocess_rejects_reject_mode(spark, tmp_path):
    """conflict='reject' during reprocess would re-reject the replayed
    events while tombstoning their DLQ originals — a data-loss footgun
    the API refuses."""
    from pyspark.sql import types as T

    import pytest

    from nebula_spark.cdc.dlq import reprocess_dlq

    table = LakeTable.create(str(tmp_path / "t"), SEQUENCE_SCHEMA, "doc_id", n_buckets=2)
    dlq_schema = T.StructType(
        list(BINLOG_SCHEMA.fields) + [T.StructField("event_key", T.StringType(), False)]
    )
    dlq = LakeTable.create(str(tmp_path / "dlq"), dlq_schema, "event_key", n_buckets=2)
    with pytest.raises(ValueError, match="reject"):
        reprocess_dlq(spark, dlq, table, conflict="reject")


def test_dlq_reprocess_malformed_by_inclusion(spark, tmp_path):
    """Malformed rows are reason-stamped ':malformed', so
    reprocess_dlq(reasons=(REASON_MALFORMED,)) reaches them directly: a
    corrective transform fixes the cause (here an unknown op name) and
    the rows land in the target, originals tombstoned from the DLQ."""
    from pyspark.sql import types as T

    from nebula_spark.cdc.apply import apply_changes
    from nebula_spark.cdc.dlq import REASON_MALFORMED, reprocess_dlq

    good = gen_binlog(spark, 1000, 100, seed=61)
    bad = (
        gen_binlog(spark, 60, 100, seed=62)
        .filter(F.col("op") != "DELETE")  # keep full after-images: the op
        # fix below must make these rows fully well-formed
        .withColumn("op_sequence", F.col("op_sequence") + 10_000)
        .withColumn("op", F.lit("UPSERT"))  # unknown op -> malformed
        .withColumn("doc_id", F.concat(F.lit("x-"), F.col("doc_id")))
    )
    n_bad = bad.count()
    table = LakeTable.create(str(tmp_path / "t"), SEQUENCE_SCHEMA, "doc_id", n_buckets=4)
    dlq_schema = T.StructType(
        list(BINLOG_SCHEMA.fields) + [T.StructField("event_key", T.StringType(), False)]
    )
    dlq = LakeTable.create(str(tmp_path / "dlq"), dlq_schema, "event_key", n_buckets=2)
    apply_changes(spark, table, good.unionByName(bad), epoch=0, dlq_table=dlq)
    assert (
        dlq.read(spark).filter(F.col("event_key").contains("malformed")).count()
        == n_bad
    )
    n_before = table.read(spark).count()

    fix_op = lambda df: df.withColumn(  # noqa: E731
        "op", F.when(F.col("op") == "UPSERT", F.lit("UPDATE")).otherwise(F.col("op"))
    )
    out = reprocess_dlq(
        spark, dlq, table, reasons=(REASON_MALFORMED,), transforms=[fix_op]
    )
    assert out["reprocessed"] == n_bad and not out["target_skipped"]
    # the fixed rows carry fresh x- keys; LWW dedup keeps one per doc_id
    n_distinct = bad.select("doc_id").distinct().count()
    assert table.read(spark).filter(F.col("doc_id").startswith("x-")).count() == n_distinct
    assert table.read(spark).count() == n_before + n_distinct
    assert dlq.read(spark).count() == 0

    # idempotent: a second call finds nothing
    assert reprocess_dlq(spark, dlq, table, reasons=(REASON_MALFORMED,))[
        "reprocessed"
    ] == 0


def test_adaptive_trigger_shrinks_and_grows(spark, tmp_path):
    """Adaptive trigger sizing (the reference's backpressure controller
    mapped to maxFilesPerTrigger): batches slower than the target halve
    the trigger, faster ones double it; every resize restarts from the
    checkpoint and the redelivered batch manifest-skips, so the final
    state stays oracle-exact."""
    binlog = str(tmp_path / "b")
    write_binlog_chunks(
        gen_binlog(spark, 4000, 200, seed=91), binlog, n_chunks=8, files_per_chunk=1
    )
    oracle = replay_final_state(os.path.join(binlog, "*", "*.parquet"))

    # shrink: an unreachable target makes every measured batch "slow"
    t1 = LakeTable.create(str(tmp_path / "t1"), SEQUENCE_SCHEMA, "doc_id", n_buckets=4)
    out = run_stream(
        spark,
        t1,
        binlog,
        checkpoint_dir=str(tmp_path / "ck1"),
        max_files_per_trigger=4,
        adaptive_target_batch_s=0.001,
    )
    assert out["final_trigger"] == 1
    assert [(r["from"], r["to"]) for r in out["trigger_resizes"]] == [(4, 2), (2, 1)]
    # resize redeliveries are NOT recounted: 8 files as 4+2+1+1 genuine
    # batches, zero phantom skips from the two restarts
    assert out["batches"] == 4 and out["skipped"] == 0
    assert_equivalent(t1.read(spark), oracle)

    # grow (recovery): a generous target doubles the trigger while the
    # backlog lasts
    t2 = LakeTable.create(str(tmp_path / "t2"), SEQUENCE_SCHEMA, "doc_id", n_buckets=4)
    out2 = run_stream(
        spark,
        t2,
        binlog,
        checkpoint_dir=str(tmp_path / "ck2"),
        max_files_per_trigger=1,
        adaptive_target_batch_s=120.0,
        adaptive_max_trigger=4,
    )
    assert out2["final_trigger"] == 4
    assert [(r["from"], r["to"]) for r in out2["trigger_resizes"]][:2] == [
        (1, 2),
        (2, 4),
    ]
    # 8 files as 1+2+4+1 genuine batches; restarts add no phantom skips
    assert out2["batches"] == 4 and out2["skipped"] == 0
    assert_equivalent(t2.read(spark), oracle)


def test_continuous_stream_processing_time_trigger(spark, tmp_path):
    """The continuous path (available_now=False): the query keeps
    running on a processing-time trigger, picks up chunk files as the
    producer lands them, survives a stop/restart from the same
    checkpoint with more data arriving after the restart, and the
    final state is oracle-exact — the long-lived deployment shape, vs
    the availableNow backlog drain every other test uses."""
    import shutil
    import time

    staging = str(tmp_path / "staging")
    live = str(tmp_path / "live")
    os.makedirs(live)
    log = gen_binlog(spark, 3000, 150, seed=94)
    write_binlog_chunks(log, staging, n_chunks=6, files_per_chunk=1)
    chunks = sorted(
        (d for d in os.listdir(staging) if d.startswith("_chunk=")),
        key=lambda d: int(d.split("=", 1)[1]),
    )

    def feed(names):
        for d in names:
            shutil.move(os.path.join(staging, d), os.path.join(live, d))

    def wait_lwm(at_least, deadline_s=120):
        t0 = time.time()
        while time.time() - t0 < deadline_s:
            lwm = table.snapshot().low_water_mark()
            if lwm is not None and lwm >= at_least:
                return lwm
            time.sleep(0.5)
        raise AssertionError(
            f"low_water_mark never reached {at_least}: {table.snapshot().low_water_mark()}"
        )

    def stop(query_id):
        q = next(
            (qq for qq in spark.streams.active if str(qq.id) == query_id), None
        )
        assert q is not None
        q.stop()
        q.awaitTermination(60)

    table = LakeTable.create(
        str(tmp_path / "t"), SEQUENCE_SCHEMA, "doc_id", n_buckets=4
    )
    feed(chunks[:3])  # backlog present at start
    info = run_stream(
        spark,
        table,
        live,
        checkpoint_dir=str(tmp_path / "ck"),
        max_files_per_trigger=1,
        available_now=False,
    )
    assert "query_id" in info
    try:
        wait_lwm(1400)  # chunks 0-2 = op_sequence 0..1499 applied
        feed(chunks[3:5])  # producer lands more files mid-flight
        wait_lwm(2400)
    finally:
        stop(info["query_id"])

    # restart from the same checkpoint; the last chunk arrives AFTER
    # the restart — resume must not re-apply or skip anything
    v_stop = table.snapshot().version
    info2 = run_stream(
        spark,
        table,
        live,
        checkpoint_dir=str(tmp_path / "ck"),
        max_files_per_trigger=1,
        available_now=False,
    )
    try:
        feed(chunks[5:])
        wait_lwm(2900)
    finally:
        stop(info2["query_id"])

    oracle = replay_final_state(os.path.join(staging.replace("staging", "live"), "*", "*.parquet"))
    assert_equivalent(table.read(spark), oracle)
    # every applied epoch committed exactly once (manifest versions grew
    # monotonically; a redelivered batch after restart manifest-skips
    # without a new version)
    assert table.snapshot().version >= v_stop
