"""Replay-to-final-state equivalence — the flagship correctness test
(SURVEY §5): deterministic synthetic binlog → engine replay → final
LakeTable state must match the DuckDB oracle with per-row token-array
equality (the BASELINE.json per-row invariant)."""

import os

from pyspark.sql import functions as F

from nebula_spark.cdc import gen_binlog, gen_base_table, lww_dedup
from nebula_spark.cdc.binlog import SEQUENCE_SCHEMA, write_binlog_chunks
from nebula_spark.lake import LakeTable, merge_into, append_into

from tests.oracle import replay_final_state, assert_equivalent


def test_dedup_strategies_agree(spark):
    log = gen_binlog(spark, 5000, 300, seed=7, hot_frac=0.3, n_hot=2)
    frames = {
        how: lww_dedup(log, how=how).orderBy("doc_id").collect()
        for how in ("window", "agg", "salted")
    }
    assert frames["window"] == frames["agg"] == frames["salted"]
    # one row per key, and it's the max op_sequence
    agg = lww_dedup(log, how="agg")
    assert agg.count() == agg.select("doc_id").distinct().count()
    mx = log.groupBy("doc_id").agg(F.max("op_sequence").alias("m"))
    joined = agg.join(mx, "doc_id").filter(F.col("op_sequence") != F.col("m"))
    assert joined.count() == 0


def test_single_batch_replay_matches_oracle(spark, tmp_path):
    binlog_dir = str(tmp_path / "binlog")
    log = gen_binlog(spark, 10_000, 500, seed=42)
    write_binlog_chunks(log, binlog_dir, n_chunks=4)

    table = LakeTable.create(str(tmp_path / "t"), SEQUENCE_SCHEMA, "doc_id", n_buckets=16)
    batch = spark.read.parquet(binlog_dir)
    res = merge_into(spark, table, batch, epoch=0)
    assert not res.skipped and res.buckets_touched > 0

    final = table.read(spark)
    oracle = replay_final_state(os.path.join(binlog_dir, "*", "*.parquet"))
    assert_equivalent(final, oracle)


def test_multi_batch_replay_matches_oracle(spark, tmp_path):
    """Sequential micro-batches (the streaming shape) must converge to
    the same state as one-shot replay — including I→D→I resurrection
    and cross-batch updates."""
    binlog_dir = str(tmp_path / "binlog")
    log = gen_binlog(spark, 20_000, 400, seed=11, hot_frac=0.4, n_hot=3)
    chunks = write_binlog_chunks(log, binlog_dir, n_chunks=5)

    table = LakeTable.create(str(tmp_path / "t"), SEQUENCE_SCHEMA, "doc_id", n_buckets=8)
    for i, chunk in enumerate(chunks):
        merge_into(spark, table, spark.read.parquet(chunk), epoch=i)

    final = table.read(spark)
    oracle = replay_final_state(os.path.join(binlog_dir, "*", "*.parquet"))
    assert_equivalent(final, oracle)
    # lineage offsets folded over all epochs cover every source partition
    offs = table.snapshot().partition_offsets()
    assert len(offs) == 8 and all(v >= 0 for v in offs.values())


def test_resolve_strategies_equivalent(spark, tmp_path):
    """unionagg / join / fullouter produce identical final
    state — they are physical plans for one logical MERGE."""
    logs = [gen_binlog(spark, 3000, 150, seed=s) for s in (41, 43)]
    logs[1] = logs[1].withColumn("op_sequence", F.col("op_sequence") + 5000)
    states = {}
    for strat in ("unionagg", "join", "fullouter"):
        table = LakeTable.create(
            str(tmp_path / f"t_{strat}"), SEQUENCE_SCHEMA, "doc_id", n_buckets=4
        )
        for i, log in enumerate(logs):
            merge_into(spark, table, log, epoch=i, resolve_strategy=strat)
        states[strat] = sorted(tuple(r) for r in table.read(spark).collect())
    assert states["unionagg"] == states["join"] == states["fullouter"]


def test_first_write_wins_merge(spark, tmp_path):
    """conflict='first_write_wins': existing rows are never overwritten
    (internal/pipeline/cdc.go strategy surface); only absent keys fill."""
    from pyspark.sql import functions as F

    log1 = gen_binlog(spark, 2000, 150, seed=51)
    # wider doc space: ids 150+ are new keys for the FWW insert path
    log2 = gen_binlog(spark, 2000, 300, seed=52).withColumn(
        "op_sequence", F.col("op_sequence") + 10_000
    )
    for strat in ("unionagg", "fullouter", "join"):
        table = LakeTable.create(
            str(tmp_path / f"t_{strat}"), SEQUENCE_SCHEMA, "doc_id", n_buckets=4
        )
        merge_into(spark, table, log1, epoch=0, conflict="first_write_wins",
                   resolve_strategy=strat)
        state1 = {r["doc_id"]: r["tokens"] for r in table.read(spark).collect()}
        merge_into(spark, table, log2, epoch=1, conflict="first_write_wins",
                   resolve_strategy=strat)
        state2 = {r["doc_id"]: r["tokens"] for r in table.read(spark).collect()}
        # every previously present key kept its original image
        assert all(state2[k] == v for k, v in state1.items())
        # new keys from log2 did get inserted
        assert len(state2) > len(state1)


def test_out_of_order_batches_converge(spark, tmp_path):
    """The merge is sequence-aware (LWW by op_sequence with tombstones),
    so batches applied in ANY order converge to the same final state —
    Spark's file source gives no cross-file ordering guarantee, and
    neither does a multi-executor cluster."""
    binlog_dir = str(tmp_path / "binlog")
    log = gen_binlog(spark, 12_000, 250, seed=23, hot_frac=0.3, n_hot=2)
    chunks = write_binlog_chunks(log, binlog_dir, n_chunks=6)

    order = [0, 4, 2, 5, 1, 3]  # the order the file source actually picked once
    table = LakeTable.create(str(tmp_path / "t"), SEQUENCE_SCHEMA, "doc_id", n_buckets=8)
    for i, ci in enumerate(order):
        merge_into(spark, table, spark.read.parquet(chunks[ci]), epoch=i)

    final = table.read(spark)
    oracle = replay_final_state(os.path.join(binlog_dir, "*", "*.parquet"))
    assert_equivalent(final, oracle)


def test_bootstrap_then_replay(spark, tmp_path):
    """Snapshot mode 'initial' (internal/pipeline/cdc.go:49-50): load a
    base snapshot, then apply the change log on top."""
    base = gen_base_table(spark, 300, seed=5)
    base_path = str(tmp_path / "base.parquet")
    base.coalesce(1).write.parquet(base_path)

    binlog_dir = str(tmp_path / "binlog")
    log = gen_binlog(spark, 5_000, 300, seed=5)
    write_binlog_chunks(log, binlog_dir, n_chunks=2)

    table = LakeTable.create(str(tmp_path / "t"), SEQUENCE_SCHEMA, "doc_id", n_buckets=8)
    append_into(spark, table, spark.read.parquet(base_path), epoch=-1, summary_op="bootstrap")
    merge_into(spark, table, spark.read.parquet(binlog_dir), epoch=0)

    final = table.read(spark)
    oracle = replay_final_state(
        os.path.join(binlog_dir, "*", "*.parquet"),
        base_parquet=os.path.join(base_path, "*.parquet"),
    )
    assert_equivalent(final, oracle)


def test_exactly_once_redelivery(spark, tmp_path):
    """Re-delivering an already-committed epoch must be a no-op
    (manifest idempotence, FIXTURES.md §4)."""
    table = LakeTable.create(str(tmp_path / "t"), SEQUENCE_SCHEMA, "doc_id", n_buckets=4)
    log = gen_binlog(spark, 2_000, 100, seed=3)
    r1 = merge_into(spark, table, log, epoch=0)
    v1 = table.snapshot().version
    state1 = sorted(table.read(spark).collect())

    r2 = merge_into(spark, table, log, epoch=0)  # redelivery
    assert r2.skipped
    assert table.snapshot().version == v1
    assert sorted(table.read(spark).collect()) == state1

    # a *new* epoch with overlapping content is idempotent by key
    r3 = merge_into(spark, table, log, epoch=1)
    assert not r3.skipped
    assert sorted(table.read(spark).collect()) == state1


def test_applied_epoch_manifest_folds_bounded(spark, tmp_path):
    """The exactly-once manifest must not grow with every epoch ever
    applied (O(epochs) JSON per commit kills a 10^4-batch stream): old
    NUMERIC epochs fold into applied_watermark + per-partition lineage,
    idempotence and offsets intact; prefixed (DLQ-class) epochs fold
    into per-namespace watermarks and stay detectable as applied."""
    from pyspark.sql import functions as F

    from nebula_spark.cdc import gen_binlog
    from nebula_spark.cdc.binlog import SEQUENCE_SCHEMA
    from nebula_spark.lake import LakeTable
    from nebula_spark.lake.merge import append_into, merge_into

    table = LakeTable.create(
        str(tmp_path / "t"),
        SEQUENCE_SCHEMA,
        "doc_id",
        n_buckets=4,
        properties={"max_applied_epochs": 3},
    )
    ref = LakeTable.create(  # unbounded twin for offset comparison
        str(tmp_path / "ref"), SEQUENCE_SCHEMA, "doc_id", n_buckets=4
    )
    batches = [
        gen_binlog(spark, 300, 60, seed=100 + i).withColumn(
            "op_sequence", F.col("op_sequence") + i * 1000
        )
        for i in range(8)
    ]
    for i, b in enumerate(batches):
        merge_into(spark, table, b, epoch=i)
        merge_into(spark, ref, b, epoch=i)
    # a prefixed DLQ-class epoch rides along; zero-row appends still
    # record their epoch
    append_into(spark, table, batches[0].limit(0).drop(
        "op", "op_sequence", "ts", "txn_id", "partition_id",
        "schema_version"), epoch="c7", summary_op="dlq")

    snap = table.snapshot()
    assert snap.applied_watermark >= 4  # old epochs folded out
    numeric_kept = [k for k in snap.applied if k.lstrip("-").isdigit()]
    assert len(numeric_kept) <= 3
    # the prefixed epoch either still sits in the recent map or folded
    # into its namespace watermark — applied either way
    assert (
        "c7" in snap.applied
        or snap.raw.get("applied_watermarks", {}).get("c") == 7
    )
    assert table.snapshot().epoch_applied("c7")
    assert not table.snapshot().epoch_applied("c8")
    # idempotence covers folded epochs
    for i in range(8):
        assert table.snapshot().epoch_applied(i)
        res = merge_into(spark, table, batches[i], epoch=i)
        assert res.skipped
    assert not table.snapshot().epoch_applied(99)
    # lineage offsets identical to the unbounded twin
    assert table.snapshot().partition_offsets() == ref.snapshot().partition_offsets()
    assert table.snapshot().low_water_mark() == ref.snapshot().low_water_mark()
    # final state identical
    got = sorted((tuple(r) for r in table.read(spark).collect()), key=repr)
    want = sorted((tuple(r) for r in ref.read(spark).collect()), key=repr)
    assert got == want and got


def test_manifest_json_stays_bounded_over_many_commits(tmp_path):
    """Pure-metadata loop (no Spark jobs): 300 merge-empty commits on a
    table with max_applied_epochs=32 — the snapshot JSON must stay
    O(limit), not O(epochs). This is the 10^4-batch stream guarantee."""
    import json
    import os

    from pyspark.sql import types as T

    from nebula_spark.lake import LakeTable

    schema = T.StructType([T.StructField("k", T.StringType(), False)])
    table = LakeTable.create(
        str(tmp_path / "t"), schema, "k", n_buckets=4,
        properties={"max_applied_epochs": 32},
    )
    for e in range(300):
        table.commit(
            table.snapshot(),
            applied_update={str(e): {"partitions": {"0": e * 10}, "events": 0}},
            summary={"operation": "merge-empty", "epoch": e},
        )
    snap = table.snapshot()
    assert len(snap.applied) <= 33  # limit + the entry that tipped it
    assert snap.applied_watermark >= 250
    sizes = [
        os.path.getsize(table._meta("snap-%012d.json" % v))
        for v in (50, 150, 299)
    ]
    # flat, not linear in epoch count (allow slack for integer widths)
    assert max(sizes) < 1.2 * min(sizes)
    assert all(table.snapshot().epoch_applied(e) for e in range(300))
    assert table.snapshot().partition_offsets() == {"0": 2990}


def test_dlq_manifest_stays_bounded_with_prefixed_epochs(tmp_path):
    """A shared DLQ table sees only PREFIXED epochs (failed 'f{batch}',
    unrouted 'u{batch}', conflict 'c{epoch}', per-route '{route}:{e}',
    reprocess 'rp{v}') — none match the bare-numeric fold, so before
    the per-namespace watermarks a long multi-route stream rewrote an
    O(epochs) applied map on every quarantine commit. 300 prefixed
    commits must fold to per-namespace watermarks: bounded applied map,
    flat snapshot JSON, and every committed epoch still reads applied."""
    import json
    import os

    from pyspark.sql import types as T

    from nebula_spark.lake import LakeTable

    schema = T.StructType([T.StructField("k", T.StringType(), False)])
    table = LakeTable.create(
        str(tmp_path / "d"), schema, "k", n_buckets=4,
        properties={"max_applied_epochs": 32},
    )
    namespaces = ["f", "u", "c", "evens:", "odds:", "rp"]
    committed = []
    for i in range(300):
        ns = namespaces[i % len(namespaces)]
        epoch = f"{ns}{i}"  # per-namespace suffixes strictly increase
        committed.append(epoch)
        table.commit(
            table.snapshot(),
            applied_update={epoch: {"partitions": {"0": i * 10}, "events": 0}},
            summary={"operation": "dlq", "epoch": epoch},
        )
    snap = table.snapshot()
    assert len(snap.applied) <= 33
    wms = snap.raw.get("applied_watermarks", {})
    assert set(wms) == set(namespaces)
    assert all(table.snapshot().epoch_applied(e) for e in committed)
    # an UNSEEN suffix above every namespace max must not claim applied
    assert not table.snapshot().epoch_applied("f9999")
    assert not table.snapshot().epoch_applied("other:5")
    # the fold empties the applied map each time it tips past the
    # limit, so sizes OSCILLATE within a cycle — bounded means the
    # cycle maximum stops growing, not that any two snapshots match
    def _size(v):
        return os.path.getsize(table._meta("snap-%012d.json" % v))

    early = max(_size(v) for v in range(40, 110))
    late = max(_size(v) for v in range(230, 300))
    assert late < 1.3 * early
    # lineage folded from the prefixed entries too
    assert table.snapshot().partition_offsets()["0"] >= 2500


def test_watermark_fold_gap_never_claims_bootstrap_epoch(tmp_path):
    """Regression: when the numeric fold hits an immediate gap (epochs
    start above 0) it folds NOTHING — it must not write the -1 default
    watermark, which would falsely report the bootstrap epoch (-1) as
    applied and make a later snapshot-load silently skip."""
    from pyspark.sql import types as T

    from nebula_spark.lake import LakeTable

    schema = T.StructType([T.StructField("k", T.StringType(), False)])
    table = LakeTable.create(
        str(tmp_path / "g"), schema, "k", n_buckets=4,
        properties={"max_applied_epochs": 4},
    )
    # checkpoint batch ids starting at 10: non-contiguous with -1/0
    for e in range(10, 21):
        table.commit(
            table.snapshot(),
            applied_update={str(e): {"partitions": {}, "events": 0}},
            summary={"operation": "merge-empty", "epoch": e},
        )
    assert not table.snapshot().epoch_applied(-1)  # bootstrap must still run
    assert not table.snapshot().epoch_applied(0)
    assert all(table.snapshot().epoch_applied(e) for e in range(10, 21))
