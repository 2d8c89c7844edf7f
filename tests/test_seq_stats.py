"""Per-file _seq statistics → metadata-only pruning.

Commits record each data file's (min_seq, max_seq) from the parquet
footer. Incremental reads skip files wholly below the lineage low-water
mark without opening them (no input split), and surviving files scan
with a pushed-down _seq predicate. MoR reads skip the fold entirely for
single-file (fully compacted) buckets — a compacted MoR table reads
like a CoW one."""

import pytest
from pyspark.sql import functions as F

from nebula_spark.cdc import gen_binlog
from nebula_spark.cdc.binlog import SEQUENCE_SCHEMA
from nebula_spark.io.sources import incremental_diff
from nebula_spark.lake import LakeTable, merge_into
from nebula_spark.lake.maintenance import compact


def _scanned(df):
    """inputFiles() as plain paths (Spark returns file:// URIs)."""
    return {p.removeprefix("file://") for p in df.inputFiles()}


def _mk(tmp_path, name="t", mode="cow", conflict=None, buckets=4):
    props = {"merge_mode": mode}
    if conflict:
        props["conflict"] = conflict
    return LakeTable.create(
        str(tmp_path / name), SEQUENCE_SCHEMA, "doc_id", n_buckets=buckets,
        properties=props,
    )


def test_commits_record_seq_stats(spark, tmp_path):
    table = _mk(tmp_path)
    merge_into(spark, table, gen_binlog(spark, 1000, 100, seed=71), epoch=0)
    entries = [e for es in table.snapshot().files.values() for e in es]
    assert entries
    for e in entries:
        assert isinstance(e["min_seq"], int) and isinstance(e["max_seq"], int)
        assert -1 <= e["min_seq"] <= e["max_seq"] < 1000


def test_read_skips_files_below_seq_floor(spark, tmp_path):
    """Files wholly at/below the floor never become input splits."""
    table = _mk(tmp_path, mode="mor")
    merge_into(spark, table, gen_binlog(spark, 1000, 100, seed=72), epoch=0)
    old_files = {e["path"] for es in table.snapshot().files.values() for e in es}
    late = gen_binlog(spark, 300, 100, seed=73).withColumn(
        "op_sequence", F.col("op_sequence") + 10_000
    )
    merge_into(spark, table, late, epoch=1)

    pruned = table.read(spark, include_internal=True, min_seq_exclusive=5000)
    assert not (_scanned(pruned) & old_files)
    full = table.read(spark, include_internal=True)
    assert _scanned(full) >= old_files
    # pruned content == the late rows only
    assert pruned.count() == late.select("doc_id").distinct().count()


def test_incremental_diff_prunes_and_matches(spark, tmp_path):
    table = _mk(tmp_path, mode="mor")
    merge_into(spark, table, gen_binlog(spark, 2000, 150, seed=74), epoch=0)
    merge_into(
        spark,
        table,
        gen_binlog(spark, 500, 150, seed=77).withColumn(
            "op_sequence", F.col("op_sequence") + 10_000
        ),
        epoch=1,
    )
    v0 = table.snapshot().version
    lw = table.snapshot(v0).low_water_mark()
    # lw sits inside epoch 1's range: epoch-0 files are wholly below it
    assert lw is not None and 10_000 < lw < 10_500
    v0_files = {e["path"] for es in table.snapshot().files.values() for e in es}

    batch = gen_binlog(spark, 200, 150, seed=75).withColumn(
        "op_sequence", F.col("op_sequence") + 50_000
    )
    merge_into(spark, table, batch, epoch=2)

    diff = incremental_diff(spark, table.root, from_version=v0)
    got = {r["doc_id"] for r in diff.collect()}
    want = {r["doc_id"] for r in batch.select("doc_id").distinct().collect()}
    assert got == want
    # the NEW side opened none of the v0 files (the old side must — it
    # reads from_version); every v0 file beyond the old key/seq
    # projection was skipped by manifest stats
    new_side_files = _scanned(diff) - v0_files
    assert new_side_files  # the epoch-1 files
    # reading to_v with the lw floor scans ONLY the v0 files whose
    # max_seq straddles the mark — every wholly-below file is skipped
    survivors = {
        e["path"]
        for es in table.snapshot(v0).files.values()
        for e in es
        if e["max_seq"] > lw
    }
    assert survivors < v0_files  # the prune has real work to do
    pruned = table.read(spark, include_internal=True, min_seq_exclusive=lw)
    assert _scanned(pruned) & v0_files == survivors


def test_mor_fold_skipped_after_compaction(spark, tmp_path):
    """A fully compacted MoR table (one file per bucket) reads with NO
    aggregation and NO exchange — a plain scan."""
    table = _mk(tmp_path, mode="mor")
    for i in range(3):
        merge_into(
            spark,
            table,
            gen_binlog(spark, 800, 120, seed=80 + i).withColumn(
                "op_sequence", F.col("op_sequence") + i * 10_000
            ),
            epoch=i,
        )
    before = sorted(tuple(r) for r in table.read(spark).collect())
    plan_multi = table.read(spark)._jdf.queryExecution().executedPlan().toString()
    assert "Aggregate" in plan_multi  # multi-file buckets fold

    compact(spark, table)
    assert all(len(fs) == 1 for fs in table.snapshot().files.values())
    df = table.read(spark)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Aggregate" not in plan and "Exchange" not in plan
    assert sorted(tuple(r) for r in df.collect()) == before

    # mixed state: one more merge makes SOME buckets multi-file again;
    # results stay correct (plain scan ∪ folded scan)
    late = gen_binlog(spark, 100, 120, seed=90).withColumn(
        "op_sequence", F.col("op_sequence") + 90_000
    )
    merge_into(spark, table, late, epoch=9)
    mixed = table.read(spark)
    assert "Aggregate" in mixed._jdf.queryExecution().executedPlan().toString()
    # oracle: LWW over everything
    import duckdb  # noqa: F401
    from tests.oracle import assert_equivalent, replay_final_state
    import os

    log = str(tmp_path / "log")
    os.makedirs(log)
    for i in range(3):
        gen_binlog(spark, 800, 120, seed=80 + i).withColumn(
            "op_sequence", F.col("op_sequence") + i * 10_000
        ).write.parquet(os.path.join(log, f"b{i}"))
    late.write.parquet(os.path.join(log, "late"))
    assert_equivalent(mixed, replay_final_state(log + "/*/*.parquet"))


def test_fww_refuses_seq_floor_and_diff_detects_decrease(spark, tmp_path):
    """FWW: the winning version can sit below any floor, so the floor
    prune is refused — and incremental_diff (which must not use it)
    still detects winners that DECREASED."""
    table = _mk(tmp_path, "f", mode="mor", conflict="first_write_wins")
    first = gen_binlog(spark, 500, 80, seed=85).withColumn(
        "op_sequence", F.col("op_sequence") + 10_000
    )
    merge_into(spark, table, first, epoch=0, conflict="first_write_wins")
    v0 = table.snapshot().version
    with pytest.raises(ValueError, match="first_write_wins"):
        table.read(spark, min_seq_exclusive=100)

    # earlier events arrive late: they WIN under FWW
    earlier = gen_binlog(spark, 100, 80, seed=86)
    merge_into(spark, table, earlier, epoch=1, conflict="first_write_wins")
    diff = incremental_diff(spark, table.root, from_version=v0)
    got = {r["doc_id"] for r in diff.collect()}
    want = {r["doc_id"] for r in earlier.select("doc_id").distinct().collect()}
    assert got == want and got
