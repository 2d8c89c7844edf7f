"""Physical-plan audits — the .explain() checks that the declared
optimizations actually happen: column pruning reaches the scan,
the small-batch merge broadcasts, dedup is partial-aggregated, the
fat-batch plan is one full-outer join."""

from pyspark.sql import functions as F

from nebula_spark.cdc import gen_binlog
from nebula_spark.cdc.binlog import SEQUENCE_SCHEMA
from nebula_spark.cdc.dedup import lww_dedup
from nebula_spark.lake import LakeTable, merge_into
from nebula_spark.lake.merge import _resolve


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_key_scan_prunes_columns(spark, tmp_path):
    """The merge pre-scan reads only narrow columns — a scan that reads
    token arrays for a bucket-stats job would be wrong at 100 TB."""
    table = LakeTable.create(str(tmp_path / "t"), SEQUENCE_SCHEMA, "doc_id", n_buckets=4)
    merge_into(spark, table, gen_binlog(spark, 1000, 100, seed=1), epoch=0)
    key_only = table.read(spark, include_internal=True).select("doc_id")
    plan = _plan(key_only)  # physical FileScan carries ReadSchema
    assert "ReadSchema: struct<doc_id:string>" in plan


def test_small_batch_merge_broadcasts(spark, tmp_path):
    table = LakeTable.create(str(tmp_path / "t"), SEQUENCE_SCHEMA, "doc_id", n_buckets=4)
    merge_into(spark, table, gen_binlog(spark, 2000, 200, seed=2), epoch=0)
    tiny = lww_dedup(gen_binlog(spark, 50, 200, seed=3), key="doc_id")
    tiny = table.bucket_of(tiny)
    merged = _resolve(spark, table, tiny, [0, 1, 2, 3], "op", "op_sequence", "join")
    assert "BroadcastHashJoin" in _plan(merged)


def test_fat_batch_plan_is_single_full_outer(spark, tmp_path):
    table = LakeTable.create(str(tmp_path / "t"), SEQUENCE_SCHEMA, "doc_id", n_buckets=4)
    merge_into(spark, table, gen_binlog(spark, 2000, 200, seed=4), epoch=0)
    b = lww_dedup(gen_binlog(spark, 2000, 200, seed=5), key="doc_id")
    merged = _resolve(
        spark, table, table.bucket_of(b), [0, 1, 2, 3], "op", "op_sequence", "fullouter"
    )
    plan = _plan(merged)
    assert plan.count("FullOuter") == 1
    # and no second join (no anti-join insert pass)
    assert "LeftAnti" not in plan


def test_agg_dedup_has_partial_aggregation(spark):
    """The LWW agg dedup must show two-phase aggregation (map-side
    partial combine) — that's the skew defense."""
    log = gen_binlog(spark, 5000, 100, seed=6)
    plan = _plan(lww_dedup(log, how="agg"))
    # two aggregate operators over the same grouping = partial + final
    assert plan.count("Aggregate") >= 2


def test_window_dedup_uses_group_limit(spark):
    """Spark 4 plans rank<=1 windows as WindowGroupLimit (top-1 per key
    pushed before the full sort) — verify we benefit."""
    log = gen_binlog(spark, 5000, 100, seed=7)
    plan = _plan(lww_dedup(log, how="window"))
    assert "WindowGroupLimit" in plan


def test_commit_retry_on_version_collision(tmp_path, spark):
    """Optimistic concurrency: a stale writer whose target version was
    taken must rebase onto the new HEAD instead of corrupting."""
    table = LakeTable.create(str(tmp_path / "t"), SEQUENCE_SCHEMA, "doc_id", n_buckets=2)
    # simulate a racing writer: occupy version 1 directly
    other = LakeTable.load(str(tmp_path / "t"))
    other.commit(summary={"operation": "racer"})
    assert table.snapshot().version == 1
    snap = table.commit(summary={"operation": "late"})  # must land at v2
    assert snap.version == 2 and snap.raw["summary"]["operation"] == "late"

def test_lsh_topk_is_equi_join(spark):
    """The ANN scale path must meet candidates in a hash equi-join on
    the bucket key — a nested-loop or cartesian would be the O(n·q)
    plan LSH exists to avoid."""
    from nebula_spark.functions.similarity import lsh_topk

    emb = spark.range(200).select(
        F.col("id").alias("vec_id"),
        F.transform(F.sequence(F.lit(1), F.lit(64)), lambda i: (i * F.col("id") % 97).cast("float")).alias("embedding"),
    )
    q = emb.filter(F.col("vec_id") < 5)
    plan = _plan(lsh_topk(emb, q, k=3))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "hashjoin" in plan.lower() or "SortMergeJoin" in plan


def test_simhash_is_partial_aggregated(spark):
    """64 bit-vote SUMs must combine map-side (skew defense: a giant
    doc's words collapse before the shuffle)."""
    from nebula_spark.functions.dedupe import simhash64

    docs = spark.range(100).select(
        F.col("id").cast("string").alias("doc_id"),
        F.concat_ws(" ", F.array(*[F.lit(f"w{i}") for i in range(20)])).alias("text"),
    )
    plan = _plan(simhash64(docs))
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_conflict_merge_join_still_broadcasts(spark, tmp_path):
    """Field-level merge adds per-column coalesces but must not change
    the join strategy."""
    table = LakeTable.create(str(tmp_path / "t"), SEQUENCE_SCHEMA, "doc_id", n_buckets=4)
    merge_into(spark, table, gen_binlog(spark, 2000, 200, seed=21), epoch=0)
    tiny = lww_dedup(gen_binlog(spark, 50, 200, seed=22), key="doc_id")
    merged = _resolve(
        spark, table, table.bucket_of(tiny), [0, 1, 2, 3], "op", "op_sequence",
        "join", fieldmerge=True,
    )
    assert "BroadcastHashJoin" in _plan(merged)


def test_pack_sequences_numeric_avoids_range_exchange(spark):
    """Numeric ids bucket the prefix sum on quantile boundaries: the
    plan must contain NO rangepartitioning exchange (only the window's
    hash exchange and the pack groupBy)."""
    from nebula_spark.functions.tokens import pack_sequences

    docs = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.transform(F.sequence(F.lit(1), (F.col("id") % 40 + 1).cast("int")), lambda i: i.cast("int")).alias("tokens"),
    )
    plan = _plan(pack_sequences(docs, context_len=256))
    assert "rangepartitioning" not in plan.lower()


def test_ivf_topk_is_equi_join(spark):
    """IVF candidates must meet in a hash equi-join on the cell id —
    cell assignment is a map-only expression (no shuffle/broadcast for
    the assignment itself), so the only joins are cell-keyed."""
    from nebula_spark.functions.similarity import ivf_topk

    emb = spark.range(200).select(
        F.col("id").alias("vec_id"),
        F.transform(F.sequence(F.lit(1), F.lit(64)), lambda i: (i * F.col("id") % 97).cast("float")).alias("embedding"),
    )
    q = emb.filter(F.col("vec_id") < 5)
    plan = _plan(ivf_topk(emb, q, k=3, n_cells=8, n_probe=2))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "hashjoin" in plan.lower() or "SortMergeJoin" in plan


def test_mor_read_fold_is_partial_aggregated_and_pruned(spark, tmp_path):
    """The MoR read-time LWW fold must (a) combine map-side — the same
    skew defense as the dedup agg — and (b) not defeat bucket pruning:
    a pruned read's scan lists only the requested bucket's files."""
    from nebula_spark.cdc.binlog import SEQUENCE_SCHEMA
    from nebula_spark.cdc import gen_binlog
    from nebula_spark.lake import LakeTable, merge_into

    table = LakeTable.create(
        str(tmp_path / "t"), SEQUENCE_SCHEMA, "doc_id", n_buckets=4,
        properties={"merge_mode": "mor"},
    )
    merge_into(spark, table, gen_binlog(spark, 2000, 150, seed=41), epoch=0)
    merge_into(
        spark,
        table,
        gen_binlog(spark, 500, 150, seed=42).withColumn(
            "op_sequence", F.col("op_sequence") + 10_000
        ),
        epoch=1,
    )
    plan = _plan(table.read(spark))
    # max(struct-with-array) isn't hash-aggregable → SortAggregate, but
    # the PARTIAL phase must still combine before the exchange
    n_aggs = sum(plan.count(a) for a in ("SortAggregate", "HashAggregate", "ObjectHashAggregate"))
    assert n_aggs >= 2 and "partial_max" in plan

    pruned = table.read(spark, buckets=[2])
    scanned = _plan(pruned)
    want = {e["path"] for e in table.snapshot().files[2]}
    other = {
        e["path"]
        for b, fs in table.snapshot().files.items()
        if b != 2
        for e in fs
    }
    # every bucket-2 file could legitimately be elided from the plan
    # string (truncation) — but NO other bucket's file may appear
    import os as _os

    assert not any(_os.path.basename(p) in scanned for p in other)
    assert pruned.count() > 0


def test_embedding_near_dups_single_shuffle_no_join(spark):
    """The rewrite must keep the single-shuffle group shape: no join
    operator anywhere (the old self-join scanned the corpus twice and
    recomputed the hyperplane bucket on both sides), and at most TWO
    exchanges total — spread()'s round-robin (now conditional: skipped
    when the input is already parallel enough, as this range() input
    is) plus the one hash exchange the window count and groupBy
    share."""
    from nebula_spark.functions.similarity import embedding_near_dups

    emb = spark.range(200).select(
        F.col("id").alias("vec_id"),
        F.transform(F.sequence(F.lit(1), F.lit(64)), lambda i: (i * F.col("id") % 97).cast("float")).alias("embedding"),
    )
    plan = _plan(embedding_near_dups(emb, threshold=0.3))
    assert "Join" not in plan and "CartesianProduct" not in plan
    # ≤3: optional spread round-robin + the group hash exchange + the
    # post-group round-robin that spreads pair enumeration across cores
    assert 1 <= plan.count("Exchange") <= 3


def test_pair_enumeration_group_cap(spark):
    """Oversized collision groups are skipped, small ones enumerated:
    with 30 identical docs and max_group=10 the hot band key yields no
    pairs, while distinct near-pairs from in-cap groups still appear."""
    from nebula_spark.functions.dedupe import minhash_lsh_candidates

    hot = spark.range(30).select(
        F.format_string("hot-%02d", F.col("id")).alias("doc_id"),
        F.lit("the same boilerplate text repeated everywhere").alias("text"),
    )
    cold = spark.range(2).select(
        F.format_string("cold-%d", F.col("id")).alias("doc_id"),
        F.lit("a unique cold document body of words").alias("text"),
    )
    docs = hot.unionByName(cold)
    capped = minhash_lsh_candidates(docs, n_hashes=4, band_size=2, max_group=10)
    rows = capped.collect()
    assert all(not r["doc_a"].startswith("hot") for r in rows)
    assert any(r["doc_a"].startswith("cold") for r in rows)
    # uncapped finds the hot pairs too
    full = minhash_lsh_candidates(docs, n_hashes=4, band_size=2, max_group=None)
    assert full.filter(F.col("doc_a").startswith("hot")).count() == 30 * 29 // 2
