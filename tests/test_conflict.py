"""Conflict-resolution strategies beyond LWW/FWW (`merge`, `reject` —
ref internal/pipeline/cdc.go:197-221), snapshot-mode policies
(cdc.go:49-50, 350-380), and the commit-race bucket-overlap guard."""

from pyspark.sql import functions as F, types as T

from nebula_spark.cdc.binlog import BINLOG_SCHEMA, SEQUENCE_SCHEMA, gen_binlog
from nebula_spark.lake import LakeTable, append_into, merge_into
from nebula_spark.lake.table import ConcurrentBucketConflict
from tests.fakes import fake_file


def _batch(spark, rows):
    """rows: (op_sequence, op, doc_id, tokens, n_tok, source)"""
    schema = T.StructType(
        [
            T.StructField("op_sequence", T.LongType(), False),
            T.StructField("op", T.StringType(), False),
            T.StructField("doc_id", T.StringType(), False),
            T.StructField("tokens", T.ArrayType(T.IntegerType()), True),
            T.StructField("n_tok", T.IntegerType(), True),
            T.StructField("source", T.StringType(), True),
        ]
    )
    return spark.createDataFrame(rows, schema)


def _state(spark, table):
    return {r["doc_id"]: r for r in table.read(spark).collect()}


def _fresh(tmp_path, name):
    return LakeTable.create(
        str(tmp_path / name), SEQUENCE_SCHEMA, "doc_id", n_buckets=4
    )


def test_conflict_merge_field_level(spark, tmp_path):
    """conflict='merge': a winning batch event updates matched rows
    column-by-column — null batch fields keep the stored value."""
    for strat in ("join", "fullouter"):
        table = _fresh(tmp_path, f"m_{strat}")
        merge_into(
            spark,
            table,
            _batch(
                spark,
                [
                    (1, "INSERT", "a", [1, 2], 2, "web"),
                    (2, "INSERT", "b", [3], 1, "books"),
                ],
            ),
            epoch=0,
        )
        # partial updates: 'a' updates tokens but not source; 'b' updates
        # source but not tokens; 'c' is a brand-new key with a null field
        merge_into(
            spark,
            table,
            _batch(
                spark,
                [
                    (10, "UPDATE", "a", [9, 9, 9], 3, None),
                    (11, "UPDATE", "b", None, None, "code"),
                    (12, "INSERT", "c", [7], 1, None),
                ],
            ),
            epoch=1,
            conflict="merge",
            resolve_strategy=strat,
        )
        s = _state(spark, table)
        assert s["a"]["tokens"] == [9, 9, 9] and s["a"]["source"] == "web"
        assert s["b"]["tokens"] == [3] and s["b"]["source"] == "code"
        assert s["c"]["tokens"] == [7] and s["c"]["source"] is None

        # DELETE under merge still deletes (no coalesce resurrection)
        merge_into(
            spark,
            table,
            _batch(spark, [(20, "DELETE", "a", None, None, None)]),
            epoch=2,
            conflict="merge",
            resolve_strategy=strat,
        )
        assert "a" not in _state(spark, table)

        # stale event (lower seq) never applies, merge or not
        merge_into(
            spark,
            table,
            _batch(spark, [(5, "UPDATE", "b", [8, 8], 2, None)]),
            epoch=3,
            conflict="merge",
            resolve_strategy=strat,
        )
        assert _state(spark, table)["b"]["tokens"] == [3]


def test_conflict_merge_rejects_unionagg(spark, tmp_path):
    table = _fresh(tmp_path, "m_bad")
    import pytest

    with pytest.raises(ValueError, match="join-family"):
        merge_into(
            spark,
            table,
            _batch(spark, [(1, "INSERT", "a", [1], 1, "web")]),
            epoch=0,
            conflict="merge",
            resolve_strategy="unionagg",
        )


def test_conflict_reject_surfaces_and_skips(spark, tmp_path):
    """conflict='reject': events on live keys are surfaced (DLQ-able),
    not applied; new keys and tombstoned keys apply normally."""
    table = _fresh(tmp_path, "rej")
    merge_into(
        spark,
        table,
        _batch(
            spark,
            [
                (1, "INSERT", "a", [1], 1, "web"),
                (2, "INSERT", "b", [2], 1, "web"),
                (3, "DELETE", "b", None, None, None),  # b ends tombstoned
            ],
        ),
        epoch=0,
    )
    res = merge_into(
        spark,
        table,
        _batch(
            spark,
            [
                (10, "UPDATE", "a", [9], 1, "code"),  # conflict: a is live
                (11, "INSERT", "b", [5], 1, "books"),  # b only a tombstone → ok
                (12, "INSERT", "c", [7], 1, "wiki"),  # new key → ok
            ],
        ),
        epoch=1,
        conflict="reject",
    )
    assert res.rows_rejected == 1
    rejected = {r["doc_id"] for r in res.rejected.collect()}
    res.rejected.unpersist()
    assert rejected == {"a"}
    s = _state(spark, table)
    assert s["a"]["tokens"] == [1]  # untouched
    assert s["b"]["tokens"] == [5] and s["c"]["tokens"] == [7]


def test_conflict_reject_routes_to_dlq(spark, tmp_path):
    """Through apply_changes, rejected events land in the DLQ with a
    reason-stamped key — idempotently per epoch."""
    from nebula_spark.cdc.apply import apply_changes

    table = _fresh(tmp_path, "rejdlq")
    dlq_schema = T.StructType(
        list(BINLOG_SCHEMA.fields) + [T.StructField("event_key", T.StringType(), False)]
    )
    dlq = LakeTable.create(str(tmp_path / "dlq"), dlq_schema, "event_key", n_buckets=2)

    log = gen_binlog(spark, 1000, 80, seed=61)
    apply_changes(spark, table, log, epoch=0)
    live_before = table.read(spark).count()

    log2 = gen_binlog(spark, 1000, 160, seed=62).withColumn(
        "op_sequence", F.col("op_sequence") + 10_000
    )
    res = apply_changes(spark, table, log2, epoch=1, conflict="reject", dlq_table=dlq)
    n_rej = res.merge.rows_rejected
    assert n_rej > 0
    conflicts = dlq.read(spark).filter(F.col("event_key").endswith(":conflict"))
    assert conflicts.count() == n_rej
    # live keys kept their pre-batch images
    assert table.read(spark).filter(F.col("doc_id").isin(
        [r["doc_id"] for r in conflicts.select("doc_id").distinct().collect()]
    )).count() <= live_before

    # redelivery: nothing applied twice, DLQ unchanged
    res2 = apply_changes(spark, table, log2, epoch=1, conflict="reject", dlq_table=dlq)
    assert res2.merge.skipped
    assert dlq.read(spark).filter(F.col("event_key").endswith(":conflict")).count() == n_rej


def test_unionagg_seq_tie_keeps_target(spark, tmp_path):
    """A re-sent event with the SAME op_sequence but a different image
    must not flip the stored row (target outranks batch on ties) —
    uniform across every resolve strategy."""
    for strat in ("unionagg", "join", "fullouter"):
        table = _fresh(tmp_path, f"tie_{strat}")
        merge_into(
            spark,
            table,
            _batch(spark, [(5, "INSERT", "a", [1, 1], 2, "web")]),
            epoch=0,
            resolve_strategy=strat,
        )
        merge_into(
            spark,
            table,
            _batch(spark, [(5, "UPDATE", "a", [2, 2], 2, "code")]),
            epoch=1,
            resolve_strategy=strat,
        )
        assert _state(spark, table)["a"]["tokens"] == [1, 1], strat


def test_snapshot_modes(spark, tmp_path):
    """initial / never / when_needed (ref cdc.go:49-50, 350-380)."""
    from nebula_spark.cdc.binlog import gen_base_table
    from nebula_spark.cdc.snapshot import maybe_bootstrap, needs_snapshot

    base = str(tmp_path / "base.parquet")
    gen_base_table(spark, 100, seed=3).coalesce(1).write.parquet(base)

    # never: table stays empty
    t_never = _fresh(tmp_path, "never")
    out = maybe_bootstrap(spark, t_never, base, "never")
    assert not out["loaded"] and t_never.read(spark).count() == 0

    # when_needed on a fresh table: loads
    t_wn = _fresh(tmp_path, "wn")
    assert needs_snapshot(t_wn)
    out = maybe_bootstrap(spark, t_wn, base, "when_needed")
    assert out["loaded"] and t_wn.read(spark).count() == 100

    # when_needed on a table with state: no-op
    out = maybe_bootstrap(spark, t_wn, base, "when_needed")
    assert not out["loaded"] and out["reason"] == "table_has_state"
    assert t_wn.read(spark).count() == 100

    # a table with applied epochs but no rows also counts as having state
    t_m = _fresh(tmp_path, "manifested")
    merge_into(spark, t_m, _batch(spark, []), epoch=0)
    assert not needs_snapshot(t_m)

    # initial: loads once, idempotent on retry (bootstrap epoch)
    t_init = _fresh(tmp_path, "init")
    out1 = maybe_bootstrap(spark, t_init, base, "initial")
    out2 = maybe_bootstrap(spark, t_init, base, "initial")
    assert out1["loaded"] and not out2["loaded"]
    assert t_init.read(spark).count() == 100

    import pytest

    with pytest.raises(ValueError, match="snapshot mode"):
        maybe_bootstrap(spark, t_init, base, "sometimes")


def _race_commit(table, racer, loser_bucket, racer_bucket, racer_files):
    """Run table.commit for `loser_bucket` while a racer steals the
    target snapshot version mid-commit (the O_EXCL collision path)."""
    orig = table._write_snapshot
    fired = {"done": False}

    def patched(version, raw):
        if not fired["done"]:
            fired["done"] = True
            racer.commit(
                racer.snapshot(),
                new_files_by_bucket={racer_bucket: racer_files},
                replaced_buckets=[racer_bucket] if racer_files is None else [],
                summary={"operation": "racer"},
            )
        return orig(version, raw)

    table._write_snapshot = patched
    try:
        return table.commit(
            table.snapshot(),
            new_files_by_bucket={
                loser_bucket: [fake_file("/fake/loser.parquet")]
            },
            replaced_buckets=[loser_bucket],
            summary={"operation": "loser"},
        )
    finally:
        table._write_snapshot = orig


def test_commit_race_on_same_bucket_raises(spark, tmp_path):
    """Two writers rewriting the SAME bucket must not silently drop one
    side: the loser's retry detects the overlap and raises; disjoint
    buckets still rebase fine."""
    import pytest

    table = _fresh(tmp_path, "race")
    merge_into(
        spark,
        table,
        _batch(spark, [(1, "INSERT", "a", [1], 1, "web")]),
        epoch=0,
    )
    racer = LakeTable.load(str(tmp_path / "race"))
    bucket = (
        table.bucket_of(_batch(spark, [(0, "INSERT", "a", [0], 1, "x")]))
        .select("_bucket")
        .first()["_bucket"]
    )

    with pytest.raises(ConcurrentBucketConflict):
        _race_commit(
            table, racer, bucket, bucket, [fake_file("/fake/racer.parquet")]
        )

    # disjoint buckets: the rebase lands and keeps BOTH writers' files
    other = (bucket + 1) % 4
    head_before = table._head_version()
    snap = _race_commit(
        table, racer, other, bucket, [fake_file("/fake/racer2.parquet")]
    )
    assert snap.version > head_before + 1  # rebased past the racer
    paths = [e["path"] for fs in snap.files.values() for e in fs]
    assert "/fake/racer2.parquet" in paths and "/fake/loser.parquet" in paths


def test_reject_dlq_routing_happens_before_commit(spark, tmp_path):
    """Crash-safety of conflict routing (the lost-rejects hazard): if
    the DLQ write dies, the merge must NOT have committed — otherwise a
    retry skips the applied epoch and the rejected set (derivable only
    from pre-merge state) is gone forever. on_rejected runs pre-commit,
    so the failure aborts the merge and the retry re-derives the same
    conflicts against unchanged state."""
    table = _fresh(tmp_path, "rejpre")
    merge_into(
        spark,
        table,
        _batch(spark, [(1, "INSERT", "a", [1], 1, "web")]),
        epoch=0,
    )
    v_before = table.snapshot().version

    def exploding_route(df):
        raise RuntimeError("dlq write failed")

    import pytest

    with pytest.raises(RuntimeError, match="dlq write failed"):
        merge_into(
            spark,
            table,
            _batch(spark, [(10, "UPDATE", "a", [9], 1, "code")]),
            epoch=1,
            conflict="reject",
            on_rejected=exploding_route,
        )
    # nothing committed, epoch NOT applied — the retry replays fully
    assert table.snapshot().version == v_before
    assert "1" not in table.snapshot().applied

    routed = []
    res = merge_into(
        spark,
        table,
        _batch(spark, [(10, "UPDATE", "a", [9], 1, "code")]),
        epoch=1,
        conflict="reject",
        on_rejected=lambda df: routed.extend(r["doc_id"] for r in df.collect()),
    )
    assert routed == ["a"] and res.rows_rejected == 1
    assert res.rejected is None  # consumed by the callback, unpersisted
    assert "1" in table.snapshot().applied
