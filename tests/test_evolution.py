"""Schema evolution — mirrors the reference's evolution rules
(pkg/schema/evolution.go) and the integration shape of its evolution
destination wrapper (pkg/connector/evolution/
schema_evolution_destination.go): evolve mid-stream, verify final
schema + defaults + widened types."""

import pytest
from pyspark.sql import functions as F, types as T

from nebula_spark.cdc import gen_binlog
from nebula_spark.cdc.apply import apply_changes
from nebula_spark.cdc.binlog import SEQUENCE_SCHEMA
from nebula_spark.evolution import (
    check_compatibility,
    diff_schemas,
    evolve_schema,
)
from nebula_spark.lake import LakeTable


def _s(*fields):
    return T.StructType([T.StructField(n, t, nullable) for n, t, nullable in fields])


class TestDiffAndCompat:
    def test_diff_detects_all_change_kinds(self):
        old = _s(("a", T.IntegerType(), True), ("b", T.StringType(), False))
        new = _s(("a", T.LongType(), True), ("c", T.DoubleType(), True))
        kinds = {(c.kind, c.field) for c in diff_schemas(old, new)}
        assert ("MODIFY_TYPE", "a") in kinds
        assert ("ADD_FIELD", "c") in kinds
        assert ("REMOVE_FIELD", "b") in kinds

    def test_backward_rejects_required_add_and_narrowing(self):
        old = _s(("a", T.LongType(), True))
        assert check_compatibility(old, _s(("a", T.LongType(), True), ("b", T.StringType(), False)))
        assert check_compatibility(old, _s(("a", T.IntegerType(), True)))  # narrowing
        assert not check_compatibility(old, _s(("a", T.LongType(), True), ("b", T.StringType(), True)))

    def test_forward_rejects_removal(self):
        old = _s(("a", T.LongType(), True), ("b", T.StringType(), True))
        new = _s(("a", T.LongType(), True))
        assert check_compatibility(old, new, mode="FORWARD")
        assert not check_compatibility(old, new, mode="BACKWARD")

    def test_evolve_default_widens_and_adds(self):
        table = _s(("k", T.StringType(), False), ("n", T.IntegerType(), True))
        batch = _s(("k", T.StringType(), False), ("n", T.LongType(), True), ("lang", T.StringType(), True))
        out, changes = evolve_schema(table, batch)
        by_name = {f.name: f.dataType for f in out.fields}
        assert isinstance(by_name["n"], T.LongType)
        assert isinstance(by_name["lang"], T.StringType)
        assert {c.kind for c in changes} == {"MODIFY_TYPE", "ADD_FIELD"}

    def test_evolve_strict_rejects_type_change(self):
        table = _s(("k", T.StringType(), False), ("n", T.IntegerType(), True))
        batch = _s(("k", T.StringType(), False), ("n", T.LongType(), True))
        with pytest.raises(ValueError):
            evolve_schema(table, batch, policy="strict")

    def test_evolve_flexible_degrades_to_string(self):
        table = _s(("n", T.LongType(), True))
        batch = _s(("n", T.BooleanType(), True))
        out, _ = evolve_schema(table, batch, policy="flexible")
        assert isinstance(out.fields[0].dataType, T.StringType)

    def test_narrower_batch_keeps_table_type(self):
        table = _s(("n", T.LongType(), True))
        batch = _s(("n", T.IntegerType(), True))
        out, changes = evolve_schema(table, batch)
        assert isinstance(out.fields[0].dataType, T.LongType) and not changes


def test_mid_stream_evolution_end_to_end(spark, tmp_path):
    """v1 events, then a v2 batch adding `lang` and widening n_tok to
    long: final schema has both; pre-evolution rows read lang=null;
    all rows read n_tok as long (FIXTURES.md §3)."""
    table = LakeTable.create(str(tmp_path / "t"), SEQUENCE_SCHEMA, "doc_id", n_buckets=4)

    v1 = gen_binlog(spark, 1000, 100, seed=9)
    r1 = apply_changes(spark, table, v1, epoch=0)
    assert r1.schema_changes == 0

    v2 = (
        gen_binlog(spark, 1000, 100, seed=10)
        .withColumn("op_sequence", F.col("op_sequence") + 1000)
        .withColumn("n_tok", F.col("n_tok").cast("long"))
        .withColumn(
            "lang",
            F.when(F.col("op") == "DELETE", F.lit(None)).otherwise(F.lit("en")),
        )
        .withColumn("schema_version", F.lit(2))
    )
    r2 = apply_changes(spark, table, v2, epoch=1)
    assert r2.schema_changes == 2  # widen n_tok + add lang

    schema = {f.name: f.dataType for f in table.snapshot().user_schema.fields}
    assert isinstance(schema["n_tok"], T.LongType)
    assert isinstance(schema["lang"], T.StringType)

    final = table.read(spark)
    # rows last written by a v1 event have lang null; v2-written rows 'en'
    v2_keys = {r["doc_id"] for r in v2.filter("op <> 'DELETE'").select("doc_id").collect()}
    sample = final.collect()
    assert len(sample) > 0
    for row in sample:
        assert row["n_tok"] is None or isinstance(row["n_tok"], int)
        if row["lang"] == "en":
            assert row["doc_id"] in v2_keys

    # time travel: the pre-evolution snapshot still reads with schema v1
    pre = table.read(spark, version=r1.merge.version)
    assert "lang" not in pre.columns


def test_redelivery_after_evolution_is_noop(spark, tmp_path):
    """An evolving batch commits once (schema, files and epoch in one
    snapshot); the epoch manifest must dedupe its redelivery."""
    table = LakeTable.create(str(tmp_path / "t"), SEQUENCE_SCHEMA, "doc_id", n_buckets=4)
    v2 = gen_binlog(spark, 500, 50, seed=3).withColumn("lang", F.lit("en"))
    apply_changes(spark, table, v2, epoch=0)
    v_before = table.snapshot().version
    res = apply_changes(spark, table, v2, epoch=0)
    assert res.merge.skipped
    assert table.snapshot().version == v_before


def test_rename_migration_keeps_history(spark, tmp_path):
    """A declared source rename (pkg/schema/migration.go:233-256) carries
    the old column's data forward under the new name instead of
    drop+add (which would null the renamed column's history)."""
    table = LakeTable.create(str(tmp_path / "t"), SEQUENCE_SCHEMA, "doc_id", n_buckets=4)

    v1 = gen_binlog(spark, 1000, 120, seed=31)
    apply_changes(spark, table, v1, epoch=0)
    old = {r["doc_id"]: r["source"] for r in table.read(spark).collect()}

    # the source system renamed `source` -> `origin`; only some keys update
    v2 = (
        gen_binlog(spark, 300, 40, seed=32)
        .withColumn("op_sequence", F.col("op_sequence") + 10_000)
        .withColumnRenamed("source", "origin")
    )
    res = apply_changes(spark, table, v2, epoch=1, renames={"source": "origin"})
    assert res.schema_changes >= 1

    final = table.read(spark)
    assert "origin" in final.columns and "source" not in final.columns
    got = {r["doc_id"]: r["origin"] for r in final.collect()}
    touched = {r["doc_id"] for r in v2.select("doc_id").distinct().collect()}
    # every key NOT touched by v2 still carries its v1 value — history kept
    for k, v in old.items():
        if k not in touched:
            assert got[k] == v, k
    # rename map is persisted for future readers
    assert table.snapshot().renames == {"source": "origin"}

    # redelivering the evolved batch stays a no-op
    res2 = apply_changes(spark, table, v2, epoch=1, renames={"source": "origin"})
    assert res2.merge.skipped


def test_rename_chain_collapses(spark, tmp_path):
    """a->b then b->c: files written as `a` must map straight to `c`."""
    table = LakeTable.create(str(tmp_path / "t"), SEQUENCE_SCHEMA, "doc_id", n_buckets=2)
    v1 = gen_binlog(spark, 200, 30, seed=33)
    apply_changes(spark, table, v1, epoch=0)
    v2 = gen_binlog(spark, 50, 10, seed=34).withColumn(
        "op_sequence", F.col("op_sequence") + 1000
    ).withColumnRenamed("source", "src_b")
    apply_changes(spark, table, v2, epoch=1, renames={"source": "src_b"})
    v3 = gen_binlog(spark, 50, 10, seed=35).withColumn(
        "op_sequence", F.col("op_sequence") + 2000
    ).withColumnRenamed("source", "src_c")
    apply_changes(spark, table, v3, epoch=2, renames={"src_b": "src_c"})

    assert table.snapshot().renames == {"source": "src_c", "src_b": "src_c"}
    final = table.read(spark)
    assert "src_c" in final.columns
    assert final.filter(F.col("src_c").isNotNull()).count() > 0


def test_rename_key_column_rejected(spark, tmp_path):
    table = LakeTable.create(str(tmp_path / "t"), SEQUENCE_SCHEMA, "doc_id", n_buckets=2)
    import pytest

    with pytest.raises(ValueError, match="merge key"):
        table.commit(renames={"doc_id": "document_id"})


def test_forward_transitive_mode():
    """FORWARD_TRANSITIVE (pkg/schema/registry.go:27-40): the FORWARD
    rule applied against every historical schema, not just the latest —
    the caller iterates history, the mode itself must behave as FORWARD."""
    old = _s(("a", T.LongType(), True), ("b", T.StringType(), True))
    removed = _s(("a", T.LongType(), True))
    assert check_compatibility(old, removed, mode="FORWARD_TRANSITIVE")
    added_opt = _s(*[(f.name, f.dataType, True) for f in old.fields],
                   ("c", T.DoubleType(), True))
    assert not check_compatibility(old, added_opt, mode="FORWARD_TRANSITIVE")
    # FULL_TRANSITIVE = both directions
    assert check_compatibility(old, removed, mode="FULL_TRANSITIVE")
    narrowing = _s(("a", T.IntegerType(), True), ("b", T.StringType(), True))
    assert check_compatibility(old, narrowing, mode="FULL_TRANSITIVE")

    with pytest.raises(ValueError):
        check_compatibility(old, removed, mode="SIDEWAYS")


def test_commit_retry_preserves_renames(spark, tmp_path, monkeypatch):
    """A rename commit that loses the optimistic-concurrency race must
    carry the rename map through the rebase — dropping it would null
    the renamed column's history in pre-rename files."""
    table = LakeTable.create(
        str(tmp_path / "t"), SEQUENCE_SCHEMA, "doc_id", n_buckets=2
    )
    apply_changes(spark, table, gen_binlog(spark, 500, 50, seed=41), epoch=0)
    racer = LakeTable.load(str(tmp_path / "t"))

    # inject the race exactly between snapshot() and _write_snapshot:
    # the first write attempt finds its version taken and must rebase
    orig_write = LakeTable._write_snapshot
    state = {"raced": False}

    def colliding_write(self, version, snap):
        if not state["raced"] and snap["summary"].get("operation") == "rename":
            state["raced"] = True
            racer.commit(summary={"operation": "racer"})
            raise FileExistsError(version)
        return orig_write(self, version, snap)

    monkeypatch.setattr(LakeTable, "_write_snapshot", colliding_write)

    new_user = T.StructType(
        [
            T.StructField(
                "origin" if f.name == "source" else f.name, f.dataType, f.nullable
            )
            for f in table.snapshot().user_schema.fields
        ]
    )
    from nebula_spark.lake.table import INTERNAL_FIELDS

    snap = table.commit(
        new_schema=T.StructType(list(new_user.fields) + INTERNAL_FIELDS),
        renames={"source": "origin"},
        summary={"operation": "rename"},
    )
    assert state["raced"], "collision was never exercised"
    assert snap.raw["renames"] == {"source": "origin"}
    # old files still read with history under the new name
    out = table.read(spark)
    assert "origin" in out.columns
    assert out.filter(F.col("origin").isNotNull()).count() > 0


def test_transitive_compat_checks_full_history(spark, tmp_path):
    """*_TRANSITIVE modes validate against every schema the table has
    ever had (registry.go:27-40), via Snapshot.schema_history: a
    change compatible with the latest version but not an earlier one
    passes the plain mode and fails the transitive one."""
    from nebula_spark.evolution import check_compatibility_with_history

    table = LakeTable.create(
        str(tmp_path / "t"), SEQUENCE_SCHEMA, "doc_id", n_buckets=2
    )
    # evolve: + lang column (v2)
    batch = gen_binlog(spark, 200, 50, seed=51).withColumn("lang", F.lit("en"))
    apply_changes(spark, table, batch, epoch=0)
    hist = table.snapshot().schema_history()
    assert len(hist) == 2
    assert "lang" in {f.name for f in hist[1]}

    # dropping `lang` again: FORWARD-compatible with v1 (it never had
    # lang), violates FORWARD against v2 — only transitive catches both
    no_lang = T.StructType([f for f in hist[1].fields if f.name != "lang"])
    assert check_compatibility_with_history(hist, no_lang, "FORWARD")
    # against v1 alone it's clean
    assert not check_compatibility_with_history(hist[:1], no_lang, "FORWARD")
    # transitive reports the v2 violation with its index
    viol = check_compatibility_with_history(hist, no_lang, "FORWARD_TRANSITIVE")
    assert viol and any(v.startswith("v2:") for v in viol)

    # adding a nullable column is clean under every transitive mode
    plus = T.StructType(list(hist[1].fields) + [T.StructField("extra", T.StringType(), True)])
    assert not check_compatibility_with_history(hist, plus, "BACKWARD_TRANSITIVE")


def test_add_column_with_initial_default(spark, tmp_path):
    """ALTER TABLE ADD COLUMN ... DEFAULT (ref migration.go AddField
    with Default; Iceberg initial-default): pre-DDL rows read the
    default at scan time (history not rewritten), post-DDL rows store
    what their batch carries — null when absent, NOT the default."""
    from pyspark.sql import functions as F

    from nebula_spark.cdc import gen_binlog
    from nebula_spark.cdc.binlog import SEQUENCE_SCHEMA
    from nebula_spark.lake import LakeTable, merge_into

    table = LakeTable.create(
        str(tmp_path / "t"), SEQUENCE_SCHEMA, "doc_id", n_buckets=4
    )
    old = gen_binlog(spark, 800, 120, seed=150).filter(F.col("op") != "DELETE")
    merge_into(spark, table, old, epoch=0)
    pre_ids = {r["doc_id"] for r in table.read(spark).collect()}

    snap = table.add_column("lang", "string", default="en")
    assert snap.schema_version == 2
    # every pre-DDL row reads the default
    assert (
        table.read(spark).filter(F.col("lang") == "en").count() == len(pre_ids)
    )

    # post-DDL batch WITH the column: stored values win
    with_lang = (
        gen_binlog(spark, 300, 120, seed=151)
        .filter(F.col("op") != "DELETE")
        .withColumn("op_sequence", F.col("op_sequence") + 10_000)
        .withColumn("doc_id", F.concat(F.lit("L-"), F.col("doc_id")))
        .withColumn("lang", F.lit("de"))
    )
    merge_into(spark, table, with_lang, epoch=1)
    got = table.read(spark)
    assert got.filter(F.col("doc_id").startswith("L-")).filter(
        F.col("lang") == "de"
    ).count() == got.filter(F.col("doc_id").startswith("L-")).count()

    # post-DDL batch WITHOUT the column: null, not the default
    no_lang = (
        gen_binlog(spark, 200, 120, seed=152)
        .filter(F.col("op") != "DELETE")
        .withColumn("op_sequence", F.col("op_sequence") + 20_000)
        .withColumn("doc_id", F.concat(F.lit("N-"), F.col("doc_id")))
    )
    merge_into(spark, table, no_lang, epoch=2)
    got = table.read(spark)
    n_rows = got.filter(F.col("doc_id").startswith("N-"))
    assert n_rows.filter(F.col("lang").isNull()).count() == n_rows.count()
    # pre-DDL rows still read the default after later commits
    untouched = got.filter(
        ~F.col("doc_id").startswith("L-") & ~F.col("doc_id").startswith("N-")
    )
    assert untouched.filter(F.col("lang") == "en").count() > 0
    assert untouched.filter(F.col("lang").isNull()).count() == 0

    # the default survives a later widening evolution of ANOTHER column
    from nebula_spark.evolution import evolve_schema

    new_user, _ = evolve_schema(
        table.snapshot().user_schema,
        table.snapshot().user_schema,  # no-op diff keeps every field
    )
    f = next(x for x in new_user.fields if x.name == "lang")
    assert f.metadata.get("initial_default") == "en"

    # duplicate add refused
    import pytest

    with pytest.raises(ValueError, match="already exists"):
        table.add_column("lang", "string")


def test_migrate_column_non_widening(spark, tmp_path):
    """Converter-registry modify-type parity (migration.go:256-370):
    a non-widening change (string source -> int where parseable) runs
    as an explicit one-shot rewrite; unconvertible values null out
    under try_cast; later merges write the new type."""
    import pytest
    from pyspark.sql import functions as F

    from nebula_spark.cdc import gen_binlog
    from nebula_spark.cdc.binlog import SEQUENCE_SCHEMA
    from nebula_spark.lake import LakeTable, merge_into
    from nebula_spark.lake.maintenance import migrate_column

    table = LakeTable.create(
        str(tmp_path / "t"), SEQUENCE_SCHEMA, "doc_id", n_buckets=4
    )
    batch = gen_binlog(spark, 600, 100, seed=160).filter(F.col("op") != "DELETE")
    # 'source' is web/books/code/wiki strings; make half numeric-strings
    batch = batch.withColumn(
        "source",
        F.when(F.pmod(F.col("op_sequence"), 2) == 0, F.lit("7")).otherwise(
            F.col("source")
        ),
    )
    merge_into(spark, table, batch, epoch=0)
    n_numeric = table.read(spark).filter(F.col("source") == "7").count()
    n_total = table.read(spark).count()
    assert 0 < n_numeric < n_total

    with pytest.raises(ValueError, match="merge key"):
        migrate_column(spark, table, "doc_id", "int")

    out = migrate_column(spark, table, "source", "int")
    assert out["migrated"] and out["to_type"] == "int"
    got = table.read(spark)
    f = next(x for x in table.snapshot().user_schema.fields if x.name == "source")
    assert f.dataType.simpleString() == "int"
    assert got.filter(F.col("source") == 7).count() == n_numeric
    assert got.filter(F.col("source").isNull()).count() == n_total - n_numeric
    assert got.count() == n_total

    # later merges align onto the new type (numeric strings cast up)
    more = (
        gen_binlog(spark, 100, 100, seed=161)
        .filter(F.col("op") != "DELETE")
        .withColumn("op_sequence", F.col("op_sequence") + 10_000)
        .withColumn("doc_id", F.concat(F.lit("M-"), F.col("doc_id")))
        .withColumn("source", F.lit("42"))
    )
    merge_into(spark, table, more, epoch=1)
    m = table.read(spark).filter(F.col("doc_id").startswith("M-"))
    assert m.filter(F.col("source") == 42).count() == m.count()

    # no-op migration short-circuits
    assert migrate_column(spark, table, "source", "int")["migrated"] is False


def test_migrate_column_strict_refuses_lossy(spark, tmp_path):
    """strict=True must be actually strict: refuse BEFORE writing when
    any value would change — an unparseable string (try_cast null) or a
    numeric conversion that doesn't round-trip (long->int overflow
    wraps under Spark's non-ANSI cast). Clean values migrate fine."""
    import pytest
    from pyspark.sql import types as T

    from nebula_spark.lake import LakeTable, merge_into
    from nebula_spark.lake.maintenance import migrate_column

    schema = T.StructType(
        [
            T.StructField("k", T.StringType(), False),
            T.StructField("v", T.LongType(), True),
            T.StructField("s", T.StringType(), True),
        ]
    )
    table = LakeTable.create(str(tmp_path / "t"), schema, "k", n_buckets=2)
    rows = [(i, "INSERT", f"k{i}", 100 + i, str(i)) for i in range(20)]
    rows.append((99, "INSERT", "kbig", 1 << 40, "notanint"))  # overflows int
    df = spark.createDataFrame(
        rows, "op_sequence long, op string, k string, v long, s string"
    )
    merge_into(spark, table, df, epoch=0)
    v0 = table.snapshot().version

    # long -> int with an overflowing value: strict refuses, no commit
    with pytest.raises(ValueError, match="losslessly"):
        migrate_column(spark, table, "v", "int", strict=True)
    # string -> int with an unparseable value: strict refuses too
    with pytest.raises(ValueError, match="losslessly"):
        migrate_column(spark, table, "s", "int", strict=True)
    assert table.snapshot().version == v0  # nothing committed

    # non-strict: same migrations proceed, bad values null out / wrap
    out = migrate_column(spark, table, "s", "int")
    assert out["migrated"]
    got = table.read(spark)
    from pyspark.sql import functions as F

    assert got.filter(F.col("s").isNull()).count() == 1
    assert got.filter(F.col("s") == 7).count() == 1

    # after deleting the overflowing row, strict long->int succeeds
    fix = spark.createDataFrame(
        [(100, "DELETE", "kbig", None, None)],
        "op_sequence long, op string, k string, v long, s int",
    )
    merge_into(spark, table, fix, epoch=1)
    out2 = migrate_column(spark, table, "v", "int", strict=True)
    assert out2["migrated"]
    assert table.read(spark).filter(F.col("v") == 105).count() == 1
