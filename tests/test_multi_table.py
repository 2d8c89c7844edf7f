"""Multi-table CDC routing: one binlog stream → N LakeTables keyed by
source_table (the reference's TableMap fan-out, pkg/cdc/mysql.go:
493-604; per-table column filters, internal/pipeline/cdc.go:62-65),
with per-table exactly-once on redelivery."""

import os

from pyspark.sql import functions as F, types as T

from nebula_spark.cdc import gen_binlog
from nebula_spark.cdc.binlog import BINLOG_SCHEMA, SEQUENCE_SCHEMA, write_binlog_chunks
from nebula_spark.lake import LakeTable
from nebula_spark.streaming.ingest import TableRoute, run_multi_stream

from tests.oracle import assert_equivalent, replay_final_state


def _multi_binlog(spark, n_events: int, seed: int, tables=("users", "orders")):
    """A single ordered binlog carrying events for several tables:
    source_table is a deterministic function of the event, so the
    DuckDB oracle re-derives the exact same routing."""
    log = gen_binlog(spark, n_events, 150, seed=seed)
    pick = F.pmod(F.xxhash64(F.col("op_sequence"), F.lit(seed + 99)), F.lit(len(tables)))
    tbl = F.element_at(
        F.array(*[F.lit(t) for t in tables]), (pick + 1).cast("int")
    )
    return log.withColumn("source_table", tbl)


def test_multi_stream_routes_two_tables(spark, tmp_path):
    binlog_dir = str(tmp_path / "binlog")
    log = _multi_binlog(spark, 6000, seed=31)
    write_binlog_chunks(log, binlog_dir, n_chunks=3, files_per_chunk=2)

    routes = {
        name: TableRoute(
            table=LakeTable.create(
                str(tmp_path / name), SEQUENCE_SCHEMA, "doc_id", n_buckets=4
            )
        )
        for name in ("users", "orders")
    }
    m = run_multi_stream(
        spark,
        routes,
        binlog_dir,
        checkpoint_dir=str(tmp_path / "ckpt"),
        schema=log.schema,
        max_files_per_trigger=2,
    )
    assert m["batches"] >= 2 and m["events_unrouted"] == 0
    glob = os.path.join(binlog_dir, "*", "*.parquet")
    for name in ("users", "orders"):
        oracle = replay_final_state(glob, where=f"source_table = '{name}'")
        assert oracle, f"oracle empty for {name} — bad fixture"
        assert_equivalent(routes[name].table.read(spark), oracle)

    # redelivery (fresh checkpoint replays every file): each table's
    # manifest already has every epoch → all applies skip, state frozen
    v_before = {n: r.table.snapshot().version for n, r in routes.items()}
    m2 = run_multi_stream(
        spark,
        routes,
        binlog_dir,
        checkpoint_dir=str(tmp_path / "ckpt2"),
        schema=log.schema,
        max_files_per_trigger=2,
    )
    assert all(t["skipped"] == t["batches"] for t in m2["tables"].values())
    assert {n: r.table.snapshot().version for n, r in routes.items()} == v_before
    for name in ("users", "orders"):
        oracle = replay_final_state(glob, where=f"source_table = '{name}'")
        assert_equivalent(routes[name].table.read(spark), oracle)


def test_multi_stream_unrouted_to_dlq(spark, tmp_path):
    """Events for a table with no route are quarantined (reason-stamped
    'unrouted'), not silently dropped, and never reach routed tables."""
    binlog_dir = str(tmp_path / "binlog")
    log = _multi_binlog(spark, 2000, seed=33, tables=("users", "ghost"))
    write_binlog_chunks(log, binlog_dir, n_chunks=1, files_per_chunk=1)

    users = LakeTable.create(str(tmp_path / "users"), SEQUENCE_SCHEMA, "doc_id", n_buckets=4)
    dlq_schema = T.StructType(
        list(BINLOG_SCHEMA.fields)
        + [
            T.StructField("source_table", T.StringType(), True),
            T.StructField("event_key", T.StringType(), False),
        ]
    )
    dlq = LakeTable.create(str(tmp_path / "dlq"), dlq_schema, "event_key", n_buckets=2)

    m = run_multi_stream(
        spark,
        {"users": users},
        binlog_dir,
        checkpoint_dir=str(tmp_path / "ckpt"),
        schema=log.schema,
        dlq_table=dlq,
    )
    assert m["events_unrouted"] > 0
    unrouted = dlq.read(spark).filter(F.col("event_key").contains("unrouted"))
    assert unrouted.count() == m["events_unrouted"]
    assert set(
        r["source_table"] for r in unrouted.select("source_table").distinct().collect()
    ) == {"ghost"}
    glob = os.path.join(binlog_dir, "*", "*.parquet")
    assert_equivalent(
        users.read(spark), replay_final_state(glob, where="source_table = 'users'")
    )


def test_multi_stream_per_table_column_filter(spark, tmp_path):
    """A route's `columns` restricts that table to a payload subset —
    the per-table column filter (internal/pipeline/cdc.go:62-65)."""
    binlog_dir = str(tmp_path / "binlog")
    log = _multi_binlog(spark, 2000, seed=35)
    write_binlog_chunks(log, binlog_dir, n_chunks=1, files_per_chunk=1)

    narrow_schema = T.StructType(
        [f for f in SEQUENCE_SCHEMA.fields if f.name in ("doc_id", "n_tok")]
    )
    routes = {
        "users": TableRoute(
            table=LakeTable.create(
                str(tmp_path / "users"), SEQUENCE_SCHEMA, "doc_id", n_buckets=4
            )
        ),
        "orders": TableRoute(
            table=LakeTable.create(
                str(tmp_path / "orders"), narrow_schema, "doc_id", n_buckets=4
            ),
            columns=["doc_id", "n_tok"],
        ),
    }
    run_multi_stream(
        spark,
        routes,
        binlog_dir,
        checkpoint_dir=str(tmp_path / "ckpt"),
        schema=log.schema,
    )
    # the narrow table evolved nothing extra: payload stayed 2 columns
    assert {f.name for f in routes["orders"].table.snapshot().user_schema.fields} == {
        "doc_id",
        "n_tok",
    }
    assert routes["orders"].table.read(spark).count() > 0


def test_multi_stream_shared_dlq_no_epoch_collision(spark, tmp_path):
    """Several routes quarantining malformed rows into ONE shared DLQ in
    the SAME micro-batch: each route's DLQ append must land. The epochs
    are namespaced per route — without that, the first route processed
    claims epoch batch_id on the shared DLQ manifest and every later
    route's malformed rows are silently dropped (already-applied skip)."""
    binlog_dir = str(tmp_path / "binlog")
    log = _multi_binlog(spark, 3000, seed=37)
    poison = (F.pmod(F.col("op_sequence"), F.lit(13)) == 0) & (
        F.col("op") != "DELETE"
    )
    log = log.withColumn(
        "tokens", F.when(poison, F.lit(None)).otherwise(F.col("tokens"))
    )
    write_binlog_chunks(log, binlog_dir, n_chunks=2, files_per_chunk=1)

    routes = {
        name: TableRoute(
            table=LakeTable.create(
                str(tmp_path / name), SEQUENCE_SCHEMA, "doc_id", n_buckets=4
            )
        )
        for name in ("users", "orders")
    }
    dlq_schema = T.StructType(
        list(BINLOG_SCHEMA.fields)
        + [T.StructField("event_key", T.StringType(), False)]
    )
    dlq = LakeTable.create(str(tmp_path / "dlq"), dlq_schema, "event_key", n_buckets=2)
    run_multi_stream(
        spark,
        routes,
        binlog_dir,
        checkpoint_dir=str(tmp_path / "ckpt"),
        schema=log.schema,
        dlq_table=dlq,
        max_files_per_trigger=1,
    )

    expected = {
        r["source_table"]: r["count"]
        for r in log.filter(poison).groupBy("source_table").count().collect()
    }
    assert len(expected) == 2 and all(v > 0 for v in expected.values())
    quarantined = dlq.read(spark).filter(F.col("event_key").contains("malformed"))
    assert quarantined.count() == sum(expected.values())
    # per-route keys present (the namespaced prefix proves no collision)
    for name, want in expected.items():
        got = quarantined.filter(F.col("event_key").startswith(f"{name}:")).count()
        assert got == want, f"route {name}: {got} != {want}"

    # routed tables still match the oracle over the well-formed events
    glob = os.path.join(binlog_dir, "*", "*.parquet")
    for name in ("users", "orders"):
        oracle = replay_final_state(
            glob,
            where=(
                f"source_table = '{name}' AND NOT "
                "(op_sequence % 13 = 0 AND op <> 'DELETE')"
            ),
        )
        assert_equivalent(routes[name].table.read(spark), oracle)


def test_multi_stream_adaptive_trigger(spark, tmp_path):
    """Adaptive trigger sizing on the fan-out stream: the resize raise
    comes after EVERY route's commit, so the redelivered batch is N
    per-table manifest skips and both tables stay oracle-exact."""
    binlog_dir = str(tmp_path / "binlog")
    log = _multi_binlog(spark, 4000, seed=39)
    write_binlog_chunks(log, binlog_dir, n_chunks=6, files_per_chunk=1)
    routes = {
        name: TableRoute(
            table=LakeTable.create(
                str(tmp_path / name), SEQUENCE_SCHEMA, "doc_id", n_buckets=4
            )
        )
        for name in ("users", "orders")
    }
    m = run_multi_stream(
        spark,
        routes,
        binlog_dir,
        checkpoint_dir=str(tmp_path / "ckpt"),
        schema=log.schema,
        max_files_per_trigger=4,
        adaptive_target_batch_s=0.001,  # unreachable: every batch "slow"
    )
    assert m["final_trigger"] == 1
    assert [(r["from"], r["to"]) for r in m["trigger_resizes"]] == [(4, 2), (2, 1)]
    # resize redeliveries are NOT recounted: 6 files as 4+2 genuine
    # batches, zero phantom per-table skips from the two restarts
    assert m["batches"] == 2
    assert all(
        t["batches"] == 2 and t["skipped"] == 0
        for t in m["tables"].values()
    )
    glob = os.path.join(binlog_dir, "*", "*.parquet")
    for name in ("users", "orders"):
        oracle = replay_final_state(glob, where=f"source_table = '{name}'")
        assert_equivalent(routes[name].table.read(spark), oracle)


def test_multi_stream_continuous_processing_time_trigger(spark, tmp_path):
    """run_multi_stream's continuous path (available_now=False): the
    fan-out query keeps running on a processing-time trigger, picks up
    chunks as the producer lands them, survives a stop/restart from the
    same checkpoint with more data after the restart, and BOTH tables
    end oracle-exact — the long-lived multi-table deployment shape."""
    import shutil
    import time

    staging = str(tmp_path / "staging")
    live = str(tmp_path / "live")
    os.makedirs(live)
    log = _multi_binlog(spark, 3000, seed=97)
    write_binlog_chunks(log, staging, n_chunks=6, files_per_chunk=1)
    chunks = sorted(
        (d for d in os.listdir(staging) if d.startswith("_chunk=")),
        key=lambda d: int(d.split("=", 1)[1]),
    )

    def feed(names):
        for d in names:
            shutil.move(os.path.join(staging, d), os.path.join(live, d))

    routes = {
        name: TableRoute(
            table=LakeTable.create(
                str(tmp_path / name), SEQUENCE_SCHEMA, "doc_id", n_buckets=4
            )
        )
        for name in ("users", "orders")
    }

    def wait_lwm(at_least, deadline_s=120):
        # both tables see every partition's offsets (the route filter
        # does not drop partitions), so both LWMs must advance
        t0 = time.time()
        while time.time() - t0 < deadline_s:
            lwms = [r.table.snapshot().low_water_mark() for r in routes.values()]
            if all(lwm is not None and lwm >= at_least for lwm in lwms):
                return lwms
            time.sleep(0.5)
        raise AssertionError(f"low_water_marks stalled below {at_least}: {lwms}")

    def stop(query_id):
        q = next(
            (qq for qq in spark.streams.active if str(qq.id) == query_id), None
        )
        assert q is not None
        q.stop()
        q.awaitTermination(60)

    feed(chunks[:3])
    info = run_multi_stream(
        spark,
        routes,
        live,
        checkpoint_dir=str(tmp_path / "ck"),
        schema=log.schema,
        max_files_per_trigger=1,
        available_now=False,
    )
    assert "query_id" in info
    try:
        # routed tables see ~half the events per partition, so a
        # table's LWM (min over partitions of ITS routed offsets)
        # trails each chunk boundary by up to a few hundred sequences —
        # thresholds are progress floors, not boundary equalities
        wait_lwm(1200)
        feed(chunks[3:5])
        wait_lwm(2200)
    finally:
        stop(info["query_id"])

    versions = {n: r.table.snapshot().version for n, r in routes.items()}
    info2 = run_multi_stream(
        spark,
        routes,
        live,
        checkpoint_dir=str(tmp_path / "ck"),
        schema=log.schema,
        max_files_per_trigger=1,
        available_now=False,
    )
    try:
        feed(chunks[5:])
        wait_lwm(2700)
    finally:
        stop(info2["query_id"])

    glob = os.path.join(live, "*", "*.parquet")
    for name, route in routes.items():
        oracle = replay_final_state(glob, where=f"source_table = '{name}'")
        assert oracle, f"oracle empty for {name}"
        assert_equivalent(route.table.read(spark), oracle)
        assert route.table.snapshot().version >= versions[name]
