"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry exercises an operator from SURVEY.md §2 (or a
training-data-pipeline extra) through the nebula_spark engine; the
matching ``oracle_sql()`` is the ANSI-SQL twin DuckDB runs on the same
parquet. Numeric outputs avoid engine-dependent float/timestamp
formatting: money → bigint cents, timestamps → unix micros, scores →
fixed-point rounding.

The CDC queries derive a changelog from the `events` table:
op_sequence = event_id (total order), op = signup→INSERT /
purchase→DELETE / else UPDATE, key = user_id.

Query families (26 total, every one oracle-checked):
- cdc_*            — LWW dedup strategies, replay-to-final-state, the
                     four conflict strategies (merge/reject run a real
                     temp LakeTable through merge_into), event filter
- dedup_*          — exact, MinHash-LSH, n-gram Jaccard, SimHash (md5
                     bit derivation) + banded near-pairs,
                     embedding-cosine near-dups, end-to-end near-dup
                     removal (candidates → verify → greedy drop)
- ann_*            — brute-force cosine top-k, hyperplane-LSH top-k
- text_* / events_* — stats, quality, histogram, sessionization
- pack_sequences   — deterministic global-prefix-sum context packing
- multimodal_features — mapInPandas feature extraction, sha256-twin fp
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

def _op_expr():
    return (
        F.when(F.col("event_type") == "signup", "INSERT")
        .when(F.col("event_type") == "purchase", "DELETE")
        .otherwise("UPDATE")
    )


_OP_SQL = (
    "CASE WHEN event_type='signup' THEN 'INSERT' "
    "WHEN event_type='purchase' THEN 'DELETE' ELSE 'UPDATE' END"
)
_STOPWORDS_SQL = "['the','and','of','to','in','is','a','for','with','data']"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → CDC change feed (SURVEY §1.2 event model)."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        F.col("event_id").alias("op_sequence"),
        _op_expr().alias("op"),
        F.col("user_id"),
        F.col("event_type"),
        (F.round(F.col("value") * 100)).cast("long").alias("value_cents"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )


_CHANGELOG_SQL = f"""
SELECT event_id AS op_sequence, {_OP_SQL} AS op, user_id, event_type,
       CAST(round(value * 100) AS BIGINT) AS value_cents,
       epoch_us(ts) AS ts_us
FROM events
"""

# target/batch CTEs of the conflict-strategy oracles: t = latest signup
# image per user (the bootstrapped table), b = the latest later event
# with a partial image (clicks update value only, views ts only)
_CONFLICT_TB_SQL = """
            t AS (
              SELECT user_id, value_cents, ts_us, op_sequence AS tseq FROM (
                SELECT *, row_number() OVER (
                  PARTITION BY user_id ORDER BY op_sequence DESC) rn
                FROM cl WHERE op = 'INSERT') WHERE rn = 1
            ),
            b AS (
              SELECT user_id, op, op_sequence AS bseq,
                     CASE WHEN event_type = 'view' THEN NULL ELSE value_cents END AS bval,
                     CASE WHEN event_type = 'click' THEN NULL ELSE ts_us END AS bts
              FROM (
                SELECT *, row_number() OVER (
                  PARTITION BY user_id ORDER BY op_sequence DESC) rn
                FROM cl WHERE op <> 'INSERT') WHERE rn = 1
            )
"""

_LWW_SQL = f"""
SELECT op_sequence, op, user_id, event_type, value_cents, ts_us FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY op_sequence DESC) rn
  FROM ({_CHANGELOG_SQL})
) WHERE rn = 1
"""


def _lww(how: str):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        from nebula_spark.cdc.dedup import lww_dedup

        return lww_dedup(_changelog(spark, sf_dir), key="user_id", how=how)

    return q


def _replay_final_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nebula_spark.cdc.dedup import lww_dedup

    latest = lww_dedup(_changelog(spark, sf_dir), key="user_id", how="agg")
    return latest.filter(F.col("op") != "DELETE").select(
        "user_id", "value_cents", "ts_us"
    )


def _replay_generational(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CoW replay through the FILE-PRUNED merge path: the changelog is
    split into three contiguous user_id ranges (a monotonic-PK feed's
    shape — new batches touch new id ranges), each merged as its own
    epoch, then one range is re-delivered as an update epoch. With
    per-file key bounds + file-level replace, the range-disjoint
    generations are kept out of every later merge's scan and rewrite
    (summary.files_kept, asserted non-zero below so a pruning
    regression turns this row red); the final state must equal the
    plain LWW replay regardless."""
    import tempfile

    from pyspark.sql import types as T

    from nebula_spark.lake.merge import merge_into
    from nebula_spark.lake.table import LakeTable

    cl = _changelog(spark, sf_dir).select(
        "op_sequence", "op", "user_id", "value_cents", "ts_us"
    )
    hi = cl.agg(F.max("user_id")).collect()[0][0] or 0
    c1, c2 = hi // 3, 2 * hi // 3
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("value_cents", T.LongType(), True),
            T.StructField("ts_us", T.LongType(), True),
        ]
    )
    tmp = tempfile.mkdtemp(prefix="nebula_gen_")
    table = LakeTable.create(
        os.path.join(tmp, "t"), schema, "user_id", n_buckets=8
    )
    merge_into(spark, table, cl.filter(F.col("user_id") <= c1), epoch=0)
    merge_into(
        spark,
        table,
        cl.filter((F.col("user_id") > c1) & (F.col("user_id") <= c2)),
        epoch=1,
    )
    kept1 = table.snapshot().raw["summary"].get("files_kept", 0)
    merge_into(spark, table, cl.filter(F.col("user_id") > c2), epoch=2)
    kept2 = table.snapshot().raw["summary"].get("files_kept", 0)
    # re-deliver the low range as an update epoch: rewrites gen-0 files,
    # keeps gens 1-2
    merge_into(spark, table, cl.filter(F.col("user_id") <= c1), epoch=3)
    kept3 = table.snapshot().raw["summary"].get("files_kept", 0)
    assert kept1 > 0 and kept2 > 0 and kept3 > 0, (
        f"key-bounds pruning regressed: files_kept={kept1},{kept2},{kept3}"
    )
    return table.read(spark).select("user_id", "value_cents", "ts_us")


def _replay_segmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay through a SEGMENTED-manifest table (table property
    ``manifest_segment_buckets``): 64 buckets, 8 buckets per segment.
    Two broad epochs populate every bucket, then a narrow re-delivery
    epoch (a handful of user_ids → a handful of buckets) must REUSE —
    by path, Iceberg's manifest reuse — at least one of the parent
    snapshot's segment files instead of rewriting all metadata; the
    assert turns this row red if per-commit metadata cost regresses to
    O(table). Segmented manifests are semantically invisible, so the
    final state must equal the plain LWW replay."""
    import tempfile

    from pyspark.sql import types as T

    from nebula_spark.lake.merge import merge_into
    from nebula_spark.lake.table import LakeTable

    cl = _changelog(spark, sf_dir).select(
        "op_sequence", "op", "user_id", "value_cents", "ts_us"
    )
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("value_cents", T.LongType(), True),
            T.StructField("ts_us", T.LongType(), True),
        ]
    )
    tmp = tempfile.mkdtemp(prefix="nebula_seg_")
    table = LakeTable.create(
        os.path.join(tmp, "t"),
        schema,
        "user_id",
        n_buckets=64,
        properties={"manifest_segment_buckets": 8},
    )
    half = cl.agg(F.expr("percentile_approx(op_sequence, 0.5)")).collect()[0][0]
    merge_into(spark, table, cl.filter(F.col("op_sequence") <= half), epoch=0)
    merge_into(spark, table, cl.filter(F.col("op_sequence") > half), epoch=1)
    parent_segs = dict(table.snapshot().raw["files_segmented"]["segments"])
    # narrow re-delivery: ≤5 keys → ≤5 of 64 buckets → ≤5 of 8 segments
    merge_into(spark, table, cl.filter(F.col("user_id") < 5), epoch=2)
    segs = table.snapshot().raw["files_segmented"]["segments"]
    reused = sum(1 for s, p in segs.items() if parent_segs.get(s) == p)
    assert reused >= 1, (
        f"segmented commit rewrote every manifest segment "
        f"({len(segs)} total) — manifest reuse regressed"
    )
    return table.read(spark).select("user_id", "value_cents", "ts_us")


def _change_feed_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed between two snapshots (the Delta/Iceberg CDF
    shape; what the reference forwards to sinks as row events): replay
    the first half of the changelog, snapshot, replay the rest, then
    `change_feed(from_version=v0)` — each key whose winning version
    advanced, once, stamped insert/update/delete; deletes carry the
    key + nulls; tombstones with no live pre-image net out. The scan
    is incremental_diff's: changed buckets only, _seq-floor file
    skipping. Oracle: the LWW states at the two cuts joined in SQL."""
    import tempfile

    from pyspark.sql import types as T

    from nebula_spark.io.sources import change_feed
    from nebula_spark.lake.merge import merge_into
    from nebula_spark.lake.table import LakeTable

    cl = _changelog(spark, sf_dir).select(
        "op_sequence", "op", "user_id", "value_cents", "ts_us"
    )
    mm = cl.agg(F.min("op_sequence"), F.max("op_sequence")).collect()[0]
    half = (mm[0] + mm[1]) // 2  # deterministic, SQL-replicable cut
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("value_cents", T.LongType(), True),
            T.StructField("ts_us", T.LongType(), True),
        ]
    )
    tmp = tempfile.mkdtemp(prefix="nebula_cdf_")
    path = os.path.join(tmp, "t")
    table = LakeTable.create(path, schema, "user_id", n_buckets=8)
    merge_into(spark, table, cl.filter(F.col("op_sequence") <= half), epoch=0)
    v0 = table.snapshot().version
    merge_into(spark, table, cl.filter(F.col("op_sequence") > half), epoch=1)
    feed = change_feed(spark, path, v0)
    return feed.select(
        "user_id",
        "value_cents",
        "ts_us",
        F.col("_seq").alias("seq"),
        F.col("_change_type").alias("change_type"),
    )


def _point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC serving query: replay to a MoR table, key-CLUSTER it
    (sort-ordered compaction: each bucket splits into files owning
    contiguous disjoint key ranges), then LakeTable.lookup a fixed key
    range — bucket pruning (each key hashes to one bucket) + file
    pruning (per-file key bounds) + a pushed IN predicate. On the
    clustered table the lookup must plan as a PLAIN scan (the
    multi-file fold skip: every file key-unique and bounds-disjoint);
    the assert turns this row red if that regresses. Oracle: the LWW
    final state restricted to the same key range."""
    import tempfile

    from pyspark.sql import types as T

    from nebula_spark.lake.maintenance import compact
    from nebula_spark.lake.merge import merge_into
    from nebula_spark.lake.table import LakeTable

    cl = _changelog(spark, sf_dir).select(
        "op_sequence", "op", "user_id", "value_cents", "ts_us"
    )
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("value_cents", T.LongType(), True),
            T.StructField("ts_us", T.LongType(), True),
        ]
    )
    tmp = tempfile.mkdtemp(prefix="nebula_pl_")
    table = LakeTable.create(
        os.path.join(tmp, "t"),
        schema,
        "user_id",
        n_buckets=8,
        properties={"merge_mode": "mor"},
    )
    half = cl.agg(F.expr("percentile_approx(op_sequence, 0.5)")).collect()[0][0]
    merge_into(spark, table, cl.filter(F.col("op_sequence") <= half), epoch=0)
    merge_into(spark, table, cl.filter(F.col("op_sequence") > half), epoch=1)
    compact(spark, table, cluster_by_key=True, max_file_rows=2000)
    keys = list(range(0, 200))  # fixed range; absent ids simply miss
    out = table.lookup(spark, keys)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" not in plan and "Exchange" not in plan, (
        "clustered MoR lookup must be a plain pruned scan"
    )
    return out.select("user_id", "value_cents", "ts_us")


def _conflict_query(mode: str):
    """Exercise merge_into's conflict strategies end-to-end on a real
    (temp) lake table: target = latest signup image per user, batch =
    later non-signup events carrying PARTIAL images (clicks update
    value only, views update ts only)."""

    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        import tempfile

        from pyspark.sql import types as T

        from nebula_spark.cdc.dedup import lww_dedup
        from nebula_spark.lake.merge import merge_into
        from nebula_spark.lake.table import LakeTable

        cl = _changelog(spark, sf_dir)
        signups = lww_dedup(
            cl.filter(F.col("op") == "INSERT"), key="user_id", how="agg"
        ).select("op_sequence", "op", "user_id", "value_cents", "ts_us")
        batch = cl.filter(F.col("op") != "INSERT").select(
            "op_sequence",
            "op",
            "user_id",
            F.when(F.col("event_type") == "view", F.lit(None))
            .otherwise(F.col("value_cents"))
            .alias("value_cents"),
            F.when(F.col("event_type") == "click", F.lit(None))
            .otherwise(F.col("ts_us"))
            .alias("ts_us"),
        )
        schema = T.StructType(
            [
                T.StructField("user_id", T.LongType(), False),
                T.StructField("value_cents", T.LongType(), True),
                T.StructField("ts_us", T.LongType(), True),
            ]
        )
        tmp = tempfile.mkdtemp(prefix="nebula_conflict_")
        table = LakeTable.create(
            os.path.join(tmp, "t"), schema, "user_id", n_buckets=8
        )
        merge_into(spark, table, signups, epoch=0)
        res = merge_into(spark, table, batch, epoch=1, conflict=mode)
        if res.rejected is not None:
            res.rejected.unpersist()
        return table.read(spark).select("user_id", "value_cents", "ts_us")

    return q


def _mor_fww(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read table with the first_write_wins READ fold (table
    property 'conflict'): the whole changelog replays as appends in two
    scrambled halves; the read keeps each user's MIN-op_sequence event
    (an earliest DELETE tombstones the key forever)."""
    import tempfile

    from pyspark.sql import types as T

    from nebula_spark.lake.merge import merge_into
    from nebula_spark.lake.table import LakeTable

    cl = _changelog(spark, sf_dir).select(
        "op_sequence", "op", "user_id", "value_cents", "ts_us"
    )
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("value_cents", T.LongType(), True),
            T.StructField("ts_us", T.LongType(), True),
        ]
    )
    tmp = tempfile.mkdtemp(prefix="nebula_morfww_")
    table = LakeTable.create(
        os.path.join(tmp, "t"),
        schema,
        "user_id",
        n_buckets=8,
        properties={"merge_mode": "mor", "conflict": "first_write_wins"},
    )
    # out-of-order halves: FWW-by-sequence converges in any order
    merge_into(
        spark,
        table,
        cl.filter(F.col("op_sequence") % 2 == 1),
        epoch=0,
        conflict="first_write_wins",
    )
    merge_into(
        spark,
        table,
        cl.filter(F.col("op_sequence") % 2 == 0),
        epoch=1,
        conflict="first_write_wins",
    )
    return table.read(spark).select("user_id", "value_cents", "ts_us")


def _mor_maponly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-only merge (dedup_how='none'): the changelog replays as raw
    appends with NO in-batch dedup and NO shuffle — the MoR read fold
    resolves every version. One half is even delivered TWICE (epoch 2
    duplicates epoch 0's events under new epoch): the fold absorbs
    duplicate deliveries, so the final state still equals plain LWW.

    Two reads are returned (tagged ``phase``): 'mid' after the FIRST
    merge — the epoch-0 batch is coalesced to one input partition, so
    every bucket holds exactly ONE non-key-unique map-only file, the
    shape whose fold-skip the round-4 judge proved unsound — and
    'final' after all three. Both must fold to their LWW oracles."""
    import tempfile

    from pyspark.sql import types as T

    from nebula_spark.lake.merge import merge_into
    from nebula_spark.lake.table import LakeTable

    cl = _changelog(spark, sf_dir).select(
        "op_sequence", "op", "user_id", "value_cents", "ts_us"
    )
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("value_cents", T.LongType(), True),
            T.StructField("ts_us", T.LongType(), True),
        ]
    )
    tmp = tempfile.mkdtemp(prefix="nebula_maponly_")
    table = LakeTable.create(
        os.path.join(tmp, "t"),
        schema,
        "user_id",
        n_buckets=8,
        properties={"merge_mode": "mor"},
    )
    evens = cl.filter(F.col("op_sequence") % 2 == 0)
    odds = cl.filter(F.col("op_sequence") % 2 == 1)
    merge_into(spark, table, evens.coalesce(1), epoch=0, dedup_how="none")
    mid = (
        table.read(spark)
        .select("user_id", "value_cents", "ts_us")
        .withColumn("phase", F.lit("mid"))
    )
    merge_into(spark, table, odds, epoch=1, dedup_how="none")
    merge_into(spark, table, evens, epoch=2, dedup_how="none")  # duplicate delivery
    final = (
        table.read(spark)
        .select("user_id", "value_cents", "ts_us")
        .withColumn("phase", F.lit("final"))
    )
    return mid.unionByName(final)


def _replay_rescale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay across a MID-STREAM bucket rescale (partition-spec
    evolution): half the changelog merges into a 4-bucket table, the
    table re-buckets to 16 atomically (lake.maintenance.rescale), the
    rest replays under the new layout. Final state must equal a plain
    LWW replay — the rescale is invisible to semantics."""
    import tempfile

    from pyspark.sql import types as T

    from nebula_spark.lake.maintenance import rescale
    from nebula_spark.lake.merge import merge_into
    from nebula_spark.lake.table import LakeTable

    cl = _changelog(spark, sf_dir).select(
        "op_sequence", "op", "user_id", "value_cents", "ts_us"
    )
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("value_cents", T.LongType(), True),
            T.StructField("ts_us", T.LongType(), True),
        ]
    )
    tmp = tempfile.mkdtemp(prefix="nebula_rescale_")
    table = LakeTable.create(os.path.join(tmp, "t"), schema, "user_id", n_buckets=4)
    # order-independent split (LWW converges in any delivery order)
    merge_into(spark, table, cl.filter(F.col("op_sequence") % 2 == 0), epoch=0)
    rescale(spark, table, 16)
    merge_into(spark, table, cl.filter(F.col("op_sequence") % 2 == 1), epoch=1)
    return table.read(spark).select("user_id", "value_cents", "ts_us")


def _multi_table_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table fan-out semantics, driver-checkable: one change feed
    carrying two source tables (deterministic route on user_id parity —
    the reference's TableMap key, pkg/cdc/mysql.go:493-604) replays
    into two real temp LakeTables; result = union of both final states
    tagged by table. Exercises the same split-merge path
    run_multi_stream drives per micro-batch."""
    import tempfile

    from pyspark.sql import types as T

    from nebula_spark.lake.merge import merge_into
    from nebula_spark.lake.table import LakeTable

    cl = _changelog(spark, sf_dir).withColumn(
        "source_table",
        F.when(F.pmod(F.col("user_id"), F.lit(2)) == 0, F.lit("evens")).otherwise(
            F.lit("odds")
        ),
    )
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("value_cents", T.LongType(), True),
            T.StructField("ts_us", T.LongType(), True),
        ]
    )
    tmp = tempfile.mkdtemp(prefix="nebula_multi_")
    outs = []
    for name in ("evens", "odds"):
        table = LakeTable.create(
            os.path.join(tmp, name), schema, "user_id", n_buckets=8
        )
        sub = cl.filter(F.col("source_table") == name).drop("source_table")
        merge_into(spark, table, sub, epoch=0)
        outs.append(
            table.read(spark)
            .select("user_id", "value_cents", "ts_us")
            .withColumn("src", F.lit(name))
        )
    return outs[0].unionByName(outs[1])


def _event_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nebula_spark.cdc.filters import EventFilter

    ef = EventFilter(
        operations=["INSERT", "UPDATE"],
        field_predicates=[
            ("value_cents", "gte", 500),
            ("event_type", "like", "%i%"),
            ("user_id", "lt", 100),
        ],
    )
    return ef.apply(_changelog(spark, sf_dir)).select(
        "op_sequence", "op", "user_id", "event_type", "value_cents"
    )


def _transform_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nebula_spark.cdc.transforms import (
        chain,
        column_projection,
        field_mapper,
        filter_transform,
        type_converter,
    )

    t = chain(
        filter_transform(F.col("l_quantity") > 25),
        field_mapper({"l_orderkey": "order_id", "l_extendedprice": "price"}),
        type_converter({"l_quantity": "int"}),
        column_projection(whitelist=["order_id", "l_linenumber", "l_quantity", "price"]),
    )
    out = t(_t(spark, sf_dir, "lineitem"))
    return out.select(
        "order_id",
        "l_linenumber",
        "l_quantity",
        (F.round(F.col("price") * 100)).cast("long").alias("price_cents"),
    )


def _dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nebula_spark.functions.dedupe import exact_dedup

    return exact_dedup(_t(spark, sf_dir, "documents"))


def _text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nebula_spark.functions.dedupe import spread
    from nebula_spark.functions.text import (
        bpe_ish_token_count,
        fingerprint,
        lang_id,
        token_count,
    )

    d = spread(_t(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        token_count("text").alias("n_words"),
        bpe_ish_token_count("text").alias("n_bpe"),
        lang_id("text").alias("lang_guess"),
        fingerprint("text").alias("fp"),
    )


def _derived_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → (doc_id, tokens array<int>) with token ids = word
    lengths: deterministic, SQL-twinnable token payloads."""
    from nebula_spark.functions.dedupe import spread
    from nebula_spark.functions.text import words

    return spread(_t(spark, sf_dir, "documents")).select(
        "doc_id",
        F.transform(words("text"), lambda w: F.length(w)).alias("tokens"),
    )


_DERIVED_TOKENS_SQL = r"""
SELECT doc_id,
       list_transform(regexp_split_to_array(trim(text), '\s+'),
                      x -> CAST(length(x) AS INT)) AS tokens
FROM documents
"""


def _token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nebula_spark.functions.tokens import token_histogram

    return token_histogram(_derived_tokens(spark, sf_dir))


def _sequence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nebula_spark.functions.tokens import sequence_stats

    s = sequence_stats(_derived_tokens(spark, sf_dir))
    return s.select(
        "n_docs",
        "total_tokens",
        "min_len",
        "max_len",
        F.round("avg_len", 4).alias("avg_len"),
    )


def _embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nebula_spark.functions.similarity import embedding_near_dups

    return embedding_near_dups(_t(spark, sf_dir, "embeddings"), threshold=0.3)


def _agg_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_value_cents"),
        F.countDistinct("user_id").alias("n_users"),
    )


def _ann_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nebula_spark.functions.similarity import brute_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return brute_topk(emb, queries, k=3).select(
        "query_id", "neighbor_id", "rank", "score"
    )


def _ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nebula_spark.functions.similarity import lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return lsh_topk(emb, queries, k=3)


def _ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nebula_spark.functions.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return ivf_topk(emb, queries, k=3, n_cells=16, n_probe=4)


def _minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nebula_spark.functions.dedupe import minhash_lsh_candidates

    return minhash_lsh_candidates(
        _t(spark, sf_dir, "documents"), n_hashes=4, band_size=2
    )


def _jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nebula_spark.functions.dedupe import minhash_lsh_candidates, ngram_jaccard

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_candidates(docs, n_hashes=4, band_size=2)
    return ngram_jaccard(pairs, docs)


def _near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nebula_spark.functions.dedupe import near_dedup

    return near_dedup(
        _t(spark, sf_dir, "documents"),
        threshold=0.8,
        n_hashes=4,
        band_size=2,
    ).select("doc_id")


def _simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nebula_spark.functions.dedupe import simhash64

    return simhash64(_t(spark, sf_dir, "documents")).select("doc_id", "simbits")


def _simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nebula_spark.functions.dedupe import simhash64, simhash_near_pairs

    return simhash_near_pairs(simhash64(_t(spark, sf_dir, "documents")))


def _pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nebula_spark.functions.dedupe import spread
    from nebula_spark.functions.text import words
    from nebula_spark.functions.tokens import pack_sequences

    docs = spread(_t(spark, sf_dir, "documents")).select(
        "doc_id",
        F.transform(words("text"), lambda w: F.length(w)).alias("tokens"),
        # stored length column (size(transform(x, f)) == size(x), so
        # this equals size(tokens) without the per-word interpreted
        # transform): lets pack_sequences' phase-2 totals scan skip the
        # token materialization entirely (len_col contract)
        F.size(words("text")).alias("_n_tok"),
    )
    packs = pack_sequences(docs, context_len=512, eos_token=0, len_col="_n_tok")
    # fingerprint the token array (the harness canonicalizer can't sort
    # a list column) — same md5(csv) twin trick as multimodal_features
    return packs.select(
        "pack_id",
        F.md5(F.concat_ws(",", F.col("tokens").cast("array<string>"))).alias(
            "tokens_fp"
        ),
        "n_tok",
        "n_docs",
    )


def _media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing through mapInPandas: documents as fake media
    payloads (UTF-8 bytes), features fingerprinted back to the sha256
    bytes both engines can derive."""
    from nebula_spark.functions.dedupe import spread
    from nebula_spark.functions.multimodal import extract_features

    media = spread(_t(spark, sf_dir, "documents")).select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.when(F.length("text") % 2 == 0, F.lit("image"))
        .otherwise(F.lit("audio"))
        .alias("kind"),
        F.col("text").cast("binary").alias("payload"),
        F.lit("text/plain").alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("int").alias("duration_ms"),
    )
    feats = extract_features(media)
    return feats.select(
        "media_id",
        "kind",
        "feature_dim",
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    "feature", lambda v: F.round(v * 255).cast("int").cast("string")
                ),
            )
        ).alias("feature_fp"),
    )


def _sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: 30-min inactivity gap splits a user's events into
    sessions (lag + cumulative sum window)."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us")
    )
    w = Window.partitionBy("user_id").orderBy("ts_us")
    gap = F.lit(30 * 60 * 1_000_000)
    new_session = (
        (F.col("ts_us") - F.lag("ts_us").over(w) > gap)
        | F.lag("ts_us").over(w).isNull()
    ).cast("long")
    sessions = (
        ev.withColumn("_new", new_session)
        .withColumn("session_id", F.sum("_new").over(w))
        .groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return sessions.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.max("n_events").alias("max_session_events"),
    )


def _word_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nebula_spark.functions.dedupe import spread
    from nebula_spark.functions.text import words

    d = spread(_t(spark, sf_dir, "documents"))
    return (
        d.select(F.explode(words(F.lower(F.col("text")))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.col("freq") >= 10)
    )


def _text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nebula_spark.functions.dedupe import spread
    from nebula_spark.functions.text import quality_score

    return spread(_t(spark, sf_dir, "documents")).select(
        "doc_id", quality_score("text").alias("quality")
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: CDC last-writer-wins replay to final state on sf0.001."""
    return _replay_final_state(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "cdc_lww_dedup_window": _lww("window"),
        "cdc_lww_dedup_agg": _lww("agg"),
        "cdc_lww_dedup_salted": _lww("salted"),
        "cdc_replay_final_state": _replay_final_state,
        "cdc_conflict_merge": _conflict_query("merge"),
        "cdc_conflict_reject": _conflict_query("reject"),
        "cdc_conflict_fww": _conflict_query("first_write_wins"),
        "cdc_replay_rescale": _replay_rescale,
        "cdc_replay_generational": _replay_generational,
        "cdc_replay_segmented": _replay_segmented,
        "cdc_change_feed": _change_feed_query,
        "cdc_point_lookup": _point_lookup,
        "cdc_mor_fww": _mor_fww,
        "cdc_mor_maponly": _mor_maponly,
        "cdc_multi_table_route": _multi_table_route,
        "cdc_event_filter": _event_filter,
        "transform_chain": _transform_chain,
        "dedup_exact": _dedup_exact,
        "text_stats": _text_stats,
        "agg_events_by_type": _agg_events,
        "ann_cosine_topk": _ann_brute,
        "ann_lsh_topk": _ann_lsh,
        "ann_ivf_topk": _ann_ivf,
        "dedup_embedding_cosine": _embedding_near_dup,
        "dedup_minhash_lsh": _minhash,
        "dedup_ngram_jaccard": _jaccard,
        "dedup_near_corpus": _near_dedup,
        "dedup_simhash": _simhash,
        "dedup_simhash_pairs": _simhash_pairs,
        "token_histogram": _token_histogram,
        "sequence_stats": _sequence_stats,
        "pack_sequences": _pack_sequences,
        "multimodal_features": _media_features,
        "events_sessionize": _sessionize,
        "text_word_histogram": _word_histogram,
        "text_quality": _text_quality,
    }


# simhash bits re-derived in DuckDB exactly as the engine derives them:
# bit j of a word = parity of hex char j of md5(w)||md5(w#1); per-doc
# bit = majority vote over distinct words
_SIMHASH_CTE = r"""
ws AS (
  SELECT doc_id,
         list_distinct(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
  FROM documents
), tok AS (
  SELECT doc_id, unnest(w) AS word FROM ws
), hh AS (
  SELECT doc_id, md5(word) || md5(word || '#1') AS h FROM tok
), votes AS (
  SELECT doc_id, j,
         sum(CASE WHEN substring(h, j + 1, 1) IN ('1','3','5','7','9','b','d','f')
                  THEN 1 ELSE -1 END) AS s
  FROM hh, range(0, 64) t(j)
  GROUP BY doc_id, j
), sim AS (
  SELECT doc_id,
         string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS simbits
  FROM votes GROUP BY doc_id
)
"""


def _lsh_bucket_sql() -> str:
    """The same ±1 hyperplanes the engine uses, inlined as literals."""
    from nebula_spark.functions.similarity import hyperplane_signs

    planes = hyperplane_signs(n_planes=6, seed=42, dim=64)
    return " || ".join(
        "(CASE WHEN list_dot_product(emb, ["
        + ",".join(f"{s:.1f}" for s in signs)
        + "]::DOUBLE[]) > 0 THEN '1' ELSE '0' END)"
        for signs in planes
    )


def oracle_sql() -> dict[str, str]:
    lww = _LWW_SQL
    return {
        "cdc_lww_dedup_window": lww,
        "cdc_lww_dedup_agg": lww,
        "cdc_lww_dedup_salted": lww,
        "cdc_replay_final_state": f"""
            SELECT user_id, value_cents, ts_us FROM ({lww}) WHERE op <> 'DELETE'
        """,
        "cdc_conflict_merge": f"""
            WITH cl AS ({_CHANGELOG_SQL}), {_CONFLICT_TB_SQL},
            j AS (
              SELECT coalesce(t.user_id, b.user_id) AS user_id,
                     t.value_cents AS tval, t.ts_us AS tts,
                     b.op, b.bval, b.bts,
                     (b.user_id IS NOT NULL
                      AND (t.user_id IS NULL OR b.bseq > t.tseq)) AS b_wins
              FROM t FULL OUTER JOIN b ON t.user_id = b.user_id
            )
            SELECT user_id,
                   CASE WHEN b_wins THEN coalesce(bval, tval) ELSE tval END AS value_cents,
                   CASE WHEN b_wins THEN coalesce(bts, tts) ELSE tts END AS ts_us
            FROM j
            WHERE NOT (b_wins AND op = 'DELETE')
        """,
        "cdc_conflict_reject": f"""
            WITH cl AS ({_CHANGELOG_SQL}), {_CONFLICT_TB_SQL}
            SELECT user_id, value_cents, ts_us FROM t
            UNION ALL
            SELECT b.user_id, b.bval AS value_cents, b.bts AS ts_us
            FROM b LEFT JOIN t ON b.user_id = t.user_id
            WHERE t.user_id IS NULL AND b.op <> 'DELETE'
        """,
        "cdc_conflict_fww": f"""
            -- first_write_wins: target rows never change; a user absent
            -- from the target gets the EARLIEST batch event's image
            -- (FWW dedup keeps min op_sequence; an earliest DELETE is a
            -- tombstone, i.e. no row)
            WITH cl AS ({_CHANGELOG_SQL}),
            t AS (
              SELECT user_id, value_cents, ts_us FROM (
                SELECT *, row_number() OVER (
                  PARTITION BY user_id ORDER BY op_sequence DESC) rn
                FROM cl WHERE op = 'INSERT') WHERE rn = 1
            ),
            bf AS (
              SELECT user_id, op,
                     CASE WHEN event_type = 'view' THEN NULL ELSE value_cents END AS bval,
                     CASE WHEN event_type = 'click' THEN NULL ELSE ts_us END AS bts
              FROM (
                SELECT *, row_number() OVER (
                  PARTITION BY user_id ORDER BY op_sequence ASC) rn
                FROM cl WHERE op <> 'INSERT') WHERE rn = 1
            )
            SELECT user_id, value_cents, ts_us FROM t
            UNION ALL
            SELECT bf.user_id, bf.bval AS value_cents, bf.bts AS ts_us
            FROM bf LEFT JOIN t ON bf.user_id = t.user_id
            WHERE t.user_id IS NULL AND bf.op <> 'DELETE'
        """,
        "cdc_mor_maponly": f"""
            -- map-only appends + read-time LWW fold, duplicate delivery
            -- absorbed. 'mid' = read after ONE merge of the even-seq
            -- half (single non-key-unique file per bucket — the fold
            -- must still run); 'final' = all deliveries == plain LWW
            WITH cl AS ({_CHANGELOG_SQL})
            SELECT user_id, value_cents, ts_us, 'mid' AS phase FROM (
              SELECT *, row_number() OVER (
                PARTITION BY user_id ORDER BY op_sequence DESC) rn
              FROM cl WHERE op_sequence % 2 = 0
            ) WHERE rn = 1 AND op <> 'DELETE'
            UNION ALL
            SELECT user_id, value_cents, ts_us, 'final' AS phase FROM (
              SELECT *, row_number() OVER (
                PARTITION BY user_id ORDER BY op_sequence DESC) rn
              FROM cl
            ) WHERE rn = 1 AND op <> 'DELETE'
        """,
        "cdc_mor_fww": f"""
            -- merge-on-read FWW fold: each user's MIN-op_sequence event
            -- decides; an earliest DELETE means no row
            SELECT user_id, value_cents, ts_us FROM (
              SELECT *, row_number() OVER (
                PARTITION BY user_id ORDER BY op_sequence ASC) rn
              FROM ({_CHANGELOG_SQL})
            ) WHERE rn = 1 AND op <> 'DELETE'
        """,
        "cdc_replay_rescale": f"""
            -- a mid-stream bucket rescale is semantically invisible:
            -- final state == plain LWW replay
            SELECT user_id, value_cents, ts_us FROM ({lww}) WHERE op <> 'DELETE'
        """,
        "cdc_replay_generational": f"""
            -- range-partitioned generational merges with key-bounds file
            -- pruning are semantically invisible: final state == LWW
            SELECT user_id, value_cents, ts_us FROM ({lww}) WHERE op <> 'DELETE'
        """,
        "cdc_replay_segmented": f"""
            -- segmented manifests (metadata layout) are semantically
            -- invisible: final state == plain LWW replay
            SELECT user_id, value_cents, ts_us FROM ({lww}) WHERE op <> 'DELETE'
        """,
        "cdc_change_feed": f"""
            -- CDF between the half-way snapshot and head == the LWW
            -- states at the two cuts joined: keys whose winning seq
            -- advanced, typed insert/update/delete, deletes carrying
            -- nulls, tombstone-to-tombstone netted out
            WITH cl AS ({_CHANGELOG_SQL}),
            h AS (SELECT (min(op_sequence) + max(op_sequence)) // 2 AS half FROM cl),
            s0 AS (
              SELECT * FROM (
                SELECT cl.*, row_number() OVER (
                  PARTITION BY user_id ORDER BY op_sequence DESC) rn
                FROM cl, h WHERE op_sequence <= h.half
              ) WHERE rn = 1
            ),
            s1 AS (
              SELECT * FROM (
                SELECT *, row_number() OVER (
                  PARTITION BY user_id ORDER BY op_sequence DESC) rn
                FROM cl
              ) WHERE rn = 1
            )
            SELECT s1.user_id,
                   CASE WHEN s1.op = 'DELETE' THEN NULL ELSE s1.value_cents END AS value_cents,
                   CASE WHEN s1.op = 'DELETE' THEN NULL ELSE s1.ts_us END AS ts_us,
                   s1.op_sequence AS seq,
                   CASE WHEN s1.op = 'DELETE' THEN 'delete'
                        WHEN s0.user_id IS NULL OR s0.op = 'DELETE' THEN 'insert'
                        ELSE 'update' END AS change_type
            FROM s1 LEFT JOIN s0 ON s1.user_id = s0.user_id
            WHERE s1.op_sequence <> coalesce(s0.op_sequence, -1)
              AND NOT (s1.op = 'DELETE'
                       AND (s0.user_id IS NULL OR s0.op = 'DELETE'))
        """,
        "cdc_point_lookup": f"""
            -- bucket/file/row-pruned lookup == final state restricted
            -- to the requested key range
            SELECT user_id, value_cents, ts_us FROM ({lww})
            WHERE op <> 'DELETE' AND user_id BETWEEN 0 AND 199
        """,
        "cdc_multi_table_route": f"""
            -- the route key is a pure function of user_id, so per-table
            -- LWW replay + union == global LWW replay + tag
            WITH cl AS ({_CHANGELOG_SQL})
            SELECT user_id, value_cents, ts_us,
                   CASE WHEN user_id % 2 = 0 THEN 'evens' ELSE 'odds' END AS src
            FROM (
              SELECT *, row_number() OVER (
                PARTITION BY user_id ORDER BY op_sequence DESC) rn
              FROM cl
            ) WHERE rn = 1 AND op <> 'DELETE'
        """,
        "cdc_event_filter": f"""
            SELECT op_sequence, op, user_id, event_type, value_cents
            FROM ({_CHANGELOG_SQL})
            WHERE op IN ('INSERT','UPDATE') AND value_cents >= 500
              AND event_type LIKE '%i%' AND user_id < 100
        """,
        "transform_chain": """
            SELECT l_orderkey AS order_id, l_linenumber,
                   CAST(l_quantity AS INT) AS l_quantity,
                   CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents
            FROM lineitem WHERE l_quantity > 25
        """,
        "dedup_exact": r"""
            SELECT min(doc_id) AS doc_id,
                   md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS content_hash,
                   count(*) AS dup_count
            FROM documents GROUP BY 2
        """,
        "text_stats": rf"""
            SELECT doc_id,
                   len(regexp_split_to_array(trim(text), '\s+')) AS n_words,
                   CAST(len(regexp_extract_all(lower(trim(text)),
                        '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS INT) AS n_bpe,
                   CASE WHEN len(list_intersect(
                        list_distinct(regexp_split_to_array(lower(trim(text)), '\s+')),
                        {_STOPWORDS_SQL})) >= 2
                        THEN 'en' ELSE 'unk' END AS lang_guess,
                   md5(array_to_string(
                        regexp_split_to_array(lower(trim(text)), '\s+')[1:8], ' ')) AS fp
            FROM documents
        """,
        "agg_events_by_type": """
            -- CAST: DuckDB sum(BIGINT) yields HUGEINT (int128) whose
            -- serialized form hash-mismatches Spark's long even when the
            -- values are identical
            SELECT event_type, count(*) AS n,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents,
                   count(DISTINCT user_id) AS n_users
            FROM events GROUP BY event_type
        """,
        "ann_cosine_topk": """
            SELECT query_id, neighbor_id, rank, score FROM (
              SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     round(list_dot_product(q.emb, c.emb) /
                           (sqrt(list_dot_product(q.emb, q.emb)) *
                            sqrt(list_dot_product(c.emb, c.emb))), 6) AS score,
                     row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY round(list_dot_product(q.emb, c.emb) /
                           (sqrt(list_dot_product(q.emb, q.emb)) *
                            sqrt(list_dot_product(c.emb, c.emb))), 6) DESC,
                           c.vec_id ASC) AS rank
              FROM (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings WHERE vec_id < 10) q,
                   (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings) c
              WHERE q.vec_id <> c.vec_id
            ) WHERE rank <= 3
        """,
        "dedup_embedding_cosine": f"""
            WITH c AS (
              SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
            ), bk AS (
              SELECT vec_id, emb, {_lsh_bucket_sql()} AS bkt FROM c
            )
            SELECT vec_a, vec_b, cos FROM (
              SELECT a.vec_id AS vec_a, x.vec_id AS vec_b,
                     round(list_dot_product(a.emb, x.emb) /
                           (sqrt(list_dot_product(a.emb, a.emb)) *
                            sqrt(list_dot_product(x.emb, x.emb))), 6) AS cos
              FROM bk a JOIN bk x ON a.bkt = x.bkt AND a.vec_id < x.vec_id
            ) WHERE cos >= 0.3
        """,
        "ann_ivf_topk": """
            WITH c AS (
              SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
            ), cents AS (
              SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) AS cid,
                     emb
              FROM (SELECT vec_id, emb FROM c
                    ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 16)
            ), cs AS (
              SELECT v.vec_id, t.cid,
                     round(list_dot_product(v.emb, t.emb) /
                           (sqrt(list_dot_product(v.emb, v.emb)) *
                            sqrt(list_dot_product(t.emb, t.emb))), 6) AS s
              FROM c v CROSS JOIN cents t
            ), assign AS (
              SELECT vec_id, cid AS cell FROM (
                SELECT vec_id, cid,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY s DESC, cid ASC) AS rn
                FROM cs
              ) WHERE rn = 1
            ), probes AS (
              SELECT vec_id AS query_id, cid AS cell FROM (
                SELECT vec_id, cid,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY s DESC, cid ASC) AS rn
                FROM cs WHERE vec_id < 10
              ) WHERE rn <= 4
            )
            SELECT query_id, neighbor_id, rank, score FROM (
              SELECT p.query_id, a.vec_id AS neighbor_id,
                     round(list_dot_product(q.emb, x.emb) /
                           (sqrt(list_dot_product(q.emb, q.emb)) *
                            sqrt(list_dot_product(x.emb, x.emb))), 6) AS score,
                     row_number() OVER (
                       PARTITION BY p.query_id
                       ORDER BY round(list_dot_product(q.emb, x.emb) /
                           (sqrt(list_dot_product(q.emb, q.emb)) *
                            sqrt(list_dot_product(x.emb, x.emb))), 6) DESC,
                           a.vec_id ASC) AS rank
              FROM probes p
              JOIN assign a ON a.cell = p.cell
              JOIN c q ON q.vec_id = p.query_id
              JOIN c x ON x.vec_id = a.vec_id
              WHERE a.vec_id <> p.query_id
            ) WHERE rank <= 3
        """,
        "dedup_minhash_lsh": r"""
            WITH ws AS (
              SELECT doc_id,
                     regexp_split_to_array(lower(trim(text)), '\s+') AS w
              FROM documents
            ), sh AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                       range(1, greatest(len(w) - 2, 1) + 1),
                       i -> array_to_string(list_slice(w, i, i + 2), ' '))) AS s
              FROM ws
            ), sig AS (
              SELECT doc_id,
                     [list_min(list_transform(s, x -> md5(x || '#0'))),
                      list_min(list_transform(s, x -> md5(x || '#1'))),
                      list_min(list_transform(s, x -> md5(x || '#2'))),
                      list_min(list_transform(s, x -> md5(x || '#3')))] AS g
              FROM sh
            ), bands AS (
              SELECT doc_id, 0 AS band, g[1] || '|' || g[2] AS key FROM sig
              UNION ALL
              SELECT doc_id, 1 AS band, g[3] || '|' || g[4] AS key FROM sig
            )
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b USING (band, key)
            WHERE a.doc_id < b.doc_id
        """,
        "dedup_ngram_jaccard": r"""
            WITH ws AS (
              SELECT doc_id,
                     regexp_split_to_array(lower(trim(text)), '\s+') AS w
              FROM documents
            ), sh AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                       range(1, greatest(len(w) - 2, 1) + 1),
                       i -> array_to_string(list_slice(w, i, i + 2), ' '))) AS s
              FROM ws
            ), sig AS (
              SELECT doc_id,
                     [list_min(list_transform(s, x -> md5(x || '#0'))),
                      list_min(list_transform(s, x -> md5(x || '#1'))),
                      list_min(list_transform(s, x -> md5(x || '#2'))),
                      list_min(list_transform(s, x -> md5(x || '#3')))] AS g
              FROM sh
            ), bands AS (
              SELECT doc_id, 0 AS band, g[1] || '|' || g[2] AS key FROM sig
              UNION ALL
              SELECT doc_id, 1 AS band, g[3] || '|' || g[4] AS key FROM sig
            ), pairs AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM bands a JOIN bands b USING (band, key)
              WHERE a.doc_id < b.doc_id
            )
            SELECT doc_a, doc_b,
                   round(len(list_intersect(sa.s, sb.s))::DOUBLE /
                         len(list_distinct(list_concat(sa.s, sb.s))), 4) AS jaccard
            FROM pairs JOIN sh sa ON pairs.doc_a = sa.doc_id
                       JOIN sh sb ON pairs.doc_b = sb.doc_id
        """,
        "dedup_near_corpus": r"""
            WITH ws AS (
              SELECT doc_id,
                     regexp_split_to_array(lower(trim(text)), '\s+') AS w
              FROM documents
            ), sh AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                       range(1, greatest(len(w) - 2, 1) + 1),
                       i -> array_to_string(list_slice(w, i, i + 2), ' '))) AS s
              FROM ws
            ), sig AS (
              SELECT doc_id,
                     [list_min(list_transform(s, x -> md5(x || '#0'))),
                      list_min(list_transform(s, x -> md5(x || '#1'))),
                      list_min(list_transform(s, x -> md5(x || '#2'))),
                      list_min(list_transform(s, x -> md5(x || '#3')))] AS g
              FROM sh
            ), bands AS (
              SELECT doc_id, 0 AS band, g[1] || '|' || g[2] AS key FROM sig
              UNION ALL
              SELECT doc_id, 1 AS band, g[3] || '|' || g[4] AS key FROM sig
            ), pairs AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM bands a JOIN bands b USING (band, key)
              WHERE a.doc_id < b.doc_id
            ), dupes AS (
              SELECT DISTINCT doc_b
              FROM pairs JOIN sh sa ON pairs.doc_a = sa.doc_id
                         JOIN sh sb ON pairs.doc_b = sb.doc_id
              WHERE round(len(list_intersect(sa.s, sb.s))::DOUBLE /
                    len(list_distinct(list_concat(sa.s, sb.s))), 4) >= 0.8
            )
            SELECT doc_id FROM documents
            WHERE doc_id NOT IN (SELECT doc_b FROM dupes)
        """,
        "events_sessionize": """
            WITH s AS (
              SELECT user_id, epoch_us(ts) AS ts_us,
                     CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                          OR lag(epoch_us(ts)) OVER w IS NULL THEN 1 ELSE 0 END AS _new
              FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))
            ), sess AS (
              SELECT user_id,
                     sum(_new) OVER (PARTITION BY user_id ORDER BY ts_us) AS session_id
              FROM s
            ), per AS (
              SELECT user_id, session_id, count(*) AS n_events
              FROM sess GROUP BY user_id, session_id
            )
            SELECT user_id, count(*) AS n_sessions,
                   max(n_events) AS max_session_events
            FROM per GROUP BY user_id
        """,
        "text_word_histogram": r"""
            SELECT word, count(*) AS freq FROM (
              SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS word
              FROM documents
            ) GROUP BY word HAVING count(*) >= 10
        """,
        "text_quality": rf"""
            WITH t AS (
              SELECT doc_id, text,
                     regexp_split_to_array(trim(text), '\s+') AS w,
                     length(text) AS n_chars
              FROM documents
            ), m AS (
              SELECT doc_id,
                     least(n_chars / 200.0, 1.0) AS len_ok,
                     list_sum(list_transform(w, x -> length(x)))::DOUBLE
                       / greatest(len(w), 1) AS wl,
                     least(len(list_intersect(
                       list_distinct(regexp_split_to_array(lower(trim(text)), '\s+')),
                       {_STOPWORDS_SQL}))::DOUBLE / 3.0, 1.0) AS sw_ok
              FROM t
            )
            SELECT doc_id,
                   round(0.4 * len_ok
                       + 0.3 * (CASE WHEN wl >= 3 AND wl <= 10 THEN 1.0 ELSE 0.4 END)
                       + 0.3 * sw_ok, 4) AS quality
            FROM m
        """,
        "dedup_simhash": f"WITH {_SIMHASH_CTE} SELECT doc_id, simbits FROM sim",
        "dedup_simhash_pairs": f"""
            WITH {_SIMHASH_CTE},
            bands AS (
              SELECT doc_id, simbits, bd, substring(simbits, bd * 16 + 1, 16) AS key
              FROM sim, range(0, 4) t(bd)
            ), pairs AS (
              SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
                     x.simbits AS sa, y.simbits AS sb
              FROM bands x JOIN bands y
                ON x.bd = y.bd AND x.key = y.key AND x.doc_id < y.doc_id
            )
            SELECT doc_a, doc_b,
                   CAST(len(list_filter(range(1, 65),
                        i -> substring(sa, i, 1) <> substring(sb, i, 1))) AS INT)
                     AS hamming
            FROM pairs
        """,
        "ann_lsh_topk": f"""
            WITH c AS (
              SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
            ), bk AS (
              SELECT vec_id, emb, {_lsh_bucket_sql()} AS bkt FROM c
            ), q AS (
              SELECT vec_id, emb, bkt FROM bk WHERE vec_id < 10
            ), scored AS (
              SELECT q.vec_id AS query_id, cb.vec_id AS neighbor_id,
                     round(list_dot_product(q.emb, cb.emb) /
                           (sqrt(list_dot_product(q.emb, q.emb)) *
                            sqrt(list_dot_product(cb.emb, cb.emb))), 6) AS score
              FROM q JOIN bk cb ON q.bkt = cb.bkt AND q.vec_id <> cb.vec_id
            )
            SELECT query_id, neighbor_id, rank, score FROM (
              SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rank
              FROM scored
            ) WHERE rank <= 3
        """,
        "token_histogram": f"""
            SELECT token_id, count(*) AS freq FROM (
              SELECT unnest(tokens) AS token_id FROM ({_DERIVED_TOKENS_SQL})
            ) GROUP BY token_id
        """,
        "sequence_stats": f"""
            SELECT count(*) AS n_docs,
                   CAST(sum(len(tokens)) AS BIGINT) AS total_tokens,
                   CAST(min(len(tokens)) AS INT) AS min_len,
                   CAST(max(len(tokens)) AS INT) AS max_len,
                   round(avg(len(tokens)), 4) AS avg_len
            FROM ({_DERIVED_TOKENS_SQL})
        """,
        "pack_sequences": r"""
            WITH d AS (
              SELECT doc_id,
                     list_transform(regexp_split_to_array(trim(text), '\s+'),
                                    x -> CAST(length(x) AS INT)) AS toks
              FROM documents
            ), s AS (
              SELECT doc_id, toks, len(toks) + 1 AS _len
              FROM d WHERE len(toks) + 1 <= 512
            ), c AS (
              SELECT *, sum(_len) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
              FROM s
            ), b AS (
              SELECT *, CAST(floor((cum - _len) / 512) AS BIGINT) AS bin FROM c
            ), packs AS (
              SELECT bin AS pack_id,
                     flatten(list(list_append(toks, 0) ORDER BY doc_id)) AS tokens,
                     count(*) AS n_docs
              FROM b GROUP BY bin
            )
            SELECT pack_id, md5(array_to_string(tokens, ',')) AS tokens_fp,
                   CAST(len(tokens) AS INT) AS n_tok, n_docs
            FROM packs
        """,
        "multimodal_features": """
            WITH m AS (
              SELECT CAST(doc_id AS VARCHAR) AS media_id,
                     CASE WHEN length(text) % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
                     text
              FROM documents
            ), h AS (
              SELECT media_id, kind,
                     CASE WHEN kind = 'audio' THEN sha256('audio' || text)
                          ELSE sha256(text) END AS hx
              FROM m
            ), byt AS (
              SELECT media_id, kind,
                     list_transform(range(0, 16), i ->
                       (strpos('0123456789abcdef', substring(hx, 2*i + 1, 1)) - 1) * 16 +
                       (strpos('0123456789abcdef', substring(hx, 2*i + 2, 1)) - 1)) AS bl
              FROM h
            )
            SELECT media_id, kind, CAST(16 AS INT) AS feature_dim,
                   md5(array_to_string(bl, ',')) AS feature_fp
            FROM byt
        """,
    }
