"""Last-writer-wins dedup of a change batch.

The reference resolves conflicting events for a key with strategies
``last_write_wins | first_write_wins | merge | reject``, default
last_write_wins (/root/reference/internal/pipeline/cdc.go:197-221,
257-263). Here that becomes a relational reduction over the batch:
keep, per key, the row with the max (LWW) or min (FWW) ``op_sequence``.

Three physical strategies, same semantics:

- ``window``  — ``row_number() OVER (PARTITION BY key ORDER BY seq
  DESC) = 1``. The literal reference semantics; full shuffle + per-key
  sort. Fine for moderate batches; a single hot key serializes into one
  task (the reference has the same flaw — its FNV hash partitioner
  sends a hot ordering-key to one worker, pkg/cdc/stream.go:461-493).
- ``agg``     — ``max(struct(seq, payload...))`` group-by. Partial
  (map-side) aggregation combines hot-key rows *before* the shuffle,
  so skew largely disappears and the shuffle carries ≤ one row per
  (key, input-partition). **Default at scale.**
- ``salted``  — explicit two-phase: max per (key, salt) then max per
  key, salt = xxhash64(seq) % S. Demonstrates the salting pattern for
  engines without partial agg and bounds reducer fan-in for extreme
  hot keys.

Determinism: ``max(struct(...))`` orders by seq first; with unique
op_sequence (a total order, like an LSN) every strategy returns the
identical row set — unlike ``max_by``, which breaks ties arbitrarily.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from nebula_spark.functions.dedupe import _q

STRATEGIES = ("agg", "window", "salted")


def lww_dedup(
    df: DataFrame,
    key: str = "doc_id",
    seq: str = "op_sequence",
    how: str = "agg",
    salt_buckets: int = 32,
    first_writer_wins: bool = False,
) -> DataFrame:
    """Reduce a change batch to one event per key (latest by ``seq``).

    Output keeps the full row (including ``op``) with the original
    column order — the caller decides what a surviving DELETE means.
    """
    if how not in STRATEGIES:
        raise ValueError(f"unknown dedup strategy {how!r}; one of {STRATEGIES}")
    cols = df.columns
    if how == "window":
        order = F.col(seq).asc() if first_writer_wins else F.col(seq).desc()
        w = Window.partitionBy(key).orderBy(order)
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(*cols)
        )

    if how == "agg":
        # SQL text: one F.expr for the aggregate and one selectExpr
        # instead of a Column call per payload column; the struct is
        # ordered by seq first => max == latest event, deterministically
        fn = "min" if first_writer_wins else "max"
        packed = ", ".join(_q(c) for c in [seq] + [c for c in cols if c not in (key, seq)])
        reduced = df.groupBy(_q(key)).agg(F.expr(f"{fn}(struct({packed})) AS _e"))
        return reduced.selectExpr(
            *[_q(c) if c == key else f"_e.{_q(c)} AS {_q(c)}" for c in cols]
        )

    # salted two-phase
    payload = [c for c in cols if c != key]
    packed = F.struct(F.col(seq), *[F.col(c) for c in payload if c != seq])
    agg_fn = F.min if first_writer_wins else F.max
    salt = F.pmod(F.xxhash64(F.col(seq)), F.lit(salt_buckets))
    phase1 = (
        df.withColumn("_salt", salt)
        .groupBy(key, "_salt")
        .agg(agg_fn(packed).alias("_e"))
    )
    reduced = phase1.groupBy(key).agg(agg_fn("_e").alias("_e"))
    return reduced.select(F.col(key), F.col("_e.*")).select(*cols)
