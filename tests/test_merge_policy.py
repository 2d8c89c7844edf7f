"""The merge policy: ``plan_merge`` decides the in-batch dedup and the
resolve strategy once, from the caller's explicit choices and the
batch's statistics. The pure-function tests need no SparkSession; the
last test checks that no environment variable overrides an explicit
argument."""

import pytest

from nebula_spark.lake.merge import (
    JOIN_MAX_KEYS,
    UNIONAGG_MAX_BYTES,
    WINDOW_DEDUP_MIN_EVENTS,
    plan_merge,
)

SMALL = dict(events_in=5_000, keys_touched=2_000, touched_bytes=1 << 20)


def plan(**kw):
    args = dict(
        merge_mode="cow",
        conflict="last_write_wins",
        dedup_how="auto",
        resolve_strategy="auto",
        already_deduped=False,
        **SMALL,
    )
    args.update(kw)
    return plan_merge(**args)


def test_auto_small_touched_bytes_folds_raw_batch():
    # unionagg subsumes the LWW dedup
    assert plan() == (None, "unionagg")
    assert plan(touched_bytes=UNIONAGG_MAX_BYTES - 1) == (None, "unionagg")


def test_auto_large_touched_bytes_by_key_count():
    big = UNIONAGG_MAX_BYTES
    assert plan(touched_bytes=big) == ("agg", "join")
    assert plan(touched_bytes=big, keys_touched=JOIN_MAX_KEYS - 1) == ("agg", "join")
    assert plan(touched_bytes=big, keys_touched=JOIN_MAX_KEYS) == ("agg", "fullouter")


def test_auto_dedup_by_event_count():
    big = dict(touched_bytes=UNIONAGG_MAX_BYTES, keys_touched=JOIN_MAX_KEYS)
    assert plan(**big, events_in=WINDOW_DEDUP_MIN_EVENTS - 1) == ("agg", "fullouter")
    assert plan(**big, events_in=WINDOW_DEDUP_MIN_EVENTS) == ("window", "fullouter")
    # unionagg under LWW skips the dedup at any event count
    assert plan(events_in=WINDOW_DEDUP_MIN_EVENTS) == (None, "unionagg")


def test_auto_conflict_rules():
    # FWW and reject keep their in-batch dedup under unionagg
    assert plan(conflict="first_write_wins") == ("agg", "unionagg")
    assert plan(conflict="reject") == ("agg", "unionagg")
    # field-level merge never picks unionagg
    assert plan(conflict="merge") == ("agg", "join")
    assert plan(conflict="merge", keys_touched=JOIN_MAX_KEYS) == ("agg", "fullouter")


def test_explicit_choices_are_kept():
    for how in ("agg", "window", "salted"):
        for strat in ("unionagg", "join", "fullouter"):
            assert plan(dedup_how=how, resolve_strategy=strat) == (how, strat)
    assert plan(resolve_strategy="join") == ("agg", "join")
    assert plan(resolve_strategy="fullouter", events_in=WINDOW_DEDUP_MIN_EVENTS) == (
        "window",
        "fullouter",
    )
    assert plan(already_deduped=True, dedup_how="window") == (None, "unionagg")
    # an explicit resolve strategy needs no touched bytes
    assert plan(resolve_strategy="join", touched_bytes=None) == ("agg", "join")


def test_merge_on_read_appends():
    mor = dict(merge_mode="mor", mor_conflict="last_write_wins", touched_bytes=None)
    assert plan(**mor) == ("agg", None)
    # a merge-on-read merge plans before its write job counts the batch;
    # the window's sorted output pays off only in front of a CoW join
    assert plan(**mor, events_in=WINDOW_DEDUP_MIN_EVENTS) == ("agg", None)
    assert plan(**dict(mor, events_in=None, keys_touched=None)) == ("agg", None)
    assert plan(**mor, dedup_how="none") == (None, None)
    assert plan(**mor, dedup_how="salted") == ("salted", None)
    assert plan(**mor, already_deduped=True) == (None, None)
    assert plan(**mor, resolve_strategy="fullouter") == ("agg", None)
    fww = dict(mor, mor_conflict="first_write_wins", conflict="first_write_wins")
    assert plan(**fww) == ("agg", None)


@pytest.mark.parametrize(
    "kw,match",
    [
        (dict(dedup_how="none"), "requires a merge-on-read table"),
        (dict(dedup_how="none", already_deduped=True), "requires a merge-on-read table"),
        (dict(conflict="merge", resolve_strategy="unionagg"), "join-family"),
        (
            dict(merge_mode="mor", mor_conflict="first_write_wins"),
            "resolves conflict='first_write_wins' at read time",
        ),
        (dict(merge_mode="mor", mor_conflict="last_write_wins", conflict="merge"), "CoW-only"),
        (dict(merge_mode="mor", mor_conflict="last_write_wins", conflict="reject"), "CoW-only"),
        (dict(dedup_how="join"), "unknown dedup strategy"),
        (dict(resolve_strategy="broadcast"), "unknown resolve strategy"),
        (dict(conflict="newest"), "unknown conflict strategy"),
    ],
)
def test_invalid_combinations_raise(kw, match):
    with pytest.raises(ValueError, match=match):
        plan(**kw)


def test_environment_does_not_override_dedup_argument(spark, tmp_path, monkeypatch):
    """A dedup strategy in the environment is not read: the explicit
    ``dedup_how`` applies the batch to a copy-on-write table, where
    ``none`` would be refused."""
    from nebula_spark.cdc import gen_binlog
    from nebula_spark.cdc.apply import apply_changes
    from nebula_spark.cdc.binlog import SEQUENCE_SCHEMA
    from nebula_spark.lake import LakeTable

    monkeypatch.setenv("NEBULA_DEDUP_HOW", "none")
    table = LakeTable.create(str(tmp_path / "t"), SEQUENCE_SCHEMA, "doc_id", n_buckets=2)
    res = apply_changes(
        spark, table, gen_binlog(spark, 200, 50, seed=3), epoch=0, dedup_how="auto"
    )
    assert not res.merge.skipped and res.merge.events_in == 200
    assert table.snapshot().epoch_applied(0)
