"""Building a corpus-dedup query submits no Spark job: ``spread`` decides
from the optimized logical plan, the entry reads its tables through
known schemas, and near_dedup is one lazy plan whose only join is the
final anti-join."""

import os
import re

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry
from nebula_spark.functions.dedupe import spread

CORPUS_QUERIES = ("dedup_minhash_lsh", "dedup_simhash", "dedup_near_corpus")


def _jobs(spark):
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None) or [])


def _docs(spark, n=400):
    return spark.range(n).selectExpr(
        "id AS doc_id",
        "concat_ws(' ', 'w' || (id % 7), 'x' || (id % 5), 'y' || (id % 3), 'tail words here') AS text",
    )


@pytest.fixture(scope="module")
def scans(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("spread")
    _docs(spark).coalesce(1).write.parquet(str(d / "one"))
    _docs(spark).repartition(16).write.parquet(str(d / "many"))
    return {name: spark.read.parquet(str(d / name)) for name in ("one", "many")}


# (case, plan, spread repartitions it)
SPREAD_CASES = [
    ("one-file parquet", lambda spark, s: s["one"], True),
    ("many-file parquet", lambda spark, s: s["many"].filter("doc_id % 2 = 0").selectExpr("text"), False),
    ("range at default parallelism", lambda spark, s: spark.range(1000).selectExpr("id * 2 AS x"), False),
    ("range in one slice", lambda spark, s: spark.range(0, 1000, 1, 1), True),
    (
        "broadcast join",
        lambda spark, s: s["one"].join(F.broadcast(s["many"].selectExpr("doc_id AS k")), F.expr("doc_id = k")),
        True,
    ),
]


@pytest.mark.parametrize("build,repartitions", [c[1:] for c in SPREAD_CASES], ids=[c[0] for c in SPREAD_CASES])
def test_spread_decision_table(spark, scans, build, repartitions):
    df = build(spark, scans)
    before = _jobs(spark)
    out = spread(df)
    assert _jobs(spark) == before, "spread submitted a job"
    assert (out is not df) == repartitions
    # the decision spread made by asking the plan's RDD (run last: on
    # the broadcast join it executes the broadcast build)
    n = spark.sparkContext.defaultParallelism
    assert (df.rdd.getNumPartitions() < n) == repartitions


@pytest.fixture(scope="module")
def corpus_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("corpus")
    _docs(spark, 300).coalesce(1).write.parquet(str(d / "documents.parquet"))
    return str(d)


@pytest.mark.parametrize("name", CORPUS_QUERIES)
def test_corpus_entry_query_builds_without_a_job(spark, corpus_dir, name):
    build = entry.queries()[name]
    build(spark, corpus_dir)  # the first build pays one-time class loading
    before = _jobs(spark)
    build(spark, corpus_dir)
    assert _jobs(spark) == before, f"building {name} submitted a job"


def test_near_dedup_plan_has_one_join_and_no_checkpoint(spark, corpus_dir):
    df = entry.queries()["dedup_near_corpus"](spark, corpus_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    joins = re.findall(r"\w+Join\b.*", plan)
    assert len(joins) == 1 and "LeftAnti" in joins[0], joins
    assert "ExistingRDD" not in plan  # what a localCheckpoint leaves


def _smoke_dir(monkeypatch):
    """The sf0.001 table directory the entry's flagship query reads."""
    seen = []
    monkeypatch.setattr(entry, "_replay_final_state", lambda spark, sf: seen.append(sf))
    entry.entry(None)
    return seen[0]


def test_schemas_match_inferred_parquet_schemas(spark, monkeypatch):
    sf = _smoke_dir(monkeypatch)
    if not os.path.isdir(sf):
        pytest.skip(f"no test tables at {sf}")
    names = sorted(f[: -len(".parquet")] for f in os.listdir(sf) if f.endswith(".parquet"))
    assert sorted(entry._SCHEMAS) == names
    for name in names:
        inferred = spark.read.parquet(os.path.join(sf, f"{name}.parquet")).schema
        # StructType equality tells TIMESTAMP_NTZ from TIMESTAMP
        assert entry._t(spark, sf, name).schema == inferred, name
