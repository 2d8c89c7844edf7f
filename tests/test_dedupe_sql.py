"""The SQL-text builds of the corpus-dedup operators: answers against a
pure-Python hashlib reference, and the driver round trips one build
costs."""

import hashlib
import re
from itertools import combinations

import pytest
from py4j.protocol import MEMORY_COMMAND_NAME
from pyspark.sql.types import StringType, StructField, StructType

from nebula_spark.functions.dedupe import (
    _q,
    minhash_lsh_candidates,
    near_dedup,
    ngram_jaccard,
    simhash64,
    simhash_near_pairs,
)
from nebula_spark.functions.similarity import hyperplane_bucket

ID, TEXT = "doc`id", "body text"  # the first needs backtick quoting

CORPUS = [
    ("d00", "the quick brown fox jumps over the lazy dog"),
    ("d01", "the quick brown fox jumps over the lazy dog"),
    ("d02", "The quick brown fox jumps over the lazy cat"),
    ("d03", "  the quick brown fox  jumps over the lazy dog  "),
    ("d04", "spark shuffles parquet files across many executors"),
    ("d05", "spark shuffles parquet files across many executor cores"),
    ("d06", ""),
    ("d07", "   "),
    ("d08", " \t\n "),
    ("d09", "hello"),
    ("d10", "hello"),
    ("d11", "two words"),
    ("d12", "echo echo echo echo echo"),
    ("d13", "echo echo echo"),
    ("d14", None),
    ("d15", "Mixed CASE Words words WORDS, punctuation kept!"),
]


def _words(text):
    # split(trim(lower(text)), '\s+'): Spark's trim strips spaces only,
    # and Java's \s is the ASCII class
    return re.split(r"\s+", text.lower().strip(" "), flags=re.ASCII)


def _md5(s):
    return hashlib.md5(s.encode()).hexdigest()


def _simhash_ref(text):
    votes = [0] * 64
    for w in set(_words(text)):
        for j, ch in enumerate(_md5(w) + _md5(w + "#1")):
            votes[j] += 1 if int(ch, 16) % 2 else -1
    bits = [1 if v > 0 else 0 for v in votes]
    h = sum(b << j for j, b in enumerate(bits))
    return h - (1 << 64) if h >> 63 else h, "".join(map(str, bits))


def _minhash_pairs_ref(corpus, n_hashes, band_size, shingle_n):
    groups = {}
    for doc_id, text in corpus:
        # a null text shingles as {""}, like the empty text: size(null)
        # is null, greatest() skips it, and concat_ws skips the null slice
        w = _words(text) if text is not None else []
        sh = {
            " ".join(w[i : i + shingle_n])
            for i in range(max(len(w) - (shingle_n - 1), 1))
        }
        sig = [min(_md5(f"{s}#{i}") for s in sh) for i in range(n_hashes)]
        for b in range(n_hashes // band_size):
            key = "|".join(sig[b * band_size : (b + 1) * band_size])
            groups.setdefault((b, key), []).append(doc_id)
    return {p for ids in groups.values() for p in combinations(sorted(ids), 2)}


def _simhash_pairs_ref(hashes):
    """Pairs sharing any 16-bit band of their simhash, with the Hamming
    distance."""
    out = set()
    for (a, ha), (b, hb) in combinations(sorted(hashes.items()), 2):
        if any((ha >> s) & 0xFFFF == (hb >> s) & 0xFFFF for s in (0, 16, 32, 48)):
            out.add((a, b, bin((ha ^ hb) & (1 << 64) - 1).count("1")))
    return out


def _docs(spark, id_col):
    schema = StructType([StructField(id_col, StringType()), StructField(TEXT, StringType())])
    return spark.createDataFrame(CORPUS, schema)


# "band" and "key" are named like the banding steps' own columns
@pytest.mark.parametrize("id_col", [pytest.param(ID, id="quoted"), "band", "key"])
def test_simhash64_matches_hashlib_reference(spark, id_col):
    sim = simhash64(_docs(spark, id_col), text_col=TEXT, id_col=id_col)
    got = {r[id_col]: (r["simhash"], r["simbits"]) for r in sim.collect()}
    want = {d: _simhash_ref(t) for d, t in CORPUS if t is not None}
    assert got == want  # the null-text doc has no words, hence no row
    pairs = {tuple(r) for r in simhash_near_pairs(sim, id_col=id_col).collect()}
    assert pairs == _simhash_pairs_ref({d: h for d, (h, _) in want.items()})


@pytest.mark.parametrize(
    "n_hashes,band_size,shingle_n,id_col",
    [
        pytest.param(8, 2, 3, ID, id="8-2-3"),
        pytest.param(4, 2, 2, ID, id="4-2-2"),
        pytest.param(6, 3, 1, ID, id="6-3-1"),
        pytest.param(8, 2, 3, "band", id="8-2-3-band"),
        pytest.param(8, 2, 3, "key", id="8-2-3-key"),
    ],
)
def test_minhash_lsh_candidates_match_hashlib_reference(
    spark, n_hashes, band_size, shingle_n, id_col
):
    got = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_candidates(
            _docs(spark, id_col),
            text_col=TEXT,
            id_col=id_col,
            n_hashes=n_hashes,
            band_size=band_size,
            shingle_n=shingle_n,
        ).collect()
    }
    assert got == _minhash_pairs_ref(CORPUS, n_hashes, band_size, shingle_n)
    assert ("d00", "d01") in got  # the corpus does exercise collisions


# a chain: a~b and b~c at the 0.7 threshold below (3-shingle Jaccard
# 0.778 each), a~c not (0.6); greedy min-id drops both b and c
_CHAIN = [f"w{i}" for i in range(12)]
NEAR_CORPUS = CORPUS + [
    ("e1", " ".join(_CHAIN[0:10])),
    ("e2", " ".join(_CHAIN[1:11])),
    ("e3", " ".join(_CHAIN[2:12])),
    # a null id is never a pair member: it must not drop d00's twin
    (None, "the quick brown fox jumps over the lazy dog"),
]


def _old_near_dedup(docs, id_col, threshold, **kw):
    """near_dedup's earlier composition: candidates → verify join →
    threshold → anti-join of the higher ids."""
    pairs = minhash_lsh_candidates(docs, text_col=TEXT, id_col=id_col, **kw)
    verified = ngram_jaccard(pairs, docs, text_col=TEXT, id_col=id_col, n=kw["shingle_n"])
    dupes = verified.filter(f"jaccard >= {threshold}").selectExpr(f"doc_b AS {_q(id_col)}").distinct()
    return docs.join(dupes, on=id_col, how="left_anti")


@pytest.mark.parametrize("id_col", [pytest.param(ID, id="quoted"), "band", "key"])
@pytest.mark.parametrize("n_hashes,band_size,shingle_n", [(8, 2, 3), (4, 2, 2), (6, 3, 1)])
def test_near_dedup_matches_candidates_verify_composition(
    spark, id_col, n_hashes, band_size, shingle_n
):
    schema = StructType([StructField(id_col, StringType()), StructField(TEXT, StringType())])
    docs = spark.createDataFrame(NEAR_CORPUS, schema)
    kw = dict(n_hashes=n_hashes, band_size=band_size, shingle_n=shingle_n)
    got = near_dedup(docs, text_col=TEXT, id_col=id_col, threshold=0.7, **kw)
    want = _old_near_dedup(docs, id_col, 0.7, **kw)
    assert sorted(got.collect(), key=str) == sorted(want.collect(), key=str)
    kept = {r[id_col] for r in got.collect()}
    assert None in kept and "d00" in kept and "d01" not in kept  # exact twins
    if (n_hashes, shingle_n) == (8, 3):
        assert {"e1", "e2", "e3"} & kept == {"e1"}  # the chain drops greedily


def test_near_dedup_builds_without_a_job(spark):
    schema = StructType([StructField(ID, StringType()), StructField(TEXT, StringType())])
    docs = spark.createDataFrame(NEAR_CORPUS, schema)
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None) or [])
    near_dedup(docs, text_col=TEXT, id_col=ID)
    assert set(tracker.getJobIdsForGroup(None) or []) == before


def _round_trips(spark, build):
    """py4j commands the driver sends while ``build()`` runs. Memory
    commands are left out: py4j queues the deletes of garbage-collected
    proxies and flushes them with whichever later command comes next,
    so they belong to earlier work, not to this build."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    n = 0

    def counting(command, *args, **kwargs):
        nonlocal n
        n += not command.startswith(MEMORY_COMMAND_NAME)
        return send(command, *args, **kwargs)

    client.send_command = counting
    try:
        build()
    finally:
        client.send_command = send
    return n


# 2× the counts measured with the SQL-text builds (simhash64 295,
# minhash_lsh_candidates 111, hyperplane_bucket 3; near_dedup 133 once
# it verified inside the band groups); the Column-API builds of the
# first three took 8,092 / 1,355 / 3,079
@pytest.mark.parametrize(
    "name,bound",
    [
        ("simhash64", 590),
        ("minhash_lsh_candidates", 222),
        ("near_dedup", 266),
        ("hyperplane_bucket", 6),
    ],
)
def test_plan_build_round_trip_budget(spark, name, bound):
    docs = spark.range(100).selectExpr(
        "CAST(id AS STRING) AS doc_id", "concat('w', id, ' x y z') AS text"
    )
    builds = {
        "simhash64": lambda: simhash64(docs),
        "minhash_lsh_candidates": lambda: minhash_lsh_candidates(docs),
        "near_dedup": lambda: near_dedup(docs),
        "hyperplane_bucket": lambda: hyperplane_bucket("embedding"),
    }
    builds[name]()  # first build pays one-time JVM class loading
    n = _round_trips(spark, builds[name])
    assert n <= bound, f"{name} build took {n} py4j round trips (budget {bound})"
