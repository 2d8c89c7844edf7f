"""The SQL-text builds of the corpus-dedup operators: answers against a
pure-Python hashlib reference, and the driver round trips one build
costs."""

import hashlib
import re
from itertools import combinations

import pytest
from py4j.protocol import MEMORY_COMMAND_NAME
from pyspark.sql.types import StringType, StructField, StructType

from nebula_spark.functions.dedupe import minhash_lsh_candidates, simhash64
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


@pytest.fixture()
def docs(spark):
    schema = StructType([StructField(ID, StringType()), StructField(TEXT, StringType())])
    return spark.createDataFrame(CORPUS, schema)


def test_simhash64_matches_hashlib_reference(docs):
    got = {
        r[ID]: (r["simhash"], r["simbits"])
        for r in simhash64(docs, text_col=TEXT, id_col=ID).collect()
    }
    want = {d: _simhash_ref(t) for d, t in CORPUS if t is not None}
    assert got == want  # the null-text doc has no words, hence no row


@pytest.mark.parametrize(
    "n_hashes,band_size,shingle_n", [(8, 2, 3), (4, 2, 2), (6, 3, 1)]
)
def test_minhash_lsh_candidates_match_hashlib_reference(
    docs, n_hashes, band_size, shingle_n
):
    got = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_candidates(
            docs,
            text_col=TEXT,
            id_col=ID,
            n_hashes=n_hashes,
            band_size=band_size,
            shingle_n=shingle_n,
        ).collect()
    }
    assert got == _minhash_pairs_ref(CORPUS, n_hashes, band_size, shingle_n)
    assert ("d00", "d01") in got  # the corpus does exercise collisions


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
# minhash_lsh_candidates 111, hyperplane_bucket 3); the Column-API
# builds they replaced took 8,092 / 1,355 / 3,079
@pytest.mark.parametrize(
    "name,bound",
    [("simhash64", 590), ("minhash_lsh_candidates", 222), ("hyperplane_bucket", 6)],
)
def test_plan_build_round_trip_budget(spark, name, bound):
    docs = spark.range(100).selectExpr(
        "CAST(id AS STRING) AS doc_id", "concat('w', id, ' x y z') AS text"
    )
    builds = {
        "simhash64": lambda: simhash64(docs),
        "minhash_lsh_candidates": lambda: minhash_lsh_candidates(docs),
        "hyperplane_bucket": lambda: hyperplane_bucket("embedding"),
    }
    builds[name]()  # first build pays one-time JVM class loading
    n = _round_trips(spark, builds[name])
    assert n <= bound, f"{name} build took {n} py4j round trips (budget {bound})"
