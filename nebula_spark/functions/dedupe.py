"""Corpus deduplication operators — exact, MinHash/LSH, SimHash,
n-gram Jaccard — as DataFrame compositions (no UDFs; everything
shuffles once on the dedup key it constructs).

Scale notes (the point of each design):
- exact: groupBy on a 128-bit content hash — partial agg, one shuffle.
- minhash-LSH: per-band min-of-hashes becomes the shuffle key; docs
  collide only within bands, so candidates come from ONE groupBy on
  the band key with in-group pair enumeration (no O(n²) cross join,
  no self-join, nothing persisted).
- simhash: 64 weighted-bit majority over word hashes; hamming-near
  pairs found by banding the simhash into 4×16-bit keys (any equal
  16-bit band → candidate), same single-shuffle groupBy shape.
- ngram-jaccard: verification metric on candidate pairs only.

Construction rule: the LSH, simhash and pair-enumeration expressions
are written as SQL text (``selectExpr`` / one ``F.expr`` per output
column) rather than assembled from ``F.*``/``Column`` calls. In PySpark 4
every such call costs py4j round trips to the driver JVM (reflection
plus Python call-site capture): measured ``F.col`` = 13, an ``F.expr``
= 3, a ``selectExpr`` of any width = 7. Per-bit and per-band Python
loops multiply that: ``simhash64`` built from Column calls issued
~8,100 round trips (≈1.1–1.3 s of driver time per plan, more than its
executors spend on a 1,000-doc corpus); as SQL text the JVM parses
each expression once and the build issues ~300. The parsed plans are
the same trees the Column form produced. Column names that callers
supply are backtick-quoted with :func:`_q`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from nebula_spark.functions.text import words_sql

# Collision groups wider than this are skipped by the pair enumerators.
# A band key with m colliding docs costs m(m-1)/2 pairs NO MATTER the
# plan shape — at m=10^6 that's 5·10^11 pairs, intractable output, and
# the in-group enumeration would additionally materialize the whole
# group in one task (OOM where the old join shape merely ran forever).
# Such keys are degenerate (empty-shingle docs, boilerplate): the right
# response is to widen band_size or pre-filter, not to enumerate them.
DEFAULT_MAX_GROUP = 10_000


def _q(name: str) -> str:
    """Backtick-quote a column name for SQL text (embedded backticks
    doubled), so any name a caller passes parses as one identifier."""
    return "`" + name.replace("`", "``") + "`"


def _lower_words(text_col: str) -> str:
    """SQL text: the lower-cased words of the text column ``text_col``."""
    return words_sql(f"lower({_q(text_col)})")


def _bounded_groups(banded: DataFrame, group_cols: list[str], max_group: int | None) -> DataFrame:
    """Filter collision groups to 1 < size ≤ max_group BEFORE any
    collect_list. The count is a window over the same keys the
    downstream groupBy shuffles on, so it rides the SAME single
    exchange; WindowExec spills oversized partitions to disk where a
    collect_list on them would hold the whole group in one task's
    memory. Audit what was skipped with:
        banded.groupBy(*keys).count().filter(f"count > {max_group}")
    """
    # pin the group exchange's width explicitly: the banded rows are
    # tiny BY BYTES but the downstream window/collect/pair-enumeration
    # stages are CPU-heavy, and AQE's byte-based coalescing folds the
    # whole thing onto one core otherwise. A keyed repartition with an
    # explicit count satisfies the window's AND the groupBy's required
    # distribution, so it IS the single exchange this stage always had
    # — just immune to coalescing (AQE never resizes user-specified
    # repartitions). Width = core count: a 4× factor was tried for
    # group load-balancing and measured within noise at 4 cores but
    # visibly worse at 32 (tiny tasks, more per-partition window
    # overhead for ~100k-row stages).
    n = banded.sparkSession.sparkContext.defaultParallelism
    keys = [_q(c) for c in group_cols]
    banded = banded.repartition(n, *keys)
    cond = "_gsz > 1" if max_group is None else f"_gsz > 1 AND _gsz <= {max_group}"
    return (
        banded.selectExpr("*", f"count(1) OVER (PARTITION BY {', '.join(keys)}) AS _gsz")
        .filter(cond)
        .drop("_gsz")
    )


def spread(df: DataFrame, factor: int = 1, check: bool = True) -> DataFrame:
    """Round-robin repartition to the session's parallelism — small
    single-file corpora otherwise run CPU-heavy expressions in ONE task
    (a 5k-row parquet is one input split). SKIPPED when the plan
    already provides at least that many partitions: a real corpus
    arrives in many input splits, and an unconditional repartition
    there is a full extra shuffle of the payload for nothing
    (guide §2.4 — remove shuffles outright). Row placement never
    affects these operators' results, so the skip is semantics-free.

    ``check=False`` repartitions unconditionally: the partition-count
    probe converts the plan to an RDD, and on a plan containing a
    broadcast join that EXECUTES the broadcast build as a job right
    then (and again in the real query) — callers spreading a join
    output must opt out of the probe."""
    n = df.sparkSession.sparkContext.defaultParallelism * factor
    if check and df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n)


def _enumerate_pairs(
    grouped: DataFrame,
    garr: str = "_g",
    chunk: int = 256,
) -> DataFrame:
    """Enumerate the i<j element pairs of each row's sorted array
    ``garr`` → rows of (_x, _y) with _x earlier in the array than _y.

    Shape: the partner index j is split into ``chunk``-wide ranges,
    one Generate row each, and each range row flattens its ≤
    chunk × |group| pair structs. For a small group (the overwhelmingly
    common case) that is ONE row holding ALL pairs — identical work to
    a plain flatten-then-explode. For a group near the enumeration cap
    it bounds peak allocation to O(chunk × group) instead of the
    O(group²) single array a full flatten materializes before the
    explode can stream it — a 10^4-member group is a multi-GB
    allocation that OOMs the executor (guide §5, per-task state).
    The per-chunk rows carry one copy of the group array each, i.e.
    O(group²/chunk) bytes per group streamed, vs O(group²) for the
    one-row-per-MEMBER streaming alternative."""
    g = _q(garr)
    m = f"size({g})"
    chunked = grouped.selectExpr(
        "*", f"explode(sequence(0, CAST(ceil(({m} - 1) / {chunk}) AS INT) - 1)) AS _c"
    )
    jlo = f"_c * {chunk} + 2"  # 1-based partner positions in garr
    jhi = f"least((_c + 1) * {chunk} + 1, {m})"
    # element_at instead of a prefix slice per j: the slice copies the
    # j-element prefix for EVERY partner position (O(group²) element
    # copies per group); indexed access builds each pair in O(1)
    pair_structs = (
        f"flatten(transform(sequence({jlo}, {jhi}), _j -> transform(sequence(1, _j - 1), "
        f"_i -> struct(element_at({g}, _i) AS _x, element_at({g}, _j) AS _y))))"
    )
    return chunked.selectExpr(f"explode({pair_structs}) AS _p").selectExpr("_p._x", "_p._y")


def content_hash(text: Column | str) -> Column:
    """Normalization + md5 — exact-dup key (same expression in DuckDB)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(F.regexp_replace(F.lower(F.trim(c)), r"\s+", " "))


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id representative per identical (normalized) text.
    (No spread here: measured — the round-robin exchange of the text
    payload costs more than the single-task normalize+md5 saves; the
    groupBy's own exchange already parallelizes the aggregation.)"""
    return (
        df.withColumn("_h", content_hash(text_col))
        .groupBy("_h")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count"))
        .select(id_col, F.col("_h").alias("content_hash"), "dup_count")
    )


def shingles_of_words(words_col: str, n: int = 3) -> str:
    """SQL text: n-word shingles (distinct) over the ALREADY-PROJECTED
    words column named ``words_col``. Callers must bind the tokenized
    words to a real column first: referencing the split() expression
    inside the per-shingle lambda re-evaluates the whole tokenization
    once per shingle (the interpreted higher-order evaluator has no
    subexpression reuse) — measured 2× on the shingling pass; a column
    reference is O(1)."""
    w = _q(words_col)
    return (
        f"array_distinct(transform(sequence(1, greatest(size({w}) - {n - 1}, 1)), "
        f"_i -> concat_ws(' ', slice({w}, _i, {n}))))"
    )


def minhash_signature(shingles: str, n_hashes: int = 8) -> str:
    """SQL text: MinHash signature of the shingle-array SQL expression
    ``shingles`` — per hash family i, min(md5(shingle || '#i')). md5
    exists verbatim in DuckDB, so the oracle reproduces signatures
    exactly. Evaluates to array<string> of n_hashes minima."""
    # single pass over the shingle array: fold a running elementwise
    # minimum of the n_hashes md5 values per shingle ('~' > 'f' is the
    # +inf sentinel). One O(|shingles|) traversal instead of n_hashes.
    inf = ", ".join(["'~'"] * n_hashes)
    md5s = ", ".join(f"md5(concat(_s, '#{i}'))" for i in range(n_hashes))
    return (
        f"aggregate({shingles}, array({inf}), "
        f"(_acc, _s) -> zip_with(_acc, array({md5s}), (_a, _b) -> least(_a, _b)))"
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 8,
    band_size: int = 2,
    shingle_n: int = 3,
    max_group: int | None = DEFAULT_MAX_GROUP,
) -> DataFrame:
    """Near-duplicate candidate pairs via banded MinHash-LSH.

    bands = n_hashes / band_size; docs sharing any full band collide.
    The heavy lifting is ONE explode + ONE hash aggregation on the band
    key — a (band, key) group IS the collision set, so the i<j pairs
    are enumerated inside each group directly (array_sort +
    index-sliced transform). One shuffle total, signatures computed
    exactly once, nothing persisted (the old shape was a persisted
    self-join: two exchanges plus a cache that leaked until LRU
    pressure).

    ``max_group`` bounds the collision-group width: a hot band key with
    m members costs m(m-1)/2 pairs regardless of plan shape AND would
    materialize the whole group in one task's memory here — groups
    above the cap are skipped via a same-shuffle window count (see
    _bounded_groups; None disables)."""
    idq = _q(id_col)
    n_bands = n_hashes // band_size
    # two-step projection: words bound to a column BEFORE the
    # per-shingle lambda (see shingles_of_words) — the single-
    # expression form re-tokenized the document once per shingle
    wd = spread(df).selectExpr(idq, f"{_lower_words(text_col)} AS _wd")
    sig = minhash_signature(shingles_of_words("_wd", shingle_n), n_hashes)
    bands = ", ".join(
        f"struct({b} AS _band, concat_ws('|', slice(_sig, {b * band_size + 1}, {band_size})) AS _key)"
        for b in range(n_bands)
    )
    banded = (
        wd.selectExpr(idq, f"{sig} AS _sig")
        .selectExpr(idq, f"explode(array({bands})) AS _bk")
        .selectExpr(idq, "_bk._band", "_bk._key")
    )
    grouped = (
        _bounded_groups(banded, ["_band", "_key"], max_group)
        .groupBy("_band", "_key")
        .agg(F.expr(f"array_sort(collect_list({idq})) AS _ids"))
    )
    return (
        _enumerate_pairs(grouped, "_ids")
        .selectExpr("_x AS doc_a", "_y AS doc_b")
        .distinct()
    )


def ngram_jaccard(df_pairs: DataFrame, docs: DataFrame, text_col="text", id_col="doc_id", n=3) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs (verification stage).

    Shingles are computed only for docs that appear in a candidate pair
    (semi-join prune) — at corpus scale the candidate set is orders of
    magnitude smaller than the corpus, so shingling everything (and
    caching it, as this used to) is exactly backwards. The per-side
    recompute over that small set is cheaper than a persisted cache."""
    idq = _q(id_col)
    cand_ids = (
        df_pairs.selectExpr(f"doc_a AS {idq}")
        .union(df_pairs.selectExpr(f"doc_b AS {idq}"))
        .distinct()
    )
    sh = (
        spread(docs.join(cand_ids, on=id_col, how="left_semi"), check=False)
        .selectExpr(idq, f"{_lower_words(text_col)} AS _wd")
        .selectExpr(idq, f"{shingles_of_words('_wd', n)} AS sh")
    )
    a = sh.alias("sa")
    b = sh.alias("sb")
    return (
        df_pairs.join(a, df_pairs.doc_a == F.col(f"sa.{idq}"))
        .join(b, df_pairs.doc_b == F.col(f"sb.{idq}"))
        .selectExpr(
            "doc_a",
            "doc_b",
            "round(size(array_intersect(sa.sh, sb.sh)) / size(array_union(sa.sh, sb.sh)), 4) AS jaccard",
        )
    )


def near_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    n_hashes: int = 8,
    band_size: int = 2,
    shingle_n: int = 3,
) -> DataFrame:
    """End-to-end near-duplicate REMOVAL — the full corpus-dedup
    pipeline as one operator: LSH candidates → exact n-gram Jaccard
    verification → drop every doc that near-duplicates a lower-id doc.

    Keep rule (greedy min-id, the standard corpus-dedup policy, cf. the
    dedup stage of public LLM-data pipelines): a doc is dropped iff it
    appears as the HIGHER id of a verified pair (doc_a < doc_b by
    construction). Deterministic: survival depends only on the verified
    pair set. Note this is one-hop, not connected components — in a
    chain a~b, b~c (a̸~c) both b and c are dropped; transitive-closure
    dedup would keep c, but needs an iterative algorithm that no
    single SQL pass expresses.

    Scale shape: candidates from the single-shuffle band groupBy,
    verification only over candidate docs, and the final drop is one
    broadcast-able anti-join of (small) dupe ids against the corpus.
    """
    pairs = minhash_lsh_candidates(
        df, text_col=text_col, id_col=id_col,
        n_hashes=n_hashes, band_size=band_size, shingle_n=shingle_n,
    )
    # materialize the (small, by design) candidate set ONCE: left lazy,
    # the whole shingle+signature+band pipeline re-executes inside
    # ngram_jaccard's candidate-id prune (twice — doc_a ∪ doc_b) AND its
    # verify join — three full corpus-hash passes for one logical
    # result. Same localCheckpoint rationale as `dupes` below.
    pairs = pairs.localCheckpoint(eager=True)
    verified = ngram_jaccard(pairs, df, text_col=text_col, id_col=id_col, n=shingle_n)
    dupes = (
        verified.filter(F.col("jaccard") >= threshold)
        .select(F.col("doc_b").alias(id_col))
        .distinct()
    )
    # materialize the (small) dupe-id set ONCE: left lazy, the whole
    # candidate+verify subplan would re-run inside the final anti-join
    # and again in every downstream consumer. localCheckpoint — not
    # persist — so the blocks are freed by the ContextCleaner when the
    # plan is garbage-collected; no unpersist obligation escapes to the
    # caller (the persist-leak class of bug this module had).
    dupes = dupes.localCheckpoint(eager=True)
    return df.join(dupes, on=id_col, how="left_anti")


# hex digits with an odd value — bit j of a word's hash is "is the j-th
# hex char of md5(w)||md5(w#1) odd", a derivation DuckDB reproduces
# verbatim (substring + IN list); see oracle_sql()['dedup_simhash']
_ODD_HEX = ("1", "3", "5", "7", "9", "b", "d", "f")  # doc: the parity set
# the translate() in simhash64 encodes exactly this membership test

# ONE translate maps each hex char to its parity bit ('0'/'1'), so the
# 64 per-bit probes become substring == '1' instead of substring IN (8
# odd hex chars) — identical votes (char odd ⟺ parity '1'), measured
# ~25% off the vote aggregation, which dominates simhash64
_SIMHASH_PARITY = (
    "translate(concat(md5(_w), md5(concat(_w, '#1'))), "
    "'0123456789abcdef', '0101010101010101') AS _hh"
)
_SIMHASH_VOTES = [
    f"sum(CASE WHEN substring(_hh, {j + 1}, 1) = '1' THEN 1 ELSE -1 END) AS _b{j}"
    for j in range(64)
]
_SIMHASH_BITS = [f"CAST(_b{j} > 0 AS BIGINT)" for j in range(64)]
# j=63 wraps to the sign bit — intended
_SIMHASH_FOLD = (
    "CAST(0 AS BIGINT) + "
    + " + ".join(f"shiftleft({b}, {j})" for j, b in enumerate(_SIMHASH_BITS))
    + " AS simhash"
)
_SIMHASH_SIMBITS = (
    "concat(" + ", ".join(f"CAST({b} AS STRING)" for b in _SIMHASH_BITS) + ") AS simbits"
)


def simhash64(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per document: majority vote per bit over word
    hashes. Word bits come from md5 (two md5s = 64 hex chars, bit j =
    parity of char j) so the DuckDB oracle re-derives the exact hashes
    — the same trick minhash_signature uses. The plan is explode →
    hash-aggregate with 64 codegen'd SUMs (partial agg map-side; one
    shuffle keyed by doc) — the scan shape that survives 10^9
    documents, instead of 64 array traversals per row. A doc whose
    text is null has no words and no output row.

    Output: (id, simhash long — Spark-internal bit ops, e.g. banding /
    xor-popcount; simbits string — the 64-char '0'/'1' form the oracle
    compares)."""
    idq = _q(id_col)
    exploded = (
        spread(df)
        .selectExpr(idq, f"explode(array_distinct({_lower_words(text_col)})) AS _w")
        .selectExpr(idq, _SIMHASH_PARITY)
    )
    agg = exploded.groupBy(idq).agg(*[F.expr(v) for v in _SIMHASH_VOTES])
    return agg.selectExpr(idq, _SIMHASH_FOLD, _SIMHASH_SIMBITS)


def simhash_near_pairs(
    sim: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "simhash",
    max_group: int | None = DEFAULT_MAX_GROUP,
) -> DataFrame:
    """Hamming-near candidates: band the 64-bit simhash into 4×16-bit
    keys; any equal band → candidate pair. Guarantees recall for
    hamming distance ≤ 3 (pigeonhole).

    Same single-shuffle shape as minhash_lsh_candidates: groupBy the
    band key and enumerate i<j pairs inside each collision group —
    the old self-join recomputed the full 64-sum simhash aggregation
    for BOTH sides (or needed a leaked persist to avoid it).
    ``max_group`` skips degenerate collision groups exactly as there."""
    idq, h = _q(id_col), _q(hash_col)
    bands = ", ".join(
        f"struct({b} AS _band, shiftright({h}, {b * 16}) & 65535 AS _key)" for b in range(4)
    )
    banded = sim.selectExpr(idq, h, f"explode(array({bands})) AS _bk").selectExpr(
        idq, h, "_bk._band", "_bk._key"
    )
    grouped = (
        _bounded_groups(banded, ["_band", "_key"], max_group)
        .groupBy("_band", "_key")
        # sorted by id (first struct field) → doc_a < doc_b for free
        .agg(F.expr(f"array_sort(collect_list(struct({idq}, {h}))) AS _g"))
    )
    # NOTE: a "first matching band only" pair filter would remove the
    # distinct's duplicated shuffle, but it changes the result set the
    # moment a band group exceeds ``max_group`` (a pair whose earliest
    # shared band was capped would vanish instead of surfacing through
    # a later band) — rejected to keep the operator's output identical.
    return (
        _enumerate_pairs(grouped, "_g")
        .selectExpr(
            f"_x.{idq} AS doc_a",
            f"_y.{idq} AS doc_b",
            f"bit_count(_x.{h} ^ _y.{h}) AS hamming",
        )
        .distinct()
    )
