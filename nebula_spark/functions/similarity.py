"""Similarity search over embedding columns (array<float>).

- ``cosine(a, b)`` — pure Column expression (zip_with + aggregate),
  JVM-side, no UDF.
- ``brute_topk`` — exact top-k neighbors: a broadcast of the (small)
  query set against the corpus + per-query window. The corpus side
  never shuffles; this is the correctness baseline.
- ``lsh_topk`` — the scale path: random-hyperplane LSH buckets
  (sign-bit sketch) so candidates meet in an equi-join on the bucket
  key; top-k within candidates. At 10^9 vectors brute force is a
  broadcast-nested-loop you cannot afford; bucketed cosine is the same
  join shape as MinHash-LSH.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k per query. ``queries`` must be small (it is
    broadcast); the corpus side never joins-shuffles. ``spread`` lifts
    a small-file corpus out of its one input split so the per-pair
    cosine work parallelizes (no-op when the scan already has enough
    splits) — without it the whole q×N scoring pass runs in a single
    task however many cores exist."""
    from nebula_spark.functions.dedupe import spread

    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    c = spread(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"))
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("score", F.round(cosine(F.col("_qv"), F.col("_cv")), 6))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "score")
    )


def hyperplane_signs(
    n_planes: int = 8, seed: int = 42, dim: int = 64
) -> list[list[float]]:
    """Deterministic ±1 hyperplane matrix derived from md5(seed:i:j) —
    plain Python, so the SAME literals can be inlined into any engine's
    query (the DuckDB oracle uses them verbatim); no stored model, no
    engine-specific hash."""
    import hashlib

    return [
        [
            1.0 if hashlib.md5(f"{seed}:{i}:{j}".encode()).digest()[0] & 1 else -1.0
            for j in range(dim)
        ]
        for i in range(n_planes)
    ]


def hyperplane_bucket(vec_col: str, n_planes: int = 8, seed: int = 42, dim: int = 64) -> Column:
    """Sign-bit LSH bucket key of the vector column named ``vec_col``:
    char i = sign(<v, h_i>) over the deterministic hyperplanes above;
    returned as an n_planes-char '0'/'1' string (equi-joinable,
    engine-portable). Built as ONE SQL expression, each plane one array
    literal: the Column-API form cost ~3,100 py4j round trips per build
    (see the construction rule in dedupe.py)."""
    from nebula_spark.functions.dedupe import _q

    v = _q(vec_col)
    bits = []
    for signs in hyperplane_signs(n_planes, seed, dim):
        plane = ", ".join(f"{s}D" for s in signs)
        proj = (
            f"aggregate(zip_with({v}, array({plane}), (_x, _s) -> CAST(_x AS DOUBLE) * _s), "
            "0.0D, (_acc, _p) -> _acc + _p)"
        )
        bits.append(f"CASE WHEN {proj} > 0 THEN '1' ELSE '0' END")
    return F.expr(f"concat({', '.join(bits)})")


def embedding_near_dups(
    corpus: DataFrame,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 6,
    dim: int = 64,
    max_group: int | None = 4096,
) -> DataFrame:
    """Embedding-cosine near-duplicate candidates: vectors sharing a
    random-hyperplane bucket are scored exactly, pairs ≥ threshold
    survive; recall is tunable via fewer planes / multiple tables.

    Single-shuffle group shape (same as minhash_lsh_candidates /
    simhash_near_pairs, dedupe.py): ONE window-counted groupBy on the
    bucket key with in-group i<j enumeration. The old self-join
    recomputed hyperplane_bucket — n_planes × dim-element dot products
    per vector — on BOTH sides and scanned the corpus twice; here the
    bucket is computed exactly once per vector and the corpus scans
    once. Each vector lands in exactly one bucket, so no cross-group
    duplicate pairs exist (no distinct needed). ``max_group`` skips
    degenerate buckets (a bucket of m vectors costs m(m-1)/2 scored
    pairs regardless of plan; the cap is lower than the text dedups'
    because each member carries a dim-float payload)."""
    from nebula_spark.functions.dedupe import _bounded_groups, spread

    b = spread(corpus).select(
        F.col(id_col),
        F.col(vec_col).alias("_v"),
        hyperplane_bucket(vec_col, n_planes, dim=dim).alias("_bkt"),
    )
    grouped = (
        _bounded_groups(b, ["_bkt"], max_group)
        .groupBy("_bkt")
        .agg(
            # sorted by id (first struct field) → vec_a < vec_b for free
            F.array_sort(
                F.collect_list(F.struct(F.col(id_col), F.col("_v")))
            ).alias("_g")
        )
    )
    # (_bounded_groups pins the group exchange's width, so the
    # pair-scoring below runs on every core instead of the single
    # partition AQE's byte-based coalescing used to collapse it to)
    # chunked pair enumeration (see dedupe._enumerate_pairs) — the old
    # explode(flatten(transform(...))) built ALL m(m-1)/2 pair structs
    # (each carrying TWO dim-float payloads) as one in-memory array per
    # group before streaming; with vectors that is multi-GB well below
    # the group cap. The cosine runs in a plain Project over the
    # streamed pairs.
    from nebula_spark.functions.dedupe import _enumerate_pairs

    return (
        _enumerate_pairs(grouped, "_g", chunk=64)
        .select(
            F.col("_x")[id_col].alias("vec_a"),
            F.col("_y")[id_col].alias("vec_b"),
            F.round(cosine(F.col("_x")["_v"], F.col("_y")["_v"]), 6).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def ivf_centroids(
    corpus: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic centroid pick: the ``n_cells`` corpus vectors with
    the smallest md5(id) — a pseudo-random but engine-portable sample
    (any SQL engine reproduces the exact set), standing in for a
    k-means training job. The IVF *index shape* — cell assignment +
    probing — is identical whichever way centroids were trained; swap
    in a trained list for better recall. Bounded driver collect:
    n_cells rows."""
    rows = (
        corpus.select(F.col(id_col), F.col(vec_col))
        .orderBy(F.md5(F.col(id_col).cast("string")))
        .limit(n_cells)
        .collect()
    )
    if not rows:
        raise ValueError("ivf_centroids: empty corpus")
    return [[float(x) for x in r[vec_col]] for r in rows]


def _cell_scores(vec: Column, centroids: list[list[float]]) -> Column:
    """array of round(cosine(vec, centroid_i), 6) — centroids inlined
    as ONE nested literal array iterated by a higher-order transform,
    so assignment is a pure map-side expression (no shuffle, no
    broadcast join). The transform loops at runtime instead of
    unrolling n_cells × dim literals into generated code — the
    unrolled form blows past whole-stage-codegen method limits and
    falls back to slow interpreted evaluation."""
    cents = F.array(*[F.array(*[F.lit(x) for x in cv]) for cv in centroids])
    return F.transform(cents, lambda c: F.round(cosine(vec, c), 6))


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the classic ANN scale
    path alongside lsh_topk: every corpus vector is assigned to its
    nearest centroid's cell (map-only expression over inlined centroid
    literals), a query probes its ``n_probe`` nearest cells, and exact
    cosine runs only against candidates met through the cell equi-join.
    At 10^9 vectors the corpus scan stays narrow (one int cell id per
    vector), the probe side is tiny, and no all-pairs join exists
    anywhere. Recall rises with n_probe (n_probe == n_cells ⇒ exact).

    ``queries`` must be small: its ``n_probe`` rows per query are
    broadcast by an explicit hint, with no size check, so a large query
    set stalls the broadcast or runs out of memory instead of falling
    back to a shuffle join.

    Ties: cell = first index of the max rounded score (array_position),
    probes ordered by (-score, cell) — both deterministic and
    reproducible in plain SQL for the oracle."""
    from nebula_spark.functions.dedupe import spread

    centroids = ivf_centroids(corpus, n_cells, id_col, vec_col)

    def cell_of(vec: Column) -> Column:
        s = _cell_scores(vec, centroids)
        # coalesce makes the cell id NON-NULLABLE, which matters for the
        # plan, not the data: a nullable join key makes the planner infer
        # an isnotnull(_cell) filter, and that filter — carrying this
        # whole n_cells-dot expression — is pushed below the spread
        # repartition onto the raw (few-split) scan, re-running the
        # assignment once per row on almost no parallelism (measured 12×
        # on a single-file corpus). Cells are 1-based, so the 0 sentinel
        # (only reachable for a null vector, which the old null key also
        # dropped) matches no probe and the join result is identical.
        return F.coalesce(
            F.array_position(s, F.array_max(s)).cast("int"), F.lit(0)
        )

    # spread BEFORE the n_cells-dot assignment expression: a small-file
    # corpus is one input split, and cell assignment is the dominant
    # per-row cost — it must run on every core (no-op when the scan
    # already has enough splits)
    cb = spread(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"))
    ).select(
        "neighbor_id",
        "_cv",
        cell_of(F.col("_cv")).alias("_cell"),
    )
    probed = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        F.slice(
            F.array_sort(
                F.transform(
                    _cell_scores(F.col(vec_col), centroids),
                    lambda s, i: F.struct(
                        (-s).alias("ns"), (i + 1).cast("int").alias("cell")
                    ),
                )
            ),
            1,
            n_probe,
        ).alias("_probes"),
    ).select(
        "query_id", "_qv", F.explode(F.col("_probes.cell")).alias("_cell")
    )
    # explicit broadcast of the tiny probe side (guide §3.1): size
    # ESTIMATES put both sides under the auto threshold and the planner
    # is free to build LEFT — broadcasting the corpus side evaluates
    # the whole n_cells-dot assignment single-threaded inside the
    # BroadcastExchange build and streams the candidate scoring through
    # the probe side's one input split. BuildRight keeps assignment and
    # scoring on the corpus side's full task parallelism.
    scored = (
        cb.join(F.broadcast(probed), "_cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("score", F.round(cosine(F.col("_qv"), F.col("_cv")), 6))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "score")
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 6,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: candidates share an LSH bucket (equi-join),
    then exact cosine + window. Recall grows with fewer planes /
    multiple tables; this single-table variant is the skeleton.
    ``queries`` must be small: it is broadcast by an explicit hint, with
    no size check, so a large query set stalls the broadcast or runs out
    of memory instead of falling back to a shuffle join. ``spread`` parallelizes
    the per-vector bucket projection out of a single input split (no-op
    on an already-parallel scan)."""
    from nebula_spark.functions.dedupe import spread

    cb = spread(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"))
    ).select(
        "neighbor_id",
        "_cv",
        hyperplane_bucket("_cv", n_planes, dim=dim).alias("_bkt"),
    )
    qb = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        hyperplane_bucket(vec_col, n_planes, dim=dim).alias("_bkt"),
    )
    # broadcast the query side explicitly — same BuildLeft hazard as
    # ivf_topk: letting the planner broadcast the corpus side computes
    # every bucket projection single-threaded in the broadcast build
    scored = (
        cb.join(F.broadcast(qb), "_bkt")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("score", F.round(cosine(F.col("_qv"), F.col("_cv")), 6))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "score")
    )
