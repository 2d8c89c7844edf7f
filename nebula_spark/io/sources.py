"""Sources — the reference's connector Read surface re-expressed as
configured Spark readers (SURVEY §2.1).

The reference implements streaming CSV/JSON parsers with header
detection, custom delimiters, chunked parallel parsing and resumable
positions (pkg/connector/sources/csv/csv_source.go:79-127,
parallel_csv_parser.go:21-110; json_source.go). On Spark all of that is
reader options + input splits; what remains worth owning is the config
surface and schema handling, so each source is a small dataclass that
builds the right DataFrameReader. Batch sources also expose
``read_stream`` (file-source tailing ≙ the reference's resumable
``lastPosition``: the streaming checkpoint tracks consumed files).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, types as T


@dataclass
class CSVSource:
    """csv_source.go: header detection ≙ header option; custom delimiter
    ≙ sep; type-inferring discovery ≙ inferSchema (sampled) or an
    explicit schema (preferred at scale — inference is a full pre-pass)."""

    path: str
    header: bool = True
    delimiter: str = ","
    schema: T.StructType | None = None
    infer_schema: bool = False
    compression: str | None = None  # gzip/bzip2/zstd handled transparently
    options: dict = field(default_factory=dict)

    def _reader(self, spark: SparkSession, streaming: bool):
        r = spark.readStream if streaming else spark.read
        r = r.format("csv").option("header", self.header).option("sep", self.delimiter)
        if self.schema is not None:
            r = r.schema(self.schema)
        elif not streaming and self.infer_schema:
            r = r.option("inferSchema", True)
        for k, v in self.options.items():
            r = r.option(k, v)
        return r

    def read(self, spark: SparkSession) -> DataFrame:
        return self._reader(spark, False).load(self.path)

    def read_stream(self, spark: SparkSession) -> DataFrame:
        if self.schema is None:
            raise ValueError("streaming CSV requires an explicit schema")
        return self._reader(spark, True).load(self.path)


@dataclass
class JSONSource:
    """json_source.go / sdk/format_parsers.go:355-648: JSON-lines and
    JSON-array files; format auto-detect ≙ multiLine toggle."""

    path: str
    array_format: bool = False  # True: one top-level JSON array per file
    schema: T.StructType | None = None
    options: dict = field(default_factory=dict)

    def read(self, spark: SparkSession) -> DataFrame:
        r = spark.read.format("json").option("multiLine", self.array_format)
        if self.schema is not None:
            r = r.schema(self.schema)
        for k, v in self.options.items():
            r = r.option(k, v)
        return r.load(self.path)

    def read_stream(self, spark: SparkSession) -> DataFrame:
        if self.schema is None:
            raise ValueError("streaming JSON requires an explicit schema")
        r = spark.readStream.format("json").schema(self.schema)
        for k, v in self.options.items():
            r = r.option(k, v)
        return r.load(self.path)


@dataclass
class ParquetSource:
    """Columnar scan with pushdown/pruning — the reference's
    formats/columnar reader Projection/Filter config (columnar.go:93-99)
    is what Catalyst does from select()/filter() automatically."""

    path: str
    schema: T.StructType | None = None
    columns: list[str] | None = None

    def read(self, spark: SparkSession) -> DataFrame:
        r = spark.read
        if self.schema is not None:
            r = r.schema(self.schema)
        df = r.parquet(self.path)
        return df.select(*self.columns) if self.columns else df

    def read_stream(self, spark: SparkSession) -> DataFrame:
        if self.schema is None:
            raise ValueError("streaming parquet requires an explicit schema")
        df = spark.readStream.schema(self.schema).parquet(self.path)
        return df.select(*self.columns) if self.columns else df


@dataclass
class JDBCSource:
    """Database batch scan — the reference's PostgreSQL/MySQL batch
    sources (sources/postgresql/postgresql_source.go:248-354). Full
    table or custom query; partitioned reads parallelize the scan the
    way its parallel snapshot loop does. Smoke-tested end-to-end
    against an in-memory DuckDB over its JDBC driver (tests/test_io.py
    ::test_jdbc_source_smoke_if_driver); no live PostgreSQL/MySQL
    server exists in this environment, but the reader wiring is the
    same for any JDBC url + driver class."""

    url: str
    table: str | None = None
    query: str | None = None
    partition_column: str | None = None
    num_partitions: int = 8
    lower_bound: int | None = None
    upper_bound: int | None = None
    options: dict = field(default_factory=dict)

    def read(self, spark: SparkSession) -> DataFrame:
        r = spark.read.format("jdbc").option("url", self.url)
        if self.query:
            r = r.option("query", self.query)
        elif self.table:
            r = r.option("dbtable", self.table)
        else:
            raise ValueError("JDBCSource needs table or query")
        if self.partition_column:
            r = (
                r.option("partitionColumn", self.partition_column)
                .option("numPartitions", self.num_partitions)
                .option("lowerBound", self.lower_bound)
                .option("upperBound", self.upper_bound)
            )
        for k, v in self.options.items():
            r = r.option(k, v)
        return r.load()


@dataclass
class LakeSource:
    """Read a LakeTable (snapshot isolation; optional time travel) —
    the analogue of the reference's Iceberg source with snapshot-based
    incremental position (iceberg_source.go:31-431)."""

    path: str
    version: int | None = None
    buckets: list[int] | None = None

    def read(self, spark: SparkSession) -> DataFrame:
        from nebula_spark.lake import LakeTable

        return LakeTable.load(self.path).read(
            spark, buckets=self.buckets, version=self.version
        )


def incremental_diff(
    spark: SparkSession,
    path: str,
    from_version: int,
    to_version: int | None = None,
    _with_old: bool = False,
) -> DataFrame:
    """Incremental read between two snapshots: rows whose _seq advanced
    after ``from_version`` (the reference's snapshot-based incremental
    position, iceberg_source.go, snapshot_manager.go:26-49 — which
    walks snapshot/manifest deltas instead of scanning the table).
    Includes tombstones so consumers can propagate deletes.

    Scan shape: the table is copy-on-write at bucket granularity, so a
    row can only have changed if its bucket's FILE LIST differs between
    the two snapshots. The changed-bucket set comes from the snapshot
    metadata alone (each version's ``changed_buckets`` — no data read),
    and both sides of the _seq comparison scan ONLY those buckets. A CDC
    "what changed since v" over a 100 TB table therefore reads the
    touched fraction twice, not the whole table twice.

    Within the changed buckets, the new side additionally prunes by the
    lineage LOW-water mark of ``from_version`` (min over source
    partitions of the applied offsets): every event at/below it was
    applied before ``from_version``, so a row version there cannot be
    new — files wholly below the mark are skipped from the manifest
    stats without being opened, and the surviving files scan with a
    pushed-down ``_seq >`` predicate (parquet row-group skipping). Not
    applied under a first_write_wins fold, where the winning version
    can sit below any floor."""
    from pyspark.sql import functions as F

    from nebula_spark.lake import LakeTable

    t = LakeTable.load(path)
    # each side read once; every question below is asked of these two
    old_snap, new_snap = t.snapshot(from_version), t.snapshot(to_version)
    key = new_snap.key_col
    buckets: list[int] | None = None
    # a rescale in between makes bucket ids from the two layouts
    # incomparable (pruning BOTH snapshots by one bucket set would read
    # the wrong old rows): then, as when an intermediate snapshot was
    # expired, compare the full tables
    if old_snap.n_buckets == new_snap.n_buckets:
        try:
            changed: set[int] = set()
            for v in range(from_version + 1, new_snap.version + 1):
                changed |= t.snapshot(v).changed_buckets
            buckets = sorted(changed)
        except FileNotFoundError:
            pass

    fww = (
        new_snap.merge_mode == "mor"
        and new_snap.mor_conflict == "first_write_wins"
    )
    lw = None if fww else old_snap.low_water_mark()
    new = t.read(
        spark,
        version=new_snap,
        buckets=buckets,
        include_internal=True,
        min_seq_exclusive=lw,
    )
    if buckets is not None and not buckets:
        new = new.limit(0)
    old = t.read(
        spark, version=old_snap, buckets=buckets, include_internal=True
    ).select(
        F.col(key),
        F.col("_seq").alias("_old_seq"),
        F.col("_deleted").alias("_old_deleted"),
    )
    # '!=' (not '>'): under a FWW fold a changed key's winning _seq
    # DECREASES; under LWW/CoW it only increases, so != is equivalent
    out = new.join(old, on=key, how="left").filter(
        F.col("_old_seq").isNull() | (F.col("_seq") != F.col("_old_seq"))
    )
    if _with_old:
        # normalize the pre-image flag so NULL means exactly "key absent
        # at from_version": a stored NULL _deleted (the field is
        # nullable) on a MATCHED key coalesces to False (live) — without
        # this, change_feed reads flag-null as key-never-lived and
        # mislabels/filters such keys
        return out.withColumn(
            "_old_deleted",
            F.when(F.col("_old_seq").isNull(), F.lit(None).cast("boolean"))
            .otherwise(F.coalesce(F.col("_old_deleted"), F.lit(False))),
        ).drop("_old_seq")
    return out.drop("_old_seq", "_old_deleted")


def change_feed(
    spark: SparkSession,
    path: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Consumer-facing change data feed between two snapshots — the
    Delta/Iceberg CDF shape (and what the reference forwards to its
    sinks as row events): each changed key once, stamped with a
    ``_change_type`` of 'insert' | 'update' | 'delete'. Built entirely
    on :func:`incremental_diff`'s pruned scan (changed buckets only,
    _seq-floor file skipping), plus one extra column from the SAME
    join — no second pass:

    - 'delete': the key's winning version at ``to_version`` is a
      tombstone (it had a live pre-image, or its tombstone is what the
      consumer must propagate),
    - 'insert': the key did not exist at ``from_version``,
    - 'update': everything else.

    Keys whose tombstone existed at BOTH versions don't appear (their
    _seq didn't advance). Tombstone rows carry the key + nulls, like
    the reference's delete events."""
    from pyspark.sql import functions as F

    from nebula_spark.lake import LakeTable

    # the user columns of ``to_version``, not of HEAD: a column added
    # after it does not exist in the diff
    to_snap = LakeTable.load(path).snapshot(to_version)
    diff = incremental_diff(
        spark, path, from_version, to_version=to_snap.version, _with_old=True
    )
    # the key lived at from_version iff it had a non-tombstone version
    # (incremental_diff normalizes _old_deleted: NULL ⟺ key absent).
    # _deleted coalesces to False like every other consumer in the
    # engine — a NULL flag is a live row, and the raw column inside
    # boolean algebra would turn the netting filter into NULL and drop
    # the row entirely.
    lived = F.col("_old_deleted").isNotNull() & ~F.col("_old_deleted")
    dead = F.coalesce(F.col("_deleted"), F.lit(False))
    out = diff.withColumn(
        "_change_type",
        F.when(dead, F.lit("delete"))
        .when(~lived, F.lit("insert"))
        .otherwise(F.lit("update")),
    )
    # deletes of keys that never lived at from_version (insert+delete
    # inside the window, or a re-delete over an old tombstone) net to
    # nothing for a downstream consumer
    out = out.filter(~(dead & ~lived))
    user_cols = [f.name for f in to_snap.user_schema.fields]
    return out.select(*user_cols, "_seq", "_change_type")
