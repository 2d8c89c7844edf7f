"""LakeTable — a minimal snapshot-versioned, bucket-partitioned ACID
table format on parquet, built for upsert-heavy CDC ingest.

Why not Iceberg: the runtime jar is not on the classpath in this
environment, and the reference's own Iceberg connector is append-only
anyway (its ``Upsert`` returns "not implemented",
/root/reference/pkg/connector/destinations/iceberg/init.go:117-121).
This layer supplies exactly the subset the CDC engine needs —
Iceberg-shaped, Spark-first:

- **Snapshots**: every commit writes an immutable JSON snapshot listing
  the live data files per key-bucket; ``HEAD`` flips atomically via
  ``os.rename``. Readers always see a consistent version; time travel =
  read an older snapshot.
- **Bucket layout**: data files are hash-bucketed on the merge key
  (``pmod(xxhash64(key), n_buckets)`` — the same idea as Iceberg's
  ``bucket(N, key)`` partition transform). A change batch touching K
  buckets rewrites only those K buckets (copy-on-write), so MERGE cost
  scales with the touched fraction, not table size. At 100 TB you run
  n_buckets=4096+; tests use 16.
- **Commit manifest**: the snapshot carries the set of applied
  ``(checkpoint_epoch, partition_id) -> max_op_sequence`` entries, so
  the exactly-once bookkeeping is atomic *with* the data commit — a
  re-delivered micro-batch is detected before any work happens. This is
  the Spark-native analogue of the reference's idempotent-delivery maps
  (/root/reference/internal/pipeline/cdc.go:177-195) and checkpoint
  records (cdc.go:158-167), with the crucial difference that ours
  survives restarts because it rides the table commit.
- **Schema versioning**: each snapshot pins a schema; data files
  remember which schema version wrote them, and reads align every file
  group to the current schema (missing columns → null, widened types →
  cast). Mirrors the reference's schema registry + evolution
  (/root/reference/pkg/schema/evolution.go) on Spark StructTypes.

Concurrency: single-writer per table (the reference serializes sink
commits the same way); the O_EXCL snapshot create turns a racing second
writer into a clean failure instead of corruption.
"""

from __future__ import annotations

import json
import os
import re
import tempfile
import time
import uuid
from dataclasses import dataclass
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from nebula_spark.functions.dedupe import _q

META_DIR = "_nl"
HEAD_FILE = "HEAD"
SNAP_FMT = "snap-%012d.json"


def type_from_ddl(ddl: str) -> T.DataType:
    """Session-free DDL type parser for the handful of types the engine
    stores (Spark's _parse_datatype_string needs a live SparkSession —
    wrong for metadata-only DDL like add_column)."""
    s = ddl.strip().lower()
    if s.startswith("array<") and s.endswith(">"):
        return T.ArrayType(type_from_ddl(s[6:-1]))
    atomic = {
        "string": T.StringType(), "int": T.IntegerType(),
        "integer": T.IntegerType(), "long": T.LongType(),
        "bigint": T.LongType(), "short": T.ShortType(),
        "smallint": T.ShortType(), "byte": T.ByteType(),
        "tinyint": T.ByteType(), "float": T.FloatType(),
        "double": T.DoubleType(), "boolean": T.BooleanType(),
        "date": T.DateType(), "timestamp": T.TimestampType(),
        "binary": T.BinaryType(),
    }
    if s in atomic:
        return atomic[s]
    raise ValueError(f"unsupported type DDL {ddl!r}; pass a DataType")


def bucket_expr(key_col: str, n_buckets: int):
    """Deterministic bucket id for a key, mirroring Iceberg's bucket
    transform. Uses Spark's Murmur3 `hash` — the SAME function
    HashPartitioning uses — so when a merge's shuffle partition count
    equals n_buckets, every shuffle output partition holds exactly one
    bucket and the pre-write repartition exchange disappears. Built as
    SQL text: one ``F.expr`` instead of five Column calls, each a py4j
    round trip."""
    return F.expr(f"pmod(hash({_q(key_col)}), {int(n_buckets)})")


# ---- driver-side Murmur3 x86_32 (Spark's `hash()`, seed 42) ----
# A point lookup used to spend a whole Spark job (createDataFrame +
# collect) just to evaluate pmod(hash(key), n) for a handful of keys —
# job scheduling dominated the serving latency. These mirror Spark's
# Murmur3_x86_32 bit-for-bit for the key types the engine stores, so
# bucket assignment is a few microseconds of driver Python and lookup
# schedules exactly ONE job (the pruned scan). Property-tested against
# bucket_expr over randomized keys in tests/test_clustered.py.
_M32 = 0xFFFFFFFF


def _mm3_mix_k1(k1: int) -> int:
    k1 = (k1 * 0xCC9E2D51) & _M32
    k1 = ((k1 << 15) | (k1 >> 17)) & _M32
    return (k1 * 0x1B873593) & _M32


def _mm3_mix_h1(h1: int, k1: int) -> int:
    h1 ^= k1
    h1 = ((h1 << 13) | (h1 >> 19)) & _M32
    return (h1 * 5 + 0xE6546B64) & _M32


def _mm3_fmix(h1: int, length: int) -> int:
    h1 ^= length
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & _M32
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & _M32
    return h1 ^ (h1 >> 16)


def _mm3_hash_int(value: int, seed: int = 42) -> int:
    h1 = _mm3_mix_h1(seed & _M32, _mm3_mix_k1(value & _M32))
    return _mm3_fmix(h1, 4)


def _mm3_hash_long(value: int, seed: int = 42) -> int:
    v = value & 0xFFFFFFFFFFFFFFFF
    h1 = _mm3_mix_h1(seed & _M32, _mm3_mix_k1(v & _M32))
    h1 = _mm3_mix_h1(h1, _mm3_mix_k1((v >> 32) & _M32))
    return _mm3_fmix(h1, 8)


def _mm3_hash_bytes(data: bytes, seed: int = 42) -> int:
    h1 = seed & _M32
    n = len(data)
    aligned = n - n % 4
    for i in range(0, aligned, 4):
        h1 = _mm3_mix_h1(h1, _mm3_mix_k1(int.from_bytes(data[i : i + 4], "little")))
    for i in range(aligned, n):
        b = data[i]
        if b >= 128:  # Spark reads SIGNED bytes, sign-extended to int
            b -= 256
        h1 = _mm3_mix_h1(h1, _mm3_mix_k1(b & _M32))
    return _mm3_fmix(h1, n)


def bucket_of_value(value, dtype: T.DataType, n_buckets: int) -> int | None:
    """Driver-side twin of ``bucket_expr`` for one key value, or None
    when the type isn't covered (caller falls back to the Spark job).
    The SIGNED 32-bit hash result then takes Spark's pmod — Python's
    ``%`` on a positive modulus is exactly pmod."""
    if value is None:
        return None
    if isinstance(dtype, T.LongType):
        h = _mm3_hash_long(int(value))
    elif isinstance(dtype, (T.IntegerType, T.ShortType, T.ByteType)):
        h = _mm3_hash_int(int(value))
    elif isinstance(dtype, T.BooleanType):
        h = _mm3_hash_int(1 if value else 0)
    elif isinstance(dtype, T.StringType):
        h = _mm3_hash_bytes(str(value).encode("utf-8"))
    else:
        return None
    if h >= 1 << 31:
        h -= 1 << 32
    return h % n_buckets


# engine-managed columns stored in data files: the op_sequence that
# produced each row (LWW version) and the tombstone marker. They make
# the merge order-independent: a stale event can never regress a newer
# row, and a DELETE leaves a tombstone so late-arriving older events
# for the key lose. Compaction purges tombstones.
SEQ_COL = "_seq"
DELETED_COL = "_deleted"
INTERNAL_FIELDS = [
    T.StructField(SEQ_COL, T.LongType(), True),
    T.StructField(DELETED_COL, T.BooleanType(), True),
]
INTERNAL_COLS = [f.name for f in INTERNAL_FIELDS]


@dataclass
class Snapshot:
    """One table version, read once: every metadata question of an
    operation (schema, key, layout, mode, epochs, lineage) is asked of
    the same snapshot, so a commit landing mid-operation cannot mix
    versions."""

    version: int
    raw: dict
    # set by ``evolve``: the (storage schema, renames) its commit must
    # carry, and the schema changes for the commit summary
    evolution: tuple | None = None

    @property
    def schema(self) -> T.StructType:
        return T.StructType.fromJson(self.raw["schemas"][str(self.raw["schema_version"])])

    @property
    def schema_version(self) -> int:
        return self.raw["schema_version"]

    @property
    def files(self) -> dict[int, list[dict]]:
        """bucket -> [{path, schema_version}] — loaded from the inline
        ``files`` map, or (segmented manifests) by reading every
        segment file once and caching on this instance. Callers must
        not mutate the returned entry lists."""
        seg = self.raw.get("files_segmented")
        if seg is None:
            return {int(b): fs for b, fs in self.raw["files"].items()}
        cache = getattr(self, "_files_cache", None)
        if cache is None:
            cache = {}
            for path in seg["segments"].values():
                with open(path) as f:
                    for b, fs in json.load(f)["files"].items():
                        cache[int(b)] = fs
            self._files_cache = cache
        return cache

    def files_for(self, buckets: "Iterable[int]") -> dict[int, list[dict]]:
        """File entries for just the given buckets. On a segmented
        manifest this opens ONLY the segments covering them —
        O(touched segments) metadata I/O instead of O(table), which is
        what keeps a point lookup's metadata cost flat at 4096+
        buckets. Inline manifests (and an already-cached full load)
        answer from memory."""
        seg = self.raw.get("files_segmented")
        if seg is None or getattr(self, "_files_cache", None) is not None:
            f = self.files
            return {int(b): f[int(b)] for b in buckets if int(b) in f}
        width = int(seg["width"])
        need: dict[int, list[int]] = {}
        for b in {int(x) for x in buckets}:
            need.setdefault(b // width, []).append(b)
        out: dict[int, list[dict]] = {}
        for s, bs in need.items():
            path = seg["segments"].get(str(s))
            if not path:
                continue
            with open(path) as f:
                content = json.load(f)["files"]
            for b in bs:
                if str(b) in content:
                    out[b] = content[str(b)]
        return out

    @property
    def has_files(self) -> bool:
        """Whether the snapshot references any data file — WITHOUT
        loading segments (a segment is dropped from the map the moment
        it holds no buckets, so a non-empty map implies files)."""
        seg = self.raw.get("files_segmented")
        if seg is not None:
            return bool(seg["segments"])
        return bool(self.raw["files"])

    def covering_segments(self, buckets: "Iterable[int]") -> dict[int, list[dict]]:
        """ENTIRE content (every bucket, not just the requested ones) of
        the manifest segments covering ``buckets``. This is commit()'s
        partial load: a narrow commit must rewrite each changed segment
        whole, so it needs all of that segment's buckets — but none of
        any other segment. Returns None-equivalent semantics only for
        segmented manifests; callers guard on ``files_segmented``."""
        seg = self.raw["files_segmented"]
        width = int(seg["width"])
        out: dict[int, list[dict]] = {}
        for s in sorted({int(b) // width for b in buckets}):
            path = seg["segments"].get(str(s))
            if not path:
                continue
            with open(path) as f:
                for b, fs in json.load(f)["files"].items():
                    out[int(b)] = fs
        return out

    @property
    def applied(self) -> dict:
        """epoch(str) -> {"partitions": {pid: max_op_sequence}, "events": n}
        — the RECENT epochs only; numeric epochs at/below
        ``applied_watermark`` have been folded into it + ``lineage``
        (the manifest would otherwise grow with every epoch ever
        applied: O(epochs) JSON rewritten per commit kills a 10^4-batch
        stream)."""
        return self.raw.get("applied", {})

    @property
    def applied_watermark(self) -> int:
        """Every NUMERIC epoch ≤ this was applied (folded out of
        ``applied``); -1 when nothing has been folded."""
        return int(self.raw.get("applied_watermark", -1))

    @property
    def renames(self) -> dict[str, str]:
        """historical column name -> current name (chains collapsed)"""
        return self.raw.get("renames", {})

    @property
    def user_schema(self) -> T.StructType:
        return T.StructType(
            [f for f in self.schema.fields if f.name not in INTERNAL_COLS]
        )

    @property
    def key_col(self) -> str:
        return self.raw["key_col"]

    @property
    def n_buckets(self) -> int:
        return self.raw["n_buckets"]

    @property
    def merge_mode(self) -> str:
        """'cow' (default): a merge rewrites every touched bucket —
        reads are plain scans, writes pay rewrite amplification that
        grows with table size for key-spread batches. 'mor'
        (merge-on-read): a merge APPENDS the deduped batch rows to the
        touched buckets — write cost is flat in table size; reads
        resolve last-writer-wins per key (one hash aggregation), and
        compaction folds the versions back down. The same trade Iceberg
        exposes as copy-on-write vs merge-on-read."""
        return self.raw.get("properties", {}).get("merge_mode", "cow")

    @property
    def mor_conflict(self) -> str:
        """The conflict strategy a merge-on-read table resolves at READ
        time — a TABLE property, not a per-merge argument, because every
        appended row version is folded by one rule when scanned:
        'last_write_wins' keeps the max-_seq version per key,
        'first_write_wins' the min (an earliest tombstone wins forever;
        a bootstrap row at _seq=-1 beats any later event — it *was*
        first). Writers must merge with the matching conflict; readers
        pick the fold from here. reject/merge need the pre-image target
        state and stay CoW-only."""
        return self.raw.get("properties", {}).get("conflict", "last_write_wins")

    def epoch_applied(self, epoch) -> bool:
        """True iff this epoch was already applied — present in the
        recent ``applied`` map, or (bare numeric) at/below the folded
        ``applied_watermark``, or (prefixed, e.g. DLQ-class ``f12`` /
        reprocess ``rp7``) with its numeric suffix at/below that
        namespace's entry in ``applied_watermarks``."""
        s = str(epoch)
        if s in self.applied:
            return True
        m = re.match(r"^(.*?)(-?\d+)$", s)
        if not m:
            return False
        pre, n = m.group(1), int(m.group(2))
        if pre:
            wm = self.raw.get("applied_watermarks", {}).get(pre)
            hit = wm is not None and n <= int(wm)
            if hit and n < int(wm):
                # the namespace fold has no contiguity rule — it relies
                # on each namespace having ONE producer with monotonic
                # suffixes. A suffix strictly below the folded max is
                # normal only for a crash-redelivery of an OLD epoch;
                # if the streaming checkpoint was deleted/reset, batch
                # ids restarted at 0 and this skip silently drops the
                # redelivered batch's data. Surface it.
                import logging

                logging.getLogger(__name__).warning(
                    "epoch %r skipped via namespace watermark %s<=%s; if "
                    "the stream's checkpoint was reset (batch ids "
                    "restarted), this skip loses data — use a fresh "
                    "epoch namespace (dlq_ns/route) after a checkpoint "
                    "reset",
                    s,
                    n,
                    int(wm),
                )
            return hit
        # absent ≠ -1: a fresh table has no watermark, and the bootstrap
        # epoch IS -1 — the default value must not claim it applied
        wm = self.raw.get("applied_watermark")
        return wm is not None and n <= int(wm)

    def partition_offsets(self) -> dict[str, int]:
        """Per-source-partition high-water marks (max op_sequence applied),
        folded over all commits — the lineage offsets of the north rule."""
        # folded epochs' offsets live in the lineage summary
        offsets: dict[str, int] = {
            pid: int(seq) for pid, seq in self.raw.get("lineage", {}).items()
        }
        for entry in self.applied.values():
            for pid, seq in entry.get("partitions", {}).items():
                if seq is not None:
                    offsets[pid] = max(offsets.get(pid, -1), int(seq))
        return offsets

    def low_water_mark(self) -> int | None:
        """min over source partitions of the lineage offsets: every
        event with op_sequence ≤ this was applied by this version. The
        safe floor for incremental pruning (a per-partition stream can
        lag, so only the MIN bounds what might still arrive). None when
        no lineage exists."""
        offsets = self.partition_offsets()
        return min(offsets.values()) if offsets else None

    def schema_history(self, include_internal: bool = False) -> list[T.StructType]:
        """Every schema version this table has had, oldest first — the
        registry history the *_TRANSITIVE compatibility modes check
        against (evolution.check_compatibility_with_history)."""
        out = []
        for sv in sorted(int(k) for k in self.raw["schemas"]):
            s = T.StructType.fromJson(self.raw["schemas"][str(sv)])
            if not include_internal:
                s = T.StructType([f for f in s.fields if f.name not in INTERNAL_COLS])
            out.append(s)
        return out

    def evolve(
        self,
        new_schema: T.StructType | None,
        renames: dict[str, str] | None = None,
        changes: list | None = None,
    ) -> "Snapshot":
        """This version with the next schema: ``new_schema`` (the full
        storage schema) becomes schema_version + 1 when it differs, and
        ``renames`` joins the rename history with chains collapsed
        (a->b recorded, now b->c => a->c, b->c) so old files map
        straight to the current name. Nothing is written: a writer reads
        and writes through the result, and its one commit carries the
        schema with its data (``commit`` evolves HEAD the same way).
        ``changes`` only annotates that commit's summary."""
        raw = dict(self.raw)
        if new_schema is not None and new_schema.jsonValue() != self.schema.jsonValue():
            raw["schema_version"] = self.schema_version + 1
            raw["schemas"] = {
                **raw["schemas"], str(raw["schema_version"]): new_schema.jsonValue()
            }
        if renames:
            if raw["key_col"] in renames:
                raise ValueError(f"cannot rename the merge key {raw['key_col']!r}")
            hist = dict(raw.get("renames", {}))
            for old, new in renames.items():
                for o, n in list(hist.items()):
                    if n == old:
                        hist[o] = new
                hist[old] = new
            raw["renames"] = hist
        return Snapshot(self.version, raw, (new_schema, renames, changes or []))


class ConcurrentBucketConflict(RuntimeError):
    """Two writers rewrote the same bucket concurrently — the loser must
    recompute its merge against the new snapshot (Iceberg's
    CommitFailedException for genuine data conflicts)."""


class LakeTable:
    def __init__(self, root: str):
        self.root = os.path.abspath(root)

    # ---------- metadata plumbing ----------

    def _meta(self, *parts: str) -> str:
        return os.path.join(self.root, META_DIR, *parts)

    def _head_version(self) -> int:
        with open(self._meta(HEAD_FILE)) as f:
            return int(f.read().strip())

    def snapshot(self, version: int | None = None) -> Snapshot:
        v = self._head_version() if version is None else version
        with open(self._meta(SNAP_FMT % v)) as f:
            return Snapshot(v, json.load(f))

    # ---------- create / commit ----------

    @classmethod
    def create(
        cls,
        root: str,
        schema: T.StructType,
        key_col: str,
        n_buckets: int = 16,
        properties: dict | None = None,
    ) -> "LakeTable":
        if key_col not in schema.fieldNames():
            raise ValueError(f"key column {key_col!r} not in schema")
        if any(f.name in INTERNAL_COLS for f in schema.fields):
            raise ValueError(f"schema may not use reserved columns {INTERNAL_COLS}")
        schema = T.StructType(list(schema.fields) + INTERNAL_FIELDS)
        properties = dict(properties or {})
        if "manifest_segment_buckets" not in properties and n_buckets >= 256:
            # wide tables segment by default: an inline snapshot at 256+
            # buckets is rewritten whole per commit (O(table) metadata —
            # measured 4 MB/commit at 4096 buckets, see BENCH/BASELINE.md
            # round 5); 64 buckets/segment keeps the segment map small
            # and narrow commits O(changed). Pass
            # manifest_segment_buckets=0 to force inline.
            properties["manifest_segment_buckets"] = 64
        seg_width = int(properties.get("manifest_segment_buckets", 0) or 0)
        t = cls(root)
        os.makedirs(t._meta(), exist_ok=False)
        os.makedirs(os.path.join(t.root, "data"), exist_ok=True)
        snap = {
            "format_version": 1,
            "version": 0,
            "parent": None,
            "key_col": key_col,
            "n_buckets": n_buckets,
            "schema_version": 1,
            "schemas": {"1": schema.jsonValue()},
            "files": {},
            "applied": {},
            "properties": properties,
            "summary": {"operation": "create"},
            "committed_at": time.time(),
        }
        if seg_width > 0:
            del snap["files"]
            snap["files_segmented"] = {"width": seg_width, "segments": {}}
        t._write_snapshot(0, snap)
        return t

    @classmethod
    def load(cls, root: str) -> "LakeTable":
        t = cls(root)
        if not os.path.exists(t._meta(HEAD_FILE)):
            raise FileNotFoundError(f"not a LakeTable: {root}")
        return t

    @staticmethod
    def exists(root: str) -> bool:
        return os.path.exists(os.path.join(root, META_DIR, HEAD_FILE))

    def _write_snapshot(self, version: int, snap: dict) -> None:
        path = self._meta(SNAP_FMT % version)
        # O_EXCL: a concurrent committer of the same version fails loudly
        fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_EXCL, 0o644)
        with os.fdopen(fd, "w") as f:
            json.dump(snap, f)
            f.flush()
            os.fsync(f.fileno())
        # atomic HEAD flip
        tmp = tempfile.NamedTemporaryFile(
            "w", dir=self._meta(), prefix=".head-", delete=False
        )
        tmp.write(str(version))
        tmp.flush()
        os.fsync(tmp.fileno())
        tmp.close()
        os.rename(tmp.name, self._meta(HEAD_FILE))

    def _store_files(
        self,
        raw: dict,
        cur: Snapshot,
        files: dict[int, list[dict]],
        changed_buckets: set[int],
        version: int,
    ) -> None:
        """Write the commit's file listing into ``raw`` — inline
        (``files`` map in the snapshot JSON) or, when the table
        property ``manifest_segment_buckets`` = W is set, SEGMENTED:
        buckets are grouped W-per-segment into immutable side JSONs
        under ``<meta>/segments/`` and the snapshot carries only
        {segment_id: path}. A commit rewrites ONLY the segments whose
        buckets changed and reuses the parent's paths for the rest —
        Iceberg's manifest-reuse. At 4096 buckets × many files, the
        per-commit metadata write drops from O(all files) to
        O(changed buckets), and segment-pruned reads
        (:meth:`Snapshot.files_for`) drop lookup metadata I/O the same
        way. Segment files are uuid-named so two writers racing to the
        same version can never clobber each other's referenced
        segments (the O_EXCL snapshot write decides the winner; the
        loser's segments become harmless orphans that
        ``vacuum_orphans`` sweeps). Replaced segment paths are
        recorded in ``removed_segments`` exactly like data files in
        ``removed``, which keeps ``expire_snapshots`` O(changed)."""
        width = int(
            (raw.get("properties") or {}).get("manifest_segment_buckets", 0)
            or 0
        )
        if width <= 0:
            raw["files"] = {str(b): fs for b, fs in sorted(files.items())}
            raw.pop("files_segmented", None)
            parent_seg0 = cur.raw.get("files_segmented")
            if parent_seg0:
                # segmented → inline switch: every parent segment dies
                # with this commit — record them so expire_snapshots
                # stays O(changed) (vacuum would catch them anyway)
                raw["removed_segments"] = sorted(
                    parent_seg0["segments"].values()
                )
            else:
                raw.pop("removed_segments", None)
            return
        parent_seg = cur.raw.get("files_segmented")
        parent_map = dict(parent_seg["segments"]) if parent_seg else {}
        if parent_seg is None or int(parent_seg.get("width", 0)) != width:
            # first segmented commit (or a width change): every
            # populated segment is new, and ALL old-width parent
            # segments die with this commit
            changed_segs = {b // width for b in files}
            pre_removed = sorted(parent_map.values())
            parent_map = {}
        else:
            changed_segs = {b // width for b in changed_buckets}
            pre_removed = []
        by_seg: dict[int, dict[str, list[dict]]] = {}
        for b in sorted(files):
            by_seg.setdefault(b // width, {})[str(b)] = files[b]
        seg_dir = self._meta("segments")
        os.makedirs(seg_dir, exist_ok=True)
        new_map = dict(parent_map)
        removed_segs = []
        for s in sorted(changed_segs):
            old = new_map.pop(str(s), None)
            if old is not None:
                removed_segs.append(old)
            content = by_seg.get(s)
            if not content:
                continue  # segment emptied: no new file
            path = os.path.join(
                seg_dir,
                f"seg-{s:06d}-{version:012d}-{uuid.uuid4().hex[:8]}.json",
            )
            with open(path, "w") as f:
                json.dump({"files": content}, f)
                f.flush()
                os.fsync(f.fileno())
            new_map[str(s)] = path
        raw.pop("files", None)
        raw["files_segmented"] = {"width": width, "segments": new_map}
        raw["removed_segments"] = sorted(removed_segs + pre_removed)

    def _buckets_changed_by(self, version: "int | Snapshot") -> set[int]:
        """Buckets whose file list differs between snapshot ``version``
        and its parent — the conflict footprint of that commit.

        Snapshots record their own ``changed_buckets`` at commit time
        (one JSON field; may over-approximate with touched-but-
        identical buckets, which only costs a redundant re-check) —
        the manifest-diff walk below remains as the fallback for
        snapshots written before the field existed."""
        snap = self._pinned(version)
        recorded = snap.raw.get("changed_buckets")
        if recorded is not None:
            return {int(b) for b in recorded}
        parent_v = snap.raw.get("parent")
        parent = None if parent_v is None else self.snapshot(parent_v)
        a = snap.raw.get("files_segmented")
        pb = None if parent is None else parent.raw.get("files_segmented")
        if a and pb and int(a["width"]) == int(pb["width"]):
            # segmented fast path: only segments whose PATH differs can
            # hold changed buckets — O(changed segments) I/O, which is
            # what keeps rebase conflict checks cheap on wide tables
            changed: set[int] = set()
            for s in set(a["segments"]) | set(pb["segments"]):
                pa, pp = a["segments"].get(s), pb["segments"].get(s)
                if pa == pp:
                    continue
                if pa:
                    with open(pa) as f:
                        ca = json.load(f)["files"]
                else:
                    ca = {}
                if pp:
                    with open(pp) as f:
                        cp = json.load(f)["files"]
                else:
                    cp = {}
                for k in set(ca) | set(cp):
                    if ca.get(k) != cp.get(k):
                        changed.add(int(k))
            return changed
        parent_files = {} if parent is None else parent.files
        changed = set()
        for b in set(snap.files) | set(parent_files):
            if snap.files.get(b) != parent_files.get(b):
                changed.add(int(b))
        return changed

    def commit(
        self,
        *,
        new_files_by_bucket: dict[int, list[str]] | None = None,
        replaced_buckets: Iterable[int] = (),
        replaced_files: dict[int, Iterable[str]] | None = None,
        new_schema: T.StructType | None = None,
        renames: dict[str, str] | None = None,
        applied_update: dict | None = None,
        summary: dict | None = None,
        new_n_buckets: int | None = None,
        expect_n_buckets: int | None = None,
        base_version: int | None = None,
        new_properties: dict | None = None,
        _retries: int = 3,
    ) -> Snapshot:
        """Produce snapshot v+1: keep files of untouched buckets, swap in
        new files for ``replaced_buckets``, optionally evolve the schema
        (``new_schema``/``renames``, see :meth:`Snapshot.evolve`), and
        merge ``applied_update`` into the commit manifest. Atomic.

        ``replaced_files``: FILE-level replace — {bucket: [paths]} of
        individual live files this commit rewrote; other files in those
        buckets survive untouched. This is what lets a key-bounds-pruned
        merge keep the bucket's disjoint files out of the rewrite
        entirely. Conflict granularity stays at the bucket level (a
        concurrent commit touching the same bucket conflicts).

        Optimistic concurrency: if another writer created the same
        snapshot version (O_EXCL failure), re-read HEAD and rebase the
        commit — the Iceberg CommitFailedException-retry pattern. The
        rebase is only legal when the intervening commits touched a
        DISJOINT set of buckets (this writer resolved its batch against
        stale bucket contents otherwise); an overlap raises
        ``ConcurrentBucketConflict`` instead of silently dropping the
        other writer's files.

        ``expect_n_buckets``: the bucket count this commit's files were
        laid out under. If the table's CURRENT n_buckets differs (a
        concurrent rescale landed first), the commit's bucket ids are
        meaningless under the new layout — raise ConcurrentBucketConflict
        so the writer recomputes against the new snapshot. Every data
        writer (merge/append/compact) passes this.

        ``new_n_buckets``: switch the table to a new bucket layout —
        partition-spec evolution. Such a commit must replace EVERY
        existing bucket (it is a full rewrite) and never rebases: any
        concurrent commit wins the race and the rescale recomputes.

        ``base_version``: the snapshot version this commit's data was
        COMPUTED from. The O_EXCL write only catches two writers that
        read the same HEAD; a competing commit that fully lands between
        this writer's plan-read and its commit() call would otherwise be
        silently overwritten by a full-rewrite commit. With
        base_version set, any intervening commit triggers the same
        legality check as the O_EXCL rebase (and a full rewrite always
        conflicts). rescale passes this; incremental merges rely on the
        single-writer contract + O_EXCL instead."""
        cur = self.snapshot()
        if (
            expect_n_buckets is not None
            and cur.raw["n_buckets"] != expect_n_buckets
        ):
            raise ConcurrentBucketConflict(
                f"table was rescaled to n_buckets={cur.raw['n_buckets']} "
                f"while this commit was computed for {expect_n_buckets}; "
                "re-run against the new snapshot"
            )
        if base_version is not None and cur.version != base_version:
            raise ConcurrentBucketConflict(
                f"snapshot advanced from {base_version} to {cur.version} "
                "since this commit was planned; re-run against the new "
                "snapshot"
            )
        evolving = new_schema is not None or bool(renames)
        base = cur.evolve(new_schema, renames) if evolving else cur
        raw = json.loads(json.dumps(base.raw))  # deep copy
        version = cur.version + 1
        raw["version"] = version
        raw["parent"] = cur.version
        if new_properties:
            # merged BEFORE the file store so a manifest-layout change
            # (manifest_segment_buckets) takes effect in this commit —
            # _store_files sees the parent/child width mismatch and
            # rewrites every populated segment once
            raw.setdefault("properties", {}).update(new_properties)
        if new_n_buckets is not None:
            missing = set(cur.files) - {int(b) for b in replaced_buckets}
            if missing:
                raise ValueError(
                    f"a rescale commit must replace every bucket; missing "
                    f"{sorted(missing)}"
                )
            raw["n_buckets"] = int(new_n_buckets)
        sv = raw["schema_version"]
        changed_buckets = (
            {int(b) for b in replaced_buckets}
            | {int(b) for b in (replaced_files or {})}
            | {int(b) for b in (new_files_by_bucket or {})}
        )
        parent_seg = cur.raw.get("files_segmented")
        seg_width = int(
            (raw.get("properties") or {}).get("manifest_segment_buckets", 0)
            or 0
        )
        if (
            parent_seg is not None
            and int(parent_seg.get("width", 0)) == seg_width
            and new_n_buckets is None
        ):
            # segmented partial load: a narrow commit reads ONLY the
            # segments covering its touched buckets (each must be
            # rewritten whole; the rest are reused by path) — metadata
            # READS stay O(changed buckets), matching the O(changed)
            # writes. A rescale (new_n_buckets) is a full rewrite and
            # takes the full load below.
            files = cur.covering_segments(changed_buckets)
        else:
            # inline manifests, manifest-layout changes, and rescales
            # need the complete listing. Inner lists are never mutated
            # below (pops and re-bindings only), so sharing them with
            # the parent snapshot's cache is safe.
            files = dict(cur.files)
        # pre-mutation entries of the touched buckets — the base of the
        # removed-files computation (never re-read cur.files: that
        # would force a full segment load)
        parent_entries = {
            b: list(files.get(b, ())) for b in changed_buckets
        }
        for b in replaced_buckets:
            files.pop(int(b), None)
        for b, dead_paths in (replaced_files or {}).items():
            dead = set(dead_paths)
            if int(b) in files:
                kept = [e for e in files[int(b)] if e["path"] not in dead]
                if kept:
                    files[int(b)] = kept
                else:
                    files.pop(int(b))
        for b, paths in (new_files_by_bucket or {}).items():
            normalized = []
            for p in paths:
                if not isinstance(p, tuple):
                    p = (p, 0)
                # pad to (path, size, min_seq, max_seq, key_unique,
                # min_key, max_key); short tuples (no current engine
                # path emits them — list_written_files always records
                # all seven) default to key_unique=FALSE: forcing the
                # MoR fold is always sound, whereas assuming uniqueness
                # for an unknown writer re-opens the round-4 fold-skip
                # bug for e.g. pre-round-5 map-only appends
                p = p + (None, None, False, None, None)[len(p) - 2 :]
                normalized.append(p)
            entries = []
            for p, sz, mn, mx, ku, kmn, kmx in sorted(
                normalized, key=lambda t: (t[0], t[1])
            ):
                e = {
                    "path": p,
                    "schema_version": sv,
                    "size": sz,
                    "min_seq": mn,
                    "max_seq": mx,
                }
                if not ku:
                    # stored only when False: absent == key-unique,
                    # keeping old snapshots readable and the JSON small
                    e["key_unique"] = False
                if kmn is not None and kmx is not None:
                    e["min_key"] = kmn
                    e["max_key"] = kmx
                entries.append(e)
            files.setdefault(int(b), [])
            files[int(b)] = files[int(b)] + entries
        # files whose LAST reference dies with this commit's parent —
        # O(replaced buckets) to compute here, and what lets
        # expire_snapshots delete history in O(changed) instead of
        # re-walking every snapshot's full file listing
        gone: list[str] = []
        for b in {int(x) for x in replaced_buckets} | {
            int(x) for x in (replaced_files or {})
        }:
            still = {e["path"] for e in files.get(int(b), [])}
            gone.extend(
                e["path"]
                for e in parent_entries.get(int(b), [])
                if e["path"] not in still
            )
        raw["removed"] = sorted(gone)
        # persist this commit's touched-bucket set: _buckets_changed_by
        # (rebase conflict checks, incremental_diff catch-up) then reads
        # ONE field per version instead of diffing manifest segments —
        # a consumer syncing across a 10^4-commit window used to pay a
        # segment-file open per changed segment per version before the
        # first scan task. Touched ⊇ differs-from-parent, and both
        # consumers are sound under supersets (a false-positive bucket
        # is re-checked/re-scanned, never skipped).
        raw["changed_buckets"] = sorted(changed_buckets)
        self._store_files(raw, cur, files, changed_buckets, version)
        if applied_update:
            raw.setdefault("applied", {}).update(applied_update)
        # Bound the manifest: fold old NUMERIC epochs (contiguous from
        # the watermark — batch ids are sequential per checkpoint; a gap
        # stops the fold so an unseen id can never be claimed applied)
        # into applied_watermark + per-partition lineage maxima. Without
        # this every snapshot carries every epoch ever applied and the
        # JSON rewrite per commit grows O(epochs) — fatal on a
        # 10^4-batch stream. Non-numeric epochs (DLQ classes, reprocess
        # markers) are never folded.
        limit = int(
            raw.get("properties", {}).get("max_applied_epochs", 1024)
        )
        applied = raw.get("applied", {})
        if len(applied) > limit:
            wm = int(raw.get("applied_watermark", -1))
            lineage = dict(raw.get("lineage", {}))
            folded = 0
            ints = sorted(
                int(k) for k in applied if k.lstrip("-").isdigit()
            )
            for n in ints[: max(0, len(ints) - limit)]:
                if n > wm + 1:
                    break  # gap: keep the entry, stop folding
                e = applied.pop(str(n))
                for pid, seq in (e.get("partitions") or {}).items():
                    if seq is not None:
                        lineage[pid] = max(lineage.get(pid, -1), int(seq))
                wm = max(wm, n)  # n == wm+1, or the -1 bootstrap epoch
                folded += 1
            if folded:
                # only when something actually folded: writing wm=-1
                # after an immediate gap-break would falsely claim the
                # bootstrap epoch (-1) applied on a fresh table whose
                # numeric epochs start above 0
                raw["applied_watermark"] = wm
                raw["lineage"] = lineage
            # Prefixed epochs (DLQ classes f/u/c/{route}:, reprocess
            # markers rp/rpdel) never match the numeric fold, so a
            # shared DLQ table on a long multi-table stream would still
            # rewrite an O(epochs) applied map per commit. Fold them
            # into per-namespace watermarks. No contiguity rule here —
            # and none is needed: each namespace has ONE producer whose
            # numeric suffixes are strictly monotonic (streaming batch
            # ids per route, DLQ snapshot versions for rp/rpdel), and
            # Structured Streaming only ever redelivers the LATEST
            # uncommitted batch, so any suffix at/below the namespace
            # max was either committed or permanently surpassed — it
            # can never be attempted again with new data.
            if len(applied) > limit:
                wms = {
                    k: int(v)
                    for k, v in raw.get("applied_watermarks", {}).items()
                }
                for k in sorted(applied):
                    if k.lstrip("-").isdigit():
                        continue  # bare numerics: gap-ruled fold above
                    m = re.match(r"^(.*?)(-?\d+)$", k)
                    if not m:
                        continue  # no numeric suffix: never folded
                    pre, n = m.group(1), int(m.group(2))
                    e = applied.pop(k)
                    for pid, seq in (e.get("partitions") or {}).items():
                        if seq is not None:
                            lineage[pid] = max(
                                lineage.get(pid, -1), int(seq)
                            )
                    wms[pre] = max(wms.get(pre, n), n)
                if wms:
                    raw["applied_watermarks"] = wms
                    raw["lineage"] = lineage
        raw["summary"] = summary or {}
        raw["committed_at"] = time.time()
        try:
            self._write_snapshot(version, raw)
        except FileExistsError:
            if _retries <= 0:
                raise
            if new_n_buckets is not None:
                # a rescale is a full rewrite — whatever landed first
                # invalidated it entirely; never rebase
                raise ConcurrentBucketConflict(
                    "rescale lost the commit race; recompute against the "
                    "new snapshot"
                )
            # only REPLACED buckets create a rebase hazard (this writer
            # resolved against their prior contents); pure appends
            # (MoR merges, DLQ/bootstrap) commute with any concurrent
            # commit and rebase safely
            mine = {int(b) for b in replaced_buckets} | {
                int(b) for b in (replaced_files or {})
            }
            if mine:
                head = self._head_version()
                for v in range(version, head + 1):
                    theirs = self._buckets_changed_by(v)
                    overlap = mine & theirs
                    if overlap:
                        raise ConcurrentBucketConflict(
                            f"commit lost race on version {v}: buckets "
                            f"{sorted(overlap)} were rewritten by a concurrent "
                            f"commit; re-run the merge against the new snapshot"
                        )
            return self.commit(
                new_files_by_bucket=new_files_by_bucket,
                replaced_buckets=replaced_buckets,
                replaced_files=replaced_files,
                new_schema=new_schema,
                renames=renames,  # must survive the rebase, or old files
                # would read with the renamed column nulled
                applied_update=applied_update,
                summary=summary,
                expect_n_buckets=expect_n_buckets,
                new_properties=new_properties,
                _retries=_retries - 1,
            )
        return Snapshot(version, raw)

    # ---------- data path ----------

    def add_column(
        self,
        name: str,
        data_type,
        default=None,
        comment: str | None = None,
    ) -> Snapshot:
        """ALTER TABLE ADD COLUMN with an optional INITIAL DEFAULT —
        the reference's add-with-default migration
        (/root/reference/pkg/schema/migration.go:49-233 AddField with
        Default) as Iceberg's initial-default semantics: rows written
        BEFORE the column existed read the default (applied at scan
        time from field metadata — history is never rewritten); rows
        written after store whatever their batch carries (null when
        absent). ``data_type`` is a DataType or a DDL string
        ('string', 'array<int>', ...)."""
        if isinstance(data_type, str):
            data_type = type_from_ddl(data_type)
        snap = self.snapshot()
        if name in snap.schema.fieldNames():
            raise ValueError(f"column {name!r} already exists")
        meta: dict = {}
        if default is not None:
            meta["initial_default"] = default
        if comment:
            meta["comment"] = comment
        field = T.StructField(name, data_type, True, meta)
        new_schema = T.StructType(
            list(snap.user_schema.fields) + [field] + INTERNAL_FIELDS
        )
        return self.commit(
            new_schema=new_schema,
            summary={
                "operation": "add-column",
                "column": name,
                "type": data_type.simpleString(),
                "default": default,
            },
        )

    def new_commit_dir(self) -> str:
        """A unique directory for this commit's data files (immutable once
        written; unreferenced dirs from failed commits are inert)."""
        d = os.path.join(self.root, "data", f"c-{uuid.uuid4().hex[:12]}")
        os.makedirs(d, exist_ok=False)
        return d

    @staticmethod
    def _file_stats(
        path: str, key_col: str | None = None
    ) -> tuple[int | None, int | None, object, object]:
        """(min_seq, max_seq, min_key, max_key) from the parquet
        FOOTER — a driver-side metadata read (no data pages touched), a
        few ms per file, bounded by files-per-commit. Missing
        statistics → None for that pair.

        Key bounds are recorded only for str/int/float values (the
        JSON-safe, order-comparable types). Parquet writers may
        TRUNCATE long string stats, but truncation keeps them valid
        bounds (min is a prefix ≤ the true min; max has its last byte
        incremented to stay ≥ the true max), so using them for
        disjointness pruning is always sound."""
        try:
            import pyarrow.parquet as pq

            md = pq.ParquetFile(path).metadata
            idx = {}
            for i in range(md.num_columns):
                name = md.schema.column(i).name
                if name == SEQ_COL or name == key_col:
                    idx[name] = i

            def col_bounds(name):
                if name not in idx:
                    return None, None
                mn = mx = None
                for g in range(md.num_row_groups):
                    st = md.row_group(g).column(idx[name]).statistics
                    if st is None or not st.has_min_max:
                        return None, None
                    mn = st.min if mn is None else min(mn, st.min)
                    mx = st.max if mx is None else max(mx, st.max)
                return mn, mx

            smn, smx = col_bounds(SEQ_COL)
            smn = int(smn) if smn is not None else None
            smx = int(smx) if smx is not None else None
            kmn, kmx = col_bounds(key_col) if key_col else (None, None)
            if not (
                isinstance(kmn, (str, int, float))
                and isinstance(kmx, (str, int, float))
                and not isinstance(kmn, bool)
            ):
                kmn = kmx = None
            return smn, smx, kmn, kmx
        except Exception:
            return None, None, None, None

    @staticmethod
    def list_written_files(
        commit_dir: str,
        key_unique: bool = True,
        key_col: str | None = None,
    ) -> dict[int, list[tuple]]:
        """Collect parquet files written by ``partitionBy('_bucket')``
        under ``commit_dir`` → {bucket: [(abs path, bytes, min_seq,
        max_seq, key_unique, min_key, max_key)]}. The _seq span per
        file powers metadata-only pruning (incremental reads skip
        files wholly below a lineage low-water mark without opening
        them); the KEY span (recorded when ``key_col`` is given and
        the parquet stats exist) powers merge-time file pruning — a
        CoW merge keeps, unread and unrewritten, any file whose key
        range provably misses the batch (Iceberg's manifest column
        bounds). All from the same one footer read per file.

        ``key_unique``: whether the writer guarantees at most one row
        version per key inside each file. True for every deduped write
        path (merge with in-batch dedup, compaction, rescale,
        migration — all fold per key before writing); the map-only
        merge (``dedup_how='none'``) passes False because it appends
        the raw batch, which may carry several versions of a key in
        one task's output file. The MoR read fold keys its plain-scan
        shortcut on this flag."""
        out: dict[int, list[tuple]] = {}
        for entry in sorted(os.listdir(commit_dir)):
            if not entry.startswith("_bucket="):
                continue
            b = int(entry.split("=", 1)[1])
            d = os.path.join(commit_dir, entry)
            paths = []
            for f in sorted(os.listdir(d)):
                if not f.endswith(".parquet"):
                    continue
                p = os.path.join(d, f)
                mn, mx, kmn, kmx = LakeTable._file_stats(p, key_col)
                paths.append(
                    (p, os.path.getsize(p), mn, mx, bool(key_unique), kmn, kmx)
                )
            if paths:
                out[b] = paths
        return out

    def prunable_files(
        self,
        buckets: Iterable[int],
        key_bounds: dict[int, tuple],
        version: "int | Snapshot | None" = None,
    ) -> dict[int, set[str]]:
        """Per bucket: the live file paths whose recorded [min_key,
        max_key] PROVABLY misses ``key_bounds[bucket]`` = (lo, hi) —
        the batch's key span for that bucket. Driver-side metadata
        only, O(files in the given buckets). Files without recorded
        bounds (or buckets without batch bounds) are never pruned.

        Soundness for a CoW merge that keeps these files out of the
        scan AND the rewrite: a bucket's live files are key-disjoint
        (every rewrite emits each key once), so a batch key outside a
        file's range cannot match any of its rows (updates complete)
        and cannot be missing from the scanned rest (inserts
        complete). Most effective when keys have locality — the
        monotonic primary keys of a typical CDC feed — where old
        generations cover old id ranges a fresh batch never touches."""
        out: dict[int, set[str]] = {}
        files = self._pinned(version).files_for(buckets)
        for b in {int(x) for x in buckets}:
            lo_hi = key_bounds.get(b)
            if lo_hi is None or lo_hi[0] is None or lo_hi[1] is None:
                continue
            lo, hi = lo_hi
            pruned = set()
            for e in files.get(b, []):
                kmn, kmx = e.get("min_key"), e.get("max_key")
                try:
                    if kmn is not None and kmx is not None and (
                        kmx < lo or kmn > hi
                    ):
                        pruned.add(e["path"])
                except TypeError:
                    # mixed types (schema drifted): never prune
                    continue
            if pruned:
                out[b] = pruned
        return out

    @staticmethod
    def unclustered_count(entries: list[dict]) -> int:
        """How many of a bucket's live files sit OUTSIDE the ideal
        key-clustered layout: missing/untyped key bounds,
        non-key-unique (map-only appends), or key-range touching/
        overlapping another live file. Drives the in-stream compaction
        trigger in cluster mode — a key-clustered bucket legitimately
        holds many files (one per rolled key range), so counting ALL
        files would re-fire compaction every batch and churn-rewrite
        the bucket forever; files already in disjoint sorted ranges
        need no rewrite and don't count."""
        loose = 0
        spans = []
        for e in entries:
            mn, mx = e.get("min_key"), e.get("max_key")
            if mn is None or mx is None or not e.get("key_unique", True):
                loose += 1
            else:
                spans.append((mn, mx))
        try:
            spans.sort()
        except TypeError:  # mixed key types: treat all as loose
            return loose + len(spans)
        overlapped = [False] * len(spans)
        for i in range(1, len(spans)):
            # touching counts too: a shared boundary key defeats the
            # MoR multi-file plain-scan shortcut
            if spans[i][0] <= spans[i - 1][1]:
                overlapped[i] = overlapped[i - 1] = True
        return loose + sum(overlapped)

    def bucket_bytes(
        self, buckets: Iterable[int], version: "int | Snapshot | None" = None
    ) -> int:
        """Total stored bytes of the given buckets (from the snapshot) —
        drives the merge-strategy choice."""
        files = self._pinned(version).files_for(buckets)
        return sum(
            int(e.get("size", 0))
            for entries in files.values()
            for e in entries
        )

    def read(
        self,
        spark: SparkSession,
        buckets: Iterable[int] | None = None,
        version: "int | Snapshot | None" = None,
        include_internal: bool = False,
        min_seq_exclusive: int | None = None,
        exclude_paths: dict[int, set[str]] | None = None,
        key_in: list | None = None,
    ) -> DataFrame:
        """Scan the table (optionally bucket-pruned / time-travelled),
        aligning every file group to the snapshot's current schema.
        ``version`` is a snapshot version, or a :class:`Snapshot` the
        caller already read (a merge pins one snapshot for all its
        reads).

        Files are grouped by the schema version that wrote them; each
        group is read with its own (exact) schema then cast/padded to
        the current one — this is how int→long widening and added
        columns read correctly without rewriting history. The union is
        a metadata-only plan node; Spark still scans in one stage.

        ``exclude_paths``: {bucket: paths} to leave out of the scan —
        the caller-computed result of :meth:`prunable_files` (a merge
        skipping key-disjoint files). The caller owns the soundness
        argument; plain reads never pass it.

        ``min_seq_exclusive``: only rows with _seq strictly above this
        floor. Files whose manifest max_seq sits at/below the floor are
        skipped WITHOUT being opened (no input split at all), and the
        row predicate additionally pushes into the parquet scan so
        row-group statistics skip pages inside surviving files. Sound
        for CoW and MoR-LWW reads (a version at/below the floor can
        never be the fold winner above it); refused on FWW tables,
        where the MIN fold's winner may live below any floor.

        MoR fold skip: a bucket whose live file list is a single
        PROVABLY key-unique file holds at most one row version per
        key, so its read is a plain scan — no aggregation and no
        shuffle. Key-uniqueness is a per-file manifest flag recorded at
        commit time: True for deduped merges, compaction, rescale,
        migration and bootstrap (all fold or receive key-unique input),
        False for map-only (``dedup_how='none'``) appends, whose files
        can hold several versions of a key. A bucket containing ANY
        non-key-unique file runs the fold even if that file is its
        only one. After compaction every bucket is a single key-unique
        file: a fully compacted MoR table reads exactly like a CoW
        one."""
        snap = self._pinned(version)
        cur_schema = snap.schema
        mor = snap.merge_mode == "mor"
        if min_seq_exclusive is not None and mor and (
            snap.mor_conflict == "first_write_wins"
        ):
            raise ValueError(
                "min_seq_exclusive pruning is unsound under the "
                "first_write_wins fold: the winning (minimum) version can "
                "sit below any floor"
            )
        want = None if buckets is None else {int(b) for b in buckets}
        # bucket-pruned reads open only the manifest segments covering
        # the wanted buckets (no-op on inline manifests)
        source = snap.files if want is None else snap.files_for(want)
        selected: dict[int, list[dict]] = {}
        for b, entries in source.items():
            if want is not None and b not in want:
                continue
            skip = (exclude_paths or {}).get(int(b), ())
            keep = [
                e
                for e in entries
                if e["path"] not in skip
                and not (
                    min_seq_exclusive is not None
                    and e.get("max_seq") is not None
                    and e["max_seq"] <= min_seq_exclusive
                )
            ]
            if keep:
                selected[b] = keep

        renames = snap.renames

        def scan(entry_list: list[dict]) -> DataFrame | None:
            by_sv: dict[int, list[str]] = {}
            for e in entry_list:
                by_sv.setdefault(int(e["schema_version"]), []).append(e["path"])
            parts: list[DataFrame] = []
            for sv, paths in sorted(by_sv.items()):
                file_schema = T.StructType.fromJson(snap.raw["schemas"][str(sv)])
                df = spark.read.schema(file_schema).parquet(*paths)
                if min_seq_exclusive is not None:
                    # pushed into the parquet scan (row-group stats)
                    df = df.filter(F.col(SEQ_COL) > F.lit(min_seq_exclusive))
                if key_in is not None:
                    # point-lookup predicate, applied BEFORE any MoR
                    # fold (sound: every stored version of a requested
                    # key passes it) and pushed into the parquet scan
                    # as an In filter for row-group skipping. The key
                    # column is never renamed, so the name is stable
                    # across schema versions.
                    df = df.filter(
                        F.col(snap.raw["key_col"]).isin(list(key_in))
                    )
                # files written before a declared rename carry the old
                # column name — map it to the current one so the
                # renamed column's history survives (the reference's
                # rename migration, pkg/schema/migration.go:233-256)
                to_rename = {
                    old: new
                    for old, new in renames.items()
                    if old in df.columns and new not in df.columns
                }
                if to_rename:
                    df = df.withColumnsRenamed(to_rename)
                parts.append(
                    align_to_schema(df, cur_schema, use_initial_defaults=True)
                )
            if not parts:
                return None
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            return out

        if not mor:
            out = scan([e for es in selected.values() for e in es])
        else:
            def _plain_ok(es: list[dict]) -> bool:
                # plain scan when every file is provably key-unique AND
                # no key can appear in two files: a lone map-only
                # append still holds multiple versions per key and must
                # fold; several files may skip the fold only when their
                # recorded key bounds are pairwise disjoint (what
                # key-clustered compaction produces — each file owns a
                # contiguous key range). Equal boundary values mean the
                # boundary key may sit in both files, so the check is
                # strict; missing bounds or cross-type bounds are never
                # assumed disjoint.
                if not all(e.get("key_unique", True) for e in es):
                    return False
                if len(es) == 1:
                    return True
                bounds = [(e.get("min_key"), e.get("max_key")) for e in es]
                if any(mn is None or mx is None for mn, mx in bounds):
                    return False
                try:
                    bounds.sort()
                    return all(
                        bounds[i][1] < bounds[i + 1][0]
                        for i in range(len(bounds) - 1)
                    )
                except TypeError:
                    return False

            fold_entries = [
                e for es in selected.values() if not _plain_ok(es) for e in es
            ]
            plain_entries = [
                e for es in selected.values() if _plain_ok(es) for e in es
            ]
            folded = scan(fold_entries)
            if folded is not None:
                # merge-on-read resolution: multi-file buckets hold
                # several appended versions per key — keep the max-_seq
                # one (LWW) or the min (FWW, table property). One hash
                # aggregation (partial agg combines map-side; same
                # shuffle shape as the LWW dedup), keyed exactly like
                # the bucket layout so a bucket-pruned read resolves
                # only its slice.
                key = snap.raw["key_col"]
                others = [c for c in folded.columns if c not in (key, SEQ_COL)]
                packed = F.struct(F.col(SEQ_COL), *[F.col(c) for c in others])
                fold = (
                    F.min if snap.mor_conflict == "first_write_wins" else F.max
                )
                folded = (
                    folded.groupBy(key)
                    .agg(fold(packed).alias("_m"))
                    .select(
                        F.col(key),
                        F.col(f"_m.{SEQ_COL}"),
                        *[F.col(f"_m.{c}") for c in others],
                    )
                    .select(*[F.col(f.name) for f in cur_schema.fields])
                )
            plain = scan(plain_entries)
            out = (
                plain.unionByName(folded)
                if plain is not None and folded is not None
                else (plain if plain is not None else folded)
            )
        if out is None:
            out = spark.createDataFrame([], cur_schema)
        if not include_internal:
            # live rows only, user columns only
            if DELETED_COL in out.columns:
                out = out.filter(
                    F.col(DELETED_COL).isNull() | ~F.col(DELETED_COL)
                ).drop(*INTERNAL_COLS)
        return out

    def lookup(
        self,
        spark: SparkSession,
        keys: list,
        version: "int | Snapshot | None" = None,
        include_internal: bool = False,
    ) -> DataFrame:
        """Point lookup: the current row (if live) for each requested
        key — the CDC serving query ("what does row k look like now").
        Composes three prunings so a lookup on a 100 TB table touches
        O(len(keys)) files, not the table:

        - bucket pruning: each key hashes to exactly one bucket
          (computed with the same ``bucket_expr`` the layout uses, via
          a tiny local job — no scan, collect bounded by len(keys));
        - file pruning: within a candidate bucket, files whose recorded
          [min_key, max_key] excludes every requested key for that
          bucket are skipped without an input split (narrowest after a
          key-clustered compaction, where each file owns a contiguous
          key range);
        - row pruning: the IN predicate is pushed into the surviving
          parquet scans for row-group skipping, applied before any MoR
          fold (sound — every stored version of a requested key
          passes), so the fold aggregates only the requested keys.
        """
        if not keys:
            return self.read(
                spark, buckets=[], version=version,
                include_internal=include_internal,
            )
        snap = self._pinned(version)
        nb = snap.raw["n_buckets"]
        key_field = next(
            f for f in snap.schema.fields if f.name == snap.raw["key_col"]
        )
        # bucket assignment is driver-side Python (bucket_of_value — the
        # bit-exact Murmur3 twin of bucket_expr): the old
        # createDataFrame + collect spent a whole Spark job (~0.5 s of
        # scheduling) to hash len(keys) values, dominating serving
        # latency. Fallback to the job only for uncovered key types.
        keys_by_bucket: dict[int, list] = {}
        probe = bucket_of_value(
            next((k for k in keys if k is not None), None), key_field.dataType, nb
        )
        if probe is not None:
            for k in keys:
                b = bucket_of_value(k, key_field.dataType, nb)
                if b is not None:
                    keys_by_bucket.setdefault(b, []).append(k)
        else:
            kdf = spark.createDataFrame(
                [(k,) for k in keys], T.StructType([key_field])
            )
            assigned = kdf.select(
                bucket_expr(key_field.name, nb).alias("_b"), F.col(key_field.name)
            ).collect()
            for r in assigned:
                keys_by_bucket.setdefault(int(r["_b"]), []).append(
                    r[key_field.name]
                )
        exclude: dict[int, set[str]] = {}
        bucket_files = snap.files_for(keys_by_bucket)
        for b, bkeys in keys_by_bucket.items():
            pruned = set()
            for e in bucket_files.get(b, []):
                kmn, kmx = e.get("min_key"), e.get("max_key")
                if kmn is None or kmx is None:
                    continue
                try:
                    if all(k < kmn or k > kmx for k in bkeys):
                        pruned.add(e["path"])
                except TypeError:
                    continue
            if pruned:
                exclude[b] = pruned
        return self.read(
            spark,
            buckets=sorted(keys_by_bucket),
            version=snap,
            include_internal=include_internal,
            exclude_paths=exclude,
            key_in=list(keys),
        )

    def bucket_of(
        self, df: DataFrame, version: "int | Snapshot | None" = None
    ) -> DataFrame:
        snap = self._pinned(version)
        return df.withColumn("_bucket", bucket_expr(snap.key_col, snap.n_buckets))

    def _pinned(self, version: "int | Snapshot | None") -> Snapshot:
        """``version`` as a Snapshot: an already-read one as it is, else
        read from disk (None = HEAD)."""
        return version if isinstance(version, Snapshot) else self.snapshot(version)


def align_to_schema(
    df: DataFrame, target: T.StructType, use_initial_defaults: bool = False
) -> DataFrame:
    """Project ``df`` onto ``target``: missing columns become typed
    nulls, present columns are cast (covers int→long / float→double
    widening). Column-name matching is exact (the engine controls both
    sides).

    ``use_initial_defaults``: a missing column whose target field
    carries ``initial_default`` metadata (set by
    :meth:`LakeTable.add_column`) fills with that value instead of
    null — Iceberg's initial-default semantics, applied ONLY on the
    read path for files written before the column existed (incoming
    batches are current-generation and keep plain nulls, so a post-DDL
    row that omits the column stores null, exactly like Iceberg's
    write-default-less ADD COLUMN)."""
    have = {f.name: f for f in df.schema.fields}
    cols = []
    for f in target.fields:
        if f.name in have:
            if have[f.name].dataType == f.dataType:
                cols.append(F.col(f.name))
            else:
                cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            fill = None
            if use_initial_defaults and f.metadata:
                fill = f.metadata.get("initial_default")
            cols.append(F.lit(fill).cast(f.dataType).alias(f.name))
    return df.select(*cols)
