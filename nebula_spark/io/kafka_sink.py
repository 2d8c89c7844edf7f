"""Transactional topic sink — the Kafka exactly-once producer analogue.

The reference ships an idempotent/transactional Kafka producer:
``BeginTxn → send all → CommitTxn``, aborting on failure so consumers
never observe a partial batch (/root/reference/pkg/cdc/kafka.go:94-118,
257-312). No broker exists in this sandbox, so the same contract is
provided over a directory-backed topic with Kafka's storage shape:

- a **topic** is a directory of hash-partitioned message logs
  (``p=<k>/`` subdirs ≙ topic partitions; messages land in the
  partition of ``hash(key) % n_partitions``, Kafka's default
  partitioner);
- a **transaction** stages its message files in an invisible
  ``_txn-<uuid>`` directory; ``commit()`` publishes it with a single
  link-published marker under ``_commits/`` — consumers only read published
  transactions, so a crash mid-send leaves nothing visible (Kafka's
  read-committed isolation);
- **exactly-once** rides the epoch: a transaction opened for an
  already-committed epoch is a no-op (the producer's transactional-id
  dedup, kafka.go:94-118) — foreachBatch re-delivery after a crash is
  absorbed here exactly like LakeTable's commit manifest.

Swap `TopicDir` for `df.write.format("kafka")` + a real transactional
producer in a deployment with a broker; the epoch bookkeeping is the
part Spark doesn't give you either way.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from nebula_spark.lake.table import publish_json

_COMMITS = "_commits"
# no leading underscore: Spark's file index treats _-prefixed paths as
# hidden and would refuse to read committed transactions back. Staging
# dirs are invisible to consumers anyway because read() only lists
# directories referenced by a commit marker.
_TXN_PREFIX = "txn-"


@dataclass
class TopicDir:
    """A directory-backed 'topic' with transactional publish."""

    path: str
    n_partitions: int = 8

    def __post_init__(self):
        os.makedirs(os.path.join(self.path, _COMMITS), exist_ok=True)

    # ---------- producer side ----------

    def begin(self, epoch: int | str | None = None) -> "TopicTxn | None":
        """BeginTxn. Returns None when `epoch` was already committed —
        the re-delivered batch must be skipped, not re-sent.

        O(1): epoch markers are named ``epoch-<e>.json``, so the dedup
        check is a single existence test — no directory scan, no JSON
        parse (a 10^5-batch stream calls this once per batch)."""
        if epoch is not None and os.path.exists(self.epoch_marker(epoch)):
            return None
        return TopicTxn(self, epoch)

    def epoch_marker(self, epoch) -> str:
        return os.path.join(self.path, _COMMITS, f"epoch-{epoch}.json")

    def committed_epochs(self) -> set[str]:
        out = set()
        for f in os.listdir(os.path.join(self.path, _COMMITS)):
            if f.endswith(".json"):
                with open(os.path.join(self.path, _COMMITS, f)) as fh:
                    rec = json.load(fh)
                if rec.get("epoch") is not None:
                    out.add(str(rec["epoch"]))
        return out

    # ---------- consumer side ----------

    def read(self, spark: SparkSession) -> DataFrame:
        """Read-committed consumer: only messages of committed
        transactions are visible, in any number of partitions."""
        dirs = []
        commits_dir = os.path.join(self.path, _COMMITS)
        for f in sorted(os.listdir(commits_dir)):
            if not f.endswith(".json"):
                continue
            with open(os.path.join(commits_dir, f)) as fh:
                rec = json.load(fh)
            d = os.path.join(self.path, rec["txn_dir"])
            if os.path.isdir(d):
                dirs.append(d)
        if not dirs:
            return spark.createDataFrame(
                [], "key string, value string, topic_partition int"
            )
        # per-dir reads so partition-column discovery (topic_partition=k)
        # works under each transaction root; the union is metadata-only
        out = spark.read.parquet(dirs[0])
        for d in dirs[1:]:
            out = out.unionByName(spark.read.parquet(d))
        return out


class TopicTxn:
    """One transaction: stage → send* → commit | abort."""

    def __init__(self, topic: TopicDir, epoch):
        self.topic = topic
        self.epoch = epoch
        self._dir = f"{_TXN_PREFIX}{uuid.uuid4().hex[:12]}"
        self._aborted = False
        self._committed = False
        self._sends = 0
        os.makedirs(os.path.join(topic.path, self._dir), exist_ok=False)

    def send(
        self, df: DataFrame, key_col: str = "key", value_col: str = "value"
    ) -> None:
        """Append a batch of (key, value) messages to the staged txn,
        hash-partitioned by key like Kafka's default partitioner."""
        if self._committed or self._aborted:
            raise RuntimeError("transaction already finished")
        out = df.select(
            F.col(key_col).cast("string").alias("key"),
            F.col(value_col).cast("string").alias("value"),
            F.pmod(F.hash(F.col(key_col)), F.lit(self.topic.n_partitions))
            .cast("int")
            .alias("topic_partition"),
        )
        out.write.mode("append").partitionBy("topic_partition").parquet(
            os.path.join(self.topic.path, self._dir)
        )
        self._sends += 1

    def commit(self) -> None:
        """CommitTxn: one marker makes every sent message visible
        atomically; a second committer of the same epoch fails cleanly
        (``FileExistsError``).

        The record is *published* with ``publish_json`` (the same
        temp-file + ``os.link`` publish as a table snapshot): exactly one
        winner, and a concurrent consumer never observes a half-written
        marker (the read-committed contract)."""
        if self._aborted:
            raise RuntimeError("transaction aborted")
        if self.epoch is not None:
            marker = self.topic.epoch_marker(self.epoch)
        else:
            marker = os.path.join(
                self.topic.path, _COMMITS, f"txn-{self._dir[len(_TXN_PREFIX):]}.json"
            )
        rec = {
            "epoch": self.epoch,
            "txn_dir": self._dir,
            "sends": self._sends,
            "committed_at": time.time(),
        }
        # the temp name has no '.json' suffix: invisible to the consumer
        # listings even if a crash strands it
        publish_json(marker, rec)  # FileExistsError on race
        self._committed = True

    def abort(self) -> None:
        """AbortTxn: drop the staged files; nothing was ever visible."""
        shutil.rmtree(os.path.join(self.topic.path, self._dir), ignore_errors=True)
        self._aborted = True


def produce_exactly_once(
    topic: TopicDir,
    df: DataFrame,
    epoch: int | str | None,
    key_col: str = "key",
    value_col: str = "value",
) -> bool:
    """The full producer loop the reference runs per batch
    (kafka.go:257-312): begin → send → commit, abort on failure.
    Returns False when the epoch was already committed (skip)."""
    txn = topic.begin(epoch)
    if txn is None:
        return False
    try:
        txn.send(df, key_col=key_col, value_col=value_col)
        txn.commit()
        return True
    except FileExistsError:
        # two producers raced the same epoch and both passed begin();
        # the loser's marker create fails — a benign duplicate delivery,
        # not an error: drop the staged files and report "skipped"
        # exactly like the begin()-time dedup path
        txn.abort()
        return False
    except Exception:
        txn.abort()
        raise
