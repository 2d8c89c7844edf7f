"""Seeded input generator, vectorized numpy/pyarrow with no per-row Python.

It runs before the engine starts and writes only plain parquet files, so
the engine under test receives nothing but the generated inputs.

The change-log distribution follows ``nebula_spark.cdc.binlog.gen_binlog``:
a strictly increasing ``op_sequence``, a 40/45/15 % INSERT/UPDATE/DELETE
mix, a share of events concentrated on a few hot keys, 8 source
partitions, 1..max_tok token ids per event drawn as an arithmetic
sequence modulo the vocabulary, and null after-images on deletes. The
exact values differ from the Spark generator (numpy's PCG64 instead of
xxhash64); the shape is the same.

The corpus follows the shape of the sf0.1 ``documents`` table: a 30-word
vocabulary, 10..100 words per document, 5 % near-duplicates made by
appending one word to an earlier document. Replicas salt every word with
a seed- and replica-dependent suffix, so replicas share no shingles and
candidate pairs grow linearly with the replica count.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

VOCAB = 50257
SOURCES = np.array(["web", "books", "code", "wiki"], dtype=object)
N_PARTITIONS = 8
BASE_TS = 1704067200  # 2024-01-01T00:00:00Z, as gen_binlog
HOT_FRAC, N_HOT = 0.2, 4  # a fifth of all events hit four keys
MAX_TOK = 256  # tokens per change event
BASE_MAX_TOK = 64  # tokens per bootstrap row, as gen_base_table
LIVE_FRAC = 0.85  # the live share of keys that the 15 % delete mix settles at
DUP_FRAC = 0.05  # as the sf0.1 documents table

BINLOG_SCHEMA = pa.schema(
    [
        pa.field("op_sequence", pa.int64(), nullable=False),
        pa.field("op", pa.string(), nullable=False),
        pa.field("doc_id", pa.string(), nullable=False),
        pa.field("tokens", pa.list_(pa.int32())),
        pa.field("n_tok", pa.int32()),
        pa.field("source", pa.string()),
        pa.field("ts", pa.timestamp("us", tz="UTC"), nullable=False),
        pa.field("txn_id", pa.string()),
        pa.field("partition_id", pa.int32(), nullable=False),
        pa.field("schema_version", pa.int32(), nullable=False),
    ]
)

BASE_SCHEMA = pa.schema(
    [
        pa.field("doc_id", pa.string(), nullable=False),
        pa.field("tokens", pa.list_(pa.int32())),
        pa.field("n_tok", pa.int32()),
        pa.field("source", pa.string()),
    ]
)

CORPUS_WORDS = np.array(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch".split(),
    dtype=object,
)


def _prefixed(prefix: str, values: np.ndarray, width: int = 0) -> pa.Array:
    digits = pc.cast(pa.array(values), pa.string())
    if width:
        digits = pc.utf8_lpad(digits, width, "0")
    return pc.binary_join_element_wise(prefix, digits, "")


def _doc_ids(idx: np.ndarray) -> pa.Array:
    # "doc-%08d", the key format of gen_binlog / gen_base_table
    return _prefixed("doc-", idx, 8)


def _token_lists(rng: np.random.Generator, n_rows: int, max_tok: int, null_mask):
    """list<int32> column: row i holds tokens[j] = (base + j*step) % VOCAB,
    j < n_i, with n_i uniform in [1, max_tok]; rows under ``null_mask``
    are null (n_tok null too)."""
    n = rng.integers(1, max_tok + 1, n_rows).astype(np.int64)
    base = rng.integers(0, VOCAB, n_rows).astype(np.int64)
    step = rng.integers(1, 997, n_rows).astype(np.int64)
    if null_mask is not None:
        n[null_mask] = 0
    offsets = np.zeros(n_rows + 1, dtype=np.int32)
    np.cumsum(n, out=offsets[1:])
    row = np.repeat(np.arange(n_rows), n)
    j = np.arange(offsets[-1], dtype=np.int64) - offsets[:-1][row]
    values = ((base[row] + j * step[row]) % VOCAB).astype(np.int32)
    mask = None if null_mask is None else pa.array(null_mask)
    tokens = pa.ListArray.from_arrays(pa.array(offsets), pa.array(values), mask=mask)
    n_tok = pa.array(n.astype(np.int32), mask=null_mask)
    return tokens, n_tok


def base_table(seed: int, n_docs: int) -> pa.Table:
    """Bootstrap rows for a LIVE_FRAC share of the key space, so a table
    that starts from them is already near its steady live share."""
    rng = np.random.default_rng([seed, 1])
    idx = np.sort(rng.choice(n_docs, int(n_docs * LIVE_FRAC), replace=False))
    tokens, n_tok = _token_lists(rng, len(idx), BASE_MAX_TOK, None)
    src = SOURCES[rng.integers(0, len(SOURCES), len(idx))]
    return pa.table([_doc_ids(idx), tokens, n_tok, pa.array(src)], schema=BASE_SCHEMA)


def binlog(seed: int, first_seq: int, n_events: int, n_docs: int) -> pa.Table:
    """``n_events`` change events with op_sequence in
    [first_seq, first_seq + n_events). Each call is seeded by
    (seed, first_seq), so chunks can be generated independently."""
    rng = np.random.default_rng([seed, 2, first_seq])
    seq = np.arange(first_seq, first_seq + n_events, dtype=np.int64)
    hot = rng.random(n_events) < HOT_FRAC
    idx = np.where(
        hot, rng.integers(0, N_HOT, n_events), rng.integers(0, n_docs, n_events)
    )
    opsel = rng.integers(0, 100, n_events)
    op = np.where(opsel < 40, "INSERT", np.where(opsel < 85, "UPDATE", "DELETE"))
    is_del = op == "DELETE"
    tokens, n_tok = _token_lists(rng, n_events, MAX_TOK, is_del)
    src = SOURCES[rng.integers(0, len(SOURCES), n_events)]
    return pa.table(
        [
            pa.array(seq),
            pa.array(op.astype(object)),
            _doc_ids(idx),
            tokens,
            n_tok,
            pa.array(src, mask=is_del),
            pa.array((BASE_TS + seq) * 1_000_000, type=pa.int64()).cast(
                pa.timestamp("us", tz="UTC")
            ),
            _prefixed("txn-", seq // 10),
            pa.array(rng.integers(0, N_PARTITIONS, n_events).astype(np.int32)),
            pa.array(np.ones(n_events, dtype=np.int32)),
        ],
        schema=BINLOG_SCHEMA,
    )


def write_chunks(out_dir: str, seed: int, n_chunks: int, chunk_events: int, n_docs: int) -> list[str]:
    """One parquet file per chunk, chunk k holding op_sequence range
    [k*chunk_events, (k+1)*chunk_events). Returns the file paths."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for k in range(n_chunks):
        t = binlog(seed, k * chunk_events, chunk_events, n_docs)
        p = os.path.join(out_dir, f"chunk-{k:05d}.parquet")
        pq.write_table(t, p, compression="snappy")
        paths.append(p)
    return paths


def corpus(seed: int, n_docs: int) -> pa.Array:
    """``text`` column of one seeded base corpus of ``n_docs`` documents."""
    rng = np.random.default_rng([seed, 3])
    lens = rng.integers(10, 101, n_docs)
    offsets = np.zeros(n_docs + 1, dtype=np.int32)
    np.cumsum(lens, out=offsets[1:])
    words = CORPUS_WORDS[rng.integers(0, len(CORPUS_WORDS), offsets[-1])]
    text = pc.binary_join(
        pa.ListArray.from_arrays(pa.array(offsets), pa.array(words)), " "
    ).to_numpy(zero_copy_only=False)
    # near-duplicates: a doc in the second half copies a doc of the
    # first half and appends "dup"
    n_dup = int(n_docs * DUP_FRAC)
    dups = rng.choice(np.arange(n_docs // 2, n_docs), n_dup, replace=False)
    text[dups] = np.char.add(
        text[rng.integers(0, n_docs // 2, n_dup)].astype(str), " dup"
    )
    return pa.array(text.astype(object))


def corpus_replicas(out_path: str, seed: int, n_replicas: int, n_docs: int) -> int:
    """Write ``n_replicas`` salted copies of one seeded corpus of
    ``n_docs`` documents as a ``documents`` parquet (doc_id bigint, text
    string). Returns the row count."""
    text = corpus(seed, n_docs)
    texts = []
    for r in range(n_replicas):
        salt = f"_{seed % 997}x{r}"
        # every word gets the salt: after each separator and at the end
        salted = pc.replace_substring(text, " ", salt + " ")
        texts.append(pc.binary_join_element_wise(salted, pa.scalar(salt), ""))
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs * n_replicas, dtype=np.int64)),
            "text": pa.concat_arrays(texts),
        }
    )
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    pq.write_table(table, out_path, compression="zstd")
    return table.num_rows
