"""Seeded F1-shaped corpus generator for the benchmark.

The corpus has the engine's primary input shape
``(doc_id string, tokens array<int32>, n_tok int32, source string)``:

- ``n_tok`` is ``64 + r % 1985`` (64..2048 tokens per document);
- tokens are uniform over ``[0, vocab)``;
- every 7th document is sorted ascending (delta-friendly);
- every 13th document is one repeated token (run-friendly);
- in the other documents every 97th token is an outlier
  ``vocab + t % 1000`` (patched-base / exception-friendly);
- 50% of rows are ``src_0``, the rest ``src_0``..``src_7`` (skewed).

The generator is numpy-only and runs in the benchmark's own process;
the engine only ever sees the parquet files it writes. Generated
corpora are cached on disk, keyed by (seed, rows, vocab, GEN_VERSION),
so a repeated seed skips generation.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when the generated bytes change for a given (seed, rows, vocab).
GEN_VERSION = 1
# encode_files runs one task per row group: one per core of a 4-core host
FILES = 4

SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("tokens", pa.list_(pa.int32())),
        ("n_tok", pa.int32()),
        ("source", pa.string()),
    ]
)


def generate(seed: int, rows: int, vocab: int) -> pa.Table:
    """Return the corpus for (seed, rows, vocab) as one Arrow table."""
    rng = np.random.default_rng([GEN_VERSION, seed, rows, vocab])
    n_tok = (64 + rng.integers(0, 1985, rows)).astype(np.int32)
    offsets = np.zeros(rows + 1, dtype=np.int64)
    np.cumsum(n_tok, out=offsets[1:])
    total = int(offsets[-1])
    tokens = rng.integers(0, vocab, total, dtype=np.int32)

    docs = np.arange(rows)
    sorted_docs = docs[(docs % 7 == 0) & (docs % 13 != 0)]
    const_docs = docs[docs % 13 == 0]
    plain = (docs % 7 != 0) & (docs % 13 != 0)

    # plain documents: 1 token in 97 is an outlier just above the vocab
    per_doc = (n_tok[plain].astype(np.int64) + 96) // 97
    starts = np.repeat(offsets[:-1][plain], per_doc)
    first = np.zeros(len(per_doc) + 1, dtype=np.int64)
    np.cumsum(per_doc, out=first[1:])
    step = np.arange(first[-1], dtype=np.int64) - np.repeat(first[:-1], per_doc)
    at = starts + 97 * step
    tokens[at] = vocab + tokens[at] % 1000

    const_tok = rng.integers(0, vocab, len(const_docs), dtype=np.int32)
    for d, t in zip(const_docs.tolist(), const_tok.tolist()):
        tokens[offsets[d] : offsets[d + 1]] = t
    for d in sorted_docs.tolist():
        tokens[offsets[d] : offsets[d + 1]].sort()

    hi = rng.integers(0, 1 << 62, rows, dtype=np.int64)
    doc_id = [f"doc-{h:016x}-{i}" for i, h in enumerate(hi.tolist())]
    src_pick = rng.integers(0, 8, rows)
    src_pick[rng.random(rows) < 0.5] = 0
    names = np.array([f"src_{i}" for i in range(8)], dtype=object)

    return pa.table(
        [
            pa.array(doc_id, pa.string()),
            pa.ListArray.from_arrays(pa.array(offsets.astype(np.int32)), pa.array(tokens)),
            pa.array(n_tok),
            pa.array(names[src_pick], pa.string()),
        ],
        schema=SCHEMA,
    )


def cache_key(seed: int, rows: int, vocab: int) -> str:
    return f"v{GEN_VERSION}-s{seed}-r{rows}-v{vocab}"


def materialize(cache_dir: str, seed: int, rows: int, vocab: int) -> tuple[str, float]:
    """Write (or reuse) the corpus as FILES parquet files of one row
    group each. Returns (directory, seconds spent generating; 0.0 on a
    cache hit)."""
    out = os.path.join(cache_dir, cache_key(seed, rows, vocab))
    done = os.path.join(out, "_DONE")
    if os.path.exists(done):
        return out, 0.0
    t0 = time.perf_counter()
    table = generate(seed, rows, vocab)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    per_file = -(-rows // FILES)
    for i in range(FILES):
        part = table.slice(i * per_file, per_file)
        pq.write_table(part, os.path.join(tmp, f"part-{i:03d}.parquet"), row_group_size=per_file, compression="none")
    with open(os.path.join(tmp, "_DONE"), "w") as f:
        f.write(table_digest(table))
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out, time.perf_counter() - t0


def table_digest(table: pa.Table) -> str:
    """sha256 over the corpus' Arrow buffers: same seed, same digest."""
    h = hashlib.sha256()
    for col in table.combine_chunks().columns:
        for chunk in col.chunks:
            for buf in chunk.buffers():
                if buf is not None:
                    h.update(buf)
    return h.hexdigest()


def stored_digest(corpus_dir: str) -> str:
    with open(os.path.join(corpus_dir, "_DONE")) as f:
        return f.read().strip()
