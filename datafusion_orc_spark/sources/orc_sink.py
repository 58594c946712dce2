"""Distributed ORC sink: write a DataFrame as a directory of ORC part
files using the engine's own writer (format/orc_writer.py), one task
per input partition — the write-side complement of the distributed scan
(sources/orc_source.py; the reference itself is read-only, lib.rs has
no writer, so this is beyond-reference surface).

Shape mirrors encode_files (operators/encode.py): rows never leave the
task (the ORC bytes are built and written executor-side through the
object-store seam), only a tiny stats row per part file returns to the
driver — shuffle-free, plan-asserted in tests/test_orc_sink.py. Memory
is bounded by ``rows_per_file``: a partition streaming more rows than
that rolls to a new part file instead of accumulating.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StringType, StructField, StructType

STATS_SCHEMA = StructType([
    StructField("path", StringType(), False),
    StructField("part", LongType(), False),
    StructField("n_rows", LongType(), False),
    StructField("n_bytes", LongType(), False),
    StructField("n_stripes", LongType(), False),
])


def write_orc_distributed(
    df: DataFrame,
    output_dir: str,
    stripe_rows: int = 65536,
    compression: str = "snappy",
    rows_per_file: int = 1 << 20,
    bytes_per_file: int = 256 * 1024 * 1024,
    row_index_stride: int | None = None,
    bloom_filter_columns: list[str] | None = None,
    bloom_filter_fpp: float = 0.05,
) -> DataFrame:
    """df -> ``output_dir``/part-*.orc via OUR ORC writer, in parallel.

    Returns the (lazy) per-file stats DataFrame; the write happens when
    it is consumed (``.collect()``/``.count()`` — same contract as
    encode_files). Files are written task-side through the shared
    ``PartWriter`` (sources/parts.py): attempt-suffixed tmp + rename on
    local stores, one atomic PUT on object stores, so a retried task and
    its zombie attempt never share a path. They are readable by ORC C++
    / ORC-Java / Spark / our own reader (conformance:
    tests/test_orc_sink.py)."""
    from datafusion_orc_spark.operators.encode import _ensure_workers_can_import
    from datafusion_orc_spark.sources.objectstore import resolve_store

    _ensure_workers_can_import(df)
    store, out_path = resolve_store(output_dir)
    store.makedirs(out_path)

    def sink(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow as _pa

        from pyspark import TaskContext

        from datafusion_orc_spark.format.orc_writer import write_orc
        from datafusion_orc_spark.sources.parts import PartWriter

        _pa.set_cpu_count(1)
        _pa.set_io_thread_count(2)
        tc = TaskContext.get()
        writer = PartWriter(output_dir, tc.partitionId(), tc.attemptNumber(), ext=".orc")
        pending: list[pa.RecordBatch] = []
        n_pending = 0
        b_pending = 0  # Arrow buffer bytes — rows alone under-bound wide rows

        def write(tbl: pa.Table, dest) -> None:
            write_orc(
                tbl, dest, stripe_rows=stripe_rows, compression=compression,
                row_index_stride=row_index_stride,
                bloom_filter_columns=bloom_filter_columns,
                bloom_filter_fpp=bloom_filter_fpp,
            )

        def flush() -> Iterator[pa.RecordBatch]:
            nonlocal pending, n_pending, b_pending
            if not pending:
                return
            tbl = pa.Table.from_batches(pending)
            pending, n_pending, b_pending = [], 0, 0
            path, n_bytes = writer.write_file(tbl, write)
            yield pa.RecordBatch.from_pydict({
                "path": [path],
                "part": [writer.part],
                "n_rows": [tbl.num_rows],
                "n_bytes": [n_bytes],
                "n_stripes": [-(-tbl.num_rows // stripe_rows)],
            })

        for b in batches:
            # slice at the roll boundaries: one incoming Arrow batch may
            # exceed rows_per_file OR bytes_per_file on its own (Spark's
            # maxRecordsPerBatch is independent of the sink's roll size,
            # and wide rows hit the byte bound long before the row bound)
            row_bytes = max(1, b.get_total_buffer_size() // max(1, b.num_rows))
            while b.num_rows:
                take = min(
                    b.num_rows,
                    rows_per_file - n_pending,
                    max(1, (bytes_per_file - b_pending) // row_bytes),
                )
                pending.append(b.slice(0, take))
                n_pending += take
                b_pending += take * row_bytes
                b = b.slice(take)
                if n_pending >= rows_per_file or b_pending >= bytes_per_file:
                    yield from flush()
        yield from flush()

    return df.mapInArrow(sink, STATS_SCHEMA)
