"""Task-side part files: the one writer every sink uses, and the one
loop that turns blob rows back into stripes.

``PartWriter`` writes a task's ``part-{part:05d}-{seq:03d}{ext}`` files
under an output directory (encode_files, decode_to_files,
write_orc_distributed). Every file is fenced per task attempt: local
stores stage through ``.{name}.attempt{N}.tmp`` and rename on commit, so
a zombie attempt and its retry never write the same path and readers
only ever see complete files; object stores get one streamed PUT, which
is atomic. ``recycle`` (local stores, attempt 0 only) overwrites the
canonical file in place instead, keeping its page-cache pages warm.

``iter_decoded_stripes`` is the read side's counterpart, shared by
decode_table (both modes), decode_to_files and the stripeblob
DataSource (the reference's one ``OrcOpener`` per file source,
physical_exec.rs).
"""

from __future__ import annotations

import glob
import os
from collections.abc import Iterable, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from datafusion_orc_spark.format import stripe as _stripe
from datafusion_orc_spark.sources.objectstore import LocalStore, resolve_store

_INT64_MIN, _INT64_MAX = -(1 << 63), (1 << 63) - 1


class PartWriter:
    """One task attempt's part files, byte-rolled at ``bytes_per_file``.

    Two ways in: ``write(batch)`` streams batches into one open
    ``pq.ParquetWriter`` (a row group per batch; ``schema`` and
    ``parquet_options`` configure it) and rolls to the next name once
    the file holds ``bytes_per_file`` Arrow bytes; ``write_file(table,
    write)`` writes one whole file with ``write(table, sink)``. A sink is
    a local path (Arrow C++ owns the fd) or a file object. ``close()``
    commits the open file; with ``recycle`` it then removes this part's
    files of higher ``seq``, left by a previous run whose roll layout was
    longer, so the directory matches a fresh write.

    Counters: ``files``, ``rows`` and ``arrow_bytes`` (the uncompressed
    in-memory Arrow bytes streamed through, not on-disk size)."""

    def __init__(
        self,
        output_dir: str,
        part: int,
        attempt: int,
        ext: str = ".parquet",
        bytes_per_file: int = 256 * 1024 * 1024,
        recycle: bool = False,
        schema: pa.Schema | None = None,
        **parquet_options,
    ):
        self.store, self.dir = resolve_store(output_dir)
        self.store.makedirs(self.dir)
        self.part, self.attempt, self.ext = part, attempt, ext
        self.bytes_per_file = bytes_per_file
        self.recycle = recycle and isinstance(self.store, LocalStore)
        # retries never write in place: attempt 0 may have died mid-write,
        # so a retry goes through its own tmp + rename (speculation, where
        # two attempts are live at once, is refused driver-side)
        self.in_place = self.recycle and attempt == 0
        self.schema, self.parquet_options = schema, parquet_options
        self.seq = 0
        self.files = self.rows = self.arrow_bytes = 0
        self._file_bytes = 0
        self._writer = self._fh = self._tmp = None

    def path(self) -> str:
        """Canonical path of the current file."""
        return f"{self.dir}/part-{self.part:05d}-{self.seq:03d}{self.ext}"

    def _open(self):
        final = self.path()
        if self.in_place:
            self._fh = open(final, "r+b" if os.path.exists(final) else "w+b")
            return self._fh
        if isinstance(self.store, LocalStore):
            self._tmp = f"{self.dir}/.{os.path.basename(final)}.attempt{self.attempt}.tmp"
            return self._tmp
        self._fh = self.store.open_output(final)
        return self._fh

    def _commit(self) -> None:
        if self._fh is not None:
            if self.in_place:
                self._fh.truncate()  # previous run's tail, if longer
            self._fh.close()
            self._fh = None
        if self._tmp is not None:
            self.store.rename(self._tmp, self.path())
            self._tmp = None
        self.files += 1
        self.arrow_bytes += self._file_bytes
        self._file_bytes = 0
        self.seq += 1

    def write(self, batch: pa.RecordBatch) -> None:
        if self._writer is None:
            self._writer = pq.ParquetWriter(self._open(), self.schema, **self.parquet_options)
        self._writer.write_table(pa.Table.from_batches([batch], schema=self.schema))
        self._file_bytes += batch.nbytes
        self.rows += batch.num_rows
        if self._file_bytes >= self.bytes_per_file:
            self.roll()

    def roll(self) -> None:
        """Commit the open streamed file, if any."""
        if self._writer is not None:
            self._writer.close()
            self._writer = None
            self._commit()

    def write_file(self, table: pa.Table, write) -> tuple[str, int]:
        """Write ``table`` as one whole part file -> (path, file size)."""
        path = self.path()
        write(table, self._open())
        self._file_bytes = table.nbytes
        self.rows += table.num_rows
        self._commit()
        return path, self.store.size(path)

    def close(self) -> None:
        self.roll()
        if self.recycle:
            for p in glob.glob(f"{self.dir}/part-{self.part:05d}-*{self.ext}"):
                try:
                    seq = int(p[: -len(self.ext)].rsplit("-", 1)[1])
                except ValueError:
                    continue
                if seq >= self.seq:
                    os.unlink(p)


def _blob_views(data: pa.Array) -> list[memoryview]:
    """Each blob of a ``binary``/``large_binary`` array as a memoryview
    into the array's data buffer — no per-blob copy; the views pin the
    buffer alive."""
    bufs = data.buffers()
    width = 8 if pa.types.is_large_binary(data.type) else 4
    offs = np.frombuffer(
        bufs[1], dtype=np.int64 if width == 8 else np.int32,
        count=len(data) + 1, offset=data.offset * width,
    ).tolist()
    # pa.Buffer's memoryview is SIGNED ('b'): single-byte indexing
    # (blob[i]) then yields negative ints for bytes >= 0x80 — the FSST
    # table deserializer read a 221-symbol count as -35 and silently
    # decoded every string to b"" (caught at sf0.1, the first fixture
    # whose doc_id stripes are big enough for the selector to pick
    # str_fsst). Cast once to unsigned so every downstream parser sees
    # bytes-like semantics.
    mv = memoryview(bufs[2]).cast("B")
    return [mv[offs[i] : offs[i + 1]] for i in range(len(data))]


def iter_decoded_stripes(
    batches: Iterable[pa.RecordBatch],
    schema: pa.Schema,
    names: list[str],
    prune: dict | None = None,
) -> Iterator[pa.RecordBatch]:
    """Blob rows -> decoded stripes of the ``names`` projection.

    Reads ``stripe_id``/``column``/``data`` (and ``vmin``/``vmax`` when
    pruning) by name, holds blobs as memoryviews into the batch buffers,
    and decodes a stripe as soon as all its projected columns have
    arrived, so memory stays O(stripe). ``prune``: {column: (lo, hi)},
    either end may be None (open): a stripe whose stats miss any bound
    is dropped, and surviving stripes decode only the sub-blocks that
    can match (prune_row_ranges). A stripe still incomplete at the end
    of input raises ValueError: its blob rows were split across inputs."""
    expected = set(names)
    bounds = {
        col: (_INT64_MIN if lo is None else lo, _INT64_MAX if hi is None else hi)
        for col, (lo, hi) in (prune or {}).items()
    }
    pending: dict[int, dict[str, memoryview]] = {}
    skipped: set[int] = set()
    for batch in batches:
        sids = batch.column("stripe_id").to_pylist()
        cols = batch.column("column").to_pylist()
        blobs = _blob_views(batch.column("data"))
        if bounds:
            vmins = batch.column("vmin").to_pylist()
            vmaxs = batch.column("vmax").to_pylist()
        for i, (sid, col) in enumerate(zip(sids, cols)):
            if sid in skipped or col not in expected:
                continue
            if col in bounds and vmins[i] is not None:
                lo, hi = bounds[col]
                if vmaxs[i] < lo or vmins[i] > hi:
                    # provably empty: drop the stripe, including columns
                    # of it buffered earlier
                    skipped.add(sid)
                    pending.pop(sid, None)
                    continue
            got = pending.setdefault(sid, {})
            got[col] = blobs[i]
            if len(got) == len(expected):
                del pending[sid]
                ranges = _stripe.prune_row_ranges(got, bounds) if bounds else None
                if ranges != []:
                    # looked up per call, so a wrapped or patched
                    # decode_stripe (tracing, tests) is the one used
                    yield _stripe.decode_stripe(got, schema, columns=names, row_ranges=ranges)
    if pending:
        raise ValueError(
            f"stripes {sorted(pending)[:8]} ended the input with missing "
            f"columns: the blob table was repartitioned after encode (decode "
            f"it with decode_table(shuffle=True)) or is truncated"
        )
