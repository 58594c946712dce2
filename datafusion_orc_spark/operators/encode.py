"""M4 — the Spark encode/decode path.

Encode, two entry points:
- ``encode_files`` (the 100-TB path): one task per parquet row-group
  range; python workers scan with pyarrow directly and write blob part
  files from inside the task — row data never crosses the JVM, only
  stats rows return.
- ``encode_table``: ``df.mapInArrow(encode_fn, BLOB_SCHEMA)`` for
  arbitrary DataFrames — each task accumulates its partition's Arrow
  batches into *stripes* of ``stripe_rows`` rows (the analogue of the
  reference's scan batch unit, file_source.rs:31, and of ORC stripes,
  SURVEY.md §1.4/§1.5), encodes every column with the E9-selected codec,
  and emits one blob row per (stripe, column) plus stats.
Both are embarrassingly parallel: no shuffle in the hot path (mirrors
the reference's execution shape, SURVEY.md §4.2).

Decode: partition-local by default — encode emits each stripe's columns
contiguously from one task, so ``mapInArrow`` with a local group-by
rebuilds rows with ZERO Exchange (bit-identical round-trip — the
north-rule invariant); ``shuffle=True`` falls back to
``groupBy(stripe_id).applyInArrow`` for scattered blob tables.

Column pruning on decode = a ``WHERE column IN (...)`` filter on the
blob table before the group-decode — the Spark-side analogue of the
reference's projection pushdown (file_source.rs:95-102).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from datafusion_orc_spark.format.stripe import decode_stripe, encode_stripe
from datafusion_orc_spark.sources.objectstore import open_parquet, resolve_store
from datafusion_orc_spark.sources.parts import PartWriter, iter_decoded_stripes

BLOB_SCHEMA = StructType(
    [
        StructField("stripe_id", LongType(), False),
        StructField("part_id", IntegerType(), False),
        StructField("column", StringType(), False),
        StructField("codec", StringType(), False),
        StructField("n_rows", LongType(), False),
        StructField("n_nulls", LongType(), False),
        StructField("raw_bytes", LongType(), False),
        StructField("enc_bytes", LongType(), False),
        StructField("crc32", LongType(), False),
        StructField("vmin", LongType(), True),  # int-like columns: stripe min
        StructField("vmax", LongType(), True),  # stripe max (D19/ROW_INDEX analogue)
        StructField("data", BinaryType(), False),
    ]
)

_BLOB_PA_SCHEMA = pa.schema(
    [
        ("stripe_id", pa.int64()),
        ("part_id", pa.int32()),
        ("column", pa.string()),
        ("codec", pa.string()),
        ("n_rows", pa.int64()),
        ("n_nulls", pa.int64()),
        ("raw_bytes", pa.int64()),
        ("enc_bytes", pa.int64()),
        ("crc32", pa.int64()),
        ("vmin", pa.int64()),
        ("vmax", pa.int64()),
        ("data", pa.binary()),
    ]
)

DEFAULT_STRIPE_ROWS = 32768


def _ensure_workers_can_import(df: DataFrame) -> None:
    """Ship the package to executors (addPyFile) once per SparkContext.

    The mapInArrow/applyInArrow UDFs are pickled by reference to this
    module, so python workers must be able to import
    ``datafusion_orc_spark`` even when the driver's cwd/PYTHONPATH does
    not include the repo root (e.g. an external verify harness).
    """
    sc = df.sparkSession.sparkContext
    if getattr(sc, "_dos_pyfile_added", False):
        return
    import os
    import zipfile

    pkg_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    zip_path = os.path.join("/tmp", f"datafusion_orc_spark_{os.getpid()}.zip")
    if not os.path.exists(zip_path):
        with zipfile.ZipFile(zip_path, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for fn in files:
                    if fn.endswith(".py"):
                        full = os.path.join(root, fn)
                        rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                        zf.write(full, rel)
    sc.addPyFile(zip_path)
    sc._dos_pyfile_added = True


def _blob_batch(stripe_id: int, part_id: int, blobs: dict[str, bytes], stats: list[dict]) -> pa.RecordBatch:
    return pa.RecordBatch.from_pydict(
        {
            "stripe_id": [stripe_id] * len(stats),
            "part_id": [part_id] * len(stats),
            "column": [s["column"] for s in stats],
            "codec": [s["codec"] for s in stats],
            "n_rows": [s["n"] for s in stats],
            "n_nulls": [s["nulls"] for s in stats],
            "raw_bytes": [s["raw_bytes"] for s in stats],
            "enc_bytes": [s["enc_bytes"] for s in stats],
            "crc32": [s["crc32"] for s in stats],
            "vmin": [s.get("min") for s in stats],
            "vmax": [s.get("max") for s in stats],
            "data": [blobs[s["column"]] for s in stats],
        },
        schema=_BLOB_PA_SCHEMA,
    )


def _stripes(batches: Iterator[pa.RecordBatch], stripe_rows: int) -> Iterator[pa.RecordBatch]:
    """Re-slice Arrow batches into stripes of exactly ``stripe_rows``
    rows, the last one shorter: stripe contents depend only on the row
    sequence, never on how the input was batched."""
    buf: list[pa.RecordBatch] = []
    buffered = 0
    for batch in batches:
        if batch.num_rows == 0:
            continue
        buf.append(batch)
        buffered += batch.num_rows
        if buffered >= stripe_rows:
            table = pa.Table.from_batches(buf).combine_chunks()
            pos = 0
            while table.num_rows - pos >= stripe_rows:
                yield table.slice(pos, stripe_rows).to_batches()[0]
                pos += stripe_rows
            tail = table.slice(pos)
            buf = [b for b in tail.to_batches() if b.num_rows] if tail.num_rows else []
            buffered = tail.num_rows
    if buffered:
        yield pa.Table.from_batches(buf).combine_chunks().to_batches()[0]


def _encode_stream(
    batches: Iterator[pa.RecordBatch],
    stripe_rows: int,
    part_id: int,
    job_token: int,
    seq_start: int = 0,
    seq_end: int | None = None,
) -> Iterator[pa.RecordBatch]:
    """Shared per-task encode loop: accumulate Arrow batches into stripes
    of ``stripe_rows`` rows, encode each column with the E9-selected
    codec, emit one blob row per (stripe, column).

    ``seq_end``: exclusive upper bound on ``seq`` (the files path gives
    each split a 65536-stripe window — overflowing into the next split's
    window would silently collide stripe_ids, so it raises instead)."""
    seq = seq_start
    for stripe in _stripes(batches, stripe_rows):
        blobs, stats = encode_stripe(stripe, namespace=f"{job_token:04x}")
        # layout: token(16) << 47 | part(16) << 31 | seq(31) = 63
        # bits, always positive in int64. seq at 31 bits carries
        # 2^15 split windows x 2^16 stripes per task (the r7 sf3
        # probe overflowed the old 24-bit seq at 256 splits/task —
        # a 2.5B-token input at parallelism 2)
        if part_id >= (1 << 16) or seq >= (1 << 31):
            raise ValueError(
                f"stripe_id packing overflow: part_id={part_id} (max 65535), "
                f"seq={seq} (max {(1 << 31) - 1}) — widen the packing before "
                f"running with >65536 partitions"
            )
        if seq_end is not None and seq >= seq_end:
            raise ValueError(
                f"stripe_id packing overflow: seq={seq} reached this split's "
                f"window end {seq_end} (65536 stripes/split) — raise "
                f"stripe_rows or lower row_groups_per_split"
            )
        stripe_id = (job_token << 47) | (part_id << 31) | seq
        seq += 1
        yield _blob_batch(stripe_id, part_id, blobs, stats)


def encode_table(df: DataFrame, stripe_rows: int = DEFAULT_STRIPE_ROWS, job_token: int | None = None) -> DataFrame:
    """DataFrame -> blob table (one row per stripe × column).

    ``job_token`` (16 bit) disambiguates stripe_ids across independent
    encode invocations whose outputs may later be unioned (e.g. the
    chunked resumable job): stripe_id = token<<47 | partition<<31 | seq
    (31-bit seq — widened in r7 from the r6 token<<40|part<<24|seq
    layout; blob tables persisted under the old packing must not be
    unioned with new output under one job_token, ids could collide
    across the upgrade boundary).
    """
    import uuid as _uuid

    _ensure_workers_can_import(df)
    if job_token is None:
        job_token = _uuid.uuid4().int & 0xFFFF
    job_token &= 0xFFFF

    def encode_fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        yield from _encode_stream(batches, stripe_rows, TaskContext.get().partitionId(), job_token)

    return df.mapInArrow(encode_fn, BLOB_SCHEMA)


def encode_files(
    spark,
    path_or_glob: str,
    stripe_rows: int = DEFAULT_STRIPE_ROWS,
    job_token: int | None = None,
    columns: list[str] | None = None,
    output_dir: str | None = None,
    row_groups_per_split: int = 1,
    parallelism: int | None = None,
    discard_output: bool = False,
    recycle_output: bool = False,
    bytes_per_file: int = 256 * 1024 * 1024,
) -> DataFrame:
    """Parquet files -> blob table WITHOUT moving row data through the JVM.

    The 100-TB encode path: the driver plans one task per parquet
    row-group range (metadata-only reads); each python worker scans its
    row groups directly with pyarrow (C++ reader, zero-copy into the
    numpy kernels) and — when ``output_dir`` is given — writes its blob
    rows as parquet part files from inside the task (byte-rolled at
    ``bytes_per_file``, so tasks emit few large files rather than one
    per row-group split), emitting only the tiny stats rows. Compare encode_table, which encodes an arbitrary
    DataFrame but pays JVM->Python Arrow IPC for every row; here the
    token arrays never cross a process boundary uncompressed. This
    mirrors the reference's architecture (scan + decode live in one
    native process, physical_exec.rs:57-91) while keeping Spark as the
    scheduler/scale-out layer.

    ``discard_output=True`` is the dry-run/benchmark mode: blobs are
    encoded in-task and dropped (stats rows only, nothing written) —
    the pure scan+encode compute probe that isolates engine scaling
    from the output path's page-cache behavior.

    ``recycle_output=True`` (local filesystems only): overwrite existing
    part files IN PLACE instead of write-tmp-then-rename. Part names are
    deterministic per (partition, split), so an idempotent re-run of the
    same job — a checkpoint resume, a retried chunk, a benchmark loop —
    rewrites the same paths; overwriting keeps the output's page-cache
    pages warm rather than allocating fresh ones (on memory-ballooned
    hosts, first-touch page allocation can be ~50x slower than an
    in-place store — measured 31 s vs 0.3 s per GiB on the dev box).
    Stale files from a previous run at higher parallelism are removed
    (driver-side for orphaned partition ids, task-side for orphaned
    split indices), so the directory's final contents are identical to
    a fresh write. Trade-off: a reader scanning the directory MID-WRITE
    can observe a half-written file (the rename path never exposes one);
    use the default for live-published tables, recycle for owned
    re-run/benchmark output directories.
    """
    import uuid as _uuid

    if job_token is None:
        job_token = _uuid.uuid4().int & 0xFFFF
    job_token &= 0xFFFF

    splits: list[tuple[str, int, int]] = []
    for p in _list_inputs(path_or_glob):
        n_rg = open_parquet(p).metadata.num_row_groups
        for start in range(0, n_rg, row_groups_per_split):
            splits.append((p, start, min(row_groups_per_split, n_rg - start)))

    # parallelism: concurrent-task cap — one split per task by default;
    # fewer partitions = tasks process several splits sequentially (used
    # by the bench's N-vs-4N ladder to vary parallelism inside ONE warm
    # session instead of restarting JVMs). parallelize(n) slices the
    # split list directly into n partitions — a createDataFrame +
    # repartition() here planned an Exchange, i.e. a whole extra stage
    # barrier + AQE replan per encode job, pure scheduler tax on a job
    # whose row data never touches the JVM
    n_parts = min(parallelism if parallelism else len(splits), len(splits))
    sdf = spark.createDataFrame(
        spark.sparkContext.parallelize(_strided(splits, n_parts), n_parts),
        "path string, rg_start int, n_rg int",
    )
    _ensure_workers_can_import(sdf)
    if recycle_output and output_dir is not None:
        # in-place overwrite has no tmp+rename fence, so two CONCURRENT
        # attempts of one task (speculative execution) could interleave
        # writes into the same path — refuse up front (ADVICE r6).
        # Plain retries are safe: the task-side writer falls back to
        # attempt-suffixed tmp+rename when attemptNumber() > 0.
        spec = spark.sparkContext.getConf().get("spark.speculation", "false")
        if (spec or "false").lower() == "true":
            raise ValueError(
                "recycle_output=True is incompatible with speculative "
                "execution (spark.speculation=true): two live attempts "
                "would overwrite the same part file in place"
            )
        # driver-side stale cleanup: a previous run at HIGHER parallelism
        # left part files for partition ids no task of this run owns —
        # remove them now so the recycled directory's final contents
        # match a fresh write (tasks clean their own split indices)
        import glob as _glob
        import os as _os

        from datafusion_orc_spark.sources.objectstore import LocalStore as _LS

        o_store, o_path = resolve_store(output_dir)
        if isinstance(o_store, _LS):
            for p in _glob.glob(f"{o_path}/part-*.parquet") + _glob.glob(
                f"{o_path}/.part-*.tmp"
            ):
                base = _os.path.basename(p).lstrip(".")
                try:
                    pid = int(base.split("-")[1])
                except (IndexError, ValueError):
                    continue
                if pid >= n_parts or p.endswith(".tmp"):
                    _os.unlink(p)
    stats_schema = StructType([f for f in BLOB_SCHEMA.fields if f.name != "data"])
    keep_blobs = output_dir is None and not discard_output

    def enc(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow as _pa

        from pyspark import TaskContext

        # one worker = one core: N workers each spawning pyarrow's
        # default cpu_count-sized thread pool oversubscribes the box N×
        # (32 workers × 32 threads = 1024 runnable threads)
        _pa.set_cpu_count(1)
        _pa.set_io_thread_count(2)

        tc = TaskContext.get()
        part_id = tc.partitionId()
        # byte-rolled output: blob batches stream into one open part
        # file across splits (a row group per append) and the file rolls
        # once ``bytes_per_file`` is reached, so a task emits few LARGE
        # part files instead of one file per row-group split — at sf1
        # that is 32 ~150 MB files instead of 640 ~7 MB ones. Object
        # stores and shuffle-free decode scans both want big files;
        # roll points are deterministic (split order and encoded sizes
        # are), so recycle re-runs still overwrite the exact same names
        # in place. Stores spread across the task's whole lifetime
        # instead of bursting the full buffered file at task end (8
        # balanced tasks used to finish together and issue a
        # synchronized multi-GB store storm; writeback-sensitive walls
        # paid it), and the task never holds more than one blob batch
        # in write-side memory. Blob bytes are already entropy-packed:
        # snappy on top wastes CPU for ~0% gain.
        writer = None
        if output_dir is not None:
            writer = PartWriter(
                output_dir, part_id, tc.attemptNumber(),
                bytes_per_file=bytes_per_file, recycle=recycle_output,
                schema=_BLOB_PA_SCHEMA, compression="none",
            )
        k = 0
        for b in batches:
            for path, rg_start, n_rg in zip(
                b.column(0).to_pylist(), b.column(1).to_pylist(), b.column(2).to_pylist()
            ):
                src = open_parquet(path).iter_batches(
                    batch_size=stripe_rows,
                    row_groups=list(range(rg_start, rg_start + n_rg)),
                    columns=columns,
                    use_threads=False,
                )
                # distinct seq range per split within this task (k < 32768
                # with the 31-bit seq, 65536 stripes per split) so
                # stripe_ids never collide
                blob_batches = _encode_stream(
                    src, stripe_rows, part_id, job_token,
                    seq_start=k << 16, seq_end=(k + 1) << 16,
                )
                k += 1
                for bb in blob_batches:
                    if keep_blobs:
                        yield bb
                        continue
                    if not discard_output:  # discard: encode fully, keep stats only
                        writer.write(bb)
                    yield from pa.Table.from_batches(
                        [bb], schema=_BLOB_PA_SCHEMA
                    ).drop_columns("data").to_batches()
        if writer is not None:
            writer.close()

    return sdf.mapInArrow(enc, BLOB_SCHEMA if keep_blobs else stats_schema)


def _list_inputs(path_or_glob) -> list[str]:
    """Input parquet paths: a list as given (sorted), a glob, a directory
    of ``*.parquet``, or one file. Listing goes through the object-store
    seam: local paths glob, s3://-style URIs list/glob through fsspec or
    pyarrow.fs (ref object_store_reader.rs:39-59 — one IO trait serves
    listing, metadata, and data reads alike)."""
    if isinstance(path_or_glob, (list, tuple)):
        paths = sorted(path_or_glob)
    else:
        in_store, norm = resolve_store(path_or_glob)
        if any(c in norm for c in "*?["):
            paths = in_store.glob(norm)
        elif in_store.isdir(norm):
            paths = in_store.list(norm, suffix=".parquet")
        else:
            paths = [norm]
    if not paths:
        raise FileNotFoundError(path_or_glob)
    return paths


def _strided(splits: list, n_parts: int) -> list:
    """Strided reorder for ``parallelize(splits, n_parts)``: with fewer
    partitions than splits, each contiguous slice gets a round-robin
    sample of files (balances skewed file sizes the way repartition's
    round-robin did, without the shuffle)."""
    if n_parts >= len(splits):
        return splits
    return [splits[i] for k in range(n_parts) for i in range(k, len(splits), n_parts)]


def _apportion(sizes: list[int], caps: list[int], budget: int) -> list[int]:
    """Largest-remainder apportionment of ``budget`` splits over row
    groups of ``sizes`` rows: group i gets 1..caps[i] splits and the
    counts sum to exactly ``budget`` (needs len(sizes) <= budget <=
    sum(caps)). Flooring each quota up to 1 can overshoot; the excess is
    taken back from the groups with the smallest remainders that hold
    more than one split (else one partition runs two splits)."""
    total = max(1, sum(sizes))
    quota = [min(cap, budget * n / total) for n, cap in zip(sizes, caps)]
    counts = [max(1, int(q)) for q in quota]
    rem = [q - int(q) for q in quota]
    left = budget - sum(counts)
    while left > 0:
        for i in sorted(range(len(counts)), key=lambda i: rem[i], reverse=True):
            if left and counts[i] < caps[i]:
                counts[i] += 1
                left -= 1
    while left < 0:
        for i in sorted(range(len(counts)), key=lambda i: rem[i]):
            if left and counts[i] > 1:
                counts[i] -= 1
                left += 1
    return counts


def _row_range_splits(
    rg_sizes: list[tuple[str, int, int]], stripe_rows: int, target: int
) -> list[tuple[str, int, int, int]]:
    """(path, rg, n_rows) row groups -> (path, rg, row_start, row_end)
    splits: one per row group, unless there are fewer row groups than
    ``target``; then row groups are subdivided into stripe-aligned row
    ranges, exactly min(target, total stripes) of them.

    Two balance rules (measured on the 6-row-group sf1.0 shape, where
    the old round()-per-row-group planner made 36 splits for target 32 —
    so 4 of the 32 static partitions carried TWO splits and the stage
    wall was 2x a median task):
     1. apportion split counts by largest remainder (_apportion) so the
        total is exactly the budget — one split per task, no
        double-loaded partition;
     2. ranges are whole stripes, apportioned uniformly by largest
        remainder (sizes differ by <=1 stripe), remainder stripes
        assigned to the EARLIEST ranges: a range [s, e) also pays a
        leading decode ~ e (iter_batches decodes from row 0 up to e),
        but a per-task least-squares fit on the 6-row-group sf1.0 shape
        measured that lead at ~0.12 us/row vs ~3 us/row of
        encode/decode work (4%) — smaller than one stripe's worth of
        work at bench chunk sizes, so a cost-tapered boundary model
        snapped to stripe quanta just produced 1-vs-2-stripe jitter
        (measured 2x task spread at sf0.1); front-loading the remainder
        stripes counteracts the 4% without breaking the quantum."""
    if len(rg_sizes) >= target:
        return [(p, rg, 0, n) for p, rg, n in rg_sizes]
    n_stripes = [max(1, (n + stripe_rows - 1) // stripe_rows) for _, _, n in rg_sizes]
    budget = min(target, sum(n_stripes))
    counts = _apportion([n for _, _, n in rg_sizes], n_stripes, budget)
    splits: list[tuple[str, int, int, int]] = []
    for (p, rg, n), n_str, k in zip(rg_sizes, n_stripes, counts):
        per = [n_str // k + (i < n_str % k) for i in range(k)]
        pos = 0
        for c in per:
            s, e = pos * stripe_rows, min(n, (pos + c) * stripe_rows)
            if e > s:
                splits.append((p, rg, s, e))
            pos += c
    return splits


def roundtrip_files(
    spark,
    path_or_glob,
    spark_schema,
    columns: list[str] | None = None,
    stripe_rows: int = DEFAULT_STRIPE_ROWS,
    job_token: int | None = None,
    parallelism: int | None = None,
    batch_transform=None,
    transform_schema=None,
    transform_flush_rows: int = 1 << 20,
) -> DataFrame:
    """Parquet files -> encode EVERY column -> decode ``columns`` -> rows,
    fused inside each task (the encode_files architecture applied to the
    encode→decode round-trip queries, guide §4.1/§8).

    The unfused shape (``encode_table`` + ``decode_table``) moves every
    row across the JVM↔Python Arrow boundary three times: raw rows into
    the encode worker, blob rows back to the JVM, blob rows into the
    decode worker. Here the python worker scans its parquet row-group
    slice directly (pyarrow C++), encodes all columns stripe by stripe
    with the same ``encode_stripe`` kernels, immediately decodes the
    projected columns with ``decode_stripe``, and only the DECODED
    projection (or, with ``batch_transform``, a per-task reduction of
    it) ever crosses into the JVM. The codec work is identical to the
    unfused path — every column is encoded, the projection is decoded —
    so a value-identity oracle over the output checks the same kernels.

    Split planning is scale-adaptive: one split per parquet row group
    (metadata-only reads, like ``encode_files``); when — and only when —
    the input has fewer row groups than the parallelism target (the
    single-row-group bench fixtures), row groups are subdivided into
    stripe-aligned ROW RANGES and each task streams its row group with
    ``iter_batches``, skipping rows outside its range (decode of the
    leading pages is repeated across tasks; at production row-group
    counts the condition is false and no subdivision — hence no repeated
    read — happens, the same environment-derived-floor rule as
    ``_t_parallel``).

    ``batch_transform``: optional ``pa.Table -> pa.Table`` applied to
    the decoded projection in chunks of ``transform_flush_rows`` rows
    (one application per task at bench split sizes; bounded memory at
    100-TB split counts), with ``transform_schema`` as the output
    StructType — the §2.3 "aggregate before you shuffle" hook: its
    output rows must be PARTIALS the caller's downstream aggregate
    re-combines, which also makes per-chunk application equivalent to
    per-task application. The caller owns proving its reduction is
    equivalent to the unfused aggregate.
    """
    import uuid as _uuid

    if job_token is None:
        job_token = _uuid.uuid4().int & 0xFFFF
    job_token &= 0xFFFF
    if (batch_transform is None) != (transform_schema is None):
        raise ValueError("batch_transform and transform_schema must be passed together")

    target = parallelism or spark.sparkContext.defaultParallelism
    rg_sizes: list[tuple[str, int, int]] = []  # (path, rg, n_rows)
    for p in _list_inputs(path_or_glob):
        md = open_parquet(p).metadata
        for rg in range(md.num_row_groups):
            n = md.row_group(rg).num_rows
            if n:
                rg_sizes.append((p, rg, n))
    splits = _row_range_splits(rg_sizes, stripe_rows, target)
    n_parts = min(len(splits), target)
    splits = _strided(splits, n_parts)
    sdf = spark.createDataFrame(
        spark.sparkContext.parallelize(splits, n_parts),
        "path string, rg int, row_start long, row_end long",
    )
    _ensure_workers_can_import(sdf)

    if columns is not None:
        unknown = set(columns) - {f.name for f in spark_schema.fields}
        if unknown:
            raise ValueError(f"roundtrip: unknown columns {sorted(unknown)}")
        names = [f.name for f in spark_schema.fields if f.name in set(columns)]
    else:
        names = [f.name for f in spark_schema.fields]
    out_schema = (
        transform_schema
        if batch_transform is not None
        else StructType([f for f in spark_schema.fields if f.name in set(names)])
    )
    ns = f"{job_token:04x}"
    do_transform = batch_transform

    def rt(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow as _pa

        _pa.set_cpu_count(1)
        _pa.set_io_thread_count(2)

        def ranged(pf, rg: int, r0: int, r1: int):
            """In-range slices of one row group, streamed; stops decoding
            at the last needed page (rows past r1 are never decoded)."""
            off = 0
            # batch_size is a read granularity only — _stripes re-slices
            # to exact stripe_rows boundaries, so stripe contents are
            # identical for any batch_size (bigger reads decode ~20%
            # faster on this box)
            bs = max(stripe_rows, 65536)
            for b in pf.iter_batches(batch_size=bs, row_groups=[rg], use_threads=False):
                n = b.num_rows
                lo, hi = max(r0, off), min(r1, off + n)
                if hi > lo:
                    yield b.slice(lo - off, hi - lo)
                off += n
                if off >= r1:
                    return

        # bounded partial-agg buffer: the transform's output rows are
        # PARTIALS the downstream Spark aggregate re-combines, so it is
        # applied per ~1M decoded rows and re-yielded — a task never
        # holds more than the chunk of its decoded projection in memory
        # no matter how many splits it owns (the 100-TB case), and at
        # bench split sizes (<1M rows/task) this is one flush per task,
        # identical to a single per-task application. Chunk boundaries
        # are deterministic (split order is), so partials — and the
        # combined result — are reproducible.
        decoded: list[pa.RecordBatch] = []
        decoded_rows = 0
        flush_rows = transform_flush_rows

        def flush_transform():
            nonlocal decoded, decoded_rows
            out = do_transform(pa.Table.from_batches(decoded))
            decoded = []
            decoded_rows = 0
            yield from out.to_batches()

        for b in batches:
            for path, rg, r0, r1 in zip(
                b.column(0).to_pylist(),
                b.column(1).to_pylist(),
                b.column(2).to_pylist(),
                b.column(3).to_pylist(),
            ):
                for stripe in _stripes(ranged(open_parquet(path), rg, r0, r1), stripe_rows):
                    blobs, _stats = encode_stripe(stripe, namespace=ns)
                    dec = decode_stripe(blobs, stripe.schema, columns=names)
                    if do_transform is None:
                        yield dec
                    else:
                        decoded.append(dec)
                        decoded_rows += dec.num_rows
                        if decoded_rows >= flush_rows:
                            yield from flush_transform()
        if do_transform is not None and decoded:
            yield from flush_transform()

    return sdf.mapInArrow(rt, out_schema)


_IDENT = r"[A-Za-z_][\w.]*"
_CMP = r">=|<=|==|=|<|>"
_FLIP = {"<": ">", ">": "<", "<=": ">=", ">=": "<="}
_PRED_RE = re.compile(
    rf"^\s*(?:(?P<col>{_IDENT})\s*(?P<op>{_CMP})\s*(?P<val>-?\d+)"
    rf"|(?P<val2>-?\d+)\s*(?P<op2>{_CMP})\s*(?P<col2>{_IDENT}))\s*$"
)
# quoted spans: string literals (doubled-quote and backslash escapes) and
# backticked identifiers, masked before any keyword or comparison is read
_QUOTED_RE = re.compile(r"'(?:[^'\\]|\\.|'')*'|\"(?:[^\"\\]|\\.|\"\")*\"|`(?:[^`]|``)*`", re.S)
# a BETWEEN's own AND, marked so the conjunct split leaves the band whole
_BETWEEN_AND_RE = re.compile(r"(\bbetween\s+[-+]?[\w.']+\s+)and\b", re.IGNORECASE)
_BAND = "\x00"
_BETWEEN_RE = re.compile(
    rf"^\s*(?P<col>{_IDENT})\s+between\s+(?P<lo>[-+]?\d+)\s+{_BAND}\s+(?P<hi>[-+]?\d+)\s*$",
    re.IGNORECASE,
)


def prune_bounds_from_predicate(where: str) -> dict[str, tuple[int, int]]:
    """Derive {column: (lo, hi)} stripe-prune bounds from the AND-ed
    simple integer comparisons in a SQL predicate string.

    Only conjuncts of the form ``col <op> <int>`` / ``<int> <op> col``
    (op in <, <=, >, >=, =) and ``col BETWEEN <int> AND <int>`` (read as
    ``col >= a AND col <= b``, so ``BETWEEN 9 AND 3`` is an empty range)
    contribute; everything else is ignored — pruning is best-effort, the
    caller re-applies the full predicate on the decoded rows
    (decode_table(where=...) does both automatically). Quoted literals
    are masked first: words and comparisons inside a string never count.
    ``NOT BETWEEN`` and a ``NOT``-prefixed conjunct derive nothing. OR
    anywhere, or NOT over a parenthesized group, disables pruning
    entirely (a disjunct can rescue rows a conjunct-derived bound would
    drop)."""
    masked = _QUOTED_RE.sub("''", where)
    if re.search(r"\bor\b|(?:\bnot|!)\s*\(", masked, flags=re.IGNORECASE):
        return {}
    masked, n_bands = _BETWEEN_AND_RE.subn(rf"\g<1>{_BAND}", masked)
    if len(re.findall(r"\bbetween\b", masked, flags=re.IGNORECASE)) != n_bands:
        return {}  # a band bounded by an expression: its AND cannot be told apart
    out: dict[str, list] = {}
    _LO, _HI = -(1 << 62), (1 << 62)

    def narrow(col: str, op: str, val: int) -> None:
        lo, hi = out.get(col, [_LO, _HI])
        if op in ("=", "=="):
            lo, hi = max(lo, val), min(hi, val)
        elif op == ">":
            lo = max(lo, val + 1)
        elif op == ">=":
            lo = max(lo, val)
        elif op == "<":
            hi = min(hi, val - 1)
        elif op == "<=":
            hi = min(hi, val)
        out[col] = [lo, hi]

    for conj in re.split(r"\band\b", masked, flags=re.IGNORECASE):
        conj = conj.strip().strip("()")
        b = _BETWEEN_RE.match(conj)
        if b:
            narrow(b.group("col"), ">=", int(b.group("lo")))
            narrow(b.group("col"), "<=", int(b.group("hi")))
            continue
        m = _PRED_RE.match(conj)
        if not m:
            continue
        if m.group("col"):
            narrow(m.group("col"), m.group("op"), int(m.group("val")))
        else:
            # mirrored literal-first form: flip the operator
            op = _FLIP.get(m.group("op2"), m.group("op2"))
            narrow(m.group("col2"), op, int(m.group("val2")))
    return {c: (lo, hi) for c, (lo, hi) in out.items()}


def decode_table(
    blobs_df: DataFrame,
    schema: pa.Schema | None,
    spark_schema,
    columns: list[str] | None = None,
    prune: dict[str, tuple[int, int]] | None = None,
    shuffle: bool = False,
    where: str | None = None,
) -> DataFrame:
    """Blob table -> original rows (projection via ``columns``).

    ``spark_schema``: the Spark StructType of the original table (used
    as the output schema); ``schema``: matching Arrow schema (derived
    from spark_schema if None).

    ``prune``: {column: (lo, hi)} — stripe pruning on the per-stripe
    min/max stats (the engine-side analogue of ORC ROW_INDEX seek /
    the reference's stubbed stats interface, SURVEY.md S7/D19): stripes
    whose [vmin, vmax] cannot intersect [lo, hi] are never decoded.
    Rows outside the range within surviving stripes still come back —
    apply the residual filter on the decoded frame.

    ``where``: SQL predicate string — the self-driving version of
    ``prune``: integer comparison conjuncts are auto-derived into stripe
    bounds (prune_bounds_from_predicate) AND the full predicate is
    applied to the decoded rows, so the result is exactly filtered with
    no manual hint (the DataSource pushFilters analogue).

    ``shuffle=False`` (default, the 100-TB path): decode inside the scan
    partitions with ``mapInArrow`` — encode emits every column of a
    stripe contiguously from one task, so a stripe's blob rows are
    co-partitioned and the decode needs NO Exchange (the
    StripeBlobReader pattern; at scale a groupBy here would reshuffle
    every encoded byte on every read). ``shuffle=True`` falls back to
    ``groupBy(stripe_id).applyInArrow`` for blob tables whose stripes
    were scattered across partitions by an arbitrary repartition.
    """
    _ensure_workers_can_import(blobs_df)
    schema, names = _projection(schema, spark_schema, columns)
    if where is not None:
        # auto-wire stripe pruning from the predicate's simple integer
        # comparisons (the DataSource's pushFilters analogue for the
        # functional decode path); the FULL predicate is re-applied on
        # the decoded rows below, so pruning is purely an optimization
        auto = prune_bounds_from_predicate(where)
        prune = {**auto, **(prune or {})}
    blobs_df = _pruned_blobs(blobs_df, prune, columns)
    if columns is not None:
        spark_schema = StructType([f for f in spark_schema.fields if f.name in columns])

    if shuffle:
        proj = pa.schema([schema.field(nm) for nm in names])

        def decode_fn(table: pa.Table) -> pa.Table:
            # one group = one stripe's blob rows
            batches = list(iter_decoded_stripes(table.to_batches(), schema, names, prune))
            return pa.Table.from_batches(batches, schema=proj)

        out = blobs_df.groupBy("stripe_id").applyInArrow(decode_fn, spark_schema)
    else:

        def decode_local(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            # partition-local group-by: a stripe decodes as soon as all
            # its projected columns have arrived
            yield from iter_decoded_stripes(batches, schema, names, prune)

        out = blobs_df.mapInArrow(decode_local, spark_schema)
    return out.filter(where) if where is not None else out


def _projection(schema: pa.Schema | None, spark_schema, columns: list[str] | None) -> tuple[pa.Schema, list[str]]:
    """-> (Arrow schema, derived from ``spark_schema`` if None; projected
    names). The projection is normalized to SCHEMA order: the output
    StructType preserves schema order, so the decoded Arrow batches must
    too (a caller-order projection decoded fine but mis-bound column
    vectors JVM-side)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    if schema is None:
        schema = to_arrow_schema(spark_schema)
    if columns is None:
        return schema, list(schema.names)
    unknown = set(columns) - set(schema.names)
    if unknown:
        raise ValueError(f"decode: unknown columns {sorted(unknown)}")
    return schema, [nm for nm in schema.names if nm in set(columns)]


def _pruned_blobs(blobs_df: DataFrame, prune: dict | None, columns: list[str] | None) -> DataFrame:
    """The blob rows a decode needs: stripes whose [vmin, vmax] can meet
    every ``prune`` bound (a broadcast stripe-id join, so the data bytes
    of pruned stripes never cross into Python), projected columns only."""
    if prune:
        keep = None
        for col, (lo, hi) in prune.items():
            cond = (
                (F.col("column") == col)
                & (F.col("vmax") >= F.lit(int(lo)))
                & (F.col("vmin") <= F.lit(int(hi)))
            )
            ids = blobs_df.filter(cond).select("stripe_id")
            keep = ids if keep is None else keep.join(ids, "stripe_id")
        blobs_df = blobs_df.join(F.broadcast(keep.distinct()), "stripe_id")
    if columns is not None:
        blobs_df = blobs_df.filter(F.col("column").isin(columns))
    return blobs_df


# NOTE (r7 advice): ``bytes_written`` reports the UNCOMPRESSED in-memory
# Arrow bytes streamed through the writer (a stable, codec-independent
# volume measure), NOT the post-compression on-disk file size — size the
# output directory for disk accounting.
DECODE_STATS_SCHEMA = StructType(
    [
        StructField("part_id", IntegerType(), False),
        StructField("n_files", IntegerType(), False),
        StructField("rows", LongType(), False),
        StructField("bytes_written", LongType(), False),
    ]
)


def decode_to_files(
    blobs_df: DataFrame,
    spark_schema,
    output_dir: str,
    columns: list[str] | None = None,
    prune: dict[str, tuple[int, int]] | None = None,
    bytes_per_file: int = 256 * 1024 * 1024,
    compression: str = "snappy",
    schema: pa.Schema | None = None,
    use_dictionary: bool | list = False,
    write_statistics: bool | list = False,
) -> DataFrame:
    """Partition-local decode that writes the decoded rows to parquet
    part files from INSIDE the task — the encode_files write path
    applied to the decode direction. Decoded rows never cross into the
    JVM (no Arrow transfer, no per-batch Spark write job, no commit
    protocol): each task streams its stripes through ONE open
    ParquetWriter (a row group per decoded stripe, byte-rolled at
    ``bytes_per_file``) and returns a single stats row. This is the
    streaming sink's fast path (start_incremental_decode sink="files"),
    where the foreachBatch ``rows.write.parquet`` job was measured at
    >50% of the micro-batch wall (BENCH r6 sink-mode sweep).
    Files stage through attempt-suffixed tmp names and rename on close,
    so retries/speculation never interleave and readers see only
    complete files.

    ``use_dictionary``/``write_statistics`` default OFF: parquet
    dictionary encoding + page statistics on a high-entropy
    ``array<int32>`` token column cost ~2x the whole write (measured
    620 -> 320 ms per 16k-row group) for stats no reader of a decoded
    materialization uses; pass column-name lists to re-enable them
    selectively (e.g. ``use_dictionary=["source"]``) when the output is
    a long-lived table rather than a downstream-compute handoff —
    dictionary does halve the token bytes on disk.

    ``prune`` bounds are INTEGER-column-only here (bounds are cast with
    int(); string-keyed pruning is supported by read_orc_distributed,
    not by this sink — r7 advice)."""
    _ensure_workers_can_import(blobs_df)
    schema, names = _projection(schema, spark_schema, columns)
    blobs_df = _pruned_blobs(blobs_df, prune, columns)
    proj = pa.schema([schema.field(nm) for nm in names])

    def dec_write(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow as _pa

        from pyspark import TaskContext

        _pa.set_cpu_count(1)  # no per-worker thread-pool oversubscription
        tc = TaskContext.get()
        writer = PartWriter(
            output_dir, tc.partitionId(), tc.attemptNumber(),
            bytes_per_file=bytes_per_file, schema=proj, compression=compression,
            use_dictionary=use_dictionary, write_statistics=write_statistics,
        )
        for batch in iter_decoded_stripes(batches, schema, names, prune):
            writer.write(batch)
        writer.close()
        yield pa.record_batch(
            [
                pa.array([writer.part], pa.int32()),
                pa.array([writer.files], pa.int32()),
                pa.array([writer.rows], pa.int64()),
                pa.array([writer.arrow_bytes], pa.int64()),
            ],
            names=["part_id", "n_files", "rows", "bytes_written"],
        )

    return blobs_df.mapInArrow(dec_write, DECODE_STATS_SCHEMA)


def verify_roundtrip(df: DataFrame, stripe_rows: int = DEFAULT_STRIPE_ROWS) -> tuple[bool, dict]:
    """Encode -> decode -> order-insensitive equality vs the input.

    Uses a content hash over every row (xxhash64 of all columns), summed
    — fully distributed, no driver-side collect of data rows.
    """
    blobs = encode_table(df, stripe_rows=stripe_rows).cache()
    decoded = decode_table(blobs, None, df.schema)

    def content_hash(frame: DataFrame):
        cols = [F.col(c).cast("string") for c in frame.columns]
        row_hash = F.xxhash64(*cols).cast("decimal(38,0)")  # decimal: no ANSI overflow
        return frame.agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(row_hash).alias("hash_sum"),
        ).collect()[0]

    a = content_hash(df)
    b = content_hash(decoded)
    sizes = blobs.agg(
        F.sum("raw_bytes").alias("raw"), F.sum("enc_bytes").alias("enc")
    ).collect()[0]
    blobs.unpersist()
    ok = a["rows"] == b["rows"] and a["hash_sum"] == b["hash_sum"]
    return ok, {
        "rows": a["rows"],
        "raw_bytes": sizes["raw"],
        "enc_bytes": sizes["enc"],
        "ratio": (sizes["raw"] or 1) / max(1, sizes["enc"] or 1),
    }
