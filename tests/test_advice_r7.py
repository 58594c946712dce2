"""Round-7 advice fixes: length-class-bucketed Murmur3 batches (no
padded-matrix blow-up from one long outlier value), loud failure for
bloom_filter_columns without a row-group index, and retry/speculation
fencing for encode_files' in-place part recycling."""

import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from datafusion_orc_spark.codecs.bloom import murmur3_hash64


def _offsets(values: list[bytes]) -> tuple[np.ndarray, np.ndarray]:
    data = np.frombuffer(b"".join(values), dtype=np.uint8)
    offs = np.zeros(len(values) + 1, dtype=np.int64)
    offs[1:] = np.cumsum([len(v) for v in values])
    return data, offs


def test_murmur3_outlier_batch_matches_per_value_and_stays_small():
    """One 8 MB value among 4095 short ones: the dense layout would pad
    every row to 8 MB (~32 GB). The bucketed path must produce the exact
    per-value hashes without that allocation (completion in sane time on
    a batch whose dense matrix would exceed RAM is the observable)."""
    rng = np.random.default_rng(11)
    values = [b"doc-%08d" % i for i in range(4095)]
    values.insert(1777, rng.integers(0, 256, size=8 << 20, dtype=np.uint8).tobytes())
    data, offs = _offsets(values)
    t0 = time.perf_counter()
    got = murmur3_hash64(data, offs)
    assert time.perf_counter() - t0 < 10.0
    sample = [0, 1, 1776, 1777, 1778, 4095]
    want = np.array([murmur3_hash64(values[i])[0] for i in sample], dtype=np.uint64)
    assert (got[sample] == want).all()


def test_murmur3_bucketed_matches_dense_across_length_classes():
    """Mixed lengths spanning several power-of-two block classes (plus
    empties and 8-aligned tails) hash identically whichever layout the
    dispatcher picks."""
    rng = np.random.default_rng(3)
    lens = [0, 1, 7, 8, 9, 15, 16, 17, 63, 64, 65, 255, 4096, 70000]
    values = [rng.integers(0, 256, size=n, dtype=np.uint8).tobytes() for n in lens]
    values *= 3
    data, offs = _offsets(values)
    got = murmur3_hash64(data, offs)
    want = np.array([murmur3_hash64(v)[0] for v in values], dtype=np.uint64)
    assert (got == want).all()


def test_write_orc_bloom_without_row_index_raises(tmp_path):
    """bloom_filter_columns + row_index_stride=0 used to validate the
    column types, then silently emit no bloom streams (the emission block
    is gated on the stride). Must fail loudly instead."""
    from datafusion_orc_spark.format.orc_writer import write_orc

    t = pa.table({"k": pa.array([1, 2, 3], pa.int64())})
    with pytest.raises(ValueError, match="row_index_stride"):
        write_orc(t, str(tmp_path / "x.orc"), row_index_stride=0,
                  bloom_filter_columns=["k"])
    # default stride still writes blooms fine
    write_orc(t, str(tmp_path / "ok.orc"), bloom_filter_columns=["k"])


def test_encode_files_recycle_rejects_speculation(spark, tmp_path):
    """recycle_output overwrites part files in place; two concurrent
    speculative attempts would interleave writes into one path. The
    driver must refuse before launching anything."""
    from datafusion_orc_spark.operators.encode import encode_files

    src = tmp_path / "in"
    src.mkdir()
    pq.write_table(
        pa.table({
            "doc_id": pa.array(["a", "b"]),
            "tokens": pa.array([[1, 2], [3]], pa.list_(pa.int32())),
            "n_tok": pa.array([2, 1], pa.int32()),
            "source": pa.array(["s", "s"]),
        }),
        str(src / "f.parquet"),
    )
    # spark.speculation is a static (launch-time) conf — inject it into
    # the context's conf object, which is what encode_files consults
    spark.sparkContext._conf.set("spark.speculation", "true")
    try:
        with pytest.raises(ValueError, match="speculat"):
            encode_files(spark, str(src), output_dir=str(tmp_path / "out"),
                         recycle_output=True)
    finally:
        spark.sparkContext._conf.set("spark.speculation", "false")


def test_encode_files_tmp_names_are_attempt_suffixed(spark, tmp_path):
    """Every task-side sink (encode_files, decode_to_files,
    write_orc_distributed) stages local files through attempt-suffixed
    tmp names (a zombie attempt and its retry never share a tmp path)
    and renames to the canonical part name: only ``part-*`` files
    remain, and they read back exactly."""
    import pyarrow.orc

    from datafusion_orc_spark.operators.encode import decode_to_files, encode_files
    from datafusion_orc_spark.sources.orc_sink import write_orc_distributed

    src = tmp_path / "in"
    src.mkdir()
    table = pa.table({
        "doc_id": pa.array(["a", "b", "c", "d"]),
        "tokens": pa.array([[1, 2], [3], [4, 5, 6], [7]], pa.list_(pa.int32())),
        "n_tok": pa.array([2, 1, 3, 1], pa.int32()),
        "source": pa.array(["s"] * 4),
    })
    pq.write_table(table, str(src / "f.parquet"))

    def part_files(d, ext):
        names = sorted(p.name for p in d.iterdir())
        assert names and all(n.startswith("part-") and n.endswith(ext) for n in names), names
        return [str(d / n) for n in names]

    def rows(t):
        return sorted(t.select(table.column_names).to_pylist(), key=lambda r: r["doc_id"])

    out = tmp_path / "out"
    encode_files(spark, str(src), output_dir=str(out)).collect()
    blob_files = part_files(out, ".parquet")

    blobs = spark.read.parquet(*blob_files)
    schema = spark.read.parquet(str(src)).schema
    dec = tmp_path / "dec"
    decode_to_files(blobs, schema, str(dec)).collect()
    back = pa.concat_tables([pq.read_table(f) for f in part_files(dec, ".parquet")])
    assert rows(back) == rows(table)

    orc = tmp_path / "orc"
    write_orc_distributed(spark.read.parquet(str(src)), str(orc)).collect()
    back = pa.concat_tables([pyarrow.orc.ORCFile(f).read() for f in part_files(orc, ".orc")])
    assert rows(back) == rows(table)
