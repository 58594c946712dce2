"""The shared task-side part writer and blob-decode loop
(sources/parts.py), without Spark: attempt fencing on local and object
stores, byte rolling, in-place recycle, and stripe assembly from blob
rows."""

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from datafusion_orc_spark.format.stripe import encode_stripe
from datafusion_orc_spark.sources.objectstore import MemoryStore, resolve_store
from datafusion_orc_spark.sources.parts import PartWriter, iter_decoded_stripes

SCHEMA = pa.schema([("k", pa.int64()), ("s", pa.string())])


def _batch(lo: int, n: int, tag: str) -> pa.RecordBatch:
    return pa.record_batch(
        [pa.array(range(lo, lo + n), pa.int64()), pa.array([f"{tag}{i}" for i in range(n)])],
        schema=SCHEMA,
    )


def _read(store, path: str) -> pa.Table:
    return pq.read_table(store.open_input(path))


@pytest.fixture(params=["local", "memory"])
def out_dir(request, tmp_path):
    if request.param == "local":
        yield str(tmp_path / "out")
    else:
        yield f"memory://parts_{os.getpid()}/out"
        MemoryStore.clear()


def test_interleaved_attempts_commit_only_the_committed_file(out_dir):
    """A zombie attempt 0 and its retry write different content into the
    same part, interleaved. Only the retry commits: the canonical name
    holds exactly its complete file, and none of its tmp names remain."""
    zombie = PartWriter(out_dir, 3, 0, schema=SCHEMA)
    retry = PartWriter(out_dir, 3, 1, schema=SCHEMA)
    zombie.write(_batch(0, 100, "z"))
    retry.write(_batch(1000, 50, "r"))
    zombie.write(_batch(100, 100, "z"))
    retry.write(_batch(1050, 50, "r"))
    retry.close()
    zombie.write(_batch(200, 100, "z"))  # still running after the commit

    store, d = resolve_store(out_dir)
    want = pa.Table.from_batches([_batch(1000, 50, "r"), _batch(1050, 50, "r")])
    assert _read(store, f"{d}/part-00003-000.parquet").equals(want)
    assert (retry.files, retry.rows) == (1, 100)
    names = [p.rsplit("/", 1)[-1] for p in store.list(d)]
    assert "part-00003-000.parquet" in names
    assert not [n for n in names if "attempt1" in n]
    assert all(n == "part-00003-000.parquet" or "attempt0" in n for n in names), names


def test_rolls_at_bytes_per_file_and_counts(out_dir):
    batches = [_batch(i * 100, 100, "x") for i in range(7)]
    w = PartWriter(out_dir, 0, 0, bytes_per_file=2 * batches[0].nbytes, schema=SCHEMA)
    for b in batches:
        w.write(b)
    w.close()
    store, d = resolve_store(out_dir)
    files = store.list(d, suffix=".parquet")
    assert [f.rsplit("/", 1)[-1] for f in files] == [f"part-00000-{i:03d}.parquet" for i in range(4)]
    assert (w.files, w.rows, w.arrow_bytes) == (4, 700, sum(b.nbytes for b in batches))
    back = pa.concat_tables([_read(store, f) for f in files])
    assert back.equals(pa.Table.from_batches(batches))


def test_write_file_is_fenced_and_sized(out_dir):
    t = pa.Table.from_batches([_batch(0, 10, "o")])

    def write(table, dest):
        if isinstance(dest, str):  # local: staged under the attempt's tmp
            assert dest.endswith(".attempt2.tmp")
        pq.write_table(table, dest)

    w = PartWriter(out_dir, 1, 2, ext=".pq")
    path, n_bytes = w.write_file(t, write)
    store, d = resolve_store(out_dir)
    assert path == f"{d}/part-00001-000.pq" and n_bytes == store.size(path) > 0
    assert _read(store, path).equals(t)
    assert store.list(d) == [path]


def test_recycle_overwrites_in_place_and_removes_stale(tmp_path):
    out = str(tmp_path / "rec")
    small = _batch(0, 100, "a").nbytes
    first = PartWriter(out, 0, 0, bytes_per_file=small, recycle=True, schema=SCHEMA)
    for i in range(3):
        first.write(_batch(i * 100, 100, "long-previous-run-value-"))
    first.close()
    inode = os.stat(f"{out}/part-00000-000.parquet").st_ino
    # a shorter re-run: one smaller file, written in place
    again = PartWriter(out, 0, 0, bytes_per_file=small, recycle=True, schema=SCHEMA)
    again.write(_batch(0, 100, "a"))
    again.close()
    assert sorted(os.listdir(out)) == ["part-00000-000.parquet"]
    assert os.stat(f"{out}/part-00000-000.parquet").st_ino == inode
    assert pq.read_table(f"{out}/part-00000-000.parquet").equals(pa.Table.from_batches([_batch(0, 100, "a")]))
    # a retry never writes in place: it stages through its own tmp
    retry = PartWriter(out, 0, 1, recycle=True, schema=SCHEMA)
    retry.write(_batch(0, 100, "b"))
    assert retry._tmp is not None and retry._tmp.endswith(".attempt1.tmp")
    retry.close()
    assert sorted(os.listdir(out)) == ["part-00000-000.parquet"]
    assert pq.read_table(f"{out}/part-00000-000.parquet").equals(pa.Table.from_batches([_batch(0, 100, "b")]))


def _blob_rows(n_stripes: int, rows: int, data_type=pa.binary()) -> tuple[pa.Schema, pa.Table]:
    """Blob rows of ``n_stripes`` stripes, k = 0..n_stripes*rows-1."""
    schema = pa.schema([("k", pa.int64()), ("t", pa.list_(pa.int32()))])
    sids, cols, data, vmin, vmax = [], [], [], [], []
    for s in range(n_stripes):
        k = np.arange(s * rows, (s + 1) * rows, dtype=np.int64)
        batch = pa.record_batch([pa.array(k), pa.array([[int(x) % 97] * 3 for x in k], pa.list_(pa.int32()))], schema=schema)
        blobs, stats = encode_stripe(batch)
        for st in stats:
            sids.append(s)
            cols.append(st["column"])
            data.append(blobs[st["column"]])
            vmin.append(st.get("min"))
            vmax.append(st.get("max"))
    table = pa.table({
        "stripe_id": pa.array(sids, pa.int64()),
        "column": pa.array(cols),
        "data": pa.array(data, data_type),
        "vmin": pa.array(vmin, pa.int64()),
        "vmax": pa.array(vmax, pa.int64()),
    })
    return schema, table


@pytest.mark.parametrize("data_type", [pa.binary(), pa.large_binary()])
def test_iter_decoded_stripes_zero_copy_roundtrip(data_type):
    schema, blobs = _blob_rows(4, 300, data_type)
    # odd batch boundaries split stripes across batches
    batches = blobs.slice(1).to_batches(max_chunksize=3)
    batches.insert(0, blobs.slice(0, 1).to_batches()[0])
    out = pa.Table.from_batches(list(iter_decoded_stripes(batches, schema, ["k", "t"])))
    assert out.column("k").to_pylist() == list(range(1200))
    only_t = list(iter_decoded_stripes(blobs.to_batches(), schema, ["t"]))
    assert [b.schema.names for b in only_t] == [["t"]] * 4


def test_iter_decoded_stripes_open_ended_prune():
    schema, blobs = _blob_rows(4, 300)
    got = pa.Table.from_batches(list(iter_decoded_stripes(blobs.to_batches(), schema, ["k", "t"], {"k": [650, None]})))
    ks = got.column("k").to_pylist()
    assert set(range(650, 1200)) <= set(ks) and min(ks) >= 600  # stripes 0 and 1 skipped
    got = pa.Table.from_batches(list(iter_decoded_stripes(blobs.to_batches(), schema, ["k"], {"k": (None, 10)})))
    assert got.num_rows == 300 and got.column("k").to_pylist()[:11] == list(range(11))


def test_iter_decoded_stripes_incomplete_stripe_raises():
    schema, blobs = _blob_rows(2, 100)
    with pytest.raises(ValueError, match="missing columns"):
        list(iter_decoded_stripes(blobs.slice(0, 3).to_batches(), schema, ["k", "t"]))
