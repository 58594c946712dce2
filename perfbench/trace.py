"""Span recording around the engine's public functions.

Tracing is installed from the benchmark's own files; the engine is not
edited. ``install()`` wraps the functions listed in ``_TARGETS`` and
rebinds every reference to them inside the loaded
``datafusion_orc_spark`` modules, because the package binds codec and
stripe functions with ``from ... import`` at import time. Rebinding
after import reaches those bindings whatever order the modules loaded
in.

A wrapper records a span (name, start, end, parent, thread) only while
the process-wide ``TRACER`` is active, so installed wrappers cost one
flag test when tracing is off. In its own process the benchmark
activates the tracer around a traced operation. In a Python worker the traced
``mapInArrow`` UDF (see ``traced_udf``) installs the wrappers, then
activates the tracer for the task and flushes the task's spans to a
span file when the task ends: Spark may kill a reused worker without
running ``atexit``, so nothing waits for process exit.

Spans carry the request id of the operation that caused them: the
benchmark sets it as the Spark job group, a local property that every task
of the operation can read.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import sys
import threading
import time

from perfbench import PACKAGE

# bit widths with a byte-aligned packing fast path
_FAST_WIDTHS = (8, 16, 32)


class Tracer:
    """In-memory span and counter store for one process.

    Spans are tuples ``(id, parent_id, thread, name, start_ns, end_ns)``;
    the parent is the innermost open span of the same thread. Counters
    are plain sums keyed by metric name."""

    def __init__(self) -> None:
        self.active = False
        self.spans: list[tuple] = []
        self.counters: dict[str, float] = {}
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_id = 0

    def reset(self) -> None:
        self.spans = []
        self.counters = {}

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def top_name(self) -> str | None:
        st = self._stack()
        return st[-1][1] if st else None

    def begin(self, name: str) -> list:
        st = self._stack()
        with self._lock:
            self._next_id += 1
            sid = self._next_id
        frame = [sid, name, st[-1][0] if st else 0, time.perf_counter_ns()]
        st.append(frame)
        return frame

    def end(self, frame: list) -> None:
        end = time.perf_counter_ns()
        st = self._stack()
        while st:
            top = st.pop()
            if top is frame:
                break
        self.spans.append((frame[0], frame[2], threading.get_ident(), frame[1], frame[3], end))

    def add(self, key: str, n: float) -> None:
        with self._lock:
            self.counters[key] = self.counters.get(key, 0) + n

    def column_queue(self) -> list:
        """Per-thread stack of pending column-name lists (see
        ``_wrap_decode_stripe``)."""
        q = getattr(self._local, "columns", None)
        if q is None:
            q = self._local.columns = []
        return q


TRACER = Tracer()


# ------------------------------------------------------------ wrappers

def _span_call(name: str, fn, count=None):
    """Wrap ``fn`` in a span. A call made from inside a span of the same
    name (``bit_pack_view`` -> ``bit_pack``, recursive decodes) passes
    straight through, so work is neither double-timed nor double-counted.
    ``count(args, kwargs, result)`` adds counters."""

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        tr = TRACER
        if not tr.active or tr.top_name() == name:
            return fn(*args, **kwargs)
        frame = tr.begin(name)
        try:
            out = fn(*args, **kwargs)
        finally:
            tr.end(frame)
        if count is not None:
            count(args, kwargs, out)
        return out

    wrapper._perfbench_orig = fn
    return wrapper


def _timed_iter(name: str, it, on_item=None):
    """Yield from ``it``, timing each ``next`` as a span ``name``."""
    it = iter(it)
    tr = TRACER
    while True:
        frame = tr.begin(name)
        try:
            item = next(it)
        except StopIteration:
            tr.end(frame)
            return
        except BaseException:
            tr.end(frame)
            raise
        tr.end(frame)
        if on_item is not None:
            on_item(item)
        yield item


def _span_gen(name: str, fn, on_call=None, on_item=None):
    """Wrap a generator function: every ``next`` becomes a span."""

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if not TRACER.active:
            return fn(*args, **kwargs)
        if on_call is not None:
            args, kwargs = on_call(args, kwargs)
        return _timed_iter(name, fn(*args, **kwargs), on_item)

    wrapper._perfbench_orig = fn
    return wrapper


def _arg(args, kwargs, i: int, key: str):
    return args[i] if len(args) > i else kwargs.get(key)


def _add(key: str, n) -> None:
    TRACER.add(key, n)


def _count_values(key: str, i: int, kw: str, length: bool = True):
    def count(args, kwargs, out):
        v = _arg(args, kwargs, i, kw)
        _add(key, len(v) if length else int(v))

    return count


def _count_pack(args, kwargs, out):
    n, width = len(_arg(args, kwargs, 0, "vals")), int(_arg(args, kwargs, 1, "width"))
    _add("codecs.bitpack.pack_values", n)
    if width not in _FAST_WIDTHS:
        _add("codecs.bitpack.unaligned_values", n)


def _count_unpack(args, kwargs, out):
    n, width = int(_arg(args, kwargs, 2, "n")), int(_arg(args, kwargs, 1, "width"))
    _add("codecs.bitpack.unpack_values", n)
    if width not in _FAST_WIDTHS:
        _add("codecs.bitpack.unaligned_values", n)


def _count_decode_range(args, kwargs, out):
    _add("codecs.runfor.decode_values", int(_arg(args, kwargs, 3, "stop")) - int(_arg(args, kwargs, 2, "start")))


def _wrap_fsst_encode(fn):
    """fsst_compress_column plus its cross-stripe cache outcome: a hit
    is a call that found a cached entry and bumped its use count."""
    strings = sys.modules[fn.__module__]

    def entry(key):
        cache = getattr(strings, "_FSST_GEN_CACHE", None)
        return None if cache is None or key is None else cache.get(key)

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        tr = TRACER
        if not tr.active:
            return fn(*args, **kwargs)
        key = _arg(args, kwargs, 2, "cache_key")
        before = entry(key)
        uses = getattr(before, "uses", None)
        frame = tr.begin("codecs.fsst.encode")
        try:
            out = fn(*args, **kwargs)
        finally:
            tr.end(frame)
        _add("codecs.fsst.encode_values", len(_arg(args, kwargs, 1, "lengths")))
        _add("codecs.fsst.calls", 1)
        after = entry(key)
        if before is not None and after is before and getattr(after, "uses", None) == (uses or 0) + 1:
            _add("codecs.fsst.cache_hits", 1)
        return out

    wrapper._perfbench_orig = fn
    return wrapper


def _wrap_encode_column(fn):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        tr = TRACER
        if not tr.active:
            return fn(*args, **kwargs)
        col = _arg(args, kwargs, 1, "name") or "?"
        frame = tr.begin(f"format.stripe.encode_column.{col}")
        try:
            out = fn(*args, **kwargs)
        finally:
            tr.end(frame)
        _add(f"format.stripe.enc_bytes.{col}", len(out[0]))
        return out

    wrapper._perfbench_orig = fn
    return wrapper


def _wrap_decode_stripe(fn):
    """decode_stripe decodes its columns in ``columns`` (else schema)
    order; the names are queued for the nested decode_column spans,
    whose own arguments carry no column name."""

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        tr = TRACER
        if not tr.active:
            return fn(*args, **kwargs)
        schema = _arg(args, kwargs, 1, "schema")
        names = _arg(args, kwargs, 2, "columns") or list(schema.names)
        queue = tr.column_queue()
        queue.append(list(names))
        frame = tr.begin("format.stripe.decode_stripe")
        try:
            out = fn(*args, **kwargs)
        finally:
            tr.end(frame)
            queue.pop()
        _add("format.stripe.stripes", 1)
        return out

    wrapper._perfbench_orig = fn
    return wrapper


def _wrap_decode_column(fn):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        tr = TRACER
        if not tr.active or (tr.top_name() or "").startswith("format.stripe.decode_column"):
            return fn(*args, **kwargs)
        queue = tr.column_queue()
        col = queue[-1].pop(0) if queue and queue[-1] else "?"
        frame = tr.begin(f"format.stripe.decode_column.{col}")
        try:
            out = fn(*args, **kwargs)
        finally:
            tr.end(frame)
        _add(f"format.stripe.enc_bytes.{col}", len(_arg(args, kwargs, 0, "blob")))
        return out

    wrapper._perfbench_orig = fn
    return wrapper


def _encode_stream_call(args, kwargs):
    """Time the pyarrow input reads feeding ``_encode_stream``."""

    def on_batch(b):
        _add("operators.encode.scan_bytes", b.nbytes)

    batches = _arg(args, kwargs, 0, "batches")
    timed = _timed_iter("operators.encode.scan", batches, on_batch)
    if args:
        args = (timed,) + tuple(args[1:])
    else:
        kwargs = dict(kwargs, batches=timed)
    return args, kwargs


def _iter_stripes_call(args, kwargs):
    reader = args[0]
    stripes = _arg(args, kwargs, 2, "stripes")
    _add("format.orc_reader.stripes_total", len(stripes) if stripes is not None else len(reader.footer.stripes))
    return args, kwargs


def _count_rows(key: str):
    def on_item(batch):
        _add(key, batch.num_rows)

    return on_item


def _count_call(key: str):
    def count(args, kwargs, out):
        _add(key, 1)

    return count


def _count_splits(args, kwargs, out):
    _add("sources.orc_source.splits", len(out[0]))


def _count_bytes_out(key: str):
    def count(args, kwargs, out):
        _add(key, len(out))

    return count


def _count_write(args, kwargs, out):
    _add("operators.encode.write_bytes", _arg(args, kwargs, 1, "table").nbytes)


# (module, attribute path, wrapper factory)
_TARGETS = [
    ("codecs.bitpack", "bit_pack", lambda f: _span_call("codecs.bitpack.pack", f, _count_pack)),
    ("codecs.bitpack", "bit_pack_view", lambda f: _span_call("codecs.bitpack.pack", f, _count_pack)),
    ("codecs.bitpack", "bit_unpack", lambda f: _span_call("codecs.bitpack.unpack", f, _count_unpack)),
    ("codecs.rlev2", "rle_v2_decode", lambda f: _span_call("codecs.rlev2.decode", f, _count_values("codecs.rlev2.decode_values", 1, "n", length=False))),
    ("codecs.runfor", "runfor_encode", lambda f: _span_call("codecs.runfor.encode", f, _count_values("codecs.runfor.encode_values", 0, "vals"))),
    ("codecs.runfor", "runfor_decode", lambda f: _span_call("codecs.runfor.decode", f, _count_values("codecs.runfor.decode_values", 1, "n", length=False))),
    ("codecs.runfor", "runfor_decode_range", lambda f: _span_call("codecs.runfor.decode", f, _count_decode_range)),
    ("codecs.selector", "choose_int_codec", lambda f: _span_call("codecs.selector", f)),
    ("codecs.selector", "choose_string_codec", lambda f: _span_call("codecs.selector", f)),
    ("codecs.strings", "fsst_compress_column", _wrap_fsst_encode),
    ("codecs.strings", "fsst_decompress_column", lambda f: _span_call("codecs.fsst.decode", f, _count_values("codecs.fsst.decode_values", 2, "lengths"))),
    ("codecs.strings", "dict_encode", lambda f: _span_call("codecs.dict.encode", f, _count_values("codecs.dict.encode_values", 1, "lengths"))),
    ("codecs.strings", "dict_decode", lambda f: _span_call("codecs.dict.decode", f, _count_values("codecs.dict.decode_values", 2, "indexes"))),
    ("format.stripe", "encode_stripe", lambda f: _span_call("format.stripe.encode_stripe", f, _count_call("format.stripe.stripes"))),
    ("format.stripe", "decode_stripe", _wrap_decode_stripe),
    ("format.stripe", "encode_column", _wrap_encode_column),
    ("format.stripe", "decode_column", _wrap_decode_column),
    ("format.orc_reader", "decompress_stream", lambda f: _span_call("format.orc_reader.decompress", f, _count_bytes_out("format.orc_reader.decompressed_bytes"))),
    ("format.orc_reader", "OrcReader.__init__", lambda f: _span_call("format.orc_reader.open", f)),
    ("format.orc_reader", "OrcReader.stripe_statistics", lambda f: _span_call("format.orc_reader.open", f)),
    ("format.orc_reader", "OrcReader.iter_stripes", lambda f: _span_gen("format.orc_reader.iter", f, _iter_stripes_call, _count_rows("format.orc_reader.rows_decoded"))),
    ("format.orc_reader", "_StripeReader.__init__", lambda f: _span_call("format.orc_reader.stripe_read", f, _count_call("format.orc_reader.stripes_read"))),
    ("format.orc_reader", "_StripeReader.decode_column", lambda f: _span_call("format.orc_reader.decode", f)),
    ("format.orc_reader", "_StripeReader.decode_column_range", lambda f: _span_call("format.orc_reader.decode", f)),
    ("sources.orc_source", "plan_splits", lambda f: _span_call("sources.orc_source.plan", f, _count_splits)),
    ("operators.encode", "encode_files", lambda f: _span_call("operators.encode.plan", f)),
    ("operators.encode", "_encode_stream", lambda f: _span_gen("operators.encode.stream", f, _encode_stream_call)),
]

# pyarrow's writer is what encode_files' tasks write part files with
_PYARROW_TARGETS = [
    ("pyarrow.parquet", "ParquetWriter.write_table", lambda f: _span_call("operators.encode.write", f, _count_write)),
    ("pyarrow.parquet", "ParquetWriter.close", lambda f: _span_call("operators.encode.write", f)),
]

_installed = False


def install() -> None:
    """Wrap every target once per process and rebind all references."""
    global _installed
    if _installed:
        return
    replaced: dict[int, object] = {}
    for mod_name, path, factory in _TARGETS + _PYARROW_TARGETS:
        full = mod_name if mod_name.startswith("pyarrow") else f"{PACKAGE}.{mod_name}"
        mod = importlib.import_module(full)
        owner, attr = mod, path
        if "." in path:
            cls_name, attr = path.split(".")
            owner = getattr(mod, cls_name)
        orig = getattr(owner, attr)
        wrapped = factory(orig)
        setattr(owner, attr, wrapped)
        if owner is mod:
            replaced[id(orig)] = (orig, wrapped)
    # ``from m import f`` copies: rebind them in every loaded engine module
    for name, mod in list(sys.modules.items()):
        if mod is None or not (name == PACKAGE or name.startswith(PACKAGE + ".")):
            continue
        for key, val in list(vars(mod).items()):
            hit = replaced.get(id(val))
            if hit is not None and hit[0] is val:
                setattr(mod, key, hit[1])
    _installed = True


# ---------------------------------------------------- worker-side UDF

def _proc_io() -> dict[str, int]:
    out = {}
    try:
        with open("/proc/self/io") as f:
            for line in f:
                k, _, v = line.partition(":")
                out[k.strip()] = int(v)
    except OSError:
        pass
    return out


def run_task(blob: bytes, span_dir: str, batches):
    """Body of a traced ``mapInArrow`` UDF inside a Python worker.

    Installs the wrappers *before* unpickling the engine's UDF, so the
    UDF's own global references resolve to wrapped functions. Spans:
    ``task`` (whole task), ``udf`` (each pull on the engine's output
    iterator: Python work) and ``arrow_in`` (each pull on the input
    batches: Arrow transfer from the JVM)."""
    from pyspark import TaskContext, cloudpickle

    install()
    func = cloudpickle.loads(blob)
    ctx = TaskContext.get()
    tr = TRACER
    tr.reset()
    tr.active = True
    io0 = _proc_io()
    task = tr.begin("task")
    try:
        inner = iter(func(_timed_iter("arrow_in", batches)))
        while True:
            frame = tr.begin("udf")
            try:
                out = next(inner)
            except StopIteration:
                tr.end(frame)
                break
            except BaseException:
                tr.end(frame)
                raise
            tr.end(frame)
            tr.active = False  # Spark's own work while it consumes ``out``
            yield out
            tr.active = True
    finally:
        tr.end(task)
        tr.active = False
        io1 = _proc_io()
        record = {
            "req": ctx.getLocalProperty("spark.jobGroup.id"),
            "task_id": ctx.taskAttemptId(),
            "stage": ctx.stageId(),
            "partition": ctx.partitionId(),
            "pid": os.getpid(),
            "io": {k: io1.get(k, 0) - io0.get(k, 0) for k in ("read_bytes", "write_bytes", "rchar", "wchar")},
            "counters": tr.counters,
            "spans": tr.spans,
        }
        os.makedirs(span_dir, exist_ok=True)
        with open(os.path.join(span_dir, f"worker-{os.getpid()}.jsonl"), "a") as f:
            f.write(json.dumps(record) + "\n")
        tr.reset()


def traced_udf(func, span_dir: str):
    """Return a UDF that runs ``func`` under ``run_task``. ``func`` is
    pickled here, in the benchmark's process, and unpickled in the worker only after
    the wrappers are installed there."""
    from pyspark import cloudpickle

    blob = cloudpickle.dumps(func)

    def udf(batches):
        return run_task(blob, span_dir, batches)

    return udf


def patch_map_in_arrow(span_dir: str, enabled) -> None:
    """Route ``DataFrame.mapInArrow`` UDFs through ``traced_udf`` while
    ``enabled()`` is true (the benchmark traces every other operation)."""
    from pyspark.sql.classic.dataframe import DataFrame

    orig = DataFrame.mapInArrow
    if getattr(orig, "_perfbench_orig", None) is not None:
        return

    @functools.wraps(orig)
    def map_in_arrow(self, func, schema, *args, **kwargs):
        if enabled():
            func = traced_udf(func, span_dir)
        return orig(self, func, schema, *args, **kwargs)

    map_in_arrow._perfbench_orig = orig
    DataFrame.mapInArrow = map_in_arrow
