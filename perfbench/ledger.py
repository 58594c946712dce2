"""Per-layer metrics and the per-operation ledger of a traced run.

Inputs: the operations the benchmark timed, the span records the Python
workers flushed (one per task), and the tasks Spark's status REST API
reports for each operation's job group.

A span's self time is its duration minus the durations of its child
spans (children are strictly nested on one thread, so their sum is
their coverage). Layer times are self times summed over every task of
an operation; each metric is the mean over traced operations, so the
ledger's lines add up.

Ledger of one operation, along its critical path (the longest task of
each stage)::

    op wall = non_task                 wall - sum of critical task durations
            + task_spark               scheduler delay, task (de)serialization,
                                       result fetch of the critical tasks
            + task_outside_python      executor run time not inside the
                                       engine's Python: Arrow transfer, JVM work
            + task_<layer>             traced self time of each engine layer
            + residual                 untraced Python inside the UDF, rounding
"""

from __future__ import annotations

import json
import os
import statistics

from perfbench.corpus import SCHEMA

COLUMNS = tuple(SCHEMA.names)

# metric -> span names whose self time it sums
SELF_TIME = {
    "operators.encode.scan_s": ("operators.encode.scan",),
    "operators.encode.write_s": ("operators.encode.write",),
    "operators.encode.plan_s": ("operators.encode.plan",),
    "format.stripe.encode_s": ("format.stripe.encode_stripe",) + tuple(f"format.stripe.encode_column.{c}" for c in COLUMNS),
    "format.stripe.decode_s": ("format.stripe.decode_stripe",) + tuple(f"format.stripe.decode_column.{c}" for c in COLUMNS),
    "codecs.selector_s": ("codecs.selector",),
    "codecs.runfor.encode_s": ("codecs.runfor.encode",),
    "codecs.bitpack.pack_s": ("codecs.bitpack.pack",),
    "codecs.fsst.encode_s": ("codecs.fsst.encode",),
    "codecs.dict.encode_s": ("codecs.dict.encode",),
    "codecs.runfor.decode_s": ("codecs.runfor.decode",),
    "codecs.bitpack.unpack_s": ("codecs.bitpack.unpack",),
    "codecs.fsst.decode_s": ("codecs.fsst.decode",),
    "codecs.dict.decode_s": ("codecs.dict.decode",),
    "codecs.rlev2.decode_s": ("codecs.rlev2.decode",),
    "format.orc_reader.open_s": ("format.orc_reader.open",),
    "format.orc_reader.decompress_s": ("format.orc_reader.decompress",),
    "format.orc_reader.decode_s": ("format.orc_reader.decode",),
    "sources.orc_source.plan_s": ("sources.orc_source.plan",),
}
# metric -> span name whose inclusive time it sums (codec work included)
INCLUSIVE_TIME = {
    **{f"format.stripe.encode_column_s.{c}": f"format.stripe.encode_column.{c}" for c in COLUMNS},
    **{f"format.stripe.decode_column_s.{c}": f"format.stripe.decode_column.{c}" for c in COLUMNS},
}
COUNTERS = (
    "operators.encode.scan_bytes",
    "operators.encode.write_bytes",
    *(f"format.stripe.enc_bytes.{c}" for c in COLUMNS),
    "format.stripe.stripes",
    "codecs.runfor.encode_values",
    "codecs.bitpack.pack_values",
    "codecs.fsst.encode_values",
    "codecs.dict.encode_values",
    "codecs.runfor.decode_values",
    "codecs.bitpack.unpack_values",
    "codecs.fsst.decode_values",
    "codecs.dict.decode_values",
    "codecs.rlev2.decode_values",
    "format.orc_reader.decompressed_bytes",
    "format.orc_reader.stripes_total",
    "format.orc_reader.stripes_read",
    "format.orc_reader.rows_decoded",
    "sources.orc_source.splits",
)
# ledger layer line -> span-name prefix
LAYERS = {
    "ledger.task_operators_encode_s": "operators.encode.",
    "ledger.task_format_stripe_s": "format.stripe.",
    "ledger.task_codecs_s": "codecs.",
    "ledger.task_format_orc_reader_s": "format.orc_reader.",
}

# Which end-to-end metric each layer metric should move, on which
# workload: written down before measuring (choosing-metrics, section 3).
TARGETS = {
    "spark.task_s_p50": "tok_per_s on roundtrip",
    "spark.task_skew": "tok_per_s on roundtrip",
    "spark.non_task_s": "query_ms_p50 on orc-select",
    "spark.sched_wait_s": "query_ms_p50 on orc-select",
    "spark.outside_python_s": "tok_per_s on roundtrip (decode half)",
    "spark.gc_s": "tok_per_s on roundtrip (decode half)",
    "spark.tasks": "query_ms_p50 on orc-select",
    "operators.encode.scan_s": "tok_per_s on roundtrip (encode half)",
    "operators.encode.scan_bytes": "tok_per_s on roundtrip (encode half)",
    "operators.encode.write_s": "tok_per_s on roundtrip (encode half)",
    "operators.encode.write_bytes": "tok_per_s on roundtrip (encode half)",
    "operators.encode.plan_s": "tok_per_s on roundtrip (encode half)",
    "format.stripe.encode_s": "tok_per_s on roundtrip (encode half)",
    "format.stripe.decode_s": "tok_per_s on roundtrip (decode half)",
    **{f"format.stripe.encode_column_s.{c}": "tok_per_s on roundtrip (encode half)" for c in COLUMNS},
    **{f"format.stripe.decode_column_s.{c}": "tok_per_s on roundtrip (decode half)" for c in COLUMNS},
    **{f"format.stripe.enc_bytes.{c}": "stored_bytes_per_raw_byte on roundtrip" for c in COLUMNS},
    "format.stripe.stripes": "tok_per_s on roundtrip",
    "codecs.selector_s": "tok_per_s on roundtrip (encode half)",
    "codecs.runfor.encode_s": "tok_per_s on roundtrip (encode half)",
    "codecs.bitpack.pack_s": "tok_per_s on roundtrip (encode half)",
    "codecs.fsst.encode_s": "tok_per_s on roundtrip (encode half)",
    "codecs.dict.encode_s": "tok_per_s on roundtrip (encode half)",
    "codecs.runfor.decode_s": "tok_per_s on roundtrip (decode half)",
    "codecs.bitpack.unpack_s": "tok_per_s on roundtrip (decode half)",
    "codecs.fsst.decode_s": "tok_per_s on roundtrip (decode half)",
    "codecs.dict.decode_s": "tok_per_s on roundtrip (decode half)",
    "codecs.rlev2.decode_s": "query_ms_p50 on orc-select",
    "codecs.runfor.encode_values": "tok_per_s on roundtrip (encode half)",
    "codecs.bitpack.pack_values": "tok_per_s on roundtrip (encode half)",
    "codecs.fsst.encode_values": "tok_per_s on roundtrip (encode half)",
    "codecs.dict.encode_values": "tok_per_s on roundtrip (encode half)",
    "codecs.runfor.decode_values": "tok_per_s on roundtrip (decode half)",
    "codecs.bitpack.unpack_values": "tok_per_s on roundtrip (decode half)",
    "codecs.fsst.decode_values": "tok_per_s on roundtrip (decode half)",
    "codecs.dict.decode_values": "tok_per_s on roundtrip (decode half)",
    "codecs.rlev2.decode_values": "query_ms_p50 on orc-select",
    "codecs.bitpack.unaligned_frac": "tok_per_s on roundtrip (17-bit tokens)",
    "codecs.fsst.cache_hit_frac": "tok_per_s on roundtrip (encode half)",
    "format.orc_reader.open_s": "query_ms_p50 on orc-select",
    "format.orc_reader.decompress_s": "query_ms_p50 on orc-select",
    "format.orc_reader.decompressed_bytes": "query_ms_p50 on orc-select",
    "format.orc_reader.decode_s": "query_ms_p50 on orc-select",
    "format.orc_reader.stripes_total": "query_ms_p50 on orc-select",
    "format.orc_reader.stripes_read": "query_ms_p50 on orc-select",
    "format.orc_reader.stripe_skip_frac": "query_ms_p50 on orc-select",
    "format.orc_reader.rows_decoded": "query_ms_p50 on orc-select",
    "format.orc_reader.useful_row_frac": "query_ms_p50 on orc-select",
    "sources.orc_source.plan_s": "query_ms_p50 on orc-select",
    "sources.orc_source.splits": "query_ms_p50 on orc-select",
    "io.read_bytes": "tok_per_s on roundtrip (encode half)",
    "io.write_bytes": "tok_per_s on roundtrip (encode half)",
    "io.write_amp": "tok_per_s on roundtrip (encode half)",
    **{line: "the op wall of every workload" for line in ("ledger.op_wall_s", "ledger.non_task_s", "ledger.task_spark_s", "ledger.task_outside_python_s", "ledger.residual_s")},
    **{line: "the op wall of every workload" for line in LAYERS},
    "trace.overhead_frac": "none: the cost of tracing itself",
}

LEDGER = (
    "ledger.op_wall_s",
    "ledger.non_task_s",
    "ledger.task_spark_s",
    "ledger.task_outside_python_s",
    *LAYERS,
    "ledger.residual_s",
)

UNITS = {
    **{k: "s" for k in SELF_TIME},
    **{k: "s" for k in INCLUSIVE_TIME},
    **{k: ("bytes" if k.endswith("bytes") or ".enc_bytes." in k else "count") for k in COUNTERS},
    "spark.task_s_p50": "s",
    "spark.task_skew": "ratio",
    "spark.non_task_s": "s",
    "spark.sched_wait_s": "s",
    "spark.outside_python_s": "s",
    "spark.gc_s": "s",
    "spark.tasks": "count",
    "codecs.bitpack.unaligned_frac": "ratio",
    "codecs.fsst.cache_hit_frac": "ratio",
    "format.orc_reader.stripe_skip_frac": "ratio",
    "format.orc_reader.useful_row_frac": "ratio",
    "io.read_bytes": "bytes",
    "io.write_bytes": "bytes",
    "io.write_amp": "ratio",
    **{k: "s" for k in LEDGER},
    "trace.overhead_frac": "ratio",
}


def self_times(spans) -> dict[str, float]:
    """{span name: summed self time in s} for one process's spans."""
    child: dict[tuple, int] = {}
    for sid, parent, thread, name, start, end in spans:
        if parent:
            child[(thread, parent)] = child.get((thread, parent), 0) + (end - start)
    out: dict[str, float] = {}
    for sid, parent, thread, name, start, end in spans:
        own = (end - start) - child.get((thread, sid), 0)
        out[name] = out.get(name, 0.0) + own / 1e9
    return out


def inclusive_times(spans) -> dict[str, float]:
    out: dict[str, float] = {}
    for sid, parent, thread, name, start, end in spans:
        out[name] = out.get(name, 0.0) + (end - start) / 1e9
    return out


def read_span_files(span_dir: str) -> list[dict]:
    records = []
    if not os.path.isdir(span_dir):
        return records
    for fn in sorted(os.listdir(span_dir)):
        if fn.startswith("worker-") and fn.endswith(".jsonl"):
            with open(os.path.join(span_dir, fn)) as f:
                records += [json.loads(line) for line in f if line.strip()]
    return records


def _python_covered(rec: dict) -> float:
    inc = inclusive_times(rec["spans"])
    return inc.get("udf", 0.0) - inc.get("arrow_in", 0.0)


def op_ledger(op: dict, tasks: list[dict], recs: list[dict]) -> dict:
    """Per-operation sums: layer metrics, spark metrics and ledger lines."""
    by_task = {r["task_id"]: r for r in recs}
    out: dict[str, float] = {k: 0.0 for k in (*SELF_TIME, *INCLUSIVE_TIME, *COUNTERS)}
    self_all: dict[str, float] = {}
    for spans in [op["local_spans"]] + [r["spans"] for r in recs]:
        for name, t in self_times(spans).items():
            self_all[name] = self_all.get(name, 0.0) + t
        inclusive = inclusive_times(spans)
        for metric, name in INCLUSIVE_TIME.items():
            out[metric] += inclusive.get(name, 0.0)
    for metric, names in SELF_TIME.items():
        out[metric] = sum(self_all.get(n, 0.0) for n in names)
    counters: dict[str, float] = dict(op["local_counters"])
    for r in recs:
        for k, v in r["counters"].items():
            counters[k] = counters.get(k, 0) + v
    for k in COUNTERS:
        out[k] = counters.get(k, 0)
    out["_unaligned_values"] = counters.get("codecs.bitpack.unaligned_values", 0)
    out["_fsst_calls"] = counters.get("codecs.fsst.calls", 0)
    out["_fsst_hits"] = counters.get("codecs.fsst.cache_hits", 0)
    out["io.read_bytes"] = sum(r["io"].get("read_bytes", 0) for r in recs)
    out["io.write_bytes"] = sum(r["io"].get("write_bytes", 0) for r in recs)

    # Spark: per stage, the longest task is on the critical path
    stages: dict[int, list[dict]] = {}
    for t in tasks:
        if t.get("status") == "SUCCESS":
            stages.setdefault(t["stageId"], []).append(t)
    py_stages = {s for s, ts in stages.items() if any(t["taskId"] in by_task for t in ts)}
    wall = op["wall_s"]
    crit = [max(ts, key=lambda t: t.get("duration", 0)) for ts in stages.values()]
    task_spark = outside_crit = 0.0
    layers = {k: 0.0 for k in LAYERS}
    for t in crit:
        m = t.get("taskMetrics", {})
        task_spark += (
            t.get("schedulerDelay", 0)
            + m.get("executorDeserializeTime", 0)
            + m.get("resultSerializationTime", 0)
            + t.get("gettingResultTime", 0)
        ) / 1e3
        rec = by_task.get(t["taskId"])
        covered = _python_covered(rec) if rec else 0.0
        outside_crit += m.get("executorRunTime", 0) / 1e3 - covered
        if rec:
            for name, s in self_times(rec["spans"]).items():
                for line, prefix in LAYERS.items():
                    if name.startswith(prefix):
                        layers[line] += s
    non_task = wall - sum(t.get("duration", 0) for t in crit) / 1e3
    out["ledger.op_wall_s"] = wall
    out["ledger.non_task_s"] = non_task
    out["ledger.task_spark_s"] = task_spark
    out["ledger.task_outside_python_s"] = outside_crit
    out.update(layers)
    out["ledger.residual_s"] = wall - non_task - task_spark - outside_crit - sum(layers.values())

    py_tasks = [t for s in py_stages for t in stages[s]]
    durations = [t.get("duration", 0) / 1e3 for t in py_tasks]
    skews = []
    for s in py_stages:
        d = [t.get("duration", 0) for t in stages[s]]
        med = statistics.median(d)
        if med > 0:
            skews.append(max(d) / med)
    out["spark.non_task_s"] = non_task
    out["spark.sched_wait_s"] = sum(t.get("schedulerDelay", 0) for t in crit) / 1e3
    out["spark.outside_python_s"] = sum(
        t.get("taskMetrics", {}).get("executorRunTime", 0) / 1e3 - _python_covered(by_task[t["taskId"]])
        for t in py_tasks
        if t["taskId"] in by_task
    )
    out["spark.gc_s"] = sum(t.get("taskMetrics", {}).get("jvmGcTime", 0) for t in tasks) / 1e3
    out["spark.tasks"] = len(tasks)
    out["_skew"] = statistics.mean(skews) if skews else 0.0
    out["_durations"] = durations
    out["_useful_rows"] = op["useful_rows"]
    return out


def per_layer(ops: list[dict], input_arrow_bytes: int) -> dict[str, float]:
    """Mean over traced operations of each per-op sum, plus ratios."""
    n = len(ops)
    if not n:
        return {k: 0.0 for k in UNITS}
    keys = [k for k in ops[0] if not k.startswith("_")]
    out = {k: sum(o[k] for o in ops) / n for k in keys}
    durations = [d for o in ops for d in o["_durations"]]
    out["spark.task_s_p50"] = statistics.median(durations) if durations else 0.0
    out["spark.task_skew"] = sum(o["_skew"] for o in ops) / n

    def frac(num, den):
        return num / den if den else 0.0

    def tot(key):
        return sum(o[key] for o in ops)

    out["codecs.bitpack.unaligned_frac"] = frac(
        tot("_unaligned_values"), tot("codecs.bitpack.pack_values") + tot("codecs.bitpack.unpack_values")
    )
    out["codecs.fsst.cache_hit_frac"] = frac(tot("_fsst_hits"), tot("_fsst_calls"))
    out["format.orc_reader.stripe_skip_frac"] = frac(
        tot("format.orc_reader.stripes_total") - tot("format.orc_reader.stripes_read"),
        tot("format.orc_reader.stripes_total"),
    )
    out["format.orc_reader.useful_row_frac"] = frac(tot("_useful_rows"), tot("format.orc_reader.rows_decoded"))
    out["io.write_amp"] = frac(out["io.write_bytes"], input_arrow_bytes)
    return out
