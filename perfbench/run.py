"""The repository's benchmark: one command, two workloads.

    python3 perfbench/run.py --workload {roundtrip,orc-select} \\
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. The program under test is the
``datafusion_orc_spark`` package next to this directory; the benchmark
generates its inputs from ``--seed``, sets up three times (each a fresh
session, the program's own preparation and a first operation;
``setup_s`` is their median), then runs operations back to back for
``--seconds`` seconds, checking every result.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` installs the
span wrappers (perfbench/trace.py), traces every other operation and
prints the per-layer metrics and the per-operation ledger
(perfbench/ledger.py); the untraced operations of the same window give
the tracing overhead. Spans are written under
``.perfbench_work/trace/``.

Standard output: one JSON line with the full record (host fingerprint,
run conditions, samples, ledger), then, as the last line,
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)  # the perfbench package, and the engine next to it

from perfbench import PACKAGE, harness, ledger, trace, workloads  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "tok_per_s": "tokens/s",
    "query_ms_p50": "ms",
    "query_ms_tail": "ms",
    "stored_bytes_per_raw_byte": "ratio",
    "bytes_vs_orc_java": "ratio",
    "worker_rss_peak_mb": "MB",
}


# set-ups per run; setup_s is their median
SETUPS = 3


def tail(samples: list[float]) -> float:
    """p90 of the operation latencies, interpolated between neighbouring
    samples. A window holds 5-8 operations: too few for any percentile
    above the median to have ten samples beyond it. A fixed percentile
    keeps the statistic the same whatever the count, where the highest
    such percentile would jump from none to the median as the count
    passes 20."""
    if len(samples) < 2:
        return samples[0]
    return statistics.quantiles(samples, n=10, method="inclusive")[-1]


def parse(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def measure(wl, spark, rss, seconds: float, tracer: trace.Tracer | None = None) -> list[dict]:
    """Closed loop, one client: operations back to back until the window
    closes, each timed alone and checked untimed afterwards. With a
    ``tracer``, every other operation is traced."""
    sc = spark.sparkContext
    ops = []
    start = time.perf_counter()
    i = 0
    while i == 0 or time.perf_counter() - start < seconds:
        traced = tracer is not None and i % 2 == 0
        os.sync()
        rid = f"perfbench-op-{i}"
        sc.setJobGroup(rid, rid)
        if traced:
            tracer.reset()
            tracer.active = True
        rss.armed = True
        error = None
        t0 = time.perf_counter()
        try:
            result = wl.op(spark, i)
        except Exception:
            result, error = None, traceback.format_exc()
        wall = time.perf_counter() - t0
        rss.armed = False
        op = {"i": i, "req": rid, "wall_s": wall, "traced": traced}
        if traced:
            tracer.active = False
            op["local_spans"], op["local_counters"] = tracer.spans, tracer.counters
            tracer.reset()
        sc.setJobGroup(f"perfbench-check-{i}", "check")
        ok = False
        if error is None:
            try:
                ok = bool(wl.check(spark, i, result))
            except Exception:
                error = traceback.format_exc()
        if error:
            print(error, file=sys.stderr)
        op["ok"] = ok
        op["tokens"] = wl.tokens(i) if ok else 0
        op["useful_rows"] = wl.useful_rows(i) if ok else 0
        ops.append(op)
        i += 1
    sc.setLocalProperty("spark.jobGroup.id", None)
    return ops


def end_to_end(wl, ops: list[dict], setup_s: float, rss_peak: int) -> tuple[dict, dict]:
    good = [o for o in ops if o["ok"]]
    walls = [o["wall_s"] for o in good] or [float("nan")]
    values = {
        "setup_s": setup_s,
        "tok_per_s": statistics.median(o["tokens"] / o["wall_s"] for o in good) if good else float("nan"),
        "query_ms_p50": statistics.median(walls) * 1e3,
        "query_ms_tail": tail([w * 1e3 for w in walls]),
        "stored_bytes_per_raw_byte": wl.stored_bytes() / wl.facts["arrow_bytes"],
        "bytes_vs_orc_java": wl.engine_bytes() / wl.orc_java_bytes(),
        "worker_rss_peak_mb": rss_peak / 2**20,
    }
    detail = {"query_ms_tail_percentile": "p90", "samples": len(good)}
    return values, detail


def traced_metrics(wl, spark, ops: list[dict], span_dir: str) -> tuple[dict, dict]:
    traced = [o for o in ops if o["traced"] and o["ok"]]
    plain = [o["wall_s"] for o in ops if not o["traced"] and o["ok"]]
    api = harness.StatusApi(spark.sparkContext)
    jobs = api.jobs_by_group({o["req"] for o in traced})
    records = ledger.read_span_files(span_dir)
    per_op = []
    for o in traced:
        tasks = [t for j in jobs[o["req"]] for s in j["stageIds"] for t in api.tasks(s)]
        recs = [r for r in records if r["req"] == o["req"]]
        per_op.append(ledger.op_ledger(o, tasks, recs))
    values = ledger.per_layer(per_op, wl.facts["arrow_bytes"])
    traced_walls = [o["wall_s"] for o in traced]
    values["trace.overhead_frac"] = (
        statistics.median(traced_walls) / statistics.median(plain) - 1 if traced_walls and plain else 0.0
    )
    os.makedirs(span_dir, exist_ok=True)
    with open(os.path.join(span_dir, "ops.jsonl"), "w") as f:
        for o in ops:
            f.write(json.dumps(o) + "\n")
    detail = {
        "ledger_per_op": [{k: round(p[k], 6) for k in ledger.LEDGER} for p in per_op],
        "targets": ledger.TARGETS,
        "traced_ops": len(traced),
        "untraced_ops": len(plain),
        "span_dir": os.path.relpath(span_dir, ROOT),
    }
    return values, detail


def main(argv: list[str]) -> int:
    args = parse(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ package at {ROOT}: run from a full checkout", file=sys.stderr)
        return 2

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work")
    harness.prepare_env(ROOT, work)
    wl = workloads.WORKLOADS[args.workload](work, args.seed)
    tracing = bool(args.trace)
    span_dir = os.path.join(work, "trace", f"{args.workload}-seed{args.seed}")
    shutil.rmtree(span_dir, ignore_errors=True)

    spark = harness.Spark(work, harness.nproc(), ui=tracing)
    timings: dict[str, float] = {}
    tracer = None
    try:
        with harness.RssSampler() as rss, ThreadPoolExecutor(1) as pool:
            # the corpus is generated while the JVM starts; the first
            # set-up pays the JVM's warm-up, then the reference the checks
            # compare against is computed; every set-up restarts the
            # session, so it pays Python worker start-up as a user's
            # first job does
            t0 = time.perf_counter()
            inputs = pool.submit(wl.make_inputs)
            session = spark.start()
            timings["jvm_start_s"] = time.perf_counter() - t0
            inputs.result()
            timings["inputs_s"] = time.perf_counter() - t0
            timings["corpus_gen_s"] = wl.gen_s
            t0 = time.perf_counter()
            wl.spark_inputs(session)
            timings["spark_inputs_s"] = time.perf_counter() - t0
            setups = []
            for k in range(SETUPS):
                t0 = time.perf_counter()
                session = spark.restart()
                wl.setup(session)
                setups.append(time.perf_counter() - t0)
                if k == 0:
                    t0 = time.perf_counter()
                    wl.reference(session)
                    timings["reference_s"] = time.perf_counter() - t0
            timings["setup_s"] = statistics.median(setups)
            timings["setups_s"] = setups
            t0 = time.perf_counter()
            for _ in range(wl.settle_ops):
                wl.op(session, -1)
            timings["settle_s"] = time.perf_counter() - t0
            if tracing:
                trace.install()
                tracer = trace.TRACER
                trace.patch_map_in_arrow(span_dir, lambda: tracer.active)
            t0 = time.perf_counter()
            ops = measure(wl, session, rss, args.seconds, tracer)
            timings["window_s"] = time.perf_counter() - t0
            if tracing:
                values, detail = traced_metrics(wl, session, ops, span_dir)
                units = ledger.UNITS
            else:
                t0 = time.perf_counter()
                wl.size_reference(session)
                timings["size_reference_s"] = time.perf_counter() - t0
                values, detail = end_to_end(wl, ops, timings["setup_s"], rss.peak)
                units = END_TO_END
    finally:
        t0 = time.perf_counter()
        spark.close()
        timings["close_s"] = time.perf_counter() - t0

    failed = sum(1 for o in ops if not o["ok"])
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": int(tracing),
        "host": harness.host_fingerprint(ROOT, PACKAGE, spark.master),
        "timings": timings,
        "op_ms": [round(o["wall_s"] * 1e3, 3) for o in ops],
        "failed_frac": failed / len(ops),
        "corpus": {k: wl.facts.get(k) for k in ("sha256", "tokens", "arrow_bytes", "orc_java_bytes")},
        **detail,
    }
    print(json.dumps(record))
    # a run without one correct operation has nothing to report: 0.0
    metrics = {k: {"value": float(values[k]) if math.isfinite(values[k]) else 0.0, "unit": u} for k, u in units.items()}
    print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
