"""Benchmark entry point.

    python3 perfbench/run.py --workload monthly_batch --seed 1 --seconds 20 --trace 0

Run from the repository root. Generates the inputs from ``--seed``,
runs the workload on ``local[<cores>]``, checks every output, and
prints one JSON object as the last line of standard output. With
``--trace 0`` it reports the end-to-end metrics, with ``--trace 1``
the per-layer metrics of a traced run (Spark event log on, one job
group per layer call). The full report, with the host receipt, goes to
``.perfbench/results/`` and to standard error.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RESULTS = os.path.join(ROOT, ".perfbench", "results")
PACKAGE = "batch_process_dpla_index_spark"


def parse_args(argv):
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = p.parse_args(argv)
    if args.seconds < 1:
        p.error("--seconds must be positive")
    return args


def cores() -> int:
    return len(os.sched_getaffinity(0))


def host_receipt(spark) -> dict:
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True)
        commit = r.stdout.strip() or None
    import pyspark

    return {
        "nproc": cores(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "git_commit": commit,
    }


def setup(wl, data, work: str, n: int):
    """Launch the JVM, then set up ``wl.setup_reps`` times: a fresh
    session from ``session.get_spark``, a warm-up job and the input
    materialization. Returns the last session, its inputs, the JVM
    launch time and the set-up times."""
    from perfbench.harness import build_session, rmtree

    t0 = time.perf_counter()
    spark = build_session(work, n)
    jvm_s = time.perf_counter() - t0
    inputs, times = None, []
    for rep in range(wl.setup_reps):
        rep_dir = os.path.join(work, f"setup{rep}")
        t0 = time.perf_counter()
        spark.stop()
        spark = build_session(work, n)
        spark.range(0, 100_000, numPartitions=n).selectExpr("sum(id)").collect()
        inputs = wl.materialize(spark, data, rep_dir)
        times.append(time.perf_counter() - t0)
        if rep:
            rmtree(os.path.join(work, f"setup{rep - 1}"))
    return spark, inputs, jvm_s, times


def layer_report(spans, event_groups: dict, n: int, bulk_span: str) -> dict:
    """Per-layer medians over the calls outside the cold bulk pass, from
    the spans plus the event-log task metrics of each span's job group."""
    from perfbench.spans import self_times
    from perfbench.stats import median
    from perfbench.workloads import LAYER_METRICS, LAYERS, MS_LAYERS

    units = {"jobs": "count", "stages": "count", "tasks": "count", "busy_share": "share",
             "shuffle_write_mb": "MB", "spill_mb": "MB", "out_mb": "MB"}
    selfs = self_times(spans)
    # the cold bulk pass is left out: it pays JIT and worker start-up
    cold = next((s.id for s in spans if s.name == bulk_span), -1)
    out = {}
    for layer in LAYERS:
        calls = [s for s in spans if s.name == layer and s.parent != cold]
        per = {m: [] for m in LAYER_METRICS}
        for s in calls:
            ev = event_groups.get(s.job_group, {})
            per["wall"].append(s.dur * (1e3 if layer in MS_LAYERS else 1))
            per["self_s"].append(selfs[s.id])
            for k in ("jobs", "stages", "tasks"):
                per[k].append(s.counts.get(k, 0))
            per["task_cpu_s"].append(ev.get("cpu_s", 0.0))
            per["busy_share"].append(ev.get("run_s", 0.0) / (s.dur * n))
            for k in ("gc_s", "shuffle_write_mb", "spill_mb", "out_mb"):
                per[k].append(ev.get(k, 0.0))
        for m in LAYER_METRICS:
            name, unit = f"{layer}.{m}", units.get(m, "s")
            if m == "wall":
                ms = layer in MS_LAYERS
                name, unit = f"{layer}.wall_{'ms' if ms else 's'}", "ms" if ms else "s"
            # a layer the workload does not run reports 0
            out[name] = {"value": float(median(per[m])) if calls else 0.0, "unit": unit}
        out[f"{layer}.calls"] = len(calls)
    return out


def serve_metrics(serve: list[float]) -> dict:
    from perfbench.stats import median, tail

    value, pct = tail(serve)
    return {"serve_p50_ms": 1e3 * median(serve), "serve_tail_ms": 1e3 * value,
            "serve_tail_pct": pct, "serve_n": len(serve)}


def trace_report(rec, event_dir: str, n: int, bulk_span: str, batch_s: float, untraced_batch_s: float) -> dict:
    """Per-layer metrics plus the trace summary: overhead against the
    untraced passes, and how much of each warm bulk pass the layer
    spans cover."""
    from perfbench.spans import parse_event_log, self_times, union_length
    from perfbench.stats import median

    groups: dict = {}
    for f in sorted(os.listdir(event_dir)):
        with open(os.path.join(event_dir, f), encoding="utf-8") as fh:
            groups.update(parse_event_log(fh))
    layers = layer_report(rec.spans, groups, n, bulk_span)
    warm = [s for s in rec.spans if s.name == bulk_span][1:]
    kids = {s.id: [(c.start, c.end) for c in rec.spans if c.parent == s.id] for s in warm}
    selfs = self_times(rec.spans)
    layers["trace.overhead_share"] = {"value": batch_s / untraced_batch_s - 1, "unit": "share"}
    layers["trace.batch_span_coverage"] = {
        "value": median([union_length(kids[s.id]) / s.dur for s in warm]), "unit": "share"}
    layers["trace.batch_self_s"] = {"value": median([selfs[s.id] for s in warm]), "unit": "s"}
    return layers


def run(args) -> dict:
    from perfbench.harness import Ops, build_session, rmtree, shutdown
    from perfbench.spans import Recorder
    from perfbench.stats import median
    from perfbench.workloads import BULK_SPAN, WORKLOADS, Ctx, layer_spans

    wl = WORKLOADS[args.workload]
    n = cores()
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    rmtree(work)
    os.makedirs(work)
    report: dict = {"workload": args.workload, "seed": args.seed,
                    "seconds": args.seconds, "trace": args.trace}
    phases = report["phase_s"] = {}
    clock = [time.perf_counter()]

    def phase(name: str) -> None:
        now = time.perf_counter()
        phases[name] = now - clock[0]
        clock[0] = now

    load_start = os.getloadavg()
    spark = None
    try:
        data = wl.generate(args.seed, args.seconds)
        phase("generate")
        spark, inputs, jvm_s, setup_times = setup(wl, data, work, n)
        phase("setup")
        truth = wl.truth(data)
        receipt = host_receipt(spark)
        phase("truth")
        rec, ops = Recorder(), Ops()
        if args.trace:
            # a fresh session with the event log on for the traced run
            spark.stop()
            event_dir = os.path.join(work, "eventlog")
            spark = build_session(work, n, event_log_dir=event_dir)
            rec = Recorder(spark.sparkContext)
        ctx = Ctx(spark, rec, ops, work, args.seconds)
        if args.trace and args.workload == "monthly_batch":
            with layer_spans(rec):
                res = wl.run(ctx, data, inputs, truth)
        else:
            res = wl.run(ctx, data, inputs, truth)
        phase("workload")
        report["e2e"] = {
            "setup_s": median(setup_times),
            "cold_batch_s": res["cold_batch_s"],
            "batch_s": res["batch_s"],
            **serve_metrics(res["serve"]),
            "update_s": res["update_s"],
            "stored_bytes_ratio": res["stored_bytes_ratio"],
            "recall": res["recall"],
            "driver_py_peak_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024,
        }
        report.update(
            inputs={"rows": inputs["rows"], "bytes": inputs["bytes"]},
            jvm_start_s=jvm_s, setup_times=setup_times,
            dup_recall=res.get("dup_recall"), ann_recall_at_10=res.get("ann_recall_at_10"),
        )
        if args.trace:
            # the untraced reference for the overhead: the bulk passes
            # again in a fresh session without the event log. It runs in
            # a warmer JVM than the traced passes, so it overstates the
            # overhead rather than hiding it.
            spark.stop()
            spark = build_session(work, n)
            untraced, _ = wl.bulk(Ctx(spark, Recorder(), ops, work, args.seconds), data, inputs, truth, warm=1)
            phase("untraced")
            report["untraced_batch_s"] = median(untraced[1:])
            report["layers"] = trace_report(
                rec, event_dir, n, BULK_SPAN[args.workload],
                res["batch_s"], report["untraced_batch_s"],
            )
            os.makedirs(RESULTS, exist_ok=True)
            rec.dump(os.path.join(RESULTS, f"{args.workload}-seed{args.seed}-spans.jsonl"))
        report.update(
            attempted=ops.attempted, failed=ops.failed,
            failed_ops_share=ops.failed / max(1, ops.attempted), failures=ops.failures,
        )
        report["host"] = {**receipt, "loadavg_start": load_start, "loadavg_end": os.getloadavg()}
    finally:
        phase("report")
        try:
            shutdown(spark)
            phase("shutdown")
        finally:
            rmtree(work)
    phase("cleanup")
    return report


def emit(args, report: dict) -> None:
    if args.trace:
        from perfbench.workloads import layer_metric_names

        metrics = {k: report["layers"][k] for k in layer_metric_names()}
    else:
        units = {"setup_s": "s", "cold_batch_s": "s", "batch_s": "s", "serve_p50_ms": "ms",
                 "serve_tail_ms": "ms", "update_s": "s", "stored_bytes_ratio": "ratio",
                 "recall": "share", "driver_py_peak_mb": "MB"}
        metrics = {k: {"value": float(report["e2e"][k]), "unit": u} for k, u in units.items()}
    os.makedirs(RESULTS, exist_ok=True)
    path = os.path.join(RESULTS, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w", encoding="utf-8") as f:
        json.dump(report, f, indent=1, default=str)
    keys = ("host", "phase_s", "e2e", "failed_ops_share", "failures")
    print(json.dumps({k: report[k] for k in keys}, default=str), file=sys.stderr)
    print(json.dumps({
        "correct": report["failed"] == 0,
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": metrics,
    }))


def main(argv=None) -> int:
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: the {PACKAGE} package is not in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    # scratch files of Python, the JVM and the Python workers stay in the
    # checkout; workers import the package from it
    tmp = os.path.join(ROOT, ".perfbench", "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    emit(args, run(args))
    return 0


if __name__ == "__main__":
    sys.exit(main())
