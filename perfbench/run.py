"""plda-spark benchmark: one command per workload, end to end or traced.

    python3 perfbench/run.py --workload lda_train --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The inputs are generated from
``--seed``; the program only sees the generated files.  Set-up is the
session start, input generation (median of ``GENERATE_ROUNDS``) and the
workload's fixed full-size warm-up.  The timed region then runs whole
passes until ``--seconds`` have passed (at least the workload's
``min_passes``), and every pass's outputs are checked afterwards.

With ``--trace 1`` the session also writes Spark's event log, and after
the timed passes one more pass runs with spans and a job group around
each benchmark call, followed by the workload's extra calls for the
layer split.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``).  The lines above it print
every metric by name with its unit, and the run's full record is
written to ``.bench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("lda_train", "lda_wide", "curation")
GENERATE_ROUNDS = 3
DRIVER_MEMORY = "2g"

END_TO_END = [
    ("setup_s", "s"),
    ("job_s", "s"),
    ("cpu_s", "s"),
    ("items_per_s", "1/s"),
    ("peak_rss_mb", "MB"),
]
# measured per timed pass; setup_s is measured once per run
PER_PASS = [name for name, _ in END_TO_END if name != "setup_s"]

# A workload reports the metrics of the layers it calls; the rest print as n/a.
PER_LAYER = [
    ("kernel.train_ns_per_token", "ns"),
    ("kernel.infer_ns_per_token", "ns"),
    ("train.iter_s", "s"),
    ("train.iter_jobs", "count"),
    ("train.iter_tasks", "count"),
    ("train.iter_executor_cpu_s", "s"),
    ("train.iter_python_bytes", "B"),
    ("train.iter_shuffle_bytes", "B"),
    ("train.iter_result_bytes", "B"),
    ("train.iter_driver_s", "s"),
    ("train.kernel_share", "ratio"),
    ("train.setup_s", "s"),
    ("train.setup_jobs", "count"),
    ("train.setup_shuffle_bytes", "B"),
    ("sources.read_s", "s"),
    ("sources.jobs", "count"),
    ("infer.transform_s", "s"),
    ("infer.jobs", "count"),
    ("infer.python_bytes", "B"),
    ("infer.heldout_perplexity", "ppl"),
    ("model.save_text_s", "s"),
    ("model.load_text_s", "s"),
    ("ops.build_s", "s"),
    ("ops.build_jobs", "count"),
    ("ops.exec_s", "s"),
    ("ops.exec_jobs", "count"),
    ("ops.stages", "count"),
    ("ops.single_task_stages", "count"),
    ("ops.tasks", "count"),
    ("ops.shuffle_bytes", "B"),
    ("ops.executor_cpu_s", "s"),
    ("dedup.minhash_s", "s"),
    ("dedup.components_s", "s"),
    ("dedup.components_jobs", "count"),
    ("stats.sketch_s", "s"),
    ("ops.persisted_rdds_leaked", "count"),
    ("spark.gc_s", "s"),
    ("spark.spill_bytes", "B"),
    ("spark.peak_heap_mb", "MB"),
    ("session.start_s", "s"),
    ("host.steal_s", "s"),
    ("host.calib_s", "s"),
    ("trace.overhead_s", "s"),
]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def make_workload(name: str, bench, seed: int):
    if name == "curation":
        from curation import CurationWorkload, TableShape

        return CurationWorkload(TableShape(), bench, seed)
    from lda import LdaWorkload, lda_train_spec, lda_wide_spec

    spec = (lda_train_spec if name == "lda_train" else lda_wide_spec)(bench.cores)
    return LdaWorkload(spec, bench, seed)


def set_up(bench, wl) -> dict[str, float]:
    """Start the session, generate the inputs, warm the workload's path.

    Input generation is repeated ``GENERATE_ROUNDS`` times and enters
    ``setup_s`` as its median; the session start and the warm-up run
    once (a second session start would reuse the JVM, and a second
    warm-up would run warm)."""
    from harness import median

    t0 = time.perf_counter()
    spark = bench.start_session()
    session_s = time.perf_counter() - t0
    rounds = []
    for _ in range(GENERATE_ROUNDS):
        t0 = time.perf_counter()
        wl.generate()
        rounds.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    wl.warm_up(spark)
    warm_s = time.perf_counter() - t0
    return {"session_s": session_s, "generate_s": median(rounds), "warm_up_s": warm_s}


def timed_pass(bench, wl, tracer, proc) -> tuple[object, dict[str, float]]:
    """One pass with its wall time, process-tree CPU time and peak PSS."""
    cpu0 = proc.cpu_s()
    with proc:
        t0 = time.perf_counter()
        p = wl.run_pass(bench.spark, tracer)
        job_s = time.perf_counter() - t0
    return p, {"job_s": job_s, "cpu_s": proc.cpu_s() - cpu0,
               "items_per_s": wl.items() / job_s, "peak_rss_mb": proc.peak_mb}


def host_window(fn):
    """Run ``fn`` between two host probes; returns its result, the CPU
    steal over it, and the mean probe time."""
    from harness import calib_s, steal_s

    before = calib_s()
    steal0 = steal_s()
    out = fn()
    steal = steal_s() - steal0
    return out, {"host.steal_s": steal, "host.calib_s": (before + calib_s()) / 2}


def run(args) -> dict:
    from harness import Bench, NoTracer, ProcTree, median

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    bench = Bench(ROOT, work, cores, DRIVER_MEMORY, event_log=bool(args.trace))
    try:
        wl = make_workload(args.workload, bench, args.seed)
        setup = set_up(bench, wl)
        proc = ProcTree(bench.jvm_pid())

        def passes():
            out = []
            start = time.perf_counter()
            while len(out) < wl.min_passes or time.perf_counter() - start < args.seconds:
                out.append(timed_pass(bench, wl, NoTracer(), proc))
            return out

        timed, host = host_window(passes)
        e2e = {"setup_s": sum(setup.values())}
        e2e.update({k: median(m[k] for _, m in timed) for k in PER_PASS})
        checks = [wl.check(bench.spark, p) for p, _ in timed]
        report = {
            "workload": args.workload, "seed": args.seed, "cores": cores,
            "inputs": wl.describe(), "setup": setup, "end_to_end": e2e, "host": host,
            "passes": [m for _, m in timed],
        }
        if args.trace:
            layers, record, more = trace(bench, wl, timed[-1][1]["job_s"], setup["session_s"],
                                         proc)
            report.update(record, per_layer=layers)
            checks += more
        report.update({
            "attempted": sum(c.attempted for c in checks),
            "failed": sum(c.failed for c in checks),
            "failures": [m for c in checks for m in c.messages],
            "check_details": [c.details for c in checks],
        })
        return report
    finally:
        bench.close()


def trace(bench, wl, last_job_s: float, session_s: float, proc):
    """The traced pass, one more untraced pass, the workload's extra
    calls, then the event log.

    Passes keep getting warmer, so the tracing overhead is the traced
    pass's time minus the mean of the untraced passes just before and
    just after it.  Returns the per-layer metrics (``None`` for a layer
    the workload does not call), the record (spans, per-group counters
    and call sites), and the checks of the two passes."""
    from eventlog import UNGROUPED, Counters, read_counters
    from harness import EXTRA, JvmMemory, NoTracer, Tracer

    spark = bench.spark
    tracer = Tracer(f"{wl.__class__.__name__}-{os.getpid()}", spark.sparkContext)
    jvm = JvmMemory(spark)
    jvm.reset_peak()
    gc0 = jvm.gc_s()
    (traced, m), host = host_window(lambda: timed_pass(bench, wl, tracer, proc))
    runtime = {"spark.gc_s": jvm.gc_s() - gc0, "spark.peak_heap_mb": jvm.peak_heap_mb()}
    after, after_m = timed_pass(bench, wl, NoTracer(), proc)
    wl.trace_extra(spark, tracer)
    checks = [wl.check(spark, traced), wl.check(spark, after)]
    bench.stop_session()  # flushes and closes the event log
    groups = read_counters(bench.event_log())
    in_pass = sum((c for g, c in groups.items() if g != UNGROUPED and not g.startswith(EXTRA)),
                  Counters())
    layers = {name: None for name, _ in PER_LAYER}
    layers.update(wl.layer_metrics(traced, tracer, groups, checks[0]))
    layers.update(runtime)
    layers.update(host)
    layers.update({
        "spark.spill_bytes": float(in_pass.spill_bytes),
        "session.start_s": session_s,
        "trace.overhead_s": m["job_s"] - (last_job_s + after_m["job_s"]) / 2,
    })
    record = {
        "traced_pass": m,
        "untraced_after": after_m,
        "spans": tracer.records(),
        "groups": {g: {**vars(c), "python_bytes": c.python_bytes} for g, c in groups.items()},
    }
    return layers, record, checks


def print_report(report: dict) -> None:
    print(f"workload {report['workload']}  seed {report['seed']}  cores {report['cores']}  "
          f"passes {len(report['passes'])}")
    print("  inputs " + "  ".join(f"{k} {v}" for k, v in report["inputs"].items()))
    print("  setup parts " + "  ".join(f"{k} {v:.3f}" for k, v in report["setup"].items()))
    print("  host " + "  ".join(f"{k} {v:.3f}" for k, v in report["host"].items()))
    for name, unit in END_TO_END:
        print(f"  {name:28s} {report['end_to_end'][name]:14.4f} {unit}")
    if "per_layer" in report:
        for name, unit in PER_LAYER:
            value = report["per_layer"][name]
            if value is None:
                print(f"  {name:28s} {'n/a':>14s} {unit}  "
                      f"({report['workload']} does not call this layer)")
            else:
                print(f"  {name:28s} {value:14.6g} {unit}")
    for msg in report["failures"]:
        print(f"  FAILED {msg}")


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "plda_spark", "__init__.py")):
        print(f"perfbench: no plda_spark checkout at {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))
    try:
        report = run(args)
    except Exception:
        traceback.print_exc()
        return 1
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    kind = "trace" if args.trace else "run"
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-{kind}.json"), "w") as f:
        json.dump(report, f, indent=1, default=float)
    print_report(report)
    if args.trace:
        # a layer the workload does not call reads 0 here and n/a above
        metrics = {n: {"value": report["per_layer"][n] or 0.0, "unit": u} for n, u in PER_LAYER}
    else:
        metrics = {n: {"value": report["end_to_end"][n], "unit": u} for n, u in END_TO_END}
    print(json.dumps({
        "correct": report["failed"] == 0,
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
