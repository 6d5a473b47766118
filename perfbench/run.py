#!/usr/bin/env python3
"""homonim_spark benchmark: one workload per invocation.

    python3 perfbench/run.py --workload fuse_tiles --seed 1 --seconds 5 --trace 0

Starts a ``local[nproc]`` session, sets up the workload's seeded inputs
three times (``setup_s`` is session start + the median input set-up +
warm-up), then runs reps one at a time (a closed loop with one client) for
``--seconds`` and at least the workload's ``min_reps``, and checks every
rep's output.  A rep whose output check fails counts as failed.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates
untraced and traced reps, reads Spark's status store around the traced
ones, measures single layers, writes the spans to
``.perfbench_work/trace-<workload>.json`` and prints the per-layer
metrics.  The line before the last is a ``{"detail": ...}`` record with
the host, the configuration and every rep time; the last line is the
result.  Exit code 1 when an output check failed, 2 when the engine is
not beside this directory.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
import types

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)

#: input set-ups per run; setup_s takes their median
SETUP_REPS = 3
#: measured reps of a traced run at least: it alternates untraced and
#: traced reps and needs two of each
MIN_REPS_TRACED = 4

#: gated metrics.  Rep cost is CPU time (user + system of the client, the
#: driver JVM and its Python workers): hypervisor steal stretches wall time
#: by up to 1.5x on shared hosts but is not charged as CPU time.  Wall-clock
#: figures are in the detail record.
END_TO_END = {"setup_s": "s", "peak_rss_mb": "MB", "rep_cpu_s_p50": "s",
              "items_per_cpu_s": "1/s"}
#: per-layer metrics; a layer the workload does not run reports 0
PER_LAYER = (
    ["session.start_s", "datagen.generate_s", "warmup_s", "trace.overhead_s",
     "spark.jobs_per_rep", "spark.tasks_per_rep", "spark.run_task_s",
     "spark.jvm_cpu_task_s", "spark.gc_task_s", "spark.scan_bytes",
     "spark.bytes_written", "spark.shuffle_write_bytes", "spark.spill_bytes",
     "python.arrow_to_python_bytes", "python.arrow_from_python_bytes",
     "python.run_task_s", "python.init_task_s",
     "fuse.infer_config_s", "fuse.referenced_tiles_s", "fuse.route_tiles_s",
     "fuse.group_stage_s", "kernel.fit_apply_s", "kernel.share_of_python",
     "tiles.codec_s",
     "lineage.stage_ingest_s", "lineage.stage_fuse_s", "lineage.stage_sink_s",
     "lineage.stage_stats_s", "lineage.resume_s", "sink.export_gtiff_s",
     "pipeline.rep_s", "pipeline.jobs_per_rep", "pipeline.scan_bytes",
     "pipeline.bytes_written"]
)
#: the wall-clock metric each workload is named by, in the detail record
OWN_METRIC = {"fuse_tiles": ("fuse_tiles_per_s", "tiles/s"),
              "operator_suite": ("suite_pass_s_p50", "s")}


def _unit(name: str) -> str:
    if "bytes" in name:
        return "B"
    if name.endswith("_s"):
        return "s"
    if name.startswith("kernel.share"):
        return "ratio"
    return "count"


def timing_summary(samples: list) -> dict:
    """Median, sample count and the highest percentile (of 90/99) that has
    at least ten samples beyond it."""
    out = {"n": len(samples), "p50": statistics.median(samples) if samples else None}
    for p in (99, 90):
        if len(samples) * (100 - p) / 100 >= 10:
            out[f"p{p}"] = statistics.quantiles(samples, n=100)[p - 1]
            break
    return out


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(OWN_METRIC))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full",
                    help="input size; 'tiny' is for the self-test")
    return ap.parse_args(argv)


def _stop_spark(spark) -> None:
    """Stop the session and the driver JVM, and wait until the JVM and the
    Python workers it started have exited."""
    import host
    from pyspark import SparkContext
    pids = host.descendants(os.getpid())
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None
    left = host.wait_gone(pids)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    host.wait_gone(left, timeout=5)


def run(args) -> int:
    sys.path[:0] = [ROOT, BENCH_DIR]
    import host
    import tracing
    import workloads
    from homonim_spark.session import get_spark

    work_root = os.path.join(ROOT, ".perfbench_work")
    work_dir = os.path.join(work_root, f"{args.workload}-{os.getpid()}")
    os.makedirs(work_dir)
    record = host.HostRecord()
    conf = host.spark_conf(work_dir, ROOT, BENCH_DIR)
    tracer = tracing.Tracer(bool(args.trace))
    spark = None
    detail = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "scale": args.scale, "master": conf["master"],
              "shuffle_partitions": conf["shuffle_partitions"],
              "sizes": workloads.SIZES[args.scale]}
    try:
        with host.RssSampler() as rss:
            t0 = time.perf_counter()
            with tracer.span("session.start"):
                spark = get_spark(app_name=f"perfbench-{args.workload}", master=conf["master"],
                                  shuffle_partitions=conf["shuffle_partitions"],
                                  extra_conf=conf["extra_conf"])
                spark.sparkContext.setLogLevel("ERROR")
            session_s = time.perf_counter() - t0
            ctx = types.SimpleNamespace(
                spark=spark, seed=args.seed, scale=args.scale, work_dir=work_dir,
                cores=host.cores(), shuffle_partitions=conf["shuffle_partitions"],
                tracer=tracer, counters=tracing.StatusCounters(spark) if args.trace else None)
            wl = workloads.WORKLOADS[args.workload](ctx)
            gen_s = []
            for k in range(SETUP_REPS):
                if k:
                    wl.release()
                t = time.perf_counter()
                with tracer.span("datagen.generate", repetition=k):
                    wl.generate(k)
                gen_s.append(time.perf_counter() - t)
            t = time.perf_counter()
            with tracer.span("warmup"):
                wl.warmup()
            warmup_s = time.perf_counter() - t
            setup_s = session_s + statistics.median(gen_s) + warmup_s
            detail["setup"] = {"session_start_s": session_s, "generate_s": gen_s,
                               "warmup_s": warmup_s}

            reps, counts, failures = [], [], []
            attempted = failed = 0
            min_reps = MIN_REPS_TRACED if args.trace else wl.min_reps
            t_end = time.perf_counter() + args.seconds
            while attempted < min_reps or time.perf_counter() < t_end:
                rec = {"traced": bool(args.trace) and attempted % 2 == 1}
                attempted += 1
                rss.reset()
                cpu0 = host.cpu_seconds()
                t = time.perf_counter()
                try:
                    with tracer.span("rep", index=attempted, traced=rec["traced"]):
                        if rec["traced"]:
                            with ctx.counters.measure(counts):
                                out = wl.rep()
                        else:
                            out = wl.rep()
                    rep_failures = None
                except Exception as exc:  # a failed op is counted, not fatal
                    traceback.print_exc(file=sys.stderr)
                    rep_failures = [f"rep {attempted}: {type(exc).__name__}: {exc}"]
                rec.update(wall_s=time.perf_counter() - t, cpu_s=host.cpu_seconds() - cpu0,
                           rss_mb=rss.peak / 2**20)
                if rep_failures is None:
                    try:
                        rep_failures = wl.check_rep(out)
                    except Exception as exc:
                        traceback.print_exc(file=sys.stderr)
                        rep_failures = [f"check {attempted}: {type(exc).__name__}: {exc}"]
                rec["ok"] = not rep_failures
                reps.append(rec)
                if rep_failures:
                    failed += 1
                    failures += rep_failures
            layer = {}
            if args.trace:
                # the layer measurements count as one more checked op
                attempted += 1
                try:
                    layer, layer_failures = wl.layers()
                except Exception as exc:
                    traceback.print_exc(file=sys.stderr)
                    layer_failures = [f"layers: {type(exc).__name__}: {exc}"]
                if layer_failures:
                    failed += 1
                    failures += layer_failures
    finally:
        _stop_spark(spark)
        shutil.rmtree(work_dir, ignore_errors=True)

    # figures come from the successful untraced reps; when there are none
    # the result is already marked incorrect and every rep stands in
    plain = [r for r in reps if r["ok"] and not r["traced"]] or reps
    wall = [r["wall_s"] for r in plain]
    rep_s, cpu_s = wl.typical("wall_s", plain), wl.typical("cpu_s", plain)
    end_to_end = {"setup_s": setup_s,
                  "peak_rss_mb": statistics.median(r["rss_mb"] for r in plain),
                  "rep_cpu_s_p50": cpu_s, "items_per_cpu_s": wl.items / cpu_s}
    own, unit = OWN_METRIC[args.workload]
    detail.update({
        "host": record.finish(), "reps": reps,
        "rep_s_p50": {"value": rep_s, "unit": "s", **timing_summary(wall)},
        "items_per_rep": wl.items, "item_unit": wl.unit,
        own: {"value": wl.items / rep_s if unit.endswith("/s") else rep_s, "unit": unit,
              "samples": len(wall)},
        "ops_failed_ratio": {"value": failed / attempted, "unit": "ratio"},
        "failures": failures[:20],
    })
    correct = not failures
    if args.trace:
        leaves = [f"{mod}.{n}_s" for n, mod in workloads.SUITE_LEAVES.items()]
        metrics = {name: 0.0 for name in PER_LAYER + leaves}
        metrics.update({"session.start_s": session_s,
                        "datagen.generate_s": statistics.median(gen_s),
                        "warmup_s": warmup_s})
        traced = [r["wall_s"] for r in reps if r["ok"] and r["traced"]]
        if traced and wall:
            metrics["trace.overhead_s"] = statistics.median(traced) - statistics.median(wall)
        for key in (counts[0] if counts else {}):
            name = key + "_per_rep" if key in ("spark.jobs", "spark.tasks") else key
            metrics[name] = statistics.median(c[key] for c in counts)
        metrics.update(layer)
        if "fuse.route_tiles_s" in layer:
            metrics["fuse.group_stage_s"] = rep_s - layer["fuse.route_tiles_s"]
        py_s, kernel_s = metrics["python.run_task_s"], metrics["kernel.fit_apply_s"]
        if py_s > 0 and kernel_s > 0:
            metrics["kernel.share_of_python"] = kernel_s / py_s
        tracer.dump(os.path.join(work_root, f"trace-{args.workload}.json"))
        result = {name: {"value": v, "unit": _unit(name)} for name, v in metrics.items()}
    else:
        result = {name: {"value": v, "unit": END_TO_END[name]} for name, v in end_to_end.items()}
    print(json.dumps({"detail": detail}, default=float))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": result}))
    return 0 if correct else 1


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [p for p in ("homonim_spark/__init__.py", "__spark_entry__.py",
                           "tools/check_oracles.py")
               if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: engine sources not found beside {BENCH_DIR}: {missing}",
              file=sys.stderr)
        return 2
    if not (args.seconds > 0 and math.isfinite(args.seconds)):
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
