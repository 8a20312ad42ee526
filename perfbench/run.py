"""pdftabextract_spark benchmark.

Usage, from the root of a checkout:

  python3 perfbench/run.py --workload text_extract --seed 1 --seconds 10 --trace 0

Workloads (workloads.py): text_extract, image_extract, checkpoint_resume,
dedup_q18. BENCHMARK.json lists text_extract and dedup_q18, the two whose
end-to-end runs fit the benchmark's run-time budget; the other two run by
hand, and the dedup_q18 trace runs their per-layer passes too, so every
layer is measured on a listed workload.

One Python process runs a closed loop at local[nproc]: one job at a time,
the next rep starts when the previous one has finished. Inputs come from
--seed and are generated before timing.

--trace 0 (end to end): set up once (JVM and session start, input
generation, the workload's untimed warm-up reps, which carry the JIT
through the steep part of its warm-up) and report that as setup_s; run
the job once more outside timing and check its output against ground
truth; then run reps for --seconds and report median throughput, median
CPU seconds per rep of the JVM and its Python workers, and the peak RSS
of that process tree.
The host's memory bandwidth is probed before and after the reps; a run
whose two readings differ by more than BW_DRIFT is marked in its record,
which also holds the CPU time the hypervisor stole during the reps.

--trace 1 (per layer): one set-up pass, the same check, then the
library's calls with each layer's output forced under its own Spark job
group, with stage and plan-node metrics read from the Spark REST API.
Spans go to perfbench/out/. The text_extract trace also runs the workload
at local[1], local[2] and local[nproc] and reports the scaling
efficiency. A metric of a layer the traced workloads do not run reads 0;
the record names those layers.

The last line of stdout is one JSON object: correct, attempted, failed and
the metrics (with their units).
"""

import argparse
import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

MAX_FAILED_REPS = 3
BW_DRIFT = 1.5


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the smoke test uses a tiny one)")
    return ap.parse_args(argv)


def emit(result, stamp):
    for name, m in result["metrics"].items():
        print(f"metric {name} = {m['value']} {m['unit']}")
    print(json.dumps({"record": stamp}))
    print(json.dumps(result), flush=True)


def print_unlisted(values, stamp):
    """Metrics BENCHMARK.json does not list: printed and recorded only."""
    from perfbench.metrics import UNLISTED

    for name, value in values.items():
        print(f"metric {name} = {value} {UNLISTED[name]}")
        stamp[name] = value


def setup_pass(host, wl, work, trace):
    t0 = time.perf_counter()
    spark, start_s = host.start_session(work, ui=bool(trace))
    wl.prepare(spark, work)
    t1 = time.perf_counter()
    for _ in range(wl.WARMUP_REPS):
        wl.job(spark)
    t2 = time.perf_counter()
    return spark, {"total_s": t2 - t0, "start_s": start_s,
                   "prepare_s": t1 - t0 - start_s, "warmup_s": t2 - t1}


def timed_reps(spark, wl, seconds):
    from perfbench.procstat import RssSampler, tree_cpu_s

    walls, cpus, attempted, failed = [], [], 0, 0
    with RssSampler() as rss:
        deadline = time.perf_counter() + seconds
        while True:
            spark.catalog.clearCache()
            spark.sparkContext._jvm.System.gc()
            attempted += 1
            c0, t0 = tree_cpu_s(), time.perf_counter()
            try:
                wl.job(spark)
            except Exception:
                failed += 1
                traceback.print_exc(file=sys.stderr)
                if failed >= MAX_FAILED_REPS:
                    break
            else:
                walls.append(time.perf_counter() - t0)
                cpus.append(tree_cpu_s() - c0)
            if time.perf_counter() >= deadline:
                break
    return walls, cpus, attempted, failed, rss.peak_mb


def end_to_end(args, host, wl, work, stamp):
    from perfbench.metrics import END_TO_END

    spark, setup = setup_pass(host, wl, work, 0)
    correct_frac = wl.check(spark)
    stamp["setup"] = setup
    if correct_frac < 1.0:
        spark.stop()
        stamp["correct_frac"] = correct_frac
        return {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
    bw, steal0 = [host.bandwidth_gbps()], host.steal_s()
    walls, cpus, attempted, failed, peak_mb = timed_reps(
        spark, wl, args.seconds)
    stamp["reps_steal_s"] = host.steal_s() - steal0
    bw.append(host.bandwidth_gbps())
    spark.stop()
    stamp["reps_bw_gbps"] = bw
    if None not in bw:
        stamp["bw_steady"] = max(bw) <= BW_DRIFT * min(bw)
    stamp["rep_walls_s"] = walls
    if hasattr(wl, "extra") and walls:
        print_unlisted(wl.extra(), stamp)
    stamp["failed_frac"] = failed / attempted
    if not walls:
        return {"correct": False, "attempted": attempted, "failed": failed,
                "metrics": {}}
    wall = statistics.median(walls)
    values = {
        "setup_s": setup["total_s"],
        "docs_per_s": wl.n_docs / wall,
        "pages_per_s": wl.n_pages / wall,
        "cpu_s": statistics.median(cpus),
        "peak_rss_mb": peak_mb,
        "correct_frac": correct_frac,
    }
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": values[k], "unit": u}
                        for k, u in END_TO_END.items()}}


def scaling(host, wl, work, spark):
    """Docs/s of the text workload at local[1], local[2], local[nproc]."""
    n = host.nproc()
    levels = {"local1": 1, "local2": min(2, n), "localN": n}
    out = {}
    for tag, cores in levels.items():
        spark.stop()
        spark, _ = host.start_session(work, cores=cores)
        wl.reopen(spark, work)
        wl.job(spark)  # warmup
        t0 = time.perf_counter()
        wl.job(spark)
        out[f"scale.{tag}.docs_per_s"] = wl.n_docs / (time.perf_counter() - t0)
    spark.stop()
    out["scale.efficiency"] = (out["scale.localN.docs_per_s"]
                               / (n * out["scale.local1.docs_per_s"]))
    return out


def also_traced(args, spark, work, tracer, rest, name, stamp):
    """The lean per-layer pass of an unlisted workload in this run's
    session, after its own check: the metrics of its own layer only, or
    None if its output is wrong."""
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[name](args.seed, args.scale)
    wl.prepare(spark, work)
    correct_frac = wl.check(spark)
    stamp[f"{name}.correct_frac"] = correct_frac
    if correct_frac < 1.0:
        return None
    return wl.traced(spark, tracer, rest, full=False)


def traced(args, host, wl, work, stamp):
    from perfbench.metrics import PER_LAYER
    from perfbench.rest import Rest
    from perfbench.tracing import Tracer
    from perfbench.workloads import kernel_floor

    spark, s = setup_pass(host, wl, work, 1)
    correct_frac = wl.check(spark)
    stamp["setup"] = s
    stamp["correct_frac"] = correct_frac
    if correct_frac < 1.0:
        spark.stop()
        return {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
    tracer, rest = Tracer(spark), Rest(spark)
    layer = wl.traced(spark, tracer, rest)
    for other in wl.ALSO_TRACED:
        own = also_traced(args, spark, work, tracer, rest, other, stamp)
        if own is None:
            spark.stop()
            return {"correct": False, "attempted": 1, "failed": 1,
                    "metrics": {}}
        layer.update(own)
    with tracer.span("kernels", group=False):
        layer.update(kernel_floor())
    layer["session.start_s"] = s["start_s"]
    layer["session.warmup_s"] = s["warmup_s"]
    layer["trace.overhead_s"] = layer["trace.traced_s"] - layer[
        "trace.untraced_s"]
    if wl.name == "text_extract":
        layer.update(scaling(host, wl, work, spark))
    else:
        spark.stop()
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    spans_path = os.path.join(out_dir,
                              f"spans-{wl.name}-seed{args.seed}.json")
    tracer.write(spans_path)
    stamp["spans_file"] = os.path.relpath(spans_path, ROOT)
    stamp["layers_not_run"] = sorted(set(PER_LAYER) - set(layer))
    return {"correct": True, "attempted": 1, "failed": 0,
            "metrics": {k: {"value": float(layer.get(k, 0.0)), "unit": u}
                        for k, u in PER_LAYER.items()}}


def main(argv=None):
    args = parse_args(argv)
    # import the package from the checkout, not this directory's modules
    # as top-level names
    sys.path[0] = ROOT
    try:
        import pyspark  # noqa: F401
        import pdftabextract_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the library from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    from perfbench import host
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    stamp = host.stamp(ROOT, args.workload, args.seed, args.trace)
    wl = WORKLOADS[args.workload](args.seed, args.scale)
    run = traced if args.trace else end_to_end
    with host.WorkDir(ROOT, f"{args.workload}-{args.seed}-{os.getpid()}") \
            as work:
        try:
            result = run(args, host, wl, work, stamp)
        finally:
            host.shutdown()
    emit(result, stamp)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
