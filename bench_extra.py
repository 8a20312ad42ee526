"""Extra benchmarks (guide §1.4): isolate individual declared queries with
the noop sink and capture per-stage metrics via the UI REST API.

NOT part of the driver contract — ``bench.py`` stays the official record.
Usage:
  python bench_extra.py q18_ngram_jaccard [--sf /root/testdata/sf1.0] [--reps 3]
  python bench_extra.py --all              # every OPERATOR_QUERIES entry once
  python bench_extra.py q18_ngram_jaccard --explain plans/r06/q18_before.txt
"""

import argparse
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def stage_metrics(base, seen):
    try:
        stages = json.load(urllib.request.urlopen(
            base + "/stages?status=COMPLETE", timeout=30))
    except Exception:
        return {}
    new = [s for s in stages if (s["stageId"], s["attemptId"]) not in seen]
    for s in new:
        seen.add((s["stageId"], s["attemptId"]))
    det = [{"id": s["stageId"], "name": s.get("name", "")[:60],
            "tasks": s.get("numCompleteTasks"),
            "exec_s": round(s.get("executorRunTime", 0) / 1e3, 2),
            "cpu_s": round(s.get("executorCpuTime", 0) / 1e9, 2),
            "in_rec": s.get("inputRecords"),
            "sh_read_mb": round(s.get("shuffleReadBytes", 0) / 1e6, 1),
            "sh_write_mb": round(s.get("shuffleWriteBytes", 0) / 1e6, 1),
            "sh_wr_rec": s.get("shuffleWriteRecords"),
            "spill_mb": round(s.get("diskBytesSpilled", 0) / 1e6, 1)}
           for s in sorted(new, key=lambda s: -s.get("executorRunTime", 0))]
    return {"stages": len(new),
            "exec_sec": round(sum(s.get("executorRunTime", 0) for s in new) / 1e3, 2),
            "gc_sec": round(sum(s.get("jvmGcTime", 0) for s in new) / 1e3, 2),
            "detail": det}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("query", nargs="?", default=None)
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                                   "/root/testdata/sf0.1"))
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--explain", default=None,
                    help="write .explain('formatted') to this path and exit")
    ap.add_argument("--detail", action="store_true",
                    help="print per-stage detail rows")
    args = ap.parse_args()

    from pdftabextract_spark.session import (
        default_cores, default_driver_mem, get_spark)
    cpus = default_cores()
    spark = get_spark(app_name="ptx-bench-extra", cores=cpus,
                      shuffle_partitions=max(cpus, 8),
                      extra_conf={"spark.ui.enabled": "true",
                                  "spark.ui.port": "0",
                                  "spark.driver.extraJavaOptions":
                                      "-Xms" + default_driver_mem()})
    import __spark_entry__ as entrymod
    qs = entrymod.queries()

    names = list(qs) if args.all else [args.query]
    if args.all:
        from bench import OPERATOR_QUERIES
        names = OPERATOR_QUERIES

    if args.explain:
        df = qs[args.query](spark, args.sf)
        os.makedirs(os.path.dirname(args.explain), exist_ok=True)
        with open(args.explain, "w") as f:
            f.write(df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted")))
        print("wrote", args.explain)
        spark.stop()
        return

    ui = spark.sparkContext.uiWebUrl
    apps = json.load(urllib.request.urlopen(ui + "/api/v1/applications",
                                            timeout=30))
    base = f"{ui}/api/v1/applications/{apps[0]['id']}"
    seen = set()

    for name in names:
        walls = []
        for r in range(args.reps):
            spark.sparkContext.setJobDescription(f"{name} rep {r}")
            t0 = time.time()
            qs[name](spark, args.sf).write.format("noop") \
                .mode("overwrite").save()
            wall = time.time() - t0
            m = stage_metrics(base, seen)
            walls.append(wall)
            det = m.pop("detail", [])
            print(f"{name} rep{r}: wall={wall:.2f}s "
                  f"exec={m.get('exec_sec')}s gc={m.get('gc_sec')}s "
                  f"stages={m.get('stages')}", flush=True)
            if args.detail:
                for d in det:
                    print("   ", d, flush=True)
        print(f"{name}: best={min(walls):.3f} walls="
              f"{[round(w, 2) for w in walls]}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
