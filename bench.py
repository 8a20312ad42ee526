"""Operator-slice benchmark: prints ONE JSON line.

Times eight declared queries of ``__spark_entry__.queries()`` (window
clustering, TPC-H Q1, minhash, simhash, n-gram Jaccard, cosine top-k, ANN
buckets, sessionize) over the tables at $SPARK_GRAFT_SF_DIR (default:
the sf0.1 test tables), on perfbench's host-sized session. Each query is
written into perfbench's ``noop`` sink, so every output column is
computed, and runs under its own Spark job group: one untimed warm-up
rep, then SECONDS of closed-loop reps (perfbench's rep loop). Per query
the record gives the best and median rep wall time and, per rep, the
executor run, CPU and GC seconds and the task count of the query's job
group, read from the Spark REST API right after its reps (the UI keeps
only the last 1000 jobs and stages).

The end-to-end workloads (span-table extraction, image path) are
perfbench's ``text_extract`` and ``image_extract``:

  python3 perfbench/run.py --workload text_extract --seed 1 --seconds 10 --trace 0

Usage:
  python bench.py
"""

import json
import os
import statistics
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
SECONDS = 10.0

OPERATOR_QUERIES = ["q01_break_dist_clusters", "q12_tpch_q1",
                    "q15_minhash_signatures", "q17_simhash",
                    "q18_ngram_jaccard", "q19_cosine_topk",
                    "q20_ann_lsh_buckets", "q07_sessionize"]


class Query:
    """One declared query as a perfbench workload: ``job`` is one rep."""

    def __init__(self, build, sf_dir):
        self.build, self.sf_dir = build, sf_dir

    def job(self, spark):
        from perfbench.workloads import sink

        sink(self.build(spark, self.sf_dir))


def _bandwidth_probe_gbps():
    """~0.3s single-thread memory-copy bandwidth probe. The sandbox's
    hypervisor throughput swings 3-10x between minutes (BENCH/BASELINE.md
    'Hardware ceiling': quiet ~0.1 GB/s/worker); stamping the window
    speed into the record makes every invocation self-describing —
    a slow headline with a slow probe is the host, not the plan."""
    try:
        import numpy as np
        buf = np.zeros(32 * 1024 * 1024 // 8)  # 32 MB of float64
        t0 = time.time()
        n = 0
        while time.time() - t0 < 0.3:
            buf2 = buf.copy()
            n += 1
        dt = time.time() - t0
        del buf2
        # read + write 32 MB per copy
        return round(n * 2 * 32 / 1024.0 / dt, 3)
    except Exception:
        return None


def run_query(spark, rest, name, query):
    """Warm up, time SECONDS of reps under job group ``name``; the
    query's record."""
    from perfbench.run import timed_reps

    sc = spark.sparkContext
    sc.setJobGroup(f"{name}.warmup", f"{name} untimed warm-up rep")
    query.job(spark)
    sc.setJobGroup(name, name)
    walls, _, attempted, failed, _ = timed_reps(spark, query, SECONDS)
    totals = rest.snapshot().stage_totals(name)
    rec = {"attempted": attempted, "failed": failed}
    if walls:
        rec.update(best_s=round(min(walls), 3),
                   median_s=round(statistics.median(walls), 3))
    rec.update({k: round(totals[k] / attempted, 3)
                for k in ("run_s", "cpu_s", "gc_s", "tasks")})
    return rec


def main():
    from perfbench import host
    from perfbench.rest import Rest

    import __spark_entry__

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # Python workers import the library from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    qs = __spark_entry__.queries()
    with host.WorkDir(ROOT, f"bench-{os.getpid()}") as work:
        try:
            spark, _ = host.start_session(work, ui=True)
            rest = Rest(spark)
            queries = {q: run_query(spark, rest, q, Query(qs[q], sf_dir))
                       for q in OPERATOR_QUERIES}
        finally:
            host.shutdown()
    medians = [r.get("median_s") for r in queries.values()]
    print(json.dumps({
        "metric": "operator_slice",
        "value": None if None in medians else round(sum(medians), 3),
        "unit": "s",
        "sf": os.path.basename(os.path.normpath(sf_dir)),
        "nproc": host.nproc(),
        "seconds_per_query": SECONDS,
        "queries": queries,
        "host_bw_gbps": _bandwidth_probe_gbps(),
    }))


if __name__ == "__main__":
    main()
