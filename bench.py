"""Benchmark harness (driver contract: prints ONE JSON line).

Times the headline workloads at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]:

* flagship: end-to-end span-table extraction over a deterministic synthetic
  interleaved corpus (materialized to parquet once, untimed — the timed job
  reads parquet exactly like production reads Iceberg);
* image-line-driven extraction over rotated rendered pages;
* a representative slice of the SQL operator suite (window clustering,
  TPC-H Q1, minhash, simhash, n-gram jaccard, cosine top-k, ANN buckets).

Variance protocol (this sandbox's hypervisor swings the SAME job 3-10x
between adjacent minutes — BENCH/BASELINE.md): all workloads are timed in
INTERLEAVED ROUNDS (extract x2, image x1, each operator x1 per round, 4
rounds) so a single slow window cannot capture every rep of one workload,
unlike the former back-to-back best-of-6. Per-rep wall times AND Spark
stage metrics (executor run time, GC time via the UI REST API) are
emitted per workload so a slow rep is attributable: wall slow + executor
time slow = hypervisor stall; wall slow + executor normal = scheduling;
GC-heavy = memory. Headline stays best-of, with median-of-reps alongside.
Steady-state measurement (round 5): the driver JVM heap is pre-sized
(-Xms = -Xmx) so G1 never grows it mid-bench, one FULL-SIZE untimed
warmup rep per e2e workload absorbs first-touch page faults (this
sandbox faults pages at ~0.5 GB/s), and an untimed System.gc() between
reps lets the JVM clean up what the previous rep dropped — together
these removed the 15-390s GC tail the first timed reps of a fresh JVM
used to pay.

Usage:
  python bench.py                 # full bench, one JSON line to stdout
"""

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pdftabextract_spark.session import default_cores, default_driver_mem  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = default_cores()
# corpus sizing per sf tier (docs; pages ~= 2.2x docs, boxes ~= 40x pages)
_DOCS_BY_SF = {"sf0.001": 120, "sf0.01": 1200, "sf0.1": 6000}

OPERATOR_QUERIES = ["q01_break_dist_clusters", "q12_tpch_q1",
                    "q15_minhash_signatures", "q17_simhash",
                    "q18_ngram_jaccard", "q19_cosine_topk",
                    "q20_ann_lsh_buckets", "q07_sessionize"]


def _sf_tag(path):
    base = os.path.basename(os.path.normpath(path))
    return base if base.startswith("sf") else "sf0.1"


def corpus_path(n_docs):
    return f"/tmp/ptx_bench_corpus_{n_docs}"


def materialize_corpus(spark, n_docs):
    """Write the synthetic span corpus to parquet once (untimed)."""
    from pdftabextract_spark.sources import synth
    path = corpus_path(n_docs)
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        params = synth.CorpusParams(seed=42, n_docs=n_docs, n_cols=6)
        # enough file splits that the scan parallelizes at ANY core count
        # (a corpus written with few files caps the explode/parse stage)
        synth.span_docs_df(spark, params).repartition(64) \
            .write.mode("overwrite").parquet(path)
    return path


def _median(xs):
    xs = sorted(xs)
    n = len(xs)
    return (xs[(n - 1) // 2] + xs[n // 2]) / 2.0


class StageMeter:
    """Attribute wall time per rep via the Spark UI REST API: sums
    executorRunTime / jvmGcTime over stages completed since the previous
    snapshot. None-safe — if the UI is unreachable the bench still runs,
    rep stats just omit the stage fields."""

    def __init__(self, spark):
        self.base = None
        self.seen = set()
        self._missed = False
        self.ui = spark.sparkContext.uiWebUrl
        self._attach()

    def _attach(self):
        """Resolve the REST base URL; retried from snapshot() so one
        timed-out probe during a hypervisor stall (observed: the r5
        initial run lost ALL rep attribution to a 5s init timeout)
        doesn't disable attribution for the whole invocation."""
        if self.base or not self.ui:
            return
        try:
            apps = json.load(urllib.request.urlopen(
                self.ui + "/api/v1/applications", timeout=30))
            self.base = f"{self.ui}/api/v1/applications/{apps[0]['id']}"
        except Exception:
            self.base = None

    def snapshot(self):
        """Consume stages completed since the last call; return sums."""
        self._attach()
        if not self.base:
            self._missed = True
            return {}
        try:
            stages = json.load(urllib.request.urlopen(
                self.base + "/stages?status=COMPLETE", timeout=30))
        except Exception:
            self._missed = True
            return {}
        new = [s for s in stages
               if (s["stageId"], s["attemptId"]) not in self.seen]
        for s in new:
            self.seen.add((s["stageId"], s["attemptId"]))
        out = {
            "stages": len(new),
            "exec_sec": round(sum(s.get("executorRunTime", 0)
                                  for s in new) / 1000.0, 3),
            "gc_sec": round(sum(s.get("jvmGcTime", 0)
                                for s in new) / 1000.0, 3),
        }
        if self._missed:
            # a previous snapshot failed/was unattached: this window also
            # contains THOSE stages — flag so the rep isn't misread
            out["carryover"] = True
            self._missed = False
        return out


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


def _quiet_median(walls, stats):
    """Median over hypervisor-quiet reps only: a rep whose summed
    executorRunTime exceeds 2x the invocation's best is externally
    stalled (the threads themselves ran slower — e.g. wall 65s /
    exec 1565s vs wall 4.6s / exec 62s for the IDENTICAL job in one r5
    session), not a property of the plan. Falls back to the plain
    median when stage attribution is unavailable."""
    execs = [s.get("exec_sec") for s in stats]
    known = [e for e in execs if e]
    if len(known) != len(walls) or not known:
        return _median(walls)
    lo = min(known)
    quiet = [w for w, e in zip(walls, execs) if e <= 2 * lo]
    return _median(quiet) if quiet else _median(walls)


def _interrep_gc(spark):
    """UNTIMED housekeeping between reps: what a rep leaves behind (its
    shuffle files, the RDDs it dropped) is reclaimed only after the
    driver JVM garbage-collects the dropped objects (async
    ContextCleaner); without a nudge it piles up and successive reps GC
    against a fuller heap (r5 log, when the image path still used
    localCheckpoint: gc_sec 16 -> 24 -> 90 across identical reps)."""
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass


def _timed(fn, meter):
    """Run fn() once; return (wall, rep_stat_dict)."""
    t0 = time.time()
    out = fn()
    wall = time.time() - t0
    stat = {"wall": round(wall, 3)}
    if meter is not None:
        stat.update(meter.snapshot())
    return wall, stat, out


def make_extract_rep(spark, n_docs):
    """Materialize corpus + warmup; return a zero-arg callable running
    one timed extract rep (returns the span count)."""
    from pdftabextract_spark.plans.pipeline import (
        PipelineParams, extract_from_span_table)
    from pdftabextract_spark.sources import synth

    path = materialize_corpus(spark, n_docs)
    params = synth.CorpusParams(seed=42, n_docs=n_docs, n_cols=6)
    pipe = PipelineParams(n_cols=params.n_cols,
                          min_col_width=params.min_col_width,
                          min_row_height=params.min_row_height)
    span_docs = spark.read.parquet(path)
    # one small UNTIMED warmup pass first: the fresh JVM's first heavy
    # job pays whole-stage-codegen compilation + Python worker spin-up,
    # which repeatedly dominated rep 1 in session logs
    warm = synth.CorpusParams(seed=43, n_docs=200, n_cols=6)
    extract_from_span_table(synth.span_docs_df(spark, warm), pipe).count()
    spark.catalog.clearCache()

    def rep():
        # clear the persisted-plan cache so each rep measures the FULL
        # pipeline (Spark's cache manager matches identical plans, which
        # would turn rep 2 into a warm-cache read otherwise)
        spark.catalog.clearCache()
        return extract_from_span_table(span_docs, pipe).count()

    return rep


def image_corpus_path(n_docs):
    return f"/tmp/ptx_bench_imgcorpus_{n_docs}"


def materialize_image_corpus(spark, n_docs):
    """Materialize the image-path inputs (textboxes, pages, PNG media —
    rotated pages so the rotation-repair stage does real work) once."""
    from pdftabextract_spark.sources import synth
    base = image_corpus_path(n_docs)
    params = synth.CorpusParams(seed=77, n_docs=n_docs, n_cols=5,
                                with_images=True, rotation_deg=1.0,
                                page_dist=((1, 0.5), (2, 0.5)))
    if not os.path.exists(os.path.join(base, "media", "_SUCCESS")):
        synth.textboxes_df(spark, params).repartition(32) \
            .write.mode("overwrite").parquet(os.path.join(base, "boxes"))
        synth.pages_df(spark, params).repartition(8) \
            .write.mode("overwrite").parquet(os.path.join(base, "pages"))
        synth.media_df(spark, params).repartition(32) \
            .write.mode("overwrite").parquet(os.path.join(base, "media"))
    return base, params


def make_image_rep(spark, n_docs=200):
    """Image-line-driven extraction (catalogue path: decode -> Canny ->
    Hough -> rotation repair -> line-cluster columns -> grid)."""
    from pdftabextract_spark.plans.pipeline import (
        PipelineParams, extract_cells_image_path)
    base, params = materialize_image_corpus(spark, n_docs)
    boxes = spark.read.parquet(os.path.join(base, "boxes"))
    pages = spark.read.parquet(os.path.join(base, "pages"))
    media = spark.read.parquet(os.path.join(base, "media"))
    n_pages = pages.count()
    pipe = PipelineParams(n_cols=params.n_cols,
                          min_col_width=params.min_col_width,
                          min_row_height=params.min_row_height)

    def rep():
        spark.catalog.clearCache()
        return extract_cells_image_path(boxes, pages, media, pipe).count()

    return rep, n_pages


def main():
    bw_start = _bandwidth_probe_gbps()
    n_docs = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS",
                                _DOCS_BY_SF.get(_sf_tag(SF_DIR), 6000)))

    from pdftabextract_spark.session import get_spark
    # pre-size the heap (-Xms = -Xmx): without it G1 starts at ~2g and
    # expands under pressure, so the first 4-6 full-size reps of a fresh
    # JVM each pay 15-390s of GC + page-fault time (r5 session log:
    # gc_sec 387 -> 295 -> 33 -> 17 -> 0.6 across identical reps) before
    # reaching steady state. Benchmarks measure steady state.
    xms = os.environ.get("SPARK_GRAFT_DRIVER_XMS", default_driver_mem())
    spark = get_spark(app_name="ptx-bench", cores=CPUS,
                      shuffle_partitions=max(CPUS, 8),
                      # UI on for per-rep stage attribution (REST API)
                      extra_conf={"spark.ui.enabled": "true",
                                  "spark.ui.port": "0",
                                  "spark.driver.extraJavaOptions":
                                      f"-Xms{xms}"})
    meter = StageMeter(spark)

    extract_rep = make_extract_rep(spark, n_docs)
    # one FULL-SIZE untimed warmup: the small-corpus warmup inside
    # make_extract_rep covers codegen + Python worker spin-up but not the
    # first-touch page faults of the real working set (~0.5 GB/s on this
    # sandbox — BENCH/BASELINE.md "Hardware ceiling"); absorb those here
    # so timed reps start at steady state
    extract_rep()
    meter.snapshot()  # drain warmup/materialization stages

    image_rep, img_pages = make_image_rep(spark)
    image_rep()  # full-size untimed warmup (same rationale as extract)
    import __spark_entry__ as entrymod
    qs = entrymod.queries()
    meter.snapshot()  # drain image materialization + warmup stages

    # ---- interleaved rounds: extract x2, image x1, each operator x1 ----
    rounds = int(os.environ.get("SPARK_GRAFT_BENCH_ROUNDS", "4"))
    walls = {"extract_e2e": [], "image_e2e": []}
    rep_stats = {"extract_e2e": [], "image_e2e": []}
    for q in OPERATOR_QUERIES:
        walls[q] = []
        rep_stats[q] = []
    n_spans = 0

    for r in range(rounds):
        for _ in range(2):
            w, st, n_spans = _timed(extract_rep, meter)
            walls["extract_e2e"].append(w)
            rep_stats["extract_e2e"].append(st)
            _interrep_gc(spark)
        w, st, _ = _timed(image_rep, meter)
        walls["image_e2e"].append(w)
        rep_stats["image_e2e"].append(st)
        _interrep_gc(spark)
        for q in OPERATOR_QUERIES:
            w, st, _ = _timed(lambda: qs[q](spark, SF_DIR).count(), meter)
            walls[q].append(w)
            rep_stats[q].append(st)
        print(f"round {r}: extract {walls['extract_e2e'][-2:]} "
              f"image {walls['image_e2e'][-1]:.2f}", file=sys.stderr,
              flush=True)

    queries = {k: round(min(v), 3) for k, v in walls.items()}
    medians = {k: round(_median(v), 3) for k, v in walls.items()}
    medians_quiet = {k: round(_quiet_median(v, rep_stats[k]), 3)
                     for k, v in walls.items()}
    total = round(sum(queries.values()), 3)
    result = {
        "metric": "e2e_extraction_and_operator_suite",
        "value": total,
        "unit": "sec",
        "queries": queries,
        # median-of-reps per query: the variance-hardened statistic —
        # "queries" (best-of) stays the headline for continuity, medians
        # make round comparisons robust to single noisy windows
        "queries_median": medians,
        # median over hypervisor-quiet reps (exec_sec <= 2x best rep's):
        # the plan-attributable central tendency; raw medians + per-rep
        # attribution stay alongside so the exclusion is auditable
        "queries_median_quiet": medians_quiet,
        "value_median": round(sum(medians.values()), 3),
        "value_median_quiet": round(sum(medians_quiet.values()), 3),
        "sf": _sf_tag(SF_DIR),
        "extract_docs": n_docs,
        "extract_spans": n_spans,
        "extract_docs_per_sec": round(n_docs / queries["extract_e2e"], 2),
        "cpus": CPUS,
        "image_pages": img_pages,
        "image_pages_per_sec": round(img_pages / queries["image_e2e"], 2),
        "rounds": rounds,
        # per-rep wall + stage attribution (exec_sec/gc_sec) for the two
        # e2e workloads — a slow rep is diagnosable from the record alone
        "extract_rep_stats": rep_stats["extract_e2e"],
        "image_rep_stats": rep_stats["image_e2e"],
        # host window speed at invocation start/end (quiet ~0.1 GB/s):
        # a slow headline with a slow probe is the host, not the plan
        "host_bw_gbps": {"start": bw_start, "end": _bandwidth_probe_gbps()},
    }
    spark.stop()
    print(json.dumps(result))


if __name__ == "__main__":
    main()
