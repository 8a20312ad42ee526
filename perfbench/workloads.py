"""The benchmark's workloads.

Each workload drives the library only through its public entry points:

* ``prepare`` generates the inputs from (seed, size) and writes them as
  parquet, which every rep then reads, as production reads its tables;
* ``job`` is one rep: build the plan, then a ``noop`` sink so every
  output column is produced (set-up ends with ``WARMUP_REPS`` untimed
  reps: the rep time keeps falling for a few reps after the first while
  the JIT compiles the generated code, so timing starts past that);
* ``check`` runs the job once more, outside timing, and returns the share
  of documents whose output equals the generator's ground truth;
* ``traced`` runs the library's own calls with each layer's output forced
  under its own job group and returns the per-layer metrics.
"""

import functools
import math
import os
import statistics
import time
from collections import Counter
from contextlib import contextmanager

import duckdb
import numpy as np
from pyspark import StorageLevel
from pyspark.sql import DataFrameWriter, functions as F

import __spark_entry__
import pdftabextract_spark.operators.clustering as clustering
import pdftabextract_spark.operators.grid as grid
import pdftabextract_spark.operators.imgstage as imgstage
import pdftabextract_spark.operators.model as model
import pdftabextract_spark.plans.checkpoint as ck
from pdftabextract_spark.kernels import imgproc as K
from pdftabextract_spark.kernels.gridfit import assign_boxes_to_cells
from pdftabextract_spark.kernels.png import encode_png
from pdftabextract_spark.kernels.raster import decode_raster
from pdftabextract_spark.operators.dedup import word_shingles
from pdftabextract_spark.plans.checkpoint import run_with_checkpoint
from pdftabextract_spark.plans.pipeline import (
    PipelineParams, assign_and_pack_from, extract_cells_image_path,
    extract_from_span_table, positions_fused, result_spans_packed)
from pdftabextract_spark.sources import synth
from pdftabextract_spark.sources.spans import textboxes_from_spans

from . import docsgen


def sink(df):
    df.write.format("noop").mode("overwrite").save()


def persist(df):
    """The engine's default reuse (``PipelineParams.cache="persist"``)."""
    return df.persist(StorageLevel.MEMORY_AND_DISK)


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def _pipe(params):
    """Engine defaults except the layout-derived sizes."""
    return PipelineParams(n_cols=params.n_cols,
                          min_col_width=params.min_col_width,
                          min_row_height=params.min_row_height)


def _doc_match_frac(got, want, fields, n_docs):
    """Share of documents whose output rows, as a sorted sequence of
    ``fields`` (name -> type), equal the expected rows: a missing, extra
    or repeated row fails its document."""
    cols = [F.col(name).cast(typ).alias(name) for name, typ in fields]

    def seqs(df, alias):
        return df.groupBy("doc_id").agg(
            F.array_sort(F.collect_list(F.struct(*cols))).alias(alias))

    joined = seqs(got, "_got").join(seqs(want, "_want"), "doc_id",
                                    "full_outer")
    bad = joined.where(~F.col("_got").eqNullSafe(F.col("_want"))).count()
    return 1.0 - bad / n_docs


def _n_pages(corpus):
    return textboxes_from_spans(corpus).select("doc_id", "page") \
        .distinct().count()


SPAN_FIELDS = (("offset", "long"), ("kind", "string"), ("text", "string"),
               ("media_ref", "string"))
CELL_FIELDS = (("page", "long"), ("row_idx", "long"), ("col_idx", "long"),
               ("cell_text", "string"))


def _span_frac(spark, result, params):
    """Share of documents whose (offset, kind, text, media_ref) sequence
    equals ``synth.expected_spans_df``."""
    return _doc_match_frac(result, synth.expected_spans_df(spark, params),
                           SPAN_FIELDS, params.n_docs)


PIPELINE = "plans.pipeline"


def _production_call(spark, tracer, build):
    """The plain pipeline call, timed under the ``plans.pipeline`` job
    group: the plan build (the eager model fit runs there) apart from the
    sink. Returns the untraced wall time."""
    spark.catalog.clearCache()
    with tracer.span(PIPELINE):
        with tracer.span("plans.pipeline.plan_build", group=False):
            df = build()
        with tracer.span("plans.pipeline.materialize", group=False):
            sink(df)
    spark.catalog.clearCache()
    return tracer.seconds(PIPELINE)


def _extraction_metrics(snap, tracer, untraced, traced, *, pages_out,
                        pooled_centers, pages_repaired, boxes_in, unmatched,
                        grid_pages_out, spans_out):
    """Metrics of the layers the text and image paths share."""
    m = {}
    for layer in ("operators.clustering", "operators.grid"):
        tot = snap.stage_totals(layer)
        sent, recv = snap.python_bytes(layer)
        m[layer + ".busy_s"] = tracer.seconds(layer)
        m[layer + ".cpu_s"] = tot["cpu_s"]
        m[layer + ".shuffle_write_bytes"] = tot["shuffle_write_bytes"]
        m[layer + ".py_bytes_sent"] = sent
        m[layer + ".py_bytes_recv"] = recv
    m["operators.clustering.fetch_wait_s"] = snap.stage_totals(
        "operators.clustering")["fetch_wait_s"]
    m["operators.clustering.pages_out"] = pages_out
    m["operators.model.fit_s"] = tracer.seconds("operators.model.fit")
    m["operators.model.pooled_centers"] = pooled_centers
    m["operators.model.repair_busy_s"] = tracer.seconds(
        "operators.model.repair")
    m["operators.model.pages_repaired"] = pages_repaired
    m["operators.grid.boxes_in"] = boxes_in
    m["operators.grid.matched_frac"] = 1.0 - unmatched / boxes_in
    m["operators.grid.pages_out"] = grid_pages_out
    plan_build = tracer.seconds("plans.pipeline.plan_build")
    prod = snap.stage_totals(PIPELINE)
    m["plans.pipeline.plan_build_s"] = plan_build
    m["plans.pipeline.materialize_s"] = untraced - plan_build
    m["plans.pipeline.spans_busy_s"] = tracer.seconds("plans.pipeline.spans")
    m["plans.pipeline.spans_out"] = spans_out
    m["plans.pipeline.jobs"] = prod["jobs"]
    m["plans.pipeline.stages"] = prod["stages"]
    m.update(spark_totals(snap, PIPELINE))
    m["trace.untraced_s"] = untraced
    m["trace.traced_s"] = traced
    return m


def spark_totals(snap, group):
    """The ``spark.*`` metrics of one production-shaped job group."""
    tot = snap.stage_totals(group)
    return {
        "spark.jobs": tot["jobs"], "spark.stages": tot["stages"],
        "spark.tasks": tot["tasks"], "spark.gc_s": tot["gc_s"],
        "spark.scheduler_delay_s": snap.scheduler_delay_s(group),
        "spark.shuffle_bytes": tot["shuffle_write_bytes"],
        "spark.spill_bytes": tot["spill_bytes"],
        "spark.task_failures": tot["task_failures"],
    }


# rotation decision thresholds of extract_cells_image_path's defaults
ROT = dict(rot_thresh=math.radians(0.5),
           rot_same_dir_thresh=math.radians(1.0),
           omit_on_rot_thresh=math.radians(0.5))
# rotated one- and two-page documents with PNG page images
IMAGE_LAYOUT = dict(with_images=True, rotation_deg=1.0,
                    page_dist=((1, 0.5), (2, 0.5)))


def kernel_floor(n_pages=8, repeat=3):
    """Single-thread compute floor of the image and grid kernels: direct
    calls on a fixed page sample (seed 0, whatever the run's seed), the
    best of ``repeat`` passes per kernel."""
    params = synth.CorpusParams(seed=0, n_docs=n_pages, n_cols=5,
                                **IMAGE_LAYOUT)
    col_positions = synth.family_layout(params)
    pages = [p for d in range(n_pages)
             for p in synth.gen_doc(d, params, col_positions)[1]][:n_pages]
    pngs = [encode_png(synth.render_page_image(p, col_positions))
            for p in pages]
    # the scan drops zero-area boxes before assignment
    boxes = [np.array([(b[0], b[1], b[0] + b[2], b[1] + b[3])
                       for b in p["boxes"] if b[2] > 0 and b[3] > 0],
                      dtype=float) for p in pages]

    def best(fn, args):
        runs = []
        for _ in range(repeat):
            t0 = time.perf_counter()
            out = [fn(*a) for a in args]
            runs.append(time.perf_counter() - t0)
        return out, min(runs)

    grays, t_decode = best(lambda b: decode_raster(b, luma_only=True),
                           [(b,) for b in pngs])
    edges, t_canny = best(lambda g: K.canny_edges(g, 50, 150),
                          [(g,) for g in grays])
    lines, t_hough = best(
        lambda e, w: K.hough_lines(e, 1.0, math.pi / 500,
                                   max(int(round(0.2 * w)), 2)),
        [(e, g.shape[1]) for e, g in zip(edges, grays)])
    _, t_rot = best(
        lambda ls: K.find_rotation_or_skew(K.classify_hough_lines(ls), **ROT),
        [(ls,) for ls in lines])
    _, t_assign = best(
        lambda b, p: assign_boxes_to_cells(b, col_positions,
                                           p["row_positions"]),
        list(zip(boxes, pages)))
    n_boxes = sum(len(b) for b in boxes)
    return {
        "kernels.decode_ms_per_page": 1e3 * t_decode / n_pages,
        "kernels.canny_ms_per_page": 1e3 * t_canny / n_pages,
        "kernels.hough_ms_per_page": 1e3 * t_hough / n_pages,
        "kernels.rotation_ms_per_page": 1e3 * t_rot / n_pages,
        "kernels.assign_us_per_box": 1e6 * t_assign / n_boxes,
    }


class TextExtract:
    """``extract_from_span_table`` over a synthetic span corpus."""

    name = "text_extract"
    N_DOCS = 1500
    N_COLS = 6
    WARMUP_REPS = 3
    ALSO_TRACED = ()

    def __init__(self, seed, scale=1.0):
        self.params = synth.CorpusParams(
            seed=seed, n_docs=max(8, int(self.N_DOCS * scale)),
            n_cols=self.N_COLS)
        self.pipe = _pipe(self.params)
        self.n_docs = self.params.n_docs
        self.n_pages = None

    def prepare(self, spark, work):
        path = work.sub("spans")
        synth.span_docs_df(spark, self.params).write.mode("overwrite") \
            .parquet(path)
        self.reopen(spark, work)

    def reopen(self, spark, work):
        """Read the generated corpus in a new session."""
        self.corpus = spark.read.parquet(work.sub("spans"))

    def job(self, spark):
        sink(extract_from_span_table(self.corpus, self.pipe))

    def check(self, spark):
        self.n_pages = _n_pages(self.corpus)
        result = extract_from_span_table(self.corpus, self.pipe)
        return _span_frac(spark, result, self.params)

    def traced(self, spark, tracer, rest):
        """Per-layer pass through the body of ``extract_from_span_table``:
        the library's ``positions_fused``, ``assign_and_pack_from`` and
        ``result_spans_packed``, each layer's output forced under its own
        job group."""
        pipe = self.pipe
        untraced = _production_call(
            spark, tracer, lambda: extract_from_span_table(self.corpus, pipe))

        forced = {}
        with tracer.span("traced") as top:
            with tracer.span("sources.spans"):
                # the scan-time zero-area drop of extract_cells_packed
                boxes = persist(textboxes_from_spans(self.corpus).where(
                    (F.col("width") > 0) & (F.col("height") > 0)))
                n_boxes = boxes.count()
            with _wrapped(_model_steps(tracer, forced)):
                positions = positions_fused(boxes, pipe)
            with tracer.span("operators.grid"):
                packed = persist(assign_and_pack_from(boxes, positions,
                                                      page_contiguous=True))
                n_packed = packed.count()
            with tracer.span("plans.pipeline.spans"):
                sink(result_spans_packed(packed))
        traced = top["end"] - top["start"]
        profiles, n_profiles = forced["operators.clustering"]
        _, n_repaired = forced["operators.model.repair"]

        with tracer.span("perfbench.counts"):
            n_text_spans = self.corpus.select(F.sum(F.size(F.filter(
                "spans", lambda s: s["kind"] == "text")))).first()[0]
            n_pooled = profiles.select(
                F.sum(F.size("col_centers"))).first()[0]
            n_unmatched, n_spans = packed.select(
                F.sum("n_unmatched"), F.sum(F.size("cells"))).first()
        spark.catalog.clearCache()

        snap = rest.snapshot()
        m = {}
        m["sources.spans.busy_s"] = tracer.seconds("sources.spans")
        m["sources.spans.docs_in"] = self.n_docs
        m["sources.spans.boxes_out"] = n_boxes
        m["sources.spans.boxes_dropped"] = n_text_spans - n_boxes
        m["sources.spans.input_bytes"] = snap.stage_totals(
            "sources.spans")["input_bytes"]
        m.update(_extraction_metrics(
            snap, tracer, untraced, traced, pages_out=n_profiles,
            pooled_centers=n_pooled, pages_repaired=n_repaired,
            boxes_in=n_boxes, unmatched=n_unmatched, grid_pages_out=n_packed,
            spans_out=n_spans))
        return m


class ImageExtract:
    """``extract_cells_image_path`` over rotated PNG page images."""

    name = "image_extract"
    N_DOCS = 24
    N_COLS = 5
    WARMUP_REPS = 1
    ALSO_TRACED = ()

    def __init__(self, seed, scale=1.0):
        kw = dict(n_cols=self.N_COLS, **IMAGE_LAYOUT)
        self.params = synth.CorpusParams(
            seed=seed, n_docs=max(4, int(self.N_DOCS * scale)), **kw)
        self.pipe = _pipe(self.params)
        self.n_docs = self.params.n_docs
        self.n_pages = None

    def prepare(self, spark, work):
        tables = {"boxes": synth.textboxes_df, "pages": synth.pages_df,
                  "media": synth.media_df}
        self.tables = {}
        for name, fn in tables.items():
            path = work.sub("image", name)
            fn(spark, self.params).write.mode("overwrite").parquet(path)
            self.tables[name] = spark.read.parquet(path)

    def _extract(self, t):
        return extract_cells_image_path(t["boxes"], t["pages"], t["media"],
                                        self.pipe)

    def job(self, spark):
        sink(self._extract(self.tables))

    def check(self, spark):
        self.n_pages = self.tables["pages"].count()
        return _doc_match_frac(self._extract(self.tables),
                               synth.gt_cells_df(spark, self.params),
                               CELL_FIELDS, self.n_docs)

    def traced(self, spark, tracer, rest, full=True):
        """Per-layer pass: the library's ``extract_cells_image_path`` with
        each layer's output forced under its own job group. Without
        ``full``, only the ``operators.imgstage`` metrics, and no untimed
        production call before the pass."""
        pages, media = self.tables["pages"], self.tables["media"]
        if full:
            untraced = _production_call(
                spark, tracer, lambda: self._extract(self.tables))

        forced = {}
        steps = _model_steps(tracer, forced) + [
            (imgstage, "detect_lines_with_rotation",
             _forced_pair(tracer, "operators.imgstage.detect", forced)),
            (imgstage, "rotate_boxes_back",
             _forced(tracer, "operators.imgstage.rotate_boxes", forced)),
            (imgstage, "line_border_centers",
             _forced(tracer, "operators.imgstage.border_centers", forced)),
            (grid, "assign_cells_joined",
             _forced(tracer, "operators.grid", forced))]
        with tracer.span("traced") as top:
            with _wrapped(steps):
                cells = self._extract(self.tables)
            with tracer.span("plans.pipeline.spans"):
                sink(cells)
        traced = top["end"] - top["start"]
        rotations, lines, n_line_pages = forced["operators.imgstage.detect"]
        _, n_boxes = forced["operators.imgstage.rotate_boxes"]
        _, n_pooled = forced["operators.imgstage.border_centers"]
        _, n_repaired = forced["operators.model.repair"]
        _, n_profiles = forced["operators.clustering"]
        assigned, _ = forced["operators.grid"]

        with tracer.span("perfbench.counts"):
            n_decoded = pages.join(media, "media_ref").count()
            media_bytes = media.select(
                F.sum(F.length("bytes"))).first()[0]
            n_lines = lines.count()
            n_rotated = rotations.where(
                F.col("rot_type").isNotNull()
                & ~F.isnan("rot_radians")).count()
            if full:
                n_unmatched = assigned.where(F.col("row_idx") < 0).count()
                n_pages_out = assigned.select("doc_id", "page") \
                    .distinct().count()
                n_cells = cells.count()
        spark.catalog.clearCache()

        m = {}
        m["operators.imgstage.detect_busy_s"] = tracer.seconds(
            "operators.imgstage.detect")
        m["operators.imgstage.pages_decoded"] = n_decoded
        m["operators.imgstage.media_bytes_in"] = media_bytes
        m["operators.imgstage.lines_found"] = n_lines
        m["operators.imgstage.pages_rotated"] = n_rotated
        m["operators.imgstage.lines_frac"] = n_line_pages / n_decoded
        m["operators.imgstage.rotate_boxes_busy_s"] = tracer.seconds(
            "operators.imgstage.rotate_boxes")
        m["operators.imgstage.border_centers_busy_s"] = tracer.seconds(
            "operators.imgstage.border_centers")
        if not full:
            return m
        m.update(_extraction_metrics(
            rest.snapshot(), tracer, untraced, traced, pages_out=n_profiles,
            pooled_centers=n_pooled, pages_repaired=n_repaired,
            boxes_in=n_boxes, unmatched=n_unmatched,
            grid_pages_out=n_pages_out, spans_out=n_cells))
        return m


class DedupQ18:
    """The operator suite's ``q18_ngram_jaccard`` over a seeded
    documents table."""

    name = "dedup_q18"
    # twice the operator suite's 5000-doc table: on smaller tables a rep
    # is mostly per-job planning and scheduling, whose JIT warm-up goes on
    # for minutes; at this size the pair generation dominates and the rep
    # time is flat after the warm-up reps
    N_DOCS = 10000
    WARMUP_REPS = 2  # the check, a third pass of the query, follows
    QUERY = "q18_ngram_jaccard"
    PROD_GROUP = "operators.dedup"
    # the per-layer passes of the two workloads BENCHMARK.json does not
    # list ride on this one's trace, the shortest
    ALSO_TRACED = ("image_extract", "checkpoint_resume")

    def __init__(self, seed, scale=1.0):
        self.seed = seed
        self.n_docs = max(20, int(self.N_DOCS * scale))
        self.n_pages = self.n_docs  # a documents row is one page of text

    @staticmethod
    def _query():
        return __spark_entry__.queries()[DedupQ18.QUERY]

    def prepare(self, spark, work):
        self.docs = docsgen.documents(self.seed, self.n_docs)
        self.sf_dir = work.sub("sf")
        spark.createDataFrame(self.docs).write.mode("overwrite").parquet(
            f"{self.sf_dir}/documents.parquet")

    def job(self, spark):
        sink(self._query()(spark, self.sf_dir))

    def check(self, spark):
        got = self._query()(spark, self.sf_dir)
        cols = sorted(got.columns)
        spark_rows = Counter(tuple(r[c] for c in cols) for r in got.collect())
        con = duckdb.connect()
        try:
            con.register("documents", self.docs)
            res = con.sql(__spark_entry__.oracle_sql()[self.QUERY])
            names = [d[0] for d in res.description]
            idx = [names.index(c) for c in cols]
            duck_rows = Counter(tuple(r[i] for i in idx)
                                for r in res.fetchall())
        finally:
            con.close()
        self.pairs_out = sum(spark_rows.values())
        n = max(self.pairs_out, sum(duck_rows.values()))
        if n == 0:
            return 1.0
        return sum((spark_rows & duck_rows).values()) / n

    def traced(self, spark, tracer, rest):
        _, untraced = _timed(lambda: self.job(spark))
        with tracer.span(self.PROD_GROUP):
            self.job(spark)
        busy = tracer.seconds(self.PROD_GROUP)
        with tracer.span("perfbench.counts"):
            docs = spark.read.parquet(f"{self.sf_dir}/documents.parquet")
            n_shingles = word_shingles(docs, 3, hashed=True).count()

        snap = rest.snapshot()
        tot = snap.stage_totals(self.PROD_GROUP)
        # the widest generator in the plan emits the candidate pair stream
        candidates = max(snap.node_rows(self.PROD_GROUP, "Generate"),
                         default=0.0)
        m = {
            "operators.dedup.busy_s": busy,
            "operators.dedup.shingles": n_shingles,
            "operators.dedup.candidate_pairs": candidates,
            "operators.dedup.pairs_out": self.pairs_out,
            "operators.dedup.useful_frac": (self.pairs_out / candidates
                                            if candidates else 0.0),
            "operators.dedup.shuffle_write_bytes": tot["shuffle_write_bytes"],
            "operators.dedup.spill_bytes": tot["spill_bytes"],
        }
        m.update(spark_totals(snap, self.PROD_GROUP))
        m["trace.untraced_s"] = untraced
        m["trace.traced_s"] = busy
        return m


class CheckpointResume:
    """``run_with_checkpoint(with_images=True)`` called twice on one output:
    the first call gets only the docs of half the buckets, the second the
    whole corpus, so it resumes half the buckets and extracts the rest."""

    name = "checkpoint_resume"
    N_DOCS = 96
    N_COLS = 6
    N_BUCKETS = 64
    WARMUP_REPS = 1
    PROD_GROUP = "plans.checkpoint"
    ALSO_TRACED = ()

    def __init__(self, seed, scale=1.0):
        self.params = synth.CorpusParams(
            seed=seed, n_docs=max(8, int(self.N_DOCS * scale)),
            n_cols=self.N_COLS, with_images=True)
        self.pipe = _pipe(self.params)
        self.n_docs = self.params.n_docs
        self.n_pages = None
        self.resume_s = []
        self._runs = 0

    def prepare(self, spark, work):
        self.work = work
        path = work.sub("spans")
        synth.span_docs_df(spark, self.params).write.mode("overwrite") \
            .parquet(path)
        self.corpus = spark.read.parquet(path)

    def _first(self, spark, docs):
        """The first call, into a fresh output; returns its summary and
        the (output, progress) paths for the second call."""
        self._runs += 1
        paths = (self.work.sub(f"ckpt{self._runs}", "out"),
                 self.work.sub(f"ckpt{self._runs}", "progress"))
        # the library's bucket of a doc
        bucket = F.pmod(F.xxhash64("doc_id"), F.lit(self.N_BUCKETS))
        return run_with_checkpoint(
            spark, docs.where(bucket < self.N_BUCKETS // 2), self.pipe,
            *paths, n_buckets=self.N_BUCKETS, with_images=True), paths

    def _second(self, spark, docs, paths):
        return run_with_checkpoint(spark, docs, self.pipe, *paths,
                                   n_buckets=self.N_BUCKETS, with_images=True)

    def job(self, spark):
        _, paths = self._first(spark, self.corpus)
        self.resume_s.append(
            _timed(lambda: self._second(spark, self.corpus, paths))[1])

    def extra(self):
        """End-to-end metrics of this workload only, by name."""
        return {"resume_s": statistics.median(self.resume_s)}

    def check(self, spark):
        self.resume_s.clear()  # keep only the timed reps, which follow
        self.n_pages = _n_pages(self.corpus)
        first, paths = self._first(spark, self.corpus)
        second = self._second(spark, self.corpus, paths)
        if second["resumed_buckets"] != first["processed_buckets"]:
            return 0.0
        result = spark.read.parquet(paths[0]).drop("bucket")
        return _span_frac(spark, result, self.params)

    def traced(self, spark, tracer, rest, full=True):
        """Both calls; the steps of the second are timed by wrapping the
        checkpoint module's functions from the outside. ``full`` first
        runs the pair unwrapped, for the tracing overhead and the
        ``spark.*`` totals; without it, only ``plans.checkpoint``."""
        if full:
            spark.catalog.clearCache()
            with tracer.span(self.PROD_GROUP):
                _, paths = self._first(spark, self.corpus)
                with tracer.span("plans.checkpoint.resume_untraced",
                                 group=False):
                    self._second(spark, self.corpus, paths)
            untraced = tracer.seconds("plans.checkpoint.resume_untraced")
            spark.catalog.clearCache()

        first, paths = self._first(spark, self.corpus)
        before = _parquet_files(paths[0])
        steps = [(owner, attr, _spanned(tracer, "plans.checkpoint." + name))
                 for owner, attr, name in (
                     (ck, "_done_buckets", "progress_read"),
                     (ck, "extract_from_span_table", "plan"),
                     (ck, "_finalize", "finalize"),
                     (DataFrameWriter, "parquet", "parquet_write"),
                     (type(self.corpus), "count", "count"))]
        with tracer.span("plans.checkpoint.resume") as top, _wrapped(steps):
            second = self._second(spark, self.corpus, paths)
        after = _parquet_files(paths[0])
        spark.catalog.clearCache()

        def kids(parent, name):
            return [s for s in tracer.spans if s["parent"] == parent["id"]
                    and s["name"] == "plans.checkpoint." + name]

        def dur(s):
            return s["end"] - s["start"]
        read, plan, fin = (kids(top, n) for n in
                           ("progress_read", "plan", "finalize"))
        new = set(after) - set(before)
        m = {
            # the wrappers only add spans around the second call
            "plans.checkpoint.resume_s": dur(top),
            "plans.checkpoint.progress_read_s": sum(map(dur, read)),
            "plans.checkpoint.pending_scan_s": (
                plan[0]["start"] - read[0]["end"] if read and plan else 0.0),
            # the output write is the action that runs the extraction
            "plans.checkpoint.write_s": (
                dur(kids(fin[0], "parquet_write")[0]) if fin else 0.0),
            "plans.checkpoint.bytes_written": sum(after[f] for f in new),
            "plans.checkpoint.files_written": len(new),
            "plans.checkpoint.readback_s": (
                sum(map(dur, kids(fin[0], "count"))) if fin else 0.0),
            "plans.checkpoint.buckets_resumed": len(second["resumed_buckets"]),
            "plans.checkpoint.buckets_processed": len(
                second["processed_buckets"]),
        }
        if not full:
            return m
        m.update(spark_totals(rest.snapshot(), self.PROD_GROUP))
        m["trace.untraced_s"] = untraced
        m["trace.traced_s"] = dur(top)
        return m


def _parquet_files(path):
    return {os.path.join(d, f): os.path.getsize(os.path.join(d, f))
            for d, _, names in os.walk(path) for f in names
            if f.endswith(".parquet")}


@contextmanager
def _wrapped(steps):
    """Replace each (owner, attribute, wrap) by ``wrap(original)`` for the
    duration of the block; a step the library no longer has is skipped.
    The library imports its operators at call time, so a module attribute
    replaced here is the one its own code calls."""
    saved = []
    try:
        for owner, attr, wrap in steps:
            orig = getattr(owner, attr, None)
            if orig is None:
                continue
            saved.append((owner, attr, orig))
            setattr(owner, attr, wrap(orig))
        yield
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)


def _spanned(tracer, name, group=False):
    """Run each call in a span ``name`` (with ``group``, under its own
    job group: for a call that runs Spark actions itself)."""
    def wrap(fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name, group=group):
                return fn(*args, **kwargs)
        return wrapper
    return wrap


def _forced(tracer, name, out):
    """Force the DataFrame a layer returns under the job group ``name``:
    persist it and count it, so the next layer reads it instead of
    recomputing it; ``out[name]`` = (frame, rows)."""
    def wrap(fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                df = persist(fn(*args, **kwargs))
                out[name] = (df, df.count())
            return df
        return wrapper
    return wrap


def _forced_pair(tracer, name, out):
    """``_forced`` for the line detector, which returns (rotations, lines)
    off one kernel output it persists itself; ``out[name]`` =
    (rotations, lines, rotation rows)."""
    def wrap(fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                rotations, lines = fn(*args, **kwargs)
                out[name] = (rotations, lines, rotations.count())
            return rotations, lines
        return wrapper
    return wrap


def _model_steps(tracer, out):
    """The layers the text and image paths share: the page profiles
    (clustering), the eager corpus model fit and the per-page repair."""
    return [
        (clustering, "page_profiles",
         _forced(tracer, "operators.clustering", out)),
        (model, "fit_column_model_pooled",
         _spanned(tracer, "operators.model.fit", group=True)),
        (model, "repair_page_centers",
         _forced(tracer, "operators.model.repair", out))]


WORKLOADS = {w.name: w for w in (TextExtract, ImageExtract, DedupQ18,
                                 CheckpointResume)}
