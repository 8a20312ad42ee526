"""Per-partition checkpoint / lineage / metrics with idempotent resume
(north rule; SURVEY §3.4 stage 6).

The corpus is bucketed by hash(doc_id) % n_buckets; each run

  1. reads the progress table and anti-joins DONE buckets out of the input,
  2. extracts the remaining buckets in one job (full parallelism — the
     bucket is a bookkeeping unit, not an execution unit),
  3. writes output parquet partitioned by bucket (dynamic overwrite: a
     re-run of a bucket replaces its files, never duplicates),
  4. appends one progress row per completed bucket with lineage
     (params hash, code version, run id) and extraction metrics.

Killing a run between 3 and 4 leaves at worst a bucket whose files exist
but whose progress row is missing — the next run overwrites exactly those
files (same partition directory) and then records it: idempotent.
"""

import hashlib
import json
import time
from dataclasses import asdict

from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import __version__
from .pipeline import PipelineParams, extract_from_span_table

PROGRESS_SCHEMA = ("bucket int, status string, n_docs long, n_spans long, "
                   "params_hash string, code_version string, run_id string, "
                   "finished_at double")


def params_hash(params: PipelineParams, n_buckets: int, extra=None) -> str:
    """Lineage hash over params + bucketing (+ an optional pipeline tag,
    e.g. 'image' — the two DAGs must never share progress rows)."""
    payload = json.dumps({**asdict(params), "n_buckets": n_buckets,
                          "extra": extra}, sort_keys=True, default=str)
    return hashlib.sha256(payload.encode()).hexdigest()[:16]


def _hadoop_path_exists(spark: SparkSession, path: str) -> bool:
    """Probe any Spark-readable filesystem (local, HDFS, s3a, ...) via the
    Hadoop FileSystem API — os.path.exists only works for local paths."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(hpath))


def _done_buckets(spark: SparkSession, progress_path: str, phash: str):
    try:
        if not _hadoop_path_exists(spark, progress_path):
            return set()
        rows = (spark.read.parquet(progress_path)
                .where((F.col("status") == "done") & (F.col("params_hash") == phash))
                .select("bucket").distinct().collect())
        return {r["bucket"] for r in rows}
    except Exception:
        return set()


def run_with_checkpoint(spark: SparkSession, span_docs: DataFrame,
                        params: PipelineParams, output_path: str,
                        progress_path: str, n_buckets: int = 64,
                        run_id: str = None, with_images: bool = False) -> dict:
    """Execute the extraction with bucket-level checkpointing; returns a
    summary dict {resumed_buckets, processed_buckets, n_spans}."""
    phash = params_hash(params, n_buckets)
    run_id = run_id or hashlib.md5(str(time.time()).encode()).hexdigest()[:12]

    done = _done_buckets(spark, progress_path, phash)
    bucket = F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")
    docs = span_docs.withColumn("bucket", bucket)
    if done:
        docs = docs.where(~F.col("bucket").isin(*sorted(done)))

    pending = docs.select("bucket").distinct().collect()
    pending_buckets = sorted(r["bucket"] for r in pending)
    if not pending_buckets:
        return {"resumed_buckets": sorted(done), "processed_buckets": [],
                "n_spans": 0}

    spans = extract_from_span_table(docs.drop("bucket"), params,
                                    with_images=with_images)
    return _finalize(spark, spans, output_path, progress_path, n_buckets,
                     pending_buckets, sorted(done), phash, run_id)


def run_with_checkpoint_image(spark: SparkSession, boxes: DataFrame,
                              pages: DataFrame, media: DataFrame,
                              params: PipelineParams, output_path: str,
                              progress_path: str, n_buckets: int = 64,
                              run_id: str = None, **image_kwargs) -> dict:
    """Bucket-level checkpointing for the IMAGE extraction DAG
    (catalogue path: decode -> Canny -> Hough -> rotation repair -> grid,
    plans/pipeline.extract_cells_image_path) over the three image-path
    tables. Same idempotent-resume contract as :func:`run_with_checkpoint`;
    output = the cells table partitioned by bucket, progress keyed by a
    pipeline-tagged params hash so text and image runs never share rows.

    Note the model-fit caveat: the corpus column model is fit over the
    docs of THE RUN, so a resumed run fits its model over the pending
    buckets only — identical output to an uninterrupted run whenever the
    corpus layout family is homogeneous (the reference's own semantics:
    one model per homogeneous batch, SURVEY §7)."""
    from .pipeline import extract_cells_image_path
    phash = params_hash(params, n_buckets, extra="image")
    run_id = run_id or hashlib.md5(str(time.time()).encode()).hexdigest()[:12]

    done = _done_buckets(spark, progress_path, phash)
    bucket = F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")
    b = boxes.withColumn("bucket", bucket)
    p = pages.withColumn("bucket", bucket)
    m = media
    if done:
        keep = ~F.col("bucket").isin(*sorted(done))
        b, p = b.where(keep), p.where(keep)
        # media is keyed by media_ref (no doc_id) — restrict it through
        # the surviving pages
        m = media.join(p.select("media_ref").distinct(), "media_ref",
                       "left_semi")

    # a doc participates iff it has pages (media/boxes ride along)
    pending = p.select("bucket").distinct().collect()
    pending_buckets = sorted(r["bucket"] for r in pending)
    if not pending_buckets:
        return {"resumed_buckets": sorted(done), "processed_buckets": [],
                "n_spans": 0}

    cells = extract_cells_image_path(
        b.drop("bucket"), p.drop("bucket"), m.drop("bucket"), params,
        **image_kwargs)
    return _finalize(spark, cells, output_path, progress_path, n_buckets,
                     pending_buckets, sorted(done), phash, run_id)


def _finalize(spark, out_df, output_path, progress_path, n_buckets,
              pending_buckets, resumed, phash, run_id):
    """Shared checkpoint tail: bucket-partitioned dynamic-overwrite write,
    then one progress row per PENDING bucket with metrics read back from
    the durable output."""
    out_df = out_df.withColumn(
        "bucket", F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int"))

    # dynamic partition overwrite: only the buckets present in this run's
    # output are replaced — done buckets' files are untouched. A write
    # option, so the caller's session conf stays as it was.
    out_df.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic").partitionBy("bucket") \
        .parquet(output_path)

    # metrics + lineage per completed bucket, read back from the output
    # (what was durably written, not what we hoped to write). Every
    # PENDING bucket gets a progress row — a bucket whose docs legitimately
    # produce zero rows writes no output partition, but it is still done;
    # without its row it would be re-extracted on every subsequent run.
    try:
        written = spark.read.parquet(output_path).where(
            F.col("bucket").isin(*pending_buckets))
        written.schema  # force analysis: empty dir -> no inferable schema
    except Exception:  # nothing at all was written (all pending buckets empty)
        written = out_df.where(F.lit(False))
    written_metrics = written.groupBy("bucket").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count("*").alias("n_spans"))
    pending_df = spark.createDataFrame(
        [(b,) for b in pending_buckets], "bucket int")
    metrics = (pending_df.join(written_metrics, "bucket", "left")
               .na.fill({"n_docs": 0, "n_spans": 0})
               .withColumn("status", F.lit("done"))
               .withColumn("params_hash", F.lit(phash))
               .withColumn("code_version", F.lit(__version__))
               .withColumn("run_id", F.lit(run_id))
               .withColumn("finished_at", F.lit(time.time())))
    metrics.select([c.strip().split(" ")[0] for c in PROGRESS_SCHEMA.split(",")]) \
        .write.mode("append").parquet(progress_path)

    n_spans = written.count()
    return {"resumed_buckets": resumed,
            "processed_buckets": pending_buckets,
            "n_spans": n_spans, "run_id": run_id}
