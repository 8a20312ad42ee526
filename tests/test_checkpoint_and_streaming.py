"""Checkpoint/resume idempotency and streaming incremental extraction."""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from pdftabextract_spark.sources import synth
from pdftabextract_spark.plans.pipeline import PipelineParams
from pdftabextract_spark.plans.checkpoint import run_with_checkpoint

PARAMS = synth.CorpusParams(seed=42, n_docs=16, n_cols=4)
PIPE = PipelineParams(n_cols=4, min_col_width=PARAMS.min_col_width,
                      min_row_height=PARAMS.min_row_height)


@pytest.fixture()
def tmpdirs():
    d = tempfile.mkdtemp(prefix="ptx_ckpt_")
    yield (os.path.join(d, "out"), os.path.join(d, "progress"))
    shutil.rmtree(d, ignore_errors=True)


def test_checkpoint_resume_idempotent(spark, tmpdirs):
    out_path, prog_path = tmpdirs
    span_docs = synth.span_docs_df(spark, PARAMS)

    r1 = run_with_checkpoint(spark, span_docs, PIPE, out_path, prog_path,
                             n_buckets=8)
    assert r1["processed_buckets"]
    assert not r1["resumed_buckets"]
    first = spark.read.parquet(out_path)
    n1 = first.count()
    assert n1 == r1["n_spans"] > 0

    # second run: everything already done -> no work, no duplicates
    r2 = run_with_checkpoint(spark, span_docs, PIPE, out_path, prog_path,
                             n_buckets=8)
    assert r2["processed_buckets"] == []
    assert set(r2["resumed_buckets"]) == set(r1["processed_buckets"])
    assert spark.read.parquet(out_path).count() == n1

    # simulate a crash after bucket data was written but before its
    # progress row landed: delete one bucket's progress rows, rerun —
    # identical final table, still no duplicates
    prog = spark.read.parquet(prog_path)
    victim = r1["processed_buckets"][0]
    pruned = prog.where(F.col("bucket") != victim)
    tmp_prog = prog_path + "_pruned"
    pruned.write.mode("overwrite").parquet(tmp_prog)
    r3 = run_with_checkpoint(spark, span_docs, PIPE, out_path, tmp_prog,
                             n_buckets=8)
    assert r3["processed_buckets"] == [victim]
    final = spark.read.parquet(out_path)
    assert final.count() == n1
    assert final.select("doc_id", "offset").distinct().count() == n1


def test_checkpoint_leaves_session_overwrite_mode_alone(spark, tmpdirs):
    """The dynamic bucket overwrite is a per-write option: a caller whose
    session overwrites statically still does so after a checkpointed run."""
    key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(key, "STATIC")
    out_path, prog_path = tmpdirs
    r = run_with_checkpoint(spark, synth.span_docs_df(spark, PARAMS), PIPE,
                            out_path, prog_path, n_buckets=4)
    assert r["processed_buckets"]
    assert spark.conf.get(key) == "STATIC"


def test_checkpoint_resume_image_path(spark, tmpdirs):
    """VERDICT r3 item 6: idempotent resume over the IMAGE extraction DAG
    (decode -> Hough -> rotation repair -> grid) — mid-run crash leaves a
    bucket written but unrecorded; the rerun re-extracts exactly that
    bucket and the final cells table is identical to an uninterrupted
    direct run."""
    from pdftabextract_spark.plans.checkpoint import run_with_checkpoint_image
    from pdftabextract_spark.plans.pipeline import extract_cells_image_path

    out_path, prog_path = tmpdirs
    params = synth.CorpusParams(seed=77, n_docs=6, n_cols=4,
                                with_images=True, rotation_deg=1.0,
                                page_dist=((1, 1.0),))
    pipe = PipelineParams(n_cols=4, min_col_width=params.min_col_width,
                          min_row_height=params.min_row_height)
    boxes = synth.textboxes_df(spark, params)
    pages = synth.pages_df(spark, params)
    media = synth.media_df(spark, params)

    def canon(df):
        return sorted(
            (r["doc_id"], r["page"], r["row_idx"], r["col_idx"], r["cell_text"])
            for r in df.select("doc_id", "page", "row_idx", "col_idx",
                               "cell_text").collect())

    direct = canon(extract_cells_image_path(boxes, pages, media, pipe))
    assert direct

    r1 = run_with_checkpoint_image(spark, boxes, pages, media, pipe,
                                   out_path, prog_path, n_buckets=4)
    assert r1["processed_buckets"] and not r1["resumed_buckets"]
    assert canon(spark.read.parquet(out_path)) == direct

    # all done -> no-op
    r2 = run_with_checkpoint_image(spark, boxes, pages, media, pipe,
                                   out_path, prog_path, n_buckets=4)
    assert r2["processed_buckets"] == []
    assert set(r2["resumed_buckets"]) == set(r1["processed_buckets"])

    # crash between output write and progress append: prune one bucket's
    # progress rows, rerun -> exactly that bucket re-extracted, table
    # bit-identical to the direct run (homogeneous layout family -> the
    # pending-subset model fit reproduces the full-corpus model)
    prog = spark.read.parquet(prog_path)
    victim = r1["processed_buckets"][0]
    tmp_prog = prog_path + "_pruned"
    prog.where(F.col("bucket") != victim).write.mode("overwrite") \
        .parquet(tmp_prog)
    r3 = run_with_checkpoint_image(spark, boxes, pages, media, pipe,
                                   out_path, tmp_prog, n_buckets=4)
    assert r3["processed_buckets"] == [victim]
    assert canon(spark.read.parquet(out_path)) == direct


def test_streaming_incremental_extract(spark, tmpdirs):
    out_path, _ = tmpdirs
    base = tempfile.mkdtemp(prefix="ptx_stream_")
    in_dir = os.path.join(base, "in")
    ckpt = os.path.join(base, "ckpt")
    try:
        from pdftabextract_spark.streaming.stream import incremental_extract
        span_docs = synth.span_docs_df(spark, PARAMS)
        span_docs.write.mode("overwrite").parquet(in_dir)

        q = incremental_extract(spark, in_dir, out_path, ckpt, PIPE)
        q.processAllAvailable()
        n1 = spark.read.parquet(out_path).count()
        assert n1 > 0

        # append more input files; only the new docs are processed
        more = synth.span_docs_df(
            spark, synth.CorpusParams(seed=43, n_docs=4, n_cols=4))
        more.write.mode("append").parquet(in_dir)
        q.processAllAvailable()
        q.stop()
        n2 = spark.read.parquet(out_path).count()
        assert n2 > n1

        expected = synth.expected_spans_df(spark, PARAMS).count()
        expected2 = synth.expected_spans_df(
            spark, synth.CorpusParams(seed=43, n_docs=4, n_cols=4)).count()
        assert n2 == expected + expected2
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_streaming_batch_parity_at_scale(spark):
    """VERDICT r3 item 7: batch-vs-stream differential at corpus scale —
    a 10k-doc span corpus drained through >=3 micro-batches must produce
    span output IDENTICAL (kind, text, media_ref, offset per doc) to one
    batch run of the same pipeline, and re-triggering with no new input
    must add nothing (no state/outstanding-work leak)."""
    from pdftabextract_spark.streaming.stream import incremental_extract
    from pdftabextract_spark.plans.pipeline import extract_from_span_table

    base = tempfile.mkdtemp(prefix="ptx_parity_")
    in_dir = os.path.join(base, "in")
    out_dir = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    try:
        params = synth.CorpusParams(seed=91, n_docs=10_000, n_cols=4)
        pipe = PipelineParams(n_cols=4, min_col_width=params.min_col_width,
                              min_row_height=params.min_row_height)
        # 64 files at maxFilesPerTrigger=16 -> >= 4 micro-batches
        synth.span_docs_df(spark, params).repartition(64) \
            .write.mode("overwrite").parquet(in_dir)

        q = incremental_extract(spark, in_dir, out_dir, ckpt, pipe)
        q.processAllAvailable()
        n_stream = spark.read.parquet(out_dir).count()
        data_batches = [p for p in q.recentProgress
                        if p["numInputRows"] > 0]
        assert len(data_batches) >= 3

        # idle re-trigger: no new files -> no new output rows
        q.processAllAvailable()
        assert spark.read.parquet(out_dir).count() == n_stream
        q.stop()

        stream_out = spark.read.parquet(out_dir)
        batch_out = extract_from_span_table(spark.read.parquet(in_dir), pipe)
        mismatches = (
            stream_out.alias("s")
            .join(batch_out.alias("b"), ["doc_id", "offset"], "full")
            .where(~(F.col("s.kind").eqNullSafe(F.col("b.kind"))
                     & F.col("s.text").eqNullSafe(F.col("b.text"))
                     & F.col("s.media_ref").eqNullSafe(F.col("b.media_ref"))))
            .count())
        assert mismatches == 0
        assert n_stream == batch_out.count() > 0
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_zero_span_buckets_still_converge_to_done(spark, tmpdirs):
    """A pending bucket whose docs produce zero result spans must still get
    a progress row (n_docs=n_spans=0), so reruns don't re-extract it
    forever (ADVICE r1)."""
    out_path, prog_path = tmpdirs
    # docs whose only text spans are zero-area boxes: dropped at scan, so
    # the whole corpus extracts to zero spans and writes no output files
    rows = [
        ("empty-%d" % i,
         [{"kind": "text",
           "text": '{"v":"ZERO","l":1.0,"t":1.0,"w":0.0,"h":5.0,"p":1}',
           "media_ref": None, "offset": 0}])
        for i in range(6)
    ]
    span_docs = spark.createDataFrame(
        rows, "doc_id string, spans array<struct<"
              "kind string, text string, media_ref string, offset int>>")

    r1 = run_with_checkpoint(spark, span_docs, PIPE, out_path, prog_path,
                             n_buckets=4)
    assert r1["n_spans"] == 0
    assert r1["processed_buckets"]  # buckets existed and were processed

    prog = spark.read.parquet(prog_path)
    recorded = {r["bucket"] for r in prog.where(
        F.col("status") == "done").select("bucket").collect()}
    assert recorded == set(r1["processed_buckets"])
    assert prog.where(F.col("n_spans") != 0).count() == 0

    # rerun: nothing pending anymore — the zero-span buckets converged
    r2 = run_with_checkpoint(spark, span_docs, PIPE, out_path, prog_path,
                             n_buckets=4)
    assert r2["processed_buckets"] == []
    assert set(r2["resumed_buckets"]) == set(r1["processed_buckets"])
