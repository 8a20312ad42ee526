"""Stage-level wall attribution for the image-path bench workload.

Runs each sub-stage of extract_cells_image_path as its own action on the
bench image corpus (200 docs / ~295 pages, same as bench.py) so the wall
time of the 16-stage e2e job can be attributed: decode+Hough kernel,
rotation repair, border centers, model fit, page profiles, assignment.
Times are best-of-N with an untimed warmup, same steady-state rules as
bench.py. Diagnostic only — not part of the driver contract.
"""

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pdftabextract_spark.session import (  # noqa: E402
    default_cores, default_driver_mem, get_spark)

CPUS = default_cores()
CACHE = os.environ.get("SPARK_GRAFT_CACHE_MODE", "checkpoint")
REPS = int(os.environ.get("REPS", "3"))


def t(label, fn, reps=REPS):
    fn()  # warmup
    best = min(_one(fn) for _ in range(reps))
    print(f"{label:34s} {best:7.3f}s", flush=True)
    return best


def _one(fn):
    t0 = time.time()
    fn()
    return time.time() - t0


def main():
    import bench

    spark = get_spark(app_name="img-profile", cores=CPUS,
                      shuffle_partitions=max(CPUS, 8),
                      extra_conf={"spark.driver.extraJavaOptions":
                                  "-Xms" + default_driver_mem()})
    base, params = bench.materialize_image_corpus(spark, 200)
    import pyspark.sql.functions as F
    from pdftabextract_spark.plans.pipeline import (
        PipelineParams, extract_cells_image_path, _materialize)
    from pdftabextract_spark.operators.imgstage import (
        detect_lines_with_rotation, apply_rotation_to_lines,
        rotate_boxes_back, line_border_centers)
    from pdftabextract_spark.operators.model import fit_and_repair
    from pdftabextract_spark.operators.clustering import (
        group_pages, page_profiles)
    from pdftabextract_spark.operators.grid import (
        assign_cells_joined, cell_texts)

    boxes = spark.read.parquet(os.path.join(base, "boxes"))
    pages = spark.read.parquet(os.path.join(base, "pages"))
    media = spark.read.parquet(os.path.join(base, "media"))
    pipe = PipelineParams(n_cols=params.n_cols,
                          min_col_width=params.min_col_width,
                          min_row_height=params.min_row_height,
                          cache=CACHE)
    print(f"pages={pages.count()} boxes={boxes.count()} cache={CACHE}",
          flush=True)

    def e2e():
        spark.catalog.clearCache()
        return extract_cells_image_path(boxes, pages, media, pipe).count()

    t("e2e (reference)", e2e)

    # --- stage-by-stage (each materialized in sequence, timed separately)
    def stage_run():
        spark.catalog.clearCache()
        walls = {}

        def tm(k, fn):
            t0 = time.time()
            out = fn()
            walls[k] = walls.get(k, 0) + time.time() - t0
            return out

        bx = boxes.where((F.col("width") > 0) & (F.col("height") > 0))
        rotations, filtered = detect_lines_with_rotation(
            pages, media, math.radians(0.5), math.radians(1.0),
            omit_on_rot_thresh=math.radians(0.5), persist=pipe.cache)
        tm("1 decode+hough kernel", lambda: rotations.count())
        bf = rotate_boxes_back(bx, rotations)
        bf = tm("2 rotate_boxes_back(mat)", lambda: _materialize(bf, pipe.cache))
        lf = apply_rotation_to_lines(filtered)
        centers = line_border_centers(lf, pages, "v", pipe.col_break_dist)
        centers = tm("3 border centers(mat)",
                     lambda: _materialize(centers, pipe.cache))
        repaired = fit_and_repair(
            centers, pipe.n_cols + 1, pipe.model_break_dist,
            same_size_use_model_arr_diff_thresh=pipe.same_size_use_model_arr_diff_thresh)
        cols = repaired.select("doc_id", "page",
                               F.col("centers_fixed").alias("col_positions"))
        tm("4 model fit+repair", lambda: cols.count())
        prof = page_profiles(group_pages(bf), pipe.col_break_dist,
                             pipe.row_break_dist)
        pad_y = float(pipe.pad_y)
        rows = prof.select(
            "doc_id", "page",
            F.concat(F.transform("row_tops", lambda tt: tt - F.lit(pad_y)),
                     F.array(F.col("max_bottom") + F.lit(pad_y))
                     ).alias("row_positions"))
        positions = cols.join(rows, ["doc_id", "page"])
        tm("5 profiles+join", lambda: positions.count())
        assigned = assign_cells_joined(bf, positions)
        tm("6 assign+cells", lambda: cell_texts(assigned, positions).count())
        return walls

    stage_run()  # warmup
    best = None
    for _ in range(REPS):
        w = stage_run()
        if best is None or sum(w.values()) < sum(best.values()):
            best = w
    for k in sorted(best):
        print(f"{k:34s} {best[k]:7.3f}s", flush=True)
    print(f"{'stage sum':34s} {sum(best.values()):7.3f}s", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
