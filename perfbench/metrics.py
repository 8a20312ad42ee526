"""Metric names and units; ``BENCHMARK.json`` lists the same names."""

END_TO_END = {
    "setup_s": "s",
    "docs_per_s": "docs/s",
    "pages_per_s": "pages/s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "correct_frac": "1",
}

_LAYERS = {
    "session": {"start_s": "s", "warmup_s": "s"},
    "sources.spans": {"busy_s": "s", "docs_in": "count", "boxes_out": "count",
                      "boxes_dropped": "count", "input_bytes": "B"},
    "operators.clustering": {"busy_s": "s", "cpu_s": "s", "pages_out": "count",
                             "shuffle_write_bytes": "B", "fetch_wait_s": "s",
                             "py_bytes_sent": "B", "py_bytes_recv": "B"},
    "operators.model": {"fit_s": "s", "pooled_centers": "count",
                        "repair_busy_s": "s", "pages_repaired": "count"},
    "operators.grid": {"busy_s": "s", "cpu_s": "s", "boxes_in": "count",
                       "matched_frac": "1", "pages_out": "count",
                       "shuffle_write_bytes": "B", "py_bytes_sent": "B",
                       "py_bytes_recv": "B"},
    "plans.pipeline": {"plan_build_s": "s", "materialize_s": "s",
                       "spans_busy_s": "s", "spans_out": "count",
                       "jobs": "count", "stages": "count"},
    "operators.imgstage": {"detect_busy_s": "s", "pages_decoded": "count",
                           "media_bytes_in": "B", "lines_found": "count",
                           "pages_rotated": "count", "lines_frac": "1",
                           "rotate_boxes_busy_s": "s",
                           "border_centers_busy_s": "s"},
    "plans.checkpoint": {"resume_s": "s", "progress_read_s": "s",
                         "pending_scan_s": "s", "write_s": "s",
                         "bytes_written": "B", "files_written": "count",
                         "readback_s": "s", "buckets_resumed": "count",
                         "buckets_processed": "count"},
    "kernels": {"decode_ms_per_page": "ms", "canny_ms_per_page": "ms",
                "hough_ms_per_page": "ms", "rotation_ms_per_page": "ms",
                "assign_us_per_box": "us"},
    "operators.dedup": {"busy_s": "s", "shingles": "count",
                        "candidate_pairs": "count", "pairs_out": "count",
                        "useful_frac": "1", "shuffle_write_bytes": "B",
                        "spill_bytes": "B"},
    "spark": {"jobs": "count", "stages": "count", "tasks": "count",
              "gc_s": "s", "scheduler_delay_s": "s", "shuffle_bytes": "B",
              "spill_bytes": "B", "task_failures": "count"},
    "trace": {"untraced_s": "s", "traced_s": "s", "overhead_s": "s"},
    "scale": {"local1.docs_per_s": "docs/s", "local2.docs_per_s": "docs/s",
              "localN.docs_per_s": "docs/s", "efficiency": "1"},
}

PER_LAYER = {f"{layer}.{name}": unit
             for layer, names in _LAYERS.items()
             for name, unit in names.items()}

# The end-to-end metric of checkpoint_resume, a workload BENCHMARK.json
# does not list: printed and kept in the record, not in the result line.
UNLISTED = {"resume_s": "s"}
