"""Interleaved A/B/C of PipelineParams.cache for the bench shape
(VERDICT r4 task 1b): time extract_from_span_table at the bench corpus
size with cache in {persist, checkpoint, none}, INTERLEAVED in one
session (the only reliable comparison on this host — throughput windows
swing 3-10x between adjacent minutes), best-of-N and median per mode.

Usage: python scripts/cache_ab.py [--docs 6000] [--rounds 6] [--cpus 32]
Prints one JSON line: {"mode": {"best": s, "median": s, "reps": [...]}}.
"""

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pdftabextract_spark.session import default_cores, get_spark  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=6000)
    ap.add_argument("--rounds", type=int, default=6)
    ap.add_argument("--cpus", type=int,
                    default=default_cores())
    ap.add_argument("--modes", default="persist,checkpoint,none")
    args = ap.parse_args()
    modes = args.modes.split(",")

    import dataclasses

    from bench import materialize_corpus
    from pdftabextract_spark.plans.pipeline import (
        PipelineParams, extract_from_span_table)
    from pdftabextract_spark.sources import synth

    spark = get_spark(app_name="ptx-cache-ab", cores=args.cpus,
                      shuffle_partitions=max(args.cpus, 8))
    spark.sparkContext.setLogLevel("ERROR")
    path = materialize_corpus(spark, args.docs)
    params = synth.CorpusParams(seed=42, n_docs=args.docs, n_cols=6)
    span_docs = spark.read.parquet(path)
    base = PipelineParams(n_cols=params.n_cols,
                          min_col_width=params.min_col_width,
                          min_row_height=params.min_row_height)
    # untimed warmup (codegen + Python worker spin-up)
    warm = synth.CorpusParams(seed=43, n_docs=200, n_cols=6)
    extract_from_span_table(synth.span_docs_df(spark, warm), base).count()

    reps = {m: [] for m in modes}
    for r in range(args.rounds):
        for m in modes:
            spark.catalog.clearCache()
            pipe = dataclasses.replace(base, cache=m)
            t0 = time.time()
            extract_from_span_table(span_docs, pipe).count()
            dt = time.time() - t0
            reps[m].append(round(dt, 3))
            print(f"round {r} mode {m}: {dt:.3f}s", file=sys.stderr, flush=True)

    def med(xs):
        s = sorted(xs)
        return round((s[(len(s) - 1) // 2] + s[len(s) // 2]) / 2, 3)

    out = {m: {"best": min(v), "median": med(v), "reps": v}
           for m, v in reps.items()}
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
