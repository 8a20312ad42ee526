"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship table-extraction pipeline; ``queries`` /
``oracle_sql`` expose every relational primitive from SURVEY.md §2 (window
gaps-and-islands clustering, exact medians, band/interval joins, as-of
nearest, top-k, anti-join, sessionization, ordered string-agg, mode,
levenshtein) plus the large-scale training-data operators (exact dedup,
minhash-LSH, simhash, n-gram jaccard, cosine top-k, hyperplane-LSH ANN,
langid, quality scoring, token counting, fingerprinting) over the driver's
parquet tables, each with a DuckDB-equivalent ANSI oracle. Pipeline-level
span extraction is exposed as rows-only checks (no SQL-expressible oracle).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

_T = ["region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings"]


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# ---------------------------------------------------------------- flagship

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: synthetic interleaved span corpus sized from the sf0.001
    documents table -> full table-extraction pipeline -> result spans."""
    from pdftabextract_spark.sources import synth
    from pdftabextract_spark.plans.pipeline import (
        PipelineParams, extract_from_span_table)

    docs = _load(spark, "/root/testdata/sf0.001", "documents")
    n_docs = max(int(docs.count()), 8)
    params = synth.CorpusParams(seed=42, n_docs=min(n_docs, 64), n_cols=5)
    pipe = PipelineParams(n_cols=params.n_cols,
                          min_col_width=params.min_col_width,
                          min_row_height=params.min_row_height)
    span_docs = synth.span_docs_df(spark, params)
    return extract_from_span_table(span_docs, pipe)


# ------------------------------------------------------------ query helpers

_PORTABLE_HASH_SPARK = "cast(conv(substring(md5({x}), 1, 8), 16, 10) as bigint)"
_PORTABLE_HASH_DUCK = "CAST(('0x' || substr(md5({x}), 1, 8)) AS BIGINT)"

# minhash / LSH parameters shared between the Spark operators
# (pdftabextract_spark.operators.dedup / .similarity) and the oracle SQL
from pdftabextract_spark.operators.dedup import (
    MINHASH_P as _MH_P, MINHASH_AB as _MH_AB,
    MAX_SHINGLE_DF_DEFAULT as _MAX_SHINGLE_DF)
from pdftabextract_spark.operators.similarity import ANN_K as _ANN_K, hyperplanes as _hyperplanes

_ANN_DIM = 64
_ANN_PLANES = _hyperplanes(_ANN_DIM, _ANN_K)

# banded multi-table LSH (q31): table t seeded ANN_SEED + t
from pdftabextract_spark.operators.similarity import ANN_SEED as _ANN_SEED
_BANDED_TABLES, _BANDED_BITS = 3, 6
_BANDED_PLANES = [_hyperplanes(_ANN_DIM, _BANDED_BITS, _ANN_SEED + t)
                  for t in range(_BANDED_TABLES)]

# q42 image-analytics corpora: (tag, rotation_deg, n_docs). The Spark side
# runs the real raster path (render -> Canny -> Hough -> classify ->
# per-page rotation decision); the oracle re-derives direction/deviation/
# median/decision INDEPENDENTLY in SQL over the deterministic Hough line
# rows (rho, theta) — computed once per oracle_sql() call by the same
# numpy kernels the goldens pin (no Spark, ~0.5s).
_Q42_SPECS = (("r", 1.0, 3), ("f", 0.0, 2))
_Q42_ROT_THRESH_DEG, _Q42_SAME_DIR_THRESH_DEG = 0.5, 1.0
# q48: deliberately skewed vs the corpus (en is ~44% of documents) so the
# rates differ per stratum; shares appear verbatim in the SQL oracle
_Q48_TARGETS = {"en": 0.3, "de": 0.2, "es": 0.2, "fr": 0.15, "zh": 0.15}


def _q42_params(tag, deg, n_docs):
    from pdftabextract_spark.sources import synth
    return synth.CorpusParams(seed=7, n_docs=n_docs, n_cols=4,
                              with_images=True, rotation_deg=deg,
                              page_dist=((1, 0.7), (2, 0.3)))


def _q42_line_rows():
    """(prefixed_doc_id, page, rho, theta) Hough rows for both corpora."""
    from pdftabextract_spark.sources import synth
    from pdftabextract_spark.kernels import imgproc as K
    rows = []
    for tag, deg, n_docs in _Q42_SPECS:
        params = _q42_params(tag, deg, n_docs)
        colpos = synth.family_layout(params)
        for d in range(params.n_docs):
            doc_id, pages = synth.gen_doc(d, params, colpos)
            for pg in pages:
                img = synth.render_page_image(pg, colpos)
                edges = K.canny_edges(K.grayscale(img))
                votes = max(int(round(0.2 * img.shape[1])), 2)
                lines = K.hough_lines(edges, 1.0, np.pi / 500, votes)
                for rho, theta in ((l[0], l[1]) for l in lines):
                    rows.append(("%s:%s" % (tag, doc_id), int(pg["page"]),
                                 float(rho), float(theta)))
    return rows


def _q(fn):
    fn._is_query = True
    return fn


# ---------------------------------------------------------------- queries

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    def q01_break_dist_clusters(spark, sf):
        # window gaps-and-islands clustering (find_clusters_1d_break_dist,
        # reference clustering.py:23-55) over order totalprice per customer
        o = _load(spark, sf, "orders")
        w = W.partitionBy("o_custkey").orderBy("o_totalprice")
        gap = F.col("o_totalprice") - F.lag("o_totalprice").over(w)
        brk = F.when(gap >= 10000.0, 1).otherwise(0)
        cum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
        return (o.withColumn("cid", F.sum(brk).over(cum))
                 .groupBy("o_custkey")
                 .agg((F.max("cid") + 1).alias("n_clusters"),
                      F.count("*").alias("n_orders"))
                 .select("o_custkey", "n_clusters", "n_orders"))

    def q02_cluster_centers_median(spark, sf):
        # exact median cluster centers (calc_cluster_centers_1d,
        # clustering.py:388-394) — numpy-median parity incl. even-count mean
        o = _load(spark, sf, "orders")
        w = W.partitionBy("o_custkey").orderBy("o_totalprice")
        gap = F.col("o_totalprice") - F.lag("o_totalprice").over(w)
        brk = F.when(gap >= 10000.0, 1).otherwise(0)
        cum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
        return (o.withColumn("cid", F.sum(brk).over(cum))
                 .groupBy("o_custkey", "cid")
                 .agg(F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("center"),
                      F.count("*").alias("n"))
                 .select("o_custkey", F.col("cid").cast("long").alias("cid"), "center", "n"))

    def q03_band_join(spark, sf):
        # split_texts_by_positions band semantics (lo, hi] (textboxes.py:81-92)
        li = _load(spark, sf, "lineitem")
        band = F.ceil(F.col("l_extendedprice") / F.lit(10000.0)).cast("long")
        return (li.withColumn("band", band)
                  .groupBy("band")
                  .agg(F.count("*").alias("n"),
                       F.round(F.sum("l_extendedprice"), 2).alias("sum_price")))

    def q04_asof_nearest(spark, sf):
        # nearest-match as-of join (find_pages_separator_line argmin,
        # imgproc.py:96-102): per customer the order closest to 150000
        o = _load(spark, sf, "orders")
        w = W.partitionBy("o_custkey").orderBy(
            F.abs(F.col("o_totalprice") - 150000.0).asc(), F.col("o_orderkey").asc())
        return (o.withColumn("rn", F.row_number().over(w))
                 .where(F.col("rn") == 1)
                 .select("o_custkey", "o_orderkey",
                         F.round(F.abs(F.col("o_totalprice") - 150000.0), 4).alias("dist")))

    def q05_topk_per_group(spark, sf):
        # top-k by size (schoollist_2.py:245-250 largest-N selection)
        o = _load(spark, sf, "orders")
        w = W.partitionBy("o_custkey").orderBy(
            F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        return (o.withColumn("rk", F.row_number().over(w))
                 .where(F.col("rk") <= 3)
                 .select("o_custkey", F.col("rk").cast("long").alias("rk"),
                         "o_orderkey", "o_totalprice"))

    def q06_anti_join(spark, sf):
        # unmatched anti-join (fit_texts_into_grid return_unmatched_texts,
        # extract.py:98-115)
        c = _load(spark, sf, "customer")
        o = _load(spark, sf, "orders")
        return (c.join(o, c.c_custkey == o.o_custkey, "left_anti")
                 .select("c_custkey", "c_name").orderBy("c_custkey"))

    def q07_sessionize(spark, sf):
        # gaps-and-islands sessionization (merge_nearby_textboxes chains,
        # clustering.py:168-241)
        e = _load(spark, sf, "events")
        w = W.partitionBy("user_id").orderBy("ts", "event_id")
        gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
        brk = F.when(gap > 1800, 1).otherwise(0)
        cum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
        s = e.withColumn("sid", F.sum(brk).over(cum))
        return (s.groupBy("user_id")
                 .agg((F.max("sid") + 1).cast("long").alias("n_sessions"),
                      F.count("*").alias("n_events")))

    def q08_session_concat(spark, sf):
        # ordered string concatenation within chains (merge value joining,
        # clustering.py:219-222 join_str semantics)
        e = _load(spark, sf, "events")
        w = W.partitionBy("user_id").orderBy("ts", "event_id")
        gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
        brk = F.when(gap > 1800, 1).otherwise(0)
        cum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
        s = e.withColumn("sid", F.sum(brk).over(cum))
        return (s.groupBy("user_id", "sid")
                 .agg(F.array_join(
                         F.transform(
                             F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))),
                             lambda x: x["event_type"]), " ").alias("chain"),
                      F.count("*").alias("n"))
                 .select("user_id", F.col("sid").cast("long").alias("sid"), "chain", "n"))

    def q09_mode(spark, sf):
        # mode with smallest-value tie-break (common.py:394-397)
        o = _load(spark, sf, "orders")
        counts = o.groupBy("o_orderstatus", "o_orderpriority").agg(F.count("*").alias("n"))
        w = W.partitionBy("o_orderstatus").orderBy(F.col("n").desc(), F.col("o_orderpriority").asc())
        return (counts.withColumn("rn", F.row_number().over(w))
                      .where(F.col("rn") == 1)
                      .select("o_orderstatus", F.col("o_orderpriority").alias("mode_priority"), "n"))

    def q10_median_stddev(spark, sf):
        # exact percentile + population stddev (imgproc.py:233,328 parity)
        li = _load(spark, sf, "lineitem")
        return (li.groupBy("l_returnflag")
                  .agg(F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("median_price"),
                       F.round(F.stddev_pop("l_quantity"), 6).alias("sd_qty"),
                       F.count("*").alias("n")))

    def q11_levenshtein(spark, sf):
        # levenshtein + rel_levenshtein (common.py:255-303)
        n = _load(spark, sf, "nation")
        r = _load(spark, sf, "region")
        j = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        lev = F.levenshtein("n_name", "r_name")
        rel = F.round(lev / F.greatest(F.length("n_name"), F.length("r_name")), 6)
        return j.select("n_name", "r_name", lev.cast("long").alias("lev"),
                        rel.alias("rel_lev")).orderBy("n_name")

    def q12_tpch_q1(spark, sf):
        li = _load(spark, sf, "lineitem")
        return (li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
                  .groupBy("l_returnflag", "l_linestatus")
                  .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                       F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                       F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
                       F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
                       F.round(F.avg("l_discount"), 6).alias("avg_disc"),
                       F.count("*").alias("count_order")))

    def q13_subsequent_pairs(spark, sf):
        # lag/lead adjacent pairs (subsequent_pairs, extract.py:155-161)
        o = _load(spark, sf, "orders")
        w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        gap = F.datediff(F.col("o_orderdate"),
                         F.lag("o_orderdate").over(w)).cast("long")
        return (o.withColumn("gap_days", gap)
                 .where(F.col("gap_days").isNotNull())
                 .groupBy("o_custkey")
                 .agg(F.round(F.avg("gap_days"), 6).alias("avg_gap"),
                      F.max("gap_days").alias("max_gap"),
                      F.count("*").alias("n_gaps")))

    def q14_dedup_exact(spark, sf):
        # exact dedup by content hash: keep min doc_id per text
        from pdftabextract_spark.operators.dedup import exact_dedup
        d = _load(spark, sf, "documents")
        return (exact_dedup(d)
                .groupBy("dups").agg(F.count("*").alias("n_groups"),
                                     F.min("keep_id").alias("min_keep")))

    def q15_minhash_signatures(spark, sf):
        # MinHash over word sets with portable md5-derived hashing
        from pdftabextract_spark.operators.dedup import minhash_signatures
        return minhash_signatures(_load(spark, sf, "documents"))

    def q16_minhash_lsh_buckets(spark, sf):
        # LSH banding: 2 bands of 4 rows -> bucket sizes
        sig = q15_minhash_signatures(spark, sf)
        b1 = F.concat_ws(",", "s0", "s1", "s2", "s3")
        b2 = F.concat_ws(",", "s4", "s5", "s6", "s7")
        bands = sig.select("doc_id", b1.alias("bucket"), F.lit(0).alias("band")) \
                   .unionByName(sig.select("doc_id", b2.alias("bucket"), F.lit(1).alias("band")))
        return (bands.groupBy("band", "bucket").agg(F.count("*").alias("n"))
                     .groupBy("band", "n").agg(F.count("*").alias("n_buckets"))
                     .select(F.col("band").cast("long").alias("band"), "n", "n_buckets"))

    def q17_simhash(spark, sf):
        # 16-bit SimHash over word multiset (md5-derived bits)
        from pdftabextract_spark.operators.dedup import simhash
        return simhash(_load(spark, sf, "documents"))

    def q18_ngram_jaccard(spark, sf):
        # word-3-gram Jaccard near-dup pairs (shared shingles counted per doc)
        from pdftabextract_spark.operators.dedup import ngram_jaccard_pairs
        return ngram_jaccard_pairs(_load(spark, sf, "documents"), n=3, threshold=0.2)

    def q19_cosine_topk(spark, sf):
        # brute-force cosine top-5 neighbors for query vectors (ANN baseline)
        from pdftabextract_spark.operators.similarity import cosine_topk
        return cosine_topk(_load(spark, sf, "embeddings"), query_ids=[0, 1, 2], k=5)

    def q20_ann_lsh_buckets(spark, sf):
        # hyperplane-LSH bucketing (the scale path for similarity search)
        from pdftabextract_spark.operators.similarity import lsh_bucket
        return (lsh_bucket(_load(spark, sf, "embeddings"), dim=_ANN_DIM, k=_ANN_K)
                .groupBy("bucket").agg(F.count("*").alias("n")))

    def q21_langid(spark, sf):
        # stopword-vote language heuristic over documents
        from pdftabextract_spark.operators.textstats import langid
        return (langid(_load(spark, sf, "documents"))
                .groupBy("lang_guess").agg(F.count("*").alias("n")))

    def q22_quality_score(spark, sf):
        # quality scoring: length / mean word length / stopword ratio
        from pdftabextract_spark.operators.textstats import quality_score
        return quality_score(_load(spark, sf, "documents"))

    def q23_token_count(spark, sf):
        # whitespace + regex token counting
        from pdftabextract_spark.operators.textstats import token_counts
        return token_counts(_load(spark, sf, "documents"))

    def q24_fingerprint(spark, sf):
        # document fingerprint: md5 of normalized text
        from pdftabextract_spark.operators.textstats import fingerprint
        return (fingerprint(_load(spark, sf, "documents"))
                .groupBy("fp").agg(F.count("*").alias("n"), F.min("doc_id").alias("min_doc"))
                .groupBy("n").agg(F.count("*").alias("n_groups"), F.min("min_doc").alias("min_doc")))

    def q25_overlap_interval_join(spark, sf):
        # 1-D interval overlap theta-join (geom.overlap, geom.py:55-65):
        # price deciles x order values, counting overlaps of ±2500 windows
        o = _load(spark, sf, "orders")
        bands = spark.range(0, 12).select(
            (F.col("id") * 50000.0).alias("lo"),
            (F.col("id") * 50000.0 + 60000.0).alias("hi"),
            F.col("id").alias("band_id"))
        j = o.join(F.broadcast(bands),
                   (F.col("o_totalprice") - 2500.0 <= F.col("hi"))
                   & (F.col("lo") <= F.col("o_totalprice") + 2500.0))
        return (j.groupBy("band_id").agg(F.count("*").alias("n"))
                 .select(F.col("band_id").cast("long").alias("band_id"), "n"))

    def q26_ann_topk(spark, sf):
        # ANN: exact cosine re-rank restricted to the query's LSH bucket —
        # the scale path verified end-to-end against the SQL oracle
        from pdftabextract_spark.operators.similarity import ann_topk
        # lsh_bits pinned to ANN_K: the operator default now derives the
        # bit count from the corpus size (scale-safe), which would make
        # the bucketing sf-dependent — the oracle needs the fixed planes
        return ann_topk(_load(spark, sf, "embeddings"), query_ids=[0, 1, 2],
                        dim=_ANN_DIM, k=5, lsh_bits=_ANN_K)

    def q27_ivf_topk(spark, sf):
        # IVF ANN: broadcast coarse-quantizer assignment + nprobe-list
        # exact re-rank — the scale path when bucket recall of
        # hyperplane-LSH is insufficient (complements q26)
        from pdftabextract_spark.operators.similarity import ivf_topk
        return ivf_topk(_load(spark, sf, "embeddings"), query_ids=[0, 1, 2],
                        k=5, nlist=16, nprobe=2)

    def q28_embedding_neardup_pairs(spark, sf):
        # embedding-cosine near-duplicate pairs with LSH-bucket blocking:
        # only same-bucket pairs are scored (no corpus crossJoin)
        from pdftabextract_spark.operators.similarity import embedding_neardup_pairs
        # lsh_bits pinned (operator default is now corpus-derived)
        return embedding_neardup_pairs(_load(spark, sf, "embeddings"),
                                       dim=_ANN_DIM, threshold=0.3,
                                       lsh_bits=_ANN_K)

    def q29_neardup_components(spark, sf):
        # dedup canonicalization: connected components over the near-dup
        # pair graph via iterative min-label propagation (diameter-bounded
        # distributed rounds); oracle = recursive-CTE transitive closure
        from pdftabextract_spark.operators.similarity import embedding_neardup_pairs
        from pdftabextract_spark.operators.dedup import neardup_components
        pairs = embedding_neardup_pairs(_load(spark, sf, "embeddings"),
                                        dim=_ANN_DIM, threshold=0.3,
                                        lsh_bits=_ANN_K)
        return (neardup_components(pairs)
                .select(F.col("id").cast("long").alias("vec_id"),
                        F.col("component").cast("long").alias("component")))

    def q31_banded_neardup_pairs(spark, sf):
        # banded multi-table hyperplane LSH blocking (VERDICT r2 item 2):
        # 3 tables x 6 bits, pair candidates deduped across tables, one
        # exact cosine score per pair — the recall-hardened scale path
        # over single-table blocking (q28)
        from pdftabextract_spark.operators.similarity import (
            embedding_neardup_pairs_banded)
        # max_bucket_size=None pins the uncapped blocking the oracle
        # mirrors (the operator default is now a finite 4096 cap)
        return embedding_neardup_pairs_banded(
            _load(spark, sf, "embeddings"), dim=_ANN_DIM, threshold=0.3,
            tables=_BANDED_TABLES, bits_per_table=_BANDED_BITS,
            max_bucket_size=None)

    def q33_bigram_entropy(spark, sf):
        # model-free quality signal: Shannon entropy of the char-bigram
        # distribution per doc (gibberish high, boilerplate low) —
        # bigram explode -> counts -> -sum(p*log2 p), all JVM expressions
        from pdftabextract_spark.operators.textstats import char_bigram_entropy
        return char_bigram_entropy(
            _load(spark, sf, "documents").where(F.col("doc_id") < 100))

    def q32_kmeans_centroids(spark, sf):
        # deterministic Lloyd k-means (the trained IVF coarse quantizer):
        # broadcast-centroid argmax-cosine assignment + per-list
        # elementwise means, 2 iterations, empty lists keep their
        # centroid; oracle = the same iterations unrolled in SQL
        from pdftabextract_spark.operators.similarity import kmeans_fit
        c = kmeans_fit(_load(spark, sf, "embeddings"), k=4, iters=2)
        return (c.select("list_id", F.posexplode("centroid").alias("i", "m"))
                .select("list_id", F.col("i").cast("long").alias("i"),
                        F.round("m", 6).alias("m")))

    def q34_ivf_topk_trained(spark, sf):
        # trained-quantizer IVF search (VERDICT r3 item 3): kmeans_fit's
        # centroids flow into ivf_topk for BOTH corpus assignment and
        # query probe selection; oracle reuses q32's unrolled Lloyd CTE
        # as the centroid table feeding the q27-style search
        from pdftabextract_spark.operators.similarity import (
            ivf_topk, kmeans_fit)
        emb = _load(spark, sf, "embeddings")
        cents = kmeans_fit(emb, k=4, iters=2)
        return ivf_topk(emb, query_ids=[0, 1, 2], k=5, nlist=4, nprobe=2,
                        centroids=cents)

    def q30_html_strip(spark, sf):
        # HTML boilerplate-strip baseline: wrap the document text in
        # markup, strip tags + normalize whitespace with portable regexes
        # (identical expressions run in the DuckDB oracle)
        from pdftabextract_spark.operators.htmlextract import strip_tags_expr
        d = _load(spark, sf, "documents")
        html = F.concat(F.lit("<html><body><nav><a href=x>Home</a></nav><p>"),
                        F.col("text"),
                        F.lit("</p></body></html>"))
        return (d.select("doc_id", strip_tags_expr(html).alias("stripped"))
                .where(F.col("doc_id") < 20)
                .select("doc_id", F.substring("stripped", 1, 80).alias("head80")))

    def q35_repetition_signals(spark, sf):
        # Gopher-style word n-gram repetition quality signals
        from pdftabextract_spark.operators.curation import repetition_signals
        return repetition_signals(_load(spark, sf, "documents"))

    def q36_pattern_census(spark, sf):
        # named-regex occurrence counts (the PII-scan operator shape);
        # patterns chosen to actually hit the synthetic corpus
        from pdftabextract_spark.operators.curation import pattern_census
        return pattern_census(_load(spark, sf, "documents"),
                              patterns={"sparkish": "spark|shuffle|batch",
                                        "vowelend": "[a-z]*[aeiou] ",
                                        "digitrun": "[0-9][0-9]+"})

    def q37_pack_next_fit(spark, sf):
        # token-budgeted next-fit sequence packing per source shard
        from pdftabextract_spark.operators.curation import pack_next_fit
        return pack_next_fit(_load(spark, sf, "documents"), budget=400)

    def q38_stratified_sample(spark, sf):
        # deterministic md5-threshold stratified sampling by lang
        from pdftabextract_spark.operators.curation import stratified_sample
        return stratified_sample(_load(spark, sf, "documents"),
                                 rates={"en": 0.5, "de": 0.25}, default_rate=0.125)

    def q39_source_rollup(spark, sf):
        # per-source curation dashboard: counts, lengths, dup rate
        from pdftabextract_spark.operators.curation import source_rollup
        return source_rollup(_load(spark, sf, "documents"))

    def q44_fixed_size_sample(spark, sf):
        # deterministic md5-ranked fixed-size sample per stratum
        from pdftabextract_spark.operators.curation import fixed_size_sample
        return fixed_size_sample(_load(spark, sf, "documents"), n=10)

    def q45_vocab_stats(spark, sf):
        # corpus vocabulary: top-20 words by document frequency
        from pdftabextract_spark.operators.curation import vocab_stats
        return vocab_stats(_load(spark, sf, "documents"), top_n=20)

    def q46_contamination(spark, sf):
        # train-vs-eval n-gram decontamination: per train doc, the rate of
        # word shingles also present in the (broadcast) eval shingle set.
        # n=3 here because the synthetic corpus averages ~54 words from a
        # small vocabulary (the operator default is the standard n=13)
        from pdftabextract_spark.operators.curation import contamination
        d = _load(spark, sf, "documents")
        return contamination(d.where(F.col("doc_id") % 7 != 0),
                             d.where(F.col("doc_id") % 7 == 0), n=3)

    def q47_tfidf_topk(spark, sf):
        # per-document top-3 keywords by tf-idf (rounded-score ranking,
        # term-asc ties) — keyword extraction / routing tags. n_docs is
        # pre-counted on the raw parquet scan (a column-less metadata-speed
        # count) so the operator's internal count() doesn't re-execute the
        # scan as a second action inside the gated job (mirrors q20's
        # n_vectors hint pattern)
        from pdftabextract_spark.operators.curation import tfidf_topk
        d = _load(spark, sf, "documents")
        return tfidf_topk(d, k=3, n_docs=d.count())

    def q48_source_mix_rates(spark, sf):
        # source-balancing: per-language Bernoulli keep-rates achieving a
        # target corpus mix without upsampling (N_out = min n_s/share_s)
        from pdftabextract_spark.operators.curation import source_mix_rates
        return source_mix_rates(
            _load(spark, sf, "documents"), _Q48_TARGETS, stratum_col="lang")

    def q49_boilerplate_fraction(spark, sf):
        # cross-document boilerplate: per doc, share of its distinct
        # 3-gram shingles occurring in >= 3 distinct documents (n=3
        # because the synthetic docs average ~54 words; operator default
        # n=8 for real corpora)
        from pdftabextract_spark.operators.curation import (
            boilerplate_fraction)
        return boilerplate_fraction(
            _load(spark, sf, "documents"), n=3, min_docs=3)

    def q50_duplicate_passages(spark, sf):
        # Lee et al. (ACL 2022) ExactSubstr signal at word granularity:
        # per doc, fraction of its k-gram windows (with multiplicity)
        # whose content occurs in at least one other document (k=8 here;
        # operator default k=50 matches the paper's token threshold)
        from pdftabextract_spark.operators.curation import (
            duplicate_passage_rate)
        return duplicate_passage_rate(_load(spark, sf, "documents"), k=8)

    # ---- pipeline-level (no SQL oracle: rows-only driver check) ----

    def q43_html_main_content(spark, sf):
        # DOM-heuristic main-content extraction (html.parser blocks +
        # jusText-style classification) over synthesized pages: article
        # paragraphs from document text, nav/footer chrome around them.
        # Heuristic + stdlib parser -> no SQL-expressible oracle;
        # correctness is pinned by tests/test_htmlextract.py.
        from pdftabextract_spark.operators.htmlextract import main_content
        d = _load(spark, sf, "documents").where(F.col("doc_id") < 50)
        pages = d.select(
            "doc_id",
            F.concat(
                F.lit("<html><body><nav><a href=a>Home</a> <a href=b>About"
                      "</a></nav><article><p>"),
                F.col("text"),
                F.lit("</p></article><footer>Copyright <a href=c>Legal</a>"
                      "</footer></body></html>")).alias("text"))
        return main_content(pages)

    def q42_image_rotation_synth(spark, sf):
        # image analytics with a SQL oracle (VERDICT r2 item 5): the real
        # raster path — PNG decode, Canny, Hough, h/v classification,
        # per-page rotation/skew decision — over two deterministic
        # synthetic corpora (rotated 1deg -> 'r'; flat -> NULL decision);
        # the oracle recomputes direction/deviation/median/decision from
        # the pinned Hough (rho, theta) rows in pure SQL.
        from pdftabextract_spark.sources import synth
        from pdftabextract_spark.operators.imgstage import (
            detect_lines, find_rotation_per_page)
        out = None
        for tag, deg, n_docs in _Q42_SPECS:
            params = _q42_params(tag, deg, n_docs)
            pages = synth.pages_df(spark, params)
            media = synth.media_df(spark, params)
            lines = detect_lines(pages, media)
            # rot and counts are two subtrees over the enriched frame
            # find_rotation_per_page persists (no omit filter is set, so
            # the enriched line rows ARE the classified lines): the raster
            # kernel runs once, not once per subtree
            rot, filtered = find_rotation_per_page(
                lines, np.deg2rad(_Q42_ROT_THRESH_DEG),
                np.deg2rad(_Q42_SAME_DIR_THRESH_DEG))
            counts = filtered.groupBy("doc_id", "page").agg(
                F.sum(F.when(F.col("direction") == "v", 1).otherwise(0))
                 .alias("n_v"),
                F.sum(F.when(F.col("direction") == "h", 1).otherwise(0))
                 .alias("n_h"))
            part = (rot.join(counts, ["doc_id", "page"])
                    .select(F.concat(F.lit(tag + ":"), "doc_id").alias("doc_id"),
                            "page", "rot_type",
                            F.when(F.isnan("rot_radians"), F.lit(None))
                             .otherwise(F.round("rot_radians", 6))
                             .alias("rot_radians"),
                            "n_v", "n_h"))
            out = part if out is None else out.unionByName(part)
        return out

    def q40_extract_cells_synth(spark, sf):
        from pdftabextract_spark.sources import synth
        from pdftabextract_spark.sources.spans import textboxes_from_spans
        from pdftabextract_spark.plans.pipeline import PipelineParams, extract_cells
        params = synth.CorpusParams(seed=42, n_docs=32, n_cols=5)
        pipe = PipelineParams(n_cols=5, min_col_width=params.min_col_width,
                              min_row_height=params.min_row_height)
        boxes = textboxes_from_spans(synth.span_docs_df(spark, params))
        return extract_cells(boxes, pipe)

    def q41_result_spans_synth(spark, sf):
        from pdftabextract_spark.sources import synth
        from pdftabextract_spark.plans.pipeline import (
            PipelineParams, extract_from_span_table)
        params = synth.CorpusParams(seed=42, n_docs=32, n_cols=5, with_images=True)
        pipe = PipelineParams(n_cols=5, min_col_width=params.min_col_width,
                              min_row_height=params.min_row_height)
        return extract_from_span_table(synth.span_docs_df(spark, params), pipe,
                                       with_images=True)

    return {k: v for k, v in locals().items() if k.startswith("q")}


# ------------------------------------------------------------------ oracles

def oracle_sql() -> dict[str, str]:
    mh_terms = ",\n           ".join(
        f"min(({a} * x + {b}) % {_MH_P}) AS s{i}" for i, (a, b) in enumerate(_MH_AB))
    sim_bits = ",\n           ".join(
        f"sum(CASE WHEN (x >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}" for j in range(16))
    sim_val = " + ".join(f"(CASE WHEN b{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(16))
    ann_dots = []
    for k in range(_ANN_K):
        coeffs = " + ".join(
            f"({c})*CAST(embedding[{i+1}] AS DOUBLE)" for i, c in enumerate(_ANN_PLANES[k]))
        ann_dots.append(f"(CASE WHEN ({coeffs}) > 0 THEN {1 << k} ELSE 0 END)")
    ann_bucket = " + ".join(ann_dots)

    banded_selects = []
    for t in range(_BANDED_TABLES):
        dots = []
        for k in range(_BANDED_BITS):
            coeffs = " + ".join(
                f"({c})*v[{i+1}]" for i, c in enumerate(_BANDED_PLANES[t][k]))
            dots.append(f"(CASE WHEN ({coeffs}) > 0 THEN {1 << k} ELSE 0 END)")
        banded_selects.append(
            f"SELECT vec_id, v, {t} AS t, "
            f"CAST({' + '.join(dots)} AS BIGINT) AS bucket FROM e")
    banded_buckets = "\n              UNION ALL ".join(banded_selects)

    q42_values = ",\n              ".join(
        "('%s', %d, %r, %r)" % r for r in _q42_line_rows())
    q42_rot = float(np.deg2rad(_Q42_ROT_THRESH_DEG))
    q42_same = float(np.deg2rad(_Q42_SAME_DIR_THRESH_DEG))

    # q32: unrolled Lloyd iterations (k=4, 2 iters, dim=_ANN_DIM)
    km_cos = ("list_dot_product(c.cv, e.v) / (sqrt(list_dot_product(c.cv, c.cv))"
              " * sqrt(list_dot_product(e.v, e.v)))")
    km_means = ", ".join(f"avg(v[{i+1}])" for i in range(_ANN_DIM))
    km_iters = []
    prev = "c0"
    for it in (1, 2):
        km_iters.append(f"""
            a{it} AS (
              SELECT vec_id, v, list_id FROM (
                SELECT e.vec_id, e.v, c.list_id,
                       row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY {km_cos} DESC, c.list_id ASC) AS rk
                FROM e CROSS JOIN {prev} c) t
              WHERE rk = 1),
            m{it} AS (SELECT list_id, [{km_means}] AS ncv
                      FROM a{it} GROUP BY list_id),
            c{it} AS (SELECT {prev}.list_id,
                             COALESCE(m{it}.ncv, {prev}.cv) AS cv
                      FROM {prev} LEFT JOIN m{it} USING (list_id))""")
        prev = f"c{it}"
    km_body = ",".join(km_iters)

    return {
        "q01_break_dist_clusters": """
            SELECT o_custkey, CAST(max(cid) + 1 AS BIGINT) AS n_clusters,
                   count(*) AS n_orders
            FROM (SELECT o_custkey,
                         sum(brk) OVER (PARTITION BY o_custkey ORDER BY o_totalprice
                                        ROWS UNBOUNDED PRECEDING) AS cid
                  FROM (SELECT o_custkey, o_totalprice,
                               CASE WHEN o_totalprice - lag(o_totalprice) OVER
                                    (PARTITION BY o_custkey ORDER BY o_totalprice) >= 10000.0
                                    THEN 1 ELSE 0 END AS brk
                        FROM orders) t) s
            GROUP BY o_custkey
        """,
        "q02_cluster_centers_median": f"""
            SELECT o_custkey, CAST(cid AS BIGINT) AS cid,
                   round(median(o_totalprice), 4) AS center, count(*) AS n
            FROM (SELECT o_custkey, o_totalprice,
                         sum(brk) OVER (PARTITION BY o_custkey ORDER BY o_totalprice
                                        ROWS UNBOUNDED PRECEDING) AS cid
                  FROM (SELECT o_custkey, o_totalprice,
                               CASE WHEN o_totalprice - lag(o_totalprice) OVER
                                    (PARTITION BY o_custkey ORDER BY o_totalprice) >= 10000.0
                                    THEN 1 ELSE 0 END AS brk
                        FROM orders) t) s
            GROUP BY o_custkey, cid
        """,
        "q03_band_join": """
            SELECT CAST(ceil(l_extendedprice / 10000.0) AS BIGINT) AS band,
                   count(*) AS n, round(sum(l_extendedprice), 2) AS sum_price
            FROM lineitem GROUP BY 1
        """,
        "q04_asof_nearest": """
            SELECT o_custkey, o_orderkey,
                   round(abs(o_totalprice - 150000.0), 4) AS dist
            FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
                          ORDER BY abs(o_totalprice - 150000.0) ASC, o_orderkey ASC) AS rn
                  FROM orders) t
            WHERE rn = 1
        """,
        "q05_topk_per_group": """
            SELECT o_custkey, CAST(rk AS BIGINT) AS rk, o_orderkey, o_totalprice
            FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
                          ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
                  FROM orders) t
            WHERE rk <= 3
        """,
        "q06_anti_join": """
            SELECT c_custkey, c_name FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
            ORDER BY c_custkey
        """,
        "q07_sessionize": """
            SELECT user_id, CAST(max(sid) + 1 AS BIGINT) AS n_sessions,
                   count(*) AS n_events
            FROM (SELECT user_id,
                         sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                        ROWS UNBOUNDED PRECEDING) AS sid
                  FROM (SELECT user_id, ts, event_id,
                               CASE WHEN epoch(ts) - epoch(lag(ts) OVER
                                    (PARTITION BY user_id ORDER BY ts, event_id)) > 1800
                                    THEN 1 ELSE 0 END AS brk
                        FROM events) t) s
            GROUP BY user_id
        """,
        "q08_session_concat": """
            SELECT user_id, CAST(sid AS BIGINT) AS sid,
                   string_agg(event_type, ' ' ORDER BY ts, event_id) AS chain,
                   count(*) AS n
            FROM (SELECT user_id, ts, event_id, event_type,
                         sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                        ROWS UNBOUNDED PRECEDING) AS sid
                  FROM (SELECT user_id, ts, event_id, event_type,
                               CASE WHEN epoch(ts) - epoch(lag(ts) OVER
                                    (PARTITION BY user_id ORDER BY ts, event_id)) > 1800
                                    THEN 1 ELSE 0 END AS brk
                        FROM events) t) s
            GROUP BY user_id, sid
        """,
        "q09_mode": """
            SELECT o_orderstatus, o_orderpriority AS mode_priority, n
            FROM (SELECT o_orderstatus, o_orderpriority, count(*) AS n,
                         row_number() OVER (PARTITION BY o_orderstatus
                              ORDER BY count(*) DESC, o_orderpriority ASC) AS rn
                  FROM orders GROUP BY 1, 2) t
            WHERE rn = 1
        """,
        "q10_median_stddev": """
            SELECT l_returnflag,
                   round(median(l_extendedprice), 4) AS median_price,
                   round(stddev_pop(l_quantity), 6) AS sd_qty,
                   count(*) AS n
            FROM lineitem GROUP BY 1
        """,
        "q11_levenshtein": """
            SELECT n_name, r_name,
                   CAST(levenshtein(n_name, r_name) AS BIGINT) AS lev,
                   round(levenshtein(n_name, r_name)
                         / greatest(length(n_name), length(r_name)), 6) AS rel_lev
            FROM nation JOIN region ON n_regionkey = r_regionkey
            ORDER BY n_name
        """,
        "q12_tpch_q1": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 6) AS avg_qty,
                   round(avg(l_discount), 6) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY 1, 2
        """,
        "q13_subsequent_pairs": """
            SELECT o_custkey, round(avg(gap_days), 6) AS avg_gap,
                   max(gap_days) AS max_gap, count(*) AS n_gaps
            FROM (SELECT o_custkey,
                         date_diff('day', lag(o_orderdate) OVER
                             (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
                             o_orderdate) AS gap_days
                  FROM orders) t
            WHERE gap_days IS NOT NULL
            GROUP BY o_custkey
        """,
        "q14_dedup_exact": """
            SELECT dups, count(*) AS n_groups, min(keep_id) AS min_keep
            FROM (SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS dups
                  FROM documents GROUP BY 1) t
            GROUP BY dups
        """,
        "q15_minhash_signatures": f"""
            SELECT doc_id, {mh_terms}
            FROM (SELECT DISTINCT doc_id, w,
                         {_PORTABLE_HASH_DUCK.format(x='w')} AS x
                  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                        FROM documents) t
                  WHERE w <> '') s
            GROUP BY doc_id
        """,
        "q16_minhash_lsh_buckets": f"""
            WITH sig AS (
              SELECT doc_id, {mh_terms}
              FROM (SELECT DISTINCT doc_id, w,
                           {_PORTABLE_HASH_DUCK.format(x='w')} AS x
                    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                          FROM documents) t
                    WHERE w <> '') s
              GROUP BY doc_id),
            bands AS (
              SELECT doc_id, 0 AS band,
                     concat_ws(',', s0, s1, s2, s3) AS bucket FROM sig
              UNION ALL
              SELECT doc_id, 1 AS band,
                     concat_ws(',', s4, s5, s6, s7) AS bucket FROM sig)
            SELECT CAST(band AS BIGINT) AS band, n, count(*) AS n_buckets
            FROM (SELECT band, bucket, count(*) AS n FROM bands GROUP BY 1, 2) t
            GROUP BY band, n
        """,
        "q17_simhash": f"""
            SELECT doc_id, CAST({sim_val} AS BIGINT) AS simhash
            FROM (SELECT doc_id, {sim_bits}
                  FROM (SELECT doc_id, w,
                               {_PORTABLE_HASH_DUCK.format(x='w')} AS x
                        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                              FROM documents) t
                        WHERE w <> '') s
                  GROUP BY doc_id) agg
        """,
        # stop-shingle cap mirrored from the Spark default (operators/
        # dedup.MAX_SHINGLE_DF_DEFAULT): shingles in more than that many
        # docs are dropped BEFORE sizes and the pair join, exactly like
        # the operator — keeps the oracle exact at ANY scale factor, not
        # just where the cap is inactive
        "q18_ngram_jaccard": f"""
            WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
                       WHERE len(string_split(text, ' ')) >= 3),
            sh0 AS (SELECT DISTINCT doc_id,
                           ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
                    FROM d, UNNEST(range(1, len(ws) - 1)) AS t(i)),
            sh AS (SELECT doc_id, s FROM sh0 WHERE s NOT IN (
                     SELECT s FROM sh0 GROUP BY s
                     HAVING count(*) > {_MAX_SHINGLE_DF})),
            sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
            pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
                      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                      GROUP BY 1, 2)
            SELECT d1, d2, common,
                   round(common / (sa.sz + sb.sz - common), 6) AS jaccard
            FROM pairs JOIN sizes sa ON sa.doc_id = d1
                       JOIN sizes sb ON sb.doc_id = d2
            WHERE round(common / (sa.sz + sb.sz - common), 6) >= 0.2
        """,
        "q19_cosine_topk": """
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 3),
            scored AS (
              SELECT q.q_id, e.vec_id,
                     list_dot_product(q.qv, e.v)
                       / (sqrt(list_dot_product(q.qv, q.qv))
                          * sqrt(list_dot_product(e.v, e.v))) AS c
              FROM q CROSS JOIN e WHERE q.q_id <> e.vec_id)
            SELECT q_id, CAST(rk AS BIGINT) AS rk, vec_id, round(c, 6) AS cos
            FROM (SELECT *, row_number() OVER (PARTITION BY q_id
                          ORDER BY c DESC, vec_id ASC) AS rk FROM scored) t
            WHERE rk <= 5
        """,
        "q20_ann_lsh_buckets": f"""
            SELECT CAST({ann_bucket} AS BIGINT) AS bucket, count(*) AS n
            FROM embeddings
            GROUP BY 1
        """,
        "q21_langid": """
            WITH s AS (
              SELECT doc_id,
                     len(list_filter(string_split(text, ' '),
                         w -> w IN ('the', 'a', 'of', 'and'))) AS s_en,
                     len(list_filter(string_split(text, ' '),
                         w -> w IN ('table', 'join', 'query', 'scan'))) AS s_sql,
                     len(list_filter(string_split(text, ' '),
                         w -> w IN ('spark', 'batch', 'stream', 'shuffle'))) AS s_spark
              FROM documents)
            SELECT CASE WHEN s_en >= s_sql AND s_en >= s_spark AND s_en > 0 THEN 'en'
                        WHEN s_sql >= s_spark AND s_sql > 0 THEN 'sqlish'
                        WHEN s_spark > 0 THEN 'sparkish'
                        ELSE 'unknown' END AS lang_guess,
                   count(*) AS n
            FROM s GROUP BY 1
        """,
        "q22_quality_score": """
            SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
                   floor((least(1.0, n_words / 100.0) * 0.5
                          + least(1.0, mean_len / 8.0) * 0.3
                          + (1 - stop_ratio) * 0.2) * 1e6 + 0.5) / 1e6 AS quality
            FROM (SELECT doc_id,
                         len(string_split(text, ' ')) AS n_words,
                         length(replace(text, ' ', ''))
                             / len(string_split(text, ' ')) AS mean_len,
                         len(list_filter(string_split(text, ' '),
                             w -> w IN ('the', 'a', 'of')))
                             / len(string_split(text, ' ')) AS stop_ratio
                  FROM documents) t
        """,
        "q23_token_count": """
            SELECT doc_id,
                   CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS BIGINT)
                       AS ws_tokens,
                   CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS BIGINT)
                       AS re_tokens
            FROM documents
        """,
        "q24_fingerprint": """
            SELECT n, count(*) AS n_groups, min(min_doc) AS min_doc
            FROM (SELECT md5(lower(regexp_replace(trim(text), ' +', ' ', 'g'))) AS fp,
                         count(*) AS n, min(doc_id) AS min_doc
                  FROM documents GROUP BY 1) t
            GROUP BY n
        """,
        "q25_overlap_interval_join": """
            WITH bands AS (
              SELECT i * 50000.0 AS lo, i * 50000.0 + 60000.0 AS hi,
                     i AS band_id
              FROM UNNEST(range(0, 12)) AS t(i))
            SELECT CAST(band_id AS BIGINT) AS band_id, count(*) AS n
            FROM orders JOIN bands
              ON o_totalprice - 2500.0 <= hi AND lo <= o_totalprice + 2500.0
            GROUP BY band_id
        """,
        "q26_ann_topk": f"""
            WITH b AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                     CAST({ann_bucket} AS BIGINT) AS bucket
              FROM embeddings),
            q AS (SELECT vec_id AS q_id, v AS qv, bucket AS qb
                  FROM b WHERE vec_id IN (0, 1, 2)),
            scored AS (
              SELECT q.q_id, b.vec_id,
                     list_dot_product(q.qv, b.v)
                       / (sqrt(list_dot_product(q.qv, q.qv))
                          * sqrt(list_dot_product(b.v, b.v))) AS c
              FROM q JOIN b ON q.qb = b.bucket
              WHERE q.q_id <> b.vec_id)
            SELECT q_id, CAST(rk AS BIGINT) AS rk, vec_id, round(c, 6) AS cos
            FROM (SELECT *, row_number() OVER (PARTITION BY q_id
                          ORDER BY c DESC, vec_id ASC) AS rk FROM scored) t
            WHERE rk <= 5
        """,
        "q27_ivf_topk": """
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            c AS (SELECT vec_id AS list_id, v AS cv FROM e WHERE vec_id < 16),
            ass AS (
              SELECT vec_id, v, list_id FROM (
                SELECT e.vec_id, e.v, c.list_id,
                       row_number() OVER (PARTITION BY e.vec_id ORDER BY
                         list_dot_product(c.cv, e.v)
                           / (sqrt(list_dot_product(c.cv, c.cv))
                              * sqrt(list_dot_product(e.v, e.v))) DESC,
                         c.list_id ASC) AS rk
                FROM e CROSS JOIN c) t WHERE rk = 1),
            q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id IN (0, 1, 2)),
            probes AS (
              SELECT q_id, qv, list_id FROM (
                SELECT q.q_id, q.qv, c.list_id,
                       row_number() OVER (PARTITION BY q.q_id ORDER BY
                         list_dot_product(c.cv, q.qv)
                           / (sqrt(list_dot_product(c.cv, c.cv))
                              * sqrt(list_dot_product(q.qv, q.qv))) DESC,
                         c.list_id ASC) AS prk
                FROM q CROSS JOIN c) t WHERE prk <= 2),
            scored AS (
              SELECT p.q_id, a.vec_id,
                     list_dot_product(p.qv, a.v)
                       / (sqrt(list_dot_product(p.qv, p.qv))
                          * sqrt(list_dot_product(a.v, a.v))) AS c
              FROM probes p JOIN ass a ON p.list_id = a.list_id
              WHERE p.q_id <> a.vec_id)
            SELECT q_id, CAST(rk AS BIGINT) AS rk, vec_id, round(c, 6) AS cos
            FROM (SELECT *, row_number() OVER (PARTITION BY q_id
                          ORDER BY c DESC, vec_id ASC) AS rk FROM scored) t
            WHERE rk <= 5
        """,
        "q28_embedding_neardup_pairs": f"""
            WITH b AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                     CAST({ann_bucket} AS BIGINT) AS bucket
              FROM embeddings)
            SELECT a, b, cos FROM (
              SELECT x.vec_id AS a, y.vec_id AS b,
                     round(list_dot_product(x.v, y.v)
                       / (sqrt(list_dot_product(x.v, x.v))
                          * sqrt(list_dot_product(y.v, y.v))), 6) AS cos
              FROM b x JOIN b y
                ON x.bucket = y.bucket AND x.vec_id < y.vec_id) t
            WHERE cos >= 0.3
        """,
        "q33_bigram_entropy": """
            WITH bi AS (
              SELECT doc_id, substr(text, i, 2) AS bg
              FROM documents, UNNEST(range(1, length(text))) AS t(i)
              WHERE doc_id < 100),
            counts AS (SELECT doc_id, bg, count(*) AS c
                       FROM bi GROUP BY 1, 2),
            tot AS (SELECT doc_id, sum(c) AS t FROM counts GROUP BY 1)
            SELECT counts.doc_id,
                   round(sum(-(c / t) * log2(c / t)), 6) AS bigram_entropy
            FROM counts JOIN tot ON tot.doc_id = counts.doc_id
            GROUP BY counts.doc_id
        """,
        "q32_kmeans_centroids": f"""
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings),
            c0 AS (SELECT CAST(vec_id AS BIGINT) AS list_id, v AS cv
                   FROM e WHERE vec_id < 4),{km_body}
            SELECT list_id, CAST(i - 1 AS BIGINT) AS i, round(cv[i], 6) AS m
            FROM {prev}, UNNEST(range(1, {_ANN_DIM + 1})) AS t(i)
        """,
        "q34_ivf_topk_trained": f"""
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings),
            c0 AS (SELECT CAST(vec_id AS BIGINT) AS list_id, v AS cv
                   FROM e WHERE vec_id < 4),{km_body},
            ass AS (
              SELECT vec_id, v, list_id FROM (
                SELECT e.vec_id, e.v, c.list_id,
                       row_number() OVER (PARTITION BY e.vec_id ORDER BY
                         list_dot_product(c.cv, e.v)
                           / (sqrt(list_dot_product(c.cv, c.cv))
                              * sqrt(list_dot_product(e.v, e.v))) DESC,
                         c.list_id ASC) AS rk
                FROM e CROSS JOIN {prev} c) t WHERE rk = 1),
            q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id IN (0, 1, 2)),
            probes AS (
              SELECT q_id, qv, list_id FROM (
                SELECT q.q_id, q.qv, c.list_id,
                       row_number() OVER (PARTITION BY q.q_id ORDER BY
                         list_dot_product(c.cv, q.qv)
                           / (sqrt(list_dot_product(c.cv, c.cv))
                              * sqrt(list_dot_product(q.qv, q.qv))) DESC,
                         c.list_id ASC) AS prk
                FROM q CROSS JOIN {prev} c) t WHERE prk <= 2),
            scored AS (
              SELECT p.q_id, a.vec_id,
                     list_dot_product(p.qv, a.v)
                       / (sqrt(list_dot_product(p.qv, p.qv))
                          * sqrt(list_dot_product(a.v, a.v))) AS c
              FROM probes p JOIN ass a ON p.list_id = a.list_id
              WHERE p.q_id <> a.vec_id)
            SELECT q_id, CAST(rk AS BIGINT) AS rk, vec_id, round(c, 6) AS cos
            FROM (SELECT *, row_number() OVER (PARTITION BY q_id
                          ORDER BY c DESC, vec_id ASC) AS rk FROM scored) t
            WHERE rk <= 5
        """,
        "q31_banded_neardup_pairs": f"""
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings),
            b AS ({banded_buckets}),
            cand AS (
              SELECT x.vec_id AS a, y.vec_id AS b, count(*) AS n_tables
              FROM b x JOIN b y
                ON x.t = y.t AND x.bucket = y.bucket AND x.vec_id < y.vec_id
              GROUP BY 1, 2)
            SELECT a, b, CAST(n_tables AS BIGINT) AS n_tables, cos FROM (
              SELECT c.a, c.b, c.n_tables,
                     round(list_dot_product(ea.v, eb.v)
                       / (sqrt(list_dot_product(ea.v, ea.v))
                          * sqrt(list_dot_product(eb.v, eb.v))), 6) AS cos
              FROM cand c JOIN e ea ON ea.vec_id = c.a
                          JOIN e eb ON eb.vec_id = c.b) t
            WHERE cos >= 0.3
        """,
        "q29_neardup_components": f"""
            WITH RECURSIVE b AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                     CAST({ann_bucket} AS BIGINT) AS bucket
              FROM embeddings),
            pairs AS (
              SELECT a, b FROM (
                SELECT x.vec_id AS a, y.vec_id AS b,
                       round(list_dot_product(x.v, y.v)
                         / (sqrt(list_dot_product(x.v, x.v))
                            * sqrt(list_dot_product(y.v, y.v))), 6) AS cos
                FROM b x JOIN b y
                  ON x.bucket = y.bucket AND x.vec_id < y.vec_id) t
              WHERE cos >= 0.3),
            nodes AS (SELECT a AS v FROM pairs UNION SELECT b FROM pairs),
            edges AS (SELECT a AS s, b AS d FROM pairs
                      UNION ALL SELECT b, a FROM pairs),
            reach(v, r) AS (
              SELECT v, v FROM nodes
              UNION
              SELECT e.d, reach.r FROM reach JOIN edges e ON e.s = reach.v)
            SELECT v AS vec_id, MIN(r) AS component FROM reach GROUP BY v
        """,
        "q30_html_strip": """
            SELECT doc_id,
                   substring(trim(regexp_replace(regexp_replace(
                     '<html><body><nav><a href=x>Home</a></nav><p>' || text
                       || '</p></body></html>',
                     '<[^>]*>', ' ', 'g'), ' +', ' ', 'g')), 1, 80) AS head80
            FROM documents WHERE doc_id < 20
        """,
        # rotation decision parity (imgproc.py:189-275): deviation chain,
        # per-direction exact medians, threshold logic — re-derived in SQL
        # from the deterministic Hough rows
        "q42_image_rotation_synth": f"""
            WITH lines(doc_id, page, rho, theta) AS (VALUES
              {q42_values}),
            cl AS (
              SELECT doc_id, page,
                     theta - 2*pi()*floor(theta/(2*pi())) AS tn
              FROM lines),
            devs AS (
              SELECT doc_id, page,
                     CASE WHEN abs(pi()/2 - tn) > pi()/4
                          THEN 'v' ELSE 'h' END AS dir,
                     CASE WHEN abs(pi()/2 - tn) > pi()/4
                          THEN (CASE WHEN tn > pi()/2 THEN tn - pi() ELSE tn END)
                          ELSE tn - pi()/2 END AS dev
              FROM cl),
            med AS (
              SELECT doc_id, page,
                     median(CASE WHEN dir = 'h' THEN dev END) AS mh,
                     median(CASE WHEN dir = 'v' THEN dev END) AS mv,
                     sum(CASE WHEN dir = 'v' THEN 1 ELSE 0 END) AS n_v,
                     sum(CASE WHEN dir = 'h' THEN 1 ELSE 0 END) AS n_h
              FROM devs GROUP BY 1, 2),
            dec AS (
              SELECT doc_id, page, mh, mv, n_v, n_h,
                     (mh IS NOT NULL AND abs(mh) > {q42_rot!r}) AS ha,
                     (mv IS NOT NULL AND abs(mv) > {q42_rot!r}) AS va
              FROM med)
            SELECT doc_id, page,
                   CASE WHEN ha AND va AND abs(mh - mv) < {q42_same!r} THEN 'r'
                        WHEN ha AND va THEN NULL
                        WHEN ha THEN 'sy'
                        WHEN va THEN 'sx' END AS rot_type,
                   CASE WHEN ha AND va AND abs(mh - mv) < {q42_same!r}
                          THEN round((mh + mv) / 2, 6)
                        WHEN ha AND va THEN NULL
                        WHEN ha THEN round(mh, 6)
                        WHEN va THEN round(mv, 6) END AS rot_radians,
                   CAST(n_v AS BIGINT) AS n_v, CAST(n_h AS BIGINT) AS n_h
            FROM dec
        """,
        "q35_repetition_signals": """
            WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
                       WHERE len(string_split(text, ' ')) >= 3),
            bg AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] AS g
                   FROM d, UNNEST(range(1, len(ws))) AS t(i)),
            tg AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
                   FROM d, UNNEST(range(1, len(ws) - 1)) AS t(i)),
            bstat AS (SELECT doc_id, max(c) * 1.0 / sum(c) AS top FROM
                      (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2)
                      GROUP BY 1),
            tstat AS (SELECT doc_id,
                             sum(CASE WHEN c > 1 THEN c ELSE 0 END) * 1.0 / sum(c) AS dup
                      FROM (SELECT doc_id, g, count(*) AS c FROM tg GROUP BY 1, 2)
                      GROUP BY 1)
            SELECT b.doc_id, round(top, 6) AS top_bigram_frac,
                   round(dup, 6) AS dup_trigram_frac
            FROM bstat b JOIN tstat t ON b.doc_id = t.doc_id
        """,
        "q36_pattern_census": """
            SELECT doc_id,
                   len(regexp_extract_all(text, 'spark|shuffle|batch')) AS sparkish,
                   len(regexp_extract_all(text, '[a-z]*[aeiou] ')) AS vowelend,
                   len(regexp_extract_all(text, '[0-9][0-9]+')) AS digitrun
            FROM documents
        """,
        "q37_pack_next_fit": """
            WITH RECURSIVE t AS (
                SELECT doc_id, source AS grp,
                       len(string_split(text, ' ')) AS tokens,
                       row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
                FROM documents),
            rec AS (
                SELECT doc_id, grp, tokens, rn,
                       CAST(0 AS BIGINT) AS pack_id, tokens AS acc
                FROM t WHERE rn = 1
                UNION ALL
                SELECT t.doc_id, t.grp, t.tokens, t.rn,
                       CASE WHEN rec.acc + t.tokens > 400
                            THEN rec.pack_id + 1 ELSE rec.pack_id END,
                       CASE WHEN rec.acc + t.tokens > 400
                            THEN t.tokens ELSE rec.acc + t.tokens END
                FROM rec JOIN t ON t.grp = rec.grp AND t.rn = rec.rn + 1)
            SELECT doc_id, grp AS "group", CAST(tokens AS BIGINT) AS tokens,
                   pack_id
            FROM rec
        """,
        "q38_stratified_sample": """
            SELECT doc_id, lang AS stratum FROM documents
            WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
                  CASE lang WHEN 'en' THEN '8000'
                            WHEN 'de' THEN '4000' ELSE '2000' END
        """,
        "q39_source_rollup": """
            WITH base AS (SELECT source, lang, CAST(length(text) AS DOUBLE) AS n,
                                 md5(text) AS h FROM documents),
            s AS (SELECT source, count(*) AS n_docs,
                         count(DISTINCT lang) AS n_langs,
                         round(avg(n), 6) AS mean_chars,
                         quantile_cont(n, 0.5) AS med
                  FROM base GROUP BY 1),
            d AS (SELECT source,
                         sum(CASE WHEN c > 1 THEN c ELSE 0 END) * 1.0 / sum(c) AS dup
                  FROM (SELECT source, h, count(*) AS c FROM base GROUP BY 1, 2)
                  GROUP BY 1)
            SELECT s.source, n_docs, n_langs, mean_chars,
                   round(med, 6) AS median_chars, round(dup, 6) AS dup_rate
            FROM s JOIN d ON s.source = d.source
        """,
        "q46_contamination": """
            WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws
                       FROM documents
                       WHERE len(string_split(text, ' ')) >= 3),
            tr AS (SELECT DISTINCT doc_id,
                          ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
                   FROM d, UNNEST(range(1, len(ws) - 1)) AS t(i)
                   WHERE doc_id % 7 <> 0),
            ev AS (SELECT DISTINCT ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
                   FROM d, UNNEST(range(1, len(ws) - 1)) AS t(i)
                   WHERE doc_id % 7 = 0),
            tot AS (SELECT doc_id, count(*) AS n_shingles FROM tr GROUP BY 1),
            hit AS (SELECT doc_id, count(*) AS c FROM tr
                    WHERE s IN (SELECT s FROM ev) GROUP BY 1)
            SELECT t.doc_id, t.n_shingles,
                   CAST(coalesce(h.c, 0) AS BIGINT) AS contaminated,
                   round(coalesce(h.c, 0) * 1.0 / t.n_shingles, 6) AS rate
            FROM tot t LEFT JOIN hit h ON t.doc_id = h.doc_id
        """,
        "q47_tfidf_topk": """
            WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                       FROM documents),
            tf AS (SELECT doc_id, w, count(*) AS tf FROM w
                   WHERE w <> '' GROUP BY 1, 2),
            dfx AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
            n AS (SELECT count(*) AS n FROM documents),
            s AS (SELECT tf.doc_id, tf.w, tf.tf,
                         round(tf.tf * ln(n.n * 1.0 / dfx.df), 6) AS score
                  FROM tf JOIN dfx ON tf.w = dfx.w CROSS JOIN n),
            r AS (SELECT *, CAST(row_number() OVER (
                      PARTITION BY doc_id
                      ORDER BY score DESC, w ASC) AS BIGINT) AS rank
                  FROM s)
            SELECT doc_id, w, tf, score, rank FROM r WHERE rank <= 3
        """,
        "q48_source_mix_rates": """
            WITH c AS (SELECT lang AS stratum, count(*) AS n_docs
                       FROM documents GROUP BY 1),
            t AS (SELECT stratum, n_docs,
                         CASE stratum
                             WHEN 'en' THEN CAST(0.3 AS DOUBLE)
                             WHEN 'de' THEN CAST(0.2 AS DOUBLE)
                             WHEN 'es' THEN CAST(0.2 AS DOUBLE)
                             WHEN 'fr' THEN CAST(0.15 AS DOUBLE)
                             WHEN 'zh' THEN CAST(0.15 AS DOUBLE)
                         END AS target_share
                  FROM c
                  WHERE stratum IN ('en', 'de', 'es', 'fr', 'zh')),
            m AS (SELECT min(n_docs / target_share) AS n_out FROM t)
            SELECT stratum, n_docs, target_share,
                   round(target_share * m.n_out / n_docs, 6) AS keep_rate
            FROM t CROSS JOIN m
        """,
        "q49_boilerplate_fraction": """
            WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws
                       FROM documents
                       WHERE len(string_split(text, ' ')) >= 3),
            sh AS (SELECT DISTINCT doc_id,
                          ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
                   FROM d, UNNEST(range(1, len(ws) - 1)) AS t(i)),
            freq AS (SELECT s FROM sh GROUP BY s
                     HAVING count(*) >= 3),
            tot AS (SELECT doc_id, count(*) AS n_shingles
                    FROM sh GROUP BY 1),
            hit AS (SELECT doc_id, count(*) AS c FROM sh
                    WHERE s IN (SELECT s FROM freq) GROUP BY 1)
            SELECT t.doc_id, t.n_shingles,
                   CAST(coalesce(h.c, 0) AS BIGINT) AS boilerplate,
                   round(coalesce(h.c, 0) * 1.0 / t.n_shingles, 6) AS rate
            FROM tot t LEFT JOIN hit h ON t.doc_id = h.doc_id
        """,
        "q50_duplicate_passages": """
            WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws
                       FROM documents
                       WHERE len(string_split(text, ' ')) >= 8),
            wins AS (SELECT doc_id, array_to_string(ws[i:i+7], ' ') AS s
                     FROM d, UNNEST(range(1, len(ws) - 6)) AS t(i)),
            nd AS (SELECT s, count(DISTINCT doc_id) AS ndocs
                   FROM wins GROUP BY s)
            SELECT w.doc_id, count(*) AS n_windows,
                   count(*) FILTER (WHERE nd.ndocs > 1) AS dup_windows,
                   round((count(*) FILTER (WHERE nd.ndocs > 1)) * 1.0
                         / count(*), 6) AS dup_rate
            FROM wins w JOIN nd ON w.s = nd.s
            GROUP BY w.doc_id
        """,
        "q44_fixed_size_sample": """
            SELECT doc_id, stratum, rank FROM (
                SELECT doc_id, lang AS stratum,
                       CAST(row_number() OVER (
                           PARTITION BY lang
                           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                       ) AS BIGINT) AS rank
                FROM documents)
            WHERE rank <= 10
        """,
        "q45_vocab_stats": """
            WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                       FROM documents),
            s AS (SELECT w, count(DISTINCT doc_id) AS df, count(*) AS cf
                  FROM w WHERE w <> '' GROUP BY 1)
            SELECT w, df, cf FROM s
            ORDER BY df DESC, cf DESC, w LIMIT 20
        """,
        # q40/q41: pipeline-level span extraction — no SQL-expressible oracle
        # (multi-stage model fit + kernel assignment); driver rows-only check.
    }
