"""Deduplication operators for large text corpora (first-class engine
components per the build brief): exact hashing, MinHash, SimHash, and
n-gram Jaccard. All hashing is md5-derived so results are portable across
engines (the DuckDB oracles in __spark_entry__ compute identical values).

Scale notes: exact dedup is one hash-groupBy; minhash/simhash shuffle once
on doc_id after the word explode (map-side partial min/sum aggregation
keeps the exchange small); n-gram Jaccard is three Arrow
kernels (shingle keys, per-shingle sorted doc lists, shared-shingle
counts per document) that partition their own output and exchange
int64 blobs, a few rows per batch, through ``repartitionById``, each
task holding a bounded share of its stream; the doc-list length (the
pair fanout) is bounded by capping document frequency (stop-shingle
removal) — the knob at 100 TB, exposed as ``max_shingle_df``.
"""

from functools import partial

from pyspark.sql import DataFrame, Window as W, functions as F
from pyspark.sql.types import (IntegralType, StringType, StructField,
                               StructType)

from ..kernels.overlap import (CENSUS_DDL, OUT_DDL as _COUNTS_DDL,
                               POSTING_DDL, posting_blobs,
                               shared_shingle_counts, stop_shingle_census)
from ..kernels.shingles import KEY_BLOB_DDL, key_blobs, word_grams
from ..partitioning import (shuffle_partitions, size_estimate,
                            spread_small_input)

PORTABLE_HASH = "cast(conv(substring(md5({x}), 1, 8), 16, 10) as bigint)"

MINHASH_P = 2147483647
MINHASH_AB = [(1299721, 104729), (15485863, 32452843), (49979687, 86028121),
              (67867967, 122949823), (141650939, 15485867), (198491317, 5915587),
              (217645199, 87178291), (236887691, 179424673)]


def exact_dedup(docs: DataFrame, text_col="text", id_col="doc_id") -> DataFrame:
    """Exact dedup: md5 content hash -> keep the minimum id per group.
    Returns (hash, keep_id, dups)."""
    return (docs.groupBy(F.md5(text_col).alias("h"))
            .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("dups")))


def _words(docs: DataFrame, text_col, id_col, distinct=True) -> DataFrame:
    w = docs.select(F.col(id_col).alias("doc_id"),
                    F.explode(F.split(text_col, " ")).alias("w")) \
            .where(F.col("w") != "")
    return w.distinct() if distinct else w


def minhash_signatures(docs: DataFrame, text_col="text", id_col="doc_id",
                       hashes=MINHASH_AB, p=MINHASH_P) -> DataFrame:
    """MinHash over the word set: sig_i = min((a_i*h(w)+b_i) mod p)."""
    hw = _words(docs, text_col, id_col).withColumn(
        "x", F.expr(PORTABLE_HASH.format(x="w")))
    aggs = [F.min((F.lit(a) * F.col("x") + F.lit(b)) % F.lit(p)).alias(f"s{i}")
            for i, (a, b) in enumerate(hashes)]
    return hw.groupBy("doc_id").agg(*aggs)


def simhash(docs: DataFrame, text_col="text", id_col="doc_id", bits=16) -> DataFrame:
    """SimHash over the word multiset with md5-derived bit sources."""
    hw = _words(docs, text_col, id_col, distinct=False).withColumn(
        "x", F.expr(PORTABLE_HASH.format(x="w")))
    sums = [F.sum(F.when((F.shiftright(F.col("x"), j).bitwiseAND(F.lit(1))) == 1, 1)
                  .otherwise(-1)).alias(f"b{j}") for j in range(bits)]
    agg = hw.groupBy("doc_id").agg(*sums)
    val = None
    for j in range(bits):
        term = F.when(F.col(f"b{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        val = term if val is None else val + term
    return agg.select("doc_id", val.cast("long").alias("simhash"))


def word_shingles(docs: DataFrame, n=3, text_col="text", id_col="doc_id",
                  hashed: bool = False) -> DataFrame:
    """Distinct word ``n``-gram shingles per doc -> (doc_id, s), doc_id
    keeping ``id_col``'s type. One ``mapInArrow`` kernel
    (kernels/shingles.word_grams) splits the text on " " as
    ``split(text, " ")`` does (empty tokens stay), joins each window of
    ``n`` tokens with " " and keeps each doc's distinct grams, so rows
    leave the scan stage already deduplicated per doc. A doc with a null
    text or fewer than ``n`` tokens has no shingles; a null id keeps its
    shingles, with a null doc_id.

    ``hashed`` replaces the gram with ``xxhash64`` of it, computed in the
    JVM, so exchanges downstream move 8-byte longs instead of ~n-word
    strings. Two grams of one doc that collide in 64 bits then give two
    rows with the same ``s`` (about 1e-10 at 10^5 distinct grams);
    ngram_jaccard_pairs counts such a pair once."""
    if n < 1:
        raise ValueError("word_shingles: n must be at least 1, got %r" % n)
    schema = StructType([StructField("doc_id", docs.schema[id_col].dataType),
                         StructField("s", StringType())])
    sh = (docs.select(F.col(id_col).alias("doc_id"),
                      F.col(text_col).alias("text"))
          .mapInArrow(partial(word_grams, n=n), schema))
    return sh.withColumn("s", F.xxhash64("s")) if hashed else sh


MAX_SHINGLE_DF_DEFAULT = 1000

# documents bytes (the plan's size estimate) one group of the shingle
# exchange covers at most: a posting task holds one group's (doc, key)
# pairs at a time, a number linear in those bytes. A plan without
# statistics gets one group per partition.
GROUP_INPUT_BYTES = 1 << 22
# the most buckets the shingle exchange has: far below the 2^31 that
# repartitionById's int partition id allows
MAX_BUCKETS = 1 << 24


def _bucket_count(size, n_part: int) -> int:
    """The shingle exchange's bucket count: ``n_part`` times the groups
    a partition holds, one per GROUP_INPUT_BYTES of the documents' size
    estimate ``size`` (one group when it is None), MAX_BUCKETS at most."""
    groups = -(-(size or 0) // (n_part * GROUP_INPUT_BYTES))
    return n_part * min(max(1, groups), max(1, MAX_BUCKETS // n_part))


def ngram_jaccard_pairs(docs: DataFrame, n=3, threshold=0.2,
                        text_col="text", id_col="doc_id",
                        max_shingle_df=MAX_SHINGLE_DF_DEFAULT,
                        log_dropped=False) -> DataFrame:
    """Near-dup pairs by word-n-gram Jaccard >= threshold -> (d1, d2,
    common, jaccard) with d1 < d2, ``common`` the number of distinct
    shingles the two docs share and ``jaccard`` rounded to 6 places.
    ``id_col`` must be an integral column whose values are unique; a
    non-integral one raises ``TypeError`` before any job runs.

    ``max_shingle_df`` drops shingles appearing in more than that many
    docs (stop-shingles). It bounds the per-shingle doc list, and so the
    pair fanout, at the cost of slightly underestimating the overlap of
    boilerplate-heavy pairs; doc sizes are counted after the drop. Pass
    ``None`` for exact Jaccard. ``log_dropped=True`` counts and warns
    about dropped stop-shingles: one extra job over the corpus counts
    them, and the result is the capped one (keep it off the hot path).
    Docs with a null id take no part.

    Plan, three Arrow kernels that partition their own output, and three
    exchanges. Each kernel emits, per batch, a few rows holding raw
    int64 arrays (kernels/overlap), and ``repartitionById`` places
    them; P is the session's shuffle partitions.

    1. kernels/shingles.key_blobs keys each doc's distinct grams with a
       64-bit hash of their bytes and emits the (doc, key) pairs in one
       row per key bucket. Bucket b goes to partition ``b % P``; a
       partition holds G buckets, G from the documents' size estimate
       and GROUP_INPUT_BYTES (1 without statistics). If G > 1 the rows
       are sorted on bucket and a task reads one bucket at a time;
    2. kernels/overlap.posting_blobs builds each shingle's sorted doc
       list, drops the stop-shingles, and emits per doc d1 its number of
       lists ``k`` and the docs after d1 in them (its tails), in rows
       ordered by a hash of d1 and routed by a range of it. The rows are
       sorted on their first hash, so the counting kernel can count the
       d1 below it and hold a bounded buffer, however long the lists;
    3. kernels/overlap.shared_shingle_counts counts each (d1, d2)'s
       shared shingles per d1. A doc's size ``sz1`` is the sum of its
       ``k``, so the kernel drops every pair that fails the necessary bound
       ``common >= (t - 1e-6)*sz1 - 1`` and emits one size row per doc;
    4. one small exchange on ``coalesce(d2, d1)``: a window ``max`` hands
       each candidate its ``sz2`` from d2's size row, and the exact
       ``round(jaccard, 6) >= threshold`` filter runs.

    The pair stream never crosses an exchange or a hash aggregation, the
    shingle and tail streams cross theirs as a few blob rows, and the
    shingle stream is derived once."""
    id_type = docs.schema[id_col].dataType
    if not isinstance(id_type, IntegralType):
        raise TypeError("ngram_jaccard_pairs: id_col %r must be an integral "
                        "type, got %s" % (id_col, id_type.simpleString()))
    if n < 1:
        raise ValueError("ngram_jaccard_pairs: n must be at least 1, got %r"
                         % n)
    docs = docs.where(F.col(id_col).isNotNull())
    # The exchanges are pinned at the session's shuffle parallelism:
    # repartitionById keeps its partition count, and AQE sizing them by
    # their bytes would coalesce the stages whose work (the posting
    # lists, the counting kernel) is far larger than their input.
    n_part = shuffle_partitions(docs.sparkSession)
    n_buckets = _bucket_count(size_estimate(docs), n_part)
    keys = (spread_small_input(docs).select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(text_col).alias("text"))
        .mapInArrow(partial(key_blobs, n=n, n_buckets=n_buckets),
                    KEY_BLOB_DDL)
        .repartitionById(n_part, "bucket"))
    if n_buckets > n_part:
        keys = keys.sortWithinPartitions("bucket")
    if max_shingle_df is not None and log_dropped:
        # diagnostic path (explicitly off the hot path): a separate df
        # census over the same keys, so the dropped count can be reported
        import warnings
        n_hot = keys.mapInArrow(
            partial(stop_shingle_census, max_shingle_df=max_shingle_df),
            CENSUS_DDL).agg(F.sum("n")).first()[0]
        if n_hot:
            warnings.warn(
                "ngram_jaccard_pairs: dropping %d stop-shingles with "
                "df > %d" % (n_hot, max_shingle_df))
    tails = (keys.mapInArrow(
        partial(posting_blobs, max_shingle_df=max_shingle_df,
                n_buckets=n_buckets, n_part=n_part), POSTING_DDL)
        .repartitionById(n_part, "part").sortWithinPartitions("start"))
    counts = tails.mapInArrow(
        partial(shared_shingle_counts, threshold=threshold), _COUNTS_DDL)
    sz2 = F.max(F.when(F.col("d2").isNull(), F.col("sz"))).over(
        W.partitionBy(F.coalesce("d2", "d1")))
    jac = F.col("common") / (F.col("sz") + F.col("sz2") - F.col("common"))
    return (counts.withColumn("sz2", sz2)
            .where(F.col("d2").isNotNull())
            .withColumn("jaccard", F.round(jac, 6))
            .where(F.col("jaccard") >= threshold)
            .select(F.col("d1").cast(id_type).alias("d1"),
                    F.col("d2").cast(id_type).alias("d2"),
                    "common", "jaccard"))


def neardup_components(pairs: DataFrame, a_col="a", b_col="b",
                       max_iter: int = 50) -> DataFrame:
    """Connected components over near-duplicate candidate pairs ->
    (id, component) where component is the MINIMUM id reachable in the
    undirected pair graph. This is the canonicalization step of a dedup
    pipeline: every document keeps exactly one representative (the
    component id) and the rest are dropped.

    Iterative min-label propagation: each round every node takes the min
    of its own label and its neighbors' labels; converges in
    graph-diameter rounds. Near-dup graphs are overwhelmingly tiny
    cliques/chains (diameter 1-3), so 3-5 distributed rounds settle a
    corpus; ``max_iter`` bounds pathological chains. Each round is one
    shuffle on the edge key plus a broadcast-friendly label join; labels
    are localCheckpoint'ed to truncate the lineage (iterative plans
    otherwise grow exponentially). Convergence is detected with a
    changed-label count — a cheap scalar action per round.
    """
    edges = (pairs.select(F.col(a_col).alias("s"), F.col(b_col).alias("d"))
             .unionByName(pairs.select(F.col(b_col).alias("s"),
                                       F.col(a_col).alias("d"))))
    edges = edges.persist()
    labels = (edges.select(F.col("s").alias("id")).distinct()
              .select("id", F.col("id").alias("component")))
    labels = labels.localCheckpoint()

    for _ in range(max_iter):
        neigh_min = (edges.join(labels, edges["s"] == labels["id"])
                     .groupBy(F.col("d").alias("id"))
                     .agg(F.min("component").alias("nmin")))
        new_labels = (labels.join(neigh_min, "id", "left")
                      .select("id", F.least("component", "nmin")
                              .alias("component")))
        new_labels = new_labels.localCheckpoint()
        changed = (new_labels.alias("n")
                   .join(labels.alias("o"), "id")
                   .where(F.col("n.component") != F.col("o.component"))
                   .count())
        labels = new_labels
        if changed == 0:
            break
    edges.unpersist()
    return labels
