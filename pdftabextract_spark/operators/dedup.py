"""Deduplication operators for large text corpora (first-class engine
components per the build brief): exact hashing, MinHash+LSH, SimHash, and
n-gram Jaccard. All hashing is md5-derived so results are portable across
engines (the DuckDB oracles in __spark_entry__ compute identical values).

Scale notes: exact dedup is one hash-groupBy; minhash/simhash shuffle once
on doc_id after the word explode (map-side partial min/sum aggregation
keeps the exchange small); LSH banding turns the quadratic near-dup
problem into an equi-join on band buckets; the shingle join for n-gram
Jaccard is bounded by shingle frequency — salting hot shingles or capping
document frequency (stop-shingle removal) is the knob at 100 TB, exposed
as ``max_shingle_df``.
"""

from pyspark.sql import DataFrame, Window as W, functions as F

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


def minhash_lsh_pairs(docs: DataFrame, text_col="text", id_col="doc_id",
                      bands=2) -> DataFrame:
    """LSH candidate pairs: split the 8-hash signature into ``bands`` bands
    and equi-join docs sharing a full band. Returns (d1, d2, n_bands)."""
    sig = minhash_signatures(docs, text_col, id_col)
    n = len(MINHASH_AB)
    per = n // bands
    parts = []
    for bidx in range(bands):
        cols = [f"s{i}" for i in range(bidx * per, (bidx + 1) * per)]
        parts.append(sig.select(
            "doc_id", F.lit(bidx).alias("band"),
            F.concat_ws(",", *cols).alias("bucket")))
    all_bands = parts[0]
    for pdf in parts[1:]:
        all_bands = all_bands.unionByName(pdf)
    a = all_bands.alias("a")
    b = all_bands.alias("b")
    return (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.bucket") == F.col("b.bucket"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
            .agg(F.count("*").alias("n_bands")))


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
    """Distinct word n-gram shingles per doc (JVM-side transform over
    sequence — no Python). ``hashed`` replaces the shingle string with
    xxhash64(s) BEFORE the distinct: the dedup and the downstream
    equi-join then move 8-byte longs instead of ~n-word strings through
    the exchange (string keys dominated the q18 shuffle). A 64-bit
    collision between two distinct shingles of the same doc pair is the
    only way this changes a count (~1e-10 at 10^5 distinct shingles,
    deterministic when it happens).

    .. note:: **Changed in round 5** — per-doc dedup moved from a global
       ``(doc_id, s)`` ``distinct()`` (a full-corpus exchange) to a
       map-side ``array_distinct`` inside the shingle row, before the
       explode. Output multiset is identical (a shingle is unique within
       its own doc either way); at 10^12 docs this removes the single
       largest shuffle of the n-gram path — shingle rows now leave the
       scan stage already deduped, and the first exchange downstream is
       the one the consumer actually needs (hash by ``s``)."""
    d = docs.select(F.col(id_col).alias("doc_id"), F.split(text_col, " ").alias("ws"))
    d = d.where(F.size("ws") >= n)
    # greatest(..., 0) keeps the expression total: sequence(0, negative)
    # generates a DESCENDING range whose -1 crashes slice when codegen
    # evaluates the gram array before the >= n filter drops the row (the
    # row is still dropped; a clamped bogus gram on it is never observed)
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size("ws") - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(F.col("ws"), i + 1, n)))
    if hashed:
        grams = F.transform(grams, lambda s: F.xxhash64(s))
    return d.select("doc_id", F.explode(F.array_distinct(grams)).alias("s"))


MAX_SHINGLE_DF_DEFAULT = 1000

from ..partitioning import spread_small_input as _spread_small_input  # noqa: E402


def ngram_jaccard_pairs(docs: DataFrame, n=3, threshold=0.2,
                        text_col="text", id_col="doc_id",
                        max_shingle_df=MAX_SHINGLE_DF_DEFAULT,
                        log_dropped=False) -> DataFrame:
    """Near-dup pairs by word-n-gram Jaccard >= threshold. ``max_shingle_df``
    drops shingles appearing in more than that many docs (stop-shingles) —
    THE scale knob: it bounds the per-shingle pair fanout at df^2 (default
    1000 -> <=1e6 pairs per hot shingle) at the cost of slightly
    underestimating overlap of boilerplate-heavy pairs. An unbounded hot
    shingle (site boilerplate in 50% of a 10^9-doc corpus) otherwise makes
    pair generation quadratic in its document frequency.

    .. note:: **Changed in round 3** — the default was ``None`` (exact
       Jaccard, unbounded fanout); it is now 1000. Callers relying on
       exact Jaccard for shingles with document frequency above 1000
       must pass ``max_shingle_df=None`` explicitly.

    .. note:: **Rewritten in round 6 (plan only — output identical).**
       Candidate pairs used to come from a shingle self-equi-join
       (``a.s = b.s AND a.doc_id < b.doc_id``): the full pair fanout
       (~df^2/2 rows per shingle, measured 127M rows / 849 MB at the
       sf1.0 bench corpus) was produced by join machinery inside the
       scan stage and shuffled un-reduced into the ``(d1, d2)``
       aggregation. Pairs are now enumerated from a per-shingle sorted
       doc-id list (``groupBy(s).collect_list`` — buffers bounded by
       ``max_shingle_df`` because stop-shingles are dropped first) with
       two chained JVM generators: ``posexplode`` of the sorted list,
       then ``explode(slice(ds, pos + 2, size))`` of the ids after each
       position. Generation is codegen over 8-byte longs, runs at full
       parallelism after the shingle exchange, and the shingle stream is
       derived once instead of four times (census / anti-join probe /
       both self-join sides). The doc-id list per surviving shingle is
       exactly the set the self-join matched, and each id paired with
       every later id of the sorted list is exactly ``d1 < d2`` — same
       pair multiset, same counts.

    Pass ``max_shingle_df=None`` for exact
    Jaccard; ``log_dropped=True`` counts and warns about dropped
    stop-shingles (one extra action — keep off the hot path)."""
    sh = word_shingles(_spread_small_input(docs), n, text_col, id_col,
                       hashed=True)
    # The repartition pins the exchange at the session's shuffle
    # parallelism: AQE sizes post-shuffle partitions by the *exchange*
    # bytes (a few MB of doc-id lists) and would coalesce the stage that
    # explodes them into the full pair fanout (measured: 10 tasks for a
    # 125M-row generation on 32 cores).
    n_part = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    if max_shingle_df is not None and log_dropped:
        # diagnostic path (explicitly off the hot path): a separate df
        # census so the dropped count can be reported
        import warnings
        hot = sh.groupBy("s").count().where(F.col("count") > max_shingle_df) \
                .select("s")
        n_hot = hot.count()
        if n_hot:
            warnings.warn(
                "ngram_jaccard_pairs: dropping %d stop-shingles with "
                "df > %d" % (n_hot, max_shingle_df))
        sh = sh.join(hot, "s", "left_anti").repartition(n_part, "s")
    elif max_shingle_df is not None:
        # stop-shingle drop fused into the ONE exchange on s: after the
        # repartition every row of a shingle is in one partition, so a
        # whole-partition window count over s IS the global document
        # frequency (shingles are distinct per doc). This replaces the
        # round-6-initial separate census (a second full shingle
        # derivation + a broadcast anti-join whose hot-set broadcast is
        # itself unbounded on adversarial corpora) — interleaved A/B:
        # 8.3-9.2s -> 7.2-7.9s at sf1.0, 2.0-2.4 -> 1.6-2.0 at sf0.1.
        # The window buffer spills to disk for a pathologically hot
        # shingle (ExternalAppendOnlyUnsafeRowArray), which is strictly
        # safer than broadcasting a huge hot set.
        sh = (sh.repartition(n_part, "s")
              .withColumn("_df", F.count("*").over(W.partitionBy("s")))
              .where(F.col("_df") <= max_shingle_df).drop("_df"))
    else:
        sh = sh.repartition(n_part, "s")
    # per-group doc lists are bounded by max_shingle_df (the filter above
    # removed every group larger than the cap), so the aggregation buffer
    # is O(cap) per shingle at any corpus size. With max_shingle_df=None
    # the buffer is unbounded — but so is the pair fanout that mode
    # explicitly opts into.
    g = sh.groupBy("s").agg(F.collect_list("doc_id").alias("ds"))
    sizes = (g.select(F.explode("ds").alias("doc_id"))
             .groupBy("doc_id").agg(F.count("*").alias("sz")))
    # enumerate i < j pairs of the sorted list with two chained generators
    # over primitive longs (slice is 1-based; length may overshoot — slice
    # clamps): no per-pair struct allocation, no flattened pair arrays
    # candidate pairs are near-unique (measured 114M distinct of 127M
    # generated at sf1.0), so a map-side partial aggregation cannot reduce
    # the exchange — the explicit repartition on the group keys makes the
    # planner emit ONE complete aggregation after the exchange instead of
    # a useless partial pass over the full fanout before it
    pairs = (g.where(F.size("ds") >= 2)
             .select(F.array_sort("ds").alias("ds"))
             .select("ds", F.posexplode("ds"))
             .select(F.col("col").alias("d1"),
                     F.explode(F.slice("ds", F.col("pos") + F.lit(2),
                                       F.size("ds"))).alias("d2"))
             .repartition(n_part, "d1", "d2")
             .groupBy("d1", "d2")
             .agg(F.count("*").alias("common")))
    # threshold pushdown below the size joins (exact): jaccard >= t
    # requires common >= t*(sz1+sz2)/(1+t) >= t*2*min(sz)/(1+t), so any
    # pair under the corpus-min bound cannot reach the threshold no
    # matter its sizes. The -1 slack absorbs float representation error
    # (common is integral, the true bound real — a pair on the boundary
    # is kept and re-checked by the exact filter below). Measured at
    # sf1.0: the bound (min_sz 7 -> common >= 3) drops 99.1% of the
    # 114M aggregated pairs before the two size joins and the jaccard
    # arithmetic; the 1-row min is a broadcast, not a driver action.
    min_sz = sizes.agg(F.min("sz").alias("_min_sz"))
    bound = (F.col("_min_sz") * F.lit(2.0 * threshold / (1.0 + threshold))
             - F.lit(1.0))
    pairs = (pairs.crossJoin(F.broadcast(min_sz))
             .where(F.col("common") >= bound)
             .drop("_min_sz"))
    sa = sizes.select(F.col("doc_id").alias("d1"), F.col("sz").alias("sz1"))
    sb = sizes.select(F.col("doc_id").alias("d2"), F.col("sz").alias("sz2"))
    jac = F.col("common") / (F.col("sz1") + F.col("sz2") - F.col("common"))
    return (pairs.join(sa, "d1").join(sb, "d2")
            .withColumn("jaccard", F.round(jac, 6))
            .where(F.col("jaccard") >= threshold)
            .select("d1", "d2", "common", "jaccard"))


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
