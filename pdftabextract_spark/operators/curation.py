"""Corpus-curation operators for training-data pipelines (first-class
engine components per the build brief): repetition-based quality signals,
regex pattern census (the PII-scan shape), token-budgeted sequence
packing, deterministic stratified sampling, and per-source quality
rollups. Everything is deterministic and oracle-portable (md5-derived
randomness, explicit rounding).

Scale notes: every operator here is a narrow projection or a single
keyed aggregation — no self-joins, no driver-side state. Sequence
packing is the one genuinely sequential algorithm; it runs per GROUP
(source shard) inside applyInPandas, which is exactly how a 100 TB
corpus is packed in practice (per input shard, never one global scan),
and group skew is bounded by shard size, not corpus size. Nothing here
caches or persists a frame: where a shingle stream feeds two consumers
(boilerplate_fraction's census and probe, duplicate_passage_rate's
windows and census), each re-derives it, so a call leaves no cached
block behind in the session.
"""

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window as W, functions as F


# ------------------------------------------------- repetition signals

def repetition_signals(docs: DataFrame, text_col="text",
                       id_col="doc_id") -> DataFrame:
    """Gopher-style word n-gram repetition fractions per document:
    ``top_bigram_frac`` (share of bigram slots taken by the single most
    frequent bigram) and ``dup_trigram_frac`` (share of trigram slots
    whose trigram occurs more than once). High values flag boilerplate /
    spammy repetition. Documents with < 3 words have no trigram
    distribution and drop out (mirrored in the SQL oracle). Rounded to
    6 dp for cross-engine value parity."""
    ws = F.split(text_col, " ")
    base = docs.select(F.col(id_col).alias("doc_id"), ws.alias("ws")) \
               .where(F.size("ws") >= 3)
    bigrams = F.expr("transform(sequence(1, size(ws) - 1), "
                     "i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))")
    trigrams = F.expr("transform(sequence(1, size(ws) - 2), "
                      "i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1), "
                      "' ', element_at(ws, i + 2)))")
    bg = base.select("doc_id", F.explode(bigrams).alias("g")) \
             .groupBy("doc_id", "g").agg(F.count("*").alias("c")) \
             .groupBy("doc_id").agg(
                 (F.max("c") / F.sum("c")).alias("_top"))
    tg = base.select("doc_id", F.explode(trigrams).alias("g")) \
             .groupBy("doc_id", "g").agg(F.count("*").alias("c")) \
             .groupBy("doc_id").agg(
                 (F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(F.lit(0)))
                  / F.sum("c")).alias("_dup"))
    return (bg.join(tg, "doc_id")
            .select("doc_id",
                    F.round("_top", 6).alias("top_bigram_frac"),
                    F.round("_dup", 6).alias("dup_trigram_frac")))


# ---------------------------------------------------- pattern census

DEFAULT_PATTERNS = {
    # the PII-scan shape: email-ish, digit runs, url-ish tokens
    "emailish": "[a-z0-9]+@[a-z0-9]+",
    "digitrun": "[0-9][0-9][0-9]+",
    "urlish": "http[s]?://[a-z]+",
}


def pattern_census(docs: DataFrame, patterns=None, text_col="text",
                   id_col="doc_id") -> DataFrame:
    """Per-document occurrence counts for a dict of named regexes — the
    operator shape behind PII scanning / contamination probes. One
    projection, JVM regex engine, no shuffle. Patterns must stay in the
    POSIX-ish subset both Spark (Java) and the DuckDB oracle (RE2)
    interpret identically: char classes, literals, +, ?."""
    patterns = patterns or DEFAULT_PATTERNS
    cols = [F.col(id_col).alias("doc_id")]
    for name, rx in patterns.items():
        cols.append(F.regexp_count(F.col(text_col), F.lit(rx))
                    .cast("long").alias(name))
    return docs.select(*cols)


# ------------------------------------------------- next-fit packing

def with_token_counts(docs: DataFrame, tokenizer, text_col="text",
                      out_col="tokens", batch_kernel=None) -> DataFrame:
    """Attach a tokenizer-computed token-count column via an Arrow-batched
    pandas UDF (never per-row Python): ``tokenizer`` is any Python
    callable ``str -> list`` or ``str -> int`` (e.g. a BPE encode); pass
    ``batch_kernel`` (``pd.Series -> pd.Series``) instead when the
    tokenizer has a native batch API (e.g. ``tok.encode_batch``) to skip
    the per-string Python loop entirely. Real packing budgets are
    tokenizer tokens, not whitespace words — feed the result to
    :func:`pack_next_fit` via ``tokens_col=out_col``."""
    from pyspark.sql.functions import pandas_udf

    if batch_kernel is None:
        def batch_kernel(s: pd.Series) -> pd.Series:
            def n_tokens(t):
                r = tokenizer(t if t is not None else "")
                return r if isinstance(r, int) else len(r)
            return s.map(n_tokens)

    kernel = pandas_udf(batch_kernel, "long")
    return docs.withColumn(out_col, kernel(F.col(text_col)))


def pack_next_fit(docs: DataFrame, budget: int, text_col="text",
                  id_col="doc_id", group_col="source",
                  tokens_col=None) -> DataFrame:
    """Token-budgeted next-fit sequence packing, the training-data step
    that turns documents into context-window groups: within each
    ``group_col`` shard, walk documents in ``id_col`` order and append to
    the current pack while the token sum stays <= budget; else open a new
    pack. A document larger than the budget gets a pack of its own (it is
    never split). Returns (doc_id, group, tokens, pack_id) with pack_id
    dense from 0 per group.

    ``tokens_col`` names a pre-computed token-count column (e.g. from
    :func:`with_token_counts` with a real tokenizer) — the packing walk
    is tokenizer-agnostic; the default whitespace split is only the
    self-contained fallback. The sequential walk is per-shard
    (applyInPandas over the group key) — the 100 TB layout, where packing
    is shard-local by construction and the shuffle is one exchange on the
    shard key."""
    tokens = (F.col(tokens_col).cast("long") if tokens_col is not None
              else F.size(F.split(text_col, " ")).cast("long"))
    toks = docs.select(F.col(id_col).alias("doc_id"),
                       F.col(group_col).alias("grp"),
                       tokens.alias("tokens"))

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        t = pdf["tokens"].to_numpy()
        pack = np.empty(len(t), dtype=np.int64)
        pid, acc = 0, 0
        for i, v in enumerate(t):
            v = int(v)
            if acc > 0 and acc + v > budget:
                pid += 1
                acc = 0
            acc += v
            pack[i] = pid
        pdf["pack_id"] = pack
        return pdf

    out_schema = "doc_id long, grp string, tokens long, pack_id long"
    return (toks.groupBy("grp").applyInPandas(kernel, schema=out_schema)
            .select("doc_id", F.col("grp").alias("group"), "tokens", "pack_id"))


# -------------------------------------------- decontamination

def contamination(docs: DataFrame, eval_docs: DataFrame, n: int = 13,
                  text_col="text", id_col="doc_id", eval_text_col=None,
                  eval_id_col=None, broadcast_eval=True) -> DataFrame:
    """Train-vs-eval n-gram overlap — the industry-standard contamination
    check (GPT-3/PaLM/Llama eval decontamination): per training document,
    the fraction of its distinct word ``n``-gram shingles that also occur
    anywhere in the eval corpus. Returns (doc_id, n_shingles,
    contaminated, rate); documents with fewer than ``n`` words have no
    shingles and drop out (mirrored in the SQL oracle). Default ``n=13``
    is the published standard; pass smaller ``n`` for short-document
    corpora.

    Scale shape: shingles are xxhash64'd 8-byte keys (reusing
    :func:`~pdftabextract_spark.operators.dedup.word_shingles`); the
    distinct eval shingle set is BROADCAST by
    default — eval suites are thousands of documents, so their shingle
    set is megabytes against a 100 TB train corpus, making the check one
    map-side semi-join plus one groupBy on doc_id. Pass
    ``broadcast_eval=False`` for an oversized eval side (falls back to a
    shuffled left join on the hash key).

    Round 6 (plan only — output identical): totals and hits used to be
    two separate consumers of the train shingle stream (a groupBy each,
    merged with a doc_id join), so the scan + shingle derivation ran
    twice per call. They are now ONE pass: a left join against the
    distinct eval set marks each shingle row, and a single groupBy counts
    rows and marks together (the eval set is distinct, so the left join
    is fanout-free)."""
    from pyspark.sql.functions import broadcast
    from .dedup import word_shingles

    sh = word_shingles(docs, n, text_col, id_col, hashed=True)
    ev = word_shingles(eval_docs, n, eval_text_col or text_col,
                       eval_id_col or id_col, hashed=True) \
        .select("s").distinct().withColumn("_m", F.lit(1))
    if broadcast_eval:
        ev = broadcast(ev)
    return (sh.join(ev, "s", "left").groupBy("doc_id")
            .agg(F.count("*").alias("n_shingles"),
                 F.count("_m").alias("contaminated"))
            .select("doc_id", "n_shingles", "contaminated",
                    F.round(F.col("contaminated")
                            / F.col("n_shingles"), 6).alias("rate")))


# -------------------------------------------- deterministic sampling

def stratified_sample(docs: DataFrame, rates: dict, default_rate=0.0,
                      stratum_col="lang", id_col="doc_id") -> DataFrame:
    """Deterministic stratified Bernoulli sampling: a document is kept
    iff the first 4 hex chars of md5(doc_id) fall below the stratum's
    rate threshold — reproducible across engines and runs, no RNG state,
    map-only (the 100 TB shape: sampling decisions must be recomputable
    per row, never stored). Rates are quantized to 1/65536; a rate >= 1.0
    keeps EVERY document in the stratum (no threshold filter — a strict
    ``< 'ffff'`` would silently drop the ~1/65536 of documents whose md5
    prefix is 'ffff'). Oracles for rates < 1.0 are unchanged."""
    u = F.substring(F.md5(F.col(id_col).cast("string")), 1, 4)

    def _keep(rate):
        if rate >= 1.0:
            return F.lit(True)
        return u < F.lit("%04x" % min(65535, int(rate * 65536)))

    keep = None
    for stratum, rate in rates.items():
        cond = F.col(stratum_col) == stratum
        keep = F.when(cond, _keep(rate)) if keep is None \
            else keep.when(cond, _keep(rate))
    keep = keep.otherwise(_keep(default_rate)) if keep is not None \
        else _keep(default_rate)
    return (docs.where(keep)
            .select(F.col(id_col).alias("doc_id"),
                    F.col(stratum_col).alias("stratum")))


# ------------------------------------------------- source rollups

def source_mix_rates(docs: DataFrame, targets: dict,
                     stratum_col="source") -> DataFrame:
    """Per-stratum Bernoulli keep-rates that achieve a target corpus mix
    WITHOUT upsampling — the standard source-balancing step of an LLM
    data pipeline (cf. the published Pile / CCNet / RefinedWeb mixing
    recipes). ``targets`` maps stratum value -> desired output share
    (shares over the targeted strata should sum to ~1). The largest
    downsample-only corpus honoring the mix has
    ``N_out = min_s(n_s / share_s)``; each stratum then keeps
    ``rate_s = share_s * N_out / n_s`` (<= 1 by construction, = 1 for
    the binding stratum). Returns (stratum, n_docs, target_share,
    keep_rate); feed the rates to :func:`stratified_sample`.

    Scale shape: ONE count aggregation (map-side partials) down to
    |strata| rows, a literal-map lookup, and a broadcast of the 1-row
    minimum — nothing driver-side, no second pass over the corpus."""
    counts = docs.groupBy(stratum_col).agg(F.count("*").alias("n_docs"))
    mapping = F.create_map(
        *[F.lit(x) for k, v in targets.items() for x in (k, float(v))])
    t = (counts
         .withColumn("target_share", mapping[F.col(stratum_col)])
         .where(F.col("target_share").isNotNull()))
    n_out = t.agg(F.min(F.col("n_docs") / F.col("target_share"))
                  .alias("_n_out"))
    from pyspark.sql.functions import broadcast
    return (t.crossJoin(broadcast(n_out))
            .select(F.col(stratum_col).alias("stratum"),
                    "n_docs", "target_share",
                    F.round(F.col("target_share") * F.col("_n_out")
                            / F.col("n_docs"), 6).alias("keep_rate")))


def boilerplate_fraction(docs: DataFrame, n: int = 8, min_docs: int = 2,
                         text_col="text", id_col="doc_id") -> DataFrame:
    """Cross-document boilerplate signal: per document, the fraction of
    its DISTINCT word ``n``-gram shingles that occur in at least
    ``min_docs`` distinct documents corpus-wide (headers, footers,
    license blurbs, templated chrome). Complements
    :func:`repetition_signals` (within-doc repetition) and
    :func:`contamination` (train-vs-eval overlap): this one needs no
    reference set — the corpus itself is the evidence. Returns
    (doc_id, n_shingles, boilerplate, rate); documents with fewer than
    ``n`` words drop out (no shingles), like the other shingle ops.

    Scale shape: shingles are xxhash64 8-byte keys
    (:func:`~pdftabextract_spark.operators.dedup.word_shingles`,
    distinct per doc); the document-frequency count is
    one groupBy on the hash with map-side partials, and the frequent set
    comes back as a join — never an all-pairs comparison.

    Round 6 (plan only — output identical): per-doc totals and hit counts
    used to be two separate consumers of the shingle stream (two groupBys
    merged on doc_id), so scan + shingling ran three times per call
    (census, totals, hits). Totals and hits are now ONE pass — a left
    join against the frequent set marks each shingle row (fanout-free:
    the frequent set has one row per shingle) and a single groupBy counts
    rows and marks together — leaving two derivations (census + marked
    stream); nothing is cached."""
    from .dedup import word_shingles

    sh = word_shingles(docs, n, text_col, id_col, hashed=True)
    frequent = (sh.groupBy("s").agg(F.count("*").alias("_df"))
                .where(F.col("_df") >= int(min_docs)).select("s")
                .withColumn("_m", F.lit(1)))
    return (sh.join(frequent, "s", "left")
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_shingles"),
                 F.count("_m").alias("boilerplate"))
            .select("doc_id", "n_shingles", "boilerplate",
                    F.round(F.col("boilerplate")
                            / F.col("n_shingles"), 6).alias("rate")))


def duplicate_passage_rate(docs: DataFrame, k: int = 50, text_col="text",
                           id_col="doc_id") -> DataFrame:
    """Exact duplicate-passage rate per document (the ExactSubstr dedup
    signal of Lee et al., "Deduplicating Training Data Makes Language
    Models Better", ACL 2022, computed at word granularity): the fraction
    of a document's word ``k``-gram windows — WITH multiplicity, so the
    rate measures how much of the document's running text sits inside a
    duplicated passage — whose exact content also occurs in at least one
    OTHER document. Differs from :func:`boilerplate_fraction` (distinct
    shingle share ≥ min_docs, a vocabulary-level signal) by weighting by
    occurrence count: a doc that repeats one shared passage many times
    scores high here and low there. Returns (doc_id, n_windows,
    dup_windows, dup_rate); documents shorter than ``k`` words drop out.
    Default ``k=50`` follows the paper's 50-token threshold; pass a
    smaller ``k`` for short-document corpora.

    Scale shape: windows are xxhash64 8-byte keys built JVM-side
    (transform over sequence — no Python); the distinct-document count
    per window dedups each doc's windows map-side (``array_distinct``, as
    :func:`~pdftabextract_spark.operators.dedup.word_shingles` dedups its
    grams per doc), so the census groupBy receives at most one row per
    (doc, window) and partial-aggregates map-side. The census joins
    back to the multiplicity-bearing window stream on the 8-byte hash —
    a shuffled equi-join, never all-pairs — and a hot boilerplate window
    costs its document frequency once in the census, not df² anywhere.

    Round 6 (plan only — output identical): the per-doc window-hash
    ARRAY is built once and shared by both consumers (the multiplicity
    stream explodes it, the census explodes its ``array_distinct`` —
    previously the census re-split and re-hashed the text through a
    separate ``word_shingles`` call, a third pass over the corpus);
    nothing is cached."""
    d = (docs.select(F.col(id_col).alias("doc_id"),
                     F.split(text_col, " ").alias("ws"))
         .where(F.size("ws") >= k))
    # greatest(..., 0) keeps the expression total: sequence(0, negative)
    # generates a DESCENDING range whose -1 crashes slice when codegen
    # evaluates the array before the >= k filter drops the row (the row
    # is still dropped; a clamped bogus gram on it is never observed)
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size("ws") - k, F.lit(0))),
        lambda i: F.xxhash64(F.concat_ws(" ", F.slice(F.col("ws"), i + 1, k))))
    g = d.select("doc_id", grams.alias("gs"))
    wins = g.select("doc_id", F.explode("gs").alias("s"))
    ndocs = (g.select(F.explode(F.array_distinct("gs")).alias("s"))
             .groupBy("s").agg(F.count("*").alias("_nd")))
    return (wins.join(ndocs, "s")
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_windows"),
                 F.count(F.when(F.col("_nd") > 1, True)).alias("dup_windows"))
            .withColumn("dup_rate",
                        F.round(F.col("dup_windows") / F.col("n_windows"), 6)))


def source_rollup(docs: DataFrame, text_col="text", id_col="doc_id",
                  source_col="source") -> DataFrame:
    """Per-source curation dashboard: document count, distinct languages,
    mean and exact median document length, exact-duplicate rate (share of
    rows whose md5(text) occurs more than once within the source). One
    aggregation per metric family, merged on the source key."""
    base = docs.select(F.col(source_col).alias("source"),
                       F.col(id_col).alias("doc_id"),
                       F.col("lang"),
                       F.length(text_col).cast("double").alias("n"),
                       F.md5(text_col).alias("h"))
    stats = base.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.round(F.avg("n"), 6).alias("mean_chars"),
        F.expr("percentile(n, 0.5)").alias("median_chars"))
    dup = (base.groupBy("source", "h").agg(F.count("*").alias("c"))
           .groupBy("source").agg(
               (F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(F.lit(0)))
                / F.sum("c")).alias("_dup")))
    return (stats.join(dup, "source")
            .select("source", "n_docs", "n_langs", "mean_chars",
                    F.round("median_chars", 6).alias("median_chars"),
                    F.round("_dup", 6).alias("dup_rate")))


FIXED_SAMPLE_SALTS = 64


def fixed_size_sample(docs: DataFrame, n: int, stratum_col="lang",
                      id_col="doc_id",
                      salts: int = FIXED_SAMPLE_SALTS) -> DataFrame:
    """Deterministic fixed-size sample per stratum: rank rows by
    md5(doc_id) inside each stratum and keep the first ``n`` — a
    reproducible substitute for reservoir sampling whose membership is
    stable under corpus growth ONLY for the ranked prefix (unlike
    rate-based stratified_sample, which is fully append-stable but
    yields a size only in expectation).

    Round 6 (plan only — output identical): the single window per
    stratum funneled the stratum's ENTIRE population through one task (a
    10^11-row ``en`` stratum at 100 TB -> one reducer). The ranking is
    now two-phase: phase 1 ranks within ``(stratum, salt)`` — salt =
    ``pmod(xxhash64(id), salts)``, deterministic per guide §2.5, never
    ``rand()`` — and keeps each salt group's top ``n``; phase 2 ranks the
    ≤ ``salts * n`` survivors per stratum. Every row in the stratum's
    true top ``n`` is also in its own salt group's top ``n``, so phase 2
    sees every final row and assigns exactly the ranks the single window
    would have — while no task ever holds more than its partition share
    of phase 1 or ``salts * n`` rows of phase 2."""
    u = F.md5(F.col(id_col).cast("string"))
    base = docs.select(F.col(id_col).alias("doc_id"),
                       F.col(stratum_col).alias("stratum"),
                       u.alias("_u"),
                       F.pmod(F.xxhash64(F.col(id_col)), F.lit(int(salts)))
                        .alias("_salt"))
    w1 = W.partitionBy("stratum", "_salt").orderBy("_u", "doc_id")
    pre = (base.withColumn("_r1", F.row_number().over(w1))
           .where(F.col("_r1") <= n))
    w2 = W.partitionBy("stratum").orderBy("_u", "doc_id")
    return (pre.withColumn("rank", F.row_number().over(w2))
            .where(F.col("rank") <= n)
            .select("doc_id", "stratum", F.col("rank").cast("long").alias("rank")))


def vocab_stats(docs: DataFrame, top_n: int = 20, text_col="text",
                id_col="doc_id") -> DataFrame:
    """Corpus vocabulary dashboard: the ``top_n`` words by document
    frequency with collection frequency alongside (ties broken by word
    for determinism). Word explode -> two-level aggregation with
    map-side partials; the result is top_n rows regardless of corpus
    size."""
    words = docs.select(F.col(id_col).alias("doc_id"),
                        F.explode(F.split(text_col, " ")).alias("w")) \
                .where(F.col("w") != "")
    stats = words.groupBy("w").agg(
        F.countDistinct("doc_id").alias("df"),
        F.count("*").alias("cf"))
    return (stats.orderBy(F.col("df").desc(), F.col("cf").desc(), F.col("w"))
            .limit(top_n))


def tfidf_topk(docs: DataFrame, k: int = 3, n_docs: int = None,
               text_col="text", id_col="doc_id") -> DataFrame:
    """Per-document top-``k`` terms by tf-idf — the keyword-extraction /
    routing-tag step of a curation pipeline. tf = in-document term count,
    idf = ln(N / df) with df = number of documents containing the term.

    Returns (doc_id, w, tf, score, rank); score is rounded to 6 decimals
    BEFORE ranking so the (score desc, term asc) order is reproducible
    across engines (libm ln implementations differ in the last ulp).

    Scale shape: one word explode -> (doc, term) count with map-side
    partials; document frequency derives from that same aggregate (one
    more term-keyed agg — vocabulary-sized, far smaller than the corpus);
    one join back on the term key; one per-document window for the
    top-k. ``n_docs`` is the corpus-size hint mirroring the similarity
    operators' ``n_vectors``: pass it in a pipeline to avoid a count()
    scan over an unmaterialized input (left None, one count action runs
    here).
    """
    if n_docs is None:
        n_docs = docs.count()
    words = docs.select(F.col(id_col).alias("doc_id"),
                        F.explode(F.split(text_col, " ")).alias("w")) \
                .where(F.col("w") != "")
    tf = words.groupBy("doc_id", "w").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("w").agg(F.count("*").alias("df"))
    scored = (tf.join(dfreq, "w")
              .withColumn("score",
                          F.round(F.col("tf")
                                  * F.log(F.lit(float(n_docs)) / F.col("df")),
                                  6)))
    win = W.partitionBy("doc_id").orderBy(F.col("score").desc(),
                                               F.col("w").asc())
    return (scored.withColumn("rank", F.row_number().over(win))
            .where(F.col("rank") <= k)
            .select("doc_id", "w", "tf", "score",
                    F.col("rank").cast("long").alias("rank")))
