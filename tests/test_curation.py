"""Curation operators: repetition signals, pattern census, next-fit
packing, stratified sampling, source rollups — known-answer tests on
tiny hand-checkable corpora (the sf0.01 SQL oracles cover them at scale
via scripts/check_oracle.py / the driver gate)."""

import hashlib

import pytest

from pdftabextract_spark.operators.curation import (
    pack_next_fit, pattern_census, repetition_signals, source_rollup,
    stratified_sample)


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string")


def test_repetition_signals_known(spark):
    docs = _docs(spark, [
        # bigrams: "a b","b a","a b","b a" -> top 2/4; trigrams:
        # "a b a","b a b","a b a" -> dup 2/3
        (1, "a b a b a", "en", "s0"),
        # all bigrams distinct, all trigrams distinct
        (2, "w x y z", "en", "s0"),
        # too short: dropped
        (3, "a b", "en", "s0"),
    ])
    got = {r["doc_id"]: r for r in repetition_signals(docs).collect()}
    assert set(got) == {1, 2}
    assert got[1]["top_bigram_frac"] == 0.5
    assert got[1]["dup_trigram_frac"] == round(2 / 3, 6)
    assert got[2]["top_bigram_frac"] == round(1 / 3, 6)
    assert got[2]["dup_trigram_frac"] == 0.0


def test_pattern_census_counts(spark):
    docs = _docs(spark, [(1, "spark shuffle spark and 1234 x9", "en", "s0"),
                         (2, "no hits here", "en", "s0")])
    got = {r["doc_id"]: r for r in pattern_census(
        docs, patterns={"sparky": "spark", "digits": "[0-9][0-9]+"}).collect()}
    assert got[1]["sparky"] == 2 and got[1]["digits"] == 1
    assert got[2]["sparky"] == 0 and got[2]["digits"] == 0


def test_pack_next_fit_semantics(spark):
    # tokens: doc1=3, doc2=3, doc3=2, doc4=9 (oversized), doc5=1
    docs = _docs(spark, [
        (1, "a b c", "en", "s0"),
        (2, "d e f", "en", "s0"),
        (3, "g h", "en", "s0"),
        (4, "t t t t t t t t t", "en", "s0"),
        (5, "z", "en", "s0"),
        (6, "q q q q", "en", "s1"),   # separate shard packs independently
    ])
    out = {r["doc_id"]: r for r in pack_next_fit(docs, budget=6).collect()}
    # shard s0: 3 -> pack0; +3 = 6 fits pack0; 2 opens pack1; 9 > budget
    # opens its own pack2; 1 opens pack3 (9 + 1 > 6)
    assert [out[i]["pack_id"] for i in (1, 2, 3, 4, 5)] == [0, 0, 1, 2, 3]
    assert out[6]["pack_id"] == 0 and out[6]["group"] == "s1"
    assert out[4]["tokens"] == 9


def test_stratified_sample_deterministic(spark):
    rows = [(i, "t", ["en", "de", "fr"][i % 3], "s0") for i in range(300)]
    docs = _docs(spark, rows)
    kept = stratified_sample(docs, rates={"en": 0.5, "de": 0.25},
                             default_rate=0.0).collect()
    # fr stratum has rate 0 -> nothing kept
    assert all(r["stratum"] != "fr" for r in kept)
    # exact decision replicated locally
    for r in kept:
        h = hashlib.md5(str(r["doc_id"]).encode()).hexdigest()[:4]
        lim = "8000" if r["stratum"] == "en" else "4000"
        assert h < lim
    # determinism: same result twice
    again = stratified_sample(docs, rates={"en": 0.5, "de": 0.25},
                              default_rate=0.0).collect()
    assert sorted(r["doc_id"] for r in kept) == sorted(r["doc_id"] for r in again)


def test_source_rollup_known(spark):
    docs = _docs(spark, [
        (1, "aaaa", "en", "s0"),
        (2, "aaaa", "en", "s0"),   # exact dup of doc 1
        (3, "bb", "de", "s0"),
        (4, "cccc", "en", "s1"),
    ])
    got = {r["source"]: r for r in source_rollup(docs).collect()}
    s0 = got["s0"]
    assert s0["n_docs"] == 3 and s0["n_langs"] == 2
    assert s0["mean_chars"] == round(10 / 3, 6)
    assert s0["median_chars"] == 4.0
    assert s0["dup_rate"] == round(2 / 3, 6)
    s1 = got["s1"]
    assert s1["n_docs"] == 1 and s1["dup_rate"] == 0.0


def test_fixed_size_sample_deterministic(spark):
    from pdftabextract_spark.operators.curation import fixed_size_sample
    rows = [(i, "t", ["en", "de"][i % 2], "s0") for i in range(100)]
    docs = _docs(spark, rows)
    got = fixed_size_sample(docs, n=5).collect()
    # exactly 5 per stratum, rank 1..5, and the md5 ordering replicated
    by_stratum = {}
    for r in got:
        by_stratum.setdefault(r["stratum"], []).append(r)
    for stratum, rs in by_stratum.items():
        assert sorted(r["rank"] for r in rs) == [1, 2, 3, 4, 5]
        ids = [i for i in range(100) if ["en", "de"][i % 2] == stratum]
        expect = sorted(ids, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))[:5]
        assert sorted(r["doc_id"] for r in rs) == sorted(expect)
    # stable across runs
    again = fixed_size_sample(docs, n=5).collect()
    assert sorted((r["doc_id"], r["rank"]) for r in got) == \
        sorted((r["doc_id"], r["rank"]) for r in again)


def test_vocab_stats_known(spark):
    from pdftabextract_spark.operators.curation import vocab_stats
    docs = _docs(spark, [
        (1, "a a b c", "en", "s0"),
        (2, "a b b", "en", "s0"),
        (3, "c", "en", "s0"),
    ])
    got = vocab_stats(docs, top_n=3).collect()
    # df: a=2 b=2 c=2; cf: a=3 b=3 c=2; ties by word
    assert [(r["w"], r["df"], r["cf"]) for r in got] == \
        [("a", 2, 3), ("b", 2, 3), ("c", 2, 2)]


def test_stratified_sample_rate_one_keeps_everything(spark):
    # md5('40691') and md5('95102') start with 'ffff' — a strict '<'
    # threshold at rate 1.0 would silently drop them (ADVICE r4)
    ids = [40691, 95102, 177425, 1, 2, 3]
    docs = _docs(spark, [(i, "x", "en", "s0") for i in ids])
    kept = stratified_sample(docs, rates={"en": 1.0})
    assert sorted(r["doc_id"] for r in kept.collect()) == sorted(ids)
    # default_rate=1.0 path too
    docs2 = _docs(spark, [(i, "x", "xx", "s0") for i in ids])
    kept2 = stratified_sample(docs2, rates={}, default_rate=1.0)
    assert kept2.count() == len(ids)


def test_contamination_known(spark):
    from pdftabextract_spark.operators.curation import contamination
    train = _docs(spark, [
        (1, "a b x y", "en", "s0"),   # shingles {a b, b x, x y} -> 1 hit
        (2, "p q r", "en", "s0"),     # {p q, q r} -> 0 hits
        (3, "a", "en", "s0"),         # < n words: dropped
    ])
    ev = _docs(spark, [(100, "a b c", "en", "s0")])  # eval set {a b, b c}
    got = {r["doc_id"]: r for r in contamination(train, ev, n=2).collect()}
    assert set(got) == {1, 2}
    assert got[1]["n_shingles"] == 3 and got[1]["contaminated"] == 1
    assert got[1]["rate"] == round(1 / 3, 6)
    assert got[2]["n_shingles"] == 2 and got[2]["contaminated"] == 0
    assert got[2]["rate"] == 0.0
    # non-broadcast path agrees
    got2 = {r["doc_id"]: r for r in contamination(
        train, ev, n=2, broadcast_eval=False).collect()}
    assert got == {k: v for k, v in got2.items()} or \
        all(got[k].asDict() == got2[k].asDict() for k in got)


def test_pack_next_fit_tokens_col(spark):
    from pyspark.sql import functions as F
    # token counts come from a provided column, NOT the whitespace split
    docs = _docs(spark, [
        (1, "irrelevant text", "en", "s0"),
        (2, "irrelevant text", "en", "s0"),
        (3, "irrelevant text", "en", "s0"),
    ]).withColumn("bpe_tokens",
                  F.when(F.col("doc_id") == 1, 5)
                   .when(F.col("doc_id") == 2, 5).otherwise(3))
    out = {r["doc_id"]: r for r in pack_next_fit(
        docs, budget=8, tokens_col="bpe_tokens").collect()}
    # 5 -> pack0; 5+5>8 -> pack1; 5+3=8 fits pack1
    assert [out[i]["pack_id"] for i in (1, 2, 3)] == [0, 1, 1]
    assert [out[i]["tokens"] for i in (1, 2, 3)] == [5, 5, 3]


def test_with_token_counts_udf_hook(spark):
    from pdftabextract_spark.operators.curation import with_token_counts
    docs = _docs(spark, [(1, "aa bb", "en", "s0"), (2, "c", "en", "s0")])
    # "tokenizer": every 2 chars is a token (ceil) — 5 chars -> 3, 1 -> 1
    counted = with_token_counts(docs, lambda t: (len(t) + 1) // 2)
    got = {r["doc_id"]: r["tokens"] for r in counted.collect()}
    assert got == {1: 3, 2: 1}
    # the packing walk accepts the computed column
    out = pack_next_fit(counted, budget=3, tokens_col="tokens")
    assert out.count() == 2


def test_tfidf_topk(spark):
    from pdftabextract_spark.operators.curation import tfidf_topk
    import math
    docs = _docs(spark, [
        (1, "apple apple banana", "en", "s0"),
        (2, "banana cherry", "en", "s0"),
        (3, "cherry cherry cherry date", "en", "s0"),
    ])
    out = tfidf_topk(docs, k=2)
    rows = {(r["doc_id"], r["rank"]): (r["w"], r["tf"], r["score"])
            for r in out.collect()}
    # doc 1: apple tf=2 df=1 -> 2*ln(3); banana tf=1 df=2 -> ln(1.5)
    assert rows[(1, 1)][0] == "apple"
    assert rows[(1, 1)][1] == 2
    assert abs(rows[(1, 1)][2] - round(2 * math.log(3.0), 6)) < 1e-9
    assert rows[(1, 2)][0] == "banana"
    # doc 3: cherry tf=3 df=2 beats date tf=1 df=1 (3*ln(1.5) > ln(3))
    assert rows[(3, 1)][0] == "cherry"
    assert rows[(3, 2)][0] == "date"
    # k bounds output per doc
    assert out.groupBy("doc_id").count().agg({"count": "max"}).first()[0] <= 2
    # n_docs hint path gives identical output
    hinted = tfidf_topk(docs, k=2, n_docs=3)
    assert hinted.exceptAll(out).count() == 0 and out.exceptAll(hinted).count() == 0


def test_source_mix_rates_known(spark):
    from pdftabextract_spark.operators.curation import source_mix_rates
    # 60/30/10 corpus, target 50/25/25: the rarest stratum c binds
    # (N_out = 10/0.25 = 40) -> rates 40*.5/60, 40*.25/30, 1.0
    rows = ([(i, "t", "en", "a") for i in range(60)]
            + [(100 + i, "t", "en", "b") for i in range(30)]
            + [(200 + i, "t", "en", "c") for i in range(10)])
    docs = _docs(spark, rows)
    got = {r["stratum"]: r for r in source_mix_rates(
        docs, {"a": 0.5, "b": 0.25, "c": 0.25}).collect()}
    assert got["a"]["keep_rate"] == round(20 / 60, 6)
    assert got["b"]["keep_rate"] == round(10 / 30, 6)
    assert got["c"]["keep_rate"] == 1.0
    assert got["a"]["n_docs"] == 60 and got["c"]["target_share"] == 0.25


def test_source_mix_rates_ignores_untargeted(spark):
    from pdftabextract_spark.operators.curation import source_mix_rates
    docs = _docs(spark, [(1, "t", "en", "a"), (2, "t", "en", "junk")])
    out = source_mix_rates(docs, {"a": 1.0}).collect()
    assert [r["stratum"] for r in out] == ["a"]
    assert out[0]["keep_rate"] == 1.0


def test_boilerplate_fraction_known(spark):
    from pdftabextract_spark.operators.curation import boilerplate_fraction
    # shingle "x y z" appears in docs 1,2,3 (>= min_docs 3); every other
    # shingle is unique to its doc. doc 4 is too short and drops out.
    docs = _docs(spark, [
        (1, "x y z p q", "en", "s0"),   # shingles: xyz, yzp, zpq
        (2, "a x y z", "en", "s0"),     # axy, xyz
        (3, "x y z", "en", "s0"),       # xyz
        (4, "x y", "en", "s0"),
    ])
    got = {r["doc_id"]: r for r in boilerplate_fraction(
        docs, n=3, min_docs=3).collect()}
    assert set(got) == {1, 2, 3}
    assert got[1]["n_shingles"] == 3 and got[1]["boilerplate"] == 1
    assert got[1]["rate"] == round(1 / 3, 6)
    assert got[2]["rate"] == 0.5
    assert got[3]["rate"] == 1.0


def test_boilerplate_fraction_min_docs_boundary(spark):
    from pdftabextract_spark.operators.curation import boilerplate_fraction
    # the same shingle twice in ONE doc counts once (distinct per doc):
    # "u v w" occurs in doc 1 twice but only doc 1 overall -> below
    # min_docs=2, not boilerplate
    docs = _docs(spark, [
        (1, "u v w u v w", "en", "s0"),
        (2, "m n o", "en", "s0"),
    ])
    got = {r["doc_id"]: r for r in boilerplate_fraction(
        docs, n=3, min_docs=2).collect()}
    assert got[1]["boilerplate"] == 0 and got[2]["boilerplate"] == 0


def test_duplicate_passage_rate_known(spark):
    from pdftabextract_spark.operators.curation import duplicate_passage_rate
    docs = _docs(spark, [
        # doc 1: windows (k=2): "a b","b c","c d" — "a b" and "b c" also in
        # doc 2 -> 2/3 dup. The repeated "a b" in doc 3 counts TWICE there
        # (multiplicity) but doc 1's own count is per-occurrence too.
        (1, "a b c d", "en", "s0"),
        (2, "a b c", "en", "s0"),       # "a b","b c" both shared -> 2/2
        (3, "a b a b", "en", "s0"),     # "a b"(x2 shared), "b a"(only here)
        (4, "z", "en", "s0"),           # < k words: dropped
    ])
    got = {r["doc_id"]: r for r in
           duplicate_passage_rate(docs, k=2).collect()}
    assert set(got) == {1, 2, 3}
    assert (got[1]["n_windows"], got[1]["dup_windows"]) == (3, 2)
    assert got[1]["dup_rate"] == round(2 / 3, 6)
    assert (got[2]["n_windows"], got[2]["dup_windows"]) == (2, 2)
    assert got[2]["dup_rate"] == 1.0
    # doc 3: windows "a b","b a","a b" — multiplicity: 2 of 3 duplicated
    assert (got[3]["n_windows"], got[3]["dup_windows"]) == (3, 2)
    assert got[3]["dup_rate"] == round(2 / 3, 6)


def test_duplicate_passage_rate_within_doc_only_not_dup(spark):
    # a passage repeated ONLY within one doc is not cross-doc duplication
    from pdftabextract_spark.operators.curation import duplicate_passage_rate
    docs = _docs(spark, [(1, "x y x y x y", "en", "s0"),
                         (2, "p q r s", "en", "s0")])
    got = {r["doc_id"]: r for r in
           duplicate_passage_rate(docs, k=2).collect()}
    assert got[1]["dup_windows"] == 0 and got[1]["dup_rate"] == 0.0
    assert got[2]["dup_windows"] == 0


# ------------------------------------------------- round 6 optimization gates

def test_fixed_size_sample_two_phase_bounds_per_task_input(spark):
    """VERDICT r5 item 2 gate: fixed_size_sample must NOT funnel a whole
    stratum through one window task. The plan must contain the salted
    pre-rank (two Window nodes, the first partitioned by the salt) and a
    deliberately skewed stratum (one value owning ~all rows) must still
    produce exactly the single-window answer."""
    import hashlib as _h
    from pdftabextract_spark.operators.curation import fixed_size_sample

    # skew: 97% of rows in one stratum
    rows = [(i, "t", "en" if i % 33 else "de", "s0") for i in range(600)]
    docs = _docs(spark, rows)
    out = fixed_size_sample(docs, n=7, salts=8)

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Window") >= 2, plan
    assert "_salt" in plan, plan

    got = {}
    for r in out.collect():
        got.setdefault(r["stratum"], []).append((r["rank"], r["doc_id"]))
    for stratum in ("en", "de"):
        ids = [i for i in range(600)
               if ("en" if i % 33 else "de") == stratum]
        expect = sorted(
            ids, key=lambda i: (_h.md5(str(i).encode()).hexdigest(), i))[:7]
        assert sorted(got[stratum]) == [(k + 1, d)
                                        for k, d in enumerate(expect)]
