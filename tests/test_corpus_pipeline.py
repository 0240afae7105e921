"""One-call corpus curation plan: stage composition + manifest."""

import pytest
from pyspark.sql import functions as F

from ohsome_planet_spark.plans.corpus import curate_corpus


def test_curate_corpus_stages(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # benchmark: a small slice; contamination at 3-grams bites on the
    # synthetic small-vocab texts
    bench = docs.where(F.col("doc_id") % 97 == 0)
    clean, counts = curate_corpus(
        docs,
        benchmark=bench,
        contamination_n=3,
        mixture_weights={"src0": 0.5, "src1": 0.5},
        jaccard_threshold=0.8,
        min_tokens=3,
    )
    # monotone shrinkage through the stages, in order
    order = ["input", "after_exact_dedup", "after_near_dedup",
             "after_quality", "after_decontamination", "after_mixture"]
    assert list(counts) == order
    vals = [counts[k] for k in order]
    assert all(a >= b for a, b in zip(vals, vals[1:]))
    assert vals[0] == docs.count()
    # benchmark docs cannot survive decontamination
    bench_ids = {r["doc_id"] for r in bench.select("doc_id").collect()}
    out_ids = {r["doc_id"] for r in clean.select("doc_id").collect()}
    assert bench_ids.isdisjoint(out_ids)
    assert len(out_ids) == counts["after_mixture"]
    # only the mixture strata remain
    srcs = {r["source"] for r in clean.select("source").distinct().collect()}
    assert srcs <= {"src0", "src1"}
    # determinism end to end
    clean2, counts2 = curate_corpus(
        docs, benchmark=bench, contamination_n=3,
        mixture_weights={"src0": 0.5, "src1": 0.5},
        jaccard_threshold=0.8, min_tokens=3,
    )
    assert counts2 == counts
    assert {r["doc_id"] for r in clean2.select("doc_id").collect()} == out_ids


def test_curate_corpus_gopher_stages(spark):
    """Optional Gopher stages drop exactly the pathological docs."""
    from ohsome_planet_spark.plans.corpus import curate_corpus

    rows = [
        (1, "a perfectly normal document with plenty of distinct words here",
         "web"),
        (2, "spam ham spam ham spam ham spam ham spam ham spam ham", "web"),
        (3, "#### ##### ###### ####### ######## #########", "web"),
        (4, "another clean document about something else entirely today",
         "web"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    clean, counts = curate_corpus(
        docs,
        min_tokens=3, max_punct_ratio=1.0, max_dup_line_fraction=1.0,
        gopher_lexical={"frac_words_alpha": (0.5, None)},
        gopher_repetition={"top_ns": {2: 0.5}, "dup_ns": {}},
        with_manifest=True,
    )
    ids = {r["doc_id"] for r in clean.collect()}
    assert ids == {1, 4}
    assert counts["after_gopher_lexical"] == 3   # drops doc 3 (no letters)
    assert counts["after_gopher_repetition"] == 2  # drops doc 2 (looping)


def test_cross_doc_dup_signal(spark):
    """Shared boilerplate across docs must light up the cross-doc fraction;
    unique docs stay at 0."""
    from ohsome_planet_spark.operators.dedup import with_cross_doc_dup_fraction

    boiler = "all rights reserved terms of service apply now"
    rows = [
        (1, boiler + " one unique ending phrase alpha beta gamma delta"),
        (2, boiler + " another totally different ending words here too"),
        (3, "completely unique document with no shared passages at all ok"),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           with_cross_doc_dup_fraction(df, window=5).collect()}
    assert out[1]["n_dup_windows"] >= 3  # the 5-grams inside the boilerplate
    assert out[1]["dup_window_fraction"] > 0.2
    assert out[3]["n_dup_windows"] == 0 and out[3]["dup_window_fraction"] == 0.0
    assert out[4]["n_windows"] == 0 and out[4]["dup_window_fraction"] == 0.0


def test_curate_corpus_oov_and_cross_doc_stages(spark):
    from ohsome_planet_spark.plans.corpus import curate_corpus

    boiler = "all rights reserved terms of service apply to this content now"
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again today", "web"),
        (2, "the quick brown dog naps under the warm lazy sun today", "web"),
        (3, "zzq9 qxj8 vvw7 kkp6 mmn5 bbt4 ccd3 ffg2 hhj1 lls0", "web"),
        (4, boiler + " plus one unique sentence about gardening here", "web"),
        (5, boiler + " plus another unique sentence on carpentry instead", "web"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    clean, counts = curate_corpus(
        docs, min_tokens=3, max_punct_ratio=1.0, max_dup_line_fraction=1.0,
        max_oov_fraction=0.5, oov_vocab_k=30,
        max_cross_doc_dup=0.4, cross_doc_window=5,
        with_manifest=True,
    )
    ids = {r["doc_id"] for r in clean.collect()}
    assert 3 not in ids          # pure gibberish: OOV vs the shared vocab
    assert 4 not in ids and 5 not in ids  # shared boilerplate majority
    assert {1, 2} <= ids
    assert counts["after_oov"] < counts["after_quality"]
    assert counts["after_cross_doc_dup"] < counts["after_oov"]


def test_curate_corpus_c4_line_clean(spark):
    from ohsome_planet_spark.plans.corpus import curate_corpus

    rows = [
        (1, "a clean enough sentence that clearly survives the filter.\n"
            "enable javascript now to see everything properly rendered.",
         "web"),
        (2, "js only { }", "web"),  # emptied -> fails min_tokens
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    clean, counts = curate_corpus(
        docs, min_tokens=3, max_punct_ratio=1.0, max_dup_line_fraction=1.0,
        c4_line_clean=True, with_manifest=True)
    out = {r["doc_id"]: r["text"] for r in clean.collect()}
    assert set(out) == {1}
    assert "javascript" not in out[1]
    assert counts["after_quality"] == 1


def test_curate_corpus_lm_and_pii_stages(spark):
    """Optional LM gate drops gibberish; PII stages drop directories and
    redact survivors in place."""
    clean_rows = [
        (i, "the quick brown fox jumps over the lazy dog near the river "
            "bank and the quick brown fox rests", "web")
        for i in range(1, 9)
    ]
    gib = (20, "zzq qxj vvw klm wqz jxq vwv mlk qzw xjq", "web")
    # repetitive enough to pass the LM gate — it must fall to the PII
    # stage, not the LM one
    directory = (21, " ".join(["write to bob@spam.example.org today"] * 8),
                 "web")
    leaky = (22, "the quick brown fox emails ceo@fox.example.com daily "
                 "near the river bank and the quick brown fox rests", "web")
    docs = spark.createDataFrame(
        clean_rows + [gib, directory, leaky],
        "doc_id long, text string, source string")
    # reference-trained model (the production pattern: train once on a
    # trusted slice) — exact dedup collapses the identical clean docs
    # before the LM stage, so an in-pipeline model would be starved here
    from ohsome_planet_spark.operators.ngram_lm import bigram_model

    ref_model = bigram_model(
        spark.createDataFrame(clean_rows + [directory],
                              "doc_id long, text string, source string"))

    clean, counts = curate_corpus(
        docs,
        min_tokens=3, max_punct_ratio=1.0, max_dup_line_fraction=1.0,
        jaccard_threshold=1.01,          # disable near-dup for this fixture
        min_lm_logprob_per_token=-2.0,
        lm_model=ref_model,
        max_pii_hits=5,
        redact_pii=True,
        with_manifest=True,
    )
    rows = {r["doc_id"]: r["text"] for r in clean.collect()}
    assert 20 not in rows                      # LM gate drops gibberish
    assert 21 not in rows                      # PII-heavy directory dropped
    assert 22 in rows and "<EMAIL>" in rows[22]
    assert "@" not in rows[22]
    assert rows[1] == clean_rows[0][1]         # clean text untouched
    assert counts["after_lm_filter"] == counts["after_quality"] - 1
    assert counts["after_pii_filter"] == counts["after_lm_filter"] - 1


def test_weighted_sample_properties(spark):
    """ES weighted sampling: deterministic, scale-invariant, and biased
    toward heavy rows."""
    from pyspark.sql import functions as F

    from ohsome_planet_spark.operators.sampling import weighted_sample

    # i % 5 == 0 hits every stratum (i % 4) — each stratum gets 20 heavy
    rows = [(i, "s" + str(i % 4), 1000.0 if i % 5 == 0 else 1.0)
            for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, source string, w double")

    a = {r["doc_id"] for r in weighted_sample(df, 5, "w",
                                              stratum_col="source").collect()}
    b = {r["doc_id"] for r in weighted_sample(df, 5, "w",
                                              stratum_col="source").collect()}
    assert a == b and len(a) == 20  # 4 strata x 5

    scaled = df.withColumn("w", F.col("w") * 1000.0)
    c = {r["doc_id"] for r in weighted_sample(scaled, 5, "w",
                                              stratum_col="source").collect()}
    assert c == a  # scale invariance

    # 20% of rows carry 1000x weight -> they dominate the selection
    heavy = {i for i in range(400) if i % 5 == 0}
    assert len(a & heavy) >= 18

    g = {r["doc_id"] for r in weighted_sample(df, 7, "w").collect()}
    assert len(g) == 7

    zero_w = df.withColumn("w", F.when(F.col("doc_id") < 398, 0.0)
                           .otherwise(F.col("w")))
    kept = {r["doc_id"] for r in weighted_sample(zero_w, 50, "w").collect()}
    assert kept == {398, 399}


def test_cap_per_group_properties(spark):
    """cap_per_group (r6): row caps, token budgets, hash-order prefix,
    at-least-one-row guarantee, and partitioning invariance."""
    from pyspark.sql import functions as F

    from ohsome_planet_spark.operators.sampling import (
        cap_per_group,
        hash_bucket_col,
    )

    df = spark.createDataFrame(
        [(i, "g" + str(i % 3), 10 + (i * 7) % 50) for i in range(300)],
        "doc_id long, dom string, n long")

    # row-count cap: exactly `budget` rows per group, the hash-order prefix
    capped = cap_per_group(df, 5, "dom")
    sizes = {r["dom"]: r["c"] for r in
             capped.groupBy("dom").agg(F.count("*").alias("c")).collect()}
    assert sizes == {"g0": 5, "g1": 5, "g2": 5}
    ordered = df.withColumn("_b", hash_bucket_col(F.col("doc_id")))
    want_g0 = [r["doc_id"] for r in ordered.where(F.col("dom") == "g0")
               .orderBy("_b", "doc_id").limit(5).collect()]
    got_g0 = {r["doc_id"] for r in capped.where(F.col("dom") == "g0").collect()}
    assert got_g0 == set(want_g0)

    # token budget: per-group sums stop at the first overflowing row,
    # every group keeps at least one row
    tok = cap_per_group(df, 100, "dom", size_col="n")
    for r in tok.groupBy("dom").agg(
            F.sum("n").alias("s"), F.count("*").alias("c")).collect():
        assert r["c"] >= 1
        assert r["s"] - 59 < 100  # prev-sum < budget (max row size 59)
    # a huge first row still survives
    one = spark.createDataFrame([(1, "g", 10_000)], "doc_id long, dom string, n long")
    assert cap_per_group(one, 5, "dom", size_col="n").count() == 1

    # partitioning invariance
    a = sorted(r["doc_id"] for r in tok.collect())
    b = sorted(r["doc_id"] for r in cap_per_group(
        df.repartition(13), 100, "dom", size_col="n").collect())
    assert a == b


def test_hashed_linear_score_properties(spark):
    """hashed_linear_score (r6): closed-form replay in Python, empty-doc
    bias, prob monotonicity, arg guard."""
    import numpy as np
    from pyspark.sql import functions as F

    from ohsome_planet_spark.operators.quality_model import hashed_linear_score

    import hashlib

    w = [0.5, -0.25, 0.125, -1.0]

    def bucket(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % 4

    rows = [(1, "alpha beta beta gamma"), (2, "  "), (3, "x"),
            (4, "Alpha ALPHA alpha")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           hashed_linear_score(df, w, bias=0.75, with_prob=True).collect()}

    def expect(text):
        acc = 0.75
        for t in text.lower().split():
            acc += w[bucket(t)]
        return acc

    for i, text in rows:
        assert out[i]["score"] == expect(text), (i, text)
        assert out[i]["label"] == (out[i]["score"] > 0)
        p = out[i]["prob"]
        assert abs(p - 1.0 / (1.0 + np.exp(-out[i]["score"]))) < 1e-12
    assert out[2]["score"] == 0.75  # whitespace-only doc scores the bias

    import pytest as _pytest
    with _pytest.raises(ValueError, match="weights"):
        hashed_linear_score(df, [])


def test_curate_corpus_quality_model_and_group_cap_stages(spark):
    """r6 stages compose into the one-call pipeline: the classifier gate
    drops below-threshold docs, the per-group budget caps survivors, and
    the manifest records both."""
    from pyspark.sql import functions as F

    from ohsome_planet_spark.operators.quality_model import hashed_linear_score
    from ohsome_planet_spark.plans.corpus import curate_corpus

    docs = spark.createDataFrame(
        [(i, f"w{i % 17} common tokens here for doc {i}", "s" + str(i % 2))
         for i in range(120)],
        "doc_id long, text string, source string")
    w = [0.05] * 64
    clean, counts = curate_corpus(
        docs, min_tokens=1,
        quality_model_weights=w, quality_model_bias=-0.3,
        min_quality_score=0.0,
        group_budget=80, group_budget_col="source",
    )
    got = clean.collect()
    assert counts["after_quality_model"] <= counts["after_quality"]
    assert counts["after_group_cap"] <= counts["after_quality_model"]
    assert len(got) == counts["after_group_cap"] > 0
    # classifier gate honored (all weights 0.05, 7 tokens -> 0.35-0.3 > 0)
    scored = hashed_linear_score(clean, w, bias=-0.3)
    assert scored.where(F.col("score") < 0).count() == 0
    # per-source token budget honored up to the last-kept-row overflow
    tok = clean.select(
        "source", F.size(F.split(F.trim("text"), r"\s+")).alias("n"))
    for r in tok.groupBy("source").agg(
            F.sum("n").alias("s"), F.max("n").alias("mx")).collect():
        assert r["s"] - r["mx"] < 80


def test_curate_corpus_dsir_stage(spark):
    """DSIR selection stage: runs after cleaning, keeps exactly k docs,
    prefers target-like documents, and is deterministic across calls
    (both manifest modes)."""
    from ohsome_planet_spark.plans.corpus import curate_corpus

    on_topic = "the solar telescope measured the quasar redshift survey"
    spam = "buy cheap watches now best price free shipping offer"
    docs = spark.createDataFrame(
        [(i, (on_topic + f" n{i}") if i % 2 == 0 else (spam + f" n{i}"),
          "s")
         for i in range(200)],
        "doc_id long, text string, source string")
    target = spark.createDataFrame(
        [(9000 + j, f"astronomers survey quasar redshift telescope {j}")
         for j in range(5)],
        "doc_id long, text string")

    runs = []
    for with_manifest in (True, False):
        clean, counts = curate_corpus(
            docs, min_tokens=1, dsir_target=target, dsir_k=40,
            with_manifest=with_manifest,
        )
        ids = sorted(r["doc_id"] for r in clean.collect())
        runs.append(ids)
        assert len(ids) == 40
        if with_manifest:
            assert counts["after_dsir"] == 40
    assert runs[0] == runs[1]  # manifest mode must not change selection
    even = sum(1 for i in runs[0] if i % 2 == 0)
    assert even > 30  # target-like (on-topic) docs dominate the pick
