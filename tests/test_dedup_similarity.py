"""Dedup suite (exact, minhash LSH, simhash, ngram jaccard, embedding) +
similarity search (brute force, ANN recall)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from ohsome_planet_spark.operators import dedup as D
from ohsome_planet_spark.operators import similarity as S

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill in the afternoon sun"
)
NEAR = BASE.replace("lazy dog", "sleepy dog")  # one-word change
FAR = "completely different content about spark query engines and shuffles"


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),  # exact dup of 0
        (2, NEAR),  # near dup of 0
        (3, FAR),
        (4, FAR + " with an extra tail of words"),
        (5, "tiny"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def py_shingles(text, n=3):
    w = text.lower().split()
    return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)} if len(w) >= n else set()


def py_jaccard(a, b, n=3):
    sa, sb = py_shingles(a, n), py_shingles(b, n)
    if not sa and not sb:
        return 1.0
    return len(sa & sb) / len(sa | sb)


def test_exact_dedup(spark, docs):
    got = {r["canonical_id"]: r["n_copies"] for r in D.exact_dedup(docs).collect()}
    assert got[0] == 2  # docs 0 and 1
    assert got[2] == 1


def test_shingles_match_python(spark, docs):
    got = docs.select(
        "doc_id", F.array_sort(F.array_distinct(D.shingles_col(F.col("text"), 3))).alias("sh")
    ).collect()
    for r in got:
        exp = sorted(py_shingles(next(t for i, t in [(0, BASE), (1, BASE), (2, NEAR), (3, FAR), (4, FAR + " with an extra tail of words"), (5, "tiny")] if i == r["doc_id"])))
        assert r["sh"] == exp, r["doc_id"]


def test_minhash_lsh_finds_near_dups(spark, docs):
    pairs = D.minhash_lsh_pairs(docs, num_hashes=32, bands=16, jaccard_threshold=0.5)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert (0, 1) in got and got[(0, 1)] == 1.0
    assert (0, 2) in got
    assert got[(0, 2)] == pytest.approx(round(py_jaccard(BASE, NEAR), 6))
    assert (0, 3) not in got


def test_ngram_jaccard_exact_pairs(spark, docs):
    pairs = D.ngram_jaccard_pairs(docs, threshold=0.3)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    texts = {0: BASE, 1: BASE, 2: NEAR, 3: FAR, 4: FAR + " with an extra tail of words"}
    for (a, b), j in got.items():
        assert j == pytest.approx(round(py_jaccard(texts[a], texts[b]), 6))
    assert (0, 1) in got and (0, 2) in got and (3, 4) in got
    assert (0, 3) not in got


def test_simhash_near_dups(spark, docs):
    pairs = D.simhash_near_dups(docs, max_hamming=10)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    assert got.get((0, 1)) == 0  # identical text → identical signature
    assert (0, 2) in got  # near dup within hamming budget
    assert (0, 3) not in got and (0, 5) not in got


def test_embedding_near_dups(spark):
    rng = np.random.default_rng(3)
    base = rng.standard_normal(64)
    rows = [
        (0, [float(x) for x in base]),
        (1, [float(x) for x in base * 1.001 + 0.001]),  # near-identical direction
        (2, [float(x) for x in rng.standard_normal(64)]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {(r["id_a"], r["id_b"]) for r in D.embedding_near_dups(df, threshold=0.98, dim=64).collect()}
    assert (0, 1) in got
    assert (0, 2) not in got


def test_brute_force_topk_matches_numpy(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    c = emb.select(F.col("vec_id").alias("cand_id"), "embedding")
    got = S.brute_force_topk(q, c, k=3).collect()

    pdf = emb.toPandas()
    vecs = np.stack(pdf["embedding"].map(np.asarray))
    ids = pdf["vec_id"].to_numpy()
    norms = np.linalg.norm(vecs, axis=1)
    got_by_q = {}
    for r in sorted(got, key=lambda r: (r["query_id"], r["rank"])):
        got_by_q.setdefault(r["query_id"], []).append(r["cand_id"])
    for qid in ids[ids % 100 == 0]:
        qv = vecs[ids == qid][0]
        cos = np.round(vecs @ qv / (norms * np.linalg.norm(qv)), 4)
        mask = ids != qid
        order = np.lexsort((ids[mask], -cos[mask]))
        exp = [int(ids[mask][j]) for j in order[:3]]
        assert got_by_q[int(qid)] == exp


def test_ann_recall(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # the fixture embeddings are near-uniform (no strong cluster structure),
    # so hyperplane-LSH recall tracks candidate-space coverage: planes=3 +
    # 1-bit multiprobe covers ~50% of buckets → recall well above coverage
    # would indicate structure; we assert it at least meets coverage.
    recall = S.ann_recall_vs_exact(spark, emb, k=5, planes=3, multiprobe=True)
    assert recall >= 0.5, recall


def test_ivf_recall(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    recall = S.ann_recall_vs_exact(
        spark, emb, k=5, method="ivf", n_centroids=8, nprobe=4
    )
    # nprobe=4 of 8 lists ≈ 50% coverage on near-uniform vectors
    assert recall >= 0.5, recall


def test_dedup_clusters_chains_and_e2e(spark):
    """Connected components over pairs: chains close transitively, and the
    minhash→pairs→clusters flow canonicalizes planted duplicates."""
    import ohsome_planet_spark.operators.dedup as D

    # 60-long chain + two islands: pointer jumping must close the chain
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(60)] + [(100, 101), (200, 201)],
        "id_a long, id_b long",
    )
    got = {r["node"]: r["cluster_id"] for r in D.dedup_clusters(pairs).collect()}
    assert all(got[i] == 0 for i in range(61))
    assert got[100] == got[101] == 100 and got[200] == got[201] == 200

    # end to end: near-dup pairs from minhash → clusters
    rows = []
    for i in range(20):
        text = " ".join(f"w{i}x{j}" for j in range(12))  # disjoint vocab per i
        rows.append((i, text))
        rows.append((100 + i, text + " tail"))  # near-dup of i
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    p = D.minhash_lsh_pairs(docs, jaccard_threshold=0.5)
    clusters = {r["node"]: r["cluster_id"] for r in D.dedup_clusters(p).collect()}
    for i in range(20):
        if i in clusters and 100 + i in clusters:
            assert clusters[100 + i] == clusters[i] == i


def test_ngram_jaccard_doc_freq_cap(spark):
    """Capped path: boilerplate shingles leave candidate generation, but
    surviving pairs keep EXACT jaccard (re-verified on full shingle sets)."""
    import ohsome_planet_spark.operators.dedup as D

    boiler = "all rights reserved contact us for more"
    rows = []
    for i in range(10):
        uniq = " ".join(f"u{i}q{j}" for j in range(8))
        rows.append((i, uniq + " " + boiler))
        rows.append((100 + i, uniq + " " + boiler + " tail"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    exact = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in D.ngram_jaccard_pairs(docs, threshold=0.15).collect()}
    capped = {(r["id_a"], r["id_b"]): r["jaccard"]
              for r in D.ngram_jaccard_pairs(docs, threshold=0.15, max_doc_freq=5).collect()}
    # real dup pairs (i, 100+i) share unique shingles → survive the cap,
    # with IDENTICAL jaccard values
    for i in range(10):
        assert capped[(i, 100 + i)] == exact[(i, 100 + i)]
    # boilerplate-only pairs (i, j) existed in the exact result but are
    # pruned by the cap (they share only the hot shingles)
    assert any((a, b) in exact and (a, b) not in capped
               for a in range(10) for b in range(10) if a < b)


def test_decontaminate_drops_flagged_docs(spark, sf_dir):
    """decontaminate == docs minus contamination_flags ids; benchmark docs
    are trivially self-contaminated and must vanish from the survivors.
    The corpus side must reach the benchmark grams via a BROADCAST join."""
    from ohsome_planet_spark.operators.dedup import (
        contamination_flags,
        decontaminate,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    flags = contamination_flags(docs, bench, n=3)
    clean = decontaminate(docs, bench, n=3)
    assert clean.count() == docs.count() - flags.count()
    # every benchmark doc flags itself
    bench_ids = {r["doc_id"] for r in bench.select("doc_id").collect()}
    flagged = {r["doc_id"] for r in flags.select("doc_id").collect()}
    assert bench_ids <= flagged
    assert bench_ids.isdisjoint(
        {r["doc_id"] for r in clean.select("doc_id").collect()})
    plan = flags._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_mixture_sample_hits_target_proportions(spark, sf_dir):
    """mixture_sample: output stratum shares match the target weights
    (binding stratum sampled at rate 1.0), deterministically."""
    from ohsome_planet_spark.operators.sampling import mixture_rates, mixture_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    weights = {"src0": 0.5, "src1": 0.25, "src2": 0.25}
    avail = {r["source"]: r["count"] for r in
             docs.groupBy("source").count().collect() if r["source"] in weights}
    rates = mixture_rates(docs, "source", weights)
    assert any(abs(r - 1.0) < 1e-9 for r in rates.values())  # binding stratum whole
    out = mixture_sample(docs, "doc_id", "source", weights)
    got = {r["source"]: r["count"] for r in out.groupBy("source").count().collect()}
    total = sum(got.values())
    for k, w in weights.items():
        # md5-bucket sampling is exact only in expectation; with a few
        # hundred rows per stratum allow a loose tolerance
        assert abs(got[k] / total - w / sum(weights.values())) < 0.15, (got, rates)
    # determinism: the same rows survive on a second evaluation
    a = sorted(r["doc_id"] for r in out.select("doc_id").collect())
    b = sorted(r["doc_id"] for r in mixture_sample(
        docs, "doc_id", "source", weights).select("doc_id").collect())
    assert a == b


def test_mixture_rates_zero_and_negative_weights(spark, sf_dir):
    from ohsome_planet_spark.operators.sampling import mixture_rates

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # zero weight = drop the stratum, not a crash
    rates = mixture_rates(docs, "source", {"src0": 0.0, "src1": 1.0})
    assert "src0" not in rates and rates["src1"] == 1.0
    with pytest.raises(ValueError):
        mixture_rates(docs, "source", {"src0": 2.0, "src1": -1.0})


def test_ivf_kmeans_quantizer_recall_and_determinism(spark, sf_dir):
    from ohsome_planet_spark.operators.similarity import (
        ann_recall_vs_exact,
        ivf_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rec = ann_recall_vs_exact(
        spark, emb, k=5, method="ivf", n_centroids=8, nprobe=4,
        quantizer="kmeans")
    assert rec >= 0.5  # probing half the lists on clustered data

    q = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding")
    c = emb.select(F.col("vec_id").alias("cand_id"), "embedding")
    a = sorted(map(tuple, ivf_topk(q, c, k=5, n_centroids=8, nprobe=4,
                                   quantizer="kmeans").collect()))
    b = sorted(map(tuple, ivf_topk(q, c.repartition(5), k=5, n_centroids=8,
                                   nprobe=4, quantizer="kmeans").collect()))
    assert a == b  # Lloyd quantizer is partitioning-invariant


def test_ivf_fixed_quantizer_recall_and_guard(spark, sf_dir):
    """quantizer='fixed' (r6): frozen offline codebook. Recall holds with a
    seeded random codebook, assignment is partitioning-invariant, and the
    mode demands its centroids."""
    import numpy as np

    from ohsome_planet_spark.operators.similarity import (
        ann_recall_vs_exact,
        ivf_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = np.random.default_rng(29).standard_normal((16, 64))
    rec = ann_recall_vs_exact(
        spark, emb, k=5, method="ivf", n_centroids=16, nprobe=4,
        quantizer="fixed", fixed_centroids=cents)
    assert rec >= 0.3  # random codebook probing 1/4 of lists

    q = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding")
    c = emb.select(F.col("vec_id").alias("cand_id"), "embedding")
    a = sorted(map(tuple, ivf_topk(q, c, k=5, quantizer="fixed",
                                   fixed_centroids=cents).collect()))
    b = sorted(map(tuple, ivf_topk(q, c.repartition(5), k=5,
                                   quantizer="fixed",
                                   fixed_centroids=cents).collect()))
    assert a == b

    with pytest.raises(ValueError, match="fixed_centroids"):
        ivf_topk(q, c, quantizer="fixed")


def test_ann_pairs_unique(spark):
    """r5: the ann_topk (query, candidate) pair stream is unique by
    construction — candidate home bucket is single and the multiprobe list
    {b0} ∪ {b0 xor 2^p} is distinct ints — so no pair-dedup shuffle exists
    in the plan and none is needed."""
    import numpy as np
    from pyspark.sql import functions as F

    from ohsome_planet_spark.operators.similarity import ann_topk

    rng = np.random.default_rng(3)
    rows = [(int(i), [float(x) for x in rng.standard_normal(64)])
            for i in range(300)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.where(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding")
    c = emb.select(F.col("vec_id").alias("cand_id"), "embedding")
    out = ann_topk(q, c, k=10**6, planes=4)  # huge k: nothing cut by rank
    total = out.count()
    distinct = out.select("query_id", "cand_id").distinct().count()
    assert total == distinct > 0


def _zero_vector_frames(spark):
    rows = [(0, [0.0, 0.0]), (1, [1.0, 2.0]), (2, [2.0, 1.0]), (3, [-1.0, 0.5])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    return (emb.select(F.col("vec_id").alias("query_id"), "embedding"),
            emb.select(F.col("vec_id").alias("cand_id"), "embedding"))


def _assert_zero_vector_scores_null(rows):
    # every pair with the zero vector (id 0) scores NULL; the rest do not
    assert {(r["query_id"], r["cand_id"]) for r in rows} == {
        (q, c) for q in range(4) for c in range(4) if q != c}
    for r in rows:
        assert (r["cos_sim"] is None) == (0 in (r["query_id"], r["cand_id"])), r


def test_ann_topk_zero_vector_scores_null(spark):
    q, c = _zero_vector_frames(spark)
    # one plane with multiprobe probes both buckets: every pair is scored
    _assert_zero_vector_scores_null(
        S.ann_topk(q, c, k=10, planes=1, dim=2).collect())


def test_ivf_topk_zero_vector_scores_null(spark):
    q, c = _zero_vector_frames(spark)
    _assert_zero_vector_scores_null(S.ivf_topk(
        q, c, k=10, n_centroids=2, nprobe=2, quantizer="fixed",
        fixed_centroids=np.eye(2)).collect())


def test_ivf_topk_kmeans_zero_vector_scores_null(spark):
    q, c = _zero_vector_frames(spark)
    # the trained quantizer must not divide by the zero vector's norm
    _assert_zero_vector_scores_null(S.ivf_topk(
        q, c, k=10, n_centroids=2, nprobe=2, quantizer="kmeans").collect())


def _hof_topk(queries, candidates, k=5, query_id="query_id",
              cand_id="cand_id", vec_col="embedding"):
    """Spec twin of ``brute_force_topk``: the same exact top-k as
    interpreted higher-order array functions, norms staged per vector
    and the candidate side broadcast."""
    from pyspark.sql.window import Window

    q = queries.select(
        F.col(query_id), S._to_double(F.col(vec_col)).alias("qv")
    ).select(query_id, "qv", S.norm_col(F.col("qv")).alias("qn"))
    c = candidates.select(
        F.col(cand_id), S._to_double(F.col(vec_col)).alias("cv")
    ).select(cand_id, "cv", S.norm_col(F.col("cv")).alias("cn"))
    pairs = q.crossJoin(F.broadcast(c)).where(
        F.col(query_id) != F.col(cand_id))
    scored = pairs.select(
        query_id, cand_id,
        F.round(S._dot_over_norms(F.col("qv"), F.col("cv"),
                                  F.col("qn"), F.col("cn")), 4).alias("cos_sim"),
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("cos_sim"), F.asc(cand_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id, cand_id, "cos_sim", "rank")
    )


def _assert_topk_matches_spec(queries, candidates, k):
    got, spec = (f(queries, candidates, k=k)
                 for f in (S.brute_force_topk, _hof_topk))
    assert got.schema == spec.schema

    def rows(df):  # NaN != NaN, so compare NaN scores by name
        return sorted(
            (tuple("NaN" if v != v else v for v in r) for r in df.collect()),
            key=lambda r: (r[0], r[3]))

    out = rows(got)
    assert out == rows(spec)
    return out


def test_brute_force_arrow_matches_hof(spark):
    # the cumsum Arrow kernel must be row- and bit-identical (cos_sim
    # included) to the staged-norm HOF spec
    rng = np.random.default_rng(5)
    rows = [(i, [float(x) for x in rng.normal(size=16)])
            for i in range(300)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.where(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding")
    c = emb.select(F.col("vec_id").alias("cand_id"), "embedding")
    assert len(_assert_topk_matches_spec(q, c, k=4)) == 12 * 4


_V = [[1.0, 2.0], [2.0, 1.0], [1.0, 0.0], [-1.0, 0.5]]
_TOPK_EDGES = {
    # case: (id type, query vectors, candidate vectors); ids are positions
    "string_ids": ("string", _V, _V),
    "int_ids": ("int", _V, _V),
    "null_query_vector": ("long", [None] + _V[1:], _V),
    "null_candidate_vector": ("long", _V, _V[:2] + [None] + _V[3:]),
    "null_element": ("long", _V, [[1.0, None]] + _V[1:]),
    "nan_element": ("long", _V, [[1.0, float("nan")]] + _V[1:]),
    "mixed_length": ("long", _V, _V[:3] + [[1.0, 2.0, 3.0]]),
    "empty_vector": ("long", [[]] + _V[1:], [[]] + _V[1:]),
    # a zero norm makes the score 0/0 or x/0: NULL, not DIVIDE_BY_ZERO
    "zero_vector": ("long", _V, [[0.0, 0.0]] + _V[1:]),
    "empty_both": ("long", [[]] + _V[1:], [[], []] + _V[2:]),
    "empty_candidates": ("long", _V, []),
}


@pytest.mark.parametrize("case", sorted(_TOPK_EDGES))
def test_brute_force_topk_edges_match_hof(spark, case):
    id_type, q_vecs, c_vecs = _TOPK_EDGES[case]

    def frame(vecs, name):
        ids = [str(i) if id_type == "string" else i for i in range(len(vecs))]
        return spark.createDataFrame(
            list(zip(ids, vecs)), f"{name} {id_type}, embedding array<double>")

    queries, candidates = frame(q_vecs, "query_id"), frame(c_vecs, "cand_id")
    rows = _assert_topk_matches_spec(queries, candidates, k=3)
    if case == "empty_candidates":
        assert rows == []
    else:
        assert rows
    if case.startswith("null") or case in (
            "mixed_length", "empty_vector", "zero_vector", "empty_both"):
        assert any(r[2] is None for r in rows)
    if case == "nan_element":
        assert any(r[2] == "NaN" for r in rows)


def test_brute_force_topk_plan_is_one_arrow_kernel(spark):
    rows = [(i, [float(i), 1.0]) for i in range(20)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = S.brute_force_topk(
        emb.select(F.col("vec_id").alias("query_id"), "embedding"),
        emb.select(F.col("vec_id").alias("cand_id"), "embedding"), k=2)
    assert len(out.collect()) == 40
    plan = out._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]  # the final plan only
    assert plan.count("MapInArrow") == 1, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
