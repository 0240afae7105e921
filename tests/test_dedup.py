

def test_shingles_regex_equals_hof_twin(spark):
    """The regex-lookahead shingles must equal the HOF formulation on the
    documents table plus whitespace/edge strings, for n in {2,3,5,13}."""
    from pyspark.sql import functions as F

    from ohsome_planet_spark.operators.dedup import shingles_col, shingles_col_hof

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    edge = spark.createDataFrame(
        [(900001, ""), (900002, "   "), (900003, "one"), (900004, "one two"),
         (900005, "a b c"), (900006, "a  b\tc\n d  "), (900007, "x!@ #$ %^& *()"),
         (900008, None)],
        "doc_id long, text string")
    allofit = docs.unionByName(edge)
    for n in (2, 3, 5, 13):
        bad = allofit.select(
            shingles_col(F.col("text"), n).alias("a"),
            shingles_col_hof(F.col("text"), n).alias("b"),
        ).where(~F.col("a").eqNullSafe(F.col("b"))).count()
        assert bad == 0, n


def test_with_simhash_matches_column_twin(spark):
    """Staged explode+sum SimHash == the one-expression simhash_col, both
    hash modes, including empty/null/whitespace-only texts."""
    from pyspark.sql import functions as F

    from ohsome_planet_spark.operators.dedup import simhash_col, with_simhash

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    edge = spark.createDataFrame(
        [(900001, ""), (900002, "   "), (900003, "one"), (900004, None),
         (900005, "a b a b a"), (900006, "x\t\ny z")],
        "doc_id long, text string")
    allofit = docs.unionByName(edge)
    for mode in ("xxhash64", "md5"):
        ref = allofit.select(
            F.col("doc_id").alias("_id"),
            simhash_col(F.col("text"), hash_mode=mode).alias("_ref"))
        got = with_simhash(allofit, hash_mode=mode)
        bad = got.join(ref, "_id").where(F.col("_sig") != F.col("_ref")).count()
        assert bad == 0, mode


def test_star_components_match_label_propagation(spark):
    """dedup_clusters_star == dedup_clusters on chains, stars, bridged
    cliques, a hash-random graph and a single pair."""
    import hashlib

    from ohsome_planet_spark.operators.dedup import (
        dedup_clusters, dedup_clusters_star)

    def h(i):
        return int(hashlib.md5(f"e{i}".encode()).hexdigest()[:8], 16)

    shapes = {
        "chain": [(i, i + 1) for i in range(30)],
        "star": [(0, i) for i in range(1, 20)],
        "two_cliques_bridge": (
            [(a, b) for a in range(5) for b in range(a + 1, 5)]
            + [(a, b) for a in range(10, 15) for b in range(a + 1, 15)]
            + [(4, 10)]
        ),
        "random": [(h(i) % 50, (h(i) // 7) % 50) for i in range(120)
                   if h(i) % 50 != (h(i) // 7) % 50],
        "single_pair": [(99, 7)],
    }
    for name, edges in shapes.items():
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        want = {(r["node"], r["cluster_id"])
                for r in dedup_clusters(df).collect()}
        got = {(r["node"], r["cluster_id"])
               for r in dedup_clusters_star(df).collect()}
        assert got == want, f"shape {name}: {got ^ want}"


def test_star_components_empty_input(spark):
    from ohsome_planet_spark.operators.dedup import dedup_clusters_star

    df = spark.createDataFrame([], "id_a long, id_b long")
    assert dedup_clusters_star(df).count() == 0


def test_incremental_minhash_matches_batch(spark, sf_dir):
    """incremental(new=B, old=A-index) must equal: pairs(A∪B) minus the
    pure old×old pairs — and with an empty old side, equal the plain
    batch operator exactly."""
    from pyspark.sql import functions as F

    from ohsome_planet_spark.operators.dedup import (
        banded_signatures, minhash_lsh_pairs, minhash_lsh_pairs_incremental)

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text").where(F.col("doc_id") < 120)
    )
    # plant cross-generation dups: generation B = 40 fresh docs + copies
    # of 10 generation-A docs under new ids
    old = docs.where("doc_id < 60")
    fresh = docs.where("doc_id >= 60 AND doc_id < 100").select(
        (F.col("doc_id") + 1000).alias("doc_id"), "text")
    copies = docs.where("doc_id < 10").select(
        (F.col("doc_id") + 2000).alias("doc_id"), "text")
    new = fresh.unionByName(copies)

    both = old.unionByName(new)
    want_all = {(r["id_a"], r["id_b"], r["jaccard"])
                for r in minhash_lsh_pairs(both).collect()}
    want_old_only = {(r["id_a"], r["id_b"], r["jaccard"])
                     for r in minhash_lsh_pairs(old).collect()}

    old_bands = banded_signatures(old)
    got = {(r["id_a"], r["id_b"], r["jaccard"])
           for r in minhash_lsh_pairs_incremental(
               new, old_bands, old).collect()}
    assert got == want_all - want_old_only
    # the planted copies all pair with their generation-A originals
    assert all((i, i + 2000) in {(a, b) for a, b, _ in got}
               for i in range(10))

    empty = old.where("doc_id < 0")
    got_empty_old = {(r["id_a"], r["id_b"], r["jaccard"])
                     for r in minhash_lsh_pairs_incremental(
                         new, banded_signatures(empty), empty).collect()}
    want_new_only = {(r["id_a"], r["id_b"], r["jaccard"])
                     for r in minhash_lsh_pairs(new).collect()}
    assert got_empty_old == want_new_only


def test_star_components_self_pairs_survive(spark):
    from ohsome_planet_spark.operators.dedup import (
        dedup_clusters, dedup_clusters_star)

    df = spark.createDataFrame(
        [(5, 5), (7, 8)], "id_a long, id_b long")
    want = {(r["node"], r["cluster_id"])
            for r in dedup_clusters(df).collect()}
    got = {(r["node"], r["cluster_id"])
           for r in dedup_clusters_star(df).collect()}
    # every id mentioned in pairs gets a row, self-pair-only ids included
    assert got == want == {(5, 5), (7, 7), (8, 7)}


# --- dedup_clusters: the Arrow min-label kernel and its contract -----------

def _union_find(edges):
    """Plain union-find spec: {node: min node id of its component} over
    every non-NULL id of `edges`."""
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        for x in (a, b):
            if x is not None:
                parent.setdefault(x, x)
        if a is not None and b is not None:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _kernel(edges, batch=50_000):
    import pyarrow as pa

    from ohsome_planet_spark.operators.dedup import _min_label_components

    a = pa.array([e[0] for e in edges], pa.int64())
    b = pa.array([e[1] for e in edges], pa.int64())
    batches = [pa.RecordBatch.from_arrays([a[i:i + batch], b[i:i + batch]],
                                          names=["a", "b"])
               for i in range(0, len(edges), batch)]
    out = {}
    for rb in _min_label_components(iter(batches)):
        out.update(zip(rb.column(0).to_pylist(), rb.column(1).to_pylist()))
    return out


def test_min_label_kernel_equals_union_find():
    """The mapInArrow kernel, run without Spark, against the union-find
    spec: 100k-node chains with sorted, reversed and shuffled ids, a star,
    a random graph, self-pairs, one-NULL pairs and empty input."""
    import random

    rng = random.Random(18)
    n = 100_000
    perm = list(range(n))
    rng.shuffle(perm)
    chain = [(i, i + 1) for i in range(n - 1)]
    shapes = {
        "chain_sorted": chain,
        "chain_reversed": [(n - a, n - b) for a, b in chain],
        "chain_shuffled": [(perm[a], perm[b]) for a, b in chain],
        "star": [(7 * i + 3, 5) for i in range(20_000)],
        "random": [(rng.randrange(3000), rng.randrange(3000))
                   for _ in range(2500)],
        "self_pairs": [(4, 4), (9, 9), (9, 2), (1 << 40, 1 << 40)],
        "one_null": [(1, None), (None, 2), (None, None), (3, 4)],
    }
    for name, edges in shapes.items():
        rng.shuffle(edges)
        assert _kernel(edges) == _union_find(edges), name
    assert _kernel([]) == {}
    assert _kernel([(None, None)]) == {}


def _clusters(df):
    return {(r["node"], r["cluster_id"]) for r in df.collect()}


def test_dedup_clusters_null_ids_are_not_nodes(spark):
    """A NULL id is no node; its pair's other id keeps a singleton row.
    Both engines agree."""
    from ohsome_planet_spark.operators.dedup import (
        dedup_clusters, dedup_clusters_star)

    df = spark.createDataFrame(
        [(1, None), (None, 6), (None, None), (2, 3), (3, 4)],
        "id_a long, id_b long")
    want = {(1, 1), (6, 6), (2, 2), (3, 2), (4, 2)}
    assert _clusters(dedup_clusters(df)) == want
    assert _clusters(dedup_clusters_star(df)) == want


def test_dedup_clusters_string_ids(spark):
    """String ids keep their type; cluster_id is the min id in Spark's
    string order, equal to the star engine's."""
    from ohsome_planet_spark.operators.dedup import (
        dedup_clusters, dedup_clusters_star)

    df = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("Z", "é"), ("é", "e"), ("x", "x"),
         ("q", None)],
        "id_a string, id_b string")
    got = dedup_clusters(df)
    assert [f.dataType.simpleString() for f in got.schema] == ["string"] * 2
    want = {("a", "a"), ("b", "a"), ("c", "a"), ("Z", "Z"), ("e", "Z"),
            ("é", "Z"), ("x", "x"), ("q", "q")}
    assert _clusters(got) == want
    assert _clusters(dedup_clusters_star(df)) == want


def test_dbscan_string_ids_match_integer_ids(spark):
    """dbscan over string ids equals the integer-id run under an
    order-preserving id mapping."""
    import hashlib

    from ohsome_planet_spark.operators.dbscan import dbscan

    def h(p, i):
        return int(hashlib.md5(f"{p}{i}".encode()).hexdigest()[:15], 16)

    rows = [(i, (h("x", i) % 100) / 10.0, (h("y", i) % 100) / 10.0)
            for i in range(80)]
    ints = spark.createDataFrame(rows, "point_id long, lon double, lat double")
    strs = spark.createDataFrame([(f"p{i:03d}", x, y) for i, x, y in rows],
                                 "point_id string, lon double, lat double")

    def key(i):
        return None if i is None else f"p{i:03d}"

    want = {(key(r["point_id"]), r["role"], key(r["cluster_id"]))
            for r in dbscan(ints, eps=1.2, min_pts=4).collect()}
    got = {(r["point_id"], r["role"], r["cluster_id"])
           for r in dbscan(strs, eps=1.2, min_pts=4).collect()}
    assert got == want
    assert len({c for _, role, c in want if role == "core"}) >= 2


def _build_jobs(spark, build):
    """Spark jobs started while `build()` constructs a plan."""
    import uuid

    sc = spark.sparkContext
    group = f"build-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_component_plans_start_no_job_at_build(spark):
    """Building dedup_clusters, curate_corpus(with_manifest=False) and
    dbscan starts zero Spark jobs; two dedup_clusters invocations
    composed in one query equal the two separate runs."""
    from ohsome_planet_spark.operators.dbscan import dbscan
    from ohsome_planet_spark.operators.dedup import dedup_clusters
    from ohsome_planet_spark.plans.corpus import curate_corpus

    p1 = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "id_a long, id_b long")
    p2 = spark.createDataFrame([(3, 1), (9, 8), (5, 5)], "id_a long, id_b long")
    text = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [(1, text, "s0"), (2, text + " now", "s0"), (3, text, "s1"),
         (4, "entirely different words make up this other document", "s1")],
        "doc_id long, text string, source string")
    pts = spark.createDataFrame(
        [(i, 0.1 * i, 0.0) for i in range(6)] + [(9, 30.0, 30.0)],
        "point_id long, lon double, lat double")

    one, jobs = _build_jobs(spark, lambda: dedup_clusters(p1))
    assert jobs == 0
    two, jobs = _build_jobs(spark, lambda: dedup_clusters(p2))
    assert jobs == 0
    both, jobs = _build_jobs(
        spark, lambda: dedup_clusters(p1).unionByName(dedup_clusters(p2)))
    assert jobs == 0
    rows = sorted(both.collect())
    assert rows == sorted(one.collect() + two.collect())
    assert len(rows) == 10

    (clean, counts), jobs = _build_jobs(
        spark, lambda: curate_corpus(docs, with_manifest=False))
    assert jobs == 0 and counts == {}
    assert {r["doc_id"] for r in clean.collect()} == {1, 4}

    clustered, jobs = _build_jobs(spark, lambda: dbscan(pts, eps=0.15, min_pts=3))
    assert jobs == 0
    assert {r["point_id"]: r["cluster_id"] for r in clustered.collect()} == {
        **{i: 1 for i in range(6)}, 9: None}
