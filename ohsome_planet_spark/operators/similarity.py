"""Similarity search over embedding columns: brute-force and LSH/IVF ANN.

Brute-force cosine top-k is the exactness baseline (the candidates are
broadcast to one Arrow kernel — fine for query batches, never for all-pairs
at scale). The scale path is random-hyperplane LSH with multi-probe: vectors
shuffle into sign-pattern buckets; each query probes its own bucket plus all
1-bit-flip neighbors, so the candidate set stays tiny while recall stays
high. The ANN pair math is JVM-side higher-order array expressions
(zip_with/aggregate).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..session import drop_spark_zip_finders


def _to_double(col) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def norm_col(a) -> Column:
    """Sequential-fold L2 norm, staged once per VECTOR so that each pair
    only pays for its dot fold."""
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def _dot_over_norms(a, b, na, nb) -> Column:
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)
    return F.try_divide(dot, na * nb)  # a zero norm gives NULL, not DIVIDE_BY_ZERO


def _fold(m: np.ndarray) -> np.ndarray:
    """Row sums in the order ``aggregate(x, 0.0, (acc, v) -> acc + v)``
    adds them: np.cumsum accumulates strictly left to right (np.sum's
    pairwise summation would not), and the leading ``0.0 +`` gives an
    all-negative-zero row the fold's +0.0."""
    if m.shape[-1] == 0:
        return np.zeros(m.shape[:-1])
    return 0.0 + np.cumsum(m, axis=-1)[..., -1]


def _candidate_groups(ids, vecs):
    """The candidates sorted by vector length, one float64 matrix per length.

    Returns the sorted ids, their norms and ``(start, stop, matrix, ok)``
    per length, where ``ok`` is False for a vector with a null element.
    Such a vector, and a null vector (in no group), has a NULL norm."""
    import pyarrow as pa
    import pyarrow.compute as pc

    lens = np.asarray(pc.list_value_length(vecs).fill_null(-1))
    order = np.argsort(lens, kind="stable")
    vecs, lens = vecs.cast(pa.list_(pa.float64())).take(order), lens[order]
    cn, ok, groups = np.zeros(len(lens)), np.zeros(len(lens), dtype=bool), []
    dims, starts = np.unique(lens, return_index=True)
    for n_dim, start, stop in zip(dims, starts, [*starts[1:], len(lens)]):
        if n_dim < 0:
            continue
        flat = vecs.slice(start, stop - start).flatten()
        shape = (stop - start, int(n_dim))
        ok[start:stop] = ~np.asarray(flat.is_null()).reshape(shape).any(axis=1)
        mat = np.asarray(flat.fill_null(0.0)).reshape(shape)
        with np.errstate(all="ignore"):
            cn[start:stop] = np.sqrt(_fold(mat * mat))
        groups.append((start, stop, mat, ok[start:stop]))
    return ids.take(order), pa.array(cn, mask=~ok), groups


def brute_force_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    query_id: str = "query_id",
    cand_id: str = "cand_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k (rank on round(cos,4), id tiebreak).

    The candidates are read once with ``toArrow()`` and broadcast as
    float64 matrices, one per vector length. One Arrow kernel computes,
    per query, the dot against every candidate and both norms with the
    same sequential fold as ``aggregate(zip_with(q, c, (x, y) -> x * y),
    0.0, (acc, v) -> acc + v)`` (see ``_fold``), so the scores are that
    expression's bit for bit. Division, round(…, 4) and ranking stay in
    the JVM.

    NULLs follow the folds: a null vector or a null element makes its
    norm and every dot it takes part in NULL, a pair whose lengths differ
    has a NULL dot, a zero norm (a zero or empty vector) makes the score
    NULL rather than raising, and a NULL cos_sim ranks after every score.
    ids keep their input types."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import DoubleType, StructField, StructType

    q_field, c_field = queries.schema[query_id], candidates.schema[cand_id]
    table = candidates.select(cand_id, vec_col).toArrow()
    c_ids, c_cn, groups = _candidate_groups(
        table.column(0).combine_chunks().cast(to_arrow_type(c_field.dataType)),
        table.column(1).combine_chunks(),
    )
    bc = queries.sparkSession.sparkContext.broadcast((c_ids, c_cn, groups))
    names = [query_id, cand_id, "_dot", "_qn", "_cn"]
    out_schema = StructType(
        [q_field, c_field]
        + [StructField(c, DoubleType()) for c in names[2:]]
    )

    def kernel(batches):
        drop_spark_zip_finders()
        ids, cn, groups = bc.value
        n = len(ids)
        for batch in batches:
            qids = batch.column(0)
            qvecs = batch.column(1).cast(pa.list_(pa.float64()))
            for i, qv in enumerate(qvecs):
                q = qv.values
                dot, null, qn = np.zeros(n), np.ones(n, dtype=bool), None
                if q is not None and not q.null_count:
                    q = q.to_numpy()
                    with np.errstate(all="ignore"):
                        qn = float(np.sqrt(_fold(q * q)))
                        for start, stop, mat, ok in groups:
                            if mat.shape[1] == len(q):
                                dot[start:stop] = _fold(mat * q[None, :])
                                null[start:stop] = ~ok
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.repeat(qids[i], n),
                        ids,
                        pa.array(dot, mask=null),
                        pa.repeat(pa.scalar(qn, pa.float64()), n),
                        cn,
                    ],
                    names=names,
                )

    scored = queries.select(query_id, vec_col).mapInArrow(
        kernel, out_schema
    ).where(
        F.col(query_id) != F.col(cand_id)
    ).select(
        query_id, cand_id,
        F.round(F.try_divide(F.col("_dot"), F.col("_qn") * F.col("_cn")), 4)
        .alias("cos_sim"),
    )
    w = Window.partitionBy(query_id).orderBy(
        F.desc("cos_sim"), F.asc(cand_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id, cand_id, "cos_sim", "rank")
    )


def _bucket_col(vec_dbl: Column, hyper: np.ndarray) -> Column:
    bits = []
    for p in range(hyper.shape[0]):
        coeffs = F.array(*[F.lit(float(x)) for x in hyper[p]])
        dot = F.aggregate(
            F.zip_with(vec_dbl, coeffs, lambda a, b: a * b), F.lit(0.0), lambda acc, v: acc + v
        )
        bits.append(F.when(dot >= 0, F.lit(1 << p)).otherwise(F.lit(0)))
    return sum(bits[1:], bits[0]).cast("int")


def ann_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    planes: int = 8,
    dim: int = 64,
    seed: int = 13,
    multiprobe: bool = True,
    query_id: str = "query_id",
    cand_id: str = "cand_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: random-hyperplane buckets + 1-bit multi-probe.

    Recall is governed by `planes` (fewer planes → bigger buckets → higher
    recall, more compute). With multiprobe, each query also searches every
    bucket at Hamming distance 1 — (planes+1)× candidates, dramatically
    better recall near bucket boundaries.
    """
    rng = np.random.default_rng(seed)
    hyper = rng.standard_normal((planes, dim))
    # staged projections: the doubled vector and its norm materialize once
    # per ROW; the per-plane bucket aggregates and the per-pair dot then
    # reference plain column attributes (no re-embedded HOF subtrees)
    q = queries.select(
        F.col(query_id), _to_double(F.col(vec_col)).alias("qv")
    ).select(
        query_id, "qv", norm_col(F.col("qv")).alias("qn"),
        _bucket_col(F.col("qv"), hyper).alias("_b0"),
    )
    if multiprobe:
        probes = F.array(
            F.col("_b0"), *[F.col("_b0").bitwiseXOR(F.lit(1 << p)) for p in range(planes)]
        )
        q = q.select(query_id, "qv", "qn", F.explode(probes).alias("_bkt"))
    else:
        q = q.select(query_id, "qv", "qn", F.col("_b0").alias("_bkt"))
    # parallelism guard (r5, same as knn_join): with the candidate side
    # broadcast, bucket probing + the per-pair cosine run at whatever the
    # query scan's file partitioning was — one tiny exchange of the probe
    # stream pins the expensive map side at one wave of cores
    from ohsome_planet_spark.session import kernel_partitions

    q = q.repartition(kernel_partitions(queries.sparkSession))
    c = candidates.select(
        F.col(cand_id), _to_double(F.col(vec_col)).alias("cv")
    ).select(
        cand_id, "cv", norm_col(F.col("cv")).alias("cn"),
        _bucket_col(F.col("cv"), hyper).alias("_bkt"),
    )
    pairs = q.join(c, "_bkt").where(F.col(query_id) != F.col(cand_id))
    # NO pair dedup (r5, same proof as knn_join): a candidate lives in
    # exactly ONE bucket and the probe list {b0, b0^2^p} is distinct ints,
    # so each (query, candidate) pair forms at most once — the old
    # dropDuplicates re-shuffled the whole scored stream for nothing.
    # Pinned by test_ann_pairs_unique.
    scored = pairs.select(
        query_id, cand_id,
        F.round(_dot_over_norms(F.col("qv"), F.col("cv"),
                                F.col("qn"), F.col("cn")), 4).alias("cos_sim"),
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("cos_sim"), F.asc(cand_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id, cand_id, "cos_sim", "rank")
    )


def ivf_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    sample_fraction: float = 0.2,
    seed: int = 17,
    query_id: str = "query_id",
    cand_id: str = "cand_id",
    vec_col: str = "embedding",
    quantizer: str = "sample",
    kmeans_iterations: int = 2,
    fixed_centroids: "np.ndarray | None" = None,
) -> DataFrame:
    """IVF-style ANN: coarse quantizer → vectors assigned to their
    nearest centroid (inverted lists) → queries probe their `nprobe`
    nearest lists → exact cosine within probed lists.

    quantizer='sample' (default): k-means++-style greedy spread over a
    driver-sized ordered sample — the cheap exploration path; at 100 TB
    you train on a sample and broadcast.
    quantizer='kmeans': full distributed Lloyd's over ALL candidates
    (operators/kmeans — every point participates, deterministic across
    runs/partitionings); only the k final centroids come to the driver.
    The committed-index path when list balance matters.
    quantizer='fixed': caller-supplied `fixed_centroids` (n_centroids ×
    dim) — the production pattern at 100 TB (train the coarse quantizer
    offline, broadcast the frozen codebook to every batch/stream job so
    list assignment never drifts between runs), and the cross-engine
    oracle path (literal centroids replay exactly in SQL).

    List assignment rounds centroid similarity to 9 dp and tie-breaks by
    centroid index (stable argsort), so assignment is reproducible across
    BLAS builds and replayable in any engine that computes the same dot
    products (last-ulp association differences are absorbed by the
    rounding, same trick as knn auto_zoom).

    SCALE NOTE: `n_centroids` is also the distinct-key count of the
    inverted-list join. At test scale the candidate side broadcasts and
    the key count is irrelevant; at cluster scale (candidates too big to
    broadcast) the join shuffles BOTH sides on `_list`, so 16 lists would
    serialize onto 16 reducers. Size it like a real IVF index — `~sqrt(n)`
    lists (1M lists at 10^12 vectors), at minimum several × the cluster's
    total cores — and raise `nprobe` proportionally to hold recall."""
    from pyspark.sql.types import ArrayType, IntegerType

    if quantizer == "fixed":
        if fixed_centroids is None:
            raise ValueError("quantizer='fixed' requires fixed_centroids")
        centroids = np.asarray(fixed_centroids, np.float64)
        norms = np.maximum(np.linalg.norm(centroids, axis=1, keepdims=True),
                           1e-12)
        centroids = centroids / norms
    elif quantizer == "kmeans":
        from .kmeans import kmeans as _kmeans

        # trained on nonzero vectors only: a zero vector has no direction,
        # and dividing by its norm would raise DIVIDE_BY_ZERO for the whole
        # query (it still gets a list below and NULL scores)
        nv = _to_double(F.col(vec_col))
        normed = candidates.select(
            F.col(cand_id).alias("vec_id"), nv.alias("_v"),
            norm_col(nv).alias("_n"),
        ).where("_n > 0").select(
            "vec_id",
            F.transform("_v", lambda x: x / F.col("_n")).alias("embedding"),
        )
        _, cent_df = _kmeans(normed, k=n_centroids,
                             iterations=kmeans_iterations)
        rows = sorted(cent_df.collect(), key=lambda r: r["cluster"])
        centroids = np.stack([np.asarray(r["centroid"], np.float64)
                              for r in rows])
        norms = np.maximum(np.linalg.norm(centroids, axis=1, keepdims=True),
                           1e-12)
        centroids = centroids / norms  # mean of unit vectors is not unit
    elif quantizer == "sample":
        sample = (
            candidates.select(cand_id, vec_col)
            .sample(fraction=min(1.0, sample_fraction), seed=seed)
            # ordered BEFORE the limit: bare limit() takes whichever rows
            # arrive first, which AQE/partitioning changes can reshuffle —
            # the quantizer (and thus every IVF answer) must be
            # reproducible across runs, retries, and cluster sizes
            .orderBy(cand_id)
            .limit(n_centroids * 50)
            .toPandas()
        )
        vecs = np.stack(sample[vec_col].map(lambda v: np.asarray(v, np.float64)))
        vecs = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
        # k-means++-style spread: greedily pick points far from chosen set
        rng = np.random.default_rng(seed)
        chosen = [int(rng.integers(0, len(vecs)))]
        for _ in range(min(n_centroids, len(vecs)) - 1):
            sims = vecs @ vecs[chosen].T
            worst = np.argmin(sims.max(axis=1))
            chosen.append(int(worst))
        centroids = vecs[chosen]
    else:
        raise ValueError("quantizer must be 'sample', 'kmeans', or 'fixed'")
    spark = candidates.sparkSession
    bc = spark.sparkContext.broadcast(centroids)

    def lists_udf(n_lists: int):
        @F.pandas_udf(ArrayType(IntegerType()))
        def assign(v: pd.Series) -> pd.Series:
            drop_spark_zip_finders()
            c = bc.value
            mat = np.stack(v.map(lambda x: np.asarray(x, np.float64)))
            mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
            # round-9 before ranking: BLAS matmul association differs from a
            # sequential fold in the last ulp; rounding + stable index
            # tie-break makes assignment engine- and build-independent
            sims = np.round(mat @ c.T, 9)
            order = np.argsort(-sims, axis=1, kind="stable")[:, :n_lists]
            return pd.Series([[int(x) for x in row] for row in order])

        return assign

    c_assigned = candidates.select(
        F.col(cand_id),
        _to_double(F.col(vec_col)).alias("cv"),
        F.element_at(lists_udf(1)(F.col(vec_col)), 1).alias("_list"),
    ).select(cand_id, "cv", "_list", norm_col(F.col("cv")).alias("cn"))
    q_assigned = queries.select(
        F.col(query_id),
        _to_double(F.col(vec_col)).alias("qv"),
        F.explode(lists_udf(nprobe)(F.col(vec_col))).alias("_list"),
    ).select(query_id, "qv", "_list", norm_col(F.col("qv")).alias("qn"))
    # same parallelism guard as ann_topk/knn_join (r5 soak finding): with
    # the candidate side broadcast, the per-pair cosine runs at whatever
    # the probe scan's file partitioning was — one tiny exchange of the
    # (id, vector, list) probe stream pins it at one wave of cores
    from ohsome_planet_spark.session import kernel_partitions

    q_assigned = q_assigned.repartition(kernel_partitions(queries.sparkSession))
    pairs = q_assigned.join(c_assigned, "_list").where(F.col(query_id) != F.col(cand_id))
    # NO pair dedup (r5, same proof as ann_topk/knn_join): each candidate
    # lives in exactly ONE inverted list and a query's nprobe list ids are
    # distinct (argsort positions), so a pair forms at most once.
    scored = pairs.select(
        query_id, cand_id,
        F.round(_dot_over_norms(F.col("qv"), F.col("cv"),
                                F.col("qn"), F.col("cn")), 4).alias("cos_sim"),
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("cos_sim"), F.asc(cand_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id, cand_id, "cos_sim", "rank")
    )


def ann_recall_vs_exact(spark, emb: DataFrame, k: int = 5, method: str = "lsh", **ann_kwargs) -> float:
    """Diagnostic: fraction of exact top-k recovered by ann_topk."""
    q = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    c = emb.select(F.col("vec_id").alias("cand_id"), "embedding")
    exact = brute_force_topk(q, c, k=k).select("query_id", "cand_id")
    fn = ivf_topk if method == "ivf" else ann_topk
    approx = fn(q, c, k=k, **ann_kwargs).select("query_id", "cand_id")
    hits = exact.intersect(approx).count()
    total = exact.count()
    return hits / total if total else 1.0
