"""Deduplication operators for large-scale text corpora.

Beyond the reference's operator set (its only dedup is the minor-store
version dedup, `MinorNode.java:55-64`), these are the training-data-pipeline
operators the graft requires: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Scale notes:
- exact dedup is one hash-shuffle groupBy (map-side combine applies);
- MinHash signatures are computed entirely with JVM array expressions
  (split → shingle → hash → min) — no Python in the signature path;
- LSH banding turns the quadratic pair space into per-band buckets: only
  same-bucket pairs are verified (the classic shingle→minhash→band→bucket
  join), so the shuffle is O(docs × bands), not O(docs²);
- SimHash is all-JVM too (one aggregate() pass of ±1 bit votes per token);
- pair verification recomputes exact n-gram Jaccard with array intersection —
  JVM-side.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# 2^31-1: keeps a*h+b < 2^62 inside JVM longs under ANSI overflow checking
MERSENNE = (1 << 31) - 1


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Canonicalize exact duplicates: min id per md5(text)."""
    return df.groupBy(F.md5(text_col).alias("text_hash")).agg(
        F.min(id_col).alias("canonical_id"), F.count("*").alias("n_copies")
    )


def words_col(text_c: Column) -> Column:
    return F.split(F.lower(F.trim(text_c)), r"\s+")


def shingles_col(text_c: Column, n: int = 3) -> Column:
    """Word n-gram shingles as array<string> — ONE codegen'd regex pass.

    Overlapping n-word windows via a capturing lookahead anchored at word
    boundaries: the pattern `(?:^| )(?=((\\S+ ){n-1}\\S+))` consumes the
    boundary (so the scan advances word by word) while the lookahead
    captures the n-gram without consuming it. Whitespace is normalized to
    single spaces first, making the captures byte-identical to
    concat_ws(' ', slice(words, i, n)) — the HOF formulation this
    replaces (`shingles_col_hof`, kept as the property-test twin): the
    transform/slice/concat chain runs on Spark's interpreted
    higher-order-function path and was ~10× slower per corpus scan.
    DuckDB oracles keep their split+slice formulation (RE2 has no
    lookahead); values are equal, which is what the compare checks."""
    norm = F.regexp_replace(F.lower(F.trim(text_c)), r"\s+", " ")
    pat = r"(?:^| )(?=(" + r" ".join([r"\S+"] * n) + r"))"
    return F.coalesce(
        F.regexp_extract_all(norm, F.lit(pat), F.lit(1)),
        F.array().cast("array<string>"),
    )


def shingles_col_hof(text_c: Column, n: int = 3) -> Column:
    """Original higher-order-function shingles — the semantics twin
    shingles_col is property-tested against (see test_dedup)."""
    w = words_col(text_c)
    count = F.size(w) - (n - 1)
    # sequence(1, 0) descends — guard texts shorter than one shingle
    return F.when(
        count >= 1,
        F.transform(F.sequence(F.lit(1), count), lambda i: F.concat_ws(" ", F.slice(w, i, n))),
    ).otherwise(F.array().cast("array<string>"))


def _hash_params(num_hashes: int, seed: int = 7) -> list[tuple[int, int]]:
    rng = np.random.default_rng(seed)
    return [
        (int(rng.integers(1, MERSENNE - 1)), int(rng.integers(0, MERSENNE - 1)))
        for _ in range(num_hashes)
    ]


def minhash_signature_col(
    text_c: Column, num_hashes: int = 32, shingle_n: int = 3, hash_mode: str = "xxhash64"
) -> Column:
    """array<long> MinHash signature, all-JVM: a base hash per shingle, then
    min over (a*h+b) mod p per hash function.

    hash_mode 'xxhash64' (fastest, JVM-native) or 'md5' (engine-portable:
    int(md5[:15], 16) — DuckDB computes the identical value, enabling an
    exact cross-engine oracle)."""
    sh = shingles_col(text_c, shingle_n)
    if hash_mode == "md5":
        base = F.transform(
            sh, lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
        )
    else:
        base = F.transform(sh, lambda s: F.xxhash64(s))
    sigs = []
    for a, b in _hash_params(num_hashes):
        sigs.append(
            F.array_min(
                F.transform(
                    base,
                    lambda h: F.pmod(F.lit(a) * F.pmod(h, F.lit(MERSENNE)) + F.lit(b), F.lit(MERSENNE)),
                )
            )
        )
    return F.array(*sigs)


def _staged_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    shingle_n: int,
) -> DataFrame:
    """(_id, _sh, _sig): STAGED signature build — the one-expression
    minhash_signature_col embeds the shingle+base-hash subtree inside
    EVERY one of the num_hashes array_min branches (Catalyst does not
    CSE across them), recomputing shingling 32×. Materializing _sh →
    base → pmod as projection steps computes each stage once per row —
    CollapseProject keeps non-cheap aliases used more than once as real
    projections. Values are bit-identical (same (a·h+b) mod p
    arithmetic)."""
    return (
        df.select(
            F.col(id_col).alias("_id"),
            F.array_distinct(shingles_col(F.col(text_col), shingle_n)).alias("_sh"),
        )
        .select("_id", "_sh",
                F.transform("_sh", lambda s: F.xxhash64(s)).alias("_hb"))
        .select("_id", "_sh",
                F.transform("_hb", lambda h: F.pmod(h, F.lit(MERSENNE))).alias("_hm"))
        .select(
            "_id", "_sh",
            F.array(*[
                F.array_min(F.transform(
                    "_hm",
                    lambda h: F.pmod(F.lit(a) * h + F.lit(b), F.lit(MERSENNE))))
                for a, b in _hash_params(num_hashes)
            ]).alias("_sig"),
        )
    )


def _band_cols(num_hashes: int, bands: int):
    rows_per_band = num_hashes // bands
    return [
        F.hash(F.slice("_sig", i * rows_per_band + 1, rows_per_band), F.lit(i)).alias("_b")
        for i in range(bands)
    ]


def banded_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """(_id, _band_idx, _bucket) — the corpus's STORABLE LSH index
    (ids + band buckets only, bands × one long per doc). Persist this
    via `io/snapshots` after each crawl generation and feed it to
    `minhash_lsh_pairs_incremental` so the next generation dedups
    against history WITHOUT re-shingling or re-hashing the old corpus.
    Parameters must match between generations (they define the
    signature space)."""
    sig = _staged_signatures(df, id_col, text_col, num_hashes, shingle_n)
    return sig.select(
        "_id",
        F.posexplode(F.array(*_band_cols(num_hashes, bands)))
        .alias("_band_idx", "_bucket"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.7,
) -> DataFrame:
    """Near-duplicate pairs via shingle→minhash→band→bucket-join→verify.

    Returns (id_a, id_b, jaccard) with id_a < id_b and exact n-gram Jaccard
    ≥ threshold (verification recomputes the true Jaccard on shingle sets —
    LSH only proposes candidates, so results are exact w.r.t. the pairs it
    surfaces).
    """
    sig = _staged_signatures(df, id_col, text_col, num_hashes, shingle_n)
    band_cols = _band_cols(num_hashes, bands)
    # ids ONLY ride through the band stage (r1 finding 5: carrying the
    # shingle arrays multiplied the heaviest column by bands × fan-out);
    # the shingle table is re-joined on the deduplicated candidate pairs.
    #
    # Pair generation is ONE groupBy per (band, bucket) + the shared
    # streaming pair generator (see _element_pairs for why this beats a
    # banded self-join: the signature subtree computes once and the
    # banded rows shuffle once; skew profile unchanged — either shape
    # lands a whole bucket in one task).
    banded = sig.select(
        "_id", F.posexplode(F.array(*band_cols)).alias("_band_idx", "_bucket")
    )
    buckets = (
        banded.groupBy("_band_idx", "_bucket")
        .agg(F.sort_array(F.collect_list("_id")).alias("_ids"))
        .where(F.size("_ids") >= 2)
    )
    cand_ids = (
        _element_pairs(buckets, "_ids")
        .select(F.col("_a").alias("id_a"), F.col("_b").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sh_tbl = sig.select("_id", "_sh")
    cand = cand_ids.join(
        sh_tbl.select(F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a")), "id_a"
    ).join(
        sh_tbl.select(F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b")), "id_b"
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(1.0))
    return (
        cand.withColumn("jaccard", F.round(jac, 6))
        .where(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_lsh_pairs_incremental(
    new_docs: DataFrame,
    old_bands: DataFrame,
    old_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.7,
) -> DataFrame:
    """Incremental crawl dedup: near-dup pairs INVOLVING AT LEAST ONE NEW
    document — new×new plus new×old — probing a stored LSH index
    (`banded_signatures` of every prior generation, via `io/snapshots`)
    instead of re-banding history. old×old pairs were resolved when the
    old generations landed and are deliberately not re-emitted.

    The old corpus costs: zero shingling/hashing (its bands are read
    back), and its TEXT is touched only for the candidate ids the band
    buckets surface (an id-keyed join against `old_docs` — at crawl
    scale that is a sliver of history). Id spaces must be disjoint
    across generations (the crawl-generation contract; ids also decide
    pair orientation). Same verification semantics as
    `minhash_lsh_pairs`: exact shingle Jaccard ≥ threshold."""
    new_bands = banded_signatures(
        new_docs, id_col=id_col, text_col=text_col,
        num_hashes=num_hashes, bands=bands, shingle_n=shingle_n)
    tagged = new_bands.withColumn("_new", F.lit(True)).unionByName(
        old_bands.select("_id", "_band_idx", "_bucket")
        .withColumn("_new", F.lit(False))
    )
    buckets = (
        tagged.groupBy("_band_idx", "_bucket")
        .agg(F.sort_array(F.collect_list(F.struct("_id", "_new")))
             .alias("_ms"))
        .where(F.size("_ms") >= 2)
    )
    cand_ids = (
        _element_pairs(buckets, "_ms")
        .where(F.col("_a._new") | F.col("_b._new"))
        .select(F.col("_a._id").alias("id_a"), F.col("_b._id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # shingles: new docs re-project theirs; old docs are SEMI-JOINED to
    # the candidate ids BEFORE shingling — an inner join after the
    # projection would still compute shingle arrays for all of history
    # (Catalyst can't defer the expensive projection past the join),
    # which is exactly the cost the stored band index exists to avoid
    cand_ids = cand_ids.persist()
    need = (
        cand_ids.select(F.col("id_a").alias("_id"))
        .union(cand_ids.select(F.col("id_b").alias("_id")))
        .distinct()
    )
    sh_new = new_docs.select(
        F.col(id_col).alias("_id"),
        F.array_distinct(shingles_col(F.col(text_col), shingle_n)).alias("_sh"),
    )
    sh_old = (
        old_docs.select(F.col(id_col).alias("_id"), F.col(text_col))
        .join(need, "_id", "left_semi")
        .select(
            "_id",
            F.array_distinct(shingles_col(F.col(text_col), shingle_n))
            .alias("_sh"),
        )
    )
    sh_tbl = sh_new.unionByName(sh_old)
    cand = cand_ids.join(
        sh_tbl.select(F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a")),
        "id_a",
    ).join(
        sh_tbl.select(F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b")),
        "id_b",
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(1.0))
    return (
        cand.withColumn("jaccard", F.round(jac, 6))
        .where(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _element_pairs(grouped: DataFrame, arr_col: str) -> DataFrame:
    """(_a, _b) for every i < j element pair of each row's SORTED array —
    the shared candidate-pair generator for every bucketed near-dup op.

    A bucketed self-join computes the bucket-key subtree on both sides
    (Spark does not reuse the exchange across them — Generate nodes
    defeat plan canonicalization; verified on executed plans) and
    shuffles the rows twice. Grouping each bucket's members once and
    exploding pairs from the sorted array computes the subtree once and
    shuffles once. Both explodes are streaming generators: per emitted
    row the slice copy is O(|bucket|), never O(|bucket|²). Elements must
    be pre-sorted so _a < _b by value (structs: by leading id field)."""
    return (
        grouped.select(arr_col, F.posexplode(arr_col).alias("_i", "_a"))
        .select(
            "_a",
            F.explode(
                F.expr(f"slice({arr_col}, _i + 2, size({arr_col}))")
            ).alias("_b"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard ≥ threshold via an inverted shingle
    index (explode → self-join on shingle → count ∩ per pair) — no O(n²)
    cross join; pairs sharing zero shingles never materialize.

    max_doc_freq (the 100 TB guard): a shingle appearing in d documents
    contributes O(d²) candidate pairs, so one boilerplate shingle can
    explode the join. With a cap, shingles with document frequency > cap
    are dropped from CANDIDATE GENERATION only (their count is logged);
    surviving pairs are re-verified with exact array intersection on the
    full shingle sets, so reported jaccard values stay exact — the only
    approximation is that a pair sharing nothing but super-frequent
    shingles is never proposed (such a pair is boilerplate, not a dup).
    """
    sh = df.select(
        F.col(id_col).alias("_id"),
        F.array_distinct(shingles_col(F.col(text_col), shingle_n)).alias("_sh"),
    ).cache()
    inv = sh.select("_id", F.explode("_sh").alias("_s"))
    if max_doc_freq is None:
        # exact intersection counts straight off the inverted index:
        # group each shingle's posting list once, stream element pairs
        # (see _element_pairs), count co-occurrences per pair
        sizes = sh.select("_id", F.size("_sh").alias("_n"))
        postings = (
            inv.groupBy("_s")
            .agg(F.sort_array(F.collect_list("_id")).alias("_ids"))
            .where(F.size("_ids") >= 2)
        )
        pair_inter = (
            _element_pairs(postings, "_ids")
            .groupBy(F.col("_a").alias("id_a"), F.col("_b").alias("id_b"))
            .agg(F.count("*").alias("_inter"))
        )
        joined = (
            pair_inter.join(sizes.withColumnRenamed("_id", "id_a").withColumnRenamed("_n", "_na"), "id_a")
            .join(sizes.withColumnRenamed("_id", "id_b").withColumnRenamed("_n", "_nb"), "id_b")
        )
        jac = F.col("_inter").cast("double") / (F.col("_na") + F.col("_nb") - F.col("_inter"))
        return (
            joined.withColumn("jaccard", F.round(jac, 6))
            .where(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )
    # capped path: stop-shingles out of candidate generation, exact verify
    import logging

    hot = inv.groupBy("_s").agg(F.count("*").alias("_df")).where(
        F.col("_df") > max_doc_freq
    )
    n_hot = hot.count()
    logging.getLogger(__name__).info(
        "ngram_jaccard_pairs: dropping %d shingles with doc-freq > %d from "
        "candidate generation (pairs re-verified exactly)", n_hot, max_doc_freq
    )
    inv_capped = inv.join(hot.select("_s"), "_s", "left_anti")
    capped_postings = (
        inv_capped.groupBy("_s")
        .agg(F.sort_array(F.collect_list("_id")).alias("_ids"))
        .where(F.size("_ids") >= 2)
    )
    cand_ids = (
        _element_pairs(capped_postings, "_ids")
        .select(F.col("_a").alias("id_a"), F.col("_b").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    cand = cand_ids.join(
        sh.select(F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a")), "id_a"
    ).join(
        sh.select(F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b")), "id_b"
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(1.0))
    return (
        cand.withColumn("jaccard", F.round(jac, 6))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash_col(text_c: Column, num_bits: int = 64, hash_mode: str = "xxhash64") -> Column:
    """64-bit SimHash over whitespace tokens — ALL JVM expressions, no
    Python in the path (r1 verdict finding 4 replaced the per-char FNV
    kernel): per-token base hash (xxhash64, or the md5 60-bit value DuckDB
    reproduces exactly for the cross-engine oracle), then one aggregate()
    pass accumulating ±1 votes per bit, then bit assembly via bitwiseOR.
    """
    toks = F.filter(words_col(text_c), lambda t: t != F.lit(""))
    if hash_mode == "md5":
        base = F.transform(
            toks, lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")
        )
    else:
        base = F.transform(toks, lambda t: F.xxhash64(t))
    votes = F.aggregate(
        base,
        F.array_repeat(F.lit(0).cast("long"), num_bits),
        lambda acc, h: F.zip_with(
            acc,
            F.array(
                *[
                    (
                        F.shiftrightunsigned(h, b).bitwiseAND(F.lit(1)) * 2 - 1
                    ).cast("long")
                    for b in range(num_bits)
                ]
            ),
            lambda a, v: a + v,
        ),
    )
    powers = F.array(
        *[
            F.lit((1 << b) if b < 63 else -(1 << 63)).cast("long")
            for b in range(num_bits)
        ]
    )
    sig_terms = F.zip_with(
        votes, powers, lambda v, p: F.when(v > 0, p).otherwise(F.lit(0).cast("long"))
    )
    sig = F.aggregate(sig_terms, F.lit(0).cast("long"), lambda acc, x: acc.bitwiseOR(x))
    return F.coalesce(sig, F.lit(0).cast("long"))  # null text → 0, like empty


def with_simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_bits: int = 64,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """(_id, _sig) via explode + codegen'd per-bit SUM aggregation.

    The one-expression `simhash_col` runs an interpreted aggregate() that
    rebuilds a 64-element vote array per TOKEN (≈128 interpreted ops +
    an array allocation each) — measured 5.3s over sf0.1 docs. Here the
    tokens explode and 64 plain `sum((h >> b) & 1)` columns aggregate per
    doc inside whole-stage codegen; vote_b = 2·s_b − n, bits are disjoint
    so the signature assembles as a sum. Map-side partial aggregation
    compresses each input partition to ~one row per doc BEFORE the
    shuffle, so the shuffle volume is O(docs), not O(tokens) — the
    100 TB-safe shape. Signatures are bit-identical to simhash_col
    (property-tested)."""
    if hash_mode == "md5":
        base = F.conv(F.substring(F.md5(F.col("_t")), 1, 15), 16, 10).cast("long")
    else:
        base = F.xxhash64(F.col("_t"))
    toks = (
        df.select(F.col(id_col).alias("_id"),
                  F.explode(words_col(F.col(text_col))).alias("_t"))
        .where(F.col("_t") != "")
        .select("_id", base.alias("_h"))
    )
    aggs = [F.count(F.lit(1)).alias("_n")] + [
        F.sum(F.shiftrightunsigned("_h", b).bitwiseAND(F.lit(1))).alias(f"_s{b}")
        for b in range(num_bits)
    ]
    g = toks.groupBy("_id").agg(*aggs)
    sig = None
    for b in range(num_bits):
        power = F.lit((1 << b) if b < 63 else -(1 << 63)).cast("long")
        term = F.when(2 * F.col(f"_s{b}") - F.col("_n") > 0, power).otherwise(
            F.lit(0).cast("long"))
        sig = term if sig is None else sig + term
    g = g.select("_id", sig.alias("_sig"))
    # docs with zero tokens have no exploded rows: left join + 0 default
    # (simhash_col returns 0 for empty/null text)
    return (
        df.select(F.col(id_col).alias("_id"))
        .join(g, "_id", "left")
        .select("_id", F.coalesce("_sig", F.lit(0).cast("long")).alias("_sig"))
    )


def simhash_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    blocks: int = 4,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """SimHash near-dup pairs: block the 64-bit signature into `blocks`
    16-bit keys (pigeonhole: hamming ≤ blocks-1 ⇒ some block equal), join on
    any equal block, verify hamming distance ≤ max_hamming JVM-side."""
    sig = with_simhash(df, id_col=id_col, text_col=text_col, hash_mode=hash_mode)
    width = 64 // blocks
    mask = (1 << width) - 1
    block_cols = [
        (F.shiftrightunsigned("_sig", i * width).bitwiseAND(F.lit(mask))).alias("_blk")
        for i in range(blocks)
    ]
    # grouped pair generation (see _element_pairs): the whole
    # token-explode simhash aggregation computes ONCE, not once per
    # self-join side; members carry (id, sig) — one long each, so a
    # grouped bucket row stays small even for large blocks
    blocked = sig.select("_id", "_sig", F.posexplode(F.array(*block_cols)).alias("_bi", "_blk"))
    groups = (
        blocked.groupBy("_bi", "_blk")
        .agg(F.sort_array(F.collect_list(F.struct("_id", "_sig"))).alias("_ms"))
        .where(F.size("_ms") >= 2)
    )
    cand = (
        _element_pairs(groups, "_ms")
        .select(
            F.col("_a._id").alias("id_a"),
            F.col("_b._id").alias("id_b"),
            F.col("_a._sig").alias("sig_a"),
            F.col("_b._sig").alias("sig_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        cand.withColumn("hamming", ham)
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def embedding_near_dups(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.98,
    planes: int = 12,
    seed: int = 11,
    dim: int = 64,
) -> DataFrame:
    """Embedding-cosine near-dups via random-hyperplane LSH buckets +
    in-bucket exact cosine verification (JVM higher-order array math)."""
    rng = np.random.default_rng(seed)
    hyper = rng.standard_normal((planes, dim))
    # staged: the doubled vector, its norm, and the bucket materialize once
    # per ROW (the inline form re-embedded the double-cast transform in all
    # `planes` sign branches and re-folded both norms per PAIR)
    base = df.select(
        F.col(id_col).alias("_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
    )
    sign_bits = []
    for p in range(planes):
        coeffs = F.array(*[F.lit(float(x)) for x in hyper[p]])
        dot = F.aggregate(
            F.zip_with("_v", coeffs, lambda a, b: a * b), F.lit(0.0), lambda acc, v: acc + v
        )
        sign_bits.append(F.when(dot >= 0, F.lit(1)).otherwise(F.lit(0)) * F.lit(1 << p))
    bucket = sum(sign_bits[1:], sign_bits[0])
    tagged = base.select("_id", "_v", bucket.alias("_bkt"))
    # grouped pair generation (see _element_pairs): the `planes`
    # dot-product bucket projection computes ONCE, not once per
    # self-join side. Only ids ride the grouped buckets (a bucket of
    # vectors in one row would be O(bucket × dim) driver-of-skew
    # memory); vectors re-attach by two id-keyed joins against the
    # plain projection, which carries no hyperplane math to recompute.
    groups = (
        tagged.groupBy("_bkt")
        .agg(F.sort_array(F.collect_list("_id")).alias("_ids"))
        .where(F.size("_ids") >= 2)
    )
    cand_ids = _element_pairs(groups, "_ids").select(
        F.col("_a").alias("id_a"), F.col("_b").alias("id_b")
    )
    cand = cand_ids.join(
        base.select(F.col("_id").alias("id_a"), F.col("_v").alias("va")), "id_a"
    ).join(
        base.select(F.col("_id").alias("id_b"), F.col("_v").alias("vb")), "id_b"
    )
    # norms stay per PAIR here: tight LSH buckets make pairs ≪ rows, so
    # per-row staging would cost MORE folds (the topk ops make the
    # opposite call — their pair fan-out dwarfs the row count)
    dot = F.aggregate(F.zip_with("va", "vb", lambda a, b: a * b), F.lit(0.0), lambda acc, v: acc + v)
    na = F.sqrt(F.aggregate("va", F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate("vb", F.lit(0.0), lambda acc, v: acc + v * v))
    return (
        cand.withColumn("cos_sim", F.round(dot / (na * nb), 6))
        .where(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def dedup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 200,
    driver_threshold: int = 2_000_000,
) -> DataFrame:
    """Connected components over near-dup pairs → (node, cluster_id).

    The step after every pair generator above: near-dup PAIRS must become
    duplicate CLUSTERS (keep one doc per component). cluster_id is the
    component's minimum node id — deterministic, so downstream "keep the
    canonical doc" filters are stable across runs.

    Distributed shape: iterative min-label propagation + pointer jumping
    over the undirected edge list — each round is two shuffle joins + a min
    aggregate, with lineage truncated per round via localCheckpoint (without
    it, iteration k replays rounds 1..k-1; the classic iterative-Spark
    trap). Propagation alone needs O(diameter) rounds; the jump contracts
    label chains exponentially, so near-dup chains (the realistic cluster
    shape) close in O(log d) rounds. Convergence is detected by the
    monotone sum of labels (one cheap aggregate — a new-vs-old self-join
    would silently compare an attribute with itself after truncation).
    At adversarial scale (billion-node meshes) use
    `dedup_clusters_star` below — the alternating large-star/small-star
    algorithm (Kiveris et al.), identical output, equality-tested.

    Small-graph fast path: near-dup pair sets are usually MINUSCULE next
    to the corpus (dedup rates are single-digit percents of docs, and
    pairs ≈ dups), so below `driver_threshold` pairs the edges collect to
    the driver and a union-find computes the identical min-label
    components in one pass — the iterative machinery (whose per-round
    Spark job latency dominates on small graphs) runs only when the pair
    set is genuinely large. The probe is a `limit(threshold+1)` collect:
    if it truncates, the distributed path runs. Set driver_threshold=0 to
    force the iterative path (the cross-check tests do).
    """
    if driver_threshold > 0:
        probe = pairs.select(
            F.col(id_a).alias("a"), F.col(id_b).alias("b")
        ).limit(driver_threshold + 1).collect()
        if len(probe) <= driver_threshold:
            parent: dict = {}

            def find(x):
                root = x
                while parent.get(root, root) != root:
                    root = parent[root]
                while parent.get(x, x) != x:
                    parent[x], x = root, parent[x]
                return root

            for r in probe:
                ra, rb = find(r["a"]), find(r["b"])
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
            nodes = {x for r in probe for x in (r["a"], r["b"])}
            rows = [(n, find(n)) for n in sorted(nodes)]
            spark = pairs.sparkSession
            if not rows:
                return spark.createDataFrame([], "node long, cluster_id long")
            return spark.createDataFrame(rows, "node long, cluster_id long")

    edges_fwd = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = (
        edges_fwd.union(
            edges_fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint()  # every round joins edges — never recompute them
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    # labels only ever DECREASE, so sum(label) strictly decreases until the
    # fixpoint — one cheap aggregate per round is the convergence test (a
    # new-vs-old self-join would silently compare an attribute with itself
    # after lineage truncation: the classic iterative-DataFrame trap)
    prev_sum = labels.agg(F.sum("label")).collect()[0][0]
    for _ in range(max_iters):
        # (1) propagate: min over neighbors' labels
        nbr = (
            edges.join(labels, edges["dst"] == labels["node"])
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        labels = (
            labels.join(nbr, labels["node"] == nbr["src"], "left")
            .select(
                labels["node"].alias("node"),
                F.least(
                    labels["label"], F.coalesce(nbr["nbr_label"], labels["label"])
                ).alias("label"),
            )
            .localCheckpoint()  # jump below self-joins labels: checkpoint
            # first, or the self-join doubles the un-truncated plan
        )
        # (2) pointer-jump: label ← label's own current label. Propagation
        # alone is O(diameter) rounds — a CHAIN of near-dups (A~B~C~…) makes
        # that unbounded; jumping contracts paths exponentially. The jump
        # side deliberately routes through a (semantically no-op) aggregate:
        # joining a checkpointed frame with a PURE re-aliasing of itself
        # makes per-round wall time double (measured 0.5s→0.7→1.1→2.3→5→13→
        # 36→97s — a Spark plan/exchange-reuse pathology); the aggregate
        # gives the right side its own plan and rounds stay flat.
        jump = labels.groupBy("node").agg(F.min("label").alias("j_label")).select(
            F.col("node").alias("j_node"), "j_label"
        )
        labels = (
            labels.join(jump, labels["label"] == jump["j_node"], "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("j_label"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint()  # truncate lineage each round
        )
        cur_sum = labels.agg(F.sum("label")).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels.select("node", F.col("label").alias("cluster_id"))


def _star_round(edges: DataFrame, op: str) -> DataFrame:
    """One large-star or small-star pass (Kiveris et al. 2014) over a
    directed pointer list (src, dst). Both ops compute, per node u over
    the SYMMETRIC neighborhood, m = min(Γ(u) ∪ {u}) and re-point:
    large-star re-points the heavy side (v > u) at m, small-star the
    light side (v ≤ u, plus u itself). Every emitted edge points
    DOWNWARD (dst = a min), so the list monotonically approaches a star
    forest rooted at component minima."""
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    mins = (
        sym.groupBy("src").agg(F.min("dst").alias("_mn"))
        .select("src", F.least(F.col("_mn"), F.col("src")).alias("_m"))
    )
    j = sym.join(mins, "src")
    if op == "large":
        out = j.where(F.col("dst") > F.col("src")).select(
            F.col("dst").alias("src"), F.col("_m").alias("dst"))
    else:
        out = j.where(F.col("dst") <= F.col("src")).select(
            F.col("dst").alias("src"), F.col("_m").alias("dst")
        ).union(mins.select("src", F.col("_m").alias("dst")))
    return out.where(F.col("src") != F.col("dst")).distinct()


def dedup_clusters_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 100,
) -> DataFrame:
    """Connected components via the ALTERNATING large-star/small-star
    algorithm (Kiveris et al. 2014, "Connected Components in MapReduce
    and Beyond") — the adversarial-scale engine `dedup_clusters`
    documents as its swap point, now a real implementation.

    Same contract as `dedup_clusters`: (node, cluster_id = component
    min), identical output (equality-tested on chains, cliques, bridges,
    and hash-random graphs). Where label propagation + pointer jumping
    carries a full (node, label) table through every round, the star
    ops rewrite the EDGE LIST itself, which provably SHRINKS toward one
    pointer per non-root node — on billion-node meshes the per-round
    state is the frontier, not the graph + labels, and convergence is
    O(log² n) rounds regardless of component diameter or shape.

    Each round is two groupBy+join passes on the same key (large, then
    small), lineage-truncated via localCheckpoint; convergence is an
    EXACT edge-set comparison (exceptAll probe, limit-1 early-out in
    each direction — a fingerprint sum could collide and silently ship
    unconverged labels)."""
    # the node universe comes from the RAW pairs (self-pairs included):
    # a node whose only edge is (x, x) is a singleton cluster in
    # dedup_clusters' union-find and must not vanish here either
    universe = (
        pairs.select(F.col(id_a).alias("node"))
        .union(pairs.select(F.col(id_b).alias("node")))
        .distinct()
        .localCheckpoint()
    )
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )
    if edges.rdd.isEmpty():
        return universe.select("node", F.col("node").alias("cluster_id"))
    for _ in range(max_iters):
        nxt = _star_round(_star_round(edges, "large"), "small")
        nxt = nxt.localCheckpoint()
        changed = (
            nxt.exceptAll(edges).limit(1).count()
            or edges.exceptAll(nxt).limit(1).count()
        )
        edges = nxt
        if not changed:
            break
    # at the fixpoint the list is a star forest: every node's
    # min(Γ(u) ∪ {u}) IS its component minimum; self-pair-only nodes
    # (absent from the edge list) come back as singletons via the
    # universe left join
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    labels = (
        sym.groupBy("src").agg(F.min("dst").alias("_mn"))
        .select(
            F.col("src").alias("node"),
            F.least(F.col("_mn"), F.col("src")).alias("_cl"),
        )
    )
    return universe.join(labels, "node", "left").select(
        "node", F.coalesce("_cl", F.col("node")).alias("cluster_id")
    )


def contamination_flags(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: flag documents sharing any exact word
    n-gram with a benchmark/eval set (the GPT-3/C4-style 13-gram rule).

    100 TB shape: the benchmark side is tiny by construction (eval sets are
    thousands of rows) — its distinct n-grams broadcast, and the corpus side
    is a single scan + explode + BROADCAST left-semi join: no shuffle of the
    corpus, no driver collect, all-JVM expressions. Returns one row per
    CONTAMINATED doc id with the count of distinct matching n-grams (callers
    anti-join to drop, or join back for auditing).
    """
    bench_grams = (
        benchmark.select(F.explode(shingles_col(F.col(bench_text_col), n)).alias("gram"))
        .distinct()
    )
    # r7: dedupe each doc's grams BEFORE the explode (array_distinct is
    # per-row, no shuffle) so the per-doc aggregate can be a plain
    # count(*) with map-side partial aggregation. The former
    # count_distinct("gram") shuffled every MATCHED (doc, gram) string
    # pair — benchmarks drawn from the corpus make matches common, not
    # rare (64% of all grams on the sf fixtures; 1.67M shuffled rows at
    # sf1) — while the distinct-exploded count shuffles one partial row
    # per doc. Identical value: count over once-per-doc grams == the
    # distinct count.
    doc_grams = docs.select(
        F.col(id_col),
        F.explode(F.array_distinct(shingles_col(F.col(text_col), n)))
        .alias("gram"),
    )
    return (
        doc_grams.join(F.broadcast(bench_grams), "gram")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_contaminated_grams"))
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str | None = None,
) -> DataFrame:
    """Drop contaminated documents (left-anti against contamination_flags).

    bench_text_col defaults to text_col — a benchmark frame sharing the
    corpus column name needs no extra argument, and one with a different
    text column names it explicitly."""
    flags = contamination_flags(
        docs, benchmark, n=n, text_col=text_col, id_col=id_col,
        bench_text_col=bench_text_col if bench_text_col is not None else text_col,
    )
    return docs.join(flags.select(id_col), id_col, "left_anti")


def with_cross_doc_dup_fraction(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 10,
) -> DataFrame:
    """Cross-document repeated-passage fraction (the doc-level form of
    substring dedup, Lee et al. 2021 "Deduplicating Training Data Makes
    Language Models Better"): the fraction of a document's word
    `window`-grams that occur in MORE THAN ONE document corpus-wide —
    boilerplate headers, licence blocks, syndicated passages.

    Distinct from the Gopher dup-n-gram signal (WITHIN-doc repetition)
    and from `contamination_flags` (overlap vs an external benchmark):
    this one is corpus-self-referential. Scale shape: one explode,
    one (gram → n_docs) count with map-side combine, one join back
    per distinct (doc, gram) — the corpus text itself never shuffles,
    and the fraction is one int/int division (oracle-exact)."""
    grams = df.select(
        F.col(id_col).alias("_id"),
        F.explode(shingles_col(F.col(text_col), window)).alias("_g"),
    )
    doc_grams = grams.distinct()
    df_counts = doc_grams.groupBy("_g").agg(
        F.count("*").alias("_ndocs"))
    flagged = doc_grams.join(df_counts, "_g").groupBy("_id").agg(
        F.count("*").alias("n_windows"),
        F.sum(F.when(F.col("_ndocs") > 1, 1).otherwise(0)).alias("n_dup_windows"),
    )
    return (
        df.select(F.col(id_col).alias("_id"))
        .join(flagged, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce("n_windows", F.lit(0)).alias("n_windows"),
            F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
            F.when(
                F.coalesce("n_windows", F.lit(0)) > 0,
                F.coalesce("n_dup_windows", F.lit(0)).cast("double")
                / F.col("n_windows"),
            ).otherwise(F.lit(0.0)).alias("dup_window_fraction"),
        )
    )


def semdedup(
    df: DataFrame,
    k: int = 4,
    iterations: int = 2,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic dedup = k-means cluster the
    embeddings, then mark as duplicate any point whose cosine similarity
    to a LOWER-ID point in the same cluster is >= threshold (the id-greedy
    deterministic variant of the paper's keep-one-per-similar-group rule;
    min id is the canonical survivor, matching this module's other dedup
    operators). Returns (id_col, cluster, is_dup) for every input row.

    Engine-exact by construction: the Lloyd steps are the bit-exact
    operators/kmeans.py, and the cosine is a left fold of per-dimension
    double products in dimension order, divided by the product of two
    IEEE sqrts — no rounding needed before the threshold comparison.

    100 TB shape: clustering is the whole point — only within-cluster
    pairs are scored, so the quadratic pair space shrinks from n^2 to
    sum(|c|^2). k must therefore scale with n (the paper uses k ~ n /
    target_cluster_size, e.g. 50k clusters for 5B docs); the self-join
    shuffles on the cluster id, so parallelism is bounded by k — at k=4
    this is a correctness fixture, at production k it spreads evenly.
    A runaway hot cluster (skew) is bounded by capping cluster size
    upstream or raising k; pair generation itself stays JVM-side.
    """
    from .kmeans import kmeans

    assign, _ = kmeans(df, k=k, iterations=iterations,
                       id_col=id_col, vec_col=vec_col, keep_vec=True)
    # stage the double-cast vector once per row (pairs >> rows would be
    # the opposite call, but within tight clusters pairs ~ rows here)
    a = assign.select(
        F.col(id_col).alias("_id"), "cluster",
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
    )
    pairs = (
        a.alias("l")
        .join(a.alias("r"),
              (F.col("l.cluster") == F.col("r.cluster"))
              & (F.col("r._id") < F.col("l._id")))
        .select(F.col("l._id").alias("_id"),
                F.col("l._v").alias("va"), F.col("r._v").alias("vb"))
    )
    dot = F.aggregate(F.zip_with("va", "vb", lambda x, y: x * y),
                      F.lit(0.0), lambda acc, v: acc + v)
    na = F.sqrt(F.aggregate("va", F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate("vb", F.lit(0.0), lambda acc, v: acc + v * v))
    dup_ids = (
        pairs.where((dot / (na * nb)) >= F.lit(threshold))
        .select("_id").distinct()
        .withColumn("_dup", F.lit(1))
    )
    return (
        a.join(dup_ids, "_id", "left")
        .select(F.col("_id").alias(id_col), "cluster",
                F.coalesce("_dup", F.lit(0)).alias("is_dup"))
    )


def cross_doc_paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 2,
    sep: str = "\n",
) -> DataFrame:
    """CCNet-style global paragraph dedup (Wenzek et al. 2020 §3.1):
    split each document into paragraphs on `sep`, hash the normalized
    (lowercased, trimmed) paragraph, and DROP every paragraph whose hash
    occurs in >= min_docs distinct documents; survivors re-join in their
    original order. Returns (id_col, clean_text, n_paragraphs, n_dropped)
    with one row per input document (a fully-boilerplate doc keeps its
    row with clean_text = '').

    100 TB shape: three shuffles, all well-spread —
    * distinct (hash, doc) pairs: map-side combine collapses a doc's own
      repeats; the shuffle key includes doc id, so a boilerplate line in
      billions of docs does NOT pile onto one reducer;
    * per-hash doc count: algebraic sum of partials after the distinct —
      partial aggregation absorbs the hot hashes;
    * reassembly groupBy(doc): bounded by document size.
    The hot-hash set is typically tiny relative to the corpus (boilerplate
    follows a zipf head), but the anti-join stays a shuffle join here: at
    100 TB its size is unknown at plan time and AQE converts it to
    broadcast when the built side turns out small.
    """
    lines = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(text_col), sep)).alias("_pos", "_line"),
    ).withColumn("_h", F.md5(F.lower(F.trim("_line"))))
    hot = (
        lines.select("_h", "_id").distinct()
        .groupBy("_h").agg(F.count("*").alias("_docs"))
        .where(F.col("_docs") >= min_docs)
        .select("_h")
    )
    kept = lines.join(hot, "_h", "left_anti")
    reassembled = kept.groupBy("_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_line"))),
                lambda s: s["_line"],
            ),
            sep,
        ).alias("clean_text"),
        F.count("*").alias("_n_kept"),
    )
    # per-doc totals come from the UN-exploded row (size of the split
    # array): the exploded `lines` subtree already feeds two consumers
    # (hot-hash build + anti-join); a third groupBy over it would re-run
    # the explode over the full corpus just to count
    totals = df.select(
        F.col(id_col).alias("_id"),
        F.size(F.split(F.col(text_col), sep)).alias("n_paragraphs"),
    )
    return (
        totals.join(reassembled, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            "n_paragraphs",
            (F.col("n_paragraphs") - F.coalesce("_n_kept", F.lit(0)))
            .alias("n_dropped"),
        )
    )


def exact_substring_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 50,
    min_count: int = 2,
) -> DataFrame:
    """Exact duplicated-substring removal (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better", word-window variant):
    hash every `window`-word span; any span whose hash occurs >= min_count
    times ACROSS THE CORPUS (including within one doc) is removed from
    every occurrence; the surviving words re-join in order. Returns
    (id_col, clean_text, n_words, n_dropped_words), one row per doc.

    A word is dropped iff some flagged span covers it, so overlapping
    duplicated spans merge naturally (the union of flagged [s, s+window)
    intervals). Docs shorter than `window` words have no spans and pass
    through whole.

    100 TB shape: the span table is the big intermediate — (docs x words)
    rows; the hash groupBy is an algebraic count (map-side combine eats
    same-doc repeats), and flagged spans re-join per doc id. Hashing here
    is md5 over the joined slice — O(words x window) chars per doc, chosen
    because the DuckDB twin can replay it byte-for-byte. The per-word coverage
    test is exists() over the doc's flagged starts — flagged starts are
    rare (zipf head), so it stays near-linear.
    """
    L = window
    words = df.select(
        F.col(id_col).alias("_id"),
        F.split(F.col(text_col), " ").alias("_w"),
    )
    spans = words.select(
        "_id",
        F.explode(
            F.when(
                F.size("_w") >= L,
                F.sequence(F.lit(1), F.size("_w") - (L - 1)),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("_s"),
        "_w",
    ).select(
        "_id", "_s",
        F.md5(F.array_join(F.slice("_w", F.col("_s"), L), " ")).alias("_h"),
    )
    # the span table feeds BOTH the hot-hash aggregate and the flagged
    # semi-join; unpersisted, the span-hash pass (the expensive half) runs
    # once per consumer — slot-persisted (r7, the multi-consumer law)
    from .cache_util import swap_persist

    spans = swap_persist("substring_spans", spans)
    hot = (
        spans.groupBy("_h").agg(F.count("*").alias("_n"))
        .where(F.col("_n") >= min_count)
        .select("_h")
    )
    flagged = (
        spans.join(hot, "_h", "left_semi")
        .groupBy("_id")
        .agg(F.collect_set("_s").alias("_starts"))
    )
    joined = words.join(flagged, "_id", "left").select(
        "_id", "_w",
        F.coalesce("_starts", F.array().cast("array<int>")).alias("_starts"),
    )
    # r7: fold the sorted flagged starts into DISJOINT merged intervals
    # first (all spans share length L, so sorted starts merge iff the
    # next start is <= hi+1 and the running hi is monotone) and test
    # word coverage against those. The union-of-intervals semantics is
    # identical to testing every raw start, but duplicated passages
    # produce RUNS of flagged starts — the per-word exists() drops from
    # O(words x starts) to O(words x intervals), measured 68 s -> 4 s on
    # a 400-word/dense-duplication fixture (the declared query's values
    # are unchanged — oracle-verified).
    ivs = F.aggregate(
        F.array_sort("_starts"),
        F.array().cast("array<array<int>>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (s <= F.element_at(F.element_at(acc, -1), 2) + 1),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.array(
                    F.element_at(F.element_at(acc, -1), 1),
                    s + F.lit(L - 1),
                )),
            ),
        ).otherwise(F.concat(acc, F.array(F.array(s, s + F.lit(L - 1))))),
    )
    covered = lambda j: F.exists(
        "_ivs", lambda iv: (F.element_at(iv, 1) <= j)
        & (j <= F.element_at(iv, 2))
    )
    joined = joined.withColumn("_ivs", ivs)
    kept = F.filter(
        F.zip_with(
            "_w",
            F.sequence(F.lit(1), F.size("_w")),
            lambda w, j: F.when(~covered(j), w),
        ),
        lambda w: w.isNotNull(),
    )
    return joined.select(
        F.col("_id").alias(id_col),
        F.array_join(kept, " ").alias("clean_text"),
        F.size("_w").alias("n_words"),
        (F.size("_w") - F.size(kept)).alias("n_dropped_words"),
    )
