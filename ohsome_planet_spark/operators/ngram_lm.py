"""Bigram language-model training + document scoring (CCNet-class filter).

The CCNet / FineWeb pipelines score every document with an n-gram LM
perplexity and drop the tail. Here the same capability is a two-step
distributed job:

* ``bigram_model`` — train on a (typically cleaner) reference slice: one
  explode → groupBy over bigrams with map-side combine; the model is
  pruned to the top-K bigrams with a DETERMINISTIC order (count desc,
  (w1, w2) asc) so retries pick identical models.
* ``with_lm_stats`` — score each document: bigrams explode → broadcast
  LEFT join against the pruned model → one per-doc aggregate. The corpus
  text itself never shuffles; the shuffle carries O(docs) aggregate rows.

Cross-engine doctrine (same as operators/vocab.py): the ORACLE-CHECKED
columns are integer-exact — token/bigram totals, matched-bigram counts,
Σ c(w1,w2) and Σ c(w1,·) as int64 — because ``ln``/``exp`` are libm calls
whose last ulp differs between engines. The float ``logprob`` (add-k
smoothed Σ ln P(w2|w1)) is provided for users as a deterministic function
of those exact integers, and is what a real pipeline thresholds on.

100 TB shape: the model is trained once on a bounded reference slice and
pruned to K rows (64-bit count + two short strings ⇒ K=1M is ~30 MB,
comfortably broadcast). Scoring is embarrassingly parallel; per-doc
aggregation is map-side combined. For an UNPRUNED model too large to
broadcast, pass ``broadcast_model=False`` and the join shuffles on
(w1, w2) — still one exchange of (doc_id, w1, w2) pairs, never the text.

Reference parity note: the reference engine (ohsome-planet) has no LM
scoring — this is part of the training-data-pipeline layer the engine
adds on top of SURVEY §2.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _tokens_col(text_c: Column) -> Column:
    """Lowercased whitespace tokens, empties dropped (array<string>)."""
    return F.filter(
        F.split(F.lower(F.trim(text_c)), r"\s+"), lambda w: w != ""
    )


def doc_bigrams(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """(_id, w1, w2) — one row per adjacent token pair, document order.

    Built entirely JVM-side: tokenize once, then ``zip_with`` over the
    array and its shift-by-one slice pairs each token with its successor;
    docs with <2 tokens yield zero-length slices, hence no rows (note
    ``sequence(1, 0)`` would NOT work here — Spark generates a DESCENDING
    [1, 0], not an empty array)."""
    toks = _tokens_col(F.col(text_col))
    pairs = F.expr(
        "zip_with(slice(_toks, 1, greatest(size(_toks) - 1, 0)), "
        "slice(_toks, 2, greatest(size(_toks) - 1, 0)), "
        "(a, b) -> struct(a AS w1, b AS w2))"
    )
    return (
        df.select(F.col(id_col).alias("_id"), toks.alias("_toks"))
        .select("_id", F.explode(pairs).alias("_p"))
        .select("_id", F.col("_p.w1").alias("w1"), F.col("_p.w2").alias("w2"))
    )


def bigram_model(df: DataFrame, top_k: int = 100_000,
                 id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Train: top-K bigram counts (w1, w2, n) from the reference slice.

    Deterministic prune order (n desc, w1 asc, w2 asc); the orderBy+limit
    compiles to TakeOrderedAndProject — per-partition partial top-K merged
    once, no global sort of the full bigram vocabulary."""
    counts = (
        doc_bigrams(df, id_col, text_col)
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("n"))
    )
    return counts.orderBy(F.desc("n"), F.asc("w1"), F.asc("w2")).limit(top_k)


def context_counts(model: DataFrame) -> DataFrame:
    """(w1, ctx_n) — Σ n over the PRUNED model per left word.

    Using the pruned model (not raw corpus unigrams) keeps the probability
    model self-consistent: Σ_w2 P(w2|w1) sums to 1 over the retained rows
    plus the smoothing mass."""
    return model.groupBy("w1").agg(F.sum("n").alias("ctx_n"))


def pmi_collocations(
    df: DataFrame,
    min_count: int = 5,
    top_k: int = 100,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k collocations (w1, w2, n12, n1, n2, pmi) by pointwise mutual
    information — the classic fixed-phrase detector ("new york", "of the"
    scores LOW because both parts are everywhere).

    pmi = ln(P(w1,w2) / (P(w1)·P(w2))) computed as ONE per-row double
    expression ln((n12·Nu·Nu)/(Nb·n1·n2)) rounded to 9 dp — no float
    aggregation anywhere, so the value (and the deterministic
    (pmi desc, w1, w2) ranking) is engine-exact. `min_count` suppresses
    the low-count PMI explosion (hapax pairs score ln(Nu²/Nb) regardless
    of meaning).

    Scale: bigram + unigram counts are two map-side-combined aggregates;
    the two corpus totals are 1-row broadcast cross joins; top-k compiles
    to TakeOrderedAndProject (per-partition partial top-k)."""
    toks = (
        df.select(F.explode(_tokens_col(F.col(text_col))).alias("w"))
    )
    uni = toks.groupBy("w").agg(F.count("*").alias("n"))
    n_uni = uni.agg(F.sum("n").alias("n_tokens_total"))

    big = (
        doc_bigrams(df, id_col, text_col)
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("n12"))
    )
    n_big = big.agg(F.sum("n12").alias("n_bigrams_total"))

    j = (
        big.where(F.col("n12") >= min_count)
        .join(uni.select(F.col("w").alias("w1"), F.col("n").alias("n1")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("n").alias("n2")), "w2")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_big))
    )
    d = lambda c: F.col(c).cast("double")
    pmi = F.round(
        F.log(
            (d("n12") * d("n_tokens_total") * d("n_tokens_total"))
            / (d("n_bigrams_total") * d("n1") * d("n2"))
        ),
        9,
    )
    return (
        j.select("w1", "w2", "n12", "n1", "n2", pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
        .limit(top_k)
    )


def with_lm_logprob_exact(
    df: DataFrame,
    model: DataFrame,
    k: float = 1.0,
    vocab_size: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_model: bool = True,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-doc (id, n_bigrams, logprob) with an ENGINE-EXACT logprob.

    Unlike ``with_lm_stats`` (whose Σ ln terms aggregate in arbitrary row
    order — fine to threshold on, unfit for cross-engine hashing or exact
    ranking), each add-k term is rounded to 9 dp and summed as a
    DOCUMENT-ORDER left fold: the per-doc bigram terms are collected with
    their position index, sorted, and folded sequentially, so the result
    is bit-identical across runs, engines, and cluster sizes.

    Scale shape: model + contexts broadcast (pruned top-K); the only
    shuffle carries (doc, position, term) aggregate rows; per-doc
    collect_list is bounded by document length (the same bound every
    text operator here lives under). The model frame is persisted here
    (bounded: top-K rows) because it feeds three consumers (vocab count,
    bigram join, context counts) — unpersisted, a freshly-trained model
    would re-run its full corpus aggregation per consumer. r7: the
    persist is slot-bounded (cache_util) so repeated calls don't pile
    session-lifetime cache entries (r6 advice, low #4)."""
    from .cache_util import swap_persist

    model = swap_persist("lm_model_exact", model)
    if vocab_size is None:
        vocab_size = model.select("w2").distinct().count() + 1

    ctx = context_counts(model)
    m = model.withColumnRenamed("n", "_bn")
    c = ctx.withColumnRenamed("ctx_n", "_cn")
    if broadcast_model:
        m, c = F.broadcast(m), F.broadcast(c)

    # r7: posexplode_OUTER keeps docs with <2 tokens as one NULL-pair row,
    # so the former second corpus scan + doc_id join that resurrected
    # them is gone — ONE pass over the corpus, one doc-keyed aggregate.
    # keep_cols ride the explode (constant per doc, F.max in the agg),
    # saving callers (perplexity_buckets) a third scan + join.
    toks = _tokens_col(F.col(text_col))
    pairs_arr = F.expr(
        "zip_with(slice(_toks, 1, greatest(size(_toks) - 1, 0)), "
        "slice(_toks, 2, greatest(size(_toks) - 1, 0)), "
        "(a, b) -> struct(a AS w1, b AS w2))"
    )
    rows = (
        df.select(F.col(id_col).alias("_id"),
                  *[F.col(kc) for kc in keep_cols],
                  toks.alias("_toks"))
        .select("_id", *keep_cols, F.posexplode_outer(pairs_arr)
                .alias("_i0", "_p"))
        .select("_id", *keep_cols, (F.col("_i0") + 1).alias("i"),
                F.col("_p.w1").alias("w1"), F.col("_p.w2").alias("w2"))
    )
    joined = rows.join(m, ["w1", "w2"], "left").join(c, ["w1"], "left")
    term = F.round(
        F.log(
            (F.coalesce(F.col("_bn"), F.lit(0)).cast("double")
             + F.lit(float(k)))
            / (F.coalesce(F.col("_cn"), F.lit(0)).cast("double")
               + F.lit(float(k * vocab_size)))
        ),
        9,
    )
    per_doc = (
        joined.select("_id", *keep_cols, "i",
                      F.when(F.col("i").isNotNull(), term).alias("_term"))
        .groupBy("_id")
        .agg(
            *[F.max(kc).alias(kc) for kc in keep_cols],
            F.count("i").alias("n_bigrams"),
            F.aggregate(
                F.transform(
                    # collect_list skips the NULL struct of pair-less docs
                    F.array_sort(F.collect_list(F.struct("i", "_term"))),
                    lambda s: s["_term"],
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("logprob"),
        )
    )
    return per_doc.select(
        F.col("_id").alias(id_col),
        *keep_cols,
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        F.coalesce("logprob", F.lit(0.0)).alias("logprob"),
    )


def perplexity_buckets(
    docs: DataFrame,
    model: DataFrame,
    n_buckets: int = 3,
    k: float = 1.0,
    vocab_size: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str | None = None,
) -> DataFrame:
    """CCNet-style perplexity bucketing: rank documents by exact
    logprob-per-bigram (best first) and cut into ``n_buckets`` equal
    ntiles — per language when ``lang_col`` is given, exactly as CCNet
    buckets each language shard into head/middle/tail. Docs too short to
    score (no bigrams) sort last (NULLS LAST) and land in the tail.

    Output: id (+ lang), n_bigrams, lpt (exact logprob per bigram,
    NULL when unscorable), bucket (1..n), and for the canonical 3-way cut
    a head/middle/tail label.

    Scale note: ntile is one window per language partition — the CCNet
    sharding; for a corpus where single languages are too big to sort,
    swap the window for approx_percentile cut points (sketch-mergeable,
    one pass) at the cost of exact tile boundaries."""
    from pyspark.sql.window import Window

    # NOTE (r7 A/B): carrying lang through the explode (keep_cols) was
    # measured SLOWER than this select+join at both sf0.1 (+0.25 s) and
    # sf1 (+0.3 s) — the id-keyed join of two doc-sized frames beats
    # widening every exploded bigram row by a string. keep_cols remains
    # for callers whose input frame cannot be re-scanned cheaply.
    keep = [id_col] + ([lang_col] if lang_col else [])
    stats = with_lm_logprob_exact(
        docs, model, k=k, vocab_size=vocab_size,
        id_col=id_col, text_col=text_col,
    )
    base = docs.select(*keep).join(stats, id_col)
    # NO final round: the fold and the IEEE division are already
    # bit-identical cross-engine; rounding a value that is a rounded-term
    # sum divided by a (often power-of-two) count lands on half-boundary
    # ties SYSTEMATICALLY and would re-introduce engine divergence
    lpt = F.when(
        F.col("n_bigrams") > 0, F.col("logprob") / F.col("n_bigrams")
    )
    part = [lang_col] if lang_col else []
    w = Window.partitionBy(*part).orderBy(
        F.col("lpt").desc_nulls_last(), F.col(id_col).asc())
    out = (
        base.withColumn("lpt", lpt)
        .withColumn("bucket", F.ntile(n_buckets).over(w))
        .drop("logprob")
    )
    if n_buckets == 3:
        out = out.withColumn(
            "label",
            F.element_at(
                F.array(F.lit("head"), F.lit("middle"), F.lit("tail")),
                F.col("bucket"),
            ),
        )
    return out


def with_lm_stats(
    df: DataFrame,
    model: DataFrame,
    k: float = 1.0,
    vocab_size: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_model: bool = True,
) -> DataFrame:
    """Per-doc LM stats against a trained ``bigram_model``.

    Integer-exact columns (the oracle surface):
      n_tokens, n_bigrams       — doc totals;
      matched_bigrams           — bigrams present in the model;
      matched_contexts          — bigrams whose LEFT word is a model context;
      sum_bigram_n              — Σ c(w1,w2)  (unseen ⇒ 0);
      sum_context_n             — Σ c(w1,·)   (unseen context ⇒ 0).

    Float columns (deterministic functions of the integers + model rows):
      logprob      — Σ ln((c + k) / (ctx + k·V)), add-k smoothing;
      logprob_per_token — logprob / n_bigrams (0.0 for docs with <2 tokens).

    V defaults to the number of distinct w2 in the model + 1 (the +1 is
    the unseen-word bucket).

    r7: the model frame is persisted (slot-bounded, see cache_util)
    BEFORE the vocab-size count — previously a freshly-trained model
    re-ran its full corpus training aggregation three times (vocab
    count action, bigram-join broadcast, context-count broadcast)."""
    from .cache_util import swap_persist

    model = swap_persist("lm_model_stats", model)
    if vocab_size is None:
        # single tiny scalar: the model is already bounded by top_k
        vocab_size = model.select("w2").distinct().count() + 1

    ctx = context_counts(model)
    m = model.withColumnRenamed("n", "_bn")
    c = ctx.withColumnRenamed("ctx_n", "_cn")
    if broadcast_model:
        m, c = F.broadcast(m), F.broadcast(c)

    # r7: explode_OUTER keeps docs with <2 tokens as one NULL-pair row and
    # n_tokens rides the explode (constant per doc), so the former second
    # corpus scan + doc_id resurrect-join is gone — ONE pass, one
    # doc-keyed aggregate. All oracle-surface columns are the same exact
    # integers; logprob's float SUM order was always row-arbitrary.
    toks = _tokens_col(F.col(text_col))
    pairs_arr = F.expr(
        "zip_with(slice(_toks, 1, greatest(size(_toks) - 1, 0)), "
        "slice(_toks, 2, greatest(size(_toks) - 1, 0)), "
        "(a, b) -> struct(a AS w1, b AS w2))"
    )
    rows = (
        df.select(F.col(id_col).alias("_id"), toks.alias("_toks"))
        .select("_id", F.size("_toks").alias("n_tokens"),
                F.explode_outer(pairs_arr).alias("_p"))
        .select("_id", "n_tokens",
                F.col("_p.w1").alias("w1"), F.col("_p.w2").alias("w2"))
    )
    joined = rows.join(m, ["w1", "w2"], "left").join(c, ["w1"], "left")

    has_pair = F.col("w1").isNotNull()
    bn = F.coalesce(F.col("_bn"), F.lit(0))
    cn = F.coalesce(F.col("_cn"), F.lit(0))
    term = F.log((bn.cast("double") + F.lit(float(k)))
                 / (cn.cast("double") + F.lit(float(k * vocab_size))))
    per_doc = joined.groupBy("_id").agg(
        F.max("n_tokens").alias("n_tokens"),
        F.count(F.when(has_pair, 1)).alias("n_bigrams"),
        F.sum(F.when(F.col("_bn").isNotNull(), 1).otherwise(0))
        .alias("matched_bigrams"),
        F.sum(F.when(F.col("_cn").isNotNull(), 1).otherwise(0))
        .alias("matched_contexts"),
        F.sum(F.when(has_pair, bn).otherwise(0)).alias("sum_bigram_n"),
        F.sum(F.when(has_pair, cn).otherwise(0)).alias("sum_context_n"),
        F.sum(F.when(has_pair, term)).alias("logprob"),
    )
    return per_doc.select(
        F.col("_id").alias(id_col),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        F.col("matched_bigrams").cast("long").alias("matched_bigrams"),
        F.col("matched_contexts").cast("long").alias("matched_contexts"),
        F.col("sum_bigram_n").cast("long").alias("sum_bigram_n"),
        F.col("sum_context_n").cast("long").alias("sum_context_n"),
        F.coalesce("logprob", F.lit(0.0)).alias("logprob"),
        F.when(
            F.col("n_bigrams") > 0,
            F.coalesce("logprob", F.lit(0.0)) / F.col("n_bigrams"),
        ).otherwise(F.lit(0.0)).alias("logprob_per_token"),
    )
