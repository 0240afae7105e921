"""One-call corpus curation: the training-data twin of `plans/contributions`.

Chains this engine's corpus operators in the order a production cleaning
pipeline runs them, with a per-stage row-count manifest so a 100 TB job can
report exactly where documents went:

    documents
      → exact dedup            (hash groupBy, min-id canonical)
      → near-dup clustering    (MinHash→LSH bands→verified Jaccard →
                                connected components, min-id canonical)
      → quality filter         (char/token ratios + Gopher line rules)
      → bigram-LM score gate   (CCNet-class perplexity filter — optional)
      → decontamination        (exact n-gram overlap vs a benchmark set,
                                broadcast — optional)
      → PII filter + redaction (drop contact directories, rewrite spans —
                                optional)
      → mixture sampling       (deterministic md5-bucket rates per source —
                                optional)

Stage order matters at scale: dedup FIRST shrinks every later stage's
input; decontamination runs before mixing so eval leakage can't ride a
binding stratum; sampling runs last so target shares describe the CLEAN
corpus. Every stage is a DataFrame transformation — one job, Catalyst sees
the whole plan, and nothing but the near-dup band join and final aggregate
shuffles the surviving corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import line_quality_cols, quality_cols
from ..operators.dedup import (
    decontaminate,
    dedup_clusters,
    exact_dedup,
    minhash_lsh_pairs,
)
from ..operators.sampling import mixture_sample


def curate_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    benchmark: DataFrame | None = None,
    contamination_n: int = 13,
    mixture_weights: dict[str, float] | None = None,
    stratum_col: str = "source",
    jaccard_threshold: float = 0.8,
    min_tokens: int = 5,
    max_punct_ratio: float = 0.5,
    max_dup_line_fraction: float = 0.5,
    gopher_lexical: dict | None = None,
    gopher_repetition: dict | None = None,
    max_oov_fraction: float | None = None,
    oov_vocab_k: int = 10000,
    max_cross_doc_dup: float | None = None,
    cross_doc_window: int = 10,
    c4_line_clean: bool = False,
    min_lm_logprob_per_token: float | None = None,
    lm_model: DataFrame | None = None,
    lm_top_k: int = 100_000,
    redact_pii: bool = False,
    max_pii_hits: int | None = None,
    quality_model_weights: "list[float] | None" = None,
    quality_model_bias: float = 0.0,
    min_quality_score: float = 0.0,
    group_budget: int | None = None,
    group_budget_col: str = "source",
    dsir_target: DataFrame | None = None,
    dsir_k: int = 10_000,
    dsir_buckets: int = 2048,
    with_manifest: bool = True,
) -> tuple[DataFrame, dict[str, int]]:
    """Returns (clean_docs, stage_counts).

    with_manifest=True counts survivors after every stage; each counted
    stage is persisted first, so the manifest costs ONE computation of each
    stage (not a recompute of the whole upstream chain per count) and the
    final write reuses the cached last stage. with_manifest=False builds a
    single lazy plan with no actions at all — the scale default when the
    write path's own footer counts are enough (`io/snapshots`)."""
    counts: dict[str, int] = {}

    def stage(df: DataFrame, name: str) -> DataFrame:
        if with_manifest:
            df = df.persist()
            counts[name] = df.count()
        return df

    docs = stage(docs, "input")

    # 1. exact dedup: keep the canonical (min-id) doc per text hash
    canon = exact_dedup(docs, text_col=text_col, id_col=id_col)
    docs = docs.join(
        canon.select(F.col("canonical_id").alias(id_col)), id_col, "left_semi"
    )
    docs = stage(docs, "after_exact_dedup")

    # 2. near-dup clusters: drop every doc that is not its cluster's min id
    if not with_manifest:
        # the post-exact-dedup corpus feeds BOTH the near-dup pair
        # stream and the rest of the chain; unpersisted, the scan+dedup
        # subtree runs once per consumer (corpus_curation_e2e: 26.4 s
        # without, 3.5 s with, sf0.1, local[4]). persist() is lazy, so
        # this mode starts no job at build time; blocks are spillable
        # and session-scoped.
        docs = docs.persist()
    pairs = minhash_lsh_pairs(
        docs, id_col=id_col, text_col=text_col, jaccard_threshold=jaccard_threshold
    )
    clusters = dedup_clusters(pairs)
    losers = clusters.where(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias(id_col)
    )
    docs = docs.join(losers, id_col, "left_anti")
    docs = stage(docs, "after_near_dedup")

    # 2b. optional C4 line cleanup: rewrite text keeping only clean lines
    #     (pure per-row expressions); emptied docs then fail min_tokens
    if c4_line_clean:
        from ..functions.text import c4_line_filter_col

        docs = docs.withColumn(text_col, c4_line_filter_col(F.col(text_col)))

    # 3. quality filter (char/token + line-level rules)
    q = quality_cols(F.col(text_col))
    lq = line_quality_cols(F.col(text_col))
    docs = docs.where(
        (q["n_tokens"] >= min_tokens)
        & (q["punct_ratio"] <= max_punct_ratio)
        & (lq["dup_line_fraction"] <= max_dup_line_fraction)
    )
    docs = stage(docs, "after_quality")

    # 3b. optional full Gopher rule set: lexical thresholds are per-row
    #     codegen predicates; repetition thresholds join the one-explode
    #     n-gram stats (see functions/text.with_gopher_repetition).
    #     gopher_lexical: {column: (min, max)} over gopher_lexical_cols;
    #     gopher_repetition: {"top_ns": {n: max_frac}, "dup_ns": {n: max}}
    if gopher_lexical:
        from ..functions.text import gopher_lexical_cols

        gl = gopher_lexical_cols(F.col(text_col))
        for name, (lo, hi) in gopher_lexical.items():
            col = gl[name]
            if lo is not None:
                docs = docs.where(col >= lo)
            if hi is not None:
                docs = docs.where(col <= hi)
        docs = stage(docs, "after_gopher_lexical")
    if gopher_repetition:
        from ..functions.text import with_gopher_repetition

        top = gopher_repetition.get("top_ns", {})
        dup = gopher_repetition.get("dup_ns", {})
        stats = with_gopher_repetition(
            docs, id_col=id_col, text_col=text_col,
            top_ns=tuple(top), dup_ns=tuple(dup),
        )
        cond = F.lit(True)
        for n, mx in top.items():
            cond = cond & (F.col(f"frac_chars_top_{n}gram") <= mx)
        for n, mx in dup.items():
            cond = cond & (F.col(f"frac_chars_dup_{n}grams") <= mx)
        keep = stats.where(cond).select(id_col)
        docs = docs.join(keep, id_col, "left_semi")
        docs = stage(docs, "after_gopher_repetition")

    # 3c. optional corpus-self-referential signals: out-of-vocabulary
    #     fraction (top-K vocab from the SURVIVING corpus — gibberish /
    #     wrong-language drop) and cross-document repeated passages
    #     (shared boilerplate). Both are id-semi-joins: corpus text never
    #     shuffles.
    if max_oov_fraction is not None:
        from ..operators.vocab import vocabulary_df, with_oov_fraction

        vocab = vocabulary_df(docs, top_k=oov_vocab_k,
                              id_col=id_col, text_col=text_col)
        scores = with_oov_fraction(docs, vocab, id_col=id_col,
                                   text_col=text_col)
        keep = scores.where(
            F.col("oov_fraction") <= max_oov_fraction).select(id_col)
        docs = docs.join(keep, id_col, "left_semi")
        docs = stage(docs, "after_oov")
    if max_cross_doc_dup is not None:
        from ..operators.dedup import with_cross_doc_dup_fraction

        scores = with_cross_doc_dup_fraction(
            docs, id_col=id_col, text_col=text_col, window=cross_doc_window)
        keep = scores.where(
            F.col("dup_window_fraction") <= max_cross_doc_dup).select(id_col)
        docs = docs.join(keep, id_col, "left_semi")
        docs = stage(docs, "after_cross_doc_dup")

    # 3d. optional bigram-LM score filter (the CCNet-class perplexity
    #     gate): train on the SURVIVING corpus unless a reference model is
    #     passed (a real pipeline trains on a trusted slice once and
    #     reuses it), score, keep docs above the per-token threshold.
    if min_lm_logprob_per_token is not None:
        from ..operators.ngram_lm import bigram_model, with_lm_stats

        model = lm_model if lm_model is not None else bigram_model(
            docs, top_k=lm_top_k, id_col=id_col, text_col=text_col)
        scores = with_lm_stats(docs, model, id_col=id_col, text_col=text_col)
        keep = scores.where(
            (F.col("n_bigrams") == 0)
            | (F.col("logprob_per_token") >= min_lm_logprob_per_token)
        ).select(id_col)
        docs = docs.join(keep, id_col, "left_semi")
        docs = stage(docs, "after_lm_filter")

    # 4. decontamination against the benchmark set
    if benchmark is not None:
        docs = decontaminate(
            docs, benchmark, n=contamination_n, text_col=text_col, id_col=id_col
        )
        docs = stage(docs, "after_decontamination")

    # 4b. optional PII pass — AFTER dedup/quality (redaction rewrites
    #     text, which would perturb upstream hashes) and after
    #     decontamination (benchmark n-grams are unredacted), before
    #     mixing. Heavy-hit docs (contact directories) drop first, then
    #     surviving text is rewritten in place.
    if max_pii_hits is not None:
        from ..operators.pii import filter_pii_heavy

        docs = filter_pii_heavy(docs, max_hits=max_pii_hits,
                                text_col=text_col)
        docs = stage(docs, "after_pii_filter")
    if redact_pii:
        from ..operators.pii import redact_pii_col

        docs = docs.withColumn(text_col, redact_pii_col(F.col(text_col)))

    # 4c. optional trained quality-classifier gate (the fasttext-shaped
    #     stage of CCNet-class pipelines) — after text rewrites so the
    #     model sees what training will see
    if quality_model_weights is not None:
        from ..operators.quality_model import hashed_linear_score

        scored = hashed_linear_score(
            docs, quality_model_weights, bias=quality_model_bias,
            text_col=text_col)
        docs = scored.where(
            F.col("score") >= min_quality_score).drop("score", "label")
        docs = stage(docs, "after_quality_model")

    # 4d. optional per-group budget cap (hot-domain downsampling) —
    #     last filter before mixing so budgets apply to survivors
    if group_budget is not None:
        from ..functions.text import token_count_col
        from ..operators.sampling import cap_per_group

        capped = cap_per_group(
            docs.withColumn("_cap_n",
                            token_count_col(F.col(text_col)).cast("long")),
            budget=group_budget, group_col=group_budget_col, id_col=id_col,
            size_col="_cap_n",
        ).drop("_cap_n")
        docs = capped
        docs = stage(docs, "after_group_cap")

    # 4e. optional DSIR data selection (Xie et al. 2023) — after every
    #     cleaning stage (the model should fit the distribution training
    #     will see) and before mixing (mixture shares describe the
    #     SELECTED corpus). The target slice is the caller's
    #     high-quality reference set; selection is deterministic
    #     Gumbel-top-k, so reruns pick identical documents.
    if dsir_target is not None:
        from ..operators.dsir import dsir_log_ratios, dsir_resample

        if with_manifest:
            # the model fit is two eager aggregates over `docs`; under a
            # manifest the frame is already persisted by the last stage()
            lr = dsir_log_ratios(dsir_target, docs,
                                 num_buckets=dsir_buckets,
                                 text_col=text_col)
        else:
            docs = docs.persist()
            lr = dsir_log_ratios(dsir_target, docs,
                                 num_buckets=dsir_buckets,
                                 text_col=text_col)
        docs = dsir_resample(docs, lr, k=dsir_k,
                             id_col=id_col, text_col=text_col) \
            .drop("n_features", "weight", "gkey")
        docs = stage(docs, "after_dsir")

    # 5. mixture-weighted deterministic sample
    if mixture_weights is not None:
        docs = mixture_sample(docs, id_col, stratum_col, mixture_weights)
        docs = stage(docs, "after_mixture")

    return docs, counts
