"""Text kernels: hashtags (reference parity), entity extraction, language ID,
quality scoring, token counting, fingerprints.

Hot paths have two implementations:
- a Spark Column expression builder (JVM-side, whole-stage-codegen friendly),
  used by the operators — zero Python;
- a plain-Python/NumPy twin used by pytest goldens and by oracle validation.

Hashtag semantics are parity with the reference
(`/root/reference/osm-changesets/src/main/java/org/heigit/ohsome/osm/
changesets/ChangesetHashtags.java:19-34`): concat of tags
`hashtags`+`comment`, strip `http\\S*`, match `#[^ ...separators]+`, drop
the leading '#', keep length ≥ 2 and non-pure-numeric, distinct, sorted.
"""

from __future__ import annotations

import hashlib
import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..session import drop_spark_zip_finders

# Java: #[^ -⁯⸀-⹿\v\h\\'!"#$%()*,./:;<=>?@\[\]^`{|}~]+
# \h (horizontal ws) ≈ [ \t  ᠎ -   　]
# \v (vertical ws)  ≈ [\n\x0B\f\r\x85  ]
_HASHTAG_EXCL = (
    "\\u2000-\\u206F\\u2E00-\\u2E7F"
    "\\n\\x0B\\f\\r\\x85\\u2028\\u2029"
    " \\t\\u00A0\\u1680\\u180E\\u202F\\u205F\\u3000"
    "\\\\'!\"#$%()*,./:;<=>?@\\[\\]^`{|}~"
)
HASHTAG_RE = re.compile(f"#[^{_HASHTAG_EXCL}]+")
_URL_RE = re.compile(r"http\S*")
_DIGITS_RE = re.compile(r"^\d+$")


def hashtags_py(hashtags_field: str | None, comment_field: str | None) -> list[str]:
    """Reference-parity hashtag extraction (ChangesetHashtags.hashTags)."""
    out = []
    for field in (hashtags_field, comment_field):
        if field is None:
            continue
        cleaned = _URL_RE.sub("", field)
        for m in HASHTAG_RE.finditer(cleaned):
            tag = m.group(0)[1:]
            if len(tag) >= 2 and not _DIGITS_RE.match(tag):
                out.append(tag)
    # distinct preserving nothing — reference sorts after distinct
    return sorted(set(out))


def hashtags_col(hashtags_c: Column, comment_c: Column) -> Column:
    """JVM-side equivalent of hashtags_py over two string columns.

    The len≥2 and not-all-digits rules are folded INTO the extraction
    regex (quantifier + a negative lookahead for a digit run ending at an
    excluded char or end-of-string), so no interpreted higher-order
    transform/filter runs per tag — the whole extraction stays in
    whole-stage codegen; only the native array_distinct/array_sort
    expressions follow. Property-tested equal to hashtags_py."""
    pat = f"#(?!\\d+(?:[{_HASHTAG_EXCL}]|$))([^{_HASHTAG_EXCL}]{{2,}})"

    def extract(c: Column) -> Column:
        cleaned = F.regexp_replace(F.coalesce(c, F.lit("")), r"http\S*", "")
        return F.regexp_extract_all(cleaned, F.lit(pat), 1)

    tags = F.concat(extract(hashtags_c), extract(comment_c))
    return F.array_sort(F.array_distinct(tags))


# ---------------------------------------------------------------------------
# Entity mentions: the pages generator embeds "@@Entity_Name@@" markers; the
# extractor is a plain regexp — JVM-side in the pipeline.
# ---------------------------------------------------------------------------

ENTITY_MARK_RE = r"@@([A-Za-z0-9_]+)@@"


def extract_entities_col(text_c: Column) -> Column:
    """array<string> of entity names mentioned in a page's text (JVM regexp)."""
    return F.regexp_extract_all(text_c, F.lit(ENTITY_MARK_RE), 1)


def extract_entities_py(text: str) -> list[str]:
    return re.findall(ENTITY_MARK_RE, text)


# ---------------------------------------------------------------------------
# Language ID: character-class n-gram heuristic (deterministic, SQL-mappable)
# ---------------------------------------------------------------------------

_LANG_MARKERS: list[tuple[str, str]] = [
    # (lang, distinctive marker); first match wins, default 'en'
    ("zh", "[一-鿿]"),
    ("ru", "[Ѐ-ӿ]"),
    ("de", "[äöüß]"),
    ("fr", "[àâçèéêëîïôùûœ]"),
    ("es", "[áéíñóúü¿¡]"),
]


def lang_id_col(text_c: Column) -> Column:
    """Marker-class language guess as a Column expression (JVM-side)."""
    expr = F.lit("en")
    for lang, pattern in reversed(_LANG_MARKERS):
        expr = F.when(text_c.rlike(pattern), F.lit(lang)).otherwise(expr)
    return expr


def lang_id_py(text: str) -> str:
    for lang, pattern in _LANG_MARKERS:
        if re.search(pattern, text):
            return lang
    return "en"


# ---------------------------------------------------------------------------
# Quality scoring / token counting — JVM-side columns
# ---------------------------------------------------------------------------


def token_count_col(text_c: Column) -> Column:
    """Whitespace token count (0 for empty strings) — pure JVM."""
    trimmed = F.trim(text_c)
    return F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )


# GPT-2-ish pre-tokenizer classes: letter runs, single digits, punctuation
# singles. Deliberately restricted to a regex subset with identical
# semantics in Java regex (Spark) and RE2 (DuckDB), so the count is
# cross-engine oracle-able.
BPE_TOKEN_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


def token_count_bpe_col(text_c: Column) -> Column:
    """BPE-style token-count estimate (pre-tokenizer classes) — pure JVM.

    A whitespace count underestimates LLM token usage badly on punctuated
    or numeric text; counting pre-tokenizer matches tracks real BPE token
    counts within a constant factor, which is what corpus budgeting needs.
    """
    return F.size(F.regexp_extract_all(text_c, F.lit(BPE_TOKEN_PATTERN), F.lit(0)))


def quality_cols(text_c: Column) -> dict[str, Column]:
    """Length / punctuation-ratio / stopword-ratio quality features."""
    length = F.length(text_c)
    non_punct = F.length(F.regexp_replace(text_c, r"[^\w\s]", ""))
    punct_ratio = F.when(length > 0, (length - non_punct) / length).otherwise(F.lit(0.0))
    tokens = token_count_col(text_c)
    stop = F.size(
        F.filter(
            F.split(F.lower(text_c), r"\s+"),
            lambda t: t.isin("the", "a", "an", "and", "or", "of", "to", "in", "is"),
        )
    )
    stop_ratio = F.when(tokens > 0, stop.cast("double") / tokens).otherwise(F.lit(0.0))
    return {
        "n_chars": length,
        "n_tokens": tokens,
        "punct_ratio": punct_ratio,
        "stopword_ratio": stop_ratio,
    }


def line_quality_cols(text_c: Column) -> dict[str, Column]:
    """Line-level repetition/format signals (the Gopher/MassiveText rule
    family): fraction of duplicate lines, of bullet-point lines, and of
    lines ending in an ellipsis — all over non-empty trimmed lines, all
    pure JVM array expressions."""
    lines = F.filter(
        F.transform(F.split(text_c, r"\n"), lambda l: F.trim(l)),
        lambda l: l != "",
    )
    n = F.size(lines)
    nd = F.size(F.array_distinct(lines))
    dup = F.when(n > 0, (n - nd).cast("double") / n).otherwise(F.lit(0.0))
    bullet = F.when(
        n > 0,
        F.size(F.filter(lines, lambda l: l.rlike(r"^[-*•]"))).cast("double") / n,
    ).otherwise(F.lit(0.0))
    ellipsis = F.when(
        n > 0,
        F.size(F.filter(lines, lambda l: l.rlike(r"\.\.\.$"))).cast("double") / n,
    ).otherwise(F.lit(0.0))
    return {
        "n_lines": n,
        "dup_line_fraction": dup,
        "bullet_line_fraction": bullet,
        "ellipsis_line_fraction": ellipsis,
    }


# ---------------------------------------------------------------------------
# Document fingerprinting
# ---------------------------------------------------------------------------

_FNV_OFFSET = 0xCBF29CE484222325
_FNV_PRIME = 0x100000001B3
_MASK64 = (1 << 64) - 1


def fnv1a_64(data: bytes) -> int:
    h = _FNV_OFFSET
    for b in data:
        h ^= b
        h = (h * _FNV_PRIME) & _MASK64
    return h


def doc_fingerprint_py(text: str, window: int = 64) -> int:
    """Winnowing-style fingerprint: min FNV hash over rolling byte windows."""
    data = text.encode("utf-8")
    if len(data) <= window:
        return fnv1a_64(data)
    best = None
    step = max(1, window // 4)
    for i in range(0, len(data) - window + 1, step):
        h = fnv1a_64(data[i : i + window])
        if best is None or h < best:
            best = h
    return best


def sha256_hex(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


# ---------------------------------------------------------------------------
# Gopher/MassiveText repetition + lexical rules (Rae et al. 2021, table A1)
# ---------------------------------------------------------------------------

GOPHER_STOP_WORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_lexical_cols(text_c: Column) -> dict[str, Column]:
    """The scalar Gopher lexical signals, all inside whole-stage codegen:

    * mean_word_length — pure arithmetic over the single-space-normalized
      text (chars minus separators over word count);
    * symbol_to_word_ratio — '#' and ellipsis ('...' or '…') occurrences
      per word;
    * frac_words_alpha — fraction of words containing at least one letter
      (boundary-consuming scan, same trick as the shingle extraction);
    * n_stop_words — occurrences of the 8 Gopher stop words (boundary
      consumed, trailing boundary via lookahead so adjacent stop words
      both count).
    """
    norm = F.regexp_replace(F.lower(F.trim(text_c)), r"\s+", " ")
    n_words = F.when(F.length(norm) > 0,
                     F.size(F.split(norm, " "))).otherwise(F.lit(0))
    n_chars = F.length(norm)
    mean_wl = F.when(n_words > 0,
                     (n_chars - (n_words - 1)) / n_words.cast("double")
                     ).otherwise(F.lit(0.0))
    n_sym = (F.length(norm) - F.length(F.regexp_replace(norm, r"#", ""))
             + F.size(F.regexp_extract_all(norm, F.lit(r"(\.\.\.|…)"), 0)))
    sym_ratio = F.when(n_words > 0,
                       n_sym.cast("double") / n_words).otherwise(F.lit(0.0))
    n_alpha = F.size(F.regexp_extract_all(
        norm, F.lit(r"(?:^| )([^ ]*\p{L}[^ ]*)"), 1))
    frac_alpha = F.when(n_words > 0,
                        n_alpha.cast("double") / n_words).otherwise(F.lit(0.0))
    stop_pat = r"(?:^| )(?:" + "|".join(GOPHER_STOP_WORDS) + r")(?= |$)"
    n_stop = F.size(F.regexp_extract_all(norm, F.lit(stop_pat), 0))
    return {
        "n_words": n_words,
        "mean_word_length": mean_wl,
        "symbol_to_word_ratio": sym_ratio,
        "frac_words_alpha": frac_alpha,
        "n_stop_words": n_stop,
    }


def with_gopher_repetition(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5, 6, 7, 8, 9, 10),
):
    """Gopher n-gram repetition signals per document, ONE explode total.

    For each n in top_ns: `frac_chars_top_{n}gram` — characters of the
    most frequent word n-gram (count × gram length) over the normalized
    text length. For each n in dup_ns: `frac_chars_dup_{n}grams` —
    characters inside n-grams occurring more than once (count × length,
    summed) over the normalized length. (The paper does not pin the
    overlap accounting; this count-times-length variant is deterministic,
    integer-exact until the final division, and replayed verbatim by the
    DuckDB oracle.)

    Scale shape: ALL requested n produce their grams into one exploded
    (doc, n, gram) stream; the (doc, n, gram) count aggregate combines
    map-side, so the shuffle carries distinct grams, not occurrences, and
    the per-doc reduction is a second tiny aggregate. No HOF per-row gram
    counting (interpreted) and no O(n_ns) scans of the corpus.
    """
    from ..operators.dedup import shingles_col

    all_ns = sorted(set(top_ns) | set(dup_ns))
    norm_len = F.length(F.regexp_replace(F.lower(F.trim(F.col(text_col))),
                                         r"\s+", " "))
    base = df.select(F.col(id_col).alias("_id"), norm_len.alias("_len"),
                     F.col(text_col).alias("_t"))
    grams = base.select(
        "_id",
        F.explode(F.array(*[
            F.struct(F.lit(n).alias("n"),
                     shingles_col(F.col("_t"), n).alias("g"))
            for n in all_ns
        ])).alias("_e"),
    ).select("_id", F.col("_e.n").alias("_n"), F.explode("_e.g").alias("_g"))
    counts = grams.groupBy("_id", "_n", "_g").agg(F.count("*").alias("_c"))
    per_doc = counts.groupBy("_id", "_n").agg(
        F.max(F.col("_c") * F.length("_g")).alias("_top_chars"),
        F.sum(F.when(F.col("_c") > 1,
                     F.col("_c") * F.length("_g")).otherwise(F.lit(0))
              ).alias("_dup_chars"),
    )
    pivoted = per_doc.groupBy("_id").pivot("_n", list(all_ns)).agg(
        F.first("_top_chars").alias("top"), F.first("_dup_chars").alias("dup")
    )
    out = base.select("_id", "_len").join(pivoted, "_id", "left")

    def frac(col: Column) -> Column:
        return F.when(
            F.col("_len") > 0,
            F.coalesce(col, F.lit(0)).cast("double") / F.col("_len"),
        ).otherwise(F.lit(0.0))

    sel = [F.col("_id").alias(id_col)]
    for n in top_ns:
        sel.append(frac(F.col(f"{n}_top")).alias(f"frac_chars_top_{n}gram"))
    for n in dup_ns:
        sel.append(frac(F.col(f"{n}_dup")).alias(f"frac_chars_dup_{n}grams"))
    return out.select(*sel)


# ---------------------------------------------------------------------------
# Unicode normalization (corpus text cleanup)
# ---------------------------------------------------------------------------


def normalize_text_col(text_c: Column, form: str = "NFC",
                       strip_controls: bool = True) -> Column:
    """Unicode-normalize a text column (Arrow-batched pandas UDF — Spark
    ships no NFC builtin) and optionally strip C0/C1 control characters
    (keeping \\t \\n \\r). The canonical first step of web-text cleanup:
    composed/decomposed accent spellings byte-differ, which silently
    breaks exact dedup, URL identity, and n-gram matching. NFC parity
    with DuckDB's `nfc_normalize` (utf8proc) is oracle-checked on
    composed/decomposed fixtures."""
    from pyspark.sql.types import StringType

    @F.pandas_udf(StringType())
    def _norm(s):
        drop_spark_zip_finders()
        import unicodedata

        def one(x):
            if x is None:
                return None
            return unicodedata.normalize(form, x)

        return s.map(one)

    out = _norm(text_c)
    if strip_controls:
        out = F.regexp_replace(out, r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F-\x9F]", "")
    return out


# ---------------------------------------------------------------------------
# C4-style line filtering (Raffel et al. 2020 §2.2)
# ---------------------------------------------------------------------------

C4_BANNED_TOKENS = ("javascript", "lorem ipsum", "{")


def c4_line_filter_col(text_c: Column, min_words: int = 5) -> Column:
    """Rewrite a document keeping only C4-clean lines: a line survives if
    it has ≥ min_words words, ends in terminal punctuation (. ! ? "), and
    contains none of the banned tokens (case-insensitive "javascript",
    "lorem ipsum", or a curly brace). Kept lines re-join with \\n; a doc
    with no surviving lines becomes ''. Array expressions over the few
    lines of one row — no shuffle, no UDF."""
    lines = F.transform(F.split(text_c, r"\n"), lambda l: F.trim(l))
    kept = F.filter(
        lines,
        lambda l: (
            (F.size(F.split(l, r"\s+")) >= min_words)
            & l.rlike(r'[.!?"]$')
            & ~F.lower(l).contains("javascript")
            & ~F.lower(l).contains("lorem ipsum")
            & ~l.contains("{")
        ),
    )
    return F.array_join(kept, "\n")
