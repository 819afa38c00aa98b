"""Text analysis: token counting, quality scoring, language-ID heuristic,
document fingerprinting. Parity surface: the reference's text_search module
(query_modules/text_search_module.cpp:23-31) plus the LLM-pipeline mandate.

Everything is a deterministic column expression so the same logic is
re-expressible as the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")


def tokens(text: Column) -> Column:
    return F.filter(F.split(text, r"\s+"), lambda t: t != "")


def token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document token statistics (whitespace tokenizer)."""
    t = tokens(F.col(text_col))
    return df.withColumns({
        "n_tokens": F.size(t),
        "n_chars": F.length(F.col(text_col)),
        "avg_token_len": F.round(
            F.aggregate(t, F.lit(0).cast("long"), lambda a, x: a + F.length(x))
            / F.greatest(F.size(t), F.lit(1)), 4),
    })


def stopword_ratio(text: Column) -> Column:
    t = tokens(F.lower(text))
    stop = F.filter(t, lambda x: x.isin(*STOPWORDS))
    return F.size(stop) / F.greatest(F.size(t), F.lit(1))


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality score in [0,1]: length band + stopword presence +
    mean-token-length band (the classic cheap pre-filter for LLM corpora)."""
    t = tokens(F.col(text_col))
    n = F.size(t)
    mean_len = F.aggregate(t, F.lit(0).cast("long"), lambda a, x: a + F.length(x)) \
        / F.greatest(n, F.lit(1))
    sw = stopword_ratio(F.col(text_col))
    score = (
        F.when((n >= 10) & (n <= 100000), F.lit(0.4)).otherwise(F.lit(0.0))
        + F.when((sw > 0.01) & (sw < 0.5), F.lit(0.3)).otherwise(F.lit(0.0))
        + F.when((mean_len >= 2) & (mean_len <= 12), F.lit(0.3)).otherwise(F.lit(0.0))
    )
    return df.withColumn("quality", F.round(score, 2))


# Tiny per-language marker lexicons for the n-gram/stopword language-ID
# heuristic (deterministic, oracle-expressible).
LANG_MARKERS = {
    "en": ("the", "and", "of", "is"),
    "fr": ("le", "la", "et", "les"),
    "de": ("der", "die", "und", "das"),
    "es": ("el", "los", "que", "y"),
}


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """argmax over marker-lexicon hit counts; 'und' (undetermined) when no
    marker appears."""
    t = tokens(F.lower(F.col(text_col)))

    def marker_filter(markers):
        return lambda x: x.isin(*markers)

    scores = [
        F.struct(
            F.size(F.filter(t, marker_filter(markers))).alias("hits"),
            F.lit(lang).alias("lang"),
        )
        for lang, markers in sorted(LANG_MARKERS.items())
    ]
    best = F.array_max(F.array(*scores))
    return df.withColumn(
        "lang_pred",
        F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und")),
    )


def fingerprint(df: DataFrame, text_col: str = "text", k: int = 7,
                window: int = 4, mod: int = 1_000_000_007) -> DataFrame:
    """Winnowing fingerprint: hash every character k-gram, keep the min
    hash of every `window` consecutive grams, distinct. The gram hash is
    ENGINE-NEUTRAL — a base-31 polynomial of the gram's character codes
    mod `mod` — so a SQL oracle (DuckDB ascii/list_transform) computes
    the identical signature. Pure column expressions, no UDF.

    The char codes are extracted ONCE per row into an array column
    (split(text, '') + ascii, O(L)) and the gram polynomial reads them
    back with O(1) element_at: a per-gram `substr` pays an O(i) UTF-8
    scan per character access (substr must walk the string to find a
    char offset), i.e. O(k·L²) per document — measured 500+ s for the
    sf0.01 oracle suite, ~3 s after. The codes array lives in its own
    projection so it materializes per row instead of re-evaluating
    inside each lambda."""
    text = F.col(text_col)
    coeffs = [31 ** (k - 1 - j) for j in range(k)]
    # split('', -1) yields one single-char element per char (no trailing
    # empty); ascii() of each is the char's code point
    codes = F.when(
        text.isNotNull() & (F.length(text) >= k),
        F.transform(F.split(text, ""), lambda c: F.ascii(c).cast("long")),
    ).otherwise(F.array().cast("array<long>"))
    with_codes = df.withColumn("__fp_cs", codes)
    cs = F.col("__fp_cs")

    def gram_hash(i):
        h = F.lit(0).cast("long")
        for j, c in enumerate(coeffs):
            h = h + F.element_at(cs, i + F.lit(j)) * F.lit(c)
        return F.pmod(h, F.lit(mod))

    grams = F.when(
        F.size(cs) >= k,
        F.transform(F.sequence(F.lit(1), F.size(cs) - k + 1), gram_hash),
    ).otherwise(F.array().cast("array<long>"))
    with_grams = with_codes.withColumn("__fp_g", grams)
    g = F.col("__fp_g")
    fp = F.when(
        F.size(g) >= window,
        F.array_distinct(
            F.transform(F.sequence(F.lit(1), F.size(g) - window + 1),
                        lambda i: F.array_min(F.slice(g, i, window)))),
    ).otherwise(F.array_distinct(g))
    return (with_grams.withColumn("fingerprints", fp)
            .drop("__fp_cs", "__fp_g"))
