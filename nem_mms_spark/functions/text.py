"""Text analysis operators: token stats, quality scoring, language-ID
heuristic, document fingerprinting.  Everything is built-in-function
composition — no Python in the row path — so Catalyst/codegen run it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# tiny per-language stopword markers for the heuristic language id
LANG_MARKERS = {
    "en": ["the", "and", "of"],
    "de": ["der", "die", "und"],
    "fr": ["le", "la", "et"],
    "es": ["el", "los", "que"],
}

STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
]


def tokens_col(text: Column) -> Column:
    """Whitespace tokenization (split on runs of whitespace, drop empties)."""
    return F.filter(F.split(text, r"\s+"), lambda t: t != F.lit(""))


def token_count(text: Column) -> Column:
    return F.size(tokens_col(text))


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-style subword estimate: word-pieces of <=4 chars (a regex
    approximation of byte-pair tokenizers' ~4 chars/token behavior)."""
    return F.ceil(F.length(text) / F.lit(4)).cast("long")


def stopword_ratio(text: Column) -> Column:
    toks = tokens_col(F.lower(text))
    stop = F.size(F.filter(toks, lambda t: t.isin(STOPWORDS)))
    return stop / F.greatest(F.size(toks), F.lit(1))


def avg_token_len(text: Column) -> Column:
    toks = tokens_col(text)
    total = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    return total / F.greatest(F.size(toks), F.lit(1))


def punct_ratio(text: Column) -> Column:
    no_punct = F.regexp_replace(text, r"[^\w\s]", "")
    return (F.length(text) - F.length(no_punct)) / F.greatest(
        F.length(text), F.lit(1)
    )


def quality_score(text: Column) -> Column:
    """Composite 0..1 heuristic quality: length band + token shape +
    punctuation sanity (web-text curation style)."""
    n = token_count(text)
    len_ok = F.when((n >= 10) & (n <= 5000), 1.0).otherwise(0.3)
    awl = avg_token_len(text)
    shape_ok = F.when((awl >= 3) & (awl <= 12), 1.0).otherwise(0.5)
    punct_ok = F.when(punct_ratio(text) < 0.2, 1.0).otherwise(0.4)
    return F.round((len_ok + shape_ok + punct_ok) / 3.0, 4)


def lang_marker_hits(toks: Column) -> dict[str, Column]:
    """Per-language marker-hit counts over an already-tokenized
    (lowercased) array — materialize these as named columns so the
    decision chain below evaluates each count ONCE (inlined, every
    `hits` tree is replicated ~3-4x through the when/greatest chain and
    the interpreted array filters run that many extra times per row)."""
    return {
        lang: F.size(F.filter(toks, lambda t: t.isin(markers)))
        for lang, markers in LANG_MARKERS.items()
    }


def lang_id_from_hits(hits: dict[str, Column]) -> Column:
    """The marker-count decision chain (unchanged logic) over
    pre-computed hit counts."""
    expr = F.lit("und")
    best = F.lit(0)
    for lang in LANG_MARKERS:
        h = hits[lang]
        expr = F.when(h > best, F.lit(lang)).otherwise(expr)
        best = F.greatest(h, best)
    return expr


def fingerprint(text: Column) -> Column:
    """Stable content fingerprint (md5 hex — portable across engines)."""
    return F.md5(text.cast("string"))


def text_quality_df(documents: DataFrame) -> DataFrame:
    """Per-doc token stats + composite quality.

    r7 CSE restructure: the two token arrays (raw and lowercased) are
    materialized ONCE per row in a named projection and every measure
    references the columns — the old expression tree re-derived
    ``split(text, '\\s+')`` up to six times per row (token count, fold
    total, stopword filter, and again inside quality_score), and the
    regex split over the full document is the dominant per-row cost.
    Expressions, rounding and output schema are unchanged."""
    base = documents.select(
        "doc_id",
        "text",
        tokens_col(F.col("text")).alias("_toks"),
        tokens_col(F.lower(F.col("text"))).alias("_ltoks"),
    )
    toks, ltoks = F.col("_toks"), F.col("_ltoks")
    # second projection layer: every non-trivial measure ONCE per row as
    # a named column — inlined, the fold/filter trees are replicated
    # through the when-chains (awl appears 3x, the fold inside it each
    # time) and interpreted HOFs re-run per replica
    meas = base.select(
        "doc_id",
        F.size(toks).alias("_n"),
        F.aggregate(
            toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
        ).alias("_total"),
        F.size(F.filter(ltoks, lambda t: t.isin(STOPWORDS))).alias("_stop"),
        F.size(ltoks).alias("_nl"),
        punct_ratio(F.col("text")).alias("_pr"),
    )
    n = F.col("_n")
    awl = F.col("_total") / F.greatest(n, F.lit(1))
    swr = F.col("_stop") / F.greatest(F.col("_nl"), F.lit(1))
    len_ok = F.when((n >= 10) & (n <= 5000), 1.0).otherwise(0.3)
    shape_ok = F.when((awl >= 3) & (awl <= 12), 1.0).otherwise(0.5)
    punct_ok = F.when(F.col("_pr") < 0.2, 1.0).otherwise(0.4)
    quality = F.round((len_ok + shape_ok + punct_ok) / 3.0, 4)
    return meas.select(
        "doc_id",
        n.alias("n_tokens"),
        F.round(awl, 4).alias("avg_token_len"),
        F.round(swr, 4).alias("stopword_ratio"),
        quality.alias("quality"),
    )
