"""Text-analysis operators: language ID, quality scoring, token counting,
fingerprinting.

All pure column arithmetic over the ``documents`` table shape
(doc_id, text, ...).  Patterns are kept to the regex subset that behaves
identically in Java (Spark) and RE2 (DuckDB) so every operator is
oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import hashing as H
from ..functions.dialect import SPARK

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic.  Deliberately small and hard-coded: the heuristic is the
# operator; real deployments would swap in richer tables (broadcast dim).
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"],
    "es": ["el", "la", "de", "y", "que", "en", "un", "una", "los", "por"],
    "de": ["der", "die", "das", "und", "zu", "in", "ist", "ein", "nicht", "mit"],
    "fr": ["le", "la", "de", "et", "que", "en", "un", "une", "les", "pour"],
}


def _words(text_col: str) -> Column:
    return F.filter(F.split(F.expr(H.norm_text(SPARK, text_col)), " "),
                    lambda w: w != "")


def _stopword_hits(words: Column, lang: str) -> Column:
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(words, lambda w: F.array_contains(sw, w)))


def _lang_cols(words: Column) -> tuple[Column, Column]:
    """(pred_lang, best_ratio) expressions from a word-array column."""
    n = F.greatest(F.size(words), F.lit(1))
    langs = sorted(STOPWORDS)
    ratios = {lang: F.round(_stopword_hits(words, lang) / n, 6)
              for lang in langs}
    best = F.greatest(*[ratios[lang] for lang in langs])
    pred = F.coalesce(
        *[F.when(ratios[lang] == best, F.lit(lang)) for lang in langs]
    )
    return F.when(best > 0, pred).otherwise(F.lit("und")), best


def language_id(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Predict language by stopword-hit ratio; deterministic tie-break on
    language code.  Output: (id, pred_lang, best_ratio).

    Words are projected once before the ratio expressions reference
    them — inlining the split into every ratio multiplies the
    expression tree past Catalyst's comfortable analysis size."""
    base = df.select(F.col(id_col).alias("id"),
                     _words(text_col).alias("_w"))
    pred, best = _lang_cols(F.col("_w"))
    return base.select(
        "id",
        pred.alias("pred_lang"),
        best.alias("best_ratio"),
    )


def quality_score(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Heuristic document-quality features + compound score.

    Features: char length, word count, mean word length, punctuation
    ratio, english-stopword ratio.  Score = clipped linear combination —
    the standard shape of pre-training corpus filters.
    """
    return df.select(F.col(id_col).alias("id"), *_quality_cols(text_col))


def _quality_score_from(t: Column, words: Column) -> Column:
    """The compound quality score built from an ALREADY-projected word
    array — callers that carry ``_words(text_col)`` in a column (the fused
    ``corpus_features`` projection) must not re-split the text per
    expression instance: array HOFs are interpreted (no codegen, no
    common-subexpression elimination), so every extra ``_words`` copy
    re-runs normalize+split+filter per row.  Same arithmetic as
    ``_quality_cols`` (which passes ``words=_words(text_col)``)."""
    n_words = F.size(words)
    n_chars = F.length(t)
    n_punct = F.length(t) - F.length(
        F.regexp_replace(t, r"[!-/:-@\[-`{-~]", ""))
    punct_ratio = F.round(
        n_punct.cast("double") / F.greatest(n_chars, F.lit(1)), 6)
    stop_ratio = F.round(
        _stopword_hits(F.transform(words, F.lower), "en").cast("double")
        / F.greatest(n_words, F.lit(1)),
        6,
    )
    return F.round(
        F.least(
            F.lit(1.0),
            F.greatest(
                F.lit(0.0),
                F.lit(0.3)
                + F.lit(0.4) * F.least(n_words.cast("double") / 100.0, F.lit(1.0))
                + F.lit(0.3) * stop_ratio
                - F.lit(0.5) * punct_ratio,
            ),
        ),
        6,
    )


def _quality_cols(text_col: str) -> list[Column]:
    t = F.col(text_col)
    words = _words(text_col)
    n_words = F.size(words)
    n_chars = F.length(t)
    mean_wlen = F.round(
        F.aggregate(words, F.lit(0), lambda a, w: a + F.length(w)).cast("double")
        / F.greatest(n_words, F.lit(1)),
        4,
    )
    n_punct = F.length(t) - F.length(F.regexp_replace(t, r"[!-/:-@\[-`{-~]", ""))
    punct_ratio = F.round(n_punct.cast("double") / F.greatest(n_chars, F.lit(1)), 6)
    stop_ratio = F.round(
        _stopword_hits(F.transform(words, F.lower), "en").cast("double")
        / F.greatest(n_words, F.lit(1)),
        6,
    )
    score = _quality_score_from(t, words)
    return [
        n_chars.alias("n_chars"),
        n_words.alias("n_words"),
        mean_wlen.alias("mean_word_len"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        score.alias("quality_score"),
    ]


def token_counts(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Whitespace token count + BPE-ish subword proxy count.

    The subword proxy splits on non-alphanumerics and counts ceil(len/4)
    per word — a deterministic, vocabulary-free stand-in for a BPE
    tokenizer's token count (≈4 chars/token), useful for budget math.
    """
    return df.select(F.col(id_col).alias("id"),
                     *_token_cols(F.col(text_col)))


def _token_cols(t: Column) -> list[Column]:
    ws_tokens = F.size(F.filter(F.split(t, r"\s+"), lambda w: w != ""))
    alnum_words = F.filter(F.split(F.lower(t), r"[^a-z0-9]+"), lambda w: w != "")
    subword = F.aggregate(
        alnum_words, F.lit(0).cast("bigint"),
        lambda acc, w: acc + F.ceil(F.length(w) / 4.0).cast("bigint"),
    )
    return [
        ws_tokens.alias("ws_tokens"),
        F.size(alnum_words).alias("alnum_words"),
        subword.alias("subword_tokens"),
    ]


def corpus_features(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """ONE-PASS (id, quality_score, pred_lang, subword_tokens, fp) —
    the columns the curation pipeline gates on, computed in a single
    projection instead of four scans + three joins.  Expressions are
    the same builders the standalone operators use, so values are
    identical to joining their outputs."""
    t = F.col(text_col)
    base = df.select(F.col(id_col).alias("id"), t.alias("_t"),
                     _words(text_col).alias("_w"))
    langs = sorted(STOPWORDS)
    n = F.greatest(F.size("_w"), F.lit(1))
    staged = base.select(
        "id", "_t", "_w",
        *[F.round(_stopword_hits(F.col("_w"), lang) / n, 6)
          .alias(f"_r_{lang}") for lang in langs])
    best = F.greatest(*[F.col(f"_r_{lang}") for lang in langs])
    pred = F.coalesce(
        *[F.when(F.col(f"_r_{lang}") == best, F.lit(lang))
          for lang in langs])
    return staged.select(
        "id",
        _quality_score_from(F.col("_t"), F.col("_w"))
        .alias("quality_score"),
        F.when(best > 0, pred).otherwise(F.lit("und")).alias("pred_lang"),
        _token_cols(F.col("_t"))[2],
        F.expr(H.fingerprint(SPARK, "_t")).alias("fp"),
    )


def fingerprints(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """(id, md5 fingerprint of normalized text, simhash) per document."""
    from .dedup import simhash_table

    fp = df.select(
        F.col(id_col).alias("id"),
        F.expr(H.fingerprint(SPARK, text_col)).alias("fingerprint"),
    )
    return fp.join(simhash_table(df, text_col, id_col), on="id").select(
        "id", "fingerprint", "simhash"
    )
