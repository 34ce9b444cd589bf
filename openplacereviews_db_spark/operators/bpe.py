"""BPE vocabulary induction (SURVEY.md §2.13 X43): learn byte-pair
merges from the corpus — the tokenizer-training stage of an LLM data
pipeline, distributed.

Classic Sennrich-style BPE over word TYPES: the state is the
vocabulary-sized (word, freq, symbols) relation — at 100 TB the corpus
explodes once to word counts and everything after scales with the
vocabulary, not the corpus.  Each merge round is (a) one
pair-count shuffle over adjacent symbol pairs, (b) a 1-row TakeOrdered
action picking the most frequent pair (deterministic tiebreak on the
pair itself — a bounded collect, the same class as IVF's centroid
pick), and (c) an Arrow-batched pandas_udf applying the merge
left-to-right non-overlapping, gated by an ``array_contains`` prefilter
so the Python kernel only touches words that can contain the pair.
State is localCheckpointed per round (the iterative-loop rule).

Semantics pinned by a pure-Python golden (tests/test_bpe.py), since an
order-dependent greedy merge is not SQL-expressible: pair counting
counts every adjacent occurrence (overlaps included); merging is
left-to-right greedy; the argmax tiebreak is (count DESC, left ASC,
right ASC).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import hashing as H
from ..functions.dialect import SPARK


def _word_types(docs: DataFrame) -> DataFrame:
    """(word, freq) over the normalized corpus — the only corpus-sized
    pass; everything downstream is vocabulary-sized."""
    return (docs.select(F.explode(F.filter(
        F.split(F.expr(H.norm_text(SPARK, "text")), " "),
        lambda w: w != "")).alias("word"))
        .groupBy("word").agg(F.count(F.lit(1)).alias("freq")))


def merge_word(syms: list, a: str, b: str, ab: str) -> list:
    """Left-to-right non-overlapping merge of adjacent (a, b) → ab —
    shared by the Spark kernel and the test golden."""
    out = []
    i = 0
    n = len(syms)
    while i < n:
        if i + 1 < n and syms[i] == a and syms[i + 1] == b:
            out.append(ab)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _merge_udf(a: str, b: str, ab: str):
    """Arrow-batched kernel applying one merge rule (closure-captured —
    pandas_udf requires type hints on every parameter, so the rule can't
    ride in as default arguments)."""
    @F.pandas_udf("array<string>")
    def apply_merge(col: pd.Series) -> pd.Series:
        return col.map(lambda s: merge_word(list(s), a, b, ab))
    return apply_merge


def bpe_merges(docs: DataFrame, n_merges: int = 5) -> DataFrame:
    """Learn ``n_merges`` BPE merges; returns one row per merge:
    (merge_rank, left, right, merged, pair_count)."""
    spark = docs.sparkSession
    state = (_word_types(docs)
             .select("word", "freq",
                     F.filter(F.split(F.col("word"), ""),
                              lambda c: c != "").alias("syms"))
             .localCheckpoint(eager=True))
    merges = []
    for rank in range(1, n_merges + 1):
        pairs = (
            state.where(F.size("syms") >= 2)
            .select("freq", F.explode(F.expr(
                "transform(sequence(0, size(syms) - 2),"
                " i -> struct(syms[i] AS a, syms[i + 1] AS b))"))
                .alias("p"))
            .groupBy("p.a", "p.b").agg(F.sum("freq").alias("cnt")))
        top = (pairs.orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
               .limit(1).collect())
        if not top:
            break
        a, b, cnt = top[0]["a"], top[0]["b"], int(top[0]["cnt"])
        ab = a + b
        merges.append((rank, a, b, ab, cnt))

        apply_merge = _merge_udf(a, b, ab)
        touched = F.array_contains("syms", a) & F.array_contains("syms", b)
        state = (state.withColumn(
            "syms", F.when(touched, apply_merge(F.col("syms")))
            .otherwise(F.col("syms")))
            .localCheckpoint(eager=True))
    return spark.createDataFrame(
        merges, "merge_rank int, left string, right string, "
                "merged string, pair_count bigint")


#: sentinel for the codegen encode path — a char the corpus never
#: contains (asserted for the testdata corpora in plans/scoring.py's
#: oracle note); symbol strings ride as "\x01a\x01b\x01"
_SENT = "\x01"


def encode_token_counts(docs: DataFrame, merges: list[tuple[str, str]],
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Apply a learned merge table to the corpus and count tokens —
    the tokenizer-APPLICATION stage (X58), complement of
    :func:`bpe_merges`' training stage.

    Pure codegen, ZERO shuffle and zero Python: each word becomes a
    DOUBLE-sentinel-delimited symbol string ("\\x01\\x01a\\x01\\x01b
    \\x01\\x01") and each merge applies as one ``replace`` with the
    pattern "\\x01a\\x01\\x01b\\x01" → "\\x01ab\\x01".  Java
    ``String.replace`` scans left-to-right non-overlapping and
    continues AFTER each replacement — exactly :func:`merge_word`'s
    greedy semantics — and the double separator keeps each match's
    outer sentinels untouched, so two ADJACENT occurrences of the pair
    both merge (single separators would share the boundary sentinel
    and silently skip the second: "abab" must become [ab, ab]).
    Token-boundary-exactness still holds: the pattern's outer single
    sentinels can only align against a separator, never inside a
    longer token.  The token count is sentinel arithmetic.  The whole
    computation is a row-local column expression over the documents
    scan, so it pipelines at input-scan speed at any corpus size — the
    shape one wants for tokenizing 100 TB.

    Returns (doc_id, n_words, n_base_tokens, n_tokens): base tokens =
    characters (the pre-merge symbol count), n_tokens = symbols after
    all merges, applied in rank order.
    """
    S = _SENT

    def tok(w):
        enc = F.concat(F.lit(S + S), F.regexp_replace(w, "(.)", "$1" + S + S))
        for a, b in merges:
            enc = F.replace(enc, F.lit(S + a + S + S + b + S),
                            F.lit(S + a + b + S))
        # sentinel count is 2*(tokens+1) — always even
        n_sent = (F.length(enc)
                  - F.length(F.replace(enc, F.lit(S), F.lit(""))))
        return (F.shiftright(n_sent, 1) - F.lit(1)).cast("long")

    words = F.filter(F.split(F.expr(H.norm_text(SPARK, text_col)), " "),
                     lambda w: w != "")
    zero = F.lit(0).cast("long")
    return docs.select(
        F.col(id_col),
        F.size(words).alias("n_words"),
        F.aggregate(words, zero,
                    lambda acc, w: acc + F.length(w).cast("long"))
        .alias("n_base_tokens"),
        F.aggregate(words, zero, lambda acc, w: acc + tok(w))
        .alias("n_tokens"),
    )
