"""Corpus-curation operators a large-scale training-data pipeline needs
beyond dedup/ANN: stratified sampling, mixture weighting, repetition
filtering (Gopher-style), benchmark decontamination, and PII scrubbing.

All operators are pure DataFrame compositions (no Python UDFs) so every
one is DuckDB-oracle-checkable and stays inside whole-stage codegen.
Randomness is replaced by hash arithmetic (md5 of the row id) — the
standard trick for reproducible sampling at cluster scale, and the only
way to make a sampling operator value-exact against an oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import hashing as H
from ..functions.dialect import SPARK

#: 2^32 as a double — md5-prefix uniform in [0, 1)
_U32 = 4294967296.0


def hash_uniform(col: Column) -> Column:
    """Deterministic uniform-[0,1) draw from a column value: the first 8
    hex digits of md5(value) as an integer over 2^32.  Stable across
    engines, partitionings, and reruns — unlike ``rand(seed)``, which is
    partition-dependent in Spark and unavailable to an oracle."""
    return (F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10)
            .cast("bigint") / F.lit(_U32))


def hash_uniform_sql(expr: str) -> str:
    """DuckDB mirror of :func:`hash_uniform` (no hex→int cast of BLOBs in
    DuckDB, so go through a '0x…' string literal)."""
    return (f"CAST('0x' || substr(md5(CAST({expr} AS VARCHAR)), 1, 8) "
            f"AS BIGINT) / {_U32!r}")


def stratified_sample(df: DataFrame, stratum_col: str, id_col: str,
                      cap: int) -> DataFrame:
    """Deterministic per-stratum downsampling to an expected ``cap`` rows:
    rate_s = min(1, cap / |s|), keep row iff hash_uniform(id) < rate_s.

    Plan shape: one map-side-combinable groupBy for the per-stratum
    counts (tiny result, broadcast back onto the fact side), then a
    stateless filter — no global shuffle of the corpus itself, which is
    what lets this run over 100 TB: the only wide exchange is over
    |strata| rows.  Output: (id, stratum, u, rate) for kept rows.
    """
    counts = (df.groupBy(stratum_col)
              .agg(F.count(F.lit(1)).alias("_n")))
    rate = F.least(F.lit(1.0), F.lit(float(cap)) / F.col("_n"))
    u = hash_uniform(F.col(id_col))
    return (df.select(F.col(id_col).alias("id"),
                      F.col(stratum_col).alias("stratum"),
                      F.round(u, 9).alias("u"))
            .join(F.broadcast(counts.select(
                F.col(stratum_col).alias("stratum"),
                F.round(rate, 9).alias("rate"))), "stratum")
            .where(F.col("u") < F.col("rate"))
            .select("id", "stratum", "u", "rate"))


def domain_cap(df: DataFrame, domain_col: str, id_col: str,
               cap: int, buckets: int = 32) -> DataFrame:
    """EXACT per-domain cap: keep the ``cap`` rows with the smallest
    hash-uniform draw per domain — the deterministic form of the
    C4/RefinedWeb-style over-representation guard.  Complements
    :func:`stratified_sample`, which thins by expected RATE; here the
    bound is a hard row count.

    Scale shape — exact top-K per group without a one-task-per-domain
    window: rows first rank inside (domain, salt-bucket) windows
    (``buckets`` parallel tasks per domain), and only per-bucket
    survivors (≤ buckets×cap rows per domain) enter the final
    per-domain window — so no task ever holds more than
    max(|bucket|, buckets×cap) rows however skewed the domain.  Values
    are identical to a single global window: a row in the global
    top-cap is necessarily in its bucket's top-cap.  Output
    (id, domain, u, rank), rank 1-based in (u, id) order.
    """
    from pyspark.sql.window import Window

    u = F.round(hash_uniform(F.col(id_col)), 9)
    base = df.select(
        F.col(id_col).alias("id"), F.col(domain_col).alias("domain"),
        u.alias("u"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(buckets)).alias("_b"))
    wb = Window.partitionBy("domain", "_b").orderBy("u", "id")
    pre = (base.withColumn("_r", F.row_number().over(wb))
           .where(F.col("_r") <= cap))
    wd = Window.partitionBy("domain").orderBy("u", "id")
    return (pre.withColumn("rank", F.row_number().over(wd).cast("int"))
            .where(F.col("rank") <= cap)
            .select("id", "domain", "u", "rank"))


def mixture_weights(df: DataFrame, domain_col: str, text_col: str,
                    temperature: float = 0.7) -> DataFrame:
    """Temperature-scaled domain mixture weights (the multinomial
    sampling weights used to compose a training mix, per the mT5/Pile
    recipe): w_d ∝ tokens_d^T, normalized over domains.

    One aggregation to |domains| rows; the normalizing sum is a scalar
    cross-join of a 1-row frame (broadcast nested loop over one row —
    intentional and bounded).  Output per domain: n_docs, n_tokens,
    weight, expected_docs under a same-size resample.
    """
    words = F.filter(F.split(F.expr(H.norm_text(SPARK, text_col)), " "),
                     lambda w: w != "")
    per = (df.select(F.col(domain_col).alias("domain"),
                     F.size(words).alias("_t"))
           .groupBy("domain")
           .agg(F.count(F.lit(1)).alias("n_docs"),
                F.sum("_t").alias("n_tokens")))
    scaled = F.pow(F.col("n_tokens").cast("double"), F.lit(temperature))
    per = per.withColumn("_s", scaled)
    tot = per.agg(F.sum("_s").alias("_tot"),
                  F.sum("n_docs").alias("_docs"))
    return (per.crossJoin(F.broadcast(tot))
            .select("domain", "n_docs", "n_tokens",
                    F.round(F.col("_s") / F.col("_tot"), 9).alias("weight"),
                    F.round(F.col("_s") / F.col("_tot")
                            * F.col("_docs").cast("double"), 4)
                    .alias("expected_docs")))


def repetition_stats(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text",
                     top_frac_threshold: float = 0.2) -> DataFrame:
    """Gopher-style within-document repetition signals: the fraction of
    all (non-distinct) word bigrams taken by the single most frequent
    bigram, and the duplicate-word fraction.  Documents above
    ``top_frac_threshold`` are flagged repetitive (the Gopher rule uses
    0.2 for top-2-gram fraction; Rae et al. 2021, table A1).

    The bigram frequency table is a (doc, bigram) groupBy with map-side
    combine — cardinality is bounded by corpus token count, the same
    scale as the shingle explode the dedup family already does.
    """
    words = F.filter(F.split(F.expr(H.norm_text(SPARK, text_col)), " "),
                     lambda w: w != "")
    base = df.select(F.col(id_col).alias("id"), words.alias("_w"))
    n_words = F.size(F.col("_w"))
    # non-distinct bigram list (word_shingles dedups; repetition must not)
    bigrams = F.when(n_words >= 2, F.transform(
        F.sequence(F.lit(1), n_words - 1),
        lambda i: F.concat_ws(" ", F.element_at(F.col("_w"), i),
                              F.element_at(F.col("_w"), i + 1)),
    )).otherwise(F.array().cast("array<string>"))
    per_bigram = (base.select("id", F.explode(bigrams).alias("bg"))
                  .groupBy("id", "bg").agg(F.count(F.lit(1)).alias("c")))
    per_doc = (per_bigram.groupBy("id")
               .agg(F.max("c").alias("_top"),
                    F.sum("c").alias("n_bigrams")))
    dup_words = (base.select(
        "id", n_words.alias("n_words"),
        F.size(F.array_distinct(F.col("_w"))).alias("_uniq")))
    top_frac = F.round(F.col("_top").cast("double") / F.col("n_bigrams"), 9)
    dup_frac = F.round(F.lit(1.0) - F.col("_uniq").cast("double")
                       / F.greatest(F.col("n_words"), F.lit(1)), 9)
    return (dup_words.join(per_doc, "id", "left")
            .select("id", "n_words",
                    F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
                    F.coalesce(top_frac, F.lit(0.0)).alias("top_bigram_frac"),
                    dup_frac.alias("dup_word_frac"))
            .withColumn("repetitive",
                        F.col("top_bigram_frac") > F.lit(top_frac_threshold)))


def decontaminate(df: DataFrame, eval_df: DataFrame,
                  id_col: str = "doc_id", text_col: str = "text",
                  ngram: int = 5) -> DataFrame:
    """Benchmark decontamination by n-gram collision (the GPT-3 appendix
    method: drop a training doc if it shares any length-``ngram`` word
    n-gram with an eval document).  Returns the contaminated doc ids with
    the number of distinct shared n-grams and the number of eval docs hit.

    The eval side is small by construction (a benchmark), so its
    exploded n-gram set is broadcast; the corpus side streams through a
    stateless explode→hash-join→re-aggregate — no corpus-wide shuffle on
    the raw text, only on (id, gram) pairs that actually collide.

    N-grams come from ``dedup.exploded_shingles`` (posexplode + lead
    windows), which stays in whole-stage codegen — the array
    higher-order form is interpreted and ~10× slower on wide corpora.
    """
    from .dedup import exploded_shingles

    def grams(frame: DataFrame, out: str) -> DataFrame:
        return (exploded_shingles(frame, text_col, id_col, n=ngram)
                .select(F.col("id").alias(out), F.col("s").alias("g")))

    corpus = grams(df, "id")
    evals = grams(eval_df, "eval_id").distinct()
    hits = corpus.join(F.broadcast(evals), "g")
    return (hits.groupBy("id")
            .agg(F.countDistinct("g").alias("n_shared_grams"),
                 F.countDistinct("eval_id").alias("n_eval_docs")))


#: regex subset identical under Java regex (Spark) and RE2 (DuckDB)
EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z][a-z]+"
PHONE_RE = "\\+[0-9][0-9-]{6,}[0-9]"
IPV4_RE = ("[0-9][0-9]?[0-9]?\\.[0-9][0-9]?[0-9]?\\."
           "[0-9][0-9]?[0-9]?\\.[0-9][0-9]?[0-9]?")


def pii_scrub(df: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """Scrub emails, E.164-ish phone numbers, and IPv4 literals, replacing
    each with a typed placeholder; report per-document match counts and
    the scrubbed fingerprint.  Pure ``regexp_replace`` / ``regexp_count``
    column work — codegen'd, no UDF, trivially parallel.
    """
    t = F.col(text_col)
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, EMAIL_RE, "<EMAIL>"),
            IPV4_RE, "<IP>"),
        PHONE_RE, "<PHONE>")
    return df.select(
        F.col(id_col).alias("id"),
        F.regexp_count(t, F.lit(EMAIL_RE)).cast("bigint").alias("n_emails"),
        F.regexp_count(t, F.lit(PHONE_RE)).cast("bigint").alias("n_phones"),
        F.regexp_count(t, F.lit(IPV4_RE)).cast("bigint").alias("n_ips"),
        F.md5(scrubbed).alias("scrubbed_fp"),
    )
