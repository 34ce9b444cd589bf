"""Training-data-pipeline query plans: stratified sampling, mixture
weights, repetition filtering, decontamination, PII scrubbing, and the
Structured Streaming rollups — each with a value-exact DuckDB oracle
(streaming included: the availableNow result equals the batch aggregate
by the replayability of the file source).

Sampling/thresholds follow the published recipes (Gopher repetition
rules, GPT-3 appendix-C n-gram decontamination, mT5 temperature mixing);
randomness is md5-hash arithmetic so the oracle reproduces every draw.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import hashing as H
from ..functions.dialect import DUCKDB
from ..operators import curation
from ..operators import sketches as SK
from ..sources.testdata import load_table
from ..streaming import pipelines as sp
from .corpus import ORACLES as CORPUS_ORACLES
from .temporal import ORACLES as TEMPORAL_ORACLES

_NORM = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"
_WORDS = f"list_filter(string_split({_NORM}, ' '), w -> w <> '')"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, "documents", sf_dir).where(F.length("text") > 0)


# ---------------------------------------------------------------------------
# sampling / mixing
# ---------------------------------------------------------------------------

def tx_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language downsample to an expected 60 docs per stratum."""
    return curation.stratified_sample(
        _docs(spark, sf_dir), stratum_col="lang", id_col="doc_id", cap=60)


def tx_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    return curation.mixture_weights(
        _docs(spark, sf_dir), domain_col="source", text_col="text",
        temperature=0.7)


def tx_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard cap of 15 docs per source (X26) — exact top-K per domain by
    deterministic hash order, the over-representation guard applied
    before mixing."""
    return curation.domain_cap(
        _docs(spark, sf_dir), domain_col="source", id_col="doc_id", cap=15)


# ---------------------------------------------------------------------------
# quality / decontamination / PII
# ---------------------------------------------------------------------------

def tx_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    return curation.repetition_stats(_docs(spark, sf_dir))


def tx_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic eval split (doc_id % 41 == 0) as the benchmark;
    flag the rest of the corpus on shared 4-gram evidence (the GPT-3
    recipe uses 13-grams on web text; 4 matches this corpus' ~30-word
    documents so the flagged set is non-trivial but selective)."""
    docs = _docs(spark, sf_dir)
    return curation.decontaminate(
        docs.where(F.col("doc_id") % 41 != 0),
        docs.where(F.col("doc_id") % 41 == 0), ngram=4)


def _with_pii(df: DataFrame) -> DataFrame:
    """Append deterministic synthetic PII (the testdata corpus has none):
    an email for ids ≡ 0 (mod 3), a phone for ids ≡ 0 (mod 4), an IPv4
    for ids ≡ 0 (mod 5)."""
    i = F.col("doc_id")
    s = i.cast("string")
    email = F.when(i % 3 == 0,
                   F.concat(F.lit(" user"), s, F.lit("@mail"),
                            (i % 7).cast("string"), F.lit(".example.com")))
    phone = F.when(i % 4 == 0,
                   F.concat(F.lit(" +1-555-"), (i % 10000).cast("string")))
    ip = F.when(i % 5 == 0,
                F.concat(F.lit(" 10."), (i % 256).cast("string"),
                         F.lit(".0."), ((i * 7) % 256).cast("string")))
    return df.withColumn(
        "text", F.concat(F.col("text"), F.coalesce(email, F.lit("")),
                         F.coalesce(phone, F.lit("")),
                         F.coalesce(ip, F.lit(""))))


def tx_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    return curation.pii_scrub(_with_pii(_docs(spark, sf_dir)))


# ---------------------------------------------------------------------------
# streaming (§2.11) — availableNow over the events parquet, memory sink;
# result is the exact batch aggregate, hence oracle-able
# ---------------------------------------------------------------------------

def st_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sp.event_rollup_once(spark, sf_dir)


def st_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sp.sessionize_once(spark, sf_dir)


def st_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState) run to
    completion: the converged per-user state equals the batch aggregate
    because the state accumulates integer millis (order-independent)."""
    return sp.user_totals_once(spark, sf_dir)


def st_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X19 incremental near-dup stream run to completion over a 2-batch
    split of the corpus; the final pair set provably equals the batch
    LSH output, so it shares ``dd_minhash_lsh``'s oracle."""
    return sp.neardup_once(spark, sf_dir)


def st_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X54 incremental exact-dedup stream run to completion over the
    2-batch parity split; first-SEEN-wins under the deterministic batch
    order (evens then odds) is closed-form, so the oracle recomputes
    keep_id/n_docs from the flat corpus."""
    return sp.exact_dedup_once(spark, sf_dir)




def st_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X83 streaming HyperLogLog distinct users per event type: per
    micro-batch register maintenance, estimate folded from the register
    union (streaming/pipelines.py hll_stream_once); the oracle is the
    DIRECT batch SQL, so hash equality proves the stream lands on the
    identical registers whatever the batch boundaries."""
    from ..streaming import pipelines as sp

    return sp.hll_stream_once(spark, sf_dir)


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "tx_stratified_sample": tx_stratified_sample,
    "tx_mix_weights": tx_mix_weights,
    "tx_domain_cap": tx_domain_cap,
    "tx_repetition": tx_repetition,
    "tx_decontaminate": tx_decontaminate,
    "tx_pii_scrub": tx_pii_scrub,
    "st_event_rollup": st_event_rollup,
    "st_sessionize": st_sessionize,
    "st_user_totals": st_user_totals,
    "st_neardup_pairs": st_neardup_pairs,
    "st_exact_dedup": st_exact_dedup,
    "st_hll_distinct": st_hll_distinct,
}

_U = curation.hash_uniform_sql("doc_id")

_SHINGLES4 = f"""
    CASE WHEN len({_WORDS}) = 0 THEN []::VARCHAR[]
         WHEN len({_WORDS}) < 4 THEN [{_NORM}]
         ELSE list_distinct(list_transform(
              generate_series(1, len({_WORDS}) - 3),
              i -> {_WORDS}[i] || ' ' || {_WORDS}[i + 1] || ' ' ||
                   {_WORDS}[i + 2] || ' ' || {_WORDS}[i + 3]))
    END
"""

_PII_TEXT = """
    text
    || CASE WHEN doc_id % 3 = 0 THEN ' user' || CAST(doc_id AS VARCHAR)
            || '@mail' || CAST(doc_id % 7 AS VARCHAR) || '.example.com'
            ELSE '' END
    || CASE WHEN doc_id % 4 = 0 THEN ' +1-555-'
            || CAST(doc_id % 10000 AS VARCHAR) ELSE '' END
    || CASE WHEN doc_id % 5 = 0 THEN ' 10.' || CAST(doc_id % 256 AS VARCHAR)
            || '.0.' || CAST((doc_id * 7) % 256 AS VARCHAR) ELSE '' END
"""

_EMAIL_RE = curation.EMAIL_RE
_PHONE_RE = curation.PHONE_RE
_IPV4_RE = curation.IPV4_RE

ORACLES: dict[str, str] = {
    "tx_domain_cap": f"""
        WITH ranked AS (
            SELECT doc_id AS id, source AS domain,
                   round({_U}, 9) AS u,
                   CAST(row_number() OVER (
                        PARTITION BY source
                        ORDER BY round({_U}, 9), doc_id) AS INTEGER)
                       AS rank
            FROM documents WHERE length(text) > 0)
        SELECT id, domain, u, rank FROM ranked WHERE rank <= 15
    """,
    "tx_stratified_sample": f"""
        WITH counts AS (
            SELECT lang AS stratum, count(*) AS n
            FROM documents WHERE length(text) > 0 GROUP BY 1)
        SELECT doc_id AS id, lang AS stratum,
               round({_U}, 9) AS u,
               round(least(CAST(1 AS DOUBLE), CAST(60 AS DOUBLE) / n), 9) AS rate
        FROM documents JOIN counts ON lang = counts.stratum
        WHERE length(text) > 0
          AND round({_U}, 9)
              < round(least(CAST(1 AS DOUBLE), CAST(60 AS DOUBLE) / n), 9)
    """,
    "tx_mix_weights": """
        WITH per AS (
            SELECT source AS domain, count(*) AS n_docs,
                   CAST(sum(len(list_filter(string_split(
                        lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))),
                        ' '), w -> w <> ''))) AS BIGINT) AS n_tokens
            FROM documents WHERE length(text) > 0 GROUP BY 1),
        scaled AS (
            SELECT *, power(CAST(n_tokens AS DOUBLE), 0.7) AS s FROM per),
        tot AS (SELECT CAST(sum(s) AS DOUBLE) AS t,
                       CAST(sum(n_docs) AS BIGINT) AS d FROM scaled)
        SELECT domain, n_docs, n_tokens,
               round(s / t, 9) AS weight,
               round(s / t * CAST(d AS DOUBLE), 4) AS expected_docs
        FROM scaled, tot
    """,
    "tx_repetition": f"""
        WITH base AS (
            SELECT doc_id AS id, {_WORDS} AS w
            FROM documents WHERE length(text) > 0),
        bg AS (
            SELECT id, w[i] || ' ' || w[i + 1] AS bg
            FROM base, unnest(generate_series(1, len(w) - 1)) AS t(i)
            WHERE len(w) >= 2),
        per_bg AS (SELECT id, bg, count(*) AS c FROM bg GROUP BY id, bg),
        per_doc AS (
            SELECT id, CAST(max(c) AS BIGINT) AS top,
                   CAST(sum(c) AS BIGINT) AS n_bigrams
            FROM per_bg GROUP BY id)
        SELECT b.id, len(b.w) AS n_words,
               coalesce(d.n_bigrams, 0) AS n_bigrams,
               coalesce(round(CAST(d.top AS DOUBLE) / d.n_bigrams, 9),
                        CAST(0 AS DOUBLE)) AS top_bigram_frac,
               round(CAST(1 AS DOUBLE)
                     - CAST(len(list_distinct(b.w)) AS DOUBLE)
                       / greatest(len(b.w), 1), 9) AS dup_word_frac,
               coalesce(round(CAST(d.top AS DOUBLE) / d.n_bigrams, 9),
                        CAST(0 AS DOUBLE)) > 0.2 AS repetitive
        FROM base b LEFT JOIN per_doc d ON b.id = d.id
    """,
    "tx_decontaminate": f"""
        WITH sh AS (
            SELECT doc_id, {_SHINGLES4} AS grams
            FROM documents WHERE length(text) > 0),
        corpus AS (
            SELECT doc_id AS id, unnest(grams) AS g
            FROM sh WHERE doc_id % 41 <> 0),
        evals AS (
            SELECT DISTINCT doc_id AS eval_id, unnest(grams) AS g
            FROM sh WHERE doc_id % 41 = 0)
        SELECT id, count(DISTINCT c.g) AS n_shared_grams,
               count(DISTINCT eval_id) AS n_eval_docs
        FROM corpus c JOIN evals e ON c.g = e.g
        GROUP BY id
    """,
    "tx_pii_scrub": f"""
        WITH pii AS (
            SELECT doc_id, {_PII_TEXT} AS t
            FROM documents WHERE length(text) > 0)
        SELECT doc_id AS id,
               CAST(len(regexp_extract_all(t, '{_EMAIL_RE}')) AS BIGINT)
                   AS n_emails,
               CAST(len(regexp_extract_all(t, '{_PHONE_RE}')) AS BIGINT)
                   AS n_phones,
               CAST(len(regexp_extract_all(t, '{_IPV4_RE}')) AS BIGINT)
                   AS n_ips,
               md5(regexp_replace(regexp_replace(regexp_replace(
                       t, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                       '{_IPV4_RE}', '<IP>', 'g'),
                       '{_PHONE_RE}', '<PHONE>', 'g')) AS scrubbed_fp
        FROM pii
    """,
    "st_event_rollup": """
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
               event_type,
               count(*) AS cnt,
               CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT)
                   AS sum_millis
        FROM events GROUP BY 1, 2
    """,
    "st_user_totals": """
        SELECT user_id, count(*) AS n_events,
               CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT)
                   AS total_millis
        FROM events GROUP BY user_id
    """,
    "st_sessionize": """
        WITH o AS (
            SELECT user_id, ts,
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       AS prev
            FROM events),
        g AS (
            SELECT user_id, ts,
                   CAST(sum(CASE WHEN prev IS NULL
                                 OR ts - prev > INTERVAL 30 MINUTE
                            THEN 1 ELSE 0 END)
                        OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS grp
            FROM o)
        SELECT user_id, min(ts) AS session_start,
               max(ts) + INTERVAL 30 MINUTE AS session_end,
               count(*) AS n_events
        FROM g GROUP BY user_id, grp
    """,
}

# X19's finished stream equals the batch LSH output exactly (see
# streaming/pipelines.py:neardup_once) — it shares the batch oracle.
ORACLES["st_neardup_pairs"] = CORPUS_ORACLES["dd_minhash_lsh"]

# first-SEEN-wins under the deterministic batch order (evens stream
# first): min even doc_id of the group when one exists, else min odd
ORACLES["st_exact_dedup"] = f"""
    WITH d AS (
        SELECT doc_id, {H.fingerprint(DUCKDB, 'text')} AS fp
        FROM documents WHERE length(text) > 0
    )
    SELECT fp,
           COALESCE(MIN(CASE WHEN doc_id % 2 = 0 THEN doc_id END),
                    MIN(doc_id)) AS keep_id,
           COUNT(*) AS n_docs
    FROM d GROUP BY fp
"""


def st_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X62 watermarked stream-stream interval join run to completion
    over the 2-batch parity split (views batch 1, clicks batch 2 —
    every match crosses the micro-batch boundary through the join
    state); the 40-day watermark exceeds the 30-day corpus span so no
    state evicts and the result equals the batch join exactly."""
    return sp.stream_join_once(spark, sf_dir)


QUERIES["st_stream_join"] = st_stream_join

ORACLES["st_stream_join"] = """
    SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id,
           epoch_us(v.ts) AS view_us, epoch_us(c.ts) AS click_us
    FROM events v JOIN events c ON v.user_id = c.user_id
    WHERE v.event_id % 2 = 0 AND c.event_id % 2 = 1
      AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 10 MINUTE
"""


def st_enrich_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X70 stream-static enrichment join run to completion — the
    events stream joined to the static customer dim inside the
    streaming query, rolled up per (segment, event_type); equals the
    batch join+rollup exactly (the oracle)."""
    return sp.enrich_stream_once(spark, sf_dir)


QUERIES["st_enrich_join"] = st_enrich_join

ORACLES["st_enrich_join"] = """
    SELECT c.c_mktsegment AS segment, e.event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(floor(e.value * 1000) AS BIGINT)) AS BIGINT)
               AS sum_millis
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY 1, 2
"""


# the stream must land on the direct batch build's registers — same
# oracle as sk_hll_distinct minus the exact count (register-only state
# deliberately cannot produce one)
ORACLES["st_hll_distinct"] = (
    "SELECT grp, n_buckets, n_est FROM ("
    + SK.hll_distinct_sql("events", "event_type", "user_id")
    + ") t"
)

def st_scd2_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X90 — incremental SCD2 dimension maintenance (foreachBatch MERGE
    with snapshot swap + epoch watermark), two time-ordered
    micro-batches; final dimension == the x71 batch build, whose SQL is
    the oracle (the streaming analog of the sketch mergeability proofs:
    incremental upserts land on the identical versioned history)."""
    return sp.scd2_upsert_once(spark, sf_dir)


QUERIES["st_scd2_upsert"] = st_scd2_upsert

ORACLES["st_scd2_upsert"] = TEMPORAL_ORACLES["x71_scd2_build"]
