"""Corpus-curation query plans: dedup, similarity search, text analysis
over the ``documents`` and ``embeddings`` tables — the training-data
pipeline operators (driver brief), each with a DuckDB oracle.

All hashing is md5-based column arithmetic (functions.hashing) so the
oracle can reproduce every sketch bit-for-bit; float similarity is rounded
before ranking/filtering so cross-engine summation order can't flip the
value hash.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import hashing as H
from ..functions import text as T
from ..functions.dialect import DUCKDB, SPARK
from ..functions.sizing import small_exchange_parts, table_bytes
from ..operators import dedup, kmeans, similarity, textstats
from ..operators.curation import hash_uniform_sql
from ..sources.testdata import load_table

# Normalized text / word list, as DuckDB SQL fragments (must mirror
# functions.hashing.norm_text exactly).
_NORM = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"
_WORDS = f"list_filter(string_split({_NORM}, ' '), w -> w <> '')"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, "documents", sf_dir).where(F.length("text") > 0)


def _docs_parts(spark: SparkSession, sf_dir: str) -> int | None:
    """Bytes-derived exchange pin for the documents-corpus dedup
    operators (r15 item 1 — the measured per-task-constant tail at
    bench scale; functions/sizing.py).  None in every at-scale regime
    (≥ ~32 MB of documents parquet) keeps the session-partitioned
    plans the sf10/sf100 sessions proved."""
    return small_exchange_parts(spark, table_bytes(sf_dir, "documents"))


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, "embeddings", sf_dir)


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------

def dd_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup(_docs(spark, sf_dir))


def dd_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_lsh_pairs(
        _docs(spark, sf_dir), shingle_words=2, num_hashes=16, bands=8,
        min_jaccard=0.1,
    )


def dd_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X50 exact containment join (prefix filtering): ordered pairs
    where ≥80% of a's distinct 3-word shingles appear in b.  The ORACLE
    is the brute-force all-pairs containment join — hash equality
    proves the prefix filter is lossless (j3_border_correct pattern).
    """
    return dedup.containment_pairs(_docs(spark, sf_dir), shingle_words=3,
                                   tau_num=4, tau_den=5,
                                   parts=_docs_parts(spark, sf_dir))


def dd_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_table(_docs(spark, sf_dir))


def dd_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs under the blocked (top-16-bit prefix)
    default — the self-join is an equi-join on the prefix, never
    quadratic; the oracle mirrors the same blocking with ``>>`` so the
    missed-cross-prefix trade-off is identical on both sides."""
    return dedup.simhash_pairs(_docs(spark, sf_dir), max_hamming=10)


def dd_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level exact dedup: every repeated 8-word block keeps
    only its first (id, position) occurrence corpus-wide and documents
    are reassembled from their surviving blocks (operators/dedup.py
    ``block_dedup`` — the passage-removal form of train-set dedup)."""
    return dedup.block_dedup(_docs(spark, sf_dir), block_words=8)


#: Conjunctive keyword query for ``tx_keyword_search`` — all three words
#: must appear in the document.
_SEARCH_TERMS = ("spark", "merge", "window")


def emb_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X52 integer-exact k-means (k=8, 2 Lloyd rounds) over the
    embeddings table (operators/kmeans.py) — quantize → broadcast
    centroids → exact BIGINT argmin → truncating-integer-mean update.
    The oracle replays both rounds as a CTE chain; a hash match proves
    assignment, tiebreak, AND the centroid arithmetic are engine-exact.
    """
    return kmeans.kmeans_assign(_embs(spark, sf_dir), k=8, iters=2)


def dd_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X51 substring-level dedup: maximal word spans covered by a
    duplicated 5-gram window (operators/dedup.py ``duplicate_spans``).
    The oracle rebuilds the sliding windows from raw window TEXT, so a
    hash match also proves the xxhash64 window keying is lossless."""
    return dedup.duplicate_spans(_docs(spark, sf_dir), span_words=5)


def dd_dup_spans_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X57 span-removal APPLY: drop every word position covered by a
    non-first occurrence of a duplicated 5-gram and reassemble the
    corpus (operators/dedup.py ``apply_span_dedup`` — the
    passage-removal form of X51's detection pass)."""
    return dedup.apply_span_dedup(_docs(spark, sf_dir), span_words=5)


def tx_keyword_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive keyword search in the postings-intersection form:
    explode distinct words, keep ONLY the query terms (so the shuffle
    carries matching postings, not the corpus), then a count-matching
    HAVING per document — the inverted-index scan shape, vs the
    LIKE-scan that reads every byte of text at 100 TB.  The S9
    containment scan generalized from osm-ids to text terms."""
    docs = _docs(spark, sf_dir)
    words = docs.select(
        "doc_id", "lang", "n_chars",
        F.explode(F.array_distinct(
            F.filter(F.split(F.expr(H.norm_text(SPARK, "text")), " "),
                     lambda w: w != ""))).alias("w"),
    )
    hits = (
        words.where(F.col("w").isin(*_SEARCH_TERMS))
        .groupBy("doc_id", "lang", "n_chars")
        .agg(F.count(F.lit(1)).alias("n_terms"))
        .where(F.col("n_terms") == len(_SEARCH_TERMS))
    )
    return hits.select("doc_id", "lang", "n_chars")


def dd_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard within (lang × MinHash-band) blocks.

    Blocking on bare ``lang`` makes one task per language — a single
    GEMM over the whole corpus of the dominant language at 100 TB.
    Composing the language key with the 8 banded MinHash keys bounds
    every block by near-dup cluster size instead; the oracle mirrors
    the banded candidate generation so the pair set stays value-exact.
    One shingle pass feeds both the band keys and the exact shingle-id
    sets (``banded_ngram_jaccard_pairs``).
    """
    return dedup.banded_ngram_jaccard_pairs(
        _docs(spark, sf_dir), attr_col="lang", shingle_words=2,
        num_hashes=16, bands=8, min_jaccard=0.15,
        parts=_docs_parts(spark, sf_dir),
    )


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    embs = _embs(spark, sf_dir)
    queries = embs.where(F.col("vec_id") < 10)
    return similarity.cosine_topk(embs, queries, k=5)


def ann_knn_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN majority-vote auto-labeling: a BOUNDED probe set (every
    20th vector under id 1000 — ≤50 rows at any sf, so the broadcast
    side is constant) classified by its 7 nearest labeled neighbors
    (exact cosine, rounded, deterministic tiebreaks all the way
    down).  An unbounded probe side must go through the LSH/IVF paths
    instead."""
    embs = _embs(spark, sf_dir)
    probes = embs.where((F.col("vec_id") % 20 == 0)
                        & (F.col("vec_id") < 1000))
    return similarity.knn_label_predict(embs, probes, k=7)


def _parquet_num_rows(sf_dir: str, name: str) -> int | None:
    """Exact row count from the parquet footer — driver-side file
    metadata only, no Spark job, so plan builders that need a size hint
    stay lazy.  ``pyarrow.dataset`` handles both a single
    ``<name>.parquet`` file and a multi-file directory layout (testdata
    layout has drifted between rounds before — events.ts NANOS→MICROS);
    any metadata failure degrades to ``None`` (the fixed-grid fallback)
    rather than crashing plan construction."""
    import os

    try:
        import pyarrow.dataset as ds

        return sum(
            f.metadata.num_rows
            for f in ds.dataset(
                os.path.join(sf_dir, f"{name}.parquet"),
                format="parquet").get_fragments())
    except Exception:
        return None


def emb_neardup_hi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup census at the PRODUCTION threshold (cos >=
    0.90 — real corpora dedup at ~0.9+, not the 0.40 contract-tail
    regime emb_neardup_pairs measures): one row of (n_pairs, max_sim)
    from the exact chunk-pair GEMM kernel.  On the driver's isotropic
    corpus the census is empty by construction (zero structure above
    cos 0.7 — BASELINE.md r11 root-cause) and the oracle confirms the
    0; on the scale corpora the r12 generator PLANTS (copies-1) *
    floor(n/100) perturbed duplicates at cos 0.95
    (scripts/make_sf1.py), so the same query counts exactly the
    planted structure — linear decade over decade, the measurable
    third decade the r11 verdict asked for."""
    pairs = similarity.cosine_pairs_blocked(
        _embs(spark, sf_dir), threshold=0.90,
        n_hint=_parquet_num_rows(sf_dir, "embeddings"))
    return pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.max("sim").alias("max_sim"))


def emb_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (threshold tuned to the
    synthetic corpus' similarity distribution), via the distributed
    chunk-pair GEMM kernel — exact all-pairs, no driver collect, so the
    same plan survives an unbounded corpus.  The chunk grid is sized
    from the parquet footer row count (free), keeping construction
    lazy."""
    return similarity.cosine_pairs_blocked(
        _embs(spark, sf_dir), threshold=0.40,
        n_hint=_parquet_num_rows(sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

def tx_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.language_id(_docs(spark, sf_dir))


def tx_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.quality_score(_docs(spark, sf_dir))


def tx_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.token_counts(_docs(spark, sf_dir))


def tx_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.fingerprints(_docs(spark, sf_dir))


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "dd_exact": dd_exact,
    "dd_minhash_lsh": dd_minhash_lsh,
    "dd_containment": dd_containment,
    "dd_simhash": dd_simhash,
    "dd_simhash_pairs": dd_simhash_pairs,
    "dd_ngram_jaccard": dd_ngram_jaccard,
    "dd_blocks": dd_blocks,
    "dd_dup_spans": dd_dup_spans,
    "dd_dup_spans_apply": dd_dup_spans_apply,
    "emb_kmeans": emb_kmeans,
    "tx_keyword_search": tx_keyword_search,
    "ann_cosine_topk": ann_cosine_topk,
    "ann_knn_label": ann_knn_label,
    "emb_neardup_pairs": emb_neardup_pairs,
    "emb_neardup_hi": emb_neardup_hi,
    "tx_language_id": tx_language_id,
    "tx_quality_score": tx_quality_score,
    "tx_token_counts": tx_token_counts,
    "tx_fingerprints": tx_fingerprints,
}

# --- shared SQL fragments ---------------------------------------------------

# 3-word shingles of the normalized text (mirrors exploded_shingles n=3)
_SHINGLES3 = f"""
    CASE WHEN len({_WORDS}) = 0 THEN []::VARCHAR[]
         WHEN len({_WORDS}) < 3 THEN [{_NORM}]
         ELSE list_distinct(list_transform(
              generate_series(1, len({_WORDS}) - 2),
              i -> {_WORDS}[i] || ' ' || {_WORDS}[i + 1]
                   || ' ' || {_WORDS}[i + 2]))
    END
"""

# 2-word shingles of the normalized text (mirrors hashing.word_shingles n=2)
_SHINGLES2 = f"""
    CASE WHEN len({_WORDS}) = 0 THEN []::VARCHAR[]
         WHEN len({_WORDS}) < 2 THEN [{_NORM}]
         ELSE list_distinct(list_transform(
              generate_series(1, len({_WORDS}) - 1),
              i -> {_WORDS}[i] || ' ' || {_WORDS}[i + 1]))
    END
"""

_SIMHASH_SQL = """
    WITH w AS (
        SELECT doc_id, unnest(list_distinct({words})) AS word
        FROM documents WHERE length(text) > 0),
    hx AS (SELECT doc_id, md5(word) AS h FROM w),
    bits AS (
        SELECT doc_id, bit,
               CASE WHEN CAST(floor(
                        (strpos('0123456789abcdef', substr(h, CAST(bit // 4 AS INT) + 1, 1)) - 1)
                        / power(2, 3 - (bit % 4))) AS INT) % 2 = 1
                    THEN 1 ELSE -1 END AS v
        FROM hx, generate_series(0, 63) AS t(bit)),
    votes AS (SELECT doc_id, bit, sum(v) AS s FROM bits GROUP BY doc_id, bit)
    SELECT doc_id AS id,
           CAST(sum(CASE WHEN s > 0 THEN
                    (CASE WHEN bit = 0 THEN CAST(-9223372036854775808 AS HUGEINT)
                          ELSE CAST(power(2, 63 - bit) AS HUGEINT) END)
                    ELSE 0 END) AS BIGINT) AS simhash
    FROM votes GROUP BY doc_id
""".format(words=_WORDS)

# MinHash mins/bands CTE text shared by the two banded-LSH oracles —
# the SAME one-md5-base + universal-hash-permutation family the Spark
# operators compute (functions/hashing.py: minhash_base/minhash_perm);
# integer arithmetic is engine-independent, so the band keys are
# bit-identical.

_MH_PERM = H.minhash_perm(DUCKDB, "seed", H.minhash_base(DUCKDB, "s"))

_MINHASH_MINS_BANDS = f"""
        mins AS (
            SELECT doc_id, seed,
                   min({_MH_PERM}) AS mh
            FROM sh, unnest(sh.shingles) AS u(s),
                 generate_series(0, 15) AS g(seed)
            GROUP BY doc_id, seed),
        bands AS (
            SELECT doc_id,
                   (seed // 2)::VARCHAR || '|' ||
                       md5(string_agg(CAST(mh AS VARCHAR), ','
                                      ORDER BY seed)) AS band
            FROM mins GROUP BY doc_id, (seed // 2))"""

ORACLES: dict[str, str] = {
    "dd_exact": f"""
        SELECT md5({_NORM}) AS fp, min(doc_id) AS keep_id,
               count(*) AS group_size
        FROM documents WHERE length(text) > 0
        GROUP BY 1
    """,
    "dd_minhash_lsh": f"""
        WITH sh AS (
            SELECT doc_id, {_SHINGLES2} AS shingles
            FROM documents WHERE length(text) > 0),
        {_MINHASH_MINS_BANDS},
        cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM bands a JOIN bands b USING (band)
            WHERE a.doc_id < b.doc_id)
        SELECT id_a, id_b,
               round(len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
                     / len(list_distinct(sa.shingles || sb.shingles)), 6) AS jaccard
        FROM cand
        JOIN sh sa ON sa.doc_id = id_a
        JOIN sh sb ON sb.doc_id = id_b
        WHERE round(len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
                    / len(list_distinct(sa.shingles || sb.shingles)), 6) >= 0.1
    """,
    "dd_simhash": _SIMHASH_SQL,
    "dd_simhash_pairs": f"""
        WITH sim AS ({_SIMHASH_SQL}),
        blk AS (SELECT id, simhash, simhash >> 48 AS blk FROM sim)
        SELECT a.id AS id_a, b.id AS id_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER)
                   AS hamming
        FROM blk a JOIN blk b ON a.blk = b.blk AND a.id < b.id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 10
    """,
    "tx_keyword_search": f"""
        SELECT doc_id, lang, n_chars
        FROM documents
        WHERE length(text) > 0
          AND list_has_all({_WORDS},
                           ['spark', 'merge', 'window'])
    """,
    "dd_blocks": f"""
        WITH base AS (
            SELECT doc_id, {_WORDS} AS lw
            FROM documents WHERE length(text) > 0
        ), blocks AS (
            SELECT doc_id, CAST(i - 1 AS BIGINT) AS b,
                   array_to_string(
                       list_slice(lw, (i - 1) * 8 + 1, i * 8), ' ') AS btxt
            FROM base,
                 unnest(generate_series(
                     1, CAST(ceil(len(lw) / 8.0) AS BIGINT))) AS t(i)
        ), ranked AS (
            SELECT doc_id, b, btxt,
                   row_number() OVER (PARTITION BY btxt
                                      ORDER BY doc_id, b) AS rn
            FROM blocks
        ), agg AS (
            SELECT doc_id, COUNT(*) AS n_blocks,
                   COUNT(CASE WHEN rn = 1 THEN 1 END) AS n_kept,
                   string_agg(btxt, ' ' ORDER BY b)
                       FILTER (WHERE rn = 1) AS text_kept
            FROM ranked GROUP BY doc_id
        )
        SELECT d.doc_id AS id,
               CAST(COALESCE(a.n_blocks, 0) AS BIGINT) AS n_blocks,
               CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_kept,
               COALESCE(a.text_kept, '') AS text_kept
        FROM documents d LEFT JOIN agg a USING (doc_id)
        WHERE length(d.text) > 0
    """,
    # both Lloyd rounds replayed as a CTE chain in the same BIGINT
    # arithmetic (floor-quantize, exact L2², truncating integer mean)
    "emb_kmeans": """
        WITH q AS (
            SELECT vec_id AS id,
                   list_transform(embedding,
                       x -> CAST(floor(CAST(x AS DOUBLE) * 1000000)
                                 AS BIGINT)) AS qv
            FROM embeddings
        ), qd AS (
            SELECT id, CAST(i - 1 AS INT) AS dim, qv[i] AS v
            FROM q, unnest(generate_series(1, len(qv))) AS t(i)
        ), c0 AS (
            SELECT cid, CAST(i - 1 AS INT) AS dim, cv[i] AS m
            FROM (SELECT id AS cid, qv AS cv FROM q
                  ORDER BY id LIMIT 8) s,
                 unnest(generate_series(1, len(cv))) AS t(i)
        ), a1 AS (
            SELECT qd.id, c.cid,
                   CAST(SUM((qd.v - c.m) * (qd.v - c.m)) AS BIGINT) AS d2
            FROM qd JOIN c0 c USING (dim)
            GROUP BY qd.id, c.cid
        ), asg1 AS (
            SELECT id, cid,
                   row_number() OVER (PARTITION BY id
                                      ORDER BY d2, cid) AS rn
            FROM a1
        ), c1 AS (
            SELECT a.cid, qd.dim,
                   CAST(SUM(qd.v) AS BIGINT) // COUNT(*) AS m
            FROM (SELECT id, cid FROM asg1 WHERE rn = 1) a
            JOIN qd USING (id)
            GROUP BY a.cid, qd.dim
        ), a2 AS (
            SELECT qd.id, c.cid,
                   CAST(SUM((qd.v - c.m) * (qd.v - c.m)) AS BIGINT) AS d2
            FROM qd JOIN c1 c USING (dim)
            GROUP BY qd.id, c.cid
        ), asg2 AS (
            SELECT id, cid, d2,
                   row_number() OVER (PARTITION BY id
                                      ORDER BY d2, cid) AS rn
            FROM a2
        )
        SELECT id AS vec_id, cid AS cluster, d2 FROM asg2 WHERE rn = 1
    """,
    # windows grouped by raw TEXT (not hash) — hash equality with the
    # Spark side proves the xxhash64 window keying is lossless
    "dd_dup_spans": f"""
        WITH base AS (
            SELECT doc_id, {_WORDS} AS lw
            FROM documents WHERE length(text) > 0
        ), wins AS (
            SELECT doc_id, CAST(i - 1 AS BIGINT) AS start,
                   array_to_string(list_slice(lw, i, i + 4), ' ') AS wtext
            FROM base,
                 unnest(generate_series(1, len(lw) - 4)) AS t(i)
        ), dup AS (
            SELECT wtext FROM wins GROUP BY wtext HAVING COUNT(*) >= 2
        ), dwin AS (
            SELECT doc_id, start FROM wins
            WHERE wtext IN (SELECT wtext FROM dup)
        ), isl AS (
            SELECT doc_id, start,
                   CASE WHEN start - lag(start) OVER (
                            PARTITION BY doc_id ORDER BY start) <= 5
                        THEN 0 ELSE 1 END AS brk
            FROM dwin
        ), isl2 AS (
            SELECT doc_id, start,
                   sum(brk) OVER (PARTITION BY doc_id ORDER BY start
                                  ROWS UNBOUNDED PRECEDING) AS grp
            FROM isl
        )
        SELECT doc_id, min(start) AS span_start,
               max(start) + 4 AS span_end,
               max(start) + 5 - min(start) AS span_words
        FROM isl2 GROUP BY doc_id, grp
    """,
    # rank by raw window TEXT; covered positions of rank>=2 windows are
    # removed and the doc is reassembled — mirrors apply_span_dedup
    "dd_dup_spans_apply": f"""
        WITH base AS (
            SELECT doc_id, {_WORDS} AS lw
            FROM documents WHERE length(text) > 0
        ), wins AS (
            SELECT doc_id, CAST(i - 1 AS BIGINT) AS start,
                   array_to_string(list_slice(lw, i, i + 4), ' ') AS wtext
            FROM base,
                 unnest(generate_series(1, len(lw) - 4)) AS t(i)
        ), ranked AS (
            SELECT doc_id, start,
                   row_number() OVER (PARTITION BY wtext
                                      ORDER BY doc_id, start) AS rn
            FROM wins
        ), cov AS (
            SELECT DISTINCT doc_id, start + j AS pos
            FROM ranked, unnest(generate_series(0, 4)) AS u(j)
            WHERE rn >= 2
        ), words AS (
            SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, lw[i] AS w
            FROM base, unnest(generate_series(1, len(lw))) AS t(i)
        ), kept AS (
            SELECT w.doc_id, w.pos, w.w
            FROM words w
            WHERE NOT EXISTS (SELECT 1 FROM cov c
                              WHERE c.doc_id = w.doc_id AND c.pos = w.pos)
        ), agg AS (
            SELECT doc_id, COUNT(*) AS n_kept,
                   string_agg(w, ' ' ORDER BY pos) AS text_kept
            FROM kept GROUP BY doc_id
        ), tot AS (
            SELECT doc_id, COUNT(*) AS n_words FROM words GROUP BY doc_id
        )
        SELECT d.doc_id AS id,
               CAST(COALESCE(t.n_words, 0) AS BIGINT) AS n_words,
               CAST(COALESCE(t.n_words, 0) - COALESCE(a.n_kept, 0)
                    AS BIGINT) AS n_removed,
               COALESCE(a.text_kept, '') AS text_kept
        FROM documents d
        LEFT JOIN tot t USING (doc_id)
        LEFT JOIN agg a USING (doc_id)
        WHERE length(d.text) > 0
    """,
    # brute-force all-pairs containment — hash equality with the Spark
    # side proves the prefix-filter blocking loses no pair
    "dd_containment": f"""
        WITH sh AS (
            SELECT doc_id, {_SHINGLES3} AS shingles
            FROM documents WHERE length(text) > 0)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(len(a.shingles) AS BIGINT) AS n_a,
               CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                   / len(a.shingles) AS containment
        FROM sh a JOIN sh b ON a.doc_id != b.doc_id
        WHERE 5 * len(list_intersect(a.shingles, b.shingles))
              >= 4 * len(a.shingles)
    """,
    "dd_ngram_jaccard": f"""
        WITH sh AS (
            SELECT doc_id, lang, {_SHINGLES2} AS shingles
            FROM documents WHERE length(text) > 0),
        {_MINHASH_MINS_BANDS},
        cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM bands a JOIN bands b USING (band)
            JOIN sh sa ON sa.doc_id = a.doc_id
            JOIN sh sb ON sb.doc_id = b.doc_id
            WHERE a.doc_id < b.doc_id AND sa.lang = sb.lang)
        SELECT id_a, id_b,
               round(len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
                     / len(list_distinct(sa.shingles || sb.shingles)), 6) AS jaccard
        FROM cand
        JOIN sh sa ON sa.doc_id = id_a
        JOIN sh sb ON sb.doc_id = id_b
        WHERE round(len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
                    / len(list_distinct(sa.shingles || sb.shingles)), 6) >= 0.15
    """,
    "ann_cosine_topk": """
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        scored AS (
            SELECT q.vec_id AS q_id, c.vec_id AS c_id,
                   round(list_dot_product(q.v, c.v)
                         / (sqrt(list_dot_product(q.v, q.v))
                            * sqrt(list_dot_product(c.v, c.v))), 4) AS sim
            FROM e q, e c
            WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id),
        ranked AS (
            SELECT q_id, c_id, sim,
                   row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id ASC) AS rank
            FROM scored)
        SELECT q_id, c_id, sim, CAST(rank AS INTEGER) AS rank
        FROM ranked WHERE rank <= 5
    """,
    "ann_knn_label": """
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        scored AS (
            SELECT q.vec_id AS q_id, c.vec_id AS c_id,
                   round(list_dot_product(q.v, c.v)
                         / (sqrt(list_dot_product(q.v, q.v))
                            * sqrt(list_dot_product(c.v, c.v))), 4) AS sim
            FROM e q, e c
            WHERE q.vec_id % 20 = 0 AND q.vec_id < 1000
              AND q.vec_id <> c.vec_id),
        ranked AS (
            SELECT q_id, c_id,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY sim DESC, c_id ASC) AS rank
            FROM scored),
        votes AS (
            SELECT t.q_id, l.label AS nbr_label, COUNT(*) AS votes
            FROM ranked t JOIN embeddings l ON l.vec_id = t.c_id
            WHERE t.rank <= 7 GROUP BY 1, 2),
        pick AS (
            SELECT q_id, nbr_label, votes,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY votes DESC, nbr_label ASC) AS rk
            FROM votes)
        SELECT p.q_id, p.nbr_label AS pred_label,
               CAST(p.votes AS BIGINT) AS votes,
               q.label AS true_label,
               (p.nbr_label = q.label) AS correct
        FROM pick p JOIN embeddings q ON q.vec_id = p.q_id
        WHERE p.rk = 1
    """,
    "emb_neardup_pairs": """
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_dot_product(a.v, b.v)
                     / (sqrt(list_dot_product(a.v, a.v))
                        * sqrt(list_dot_product(b.v, b.v))), 4) AS sim
        FROM e a, e b
        WHERE a.vec_id < b.vec_id
          AND round(list_dot_product(a.v, b.v)
                    / (sqrt(list_dot_product(a.v, a.v))
                       * sqrt(list_dot_product(b.v, b.v))), 4) >= 0.40
    """,
    "emb_neardup_hi": """
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs, MAX(sim) AS max_sim
        FROM (
            SELECT round(list_dot_product(a.v, b.v)
                         / (sqrt(list_dot_product(a.v, a.v))
                            * sqrt(list_dot_product(b.v, b.v))), 4) AS sim
            FROM e a, e b
            WHERE a.vec_id < b.vec_id
              AND round(list_dot_product(a.v, b.v)
                        / (sqrt(list_dot_product(a.v, a.v))
                           * sqrt(list_dot_product(b.v, b.v))), 4) >= 0.90
        )
    """,
    "tx_language_id": f"""
        WITH base AS (
            SELECT doc_id AS id, {_WORDS} AS w,
                   greatest(len({_WORDS}), 1) AS n
            FROM documents WHERE length(text) > 0),
        ratios AS (
            SELECT id,
                   round(len(list_filter(w, x -> list_contains(['der','die','das','und','zu','in','ist','ein','nicht','mit'], x)))::DOUBLE / n, 6) AS r_de,
                   round(len(list_filter(w, x -> list_contains(['the','a','of','and','to','in','is','it','that','for'], x)))::DOUBLE / n, 6) AS r_en,
                   round(len(list_filter(w, x -> list_contains(['el','la','de','y','que','en','un','una','los','por'], x)))::DOUBLE / n, 6) AS r_es,
                   round(len(list_filter(w, x -> list_contains(['le','la','de','et','que','en','un','une','les','pour'], x)))::DOUBLE / n, 6) AS r_fr
            FROM base)
        SELECT id,
               CASE WHEN greatest(r_de, r_en, r_es, r_fr) > 0 THEN
                    (CASE WHEN r_de = greatest(r_de, r_en, r_es, r_fr) THEN 'de'
                          WHEN r_en = greatest(r_de, r_en, r_es, r_fr) THEN 'en'
                          WHEN r_es = greatest(r_de, r_en, r_es, r_fr) THEN 'es'
                          ELSE 'fr' END)
                    ELSE 'und' END AS pred_lang,
               greatest(r_de, r_en, r_es, r_fr) AS best_ratio
        FROM ratios
    """,
    "tx_quality_score": f"""
        WITH base AS (
            SELECT doc_id AS id, text, {_WORDS} AS w FROM documents
            WHERE length(text) > 0)
        SELECT id,
               CAST(length(text) AS INTEGER) AS n_chars,
               CAST(len(w) AS INTEGER) AS n_words,
               round(CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE)
                     / greatest(len(w), 1), 4) AS mean_word_len,
               round(CAST(length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{{-~]', '', 'g')) AS DOUBLE)
                     / greatest(length(text), 1), 6) AS punct_ratio,
               round(CAST(len(list_filter(list_transform(w, x -> lower(x)),
                     x -> list_contains(['the','a','of','and','to','in','is','it','that','for'], x))) AS DOUBLE)
                     / greatest(len(w), 1), 6) AS stopword_ratio,
               round(least(1.0, greatest(0.0,
                     0.3 + 0.4 * least(len(w) / 100.0, 1.0)
                     + 0.3 * round(CAST(len(list_filter(list_transform(w, x -> lower(x)),
                           x -> list_contains(['the','a','of','and','to','in','is','it','that','for'], x))) AS DOUBLE)
                           / greatest(len(w), 1), 6)
                     - 0.5 * round(CAST(length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{{-~]', '', 'g')) AS DOUBLE)
                           / greatest(length(text), 1), 6))), 6) AS quality_score
        FROM base
    """,
    "tx_token_counts": """
        SELECT doc_id AS id,
               CAST(len(list_filter(string_split_regex(text, '\\s+'), w -> w <> '')) AS INTEGER) AS ws_tokens,
               CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), w -> w <> '')) AS INTEGER) AS alnum_words,
               CAST(COALESCE(list_sum(list_transform(
                    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), w -> w <> ''),
                    w -> CAST(ceil(length(w) / 4.0) AS BIGINT))), 0) AS BIGINT) AS subword_tokens
        FROM documents WHERE length(text) > 0
    """,
    "tx_fingerprints": f"""
        WITH sh AS ({_SIMHASH_SQL})
        SELECT d.doc_id AS id, md5({_NORM}) AS fingerprint, sh.simhash
        FROM documents d JOIN sh ON sh.id = d.doc_id
        WHERE length(text) > 0
    """,
}


def emb_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path embedding near-dup (OR-banded hyperplane LSH +
    per-bucket GEMM), reported as an INVARIANT check (the g2 pattern:
    the approximate assignment is not SQL-expressible, its invariants
    are).  The query runs the real LSH kernel AND the exact
    chunk-pair-GEMM kernel, full-outer-joins the pair sets, and emits
    one row: n_exact (the oracle recomputes it brute-force),
    n_false_pos = 0 (every LSH pair is verified with the exact cosine,
    so a non-true pair is a kernel bug), sim_mismatches = 0 (the
    verified similarity must equal the exact kernel's value
    bit-for-bit), and recall_ok pinned at the ≥50% floor the corpus
    sustains (the fine-grained recall curve stays in
    tests/test_similarity_lsh.py).  Production uses the pair stream
    directly; this contract query is the harness form."""
    embs = _embs(spark, sf_dir)
    # planes pinned at the design default (3): this query's CONTRACT is
    # the recall_ok >= 50% floor, and recall is a function of the
    # signature shape — auto-growing planes with the corpus (the
    # production census path, r12) drops tail recall below the floor
    # at sf10+ (threshold-0.40 pairs: ~0.82 at planes 3 vs ~0.32 at 6).
    # At-scale pair production uses cosine_pairs_lsh(n_hint=...) with
    # the auto signature; this invariant harness keeps the fixed one.
    lsh = similarity.cosine_pairs_lsh(embs, threshold=0.40, planes=3)
    exact = similarity.cosine_pairs_blocked(
        embs, threshold=0.40,
        n_hint=_parquet_num_rows(sf_dir, "embeddings"))
    ex = exact.select("id_a", "id_b", F.col("sim").alias("esim"))
    ls = lsh.select("id_a", "id_b", F.col("sim").alias("lsim"))
    j = ex.join(ls, ["id_a", "id_b"], "full_outer")
    zero = F.lit(0).cast("long")
    return j.agg(
        F.count("esim").alias("n_exact"),
        F.coalesce(F.sum(F.when(F.col("esim").isNull(), 1)), zero)
        .cast("long").alias("n_false_pos"),
        F.coalesce(F.sum(F.when(F.col("lsim").isNotNull()
                                & F.col("esim").isNotNull()
                                & (F.col("lsim") != F.col("esim")), 1)),
                   zero).cast("long").alias("sim_mismatches"),
        (F.count("lsim") * 2 >= F.count("esim")).alias("recall_ok"),
    )


QUERIES["emb_neardup_lsh"] = emb_neardup_lsh

ORACLES["emb_neardup_lsh"] = """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    exact AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM e a, e b
        WHERE a.vec_id < b.vec_id
          AND round(list_dot_product(a.v, b.v)
                    / (sqrt(list_dot_product(a.v, a.v))
                       * sqrt(list_dot_product(b.v, b.v))), 4) >= 0.40)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(0 AS BIGINT) AS n_false_pos,
           CAST(0 AS BIGINT) AS sim_mismatches,
           TRUE AS recall_ok
    FROM exact
"""


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate top-k as an INVARIANT check (same
    pattern as emb_neardup_lsh): runs the real IVF kernel and the exact
    brute-force ranking over the vec_id<50 query set, joins on
    (q_id, c_id), and emits one row — n_queries and n_exact_rows (the
    oracle recomputes both), sim_mismatches = 0 (any candidate IVF
    returns carries the exact rounded cosine), recall_ok pinned at the
    ≥60% aggregate floor (5·hits ≥ 3·exact_rows, integer arithmetic).
    IVF rows outside the exact top-k are legal (a probed 6th-best),
    only hit-set size and value equality are invariant."""
    embs = _embs(spark, sf_dir)
    queries = embs.where(F.col("vec_id") < 50)
    ivf = similarity.cosine_topk_ivf(embs, queries, k=5,
                                     n_cells=16, n_probe=6)
    exact = similarity.cosine_topk(embs, queries, k=5)
    ex = exact.select("q_id", "c_id", F.col("sim").alias("esim"))
    iv = ivf.select("q_id", "c_id", F.col("sim").alias("isim"))
    j = ex.join(iv, ["q_id", "c_id"], "full_outer")
    zero = F.lit(0).cast("long")
    hits = F.count(F.when(F.col("esim").isNotNull()
                          & F.col("isim").isNotNull(), 1))
    return j.agg(
        F.countDistinct("q_id").alias("n_queries"),
        F.count("esim").alias("n_exact_rows"),
        F.coalesce(F.sum(F.when(F.col("esim").isNotNull()
                                & F.col("isim").isNotNull()
                                & (F.col("esim") != F.col("isim")), 1)),
                   zero).cast("long").alias("sim_mismatches"),
        (hits * 5 >= F.count("esim") * 3).alias("recall_ok"),
    )


QUERIES["ann_ivf_topk"] = ann_ivf_topk

ORACLES["ann_ivf_topk"] = """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    scored AS (
        SELECT q.vec_id AS q_id, c.vec_id AS c_id,
               round(list_dot_product(q.v, c.v)
                     / (sqrt(list_dot_product(q.v, q.v))
                        * sqrt(list_dot_product(c.v, c.v))), 4) AS sim
        FROM e q, e c
        WHERE q.vec_id < 50 AND q.vec_id <> c.vec_id),
    ranked AS (
        SELECT q_id, c_id,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY sim DESC, c_id ASC) AS rank
        FROM scored)
    SELECT CAST(COUNT(DISTINCT q_id) AS BIGINT) AS n_queries,
           CAST(COUNT(*) AS BIGINT) AS n_exact_rows,
           CAST(0 AS BIGINT) AS sim_mismatches,
           TRUE AS recall_ok
    FROM ranked WHERE rank <= 5
"""


#: The LSH parameters shaping the dup-group mapping — ONE dict feeds
#: dd_dup_groups, the staged mapping's cache id, AND the staged build
#: (r8 ADVICE: a hand-maintained key string duplicated from literal
#: kwargs could drift and serve a stale mapping).  Must match the
#: dd_minhash_lsh oracle constants.
_DUP_GROUP_KNOBS = dict(shingle_words=2, num_hashes=16, bands=8,
                        min_jaccard=0.1)


def dd_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-group formation: minhash-LSH near-dup pairs → connected
    components → (node, canonical_id, group_size).  The oracle replays
    the same pair list through a recursive min-reachability CTE, so the
    distributed label propagation is value-checked end to end."""
    from ..operators.components import dedup_groups

    pairs = dedup.minhash_lsh_pairs(
        _docs(spark, sf_dir),
        **_DUP_GROUP_KNOBS)  # same knobs as dd_minhash_lsh / its oracle
    return dedup_groups(pairs)


QUERIES["dd_dup_groups"] = dd_dup_groups


def _knobs_cid(knobs: dict) -> str:
    """Deterministic cache-id fragment from a knob dict: md5 of the
    sorted ``key=repr(value)`` form.  Non-lossy by construction — the
    r9 initials+strip-dots encoding aliased distinct knob dicts
    (``min_jaccard=1.0`` and ``min_jaccard=10`` both encoded ``mj10``;
    keys sharing initials collided), and an aliased id serves a stale
    staged mapping, the exact failure the knob-derived key exists to
    prevent (r9 ADVICE)."""
    import hashlib

    canon = ",".join(f"{k}={v!r}" for k, v in sorted(knobs.items()))
    return hashlib.md5(canon.encode()).hexdigest()[:16]


def _staged_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-once materialization of the dup-group mapping
    (node, canonical_id, group_size) — the production layout: the
    LSH + connected-components clustering runs ONCE per corpus version
    and every consumer (survivor selection, leakage-proof splits,
    keep-best policies) JOINS the mapping instead of recomputing the
    iterative contraction.  Keyed on the documents parquet's mtime+size
    (the stale-cache rule); ``dd_dup_groups`` itself stays a live CC
    run, so the contraction loop remains driver-checked every round."""
    import os

    from ..operators.components import dedup_groups
    from ..sources import staging

    # the cache id embeds every knob that shapes the mapping, so a
    # future parameter change can never serve the stale stage (the
    # split-stager v2_ lesson applied preemptively).  The SAME dict
    # (_DUP_GROUP_KNOBS) feeds the key and the computation — they
    # cannot drift.
    # sf dir FIRST, knobs second: the prune prefix then covers BOTH
    # drift axes — a knob change orphans the old-knob mapping exactly
    # like a testdata refresh orphans the old fingerprint (r13 review;
    # a knob-embedded prefix left old-knob copies on /tmp forever)
    prefix = (f"dupgroups_{os.path.basename(os.path.normpath(sf_dir))}_")
    cid = (prefix + f"{_knobs_cid(_DUP_GROUP_KNOBS)}_"
           + staging.source_fingerprint(sf_dir, "documents"))

    # (the one-time pre-r13-layout migration that used to run here was
    # removed after one round per the r14 ADVICE: it re-ran on every
    # access and its keep="" prune could delete a still-current stage;
    # old-layout names can no longer be created, and every r13 access
    # already pruned the stale ones.)

    def build() -> DataFrame:
        pairs = dedup.minhash_lsh_pairs(_docs(spark, sf_dir),
                                        **_DUP_GROUP_KNOBS)
        return dedup_groups(pairs)

    return staging.stage_raw(
        spark, build,
        staging.stage_root(), cid,
        prune_prefix=prefix)


def dd_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's END action: one row per document with its
    canonical id, duplicate-group size, and whether a keep-one-per-group
    pass retains it — pairs → groups → survivor flags, the frame a
    curation pipeline actually filters on.  Consumes the staged
    dup-group mapping (see ``_staged_dup_groups``)."""
    docs = _docs(spark, sf_dir)
    groups = _staged_dup_groups(spark, sf_dir)
    base = docs.select(F.col("doc_id").alias("id"))
    return (
        base.join(groups, base["id"] == groups["node"], "left")
        .select(
            "id",
            F.coalesce("canonical_id", F.col("id")).alias("canonical_id"),
            F.coalesce("group_size", F.lit(1).cast("bigint"))
            .alias("group_size"),
            (F.coalesce("canonical_id", F.col("id")) == F.col("id"))
            .alias("kept"),
        )
    )


QUERIES["dd_apply"] = dd_apply

def _cc_groups_oracle(pairs_sql: str) -> str:
    """Recursive min-reachability CC over any (id_a, id_b) pair SQL —
    the one oracle formulation for every dedup_groups() twin
    (dd_dup_groups over minhash-LSH pairs, mm_phash_groups over pHash
    pairs), so a semantics tweak to the CTE reaches all of them."""
    return f"""
    WITH RECURSIVE pairs AS (
        {pairs_sql}
    ),
    sym AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION
        SELECT id_b, id_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS node FROM sym),
    walk(node, reach) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT s.a, w.reach FROM sym s JOIN walk w ON s.b = w.node
    ),
    comp AS (SELECT node, MIN(reach) AS canonical_id FROM walk GROUP BY node)
    SELECT node, canonical_id,
           COUNT(*) OVER (PARTITION BY canonical_id) AS group_size
    FROM comp
"""


ORACLES["dd_dup_groups"] = _cc_groups_oracle(ORACLES["dd_minhash_lsh"])

ORACLES["dd_apply"] = f"""
    WITH groups AS ({ORACLES["dd_dup_groups"]}),
    base AS (SELECT doc_id AS id FROM documents WHERE length(text) > 0)
    SELECT b.id,
           COALESCE(g.canonical_id, b.id) AS canonical_id,
           CAST(COALESCE(g.group_size, 1) AS BIGINT) AS group_size,
           (COALESCE(g.canonical_id, b.id) = b.id) AS kept
    FROM base b LEFT JOIN groups g ON g.node = b.id
"""


def emb_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (X28, Abbas et al. 2023): one row
    per embedding with its semantic-duplicate group and the
    keep-one-per-group decision — the embedding-space sibling of
    ``dd_apply``.  Pairs come from the exact chunk-pair GEMM at
    cosine ≥ 0.40, groups from the Hash-to-Min CC contraction, the
    kept representative is the min id.  Eager by necessity (CC loop,
    EAGER_BUILD_OK)."""
    from ..operators.components import dedup_groups

    embs = _embs(spark, sf_dir)
    pairs = similarity.cosine_pairs_blocked(
        embs, threshold=0.40,
        n_hint=_parquet_num_rows(sf_dir, "embeddings"))
    groups = dedup_groups(pairs)
    base = embs.select(F.col("vec_id").alias("id"))
    return (
        base.join(groups, base["id"] == groups["node"], "left")
        .select(
            "id",
            F.coalesce("canonical_id", F.col("id")).alias("canonical_id"),
            F.coalesce("group_size", F.lit(1).cast("bigint"))
            .alias("group_size"),
            (F.coalesce("canonical_id", F.col("id")) == F.col("id"))
            .alias("kept"),
        )
    )


QUERIES["emb_semdedup"] = emb_semdedup


def emb_scalar_quant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 scalar quantization of the embedding table against global
    per-dimension min/max, with reconstruction MSE — the compression
    pass an ANN serving tier runs before indexing
    (operators/similarity.py ``scalar_quantize``)."""
    return similarity.scalar_quantize(_embs(spark, sf_dir))


QUERIES["emb_scalar_quant"] = emb_scalar_quant

_SQ_CODE = ("CASE WHEN mxs[i] - mns[i] > 0 THEN "
            "floor((v[i] - mns[i]) / (mxs[i] - mns[i]) * 255.0 + 0.5) "
            "ELSE 0 END")
_SQ_RECON = f"(mns[i] + ({_SQ_CODE}) / 255.0 * (mxs[i] - mns[i]))"
_SQ_ERR = f"(v[i] - {_SQ_RECON}) * (v[i] - {_SQ_RECON})"

ORACLES["emb_scalar_quant"] = f"""
    WITH e AS (
        SELECT vec_id AS id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ), dims AS (
        SELECT i, MIN(v[i]) AS mn, MAX(v[i]) AS mx
        FROM e, unnest(generate_series(1, len(v))) AS t(i)
        GROUP BY i
    ), s AS (
        SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs
        FROM dims
    ), q AS (SELECT id, v, mns, mxs FROM e CROSS JOIN s)
    SELECT id,
           array_to_string(list_transform(generate_series(1, len(v)),
               i -> CAST(CAST({_SQ_CODE} AS BIGINT) AS VARCHAR)), ',')
               AS codes,
           round(list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE),
                   list_transform(generate_series(1, len(v)),
                                  i -> {_SQ_ERR})),
               (a, b) -> a + b) / len(v), 6) AS mse
    FROM q
"""


ORACLES["emb_semdedup"] = f"""
    WITH RECURSIVE pairs AS (
        {ORACLES["emb_neardup_pairs"]}
    ),
    sym AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION
        SELECT id_b, id_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS node FROM sym),
    walk(node, reach) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT s.a, w.reach FROM sym s JOIN walk w ON s.b = w.node
    ),
    comp AS (SELECT node, MIN(reach) AS canonical_id FROM walk
             GROUP BY node),
    groups AS (
        SELECT node, canonical_id,
               COUNT(*) OVER (PARTITION BY canonical_id) AS group_size
        FROM comp),
    base AS (SELECT vec_id AS id FROM embeddings)
    SELECT b.id,
           COALESCE(g.canonical_id, b.id) AS canonical_id,
           CAST(COALESCE(g.group_size, 1) AS BIGINT) AS group_size,
           (COALESCE(g.canonical_id, b.id) = b.id) AS kept
    FROM base b LEFT JOIN groups g ON g.node = b.id
"""


def tx_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-proof train/val/test assignment (X27): every document in
    a near-duplicate GROUP (minhash-LSH pairs → connected components)
    is assigned by the hash of its group's CANONICAL id, so near-dups
    can never straddle the train/eval boundary — the contamination mode
    that n-gram decontamination misses once paraphrase-level rewrites
    enter the corpus.  90/5/5 by hash_uniform(canonical); singletons
    hash their own id.  Consumes the staged dup-group mapping; the
    first build per corpus version runs the CC loop at plan build
    (EAGER_BUILD_OK)."""
    from ..operators.curation import hash_uniform

    docs = _docs(spark, sf_dir)
    groups = _staged_dup_groups(spark, sf_dir)
    base = docs.select(F.col("doc_id").alias("id"))
    j = base.join(groups, base["id"] == groups["node"], "left")
    canon = F.coalesce("canonical_id", F.col("id"))
    u = F.round(hash_uniform(canon), 9)
    split = (F.when(u < 0.90, "train").when(u < 0.95, "val")
             .otherwise("test"))
    return j.select("id", canon.alias("canonical_id"), u.alias("u"),
                    split.alias("split"))


QUERIES["tx_group_split"] = tx_group_split

_CANON_U = f"round({hash_uniform_sql('canonical_id')}, 9)"

ORACLES["tx_group_split"] = f"""
    WITH groups AS ({ORACLES["dd_dup_groups"]}),
    base AS (SELECT doc_id AS id FROM documents WHERE length(text) > 0),
    assigned AS (
        SELECT b.id, COALESCE(g.canonical_id, b.id) AS canonical_id
        FROM base b LEFT JOIN groups g ON g.node = b.id)
    SELECT id, canonical_id, {_CANON_U} AS u,
           CASE WHEN {_CANON_U} < 0.90 THEN 'train'
                WHEN {_CANON_U} < 0.95 THEN 'val'
                ELSE 'test' END AS split
    FROM assigned
"""


def curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-data curation pipeline as ONE query:
    quality gate (score ≥ 0.5) → language gate (en) → exact-dedup
    keep-one-per-fingerprint → greedy token budget (cumulative subword
    tokens ≤ 50k, best-quality first).

    Composes the tx_* operators whose oracles are already value-exact;
    the budget is a global ordered cumsum, computed DISTRIBUTED via the
    two-phase range-partition scan (``operators.ordered.global_cumsum``)
    — no single-task window anywhere in the plan.
    """
    from pyspark.sql.window import Window

    from ..operators.ordered import global_cumsum

    docs = _docs(spark, sf_dir)
    feats = textstats.corpus_features(docs)  # one pass, no joins
    kept = (
        feats
        .where((F.col("quality_score") >= 0.5)
               & (F.col("pred_lang") == "en"))
        .withColumn("rn", F.row_number().over(
            Window.partitionBy("fp").orderBy("id")))
        .where(F.col("rn") == 1)
    )
    budgeted = global_cumsum(kept, "subword_tokens",
                             ["quality_score", "id"], "cum_tokens",
                             ascending=[False, True])
    return (
        budgeted
        .where(F.col("cum_tokens") <= 50000)
        .select("id", "pred_lang",
                F.round("quality_score", 6).alias("quality"),
                "subword_tokens", "cum_tokens")
    )


QUERIES["curate_corpus"] = curate_corpus

ORACLES["curate_corpus"] = f"""
    WITH quality AS ({ORACLES["tx_quality_score"]}),
    langs AS ({ORACLES["tx_language_id"]}),
    toks AS ({ORACLES["tx_token_counts"]}),
    fps AS (
        SELECT doc_id AS id, md5({_NORM}) AS fp
        FROM documents WHERE length(text) > 0
    ),
    kept AS (
        SELECT q.id, q.quality_score, l.pred_lang, t.subword_tokens, f.fp,
               ROW_NUMBER() OVER (PARTITION BY f.fp ORDER BY q.id) AS rn
        FROM quality q
        JOIN langs l USING (id) JOIN toks t USING (id) JOIN fps f USING (id)
        WHERE q.quality_score >= 0.5 AND l.pred_lang = 'en'
    ),
    budget AS (
        SELECT id, pred_lang, quality_score, subword_tokens,
               CAST(SUM(subword_tokens) OVER (
                   ORDER BY quality_score DESC, id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum_tokens
        FROM kept WHERE rn = 1
    )
    SELECT id, pred_lang, round(quality_score, 6) AS quality,
           subword_tokens, cum_tokens
    FROM budget WHERE cum_tokens <= 50000
"""


def mm_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode over synthetic media (payload = document text
    bytes, kind cycling by id).  The stub decoder derives everything
    from sha256(payload) — deterministic BY DESIGN, so even the decode
    path is value-checked against a DuckDB sha256 oracle; swapping in a
    real codec changes one function and this becomes rows-only."""
    from ..operators import multimodal as MM

    docs = _docs(spark, sf_dir)
    kind = (F.when(F.col("doc_id") % 3 == 0, "image")
            .when(F.col("doc_id") % 3 == 1, "audio").otherwise("video"))
    media = docs.select(
        F.col("doc_id").alias("media_id"), kind.alias("kind"),
        F.lit("x").alias("mime"), F.lit(0).alias("width"),
        F.lit(0).alias("height"), F.lit(0.0).alias("duration_s"),
        F.col("text").cast("binary").alias("payload"))
    return MM.decode_media(media)


QUERIES["mm_decode_stats"] = mm_decode_stats

# hex-pair -> int, DuckDB side
def _hx(h: str, pos: int) -> str:
    return (f"((strpos('0123456789abcdef', substr({h}, {pos}, 1)) - 1) * 16"
            f" + (strpos('0123456789abcdef', substr({h}, {pos + 1}, 1)) - 1))")


ORACLES["mm_decode_stats"] = f"""
    WITH m AS (
        SELECT doc_id AS media_id,
               CASE WHEN doc_id % 3 = 0 THEN 'image'
                    WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
               sha256(text) AS h
        FROM documents WHERE length(text) > 0
    )
    SELECT media_id, kind,
           CAST(16 + {_hx('h', 1)} % 64 AS INTEGER) AS decoded_w,
           CAST(16 + {_hx('h', 3)} % 64 AS INTEGER) AS decoded_h,
           CAST(CASE WHEN kind = 'image' THEN 1
                     ELSE 1 + {_hx('h', 5)} % 30 END AS INTEGER) AS n_frames,
           substr(h, 1, 16) AS checksum
    FROM m
"""


def mm_sample_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over the synthetic video rows: decode n_frames
    (sha256-stub), explode every-5th frame index AFTER decode so the
    payload is read once per media row, not per frame."""
    from ..operators import multimodal as MM

    docs = _docs(spark, sf_dir)
    media = docs.where(F.col("doc_id") % 3 == 2).select(
        F.col("doc_id").alias("media_id"), F.lit("video").alias("kind"),
        F.lit("x").alias("mime"), F.lit(0).alias("width"),
        F.lit(0).alias("height"), F.lit(0.0).alias("duration_s"),
        F.col("text").cast("binary").alias("payload"))
    return MM.sample_frames(media, every_n=5).select(
        "media_id", F.col("frame_idx").cast("int").alias("frame_idx"))


QUERIES["mm_sample_frames"] = mm_sample_frames

ORACLES["mm_sample_frames"] = f"""
    WITH m AS (
        SELECT doc_id AS media_id, sha256(text) AS h
        FROM documents WHERE length(text) > 0 AND doc_id % 3 = 2
    ),
    nf AS (
        SELECT media_id, 1 + {_hx('h', 5)} % 30 AS n_frames FROM m
    )
    SELECT media_id,
           CAST(unnest(generate_series(0, n_frames - 1, 5)) AS INTEGER)
               AS frame_idx
    FROM nf
"""


def mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-preserving resize into a 32px box over the synthetic
    media corpus: integer-exact target geometry + the deterministic
    fake re-encode checksum, both rebuilt by the oracle from sha256
    arithmetic — the full mapInPandas resize path is value-checked."""
    from ..operators import multimodal as MM

    docs = _docs(spark, sf_dir)
    kind = (F.when(F.col("doc_id") % 3 == 0, "image")
            .when(F.col("doc_id") % 3 == 1, "audio").otherwise("video"))
    media = docs.select(
        F.col("doc_id").alias("media_id"), kind.alias("kind"),
        F.col("text").cast("binary").alias("payload"))
    return MM.resize_media(media, max_side=32)


QUERIES["mm_resize"] = mm_resize

ORACLES["mm_resize"] = f"""
    WITH m AS (
        SELECT doc_id AS media_id,
               CASE WHEN doc_id % 3 = 0 THEN 'image'
                    WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
               text, sha256(text) AS h
        FROM documents WHERE length(text) > 0
    ), dims AS (
        SELECT media_id, kind, text,
               CAST(16 + {_hx('h', 1)} % 64 AS INTEGER) AS decoded_w,
               CAST(16 + {_hx('h', 3)} % 64 AS INTEGER) AS decoded_h
        FROM m
    ), tgt AS (
        SELECT *,
               CAST(CASE WHEN GREATEST(decoded_w, decoded_h) <= 32
                         THEN decoded_w
                         ELSE GREATEST(1, (decoded_w * 32)
                              // GREATEST(decoded_w, decoded_h)) END
                    AS INTEGER) AS out_w,
               CAST(CASE WHEN GREATEST(decoded_w, decoded_h) <= 32
                         THEN decoded_h
                         ELSE GREATEST(1, (decoded_h * 32)
                              // GREATEST(decoded_w, decoded_h)) END
                    AS INTEGER) AS out_h
        FROM dims
    )
    SELECT media_id, kind, decoded_w, decoded_h, out_w, out_h,
           substr(sha256(text || '|' || CAST(out_w AS VARCHAR) || 'x'
                         || CAST(out_h AS VARCHAR)), 1, 16) AS out_checksum
    FROM tgt
"""


def mm_feature_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction pinned end to end: the stub extractor packs
    sha256 bytes as 16 little-endian uint16 codes scaled to [0,1]
    float32; the query recovers the integer codes (round(x*65535) is
    exact through the float32 roundtrip) so the oracle can rebuild
    them from hex arithmetic — the whole mapInPandas path is
    value-checked, real-extractor plumbing unchanged."""
    from ..operators import multimodal as MM

    docs = _docs(spark, sf_dir)
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.col("text").cast("binary").alias("payload"))
    feats = MM.extract_features(media)
    # codes are emitted as a comma-joined string, not array<long>: the
    # driver canonicalizer sorts on every output column and cannot sort
    # list cells (round-2 hard FAIL).  Contract outputs must be scalar
    # at top level — tests/test_plan_audit.py enforces this.
    return feats.select(
        "media_id",
        F.array_join(
            F.transform(F.col("features").cast("array<double>"),
                        lambda x: F.round(x * 65535.0, 0).cast("long")
                        .cast("string")),
            # null_replacement so a null feature element fails LOUDLY as
            # a value mismatch on both sides instead of being silently
            # dropped here while the oracle's || chain yields NULL
            ",", null_replacement="null").alias("codes"),
    )


QUERIES["mm_feature_codes"] = mm_feature_codes

# little-endian uint16 at code index i: byte[2i] + 256*byte[2i+1];
# hex char position of byte b is 2b+1 (1-based substr)
_U16 = (lambda i: f"({_hx('h', 4 * i + 1)} + 256 * {_hx('h', 4 * i + 3)})")

ORACLES["mm_feature_codes"] = f"""
    WITH m AS (
        SELECT doc_id AS media_id, sha256(text) AS h
        FROM documents WHERE length(text) > 0
    )
    SELECT media_id,
           {" || ',' || ".join(f"CAST(CAST({_U16(i)} AS BIGINT) AS VARCHAR)" for i in range(16))}
               AS codes
    FROM m
"""


# ---------------------------------------------------------------------------
# X23/X24: corpus-statistics operators (TF-IDF salience, boilerplate
# n-gram pruning) — the remaining text-analysis staples of a training
# corpus pipeline, both pure shuffle-on-key relational shapes.
# ---------------------------------------------------------------------------


def tx_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms (X23).

    Scale shape: words explode once; tf is a (doc, term) partial-agg;
    df a (term) agg; the tf⟷df equi-join shuffles on the term key (AQE
    may broadcast df when the vocabulary is small); the corpus size is
    a 1-row aggregate broadcast (bounded — plan-audit whitelisted).
    Scoring and ranking stay in codegen; the per-doc window partitions
    on doc_id, never global.  Ranking orders on the ROUNDED score so a
    last-ulp ln() divergence between engines can never flip a rank;
    ties break on the term itself.
    """
    from pyspark.sql.window import Window


    docs = _docs(spark, sf_dir)
    words = docs.select(
        F.col("doc_id").alias("id"),
        F.explode(F.filter(F.split(F.expr(H.norm_text(SPARK, "text")), " "),
                           lambda w: w != "")).alias("term"))
    tf = words.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("dfreq"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("score", F.round(
            F.col("tf") * F.log(F.col("n_docs") / F.col("dfreq")), 6))
    )
    w = Window.partitionBy("id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select(F.col("id").alias("doc_id"), "rank", "term", "score")
    )


QUERIES["tx_tfidf_topk"] = tx_tfidf_topk

ORACLES["tx_tfidf_topk"] = f"""
    WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) > 0),
    w AS (SELECT doc_id, unnest({_WORDS}) AS term FROM d),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM w GROUP BY 1, 2),
    dfq AS (SELECT term, COUNT(*) AS dfreq FROM tf GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM d),
    s AS (SELECT tf.doc_id, tf.term,
                 round(CAST(tf.tf AS DOUBLE)
                       * ln(CAST(n.n_docs AS DOUBLE) / dfreq), 6) AS score
          FROM tf JOIN dfq USING (term) CROSS JOIN n),
    r AS (SELECT doc_id, term, score,
                 CAST(ROW_NUMBER() OVER (
                     PARTITION BY doc_id
                     ORDER BY score DESC, term ASC) AS INTEGER) AS rank
          FROM s)
    SELECT doc_id, rank, term, score FROM r WHERE rank <= 3
"""

#: corpus document-frequency threshold above which a 3-gram counts as
#: boilerplate (tuned so the synthetic corpus has a non-trivial split)
_BOILERPLATE_MIN_DF = 3

# 3-word shingles of the normalized text (mirrors dedup.exploded_shingles
# n=3: <3-word docs yield the whole normalized text, empty docs nothing)
_SHINGLES3 = f"""
    CASE WHEN len({_WORDS}) = 0 THEN []::VARCHAR[]
         WHEN len({_WORDS}) < 3 THEN [{_NORM}]
         ELSE list_distinct(list_transform(
              generate_series(1, len({_WORDS}) - 2),
              i -> {_WORDS}[i] || ' ' || {_WORDS}[i + 1]
                   || ' ' || {_WORDS}[i + 2]))
    END
"""


def tx_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-span statistics per document (X24): the FineWeb-style
    "prune spans that repeat across the corpus" gate, reported as
    (distinct 3-gram shingles, how many are corpus-boilerplate, ratio).

    A shingle is boilerplate when its corpus document frequency reaches
    ``_BOILERPLATE_MIN_DF``.  Scale shape: one distinct-shingle explode
    (the same codegen pipeline the MinHash family uses), a (shingle)
    agg for document frequency, a shuffle-on-shingle join back, and a
    final (doc) agg — every stage keys on the data it groups by, no
    broadcast of anything unbounded, so the plan is the one you'd run
    at 100 TB (where the df side would also be the natural place to
    persist a reusable boilerplate index).
    """
    docs = _docs(spark, sf_dir)
    sh = dedup.exploded_shingles(docs, "text", "doc_id", 3)
    dfreq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("dfreq"))
    flagged = sh.join(
        dfreq.select("s", (F.col("dfreq") >= _BOILERPLATE_MIN_DF)
                     .alias("is_boiler")), "s")
    return (
        flagged.groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_shingles"),
             F.sum(F.col("is_boiler").cast("long")).alias("n_boilerplate"))
        .select(F.col("id").alias("doc_id"), "n_shingles", "n_boilerplate",
                F.round(F.col("n_boilerplate") / F.col("n_shingles"), 6)
                .alias("boilerplate_ratio"))
    )


QUERIES["tx_boilerplate"] = tx_boilerplate

ORACLES["tx_boilerplate"] = f"""
    WITH sh AS (
        SELECT doc_id, unnest({_SHINGLES3}) AS s
        FROM documents WHERE length(text) > 0),
    dfq AS (SELECT s, COUNT(*) AS dfreq FROM sh GROUP BY 1),
    fl AS (SELECT sh.doc_id, (dfq.dfreq >= {_BOILERPLATE_MIN_DF}) AS b
           FROM sh JOIN dfq USING (s))
    SELECT doc_id,
           COUNT(*) AS n_shingles,
           CAST(SUM(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT)
               AS n_boilerplate,
           round(CAST(SUM(CASE WHEN b THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS boilerplate_ratio
    FROM fl GROUP BY doc_id
"""


#: training sequence length for X25 packing
_PACK_SEQ_LEN = 2048


def tx_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style training-sequence packing (X25): concatenate every
    document's token stream in a deterministic shuffled order (md5 of
    the id — reproducible training-order randomization) and chunk into
    fixed ``_PACK_SEQ_LEN``-token sequences; each document reports the
    sequence containing its first token and its offset inside it.

    Scale shape: token counts are one projection; the only global state
    is the running token offset, computed with the two-phase
    range-partition cumsum (``operators.ordered.global_cumsum``) — no
    single-task window, so the same plan packs a 100 TB corpus.  The
    seq_id derivation uses integer ``div``/``%`` on BIGINT (never a
    double round-trip — boundary-exact at any offset).
    """
    from ..operators.ordered import global_cumsum

    toks = textstats.token_counts(_docs(spark, sf_dir)).select(
        "id", "subword_tokens",
        F.md5(F.col("id").cast("string")).alias("shuf"))
    cum = global_cumsum(toks, "subword_tokens", ["shuf", "id"],
                        "cum_tokens")
    start = (F.col("cum_tokens") - F.col("subword_tokens")).cast("long")
    return (
        cum.withColumn("start_tok", start)
        .select(
            F.col("id").alias("doc_id"),
            "start_tok",
            F.expr(f"start_tok div {_PACK_SEQ_LEN}").alias("seq_id"),
            F.pmod(F.col("start_tok"), F.lit(_PACK_SEQ_LEN)).cast("int")
            .alias("seq_off"),
        )
    )


QUERIES["tx_pack_sequences"] = tx_pack_sequences

#: sequences per training shard — production shards hold thousands of
#: sequences; 2 is sized so the synthetic corpus (~40k tokens at
#: sf0.01) still produces a multi-shard manifest the driver can
#: discriminate
_SEQS_PER_SHARD = 2


def tx_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard manifest (X42): group packed sequences into
    fixed-size shards and emit the per-shard manifest a dataloader
    checks before consuming a shard file — document count, token count,
    and an order-independent content checksum.

    Semantics: a document belongs to the shard containing its FIRST
    token (whole-document token counts — the manifest is about what the
    writer consumed, boundary-straddling is the reader's concern).  The
    checksum is a SUM of 48-bit md5 prefixes of the member doc_ids —
    commutative, overflow-free, and bit-identical in any engine, so two
    independently-produced shard sets can be compared manifest-to-
    manifest without ordering either.

    Scale shape: same two-phase global cumsum as ``tx_pack_sequences``
    (no single-task window), then ONE partial-aggregating shuffle on
    shard_id; the checksum/count/token-sum all map-side combine.
    """
    from ..operators.ordered import global_cumsum

    toks = textstats.token_counts(_docs(spark, sf_dir)).select(
        "id", "subword_tokens",
        F.md5(F.col("id").cast("string")).alias("shuf"))
    cum = global_cumsum(toks, "subword_tokens", ["shuf", "id"],
                        "cum_tokens")
    start = (F.col("cum_tokens") - F.col("subword_tokens")).cast("long")
    member = cum.select("id", "subword_tokens", start.alias("start_tok"))
    shard = F.expr(f"start_tok div {_PACK_SEQ_LEN * _SEQS_PER_SHARD}")
    ck = (F.conv(F.substring(F.md5(F.col("id").cast("string")), 1, 12),
                 16, 10).cast("long"))
    return (member
            .select(shard.alias("shard_id"), "subword_tokens",
                    ck.alias("ck"))
            .groupBy("shard_id")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("subword_tokens").alias("n_tokens"),
                 F.sum("ck").alias("checksum")))


QUERIES["tx_shard_manifest"] = tx_shard_manifest

#: chunk window / stride (words) for ``tx_chunk_windows`` — 8-word
#: overlap between consecutive chunks.
_CHUNK_N, _CHUNK_S = 32, 24


def chunk_windows(docs: DataFrame, n: int = _CHUNK_N,
                  stride: int = _CHUNK_S) -> DataFrame:
    """Sliding-window document chunking with overlap — the RAG /
    context-window preparation pass: each document becomes
    ceil-strided ``n``-word chunks at ``stride`` (``n - stride`` words
    shared between neighbors, so no retrieval boundary splits a span).

    Scale shape: zero shuffles.  The word array is a per-row
    projection, the chunk count is integer arithmetic, and
    explode(sequence) + slice stays in whole-stage codegen — the
    chunk explosion is the same ~len/stride amplification as
    tokenization and runs scan-parallel at any corpus size.
    """
    words = F.filter(F.split(F.expr(H.norm_text(SPARK, "text")), " "),
                     lambda w: w != "")
    base = (docs.select("doc_id", words.alias("lw"))
            .withColumn("n", F.size("lw")).where(F.col("n") > 0))
    n_chunks = F.expr(
        f"case when n <= {n} then 1 "
        f"else 1 + (n - {n} + {stride - 1}) div {stride} end")
    chunks = base.select(
        "doc_id", "lw",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"))
    sl = F.slice(F.col("lw"), F.col("chunk_id") * stride + 1, n)
    return chunks.select(
        "doc_id", F.col("chunk_id").cast("long").alias("chunk_id"),
        F.size(sl).cast("int").alias("n_words"),
        F.array_join(sl, " ").alias("chunk_text"),
    )


def tx_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-word chunks at stride 24 over the corpus (see
    :func:`chunk_windows`)."""
    return chunk_windows(_docs(spark, sf_dir))


QUERIES["tx_chunk_windows"] = tx_chunk_windows

ORACLES["tx_chunk_windows"] = f"""
    WITH base AS (
        SELECT doc_id, {{words}} AS lw
        FROM documents WHERE length(text) > 0
    ), sized AS (
        SELECT doc_id, lw, len(lw) AS n,
               CASE WHEN len(lw) <= {_CHUNK_N} THEN 1
                    ELSE 1 + (len(lw) - {_CHUNK_N} + {_CHUNK_S - 1})
                         // {_CHUNK_S} END AS nk
        FROM base WHERE len(lw) > 0
    )
    SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
           CAST(len(list_slice(lw, i * {_CHUNK_S} + 1,
                               i * {_CHUNK_S} + {_CHUNK_N}))
                AS INTEGER) AS n_words,
           array_to_string(list_slice(lw, i * {_CHUNK_S} + 1,
                                      i * {_CHUNK_S} + {_CHUNK_N}), ' ')
               AS chunk_text
    FROM sized, unnest(generate_series(0, nk - 1)) AS t(i)
""".replace("{words}", _WORDS)

# COALESCE: DuckDB list_sum over an empty list is NULL while the Spark
# aggregate's zero-seed returns 0 — a zero-alnum document must agree
_SUBWORD_SQL = """CAST(COALESCE(list_sum(list_transform(
    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), w -> w <> ''),
    w -> CAST(ceil(length(w) / 4.0) AS BIGINT))), 0) AS BIGINT)"""

ORACLES["tx_pack_sequences"] = f"""
    WITH t AS (
        SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS shuf,
               {_SUBWORD_SQL} AS subword_tokens
        FROM documents WHERE length(text) > 0),
    c AS (
        SELECT doc_id, subword_tokens,
               CAST(SUM(subword_tokens) OVER (
                    ORDER BY shuf, doc_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        FROM t)
    SELECT doc_id,
           CAST(cum - subword_tokens AS BIGINT) AS start_tok,
           CAST((cum - subword_tokens) // {_PACK_SEQ_LEN} AS BIGINT)
               AS seq_id,
           CAST((cum - subword_tokens) % {_PACK_SEQ_LEN} AS INTEGER)
               AS seq_off
    FROM c
"""

ORACLES["tx_shard_manifest"] = f"""
    WITH t AS (
        SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS shuf,
               {_SUBWORD_SQL} AS subword_tokens
        FROM documents WHERE length(text) > 0),
    c AS (
        SELECT doc_id, subword_tokens,
               CAST(SUM(subword_tokens) OVER (
                    ORDER BY shuf, doc_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        FROM t),
    m AS (
        SELECT (cum - subword_tokens)
                   // {_PACK_SEQ_LEN * _SEQS_PER_SHARD} AS shard_id,
               subword_tokens,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)
                    AS BIGINT) AS ck
        FROM c)
    SELECT CAST(shard_id AS BIGINT) AS shard_id,
           COUNT(*) AS n_docs,
           CAST(SUM(subword_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(ck) AS BIGINT) AS checksum
    FROM m GROUP BY 1
"""



def ann_quant_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X47 two-stage retrieval: int8 coarse scan (integer dot products,
    engine-exact candidate cut) -> exact cosine rerank of the top-50
    per query -> top-5."""
    return similarity.quant_rerank_topk(_embs(spark, sf_dir))


QUERIES["ann_quant_rerank"] = ann_quant_rerank

ORACLES["ann_quant_rerank"] = f"""
    WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
               FROM embeddings),
    dims AS (SELECT i, MIN(v[i]) AS mn, MAX(v[i]) AS mx
             FROM e, unnest(generate_series(1, len(v))) AS t(i)
             GROUP BY i),
    s AS (SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs
          FROM dims),
    coded AS (SELECT id, v,
                     list_transform(generate_series(1, len(v)),
                         i -> CAST({_SQ_CODE} AS BIGINT)) AS qc
              FROM e CROSS JOIN s),
    coarse AS (
        SELECT p.id AS q_id, c.id AS c_id, c.v AS cv, p.v AS pv,
               CAST(list_sum(list_transform(
                   generate_series(1, len(c.qc)),
                   i -> c.qc[i] * p.qc[i])) AS BIGINT) AS iscore
        FROM coded c JOIN coded p ON p.id < 10 AND p.id <> c.id),
    r50 AS (SELECT *, row_number() OVER (PARTITION BY q_id
                ORDER BY iscore DESC, c_id ASC) AS crank
            FROM coarse),
    rr AS (SELECT q_id, c_id, iscore,
                  round(list_dot_product(pv, cv)
                        / (sqrt(list_dot_product(pv, pv))
                           * sqrt(list_dot_product(cv, cv))), 4) AS sim
           FROM r50 WHERE crank <= 50),
    ranked AS (SELECT q_id, c_id, iscore, sim,
                      row_number() OVER (PARTITION BY q_id
                          ORDER BY sim DESC, c_id ASC) AS rank
               FROM rr)
    SELECT q_id, c_id, iscore, sim, CAST(rank AS INTEGER) AS rank
    FROM ranked WHERE rank <= 5
"""


def dd_apply_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup survivor selection (X48): like ``dd_apply``
    but instead of keep-first, each duplicate group keeps its
    HIGHEST-quality member (ties on the smaller id) — the curation
    policy that keeps the cleanest copy of a near-dup cluster rather
    than an arbitrary one.

    Scale shape: groups come from the staged dup-group mapping (the
    banded LSH + CC clustering materialized once per corpus version);
    the survivor pick is a rank window partitioned on the canonical id
    — bounded by near-dup cluster size, never corpus-wide.
    """
    from pyspark.sql.window import Window

    docs = _docs(spark, sf_dir)
    groups = _staged_dup_groups(spark, sf_dir)
    quality = textstats.quality_score(docs).select(
        "id", F.col("quality_score").alias("score"))
    base = docs.select(F.col("doc_id").alias("id"))
    merged = (
        base.join(groups, base["id"] == groups["node"], "left")
        .select(base["id"],
                F.coalesce("canonical_id", base["id"]).alias("canonical_id"),
                F.coalesce("group_size", F.lit(1)).alias("group_size"))
        .join(quality, "id"))
    w = Window.partitionBy("canonical_id").orderBy(F.desc("score"),
                                                  F.asc("id"))
    return (merged.withColumn("rk", F.row_number().over(w))
            .select("id", "canonical_id", "group_size", "score",
                    (F.col("rk") == 1).alias("kept")))


QUERIES["dd_apply_best"] = dd_apply_best

ORACLES["dd_apply_best"] = f"""
    WITH groups AS ({ORACLES["dd_dup_groups"]}),
    q AS ({ORACLES["tx_quality_score"]}),
    base AS (SELECT doc_id AS id FROM documents WHERE length(text) > 0),
    m AS (SELECT b.id,
                 COALESCE(g.canonical_id, b.id) AS canonical_id,
                 CAST(COALESCE(g.group_size, 1) AS BIGINT) AS group_size,
                 q.quality_score AS score
          FROM base b
          LEFT JOIN groups g ON g.node = b.id
          JOIN q ON q.id = b.id),
    r AS (SELECT *, row_number() OVER (PARTITION BY canonical_id
              ORDER BY score DESC, id ASC) AS rk
          FROM m)
    SELECT id, canonical_id, group_size, score, rk = 1 AS kept FROM r
"""


def emb_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (X59): every 25th labeled vector under id
    1000 (bounded probe set, constant broadcast side) gets its 3 most
    cosine-similar DIFFERENT-label neighbors — the contrastive-training
    negative sampler.  See operators/similarity.py:hard_negative_topk
    for the scale discussion."""
    embs = _embs(spark, sf_dir)
    queries = embs.where((F.col("vec_id") % 25 == 0)
                         & (F.col("vec_id") < 1000))
    return similarity.hard_negative_topk(embs, queries, k=3)


QUERIES["emb_hard_negatives"] = emb_hard_negatives

ORACLES["emb_hard_negatives"] = """
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
               FROM embeddings),
    scored AS (
        SELECT q.vec_id AS q_id, q.label AS q_label,
               c.vec_id AS c_id, c.label AS neg_label,
               round(list_dot_product(q.v, c.v)
                     / (sqrt(list_dot_product(q.v, q.v))
                        * sqrt(list_dot_product(c.v, c.v))), 4) AS sim
        FROM e q, e c
        WHERE q.vec_id % 25 = 0 AND q.vec_id < 1000
          AND q.vec_id <> c.vec_id AND q.label <> c.label),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY q_id
                                     ORDER BY sim DESC, c_id ASC) AS rank
        FROM scored)
    SELECT q_id, q_label, c_id, neg_label, sim,
           CAST(rank AS INTEGER) AS rank
    FROM ranked WHERE rank <= 3
"""


def emb_rp_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-projection dim reduction (X60): 64→8 J-L signed
    projection of every embedding — see
    operators/similarity.py:random_project.  Zero shuffle; the oracle
    inlines the identical md5-derived sign literals and mirrors the
    dot product with list_dot_product (same summation order as the
    zip_with/aggregate fold, proven by the ann_* oracles)."""
    return similarity.random_project(_embs(spark, sf_dir), in_dim=64,
                                     out_dim=8)


QUERIES["emb_rp_project"] = emb_rp_project


def _rp_oracle() -> str:
    signs = similarity.rp_signs(64, 8)
    cols = ",\n           ".join(
        "round(list_dot_product(embedding::DOUBLE[], ["
        + ", ".join(f"{s:.1f}e0" for s in signs[j])
        + "]::DOUBLE[]), 6) AS y" + str(j)
        for j in range(8))
    return f"""
    SELECT vec_id,
           {cols}
    FROM embeddings
"""


ORACLES["emb_rp_project"] = _rp_oracle()


def tx_outlier_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quantile outlier trim (X67): compute each source's
    exact p05/p95 document-length band and report how much of the
    corpus survives the trim — the per-domain tail-cut every curation
    pipeline applies before mixing (truncated boilerplate at the short
    end, concatenation accidents at the long end).

    Scale shape: one percentile aggregate per source (exact here so
    the oracle is value-comparable; the 100 TB swap is
    ``approx_percentile`` — t-digest sketches, mergeable partials,
    identical plan shape, same one shuffle), then the band is a
    SMALL per-source relation joined back broadcast — the corpus
    streams through the filter once."""
    d = _docs(spark, sf_dir).select("doc_id", "source", "n_chars")
    band = (d.groupBy("source")
            .agg(F.round(F.percentile("n_chars", F.lit(0.05)), 6)
                 .alias("p05"),
                 F.round(F.percentile("n_chars", F.lit(0.95)), 6)
                 .alias("p95")))
    kept = F.col("n_chars").cast("double").between(F.col("p05"),
                                                   F.col("p95"))
    return (d.join(F.broadcast(band), "source")
            .groupBy("source", "p05", "p95")
            .agg(F.count(F.lit(1)).alias("n_total"),
                 F.sum(kept.cast("long")).alias("n_kept"),
                 F.sum(F.when(kept, F.col("n_chars")).otherwise(0))
                 .alias("kept_chars")))


QUERIES["tx_outlier_trim"] = tx_outlier_trim

ORACLES["tx_outlier_trim"] = """
    WITH d AS (
        SELECT doc_id, source, n_chars
        FROM documents WHERE length(text) > 0),
    band AS (
        SELECT source,
               round(quantile_cont(n_chars, 0.05), 6) AS p05,
               round(quantile_cont(n_chars, 0.95), 6) AS p95
        FROM d GROUP BY 1)
    SELECT d.source, b.p05, b.p95,
           COUNT(*) AS n_total,
           CAST(SUM(CASE WHEN CAST(n_chars AS DOUBLE)
                              BETWEEN b.p05 AND b.p95
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN CAST(n_chars AS DOUBLE)
                              BETWEEN b.p05 AND b.p95
                         THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
    FROM d JOIN band b ON b.source = d.source
    GROUP BY 1, 2, 3
"""


def emb_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization of the embedding table: 8 subspaces x 16
    codes, integer-exact distances (operators/similarity.py
    ``pq_encode``) — the 32x compression stage of an IVF-PQ serving
    index, with the total squared error alongside the codes."""
    return similarity.pq_encode(_embs(spark, sf_dir))


QUERIES["emb_pq_encode"] = emb_pq_encode

# The oracle rebuilds the same sample-init codebook (subvectors of the
# 16 lowest-id vectors) and replays the integer argmin: the fused key
# d*16+code makes MIN() carry the tiebreak, so the GROUP BY picks the
# identical code on both engines.
ORACLES["emb_pq_encode"] = """
    WITH e AS (
        SELECT vec_id AS id,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))
                   AS v
        FROM embeddings
    ), cb AS (
        SELECT row_number() OVER (ORDER BY id) - 1 AS code, v AS cv
        FROM e ORDER BY id LIMIT 16
    ), pairs AS (
        SELECT e.id, sub.s, cb.code,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(generate_series(1, 8),
                       j -> (e.v[sub.s * 8 + j] - cb.cv[sub.s * 8 + j])
                          * (e.v[sub.s * 8 + j] - cb.cv[sub.s * 8 + j]))),
                   (a, b) -> a + b) AS d
        FROM e, (SELECT unnest(generate_series(0, 7)) AS s) sub, cb
    ), best AS (
        SELECT id, s, MIN(d * 16 + code) AS k
        FROM pairs GROUP BY id, s
    )
    SELECT id,
           array_to_string(list(CAST(k % 16 AS VARCHAR) ORDER BY s),
                           ',') AS codes,
           CAST(SUM(k // 16) AS BIGINT) AS sqerr
    FROM best GROUP BY id
"""


def tx_url_canon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X78: URL canonicalization dedup — deterministic crawl-URL
    variants (case-shuffled host, default :80 port, #fragment, utm_*
    tracking params, trailing slash) synthesized per document, passed
    through the canonicalization kit (functions/text.py
    ``url_canonicalize``), and grouped by canonical key: the
    first-stage dedup every web-corpus pipeline runs before any content
    hashing.  Pure codegen regexp chain, one canonical-key shuffle.
    """
    d = _docs(spark, sf_dir)
    num = (F.col("doc_id") % 50).cast("string")
    lower_base = F.concat(F.lit("http://www."), F.col("source"),
                          F.lit(".example.com"))
    upper_base = F.concat(F.lit("HTTP://WWW."), F.upper(F.col("source")),
                          F.lit(".EXAMPLE.COM"))
    path = F.concat(F.lit("/docs/"), num)
    v = F.col("doc_id") % 6
    url = (
        F.when(v == 0, F.concat(upper_base, path))
        .when(v == 1, F.concat(lower_base, F.lit(":80"), path))
        .when(v == 2, F.concat(lower_base, path, F.lit("#sec2")))
        .when(v == 3, F.concat(lower_base, path,
                               F.lit("?utm_source=feed&id="), num))
        .when(v == 4, F.concat(lower_base, path, F.lit("/")))
        .otherwise(F.concat(lower_base, path)))
    withc = (d.select("doc_id", url.alias("url"))
             .withColumn("canon", F.expr(T.url_canonicalize(SPARK, "url"))))
    return (withc.groupBy("canon")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.countDistinct("url").alias("n_urls"),
                 F.min("doc_id").alias("first_doc")))


QUERIES["tx_url_canon"] = tx_url_canon


_U_LOWER = "'http://www.' || source || '.example.com'"
_U_UPPER = "'HTTP://WWW.' || upper(source) || '.EXAMPLE.COM'"
_U_PATH = "'/docs/' || CAST(doc_id % 50 AS VARCHAR)"

ORACLES["tx_url_canon"] = f"""
    WITH u AS (
        SELECT doc_id,
               CASE doc_id % 6
                 WHEN 0 THEN {_U_UPPER} || {_U_PATH}
                 WHEN 1 THEN {_U_LOWER} || ':80' || {_U_PATH}
                 WHEN 2 THEN {_U_LOWER} || {_U_PATH} || '#sec2'
                 WHEN 3 THEN {_U_LOWER} || {_U_PATH}
                      || '?utm_source=feed&id='
                      || CAST(doc_id % 50 AS VARCHAR)
                 WHEN 4 THEN {_U_LOWER} || {_U_PATH} || '/'
                 ELSE {_U_LOWER} || {_U_PATH}
               END AS url
        FROM documents
    ), c AS (
        SELECT doc_id, url, {T.url_canonicalize(DUCKDB, 'url')} AS canon FROM u
    )
    SELECT canon, COUNT(*) AS n_docs,
           COUNT(DISTINCT url) AS n_urls, MIN(doc_id) AS first_doc
    FROM c GROUP BY canon
"""


def dd_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X80: incremental near-dup — the daily-ingest path.  The existing
    corpus (doc_id % 10 != 0) is staged ONCE (write-once,
    mtime+size-keyed) as TWO parquet artifacts: exploded MinHash band
    keys (blocking) and per-doc xxhash64 shingle-id sets (verify) —
    the streaming twin's state layout (``neardup_dedup_stream``).
    Each new batch (doc_id % 10 == 0) is banded + shingle-id'd in one
    aggregation, equi-joins the staged bands, and the bounded
    candidate pairs verify by exact Jaccard over the stored id sets.
    Same hash family/params as ``dd_minhash_lsh``, so the oracle
    reuses those CTEs restricted to new × old pairs.

    The 100 TB point: ingesting a batch re-shingles only the batch —
    history is never re-read except the candidate rows' stored sets
    (a band-key index scan plus an id-keyed set lookup), which is what
    lets ingest cost track batch size instead of corpus size.
    """
    import os

    from ..operators import dedup as dd
    from ..sources import staging

    d = _docs(spark, sf_dir)
    is_new = F.col("doc_id") % 10 == 0
    fp = staging.source_fingerprint(sf_dir, "documents")
    tag = f"{os.path.basename(os.path.normpath(sf_dir))}_{fp}"
    num_hashes, bands_n = 16, 8

    def per_doc(docs: DataFrame) -> DataFrame:
        # one aggregation yields BOTH the LSH signature and the
        # xxhash64 shingle-id set per doc — the streaming twin's state
        # row (neardup_dedup_stream): bands for blocking, sids for the
        # exact-Jaccard verify, so NOTHING ever re-shingles the corpus
        return dd.minhash_state(docs, "text", "doc_id", 2, num_hashes,
                                with_sids=True)

    def bands_of(pd: DataFrame) -> DataFrame:
        return dd.lsh_band_rows(pd, num_hashes, bands_n)

    stage_root = staging.stage_root()
    idx_name = f"ndindex2_{tag}"
    idx_root = os.path.join(stage_root, idx_name)
    bands_dir = os.path.join(idx_root, "bands")
    sets_dir = os.path.join(idx_root, "sets")
    if not (os.path.isfile(os.path.join(bands_dir, "_SUCCESS"))
            and os.path.isfile(os.path.join(sets_dir, "_SUCCESS"))):
        per_old = per_doc(d.where(~is_new)).localCheckpoint()
        bands_of(per_old).write.mode("overwrite").parquet(bands_dir)
        per_old.select("id", "sids").write.mode("overwrite") \
            .parquet(sets_dir)
    # prune on every access (r13 review: a build-branch-only prune
    # misses siblings that were under the age guard at build time)
    staging.prune_stale_siblings(
        stage_root,
        f"ndindex2_{os.path.basename(os.path.normpath(sf_dir))}_",
        idx_name)
    # the ingest batch is banded + shingle-id'd in ONE pass, reused by
    # blocking and verify (eager once; dd_incremental is EAGER_BUILD_OK)
    per_new = per_doc(d.where(is_new)).localCheckpoint()
    old_bands = (spark.read.parquet(bands_dir)
                 .select(F.col("id").alias("id_old"), "band"))
    new_bands = bands_of(per_new).select(F.col("id").alias("id_new"),
                                         "band")
    cand = new_bands.join(old_bands, on="band").select("id_new", "id_old")
    # r15 item 1: pin the candidate-dedup + verify exchanges to the
    # bytes-derived count in the tiny-data regime (None at scale keeps
    # this exact plan — functions/sizing.py); the band join itself is
    # left alone (broadcast at bench scale)
    parts = _docs_parts(spark, sf_dir)
    if parts:
        # id_new alone: hash(id_new) satisfies the dedup's clustering
        # and the agg-established partitioning pulls the verify's first
        # join down to `parts` (dedup.tiered_jaccard_verify)
        cand = cand.repartition(parts, "id_new")
    cand = cand.dropDuplicates()
    # Two-tier exact verify via the shared helper (r14: the int16
    # tier-1 transfer to the whole MinHash family — dedup.py's
    # tiered_jaccard_verify): the staged sets index is CORPUS-sized,
    # so tier 1 joins only the int16 projections per candidate and
    # tier 2 ships the full int64 sets for survivors + bypasses only.
    # shuffle_hash inside the helper keeps AQE from broadcast-
    # converting either array side (the dd_minhash_lsh sf10 OOM
    # class).  Jaccard over the 64-bit shingle ids equals Jaccard over
    # the shingle strings barring a ~n²/2⁶⁵ collision (the
    # neardup_dedup_stream argument), so the string-shingle oracle
    # still applies value-for-value.
    sets_old = spark.read.parquet(sets_dir)
    sets_new = per_new.select("id", "sids")
    return dd.tiered_jaccard_verify(cand, sets_new, sets_old, 0.1,
                                    a_col="id_new", b_col="id_old",
                                    parts=parts)


QUERIES["dd_incremental"] = dd_incremental

ORACLES["dd_incremental"] = f"""
    WITH sh AS (
        SELECT doc_id, {_SHINGLES2} AS shingles
        FROM documents WHERE length(text) > 0),
    {_MINHASH_MINS_BANDS},
    cand AS (
        SELECT DISTINCT n.doc_id AS id_new, o.doc_id AS id_old
        FROM bands n JOIN bands o USING (band)
        WHERE n.doc_id % 10 = 0 AND o.doc_id % 10 <> 0)
    SELECT id_new, id_old,
           round(len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
                 / len(list_distinct(sa.shingles || sb.shingles)), 6)
               AS jaccard
    FROM cand
    JOIN sh sa ON sa.doc_id = id_new
    JOIN sh sb ON sb.doc_id = id_old
    WHERE round(len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
                / len(list_distinct(sa.shingles || sb.shingles)), 6)
          >= 0.1
"""


def mm_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X91: multimodal near-dup — the image-dedup pipeline shape:
    payloads cross the Arrow boundary once into a perceptual-hash
    kernel (stub pHash = the simhash64 semantics over the decoded
    content; a real DCT pHash slots into ``_phash64_py`` unchanged),
    then the 64-bit codes dedup JVM-side via the top-16-bit-prefix
    blocked Hamming equi-join — never a quadratic payload comparison.

    The ORACLE is ``dd_simhash_pairs``'s SQL mirror: a fully
    independent implementation of the same fingerprint (DuckDB md5
    nibble votes vs the Python kernel), so the hash pins the kernel
    bit-for-bit, not just the join."""
    from ..operators import multimodal as MM

    docs = _docs(spark, sf_dir)
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.col("text").cast("binary").alias("payload"))
    return MM.phash_pairs(media, max_hamming=10, block_bits=16)


QUERIES["mm_phash_dedup"] = mm_phash_dedup

# deliberately dd_simhash_pairs' oracle: the Python payload kernel and
# the DuckDB nibble-vote SQL are independent implementations of the
# same 64-bit code — equality pins the kernel bit-for-bit
ORACLES["mm_phash_dedup"] = ORACLES["dd_simhash_pairs"]


def mm_phash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X93b: multimodal duplicate GROUPS — ``mm_phash_dedup``'s pair
    output folded through the Hash-to-Min connected-components
    contraction into (node, canonical_id, group_size), the LINEAR
    production surface of image dedup (the pair list grows
    quadratically in duplicate-cluster size — BASELINE.md's sf1 note:
    167k→6.79M pairs at 10× docs — while the group mapping stays one
    row per media item).  The multimodal twin of ``dd_dup_groups``;
    the oracle replays the independent DuckDB nibble-vote pair SQL
    through the same recursive min-reachability CTE."""
    from ..operators.components import dedup_groups

    return dedup_groups(mm_phash_dedup(spark, sf_dir))


QUERIES["mm_phash_groups"] = mm_phash_groups

ORACLES["mm_phash_groups"] = _cc_groups_oracle(ORACLES["dd_simhash_pairs"])
