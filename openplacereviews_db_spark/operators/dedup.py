"""Deduplication operators for large-scale corpus curation.

The reference's merge bot is a fuzzy-dedup pipeline (blocking by tile →
candidate join → match cascade → survivor pick;
``MergePlaceBot.java:144-209``).  These operators generalize that shape to
document corpora, each one Spark-first:

- ``exact_dedup``        — hash-groupBy on a normalized fingerprint
- ``minhash_lsh_pairs``  — shingle → MinHash → banded LSH buckets →
                            candidate join → exact-Jaccard verify
- ``simhash_table``      — 64-bit SimHash per document
- ``simhash_pairs``      — near-dup pairs by Hamming distance (blocked on
                            the top-16-bit prefix so the self-join is not
                            quadratic at scale)
- ``ngram_jaccard_pairs``— blocked exact n-gram Jaccard join

Scale notes (100 TB): every pairwise operator blocks first (LSH band
key, SimHash prefix, or a caller-supplied blocking column) so the
candidate join is an equi-join Spark can shuffle on; nothing here does an
unblocked cross join.  All hashing is md5 column arithmetic (JVM-side,
whole-stage codegen) — see ``functions.hashing``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import hashing as H
from ..functions.dialect import SPARK


def exploded_shingles(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", n: int = 3,
                      extra_cols: list[str] | None = None,
                      distinct: bool = True,
                      parts: int | None = None) -> DataFrame:
    """(id, s [, extra_cols...]) — one row per distinct n-word shingle.

    Semantically identical to ``functions.hashing.word_shingles`` (docs
    with fewer than n words yield the whole normalized text; empty docs
    yield nothing) but built from posexplode + lead windows so the whole
    pipeline stays in codegen — the array higher-order form is interpreted
    and an order of magnitude slower on wide corpora.

    ``distinct=False`` skips the dedup shuffle and may emit repeated
    shingle rows per document — correct (and one exchange cheaper) for
    consumers whose aggregates are duplicate-insensitive (``min`` minhash,
    ``collect_set``): the window already hash-partitions by (id, extra),
    so a following ``groupBy(id, extra)`` runs exchange-free.

    ``parts`` pins the shingle window's exchange (and, via the
    partitioning it establishes, every downstream groupBy on the same
    keys) to a bytes-derived count in the tiny-data regime — see
    ``functions.sizing.small_exchange_parts``; ``None`` keeps the
    session-partitioned plan (the at-scale shape).
    """
    # SQL expression strings, not nested Column calls — this builder
    # feeds every member of the shingle family (minhash_state / LSH /
    # ngram / containment) and its Column form cost ~400 py4j round
    # trips per build (~5 ms per round trip here).
    extra = extra_cols or []
    ecols = "".join(f", `{c}`" for c in extra)
    norm = H.norm_text(SPARK, f"`{text_col}`")
    words = df.selectExpr(
        f"`{id_col}` AS id", *[f"`{c}`" for c in extra],
        f"posexplode(filter(split({norm}, ' '), w -> w != '')) AS (pos, w)",
    )
    if parts:
        # pinned count replaces the window's ENSURE_REQUIREMENTS
        # exchange (same keys, so the requirement is satisfied and no
        # second exchange is planned)
        words = words.repartition(parts, "id", *extra)
    # partition by the extra cols too: if a caller feeds one document in
    # several blocks (overlapping banded blocking), each copy must build
    # its shingles from its own rows, not interleave with its twins
    over = f"OVER (PARTITION BY id{ecols} ORDER BY pos)"
    parts = ", ".join(["w"] + [f"lead(w, {k}) {over}"
                               for k in range(1, n)])
    shingled = words.selectExpr(
        "id", *[f"`{c}`" for c in extra],
        f"concat_ws(' ', {parts}) AS s",
        f"(lead(w, {n - 1}) {over} IS NOT NULL) AS full",
        "(pos = 0) AS first",
        f"(count(1) OVER (PARTITION BY id{ecols}) < {n}) AS short",
    )
    kept = (
        shingled.where("full OR (first AND short)")
        .select("id", *extra, "s")
    )
    # the distinct needs NO pin of its own: ClusteredDistribution(id,
    # extra, s) is satisfied by the window's hash(id, extra)
    # partitioning (partitioning exprs ⊆ clustering keys), so it is
    # exchange-free at whatever count the window ran at
    return kept.distinct() if distinct else kept


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups after whitespace/case normalization.

    Returns one row per duplicate *group* (fingerprint) with the surviving
    id (min id — deterministic first-wins, matching the reference's
    first-wins dedup call sites, SURVEY.md §2.4 A7) and group size.
    """
    return (
        df.select(F.col(id_col),
                  F.expr(H.fingerprint(SPARK, text_col)).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("group_size"),
        )
    )


def sid16_set_sql(sids: str) -> str:
    """INT16 projection of an xxhash64 shingle-id set — the tier-1
    verify payload (the dd_containment pattern), as one Spark SQL
    expression.  Sign-extending low-16 projection: shiftleft then
    ARITHMETIC shiftright keeps the value in SMALLINT range (a bare
    ``& 0xFFFF`` overflows the ANSI smallint cast); array_distinct
    dedups internal collisions so the projected intersection stays a
    set intersection."""
    return (f"array_distinct(transform({sids}, "
            f"x -> CAST(shiftright(shiftleft(x, 48), 48) AS SMALLINT)))")


def tiered_jaccard_verify(cand: DataFrame, sets_a: DataFrame,
                          sets_b: DataFrame, min_jaccard: float,
                          a_col: str = "id_a",
                          b_col: str = "id_b",
                          parts: int | None = None) -> DataFrame:
    """Two-tier exact-Jaccard verify of candidate id pairs — the r13
    dd_containment/dd_ngram_jaccard int16 pattern, shared so every
    member of the MinHash hash family (``dd_incremental``,
    ``neardup_dedup_stream``) runs the same plan.

    ``cand`` holds distinct (a_col, b_col) id pairs; ``sets_a`` /
    ``sets_b`` are (id, sids) frames with each side's full int64
    shingle-id sets (pass the same frame twice for symmetric callers).
    The per-candidate exchanges are THE one-box disk term (r12: 45.9 GB
    at sf100 for containment): tier 1 ships int16 projections — the
    projected intersection count is an UPPER bound whenever both sets
    are internally collision-free under the projection, so feeding it
    to ``jaccard_prebound`` (with the TRUE sizes) drops only pairs no
    true count could rescue; internally-colliding docs (~2% per
    ~50-shingle doc at 16 bits) bypass via the size guard.  Tier 2
    re-verifies survivors + bypasses against the full int64 sets —
    values identical (each caller's oracle re-proves it).  Corpus-sized
    array sides: shuffle_hash hints, never AQE-broadcast (see
    ``minhash_lsh_pairs``).

    ``parts`` (r15, guide §2.2): pins the verify's exchange sizes to a
    bytes-derived count in the tiny-data regime where per-task
    constants dominate (``sizing.small_exchange_parts``); ``None``
    (every at-scale regime) keeps the session-partitioned plan.  The
    mechanics are partitioning-PROPAGATION, not blanket repartition:
    EnsureRequirements re-shuffles an exchange-rooted join child whose
    user count sits below ``spark.sql.shuffle.partitions`` back up to
    the conf (measured r15; the co-partitioning bestSpec filter), but
    ACCEPTS a small partitioning that is established below a
    non-exchange operator — so callers pin the CANDIDATE stream by
    repartitioning on ``a_col`` before their dedup aggregation (the
    agg rides the pinned exchange and its output partitioning pulls
    the first join, and the first join's side, down with it), and the
    tier-2 joins are ordered b-then-a so the first rides tier 1's
    output partitioning outright (one fewer exchange of the survivor
    stream at ANY parts, but only taken on the pinned path to keep the
    at-scale plan byte-identical to r14's proven shape).  Values are
    partition-count and join-order invariant (inner equi-joins; the
    r15 A/B fingerprints both variants equal, and each caller's oracle
    re-proves it)."""
    # SQL expression STRINGS throughout (a ~5 ms py4j round trip per
    # Column call makes wide Column chains build-bound);
    # parses to the identical expression trees the Column forms built.
    def proj16(sets: DataFrame, idc: str, sfx: str) -> DataFrame:
        return sets.select(F.col("id").alias(idc),
                           F.expr(sid16_set_sql("sids"))
                           .alias(f"s16_{sfx}"),
                           F.expr("size(sids)").alias(f"n_{sfx}"))

    def full(sets: DataFrame, idc: str, sfx: str) -> DataFrame:
        return sets.select(F.col("id").alias(idc),
                           F.col("sids").alias(f"s_{sfx}"))

    tier1 = F.expr(
        "(size(s16_a) < n_a) OR (size(s16_b) < n_b) OR "
        + H.jaccard_prebound(SPARK, "size(array_intersect(s16_a, s16_b))",
                                 "n_a", "n_b", min_jaccard))
    exact = F.expr(H.jaccard_ge(SPARK, "s_a", "s_b", min_jaccard))
    jac = F.expr(f"round({H.jaccard(SPARK, 's_a', 's_b')}, 6)")
    surv = (cand
            .join(proj16(sets_a, a_col, "a").hint("shuffle_hash"), a_col)
            .join(proj16(sets_b, b_col, "b").hint("shuffle_hash"), b_col)
            .where(tier1)
            .select(a_col, b_col))
    if parts:
        # tier-2 b-first: surv leaves tier 1 hash-partitioned by b_col,
        # so this join plans NO new exchange for the survivor stream
        return (surv
                .join(full(sets_b, b_col, "b").hint("shuffle_hash"),
                      b_col)
                .join(full(sets_a, a_col, "a").hint("shuffle_hash"),
                      a_col)
                # ordered bound-then-exact predicate: Catalyst folds
                # this into the last join's condition, where the one-
                # intersect bound short-circuits the 3-intersect check
                .where(exact)
                .withColumn("jaccard", jac)
                .select(a_col, b_col, "jaccard"))
    return (surv
            .join(full(sets_a, a_col, "a").hint("shuffle_hash"), a_col)
            .join(full(sets_b, b_col, "b").hint("shuffle_hash"), b_col)
            # ordered bound-then-exact predicate: Catalyst folds this
            # into the second join's condition, where the one-intersect
            # bound short-circuits the 3-intersect exact check
            .where(exact)
            .withColumn("jaccard", jac)
            .select(a_col, b_col, "jaccard"))


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", shingle_words: int = 3,
                      num_hashes: int = 16, bands: int = 4,
                      min_jaccard: float = 0.5,
                      fast_hash: bool = False) -> DataFrame:
    """Near-duplicate pairs via MinHash + banded LSH + exact verify.

    Plan shape (r11 inline-verify, re-pinned by the r14 A/B): one scan
    computes the per-doc state (16 minhash columns + the xxhash64
    shingle-id set); band keys are posexploded (bands× row
    amplification, constant factor) WITH the state on each row; the
    self-join on the band key co-locates both docs' sets, and an
    ordered cheapest-first condition (id guard → positional
    first-matching-band check → bound-then-exact Jaccard,
    ``hashing.jaccard_ge``) verifies each DISTINCT candidate exactly
    once inside the join — no candidate dedup exchange, no
    per-candidate set shipping, no output dropDuplicates.

    Why NOT the int16 tier-1 here (r14): an in-band tier variant
    (project s16 onto the banded rows, re-join survivors to the full
    sets — ``tiered_jaccard_verify``'s shape) was built and A/B'd at
    sf100 on a calm box: 915–1062 s / 17.7–19.7 GB peak vs THIS shape's
    563 s / 16.6 GB (identical 1,468,168 pairs; r14 probes).  The tier
    pays two extra per-doc agg recomputes plus an O(tier-1-admissions)
    full-set intermediate (31.6M rows, 11.6 GB), while the banded
    exchange it shrinks is written only ONCE — ReuseExchange shares it
    between the self-join's sides (confirmed in both r14 probes: one
    banded stage, the join stage reading it twice), so the int64
    payload costs one exchange, not two.  The tier stays the right
    shape where candidates arrive as a bare id-pair frame and each
    side's set must be re-joined per candidate (ngram / containment /
    incremental / streaming verifies — ``tiered_jaccard_verify``).

    The hash family is ONE base hash per shingle (md5 by default) fed
    through ``num_hashes`` universal-hash permutations
    (``functions.hashing.minhash_perm``) — 16× less hash work than the
    classic md5-per-seed form, and the same integer arithmetic is
    reproduced verbatim by the DuckDB oracles.  ``fast_hash=True``
    swaps the md5 base for xxhash64 — cheaper again.  The verify stage
    computes EXACT Jaccard either way, so the base hash only moves
    candidate recall, never pair values; md5 stays the default because
    DuckDB has no xxhash64.
    """
    rows = num_hashes // bands

    if fast_hash:
        base_h = F.pmod(F.xxhash64(F.col("s")), F.lit(H.MINHASH_M))
    else:
        base_h = F.expr(H.minhash_base(SPARK, "s"))

    # ONE aggregation pass builds everything per-document: the minhash
    # signature (min is duplicate-insensitive, so the shingle rows skip
    # the distinct shuffle) and the exact-verify shingle set
    # (collect_set dedups on its own).  The shingle window already
    # hash-partitions by id, so this groupBy is exchange-free — the
    # whole (documents → per-doc state) stretch is a single shuffle.
    # NOT persisted: the banded exchange below is shared by both join
    # sides via ReuseExchange (r14 probes: one banded stage at sf10 and
    # sf100), so the agg runs once and an InMemoryRelation build would
    # only add cost (r11 A/B: 25.9 vs 42.3 s at sf10 for nopersist vs
    # persist) while pinning executor memory.
    # The verify sets hold xxhash64 shingle IDS, not strings — ~8 B vs
    # ~35 B per shingle through the banded exchange (the neardup
    # stream / ngram kernels' rule; r11 measured the string form
    # holding 25.3 GB of live shuffle at sf10).  Jaccard over ids
    # equals Jaccard over strings barring a ~n²/2⁶⁵ collision, so the
    # string-set oracle still applies value-for-value.
    exploded = exploded_shingles(df, text_col, id_col, shingle_words,
                                 distinct=False)
    per_doc = exploded.withColumn("_mhb", base_h).groupBy("id").agg(
        *[F.expr(f"min({H.minhash_perm(SPARK, str(i), '_mhb')}) AS h{i}")
          for i in range(num_hashes)],
        F.collect_set(F.xxhash64("s")).alias("shingles"),
    )
    # Verify INLINE in the band self-join: each banded row carries its
    # doc's shingle-id set (a fixed bands× replication, ~constant bytes
    # per doc), the join co-locates both sets, and the whole verify
    # runs inside the join condition — nothing heavier than surviving
    # pairs is shuffled again.  The r1-r10 shape dedup'd candidates
    # FIRST and then joined the per-doc sets to the candidate list,
    # which shipped one set copy PER CANDIDATE through the pair-keyed
    # exchanges: at sf10 (500k docs) the shuffle probe measured
    # 13.5 GiB written on the second verify join plus 18.9 GiB of
    # hash-agg spill deduping 260M raw collisions — 84 % of the
    # query's 16.5 GiB live-disk peak, and the single-box ENOSPC wall
    # at sf100.  Candidates scale linearly with the corpus (331k at
    # sf0.1 → 32.6M at sf10, measured), so per-candidate set shipping
    # is O(corpus) with a ~40× constant vs the banded rows' bands×.
    # Values are identical: same candidate set (pairs sharing ≥1
    # band), same exact Jaccard, same threshold.
    #
    # Both join sides are CORPUS-sized with array payloads: pin
    # shuffle_hash so AQE can never broadcast-convert them — at a mid
    # scale the compressed shuffle bytes sit under the auto-broadcast
    # threshold while the driver-side HashedRelation build blows the
    # heap (r10: the first sf10 run died exactly there), and at 100 TB
    # a corpus broadcast is fatal at any threshold.
    # Each banded row also carries the doc's 16 minhash columns (128 B,
    # ~+15 % on the banded exchange): a pair colliding in k bands
    # appears k times in the join, and the raw columns let each
    # collision decide POSITIONALLY whether it is the pair's FIRST
    # matching band — only that one evaluates the (~8x dearer) exact
    # Jaccard and emits, so verify work is once per DISTINCT candidate
    # and the output needs no dropDuplicates exchange at all.  The
    # slice comparison is exact (band keys are md5 of the slices, so
    # key-equality ⟺ slice-equality up to an md5 collision — the same
    # equivalence the band join itself rests on).  The check is a
    # CASE chain over plain column equalities — whole-stage codegen;
    # the first cut of this shape used zip_with/array_position HOFs
    # here and the interpreted eval cost ~2x the whole query at sf0.1
    # (the per-collision path runs 260M times at sf10).
    hcols = [f"h{i}" for i in range(num_hashes)]
    banded = per_doc.select(
        "id", "shingles", *hcols,
        F.posexplode(F.expr(H.lsh_bands(
            SPARK, f"array({', '.join(hcols)})", bands, rows))
        ).alias("band_i", "band"),
    )
    a_side, b_side = banded.alias("a"), banded.alias("b")

    def band_eq(i: int) -> str:
        return " AND ".join(f"(a.h{i * rows + r} <=> b.h{i * rows + r})"
                            for r in range(rows))

    # The whole predicate is ONE ordered And chain, because Catalyst
    # folds it into the join CONDITION where common subexpressions are
    # NOT eliminated and evaluation is per matched row — the first cut
    # filtered in where() layers, Catalyst re-stacked them with the
    # exact-Jaccard check (3 array_intersect hash-set builds per eval)
    # ahead of the 1-comparison id guard, and the verify cost tripled.
    # Order here is cheapest-first: id guard (1 cmp), first-band (≤16
    # cmps; a.band_i == b.band_i whenever the keys match — referencing
    # both keeps the join inputs column-identical after pruning), then
    # a ONE-intersect necessary bound (``jaccard_ge``'s exact integer
    # cutoff), and the exact rounded check only on pairs the bound
    # admits.  The WHOLE condition (band equality included) is one
    # parsed SQL string — ExtractEquiJoinKeys still lifts
    # `a.band = b.band` into the equi-join key after resolution, so
    # the join stays a shuffled-hash equi-join (plan-asserted by
    # tests/test_plan_audit.py's shuffle_hash unit).
    jac = F.expr(
        f"round({H.jaccard(SPARK, 'a.shingles', 'b.shingles')}, 6)")
    cond = F.expr(
        "(a.band = b.band) AND (a.id < b.id) AND ("
        + "CASE " + " ".join(f"WHEN {band_eq(i)} THEN {i}"
                             for i in range(bands)) + " END"
        + " = greatest(a.band_i, b.band_i)) AND "
        + H.jaccard_ge(SPARK, "a.shingles", "b.shingles", min_jaccard))
    verified = (
        a_side.hint("shuffle_hash")
        .join(b_side.hint("shuffle_hash"), cond)
        .select(F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"), jac.alias("jaccard"))
    )
    return verified


def banded_ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                               id_col: str = "doc_id",
                               attr_col: str | None = None,
                               shingle_words: int = 3,
                               num_hashes: int = 16, bands: int = 4,
                               min_jaccard: float = 0.2,
                               materialize: str = "persist",
                               parts: int | None = None) -> DataFrame:
    """Exact n-gram Jaccard within (attr × MinHash-band) blocks, with
    ONE shingle pass.

    Plan shape (the ``minhash_lsh_pairs`` shape, with shingle-id sets
    instead of shingle strings): the exploded shingles are computed
    once (persisted); one branch builds the minhash band keys, another
    the per-doc xxhash64 shingle-id sets.  Candidates come from an
    ids-ONLY equi-join on (attr, band) — banding bounds the candidate
    count, and nothing heavier than (id, band) rows replicates through
    the band shuffle (an earlier version shipped every doc's sid set
    ``bands``× into per-block GEMM groups; the compact candidate join
    beats it at every scale).  Each surviving pair is verified once
    with exact Jaccard from the full sets — JVM-side array intersect,
    so values are identical to any other blocking of the same pairs.
    """
    rows = num_hashes // bands
    base = df.withColumn("_attr",
                         F.col(attr_col) if attr_col else F.lit(""))
    # duplicate-shingle rows are fine here: min is duplicate-insensitive
    # and collect_set dedups the shingle-id sets — so the distinct
    # shuffle is skipped and the groupBy rides the shingle window's
    # (id, _attr) partitioning exchange-free.  Only the compact per-doc
    # sig frame is persisted.
    exploded = exploded_shingles(base, text_col, id_col, shingle_words,
                                 extra_cols=["_attr"], distinct=False,
                                 parts=parts)
    sig = (exploded.withColumn("_mhb", F.expr(H.minhash_base(SPARK, "s")))
           .groupBy("_attr", "id").agg(
               *[F.expr(f"min({H.minhash_perm(SPARK, str(i), '_mhb')}) "
                        f"AS h{i}") for i in range(num_hashes)],
               F.collect_set(F.xxhash64("s")).alias("sids"),
           ))
    # run-once callers pay persist()'s InMemoryRelation columnar build
    # on their only pass (the 2-4x first-build trap, CLAUDE.md);
    # 'checkpoint' trades that for an eager materialization
    sig = (sig.localCheckpoint(eager=True) if materialize == "checkpoint"
           else sig.persist())
    banded = sig.select(
        "id", "_attr",
        F.explode(F.expr(H.lsh_bands(
            SPARK, f"array({', '.join(f'h{i}' for i in range(num_hashes))})",
            bands, rows))).alias("band"),
    ).select("id", F.concat_ws("|", "_attr", "band").alias("blk"))
    cand = (
        banded.alias("a").join(banded.alias("b"), on="blk")
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )
    if parts:
        # pin the candidate-dedup exchange too (the band join itself is
        # left alone: at bench scale it is a BroadcastHashJoin of the
        # ids-only banded side — a repartition would force a shuffle
        # where none is planned).  id_a ALONE: hash(id_a) satisfies the
        # dedup's (id_a, id_b) clustering, and the agg-established
        # partitioning then pulls the verify's first join down to
        # ``parts`` (see tiered_jaccard_verify / containment_pairs)
        cand = cand.repartition(parts, "id_a")
    cand = cand.dropDuplicates(["id_a", "id_b"])
    # Two-tier exact verify — the shared helper (the dd_containment
    # int16 pattern, r13; see tiered_jaccard_verify for the bound /
    # size-guard / tier-2 argument).  Values identical to a one-tier
    # exact verify, proven by the banded-candidate oracle at every
    # driver sample.
    sets = sig.select("id", "sids")
    return tiered_jaccard_verify(cand, sets, sets, min_jaccard,
                                 parts=parts)


def containment_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", shingle_words: int = 3,
                      tau_num: int = 4, tau_den: int = 5,
                      stage_dir: str | None = None,
                      parts: int | None = None) -> DataFrame:
    """EXACT one-sided containment join: every ordered pair (a, b) with
    ``|S(a) ∩ S(b)| / |S(a)| >= tau_num/tau_den`` over distinct word
    shingles — the "document a is mostly inside document b" dedup that
    symmetric Jaccard misses when sizes are skewed (quote pages, page
    fragments, boilerplate-wrapped copies).

    Candidates via PREFIX FILTERING (the AllPairs/PPJoin family of
    set-similarity joins): order each document's shingles by ascending
    global document frequency (ties on the shingle hash), and index only
    its first ``p = n - ceil(tau*n) + 1`` shingles.  Completeness: if
    containment(a, b) >= tau then ``|S(a) ∩ S(b)| >= ceil(tau*n_a)``, so
    b misses at most ``n_a - ceil(tau*n_a) = p - 1`` of a's shingles —
    by pigeonhole at least ONE of a's p prefix shingles is in S(b), and
    the (prefix(a) ⋈ shingles(b)) equi-join finds the pair.  No recall
    loss, proven by the brute-force oracle of ``dd_containment`` (the
    same lossless-blocking proof pattern as j3_border_correct).

    Scale shape: global shingle frequencies are one partial-agg shuffle;
    per-doc ranking is a window on the id partition; the candidate join
    probes an inverted index that holds only PREFIX shingles — the
    rarest ~(1-tau) fraction of each doc — so probe amplification is
    bounded by the document frequency of rare shingles, not by corpus
    size; the threshold test runs in INTEGER arithmetic
    (``tau_den * |∩| >= tau_num * n_a``), engine-exact.  ``ceil`` is
    integer too: ``(tau_num*n + tau_den - 1) div tau_den``.  Shingle
    sets are xxhash64 ids (8 B/shingle; counts equal string counts
    barring a ~n²/2⁶⁵ collision, the ngram_jaccard argument).
    """
    # SQL expression strings throughout (this builder measured ~1,700
    # py4j commands in Column form)
    def _rp(d: DataFrame, *cols: str) -> DataFrame:
        # pin an exchange to the bytes-derived count in the tiny-data
        # regime (sizing.small_exchange_parts); parts=None (every
        # at-scale regime) keeps the session-partitioned plan unchanged
        return d.repartition(parts, *cols) if parts else d

    sh = (exploded_shingles(df, text_col, id_col, shingle_words,
                            parts=parts)
          .selectExpr("id", "xxhash64(s) AS sid"))
    freq = sh.groupBy("sid").agg(F.expr("count(1) AS df"))
    # ONE materialized frame feeds the a-side prefix, the b-side
    # positional index AND the verify sets — persisting thin `sh`
    # instead made the b-side recompute the freq-join + rank window
    # (r12 probe: +3.8 GB of duplicated shuffle at sf10)
    # NO pin on the freq join or the rank window: freq is broadcast
    # (bounded distinct-shingle counts) and the window rides the
    # shingle window's hash(id) partitioning — both exchange-free in
    # the before-plan (plans/r15/dd_containment_before.txt)
    ranked_n = (sh.join(freq, "sid").selectExpr(
        "id", "sid",
        "row_number() OVER (PARTITION BY id ORDER BY df, sid) AS rk",
        "count(1) OVER (PARTITION BY id) AS n"))
    if stage_dir is None:
        # default (bench/driver scale): keep the frame in the block
        # manager — no filesystem side effects
        ranked_n = ranked_n.persist()
    else:
        # at-scale path: stage the rank frame to parquet (zstd) instead
        # of persist.  Its on-disk footprint is ONE compressed columnar
        # copy rather than block-manager spill, and — decisive for the
        # one-box /tmp budget (r12: 61 GB live vs 58 GB free) — the
        # shingle-explode / freq-join / rank-window shuffles upstream
        # become unreachable once the write finishes, so the caller's
        # release_shuffles() frees them BEFORE the candidate/verify
        # phase allocates its exchanges: peak live becomes
        # max(phase1, phase2), not their sum.  On a cluster this is the
        # standard checkpoint-the-expensive-frame pattern.
        spark = df.sparkSession
        (ranked_n.write.mode("overwrite")
         .option("compression", "zstd").parquet(stage_dir))
        ranked_n = spark.read.parquet(stage_dir)
    prefix = ranked_n.where(
        f"rk <= ((n - (({tau_num} * n + {tau_den} - 1) div {tau_den}))"
        f" + 1)")
    # Candidate join with the PPJoin-style LENGTH and POSITIONAL
    # filters fused into the condition — both LOSSLESS (r12: they cut
    # candidates 1.5x on this corpus, and candidate count is exactly
    # what the verify stage's shuffle bytes scale with — the sf100
    # single-query disk wall):
    # - length: |∩| <= min(n_a, n_b), so containment needs
    #   n_b >= ceil(tau * n_a);
    # - positional: both shingle lists are sorted by the SAME total
    #   order (df, sid), so a shared shingle at rank rk_a in a and
    #   rk_b in b bounds |∩| <= min(rk_a, rk_b) - 1 (common tokens
    #   strictly before it sit before it in BOTH lists) + 1 (itself)
    #   + min(n_a - rk_a, n_b - rk_b) (after it).  A true pair
    #   satisfies the bound at EVERY shared token, so at least its
    #   prefix match survives — no recall loss (the brute-force oracle
    #   of dd_containment re-proves it at every driver sample).
    idx_b = ranked_n.selectExpr("id AS id_b", "sid", "rk AS rk_b",
                                "n AS n_b")
    t_a = f"(({tau_num} * n_a + {tau_den} - 1) div {tau_den})"
    cand = (prefix.selectExpr("id AS id_a", "sid", "rk AS rk_a",
                              "n AS n_a")
            .join(idx_b, "sid")
            .where(f"(id_a != id_b) AND (n_b >= {t_a}) AND "
                   f"((least(rk_a, rk_b) + least(n_a - rk_a, n_b - rk_b))"
                   f" >= {t_a})")
            .select("id_a", "id_b"))
    # the prefix⋈index join itself is NOT pinned (at bench scale one
    # side broadcasts — a repartition would force a shuffle where none
    # is planned).  The dedup IS: repartition on id_a ALONE — hash(id_a)
    # satisfies the dedup's (id_a, id_b) clustering (subset rule), the
    # aggregation rides the pinned exchange, and because the agg is a
    # non-exchange operator its hash(id_a, parts) output partitioning
    # survives into the verify joins (EnsureRequirements lifts a bare
    # user exchange below a join back to the session count — measured
    # r15 — but accepts agg-established partitionings and matches the
    # other join side to them)
    cand = _rp(cand, "id_a").dropDuplicates()
    # Two-tier exact verify.  Tier 1 ships INT16 projections of the
    # shingle-id sets through the per-candidate exchanges — the
    # per-candidate set payload IS the one-box disk wall (r12: the
    # candidates x int32-set exchange alone wrote 45.9 GB at sf100
    # against 58 GB of /tmp; random xxhash64 payloads are
    # incompressible, zstd bought 12%).  The low-16-bit projection
    # halves the r12 bytes again, and its intersection count is a
    # STRICT UPPER BOUND on the true one whenever both sets are
    # internally collision-free under the projection (then distinct
    # images preserve per-set counts, and every true common sid
    # contributes a common image): pairs failing tau on the bound are
    # safely dropped.  Internally-colliding docs are NOT rare at 16
    # bits (P ~ n^2/2^17 ~ 2% per ~50-shingle doc, vs ~0% at 32) —
    # they bypass via the size guard, so ~4% of candidates flow to
    # tier 2 carrying full sets: ~2% of the old tier-1 bytes, a net
    # ~2x win, still exact.  False passes from CROSS-set image
    # collisions stay negligible (E[spurious common images] ~
    # n^2/2^16 ~ 0.04 per pair vs a threshold gap of ~40).  Tier 2
    # re-verifies survivors + bypasses against the full int64 sets —
    # values identical, proven by the brute-force oracle.
    # Corpus-sized array sides: shuffle_hash hints, never AQE-broadcast
    # (see minhash_lsh_pairs); all built from the materialized rank
    # frame.  Sign-extending low-16 projection (shiftleft then
    # arithmetic shiftright keeps the value in SMALLINT range; a bare
    # & 0xFFFF overflows the ANSI smallint cast).
    # the per-id set aggregations are repartitioned BEFORE the groupBy
    # when pinned (the cached rank frame's partitioning is hidden
    # behind its AdaptiveSparkPlan, so the aggs exchange either way —
    # pre-agg repartition keeps it ONE exchange at the pinned count;
    # post-agg repartition would stack a second exchange on top)
    grp_src = _rp(ranked_n, "id")
    sets16 = grp_src.groupBy("id").agg(
        F.expr("collect_set(CAST(shiftright(shiftleft(sid, 48), 48) "
               "AS SMALLINT)) AS s16"),
        F.expr("count(1) AS n_true"))
    surv = (cand
            .join(sets16.selectExpr("id AS id_a", "s16 AS s16_a",
                                    "n_true AS n_a")
                  .hint("shuffle_hash"), "id_a")
            .join(sets16.selectExpr("id AS id_b", "s16 AS s16_b",
                                    "n_true AS n_b_true")
                  .hint("shuffle_hash"), "id_b")
            .where(f"(size(s16_a) < n_a) OR (size(s16_b) < n_b_true) OR "
                   f"(({tau_den} * size(array_intersect(s16_a, s16_b)))"
                   f" >= ({tau_num} * n_a))")
            .select("id_a", "id_b"))
    sets = grp_src.groupBy("id").agg(F.expr("collect_set(sid) AS sids"))
    s_a = sets.selectExpr("id AS id_a", "sids AS s_a")
    s_b = sets.selectExpr("id AS id_b", "sids AS s_b")
    if parts:
        # tier-2 b-first on the pinned path: surv leaves tier 1
        # hash-partitioned by id_b, so the first tier-2 join plans no
        # new exchange for the survivor stream (values are join-order
        # invariant — inner equi-joins; the brute-force oracle
        # re-proves it); the at-scale path keeps r14's proven order
        verified = (surv
                    .join(s_b.hint("shuffle_hash"), "id_b")
                    .join(s_a.hint("shuffle_hash"), "id_a"))
    else:
        verified = (surv
                    .join(s_a.hint("shuffle_hash"), "id_a")
                    .join(s_b.hint("shuffle_hash"), "id_b"))
    return (verified
            .selectExpr("id_a", "id_b",
                        "size(array_intersect(s_a, s_b)) AS n_int",
                        "CAST(size(s_a) AS BIGINT) AS n_a")
            .where(f"({tau_den} * n_int) >= ({tau_num} * n_a)")
            .selectExpr("id_a", "id_b", "n_a",
                        "(CAST(n_int AS DOUBLE) / n_a) AS containment"))


def minhash_state(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", shingle_words: int = 3,
                  num_hashes: int = 16,
                  with_sids: bool = False) -> DataFrame:
    """(id, h0..h{N-1}[, sids]) — ONE aggregation yielding each doc's
    MinHash signature columns and (optionally) its xxhash64 shingle-id
    set.  This is THE wiring of the hash family (minhash_base →
    min(minhash_perm_i), collect_set(xxhash64)) — every consumer
    (``minhash_band_keys``, ``dd_incremental``'s staged index,
    ``neardup_dedup_stream``'s per-batch state) derives from it, so
    the family can never silently fork from the shared SQL oracle
    CTEs (functions/hashing.py: minhash_base/minhash_perm in the DuckDB
    dialect)."""
    exploded = exploded_shingles(df, text_col, id_col, shingle_words,
                                 distinct=False)  # min is dup-insensitive
    aggs = [F.expr(f"min({H.minhash_perm(SPARK, str(i), '_mhb')}) AS h{i}")
            for i in range(num_hashes)]
    if with_sids:
        aggs.append(F.collect_set(F.xxhash64("s")).alias("sids"))
    return (exploded.withColumn("_mhb", F.expr(H.minhash_base(SPARK, "s")))
            .groupBy("id").agg(*aggs))


def lsh_band_rows(state: DataFrame, num_hashes: int,
                  bands: int) -> DataFrame:
    """(id, band) from a ``minhash_state`` frame — the exploded LSH
    band keys, exactly as ``minhash_lsh_pairs`` derives them."""
    return state.select(
        "id", F.explode(F.expr(H.lsh_bands(
            SPARK, f"array({', '.join(f'h{i}' for i in range(num_hashes))})",
            bands, num_hashes // bands))).alias("band"))


def minhash_band_keys(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", shingle_words: int = 3,
                      num_hashes: int = 16, bands: int = 4) -> DataFrame:
    """(id, band) — the exploded MinHash band keys of each document,
    exactly as ``minhash_lsh_pairs`` derives them.

    Join this back to the source frame to compose a banded blocking key
    for ANY pairwise operator (e.g. ``ngram_jaccard_pairs`` with
    ``block_col = lang × band``): block sizes then scale with the number
    of near-duplicate clusters instead of with attribute cardinality —
    a bare ``lang`` block is one task per language and dies on the
    first billion-doc language."""
    return lsh_band_rows(
        minhash_state(df, text_col, id_col, shingle_words, num_hashes),
        num_hashes, bands)


def block_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id", block_words: int = 8) -> DataFrame:
    """Corpus-wide duplicate-BLOCK removal (paragraph-level exact dedup,
    the train-set hygiene pass of "Deduplicating Training Data Makes
    Language Models Better": repeated passages are removed everywhere
    but their first occurrence, instead of dropping whole documents).

    The corpus here is synthetic word soup with no paragraph breaks, so
    "paragraph" is a fixed window of ``block_words`` consecutive
    normalized words; with natural text the splitter would be
    ``split(text, '\\n\\n')`` and everything downstream is unchanged.

    Returns one row per input document: ``(id, n_blocks, n_kept,
    text_kept)`` where ``text_kept`` is the document's surviving blocks
    re-joined in order ('' when every block was a repeat).  First
    occurrence is global and deterministic: ordered by (id, block
    index).

    Plan shape (three bounded shuffles, no row blow-up beyond the word
    explode): words → per-(id, block) assembly groupBy → ONE window
    partitioned by block text ranks occurrences → ONE per-id groupBy
    computes totals, survivor count, and the ordered reassembly in the
    same pass.  At 100 TB the block-text shuffle key is the only wide
    exchange and it is maximally spread (every distinct block is its own
    key); skewed boilerplate blocks are exactly the rows the operator
    deletes, and AQE skew-split covers the read side.
    """
    words = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.filter(F.split(F.expr(H.norm_text(SPARK, text_col)), " "),
                     lambda w: w != "")
        ).alias("pos", "w"),
    )
    blocks = (
        words.withColumn("b", F.expr(f"pos div {block_words}"))
        .groupBy("id", "b")
        .agg(F.array_join(
            F.transform(F.array_sort(F.collect_list(F.struct("pos", "w"))),
                        lambda x: x["w"]), " ").alias("btxt"))
    )
    rn = F.row_number().over(Window.partitionBy("btxt").orderBy("id", "b"))
    ranked = blocks.withColumn("rn", rn)
    per_doc = ranked.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.count(F.when(F.col("rn") == 1, 1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(
                    F.when(F.col("rn") == 1, F.struct("b", "btxt")))),
                lambda x: x["btxt"]), " ").alias("text_kept"),
    )
    base = df.select(F.col(id_col).alias("id"))
    return base.join(per_doc, on="id", how="left").select(
        "id",
        F.coalesce("n_blocks", F.lit(0).cast("bigint")).alias("n_blocks"),
        F.coalesce("n_kept", F.lit(0).cast("bigint")).alias("n_kept"),
        F.coalesce("text_kept", F.lit("")).alias("text_kept"),
    )


def simhash_table(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", bits: int = 64) -> DataFrame:
    """(id, simhash bigint) per document.

    Explode-based plan: one row per distinct token, 64 codegen'd
    sum-aggregates for the per-bit votes, then one weighted combine.
    Semantically identical to ``functions.hashing.simhash64`` (which is
    the per-column expression form) but stays in whole-stage codegen.
    Documents with no tokens are DROPPED (not emitted as simhash 0):
    a content hash of empty content is meaningless, two whitespace-only
    docs must not pair at Hamming 0, and the DuckDB oracle's ``w`` CTE
    (unnest of the token list) never produces rows for them — this
    matches the population rule the pHash twin applies
    (``multimodal.perceptual_hashes`` drops token-free payloads).
    """
    words = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array_distinct(
                F.filter(F.split(F.expr(H.norm_text(SPARK, text_col)), " "),
                         lambda w: w != ""))
        ).alias("w"),
    ).withColumn("h", F.md5("w"))
    # One substring+instr per NIBBLE (16), not per bit (64) — the four
    # bit votes of a nibble are then cheap shift/mask arithmetic.  The
    # 64-aggregate + 64-term-combine plan is built from SQL STRINGS
    # (one parse per projection), not per-op Column calls: the Column
    # form paid ~2 s of py4j round-trips + eager re-analysis per
    # construction — the dominant cost of the whole query at bench
    # scale (build 5.1 s vs 1.2 s execution, evidence/r14_phase1.json;
    # the expression-string form builds in 0.35-0.38 s with
    # row-identical output).
    words = words.selectExpr(
        "id", *[f"(instr('0123456789abcdef', substring(h, {n + 1}, 1)) - 1)"
                f" AS nib{n}" for n in range(bits // 4)])
    votes = words.groupBy("id").agg(
        *[F.expr(f"sum(((shiftright(nib{b // 4}, {3 - (b % 4)}) & 1)"
                 f" * 2) - 1)").alias(f"v{b}") for b in range(bits)])
    terms = []
    for b in range(bits):
        w = -(2 ** 63) if (bits - 1 - b) == 63 else 2 ** (bits - 1 - b)
        lit = ("(-9223372036854775807 - 1)" if w == -(2 ** 63)
               else f"CAST({w} AS BIGINT)")
        terms.append(f"(CASE WHEN v{b} > 0 THEN {lit}"
                     f" ELSE CAST(0 AS BIGINT) END)")
    return votes.selectExpr("id", " + ".join(terms) + " AS simhash")


def blocked_hamming_pairs(t: DataFrame, id_col: str, hash_col: str,
                          max_hamming: int, block_bits: int) -> DataFrame:
    """The prefix-blocked Hamming self-join over any (id, 64-bit hash)
    table — shared by text simhash (``simhash_pairs``) and the
    multimodal pHash path (``multimodal.phash_pairs``): one equi-join
    on the top-``block_bits`` prefix, never quadratic.  Returns
    (id_a, id_b, hamming) with id_a < id_b.
    """
    if block_bits > 0:
        # arithmetic shift, not floor(x / 2^k): double division rounds
        # the 64-bit value to 53 bits and can misplace hashes within
        # ~2^11 of a block boundary — and the SQL mirror (>>) must
        # agree bit-for-bit
        t = t.withColumn("blk", F.shiftright(F.col(hash_col),
                                             64 - block_bits))
    else:
        t = t.withColumn("blk", F.lit(0))
    a, b = t.alias("a"), t.alias("b")
    return (
        a.join(b, F.col("a.blk") == F.col("b.blk"))
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .withColumn("hamming", H.hamming64(F.col(f"a.{hash_col}"),
                                           F.col(f"b.{hash_col}")))
        .where(F.col("hamming") <= max_hamming)
        .select(F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"), "hamming")
    )


def simhash_pairs(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", max_hamming: int = 8,
                  block_bits: int = 16) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming.

    The DEFAULT is blocked (top-16-bit prefix → the self-join is an
    equi-join, never quadratic): pairs differing inside the prefix are
    missed (standard multi-probe trade-off; at 100 TB run
    64/max_hamming rotated-prefix passes for recall).  ``block_bits=0``
    is the exact quadratic variant — opt-in only, for bounded tables:
    an unblocked self-join as the default invites a cartesian at scale.
    """
    t = simhash_table(df, text_col, id_col)
    return blocked_hamming_pairs(t, "id", "simhash",
                                 max_hamming, block_bits)


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", block_col: str | None = None,
                        shingle_words: int = 3,
                        min_jaccard: float = 0.2,
                        overlapping_blocks: bool = False,
                        slice_elems: int = 4_000_000) -> DataFrame:
    """Exact n-gram Jaccard pairs within blocks.

    ``overlapping_blocks=True`` declares that one document may appear in
    several blocks (e.g. ``block_col`` composed with MinHash band keys
    from :func:`minhash_band_keys`) — pairs are then deduplicated across
    blocks.  The per-pair Jaccard is computed from the full shingle sets
    either way, so overlap changes recall, never values.

    Plan: dictionary-encode shingles (distinct-shingle dimension table,
    broadcast), gather each document's shingle-id set, then one
    ``applyInPandas`` per block computing all pairwise intersection counts
    as a single binary-matrix GEMM (``M @ M.T``) — exact counts, vectorized,
    ~1000x the throughput of per-pair array intersection.  Blocks are the
    unit of parallelism (the reference's tile-blocking generalized), so the
    shuffle key is ``block_col`` and no block ever needs more than one task.

    The final round + threshold happens in Spark (JVM `round`) so results
    are bit-identical with a SQL oracle computing `round(i/u, 6)`.
    """
    base = df.withColumn("blk", F.col(block_col) if block_col else F.lit(0))
    exploded = exploded_shingles(
        base, text_col, id_col, shingle_words, extra_cols=["blk"],
        distinct=False,  # collect_set dedups; skips a full shuffle
    )
    # Shingle ids are xxhash64 of the shingle text — no dictionary pass,
    # no global-window bottleneck.  A 64-bit collision would merge two
    # distinct shingles (probability ~n²/2⁶⁵ — negligible even at 10¹⁰
    # shingles); the GEMM kernel only needs ids to be distinct.
    encoded = (
        exploded.withColumn("sid", F.xxhash64("s"))
        .groupBy("blk", "id")
        .agg(F.collect_set("sid").alias("sids"))
    )

    emit_floor = min_jaccard - 1e-6
    out_schema = "id_a long, id_b long, jac_raw double"

    def gemm(pdf):
        import numpy as np
        import pandas as pd

        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "jac_raw": []})
        pdf = pdf.sort_values("id").reset_index(drop=True)
        ids = pdf["id"].to_numpy()
        # CSR of the block's doc→shingle-id incidence (local vocab ids).
        lens = np.fromiter((len(row) for row in pdf["sids"]), dtype=np.int64,
                           count=n)
        indptr = np.concatenate(([0], np.cumsum(lens)))
        flat_sids = (np.concatenate([np.asarray(row, dtype=np.int64)
                                     for row in pdf["sids"]])
                     if indptr[-1] else np.empty(0, dtype=np.int64))
        local, cols = np.unique(flat_sids, return_inverse=True)
        vocab = len(local)
        sizes = lens.astype(np.float64)
        # Row-blocked either way: the whole n×n intersection matrix is
        # O(n²) — a hot block would OOM the worker at scale (the r10
        # sf10 lesson from similarity._GEMM_SLICE_ELEMS).  The DENSE
        # incidence matrix is O(n·vocab), which for a hot block can
        # dwarf the n² term (r10 ADVICE) — so the dense GEMM fast path
        # only runs when n·vocab fits the same slice budget; otherwise a
        # postings (CSC) sparse path computes the identical integer
        # intersection counts with O(nnz + slice) memory.
        dense = n * vocab <= max(slice_elems, 1)
        if dense:
            m = np.zeros((n, vocab), dtype=np.float32)
            rows_of = np.repeat(np.arange(n, dtype=np.int64), lens)
            m[rows_of, cols] = 1.0
        else:
            # CSC postings: for each local shingle, the doc rows holding
            # it.  collect_set guarantees (row, shingle) uniqueness, so
            # intersection counts are plain event counts.
            order = np.argsort(cols, kind="stable")
            post_rows = np.repeat(np.arange(n, dtype=np.int64), lens)[order]
            post_indptr = np.concatenate(
                ([0], np.cumsum(np.bincount(cols, minlength=vocab))))
        step = max(1, slice_elems // max(n, 1))
        out_a, out_b, out_j = [], [], []
        for i0 in range(0, n - 1, step):
            i1 = min(i0 + step, n)
            if dense:
                # float32 GEMM is exact for integer counts < 2^24.
                inter = (m[i0:i1] @ m.T).astype(np.float64)
            else:
                inter = np.zeros((i1 - i0) * n, dtype=np.int64)
                q_sids = cols[indptr[i0]:indptr[i1]]
                q_of = np.repeat(np.arange(i1 - i0, dtype=np.int64),
                                 lens[i0:i1])
                post_lens = post_indptr[q_sids + 1] - post_indptr[q_sids]
                # Chunk the (query-shingle → posting) event stream so no
                # materialized array exceeds the slice budget.
                cum = np.cumsum(post_lens)
                a = 0
                while a < len(q_sids):
                    base_ev = cum[a - 1] if a else 0
                    b = int(np.searchsorted(
                        cum, base_ev + max(slice_elems, 1), side="right"))
                    b = min(max(b, a + 1), len(q_sids))
                    seg_lens = post_lens[a:b]
                    tot = int(seg_lens.sum())
                    if tot:
                        starts = post_indptr[q_sids[a:b]]
                        seg_ends = np.cumsum(seg_lens)
                        # range-concatenation: event e in [0, tot) maps to
                        # post_rows[starts[k] + (e - seg_start[k])]
                        offs = (np.arange(tot, dtype=np.int64)
                                - np.repeat(seg_ends - seg_lens, seg_lens))
                        ev_rows = post_rows[np.repeat(starts, seg_lens)
                                            + offs]
                        ev_q = np.repeat(q_of[a:b], seg_lens)
                        inter += np.bincount(ev_q * n + ev_rows,
                                             minlength=(i1 - i0) * n)
                    a = b
                inter = inter.reshape(i1 - i0, n).astype(np.float64)
            # divide in float64 so round(i/u, 6) is bit-identical with
            # the SQL oracle
            union = sizes[i0:i1, None] + sizes[None, :] - inter
            with np.errstate(divide="ignore", invalid="ignore"):
                jac = np.where(union > 0, inter / union, 0.0)
            ii, jj = np.nonzero(jac >= emit_floor)
            gi = ii + i0
            keep = jj > gi  # strict upper triangle
            out_a.append(ids[gi[keep]])
            out_b.append(ids[jj[keep]])
            out_j.append(jac[ii[keep], jj[keep]])
        return pd.DataFrame({
            "id_a": np.concatenate(out_a) if out_a else ids[:0],
            "id_b": np.concatenate(out_b) if out_b else ids[:0],
            "jac_raw": (np.concatenate(out_j) if out_j
                        else np.array([], dtype=np.float64)),
        })

    pairs = encoded.groupBy("blk").applyInPandas(gemm, schema=out_schema)
    if overlapping_blocks:
        pairs = pairs.dropDuplicates(["id_a", "id_b"])
    return (
        pairs.withColumn("jaccard", F.round("jac_raw", 6))
        .where(F.col("jaccard") >= min_jaccard)
        .select("id_a", "id_b", "jaccard")
    )


def duplicate_spans(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", span_words: int = 5) -> DataFrame:
    """X51 — substring-level duplicate-SPAN detection: every maximal run
    of words covered by some ``span_words``-gram that occurs ≥2 times
    corpus-wide (the span-level pass of "Deduplicating Training Data
    Makes Language Models Better" — trained-on text repeats at the
    substring level long before whole documents or paragraphs repeat;
    the reference's analog is word-set containment in
    ``CheckNames``-style fuzzy matching, generalized here to positions).

    Returns ``(doc_id, span_start, span_end, span_words)`` — word
    offsets (0-based, inclusive) of each maximal duplicated span, one
    row per span.  A document with no duplicated window emits nothing.

    Plan shape: the sliding ``span_words``-gram table is built ROW-side
    (``transform(sequence(...))`` over the per-doc word array — no
    self-join, no explode-then-window regroup), keyed by ``xxhash64`` of
    the window text so the wide shuffle moves 8-byte keys, not L-word
    strings.  One partial-agg groupBy counts occurrences (map-side
    combine collapses each partition's repeats first), one equi-join
    marks duplicated window starts, and ONE per-doc window pass merges
    overlapping/adjacent starts into maximal spans (gaps-and-islands:
    a break when ``start - lag(start) > span_words``).  At 100 TB the
    only wide exchanges are the 8-byte-key count shuffle and the per-doc
    island window — both linear in token count; boilerplate mega-repeat
    windows skew the count key but AQE skew-split handles a key whose
    payload is one bigint.  The oracle groups by the raw window TEXT, so
    hash equality also certifies the xxhash64 keying loses nothing
    (collision odds ~n²/2⁶⁴, the ngram_jaccard argument).
    """
    L = span_words
    ws = df.select(
        F.col(id_col).alias("id"),
        F.filter(F.split(F.expr(H.norm_text(SPARK, text_col)), " "),
                 lambda w: w != "").alias("ws"),
    )
    wins = ws.select(
        "id",
        F.posexplode(
            F.when(F.size("ws") >= L, F.expr(
                f"transform(sequence(0, size(ws) - {L}),"
                f" i -> xxhash64(array_join(slice(ws, i + 1, {L}), ' ')))"))
            .otherwise(F.expr("CAST(array() AS array<bigint>)"))
        ).alias("start_i", "h"),
    ).select("id", F.col("start_i").cast("bigint").alias("start"), "h")
    dup = (wins.groupBy("h").agg(F.count(F.lit(1)).alias("c"))
           .where(F.col("c") >= 2).select("h"))
    dwin = wins.join(dup, "h").select("id", "start")
    order = Window.partitionBy("id").orderBy("start")
    running = order.rowsBetween(Window.unboundedPreceding, 0)
    isl = (dwin
           .withColumn("brk", F.when(
               F.col("start") - F.lag("start").over(order) <= L,
               F.lit(0)).otherwise(F.lit(1)))
           .withColumn("grp", F.sum("brk").over(running)))
    return (isl.groupBy("id", "grp")
            .agg(F.min("start").alias("span_start"),
                 (F.max("start") + F.lit(L - 1)).alias("span_end"))
            .select(F.col("id").alias("doc_id"), "span_start", "span_end",
                    (F.col("span_end") - F.col("span_start") + 1)
                    .alias("span_words")))


def apply_span_dedup(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", span_words: int = 5) -> DataFrame:
    """X57 — APPLY span-level dedup: every word position covered by a
    non-first occurrence of a duplicated ``span_words``-gram is removed
    and documents are reassembled from the surviving words (the
    passage-removal form of "Deduplicating Training Data Makes LMs
    Better" at substring granularity — ``block_dedup``'s analog for
    X51's detection pass).  First occurrence is corpus-global and
    deterministic: ranked by (doc_id, start) per window TEXT.

    Returns one row per input document: ``(id, n_words, n_removed,
    text_kept)``.

    Plan shape: the same row-side window build as ``duplicate_spans``
    (xxhash64 keys, so the wide rank shuffle moves 8-byte keys), ONE
    window ranking occurrences per key, covered positions exploded only
    for rank ≥ 2 windows (bounded by L × duplicated-window count, not
    corpus size), one anti-join against the word table, one per-doc
    reassembly groupBy.  The oracle reranks by raw window text, so hash
    equality again certifies the hash keying.
    """
    L = span_words
    base = df.select(
        F.col(id_col).alias("id"),
        F.filter(F.split(F.expr(H.norm_text(SPARK, text_col)), " "),
                 lambda w: w != "").alias("ws"),
    )
    words = base.select(
        "id", F.posexplode("ws").alias("pos_i", "w"),
    ).select("id", F.col("pos_i").cast("bigint").alias("pos"), "w")
    wins = base.select(
        "id",
        F.posexplode(
            F.when(F.size("ws") >= L, F.expr(
                f"transform(sequence(0, size(ws) - {L}),"
                f" i -> xxhash64(array_join(slice(ws, i + 1, {L}), ' ')))"))
            .otherwise(F.expr("CAST(array() AS array<bigint>)"))
        ).alias("start_i", "h"),
    ).select("id", F.col("start_i").cast("bigint").alias("start"), "h")
    rn = F.row_number().over(Window.partitionBy("h").orderBy("id", "start"))
    covered = (wins.withColumn("rn", rn).where(F.col("rn") >= 2)
               .select("id", F.explode(F.expr(
                   f"sequence(start, start + {L - 1})")).alias("pos"))
               .dropDuplicates(["id", "pos"]))
    kept = words.join(covered, ["id", "pos"], "left_anti")
    per_doc = kept.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(F.array_sort(F.collect_list(F.struct("pos", "w"))),
                        lambda x: x["w"]), " ").alias("text_kept"),
    )
    totals = words.groupBy("id").agg(F.count(F.lit(1)).alias("n_words"))
    ids = df.select(F.col(id_col).alias("id"))
    z = F.lit(0).cast("bigint")
    return (ids.join(totals, "id", "left").join(per_doc, "id", "left")
            .select(
                "id",
                F.coalesce("n_words", z).alias("n_words"),
                (F.coalesce("n_words", z) - F.coalesce("n_kept", z))
                .alias("n_removed"),
                F.coalesce("text_kept", F.lit("")).alias("text_kept")))


def chained_window_dedup(df: DataFrame, key_cols: list,
                         ts_col: str, id_col: str,
                         window_us: int) -> DataFrame:
    """Watermark-style CHAINED dedup (the batch analog of Structured
    Streaming's ``dropDuplicatesWithinWatermark`` state expiry): per
    key, keep a row iff it is at least ``window_us`` after the last
    KEPT row — not after the last row (that is sessionization's gap
    rule; under a steady drip the two diverge: the chain re-admits one
    row per window, the gap rule collapses everything).

    The kept-set is defined by a sequential recurrence, which no window
    function expresses — this is exactly the shape the repo's Python-
    kernel rule exists for: hash-repartition on the key, ONE pandas
    pass per partition (batches concatenated, groupby inside — never
    per-row, never per-tiny-group), emitting kept rows only.  The
    recurrence is O(rows) per key with O(1) state; at 100 TB the only
    shuffle is the key repartition.
    """
    import pandas as pd

    spark_cols = key_cols + [ts_col, id_col]
    src = df.select(*spark_cols).repartition(
        df.sparkSession.sparkContext.defaultParallelism, *key_cols)

    def run(batches):
        parts = [pdf for pdf in batches if len(pdf)]
        if not parts:
            return
        full = pd.concat(parts, ignore_index=True)
        # na_position='last' matches DuckDB's ASC NULLS LAST default;
        # dropna=False keeps NULL-keyed rows as a group the way SQL
        # PARTITION BY does (pandas' default silently drops them).
        full = full.sort_values(key_cols + [ts_col, id_col],
                                na_position="last")
        out_rows = []
        for _, g in full.groupby(key_cols, sort=False, dropna=False):
            last_kept = None
            keep_mask = []
            for t in g[ts_col]:
                if last_kept is None or t >= last_kept + window_us:
                    keep_mask.append(True)
                    last_kept = t
                else:
                    keep_mask.append(False)
            out_rows.append(g[pd.Series(keep_mask, index=g.index)])
        yield pd.concat(out_rows, ignore_index=True)

    ddl = ", ".join(f"{c} {t}" for c, t in
                    zip(spark_cols,
                        [dict(src.dtypes)[c] for c in spark_cols]))
    return src.mapInPandas(run, schema=ddl)
