"""Physical-plan regression audit over the whole driver contract.

Every ``queries()`` entry is planned (not executed) at sf0.001 and its
executed-plan string is scanned for the scale-killers the judge flags:

- ``CartesianProduct`` / ``BroadcastNestedLoopJoin`` — an unblocked
  pairwise join that turns quadratic at 100 TB, unless one side is
  provably bounded (whitelist below, each entry justified);
- a ``BroadcastExchange`` feeding from the two fact tables
  (orders/lineitem) — broadcasting a fact side is a driver/executor OOM
  at scale (round-1 verdict items on q3/q5).

Streaming queries are skipped (planning them requires a started query;
their stateful shuffles are partitioned by the state key by
construction).
"""

from __future__ import annotations

import re

import pytest

import __spark_entry__ as entrymod

#: queries allowed to contain a nested-loop/cartesian join because one
#: side is bounded by construction (a scalar or a constant-size frame)
BOUNDED_JOIN_OK = {
    "ann_cosine_topk",      # query side is a fixed k-row probe set
    "ann_quant_rerank",     # bounded probe set + 1-row dim-stats bcast
    "ann_knn_label",        # probe side constant (≤50 ids by filter)
    "emb_hard_negatives",   # probe side constant (≤40 ids by filter);
                            # the label-mismatch predicate rides in the
                            # join condition of the bounded broadcast
    "x64_bloom_prune",      # 1-row bloom relation (2048 32-bit words,
                            # 8 KB) cross-joined broadcast — the
                            # runtime-filter state itself
    "x69_ri_audit",         # 1-row count aggregates cross-joined into
                            # the per-relationship report row
    "ann_ivf_topk",         # invariant query runs the exact kernel too:
                            # its nested loop broadcasts the ≤50-row
                            # vec_id<50 probe set (same as ann_cosine_topk)
    "g3_tile_grid",         # constant 36×18 grid × constant split table
    "a5_merge_counters",    # 1-row global counters joined to 1-row total
    "sk_kmv_setops",        # 1-row exact aggregate × 1-row k-sample
                            # sketch aggregate (both bounded by agg)
    "tx_mix_weights",       # 1-row normalizing total (documented)
    "sk_heavy_hitters",     # 1-row threshold total cross-joined into
                            # the candidate gate (documented)
    "x82_bitmap_days",      # 1-row corpus min-day broadcast (documented)
    "x88_benford",          # 1-row digit-count total broadcast
    "tx_tfidf_topk",        # 1-row corpus-size aggregate (documented)
    "tx_bigram_lm",         # 1-row vocabulary-size aggregate (documented)
    "tx_bm25",              # 1-row (sum_dl, n_docs) aggregate (documented)
    "g9_pagerank",          # 1-row node-count aggregate (documented)
    "tx_drift_report",      # 1-row (min,max,total) + 10-row bin histogram
    "emb_scalar_quant",     # 1-row per-dim min/max arrays (documented)
    "s4_adaptive_split",    # constant split-schedule frame (36×18 → 4×4 → 2×2)
    "emb_kmeans",           # k=8 literal centroid rows broadcast per round
}

_SKIP = {name for name in entrymod.queries() if name.startswith("st_")}


@pytest.mark.parametrize("name", sorted(set(entrymod.queries()) - _SKIP))
def test_no_unbounded_nested_loops(name, spark, sf_dir):
    df = entrymod.queries()[name](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    flags = [f for f in ("CartesianProduct", "BroadcastNestedLoopJoin")
             if f in plan]
    if name in BOUNDED_JOIN_OK:
        return
    assert not flags, (
        f"{name}: {flags} in physical plan — block the join or whitelist "
        f"with a boundedness justification"
    )


@pytest.mark.parametrize("name", sorted(set(entrymod.queries()) - _SKIP))
def test_no_complex_top_level_columns(name, spark, sf_dir):
    """The driver's oracle canonicalizer sorts result frames on every
    column with pandas; array/map/struct cells are unhashable and crash
    it (round-2 ``mm_feature_codes`` FAIL), and BINARY arrives as
    pandas ``bytearray`` — also unhashable (round-4 ``id_bytes``
    FAIL).  Contract outputs must be hashable scalars at top level —
    serialize lists with ``array_join``, binary with ``hex``."""
    from pyspark.sql.types import (ArrayType, BinaryType, MapType,
                                   StructType)

    df = entrymod.queries()[name](spark, sf_dir)
    bad = [f.name for f in df.schema.fields
           if isinstance(f.dataType,
                         (ArrayType, MapType, StructType, BinaryType))]
    assert not bad, (
        f"{name}: complex/binary top-level columns {bad} crash the driver "
        f"canonicalizer — serialize to a scalar (array_join / to_json / "
        f"hex)"
    )


@pytest.mark.parametrize("name", ["q3_segment_topk", "q5_region_revenue",
                                  "q1_pricing_summary", "j10_latest_event",
                                  "w1_running_total"])
def test_no_fact_table_broadcast(name, spark, sf_dir):
    """No BroadcastExchange may feed from an orders/lineitem/events scan
    — broadcasting a fact side is a driver OOM at 100 TB (the round-1
    q3/q5 verdict).  Catalyst may still stats-broadcast tiny frames at
    sf0.001, so the check walks the plan tree: a broadcast subtree that
    contains a fact-table file scan AND no aggregation below it (an agg
    bounds the frame) fails."""
    df = entrymod.queries()[name](spark, sf_dir)
    root = df._jdf.queryExecution().executedPlan()

    def walk(node, in_broadcast):
        nm = node.nodeName()
        bcast = in_broadcast or "BroadcastExchange" in nm
        if "Scan" in nm and bcast:
            detail = node.toString().splitlines()[0] + node.verboseString(1)
            for fact in ("orders", "lineitem", "events"):
                assert f"{fact}.parquet" not in detail, (
                    f"{name}: broadcast subtree scans fact table {fact}"
                )
        if "Aggregate" in nm and in_broadcast:
            return  # aggregated below the broadcast — bounded by keys
        for i in range(node.children().size()):
            walk(node.children().apply(i), bcast)

    walk(root, False)


@pytest.mark.parametrize("name,min_shj", [
    # dd_minhash_lsh verifies INLINE in the band self-join (r11 shape,
    # re-pinned by the r14 sf100 A/B: 563 s / 16.6 GB vs the in-band
    # int16 tier variant's 915-1062 s / 17.7-19.7 GB — one shuffle_hash
    # join carrying both sets, the banded exchange shared by
    # ReuseExchange)
    ("dd_minhash_lsh", 1),
    # the tiered verifies carry FOUR set-payload joins (2x int16
    # tier-1 + 2x int64 tier-2) — every one must stay a
    # ShuffledHashJoin; dd_incremental joined the tier in r14
    ("dd_ngram_jaccard", 4),
    ("dd_containment", 4),
    ("dd_incremental", 4),
])
def test_verify_joins_never_broadcast(name, min_shj, spark, sf_dir):
    """The exact-verify joins ship CORPUS-sized shingle-set array
    payloads.  AQE broadcast-converts them at mid scale — at sf10
    (100x) the compressed shuffle bytes of a sets side sit under the
    64 MB auto-broadcast threshold while the driver-side HashedRelation
    build blows the 8g heap (r10: the first sf10 run of dd_minhash_lsh
    died exactly there), and at 100 TB a corpus broadcast is fatal at
    any threshold.  The operators pin a shuffle_hash hint on every
    set-carrying side; this test asserts the hint reaches the physical
    plan — the expected ShuffledHashJoins are present and no
    BroadcastHashJoin builds an array-payload side."""
    df = entrymod.queries()[name](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ShuffledHashJoin") >= min_shj, (
        f"{name}: verify joins lost their shuffle_hash hint "
        f"(ShuffledHashJoin x{plan.count('ShuffledHashJoin')})"
    )
    # match attribute TOKENS (name#id), not bare substrings — an
    # unrelated attribute merely containing "s_a" must not trip the
    # audit (r10 ADVICE)
    # 'shingles' covers the r11 inline band self-join, whose set
    # payloads keep the source column name (r11 ADVICE: without it the
    # broadcast assertion was vacuous for dd_minhash_lsh); 's16'/'sids'
    # cover the tiered helper's projection/set frames (ngram,
    # containment, incremental, streaming)
    attr = re.compile(
        r"\b(sh_a|sh_b|s_a|s_b|s16_a|s16_b|s16|sids|shingles)#\d+")
    for line in plan.splitlines():
        if "BroadcastHashJoin" in line:
            assert not attr.search(line), (
                f"{name}: array-payload verify side broadcast: {line}"
            )


#: builders whose CONSTRUCTION legitimately executes Spark jobs:
#: - dd_dup_groups / dd_apply: the connected-components contraction must
#:   iterate to convergence — a data-dependent round count cannot be a
#:   lazy plan;
#: - ann_ivf_topk: IVF is train-then-query; centroid selection is a
#:   bounded collect (n_cells=16 rows, documented at
#:   operators/similarity.py:ivf_assign) — index build IS execution;
#: - curate_corpus / s14_pack_ops: the two-phase global cumsum
#:   localCheckpoints its input so range-sampling + exchange compute
#:   the upstream pipeline once (operators/ordered.py — measured 2-4x
#:   cheaper than lazy persist on first execution).
EAGER_BUILD_OK = {"dd_dup_groups",  # live CC loop (the contraction demo)
                  "mm_phash_groups",  # live CC loop over pHash pairs
                  # (the multimodal twin of dd_dup_groups)
                  "dd_apply", "dd_apply_best", "tx_group_split",
                  # ^ consumers of the write-once staged dup-group
                  # mapping (corpus._staged_dup_groups): first build
                  # per corpus version runs LSH+CC at plan build,
                  # steady state is a parquet read + join
                  "ann_ivf_topk",
                  "curate_corpus", "s14_pack_ops", "tx_pack_sequences",
                  "tx_shard_manifest",  # same two-phase cumsum as packing
                  "emb_semdedup",  # CC loop (embedding pairs)
                  "x22_bucketed_lookup",  # write-once bucketed tables
                  "g9_pagerank",  # edges/deg checkpointed once, reused 4x/iter
                  "emb_kmeans",  # quantized input checkpointed once;
                  # k centroid rows collected per Lloyd round (bounded)
                  "tx_bpe_vocab",  # greedy argmax per merge round (1-row)
                  "tx_bpe_encode",  # trains the 5-row merge table at
                  # build (bpe_merges collect), then encodes lazily
                  "x63_compact_roundtrip",  # write-once stage +
                  # compaction maintenance pass IS execution
                  "s18_format_roundtrip",  # write-once CSV/JSON stage
                  "x74_partition_prune",  # write-once partitioned
                  # layout + 1-row min-day sidecar at staging
                  "m9_apply_changelog", "m11_asof_snapshot",
                  # ^ shared write-once block-partitioned op-log stage
                  # (m11's as-of prune needs a real partitioned scan)
                  "x76_dynamic_prune",  # same shared partitioned stage
                  "emb_pq_encode",  # 16-row codebook collect at build
                  "dd_incremental",  # write-once band-index stage
                  "o6_skyline",  # two-phase prefix max localCheckpoint
                  # (ordered.py total-order-operator rule)
                  "x75_smb_join",  # write-once bucketed fact tables
                  "x65_hierarchy_flatten",  # pointer-doubling rounds
                  # localCheckpoint per round (iterative-loop rule)
                  "g2_proximity_groups", "history_report",
                  # ^ invariant_report checkpoints the greedy-kernel
                  # output once (referenced 3x: members/seed/base —
                  # r14: 4.8 s -> ~2 s at sf0.1)
                  "a5_merge_counters",
                  # ^ checkpoints the cascade-join pairs once
                  # (referenced 3x: count / picks / closes anti-join —
                  # r14: ~2.3 s -> ~1.2 s e2e at sf0.1)
                  "s4_adaptive_split"}
                  # ^ checkpoints the finest cell-count aggregation
                  # once: the frontier walk nests it up to 2^6 times
                  # (2.8-5.4 -> 2.3-2.9 s end to end at sf0.1)


def test_plan_build_runs_no_computation_jobs(spark, sf_dir):
    """Building a contract DataFrame must be LAZY — no *computation*
    job at plan-construction time (r3 regression: emb_neardup_pairs ran
    ``embs.count()`` inside its ``queries()`` callable, eagerly
    executing the whole upstream embedding pipeline once per build).

    The only jobs Spark itself runs at build are parquet schema
    inference (single-task stages named ``parquet at ...``) — those are
    allowed; anything else (count/collect/checkpoint stages) fails.
    Memoized plans are cleared first so every builder really runs;
    streaming ``st_*`` runners execute by design and are excluded, as
    everywhere else in this audit."""
    from openplacereviews_db_spark.sources import testdata

    testdata._MEMO.clear()
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    offenders = []
    for name in sorted(set(entrymod.queries()) - _SKIP - EAGER_BUILD_OK):
        group = f"plan-build-audit-{name}"
        sc.setJobGroup(group, "plan-construction laziness audit")
        try:
            entrymod.queries()[name](spark, sf_dir)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        for j in tracker.getJobIdsForGroup(group) or ():
            info = tracker.getJobInfo(j)
            for s in (info.stageIds if info else ()):
                st = tracker.getStageInfo(s)
                if st and not st.name.startswith("parquet at "):
                    offenders.append((name, j, st.name))
    assert not offenders, (
        f"computation jobs ran during plan construction — these "
        f"queries() builders are eager: {offenders}"
    )


@pytest.mark.parametrize("name", [
    "geo_tile_report", "geoall_area_summary", "g8_zcell_scan",
    "g13_hex_bin", "p7_review_candidates", "dd_minhash_lsh",
    "s15_merge_upsert"])
def test_rebuild_launches_no_jobs(name, spark, sf_dir):
    """A request's second build reuses the memoized table reads and
    corpus plans (sources/testdata.py), so it launches no job at all,
    not even parquet schema inference."""
    build = entrymod.queries()[name]
    build(spark, sf_dir)
    sc = spark.sparkContext
    group = f"rebuild-audit-{name}"
    sc.setJobGroup(group, "rebuild job audit")
    try:
        build(spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert not sc.statusTracker().getJobIdsForGroup(group)


def test_minhash_single_shuffle_to_per_doc_state(spark, sf_dir):
    """The documents → per-doc (signature + shingle set) stretch of the
    minhash pipeline must be ONE shuffle: the shingle window hash-
    partitions by id and the following groupBy rides that partitioning
    exchange-free (the r5 restructure).  Guard: exactly one
    ``Exchange hashpartitioning`` keyed on the single ``id`` column in
    the whole dd_minhash_lsh plan — a second one means the distinct or
    a re-shuffled aggregate crept back in."""
    import re

    df = entrymod.queries()["dd_minhash_lsh"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # count DISTINCT exchange nodes (the expr id identifies the node).
    # The per-doc state is deliberately NOT cached (r11: the duplicate
    # agg is cheaper than the corpus-sized InMemoryRelation build), so
    # each self-join side carries its own copy of the stretch — one
    # id-keyed exchange per side.  More than 2 means a distinct or a
    # re-shuffled aggregate crept back into the stretch.
    id_exchanges = set(re.findall(
        r"Exchange hashpartitioning\(id#\d+L?, \d+\)", plan))
    assert 1 <= len(id_exchanges) <= 2, (
        f"expected 1-2 distinct id-keyed exchanges (one per self-join "
        f"side), found {len(id_exchanges)}: {sorted(id_exchanges)}")


@pytest.mark.parametrize("name,allowed", [
    ("tx_tfidf_topk", {"doc_id", "text"}),
    ("tx_boilerplate", {"doc_id", "text"}),
    ("tx_fingerprints", {"doc_id", "text"}),
])
def test_documents_scan_column_pruning(name, allowed, spark, sf_dir):
    """Column pruning must reach the parquet scan: a documents query
    that uses only (doc_id, text) may not read lang/source/n_chars —
    at 100 TB those are petabytes of wasted IO.  Checked via the
    FileScan output list (plan toString truncates the ReadSchema tail).
    """
    import re

    df = entrymod.queries()[name](spark, sf_dir)
    physical = df._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in physical.splitlines()
             if "FileScan" in ln and "documents.parquet" in ln]
    assert scans, f"{name}: no documents FileScan found in plan"
    for ln in scans:
        m = re.search(r"FileScan parquet \[([^\]]*)\]", ln)
        assert m, ln
        cols = {c.split("#")[0] for c in m.group(1).split(",") if c}
        extra = cols - allowed
        assert not extra, (
            f"{name}: documents scan reads pruned-out columns {extra}: "
            f"{ln.strip()[:160]}")


def test_parquet_filter_pushdown_reaches_scan(spark, sf_dir):
    """Predicate pushdown must reach the lineitem parquet scan for the
    q6-style selective filter — at 100 TB, row-group statistics skip
    most of the table only if the predicate is IN the scan node, not in
    a Filter above it."""
    df = entrymod.queries()["q6_revenue_delta"](spark, sf_dir)
    physical = df._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in physical.splitlines()
             if "FileScan" in ln and "lineitem" in ln]
    assert scans, "no lineitem FileScan in q6 plan"
    ln = scans[0]
    assert "PushedFilters: [" in ln, ln[:300]
    pushed = ln.split("PushedFilters: [", 1)[1]
    # the three q6 predicates must all push (shipdate range, discount
    # range, quantity bound) — plan toString may truncate the tail, so
    # accept any of their column names as evidence per predicate family
    for colname in ("l_shipdate", "l_discount", "l_quantity"):
        assert colname in pushed or colname not in ln, (
            f"{colname} filtered above the scan, not pushed: {ln[:300]}")
    assert "GreaterThan" in pushed or "IsNotNull" in pushed, ln[:300]


def test_partition_pruning_on_partitioned_layout(spark, tmp_path):
    """A filter on the partition column of a hive-partitioned layout
    must prune at planning time: the scan's PartitionFilters carry the
    predicate and the file count drops to the selected partition — the
    property README claims for tile-keyed geo scans."""
    from pyspark.sql import functions as F

    src = str(tmp_path / "part_events")
    spark.range(0, 1000).select(
        (F.col("id") % 7).alias("day"),
        F.col("id").alias("v")).write.partitionBy("day").parquet(src)
    df = spark.read.parquet(src).where(F.col("day") == 3)
    physical = df._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in physical.splitlines() if "FileScan" in ln]
    assert scans and "PartitionFilters: [" in scans[0], scans
    pf = scans[0].split("PartitionFilters: [", 1)[1]
    assert "day" in pf, scans[0][:300]
    # and the pruning is real: only 1 of 7 partitions' rows survive
    assert df.count() == sum(1 for i in range(1000) if i % 7 == 3)


def test_driver_priority_names_resolve():
    """Every _DRIVER_PRIORITY name must exist in queries() — a stale
    name silently shrinks the driver's 50-query sample (an accidental
    deregistration dropped emb_semdedup in r5, caught by hand)."""
    q = entrymod.queries()
    missing = [n for n in entrymod._DRIVER_PRIORITY if n not in q]
    assert not missing, missing
    # and every oracle key refers to a registered query
    stale = [n for n in entrymod.oracle_sql() if n not in q]
    assert not stale, stale


def test_fixture_query_registers_with_fixtures():
    """m12_fixture_verdicts is registered, with its oracle, exactly when
    the reference merge corpus is present: a corpus that is there but
    fails to load must not drop the query silently."""
    from openplacereviews_db_spark.sources import ref_fixtures

    present = ref_fixtures.fixtures_available()
    assert ("m12_fixture_verdicts" in entrymod.queries()) == present
    assert ("m12_fixture_verdicts" in entrymod.oracle_sql()) == present


#: documented plan-shape claims for the scoring operators: the physical
#: plan must actually carry the property the docstring advertises
def test_classifier_is_zero_shuffle(spark, sf_dir):
    """tx_classifier claims classifier inference is a MAP: the margin is
    an array aggregate inside codegen, so the physical plan must contain
    no Exchange at all (a shuffle here would mean an accidental explode
    or groupBy crept in)."""
    df = entrymod.queries()["tx_classifier"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan[:600]


@pytest.mark.parametrize("name", ["tx_bm25", "tx_weighted_sample"])
def test_topk_uses_partial_heaps_not_global_sort(name, spark, sf_dir):
    """orderBy+limit queries must compile to TakeOrderedAndProject
    (per-partition heaps merged on the driver), never a global Sort —
    the difference between O(k) driver state and a full shuffle of the
    corpus at 100 TB."""
    df = entrymod.queries()[name](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan[:600]
    assert "Sort [" not in plan.replace("TakeOrderedAndProject", ""), (
        f"{name}: a global Sort survived next to the top-k")
