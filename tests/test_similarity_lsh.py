"""LSH near-dup scale path: subset-of-exact + recall floor at sf0.001."""

from __future__ import annotations

from openplacereviews_db_spark.operators import similarity
from openplacereviews_db_spark.sources.testdata import load_table


def test_lsh_pairs_subset_and_recall(spark, sf_dir):
    embs = load_table(spark, "embeddings", sf_dir)
    exact = {(r["id_a"], r["id_b"]): r["sim"]
             for r in similarity.cosine_pairs_gemm(embs, 0.40).collect()}
    lsh = {(r["id_a"], r["id_b"]): r["sim"]
           for r in similarity.cosine_pairs_lsh(embs, 0.40).collect()}
    # every LSH pair is a true pair with the identical similarity value
    for k, v in lsh.items():
        assert k in exact and exact[k] == v
    # and the bucketing keeps useful recall on this corpus
    assert len(lsh) >= 0.5 * len(exact), (len(lsh), len(exact))


def test_ivf_topk_recall(spark, sf_dir):
    embs = load_table(spark, "embeddings", sf_dir)
    queries = embs.limit(20)
    exact = {(r["q_id"], r["rank"]): r["c_id"]
             for r in similarity.cosine_topk(embs, queries, k=3).collect()}
    ivf = {(r["q_id"], r["rank"]): r["c_id"]
           for r in similarity.cosine_topk_ivf(
               embs, queries, k=3, n_cells=16, n_probe=6).collect()}
    hits = sum(1 for kk, v in exact.items() if ivf.get(kk) == v)
    assert hits >= 0.6 * len(exact), (hits, len(exact))


def test_connected_components(spark):
    from openplacereviews_db_spark.operators.components import (
        connected_components, dedup_groups)
    # chain 1-2-3-4, pair 10-11, self-contained triangle 20-21-22
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "id_a long, id_b long")
    comp = {r["node"]: r["comp"]
            for r in connected_components(edges).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10,
                    20: 20, 21: 20, 22: 20}
    groups = {r["node"]: (r["canonical_id"], r["group_size"])
              for r in dedup_groups(edges).collect()}
    assert groups[4] == (1, 4) and groups[22] == (20, 3)


def test_connected_components_random_graphs(spark):
    """Property check of the iterated-contraction CC against a straight
    union-find: random sparse graphs, including long paths that force
    multiple contraction passes."""
    import random

    from openplacereviews_db_spark.operators.components import (
        connected_components)

    def reference_cc(edges):
        parent = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra] = rb
        comp = {}
        for n in parent:
            r = find(n)
            comp.setdefault(r, []).append(n)
        return {n: min(ns) for r, ns in comp.items() for n in ns}

    rng = random.Random(7)
    cases = []
    for trial in range(4):
        n = rng.randint(2, 120)
        m = rng.randint(1, 3 * n)
        cases.append([(rng.randint(0, n), rng.randint(0, n))
                      for _ in range(m)])
    # adversarial: one long path (diameter >> partitions) + shuffled ids
    path_ids = list(range(300))
    rng.shuffle(path_ids)
    cases.append(list(zip(path_ids, path_ids[1:])))

    for edges in cases:
        edges = [(a, b) for a, b in edges if a != b] or [(0, 1)]
        want = reference_cc(edges)
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {r["node"]: r["comp"]
               for r in connected_components(df).collect()}
        assert got == want, (len(edges), sorted(set(got.items()) ^ set(want.items()))[:5])


def test_lsh_topk_recall(spark, sf_dir):
    embs = load_table(spark, "embeddings", sf_dir)
    queries = embs.limit(20)
    exact_rows = similarity.cosine_topk(embs, queries, k=3).collect()
    exact_sims = {(r["q_id"], r["c_id"]): r["sim"]
                  for r in similarity.cosine_topk(
                      embs, queries, k=200).collect()}
    exact_top: dict = {}
    for r in exact_rows:
        exact_top.setdefault(r["q_id"], set()).add(r["c_id"])
    lsh_rows = similarity.cosine_topk_lsh(
        embs, queries, k=3, planes=2).collect()
    # every returned similarity matches the exact computation
    for r in lsh_rows:
        key = (r["q_id"], r["c_id"])
        if key in exact_sims:
            assert r["sim"] == exact_sims[key]
    # and the top-3 SETS overlap usefully (single-probe LSH; recall<1)
    lsh_top: dict = {}
    for r in lsh_rows:
        lsh_top.setdefault(r["q_id"], set()).add(r["c_id"])
    overlap = sum(len(exact_top[q] & lsh_top.get(q, set()))
                  for q in exact_top)
    total = sum(len(v) for v in exact_top.values())
    assert overlap >= 0.25 * total, (overlap, total)


def test_blocked_pairs_exact_vs_gemm(spark, sf_dir):
    """cosine_pairs_blocked is EXACT: identical pair set + sims as the
    broadcast GEMM kernel, for both even and odd chunk counts."""
    embs = load_table(spark, "embeddings", sf_dir)
    exact = {(r["id_a"], r["id_b"]): r["sim"]
             for r in similarity.cosine_pairs_gemm(embs, 0.40).collect()}
    for chunks in (1, 3, 8):
        blocked = {(r["id_a"], r["id_b"]): r["sim"]
                   for r in similarity.cosine_pairs_blocked(
                       embs, 0.40, chunks=chunks).collect()}
        assert blocked == exact, (chunks, len(blocked), len(exact))


def test_row_blocked_slices_identical(spark, sf_dir):
    """The r10 memory fix row-blocks every pair-GEMM kernel at
    ``slice_elems`` elements per sims slice; at test corpus sizes the
    loop runs a single slice, so force MULTI-slice execution
    (slice_elems=64 → one or two rows per slice) through all three
    kernels and pin output equality with the default — slicing must
    never change a pair or a value.  The cap is a kernel PARAMETER
    (captured by value into the closure) because executors re-import
    the module, so a driver-side monkeypatch of the global would never
    reach them."""
    from openplacereviews_db_spark.operators import dedup

    embs = load_table(spark, "embeddings", sf_dir)
    docs = load_table(spark, "documents", sf_dir)

    def lsh_pairs(cap):
        return {(r["id_a"], r["id_b"]): r["sim"]
                for r in similarity.cosine_pairs_lsh(
                    embs, 0.40, slice_elems=cap).collect()}

    def blocked_pairs(cap):
        return {(r["id_a"], r["id_b"]): r["sim"]
                for r in similarity.cosine_pairs_blocked(
                    embs, 0.40, chunks=3, slice_elems=cap).collect()}

    def ngram_pairs(cap):
        return {(r["id_a"], r["id_b"]): r["jaccard"]
                for r in dedup.ngram_jaccard_pairs(
                    docs, shingle_words=2, min_jaccard=0.1,
                    slice_elems=cap).collect()}

    for one_slice, sliced in (
        (lsh_pairs(4_000_000), lsh_pairs(64)),
        (blocked_pairs(4_000_000), blocked_pairs(64)),
        (ngram_pairs(4_000_000), ngram_pairs(64)),
    ):
        assert sliced == one_slice and len(one_slice) > 0


def test_gemm_bounded_contract(spark, sf_dir):
    """The broadcast GEMM kernel fails fast on an unbounded reference."""
    import pytest

    embs = load_table(spark, "embeddings", sf_dir)
    with pytest.raises(ValueError, match="max_ref_rows"):
        similarity.cosine_pairs_gemm(embs, 0.40, max_ref_rows=5).collect()


def test_minhash_fast_hash_mode(spark, sf_dir):
    """xxhash64 minhash family: values of surviving pairs are EXACT
    Jaccard (identical to md5-mode values on the common pairs), only
    candidate recall may differ."""
    from openplacereviews_db_spark.operators import dedup
    from openplacereviews_db_spark.sources.testdata import load_table

    docs = load_table(spark, "documents", sf_dir).where("length(text) > 0")
    md5_pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
                 for r in dedup.minhash_lsh_pairs(
                     docs, shingle_words=2, num_hashes=16, bands=8,
                     min_jaccard=0.1).collect()}
    fast_pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
                  for r in dedup.minhash_lsh_pairs(
                      docs, shingle_words=2, num_hashes=16, bands=8,
                      min_jaccard=0.1, fast_hash=True).collect()}
    common = set(md5_pairs) & set(fast_pairs)
    assert common, "fast-hash mode found no overlapping pairs"
    assert all(md5_pairs[k] == fast_pairs[k] for k in common)
    # banded recall holds for either family on this corpus
    assert len(fast_pairs) >= 0.8 * len(md5_pairs)


def test_minhash_family_matches_python_reference(spark, duck):
    """The one-md5-base + universal-hash-permutation family must compute
    the SAME integers in Spark, DuckDB, and plain Python — the whole
    minhash/band oracle parity rests on this arithmetic."""
    import hashlib

    from pyspark.sql import functions as F

    from openplacereviews_db_spark.functions import hashing as H
    from openplacereviews_db_spark.functions.dialect import DUCKDB, SPARK

    texts = ["the quick brown fox", "café déjà vu", "x", "",
             "a b c d e f g", "1234567890"]

    def py_base(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % H.MINHASH_M

    def py_perm(i: int, b: int) -> int:
        return (H.minhash_a(i) * b + H.minhash_b(i)) % H.MINHASH_P

    df = spark.createDataFrame([(t,) for t in texts], "s string")
    base = H.minhash_base(SPARK, "s")
    got = df.select(
        "s", F.expr(base).alias("b"),
        *[F.expr(H.minhash_perm(SPARK, str(i), base)).alias(f"h{i}")
          for i in (0, 7, 15)]).collect()
    for r in got:
        b = py_base(r["s"])
        assert r["b"] == b, r["s"]
        for i in (0, 7, 15):
            assert r[f"h{i}"] == py_perm(i, b), (r["s"], i)
    # and DuckDB computes the identical integers from the same SQL text
    for t in texts:
        row = duck.execute(
            f"SELECT {H.minhash_base(DUCKDB, '?')} AS b, "
            f"{H.minhash_perm(DUCKDB, '7', H.minhash_base(DUCKDB, '?'))}"
            " AS h7",
            [t, t]).fetchone()
        assert row[0] == py_base(t) and row[1] == py_perm(7, py_base(t)), t


def test_block_dedup_golden(spark):
    """Pin block_dedup semantics: global first-occurrence keep ordered by
    (id, block index), within-doc repeats removed, order-preserving
    reassembly, empty result for an all-duplicate document."""
    from openplacereviews_db_spark.operators.dedup import block_dedup
    blk = "a b c d"                       # one 4-word block
    docs = spark.createDataFrame(
        [
            (1, f"{blk} x y z w"),        # owns blocks [abcd, xyzw]
            (2, f"{blk} q r s t"),        # abcd is a repeat of doc 1's
            (3, f"{blk} {blk}"),          # both blocks repeats -> empty
            (4, "q r s t u v"),           # 'q r s t' repeats doc 2's;
                                          # trailing short block survives
        ],
        "doc_id long, text string")
    out = {r["id"]: r for r in block_dedup(docs, block_words=4).collect()}
    assert (out[1]["n_blocks"], out[1]["n_kept"]) == (2, 2)
    assert out[1]["text_kept"] == "a b c d x y z w"
    assert (out[2]["n_blocks"], out[2]["n_kept"]) == (2, 1)
    assert out[2]["text_kept"] == "q r s t"
    assert (out[3]["n_blocks"], out[3]["n_kept"]) == (2, 0)
    assert out[3]["text_kept"] == ""
    assert (out[4]["n_blocks"], out[4]["n_kept"]) == (2, 1)
    assert out[4]["text_kept"] == "u v"


def test_scalar_quantize_properties(spark, sf_dir):
    """Codes stay in [0, 255]; reconstruction error is bounded by half
    a quantization step per dimension (mse <= (step/2)^2 max over
    dims); constant dimensions quantize to 0 without dividing by 0."""
    from openplacereviews_db_spark.operators.similarity import \
        scalar_quantize
    from openplacereviews_db_spark.sources.testdata import load_table

    embs = load_table(spark, "embeddings", sf_dir)
    import numpy as np
    vals = np.array([r["embedding"] for r in
                     embs.select("embedding").collect()], dtype=np.float64)
    worst_step = float((vals.max(0) - vals.min(0)).max()) / 255.0
    for r in scalar_quantize(embs).collect():
        codes = [int(c) for c in r["codes"].split(",")]
        assert all(0 <= c <= 255 for c in codes)
        assert r["mse"] <= (worst_step / 2) ** 2 + 1e-9, r["mse"]

    cst = spark.createDataFrame([(1, [1.0, 5.0]), (2, [1.0, 7.0])],
                                "vec_id long, embedding array<float>")
    out = {r["id"]: r for r in scalar_quantize(cst).collect()}
    assert out[1]["codes"].split(",")[0] == "0"   # constant dim -> 0
    assert out[1]["codes"].split(",")[1] == "0"   # min of dim 2
    assert out[2]["codes"].split(",")[1] == "255"  # max of dim 2


def test_random_project_jl_property(spark, sf_dir):
    """X60 J-L pin: for the ±1 sign matrix S (8×64), E[⟨Sx, Sy⟩] =
    8·⟨x, y⟩ — so over sampled pairs the regression slope of projected
    dot on original dot must sit near 8, with positive correlation.
    (Exact top-k identity is NOT preservable 64→8 on this corpus — the
    synthetic embeddings are near-noise, max cosine ≈ 0.35 vs a 0.29
    bulk — so the pin is the expectation identity, which holds for any
    data.)  Also pins determinism: two builds are identical."""
    from pyspark.sql import functions as F

    embs = load_table(spark, "embeddings", sf_dir)
    proj = similarity.random_project(embs, in_dim=64, out_dim=8)
    again = similarity.random_project(embs, in_dim=64, out_dim=8)
    assert sorted(map(tuple, proj.collect())) == \
        sorted(map(tuple, again.collect()))

    sub = embs.where(F.col("vec_id") < 40)
    psub = proj.where(F.col("vec_id") < 40).select(
        "vec_id", F.array(*[F.col(f"y{j}") for j in range(8)]).alias("y"))
    a = sub.alias("a").join(sub.alias("b"),
                            F.col("a.vec_id") < F.col("b.vec_id"))
    od = {(r["qa"], r["qb"]): r["od"] for r in a.select(
        F.col("a.vec_id").alias("qa"), F.col("b.vec_id").alias("qb"),
        similarity.dot(
            similarity.as_double(F.col("a.embedding")),
            similarity.as_double(F.col("b.embedding"))).alias("od"))
        .collect()}
    pj = psub.alias("a").join(psub.alias("b"),
                              F.col("a.vec_id") < F.col("b.vec_id"))
    pd_ = {(r["qa"], r["qb"]): r["pd"] for r in pj.select(
        F.col("a.vec_id").alias("qa"), F.col("b.vec_id").alias("qb"),
        similarity.dot(F.col("a.y"), F.col("b.y")).alias("pd"))
        .collect()}

    import statistics
    keys = sorted(od)
    xs = [od[k] for k in keys]
    ys = [pd_[k] for k in keys]
    mx, my = statistics.fmean(xs), statistics.fmean(ys)
    cov = sum((x - mx) * (y - my) for x, y in zip(xs, ys))
    varx = sum((x - mx) ** 2 for x in xs)
    slope = cov / varx
    corr = cov / (varx ** 0.5
                  * sum((y - my) ** 2 for y in ys) ** 0.5)
    assert 6.0 <= slope <= 10.0, slope   # E[slope] = out_dim = 8
    assert corr >= 0.2, corr


def test_pq_codebook_vectors_encode_to_zero_error(spark):
    """The 16 lowest-id vectors ARE the codebook, so each must encode
    to itself: sqerr == 0 and code s == its own codebook slot is not
    required (another entry could tie at distance 0 only if subvectors
    collide), but zero error is — and every code must be in [0, 16)."""
    from openplacereviews_db_spark.operators.similarity import pq_encode
    from openplacereviews_db_spark.sources.testdata import load_table

    embs = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    out = pq_encode(embs).collect()
    assert len(out) == embs.count()
    for r in out:
        codes = [int(c) for c in r["codes"].split(",")]
        assert len(codes) == 8 and all(0 <= c < 16 for c in codes)
        assert r["sqerr"] >= 0
        if r["id"] < 16:
            assert r["sqerr"] == 0, (r["id"], r["sqerr"])


def test_jaccard_ge_prebound_exact_integer_cutoff():
    """The r14 prebound — i*(10^8+T) >= T*S with T = round(t*1e8)-50 —
    must admit an intersection i IFF the exact rational condition
    i/(S-i) >= t-5e-7 holds (the admissibility test of round(j,6) >= t
    for duplicate-free sets), at EVERY combined size S: sound (never
    drops a true pair) AND tight (no slack sliver — the old
    floor(S*t'/(1+t'))-1 float form admitted up to 2 extra integer
    steps, 21x the true pairs on dd_minhash_lsh's sf100 candidates)."""
    from fractions import Fraction

    for t_str in ("0.1", "0.15", "0.4", "0.5", "0.7", "0.9"):
        t = float(t_str)
        t8 = int(round(t * 1e8)) - 50
        assert Fraction(t8, 10**8) == Fraction(t_str) - Fraction(5, 10**7)
        t_exact = Fraction(t8, 10**8)
        tighter_somewhere = False
        for exp in range(1, 13):  # S from 10 to 1e12
            for mult in (1, 3, 7):
                s = mult * 10**exp
                # minimal admissible i, exact rationals
                lo = t_exact * s / (1 + t_exact)
                i_min = int(lo) if lo == int(lo) else int(lo) + 1
                # the shipped integer predicate at the boundary
                assert i_min * (10**8 + t8) >= t8 * s
                assert not ((i_min - 1) * (10**8 + t8) >= t8 * s)
                import math
                old_cutoff = math.floor(
                    s * (t - 5e-7) / (1.0 + t - 5e-7)) - 1
                if old_cutoff < i_min:
                    tighter_somewhere = True
        assert tighter_somewhere, t


def test_jaccard_ge_exact_threshold_boundary(spark):
    """A pair sitting EXACTLY on the threshold (j == t) must be
    admitted, and one strictly below must not — the And short-circuit
    may only ever prune below the exact check."""
    from pyspark.sql import functions as F

    from openplacereviews_db_spark.functions import hashing as H
    from openplacereviews_db_spark.functions.dialect import SPARK

    df = spark.createDataFrame(
        [(["a", "b", "c"], ["a", "b", "d"]),   # inter=2 S=6 j=2/4=0.5
         (["a", "x", "y"], ["a", "p", "q"])],  # inter=1 S=6 j=1/5=0.2
        "sa array<string>, sb array<string>")
    got = [r[0] for r in df.select(
        F.expr(H.jaccard_ge(SPARK, "sa", "sb", 0.5))).collect()]
    assert got == [True, False]


def test_jaccard_family_sql_matches_column(spark):
    """The jaccard / jaccard_ge / jaccard_prebound / lsh_bands /
    sid16_set_sql helpers must equal exact Python references on the
    edge cases: empty arrays, disjoint, identical, exact-threshold,
    near-threshold both sides, and negative hash ids (sid16 sign
    extension)."""
    import hashlib
    from fractions import Fraction

    from pyspark.sql import functions as F

    from openplacereviews_db_spark.functions import hashing as H
    from openplacereviews_db_spark.functions.dialect import SPARK
    from openplacereviews_db_spark.operators.dedup import sid16_set_sql

    rows = [
        ([], []),                              # both empty (union 0)
        ([1, 2, 3], []),                       # one empty
        ([1, 2, 3], [4, 5, 6]),                # disjoint
        ([1, 2, 3], [1, 2, 3]),                # identical
        ([1, 2, 3], [1, 2, 4]),                # j = 2/4 = 0.5 exactly
        ([1, 2, 3, 4, 5], [1, 6, 7, 8, 9]),    # j = 1/9 just above 0.1
        ([1, 2, 3, 4, 5, 6], [7, 8, 9, 10, 1, 11]),  # j = 1/11 < 0.1
        ([-(2**63) + 7, -1, 2**62], [-1, 5, -(2**63) + 7]),  # negatives
    ]

    def ref(sa, sb, t):
        i = len(set(sa) & set(sb))
        u = len(sa) + len(sb) - i
        j = Fraction(i, u) if u else Fraction(0)
        t8 = round(t * 1e8) - 50
        # round(j, 6) HALF_UP >= t, on the exact rational
        ge = (j * 10**6 + Fraction(1, 2)) // 1 >= round(t * 10**6)
        return float(j), ge, i * (10**8 + t8) >= t8 * (len(sa) + len(sb))

    def sid16(sa):
        return sorted({(x & 0xFFFF) - ((x & 0x8000) << 1) for x in sa})

    df = spark.createDataFrame(rows, "sa array<bigint>, sb array<bigint>")
    for t in (0.1, 0.5, 0.9):
        got = df.select(
            F.expr(H.jaccard(SPARK, "sa", "sb")).alias("j"),
            F.expr(H.jaccard_ge(SPARK, "sa", "sb", t)).alias("ge"),
            F.expr(H.jaccard_prebound(
                SPARK, "size(array_intersect(sa, sb))", "size(sa)",
                "size(sb)", t)).alias("pre"),
            F.sort_array(F.expr(sid16_set_sql("sa"))).alias("s16"),
        ).collect()
        for (sa, sb), r in zip(rows, got):
            assert (r["j"], r["ge"], r["pre"]) == ref(sa, sb, t), (t, r)
            assert r["s16"] == sid16(sa), (t, r)
    sigs = [[str(i * 37) for i in range(16)], [None] * 16]
    sig = spark.createDataFrame([(h,) for h in sigs], "hs array<string>")
    bands = sig.select(F.expr(H.lsh_bands(SPARK, "hs", 8, 2))).collect()
    for hs, r in zip(sigs, bands):
        want = [f"{b}|" + hashlib.md5(",".join(
            x for x in hs[2 * b:2 * b + 2] if x is not None).encode()
        ).hexdigest() for b in range(8)]
        assert r[0] == want, r


def test_exploded_shingles_expr_matches_word_shingles(spark):
    """The r14 selectExpr rewrite of exploded_shingles must stay
    semantically identical to hashing.word_shingles on the edges:
    empty text, whitespace/case normalization, fewer words than n,
    exactly n words, repeated shingles (distinct=True path), and the
    extra_cols partitioning."""
    from pyspark.sql import functions as F

    from openplacereviews_db_spark.functions import hashing as H
    from openplacereviews_db_spark.operators.dedup import exploded_shingles

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, ""), (3, "   "), (4, "One"),
         (5, "x  Y"), (6, "a b a b a b"), (7, "A b C"),
         (8, "  pad   ding  strip  ")],
        "doc_id long, text string")
    for n in (2, 3):
        got = sorted(
            (r["id"], r["s"])
            for r in exploded_shingles(docs, "text", "doc_id", n).collect())
        want = sorted(
            (r["doc_id"], s)
            for r in docs.select(
                "doc_id",
                H.word_shingles("text", n).alias("sh")).collect()
            for s in r["sh"])
        assert got == want, n
    # extra_cols: shingles must build per (id, extra) copy independently
    blk = spark.createDataFrame(
        [(1, "p", "a b c"), (1, "q", "a b c")],
        "doc_id long, blk string, text string")
    rows = sorted(
        (r["id"], r["blk"], r["s"])
        for r in exploded_shingles(
            blk, "text", "doc_id", 2, extra_cols=["blk"]).collect())
    assert rows == [(1, "p", "a b"), (1, "p", "b c"),
                    (1, "q", "a b"), (1, "q", "b c")]


def test_generator_plants_neardup_structure(spark, tmp_path):
    """The scale generator must plant EXACTLY (copies-1)*floor(n/100)
    near-dup pairs at cos ~ 0.95: copy 0 verbatim, each copy c>=1
    carrying floor(n/100) disjoint perturbed-partner pairs and no other
    pair anywhere above cos 0.9 (the isotropic tail at 0.9 in d=64 is
    empty).  This is the countable structure emb_neardup_hi's third
    decade measures (r11 verdict item 3)."""
    import importlib.util
    import os

    import numpy as np
    import pyarrow.parquet as pq

    spec = importlib.util.spec_from_file_location(
        "make_sf1", os.path.join(os.path.dirname(__file__),
                                 "..", "scripts", "make_sf1.py"))
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)

    src = "/root/testdata/sf0.001"
    n_copies = 3
    src_tbl = pq.read_table(f"{src}/embeddings.parquet")
    n = len(src_tbl)
    gen._write_rotated_embeddings(src, tmp_path, n_copies, n)

    out = pq.read_table(str(tmp_path / "embeddings.parquet"))
    assert len(out) == n_copies * n
    emb = np.array(out.column("embedding").to_pylist(), dtype=np.float64)
    src_emb = np.array(src_tbl.column("embedding").to_pylist(),
                       dtype=np.float64).astype(np.float32)
    # copy 0 verbatim
    assert np.array_equal(emb[:n].astype(np.float32), src_emb)

    n_plant = int(n * gen.PLANT_FRAC)
    assert n_plant >= 1, "sf0.001 corpus too small to exercise planting"
    unit = emb / np.linalg.norm(emb, axis=1, keepdims=True)
    total_hi = 0
    for c in range(n_copies):
        block = unit[c * n:(c + 1) * n]
        sims = block @ block.T
        iu = np.triu_indices(n, k=1)
        hi = sims[iu] >= 0.90
        if c == 0:
            assert hi.sum() == 0, "copy 0 must stay isotropic"
        else:
            assert hi.sum() == n_plant, (c, int(hi.sum()), n_plant)
            assert np.allclose(sims[iu][hi], gen.PLANT_COS, atol=1e-5)
        total_hi += int(hi.sum())
    # cross-copy blocks are rotation-decorrelated: no >=0.9 pair spans
    # copies, so the planted count IS the corpus count
    all_sims = unit @ unit.T
    aiu = np.triu_indices(len(emb), k=1)
    assert int((all_sims[aiu] >= 0.90).sum()) == total_hi \
        == (n_copies - 1) * n_plant

    # and the production kernel counts exactly the planted structure
    from openplacereviews_db_spark.operators.similarity import (
        cosine_pairs_blocked)
    df = spark.read.parquet(str(tmp_path / "embeddings.parquet"))
    got = cosine_pairs_blocked(df, threshold=0.90, n_hint=len(emb)).count()
    assert got == total_hi


def test_auto_planes_scales_log2_with_corpus():
    """Hyperplane signature width must grow log2 with the corpus so
    per-bucket GEMMs stay ~target² (r12 find: the fixed 3-plane default
    left 250k-row buckets at 2M vectors — ~100x the flops of the
    8-plane signature).  At driver scales the auto value IS the old
    default, so contract values are unchanged."""
    from openplacereviews_db_spark.operators.similarity import (
        _LSH_TARGET_BUCKET_ROWS, _auto_planes)

    assert _auto_planes(None) == 3
    assert _auto_planes(0) == 3
    assert _auto_planes(200) == 3          # sf0.01 driver scale
    assert _auto_planes(2_000) == 3        # sf0.1
    assert _auto_planes(_LSH_TARGET_BUCKET_ROWS) == 3
    assert _auto_planes(200_000) == 6      # sf10: ~3.1k-row buckets
    assert _auto_planes(2_000_000) == 9    # sf100: ~3.9k-row buckets
    # monotone non-decreasing across a sweep
    vals = [_auto_planes(n) for n in
            (10, 10**3, 10**4, 10**5, 10**6, 10**7, 10**8)]
    assert vals == sorted(vals)


def test_auto_bands_holds_design_recall():
    """Band count must grow with signature width so the design-point
    recall stays constant per decade (r12 review: fixed bands=6 shed
    recall 98.9% -> 94.5% between sf10 and sf100 on the planted
    cos-0.95 pairs)."""
    import math

    from openplacereviews_db_spark.operators.similarity import _auto_bands

    def recall(planes, bands, sim=0.95):
        p = 1 - math.acos(sim) / math.pi
        return 1 - (1 - p ** planes) ** bands

    # driver/sf10 scales stay at the design default (floor)
    assert _auto_bands(3, 0.95, 0.98) == 6
    assert _auto_bands(6, 0.95, 0.98) == 6
    # sf100's 9-plane signature needs more bands to hold 98%
    b9 = _auto_bands(9, 0.95, 0.98)
    assert b9 > 6 and recall(9, b9) >= 0.98, (b9, recall(9, b9))
    # held-recall property across the auto-planes sweep
    for planes in (3, 6, 9, 12):
        b = _auto_bands(planes, 0.95, 0.98)
        assert recall(planes, b) >= 0.98 or b == 24  # cap reached
    # degenerate design point never divides by log(0)
    assert _auto_bands(3, 1.0, 0.98) == 6
    # tiny per-band collision probability (low design_sim x wide auto
    # signature) underflows 1-p to 1.0 — must return the cap, never
    # ZeroDivisionError (r12 ADVICE)
    assert _auto_bands(512, 0.05, 0.98) == 24
    assert _auto_bands(2048, 0.5, 0.98) == 24
    assert _auto_bands(64, -1.0, 0.98) == 24  # p == 0 exactly


def test_resolve_lsh_shape_defaults_design_point_at_scale():
    """cosine_pairs_lsh(n_hint=...) without design_sim must not
    silently keep bands=6 once planes auto-grow (r12 ADVICE): the
    design point defaults to the verify threshold so recall at the
    emitted boundary holds by construction."""
    from openplacereviews_db_spark.operators.similarity import (
        _auto_bands, _resolve_lsh_shape)

    # explicit values always win
    assert _resolve_lsh_shape(8, 6, 2_000_000, None, 0.9, 0.98) == (8, 6)
    # small-SF: auto planes stay at the floor, bands stay the default
    assert _resolve_lsh_shape(None, None, None, None, 0.4, 0.98) == (3, 6)
    assert _resolve_lsh_shape(None, None, 1000, None, 0.4, 0.98) == (3, 6)
    # at-scale n_hint without design_sim: bands derive from threshold
    p, b = _resolve_lsh_shape(None, None, 2_000_000, None, 0.9, 0.98)
    assert p == 9 and b == _auto_bands(9, 0.9, 0.98) and b > 6
    # an explicit design point still wins over the threshold default
    p2, b2 = _resolve_lsh_shape(None, None, 2_000_000, 0.95, 0.9, 0.98)
    assert p2 == 9 and b2 == _auto_bands(9, 0.95, 0.98)
    # explicit bands suppress the defaulting entirely
    assert _resolve_lsh_shape(None, 6, 2_000_000, None, 0.9, 0.98) == (9, 6)
