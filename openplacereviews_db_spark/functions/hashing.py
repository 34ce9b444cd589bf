"""Deterministic hashing / sketching primitives for dedup & fingerprinting.

Everything is built on md5 so the identical computation is expressible in
Spark SQL *and* in the DuckDB oracle SQL (both expose ``md5(text) → hex``),
making every sketch hash-checkable cross-engine.  The cross-engine
helpers take a :mod:`.dialect` first and return SQL text; all of it is
column arithmetic — no Python UDFs.

- ``norm_text`` / ``fingerprint`` — md5 of whitespace/case-normalized
                        text (exact-after-normalization dedup key)
- ``word_shingles``  — n-word shingles
- ``minhash_base`` / ``minhash_perm`` — the minhash family: ONE md5
                        base hash per shingle fed through k universal-
                        hash permutations (a_i·h+b_i mod 2^61−1) —
                        integer arithmetic both engines compute
                        bit-identically
- ``lsh_bands``      — banding of the signature for LSH candidate buckets
- ``jaccard`` / ``jaccard_ge`` / ``jaccard_prebound`` — exact set
                        similarity and its verify predicate
- ``simhash64``      — 64-bit SimHash over word tokens (bit-majority of
                        per-token md5 bits)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .dialect import SPARK, Dialect


_WS = r"\s+"


def norm_text(d: Dialect, text: str) -> str:
    """Whitespace-collapse + lowercase — the normalization before
    hashing."""
    return f"lower({d.trim(d.regexp_replace(text, _WS, ' '))})"


def fingerprint(d: Dialect, text: str) -> str:
    """Deterministic document fingerprint (md5 of normalized text)."""
    return f"md5({norm_text(d, text)})"


def word_shingles(text: str, n: int = 3) -> Column:
    """array<string> of n-word shingles of the normalized text (distinct);
    ``text`` is a column name or Spark SQL expression.

    Texts with fewer than ``n`` words yield a single shingle (the whole
    normalized text); empty text yields an empty array.
    """
    t = F.expr(norm_text(SPARK, text))
    words = F.filter(F.split(t, " "), lambda w: w != "")
    cnt = F.size(words)
    idx = F.sequence(F.lit(1), cnt - (n - 1))
    full = F.transform(
        idx, lambda i: F.concat_ws(" ", *[F.element_at(words, i + j) for j in range(n)])
    )
    return F.array_distinct(
        F.when(cnt == 0, F.array().cast("array<string>"))
        .when(cnt < n, F.array(t))
        .otherwise(full)
    )


#: MinHash universal-hash family h_i(s) = (a_i·base(s) + b_i) mod P over
#: one shared base hash per shingle — ONE md5 per shingle instead of
#: num_hashes of them (16× less hashing; at 100 TB the hash work IS the
#: minhash cost).  P is the Mersenne prime 2^61−1; base < 2^31 and
#: a_i < 2^21, so a_i·base + b_i < 2^52 — no overflow on either engine
#: (Spark ANSI would raise, DuckDB would error; both stay in range).
MINHASH_P = (1 << 61) - 1
MINHASH_M = 1 << 31


def minhash_a(i: int) -> int:
    return 1000003 + 7919 * i


def minhash_b(i: int) -> int:
    return 12345 + 69061 * i


def minhash_base(d: Dialect, s: str) -> str:
    """Shared base hash: first 15 hex digits of md5 (60 bits), reduced
    mod 2^31.  Two shingles colliding here collide in every h_i — at
    probability ~n²/2⁶¹, negligible for any real corpus."""
    return d.pmod(d.hex_to_bigint(f"substring(md5({s}), 1, 15)"),
                  str(MINHASH_M))


def minhash_perm(d: Dialect, seed: str, base: str) -> str:
    """The ``seed``-th minhash function (:func:`minhash_a` /
    :func:`minhash_b` inlined, so ``seed`` may be a column such as
    DuckDB's generate_series) applied to a base hash expression."""
    return (f"(((1000003 + 7919 * {seed}) * {base} "
            f"+ (12345 + 69061 * {seed})) % {MINHASH_P})")


def lsh_bands(d: Dialect, sig: str, bands: int, rows_per_band: int) -> str:
    """array<string> of band keys 'b|md5(band slice)' for LSH bucketing.
    ``sig`` is a string or numeric signature array (bigint minhashes
    are rendered in decimal — identical text on both engines).  One
    parsed expression instead of ~5 py4j Column calls per band: wide
    Column chains are bound by the py4j round trip (~5 ms here)."""
    arr = d.string_array(sig)
    return d.array(*(
        f"concat({d.lit(f'{b}|')}, md5("
        f"{d.join(d.slice(arr, b * rows_per_band + 1, rows_per_band), ',')}))"
        for b in range(bands)))


def jaccard(d: Dialect, a: str, b: str) -> str:
    """Exact Jaccard similarity of two array sets (inputs MUST be
    duplicate-free — every caller feeds collect_set/array_distinct
    output).  |A∪B| is computed as |A|+|B|−|A∩B| instead of a second
    hash-set build: array_intersect/array_union each allocate and fill
    a hash set per EVALUATION (~3 µs on 50-element arrays), and the
    verify paths evaluate this once per candidate pair — measured ~2×
    on dd_minhash_lsh's verify stage.  Identical values: for sets the
    identity is exact in integer arithmetic, so the divide sees the
    same operands.  Catalyst does not CSE the repeated intersect
    subtree either way."""
    i = d.size(f"array_intersect({a}, {b})")
    u = f"(({d.size(a)} + {d.size(b)}) - {i})"
    return (f"CASE WHEN ({u} = 0) THEN {d.dbl(0.0)} "
            f"ELSE (CAST({i} AS DOUBLE) / CAST({u} AS DOUBLE)) END")


def jaccard_ge(d: Dialect, a: str, b: str, threshold: float) -> str:
    """Ordered predicate ``round(jaccard(a, b), 6) >= threshold`` for
    duplicate-free arrays — the form every verify stage should filter
    with.  Catalyst folds verify filters into join CONDITIONS, where
    common subexpressions are NOT eliminated, so the naive check costs
    three array_intersect hash-set builds per candidate; here a
    ONE-intersect necessary bound short-circuits the exact check down
    to the near-threshold sliver (``jaccard_prebound``'s exact integer
    cutoff — see there for the algebra).  The AND short-circuit keeps
    values identical — the exact check decides."""
    i = d.size(f"array_intersect({a}, {b})")
    pre = jaccard_prebound(d, i, d.size(a), d.size(b), threshold)
    return (f"({pre} AND (round({jaccard(d, a, b)}, 6) >= "
            f"{d.dbl(threshold)}))")


def jaccard_prebound(d: Dialect, inter_count: str, size_a: str,
                     size_b: str, threshold: float) -> str:
    """The necessary integer bound of :func:`jaccard_ge` — EXACT, no
    slack (a floor(·)−1 float form admits up to 2 extra integer steps
    of near-threshold sliver, 21× the true pairs on dd_minhash_lsh's
    sf100 candidates).  Also used by callers whose intersection count
    is an UPPER bound computed from a cheaper projection (the int16
    tier-1 verifies): any count ≥ the true one also passes, so no true
    pair is ever dropped.  ``size_a``/``size_b`` must be the TRUE set
    sizes.

    Algebra, all in exact integers: round(j,6) ≥ t (HALF_UP) ⟺
    j ≥ t − 5e-7 =: t′ for exact rationals j = i/(S−i), S = |A|+|B|;
    with T := round(t·10⁸) − 50 (= t′·10⁸ exactly for any threshold of
    ≤6 decimals), i/(S−i) ≥ T/10⁸ ⟺ i·(10⁸+T) ≥ T·S — int64-safe to
    i ~ 8e10.  A double j within 1 ulp of the boundary cannot flip the
    comparison the exact check performs: the nearest distinct rational
    i/(S−i) to T/10⁸ differs by ≥ 1/(10⁸·(S−i)) ≫ the ~1e-17 shortest-
    repr wobble of round(double, 6) for any S < 10⁷.  Both factors are
    cast to BIGINT: sizes arrive as INT and an int32 product overflows
    (ANSI) at inter ~ 20."""
    t8 = int(round(threshold * 1e8)) - 50
    return (f"((CAST({inter_count} AS BIGINT) * CAST({10**8 + t8} AS "
            f"BIGINT)) >= (CAST({t8} AS BIGINT) * "
            f"CAST(({size_a} + {size_b}) AS BIGINT)))")


# --- SimHash -----------------------------------------------------------------

_HEX = "0123456789abcdef"


def _hex_digit_val(c: Column) -> Column:
    """hex char → 0..15 via position in the hex alphabet (portable SQL)."""
    return F.instr(F.lit(_HEX), c) - 1


def _md5_bits(h: Column, nbits: int) -> Column:
    """array<int> of the first ``nbits`` bits of an md5 hex string,
    most-significant first within each nibble."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(nbits - 1)),
        lambda bit: (
            F.floor(
                _hex_digit_val(h.substr((bit / 4).cast("int") + 1, F.lit(1)))
                / F.pow(F.lit(2.0), (F.lit(3) - bit % 4).cast("double"))
            ) % 2
        ).cast("int"),
    )


def simhash64(text: str, prefix_bits: int = 64) -> Column:
    """SimHash over word tokens of ``text`` (a column name or Spark SQL
    expression), returned as a bigint column.

    Single pass: the aggregate accumulator is an array of per-bit vote
    counters (+1 when md5(token) has the bit set, −1 otherwise); the sign
    of each counter is the output bit (ties → 0).  Pure column
    arithmetic, one traversal of the token array.
    """
    words = F.array_distinct(F.filter(
        F.split(F.expr(norm_text(SPARK, text)), " "), lambda w: w != ""))
    zero = F.array_repeat(F.lit(0), prefix_bits)
    votes = F.aggregate(
        words,
        zero,
        lambda acc, w: F.zip_with(
            acc, _md5_bits(F.md5(w), prefix_bits),
            lambda a, bit: a + F.when(bit == 1, F.lit(1)).otherwise(F.lit(-1)),
        ),
    )
    # weight of bit at position pos is 2^(prefix_bits-1-pos); the top bit of
    # a 64-bit hash is the sign bit, added as -2^63 (two's complement)
    weighted = F.zip_with(
        votes,
        F.sequence(F.lit(0), F.lit(prefix_bits - 1)),
        lambda v, pos: F.when(v <= 0, F.lit(0).cast("bigint")).otherwise(
            F.when(
                F.lit(prefix_bits - 1) - pos == 63, F.lit(-(2 ** 63)).cast("bigint")
            ).otherwise(
                F.pow(F.lit(2.0), (F.lit(prefix_bits - 1) - pos).cast("double")).cast("bigint")
            )
        ),
    )
    return F.aggregate(weighted, F.lit(0).cast("bigint"), lambda a, b: a + b)


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two bigint hash values."""
    return F.bit_count(a.bitwiseXOR(b))
