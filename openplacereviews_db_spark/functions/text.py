"""Text / name-similarity scalar functions.

SQL re-implementations of the reference's string kit (SURVEY.md §2.9,
MergeUtil.java / OprExprEvaluatorExt.java).  The cross-engine helpers
take a :mod:`.dialect` first and return SQL text — Spark plans parse
``F.expr(helper(SPARK, ...))`` and the DuckDB oracles splice
``helper(DUCKDB, ...)`` — so each rule is written once.  Everything is
a JVM-side, codegen-friendly expression; no UDFs.

- ``simple_name``        — opr:simple_name (OprExprEvaluatorExt.java:70-78)
- ``tokenize_words``     — space-split + punctuation trim (MergeUtil.java:28,243-252)
- ``normalized``         — lowercase + accent-strip (Collator.PRIMARY approx,
                            MergeUtil.java:171-172; Spark has no ICU collation
                            so we approximate with translate of common accents)
- ``lev_threshold``      — length-scaled Levenshtein threshold
                            (MergeUtil.java:270-284: ≤4→1, ≤6→2, ≤8→3, else 4)
- ``words_fuzzy_subset`` — every word of the smaller list matches some word
                            of the bigger (MergeUtil.java:254-268)
- ``check_names``        — the full name-equivalence cascade
                            (MergeUtil.java:166-195)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .dialect import Dialect

# Accent folding table approximating java.text.Collator PRIMARY strength for
# Latin scripts.  (Spark has no ICU collation; divergence documented in
# SURVEY.md §7 "Collator semantics".)
_ACCENTS_SRC = "àáâãäåçèéêëìíîïñòóôõöùúûüýÿžšœæðø"
_ACCENTS_DST = "aaaaaaceeeeiiiinooooouuuuyyzsoaedo"

_WS = r"\s+"

#: leading/trailing punctuation trimmed from each word (MergeUtil.java:28)
_PUNCT_TRIM = r"(^[\p{Punct}]+)|([\p{Punct}]+$)"


def normalized(d: Dialect, x: str) -> str:
    """Lowercase + accent-fold — the Collator.PRIMARY equality proxy."""
    return (f"translate(lower({x}), {d.lit(_ACCENTS_SRC)}, "
            f"{d.lit(_ACCENTS_DST)})")


def simple_name(name: Column) -> Column:
    """opr:simple_name — strip spaces and hyphens, lowercase
    (OprExprEvaluatorExt.java:70-78)."""
    return F.lower(F.regexp_replace(name, r"[ \-]", ""))


def tokenize_words(d: Dialect, x: str) -> str:
    """array<string> of words: split on whitespace, trim punctuation from
    both ends of each word, drop empties (MergeUtil.java:243-252)."""
    words = d.split(d.trim(x), _WS)
    trimmed = d.transform(words, "w", d.regexp_replace("w", _PUNCT_TRIM, ""))
    return d.filter(trimmed, "w", "(w != '')")


def norm_tokens(d: Dialect, x: str) -> str:
    """:func:`tokenize_words`, each word :func:`normalized`."""
    return d.transform(tokenize_words(d, x), "w", normalized(d, "w"))


def lev_threshold(d: Dialect, a: str, b: str) -> str:
    """Levenshtein tolerance scaled by the shorter word's length
    (MergeUtil.java:270-284)."""
    n = f"least(length({a}), length({b}))"
    return (f"(CASE WHEN {n} <= 4 THEN 1 WHEN {n} <= 6 THEN 2 "
            f"WHEN {n} <= 8 THEN 3 ELSE 4 END)")


def words_match(d: Dialect, w: str, m: str) -> str:
    """Two normalized words match if equal OR within the Levenshtein
    threshold."""
    return (f"(({w} = {m}) OR ({d.levenshtein(w, m)} <= "
            f"{lev_threshold(d, w, m)}))")


def words_fuzzy_subset(d: Dialect, sub: str, main: str) -> str:
    """Every word of ``sub`` fuzzy-matches some word of ``main``
    (MergeUtil.java:254-268).  Both args are normalized word lists."""
    return d.forall(sub, "w", d.exists(main, "m", words_match(d, "w", "m")))


def check_names(d: Dialect, a: str, b: str) -> str:
    """The full name-equivalence cascade of MergeUtil.checkNames
    (MergeUtil.java:165-195), as one boolean expression:

    1. collator-PRIMARY equality (normalized equality);
    2. whitespace-stripped lowercase equality (the reference strips
       ``\\s+`` only — NOT hyphens; ``simple_name`` is the separate
       opr:simple_name expression);
    3. sorted-word-bag equality (order-insensitive);
    4. fuzzy word-subset tried in BOTH directions regardless of size
       (``isSubCollection(new, old) || isSubCollection(old, new)``,
       MergeUtil.java:190-194).

    A CASE chain instead of OR so the O(|a|·|b|) Levenshtein subset
    scans only run when the cheap equality tiers miss.
    """
    wa, wb = norm_tokens(d, a), norm_tokens(d, b)
    eq_norm = f"({normalized(d, a)} = {normalized(d, b)})"
    eq_ws = (f"({d.regexp_replace(f'lower({a})', _WS, '')} = "
             f"{d.regexp_replace(f'lower({b})', _WS, '')})")
    eq_bag = f"({d.array_sort(wa)} = {d.array_sort(wb)})"
    non_empty = f"(({d.size(wa)} > 0) AND ({d.size(wb)} > 0))"
    return (f"(CASE WHEN ({eq_norm} OR {eq_ws} OR {eq_bag}) THEN true "
            f"WHEN NOT {non_empty} THEN false "
            f"WHEN {words_fuzzy_subset(d, wa, wb)} THEN true "
            f"ELSE {words_fuzzy_subset(d, wb, wa)} END)")


def tag_equal_non_empty(d: Dialect, a: str, b: str) -> str:
    """wikidata/website equality, both non-empty (MergeUtil.java:121-126)."""
    return (f"(({a} IS NOT NULL) AND ({b} IS NOT NULL) AND "
            f"({a} != '') AND ({a} = {b}))")


def first_not_empty(*cols: Column) -> Column:
    """str:first_not_empty — concat args, each truncated at first ';'
    (OprExprEvaluatorExt.java:40-58)."""
    parts = [F.split(c, ";").getItem(0) for c in cols]
    return F.concat_ws("", *[F.coalesce(p, F.lit("")) for p in parts])


def display_place_type(pt: Column) -> Column:
    """Capitalize + underscore→space (BaseOprPlaceDataProvider.java:174-175)."""
    base = F.replace(pt, F.lit("_"), F.lit(" "))
    return F.concat(F.upper(F.substring(base, 1, 1)), F.substring(base, 2, 2147483646))


#: scheme + authority of a URL — everything before the first /, ? or #
#: past the ``scheme://`` marker.
URL_PREFIX_RE = "^[a-zA-Z]+://[^/?#]*"


def url_canonicalize(d: Dialect, u: str) -> str:
    """Crawl-pipeline URL canonicalization (X78): lowercase the
    scheme+host, strip default ports (:80/:443), drop fragments, strip
    ``utm_*`` tracking params (keeping real ones), and trim the
    trailing slash — the normalization pass that turns near-identical
    crawl URLs into one dedup key.  A pure codegen regexp chain."""
    prefix = f"regexp_extract({u}, {d.regex(URL_PREFIX_RE)}, 0)"
    # Default-port strip is scheme-aware: :80 is only the default for
    # http and :443 only for https — https://host:80 is a distinct
    # origin and must NOT collapse into https://host.
    host = d.regexp_replace(f"lower({prefix})",
                            "^(http://[^/?#]*):80$", "$1")
    host = d.regexp_replace(host, "^(https://[^/?#]*):443$", "$1")
    r = f"substr({u}, (length({prefix}) + 1), 4096)"
    for pattern, repl in (("#.*", ""), ("&utm_[^&]*", ""),
                          ("\\?utm_[^&]*&", "?"), ("\\?utm_[^&]*$", ""),
                          ("/$", "")):
        r = d.regexp_replace(r, pattern, repl)
    return f"({host} || {r})"
