"""Text / name-similarity scalar functions.

Column-expression re-implementations of the reference's string kit
(SURVEY.md §2.9, MergeUtil.java / OprExprEvaluatorExt.java).  Everything
here is a pure Spark SQL expression — JVM-side, codegen-friendly, no UDFs.

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

# Accent folding table approximating java.text.Collator PRIMARY strength for
# Latin scripts.  (Spark has no ICU collation; divergence documented in
# SURVEY.md §7 "Collator semantics".)
_ACCENTS_SRC = "àáâãäåçèéêëìíîïñòóôõöùúûüýÿžšœæðø"
_ACCENTS_DST = "aaaaaaceeeeiiiinooooouuuuyyzsoaedo"

#: leading/trailing punctuation trimmed from each word (MergeUtil.java:28)
_PUNCT_TRIM = r"(^[\p{Punct}]+)|([\p{Punct}]+$)"


def normalized(name: Column) -> Column:
    """Lowercase + accent-fold — the Collator.PRIMARY equality proxy."""
    return F.translate(F.lower(name), _ACCENTS_SRC, _ACCENTS_DST)


def simple_name(name: Column) -> Column:
    """opr:simple_name — strip spaces and hyphens, lowercase
    (OprExprEvaluatorExt.java:70-78)."""
    return F.lower(F.regexp_replace(name, r"[ \-]", ""))


def tokenize_words(name: Column) -> Column:
    """array<string> of words: split on whitespace, trim punctuation from
    both ends of each word, drop empties (MergeUtil.java:243-252)."""
    words = F.split(F.trim(name), r"\s+")
    trimmed = F.transform(words, lambda w: F.regexp_replace(w, _PUNCT_TRIM, ""))
    return F.filter(trimmed, lambda w: w != "")


def lev_threshold(a: Column, b: Column) -> Column:
    """Levenshtein tolerance scaled by the shorter word's length
    (MergeUtil.java:270-284)."""
    min_len = F.least(F.length(a), F.length(b))
    return (
        F.when(min_len <= 4, F.lit(1))
        .when(min_len <= 6, F.lit(2))
        .when(min_len <= 8, F.lit(3))
        .otherwise(F.lit(4))
    )


def words_match(a: Column, b: Column) -> Column:
    """Two words match if normalized-equal OR levenshtein within threshold."""
    na, nb = normalized(a), normalized(b)
    return (na == nb) | (F.levenshtein(na, nb) <= lev_threshold(na, nb))


def words_fuzzy_subset(sub: Column, main: Column) -> Column:
    """Every word of ``sub`` fuzzy-matches some word of ``main``
    (MergeUtil.java:254-268).  Both args are array<string>."""
    return F.forall(sub, lambda w: F.exists(main, lambda m: words_match(w, m)))


def check_names(a: Column, b: Column) -> Column:
    """The full name-equivalence cascade of MergeUtil.checkNames
    (MergeUtil.java:165-195), as one boolean column:

    1. collator-PRIMARY equality (normalized equality);
    2. whitespace-stripped lowercase equality (the reference strips
       ``\\s+`` only — NOT hyphens; ``simple_name`` is the separate
       opr:simple_name expression);
    3. sorted-word-bag equality (order-insensitive);
    4. fuzzy word-subset tried in BOTH directions regardless of size
       (``isSubCollection(new, old) || isSubCollection(old, new)``,
       MergeUtil.java:190-194).
    """
    eq_norm = normalized(a) == normalized(b)
    eq_ws = (F.regexp_replace(F.lower(a), r"\s+", "")
             == F.regexp_replace(F.lower(b), r"\s+", ""))
    wa = F.transform(tokenize_words(a), normalized)
    wb = F.transform(tokenize_words(b), normalized)
    eq_bag = F.array_sort(wa) == F.array_sort(wb)
    non_empty = (F.size(wa) > 0) & (F.size(wb) > 0)
    # CASE chain instead of OR so the O(|a|·|b|) Levenshtein subset
    # scans only run when the cheap equality tiers miss — boolean
    # result identical (each tier is null-free once names are non-null)
    return (
        F.when(eq_norm | eq_ws | eq_bag, F.lit(True))
        .when(~non_empty, F.lit(False))
        .when(words_fuzzy_subset(wa, wb), F.lit(True))
        .otherwise(words_fuzzy_subset(wb, wa))
    )


def tag_equal_non_empty(a: Column, b: Column) -> Column:
    """wikidata/website equality, both non-empty (MergeUtil.java:121-126)."""
    return a.isNotNull() & b.isNotNull() & (a != "") & (a == b)


def first_not_empty(*cols: Column) -> Column:
    """str:first_not_empty — concat args, each truncated at first ';'
    (OprExprEvaluatorExt.java:40-58)."""
    parts = [F.split(c, ";").getItem(0) for c in cols]
    return F.concat_ws("", *[F.coalesce(p, F.lit("")) for p in parts])


def display_place_type(pt: Column) -> Column:
    """Capitalize + underscore→space (BaseOprPlaceDataProvider.java:174-175)."""
    base = F.replace(pt, F.lit("_"), F.lit(" "))
    return F.concat(F.upper(F.substring(base, 1, 1)), F.substring(base, 2, 2147483646))


# ---------------------------------------------------------------------------
# DuckDB SQL mirrors — the same cascade as SQL text, for value-exact
# oracles of the fuzzy-match operators.  Built as generators because the
# nested-lambda SQL is verbose; semantics mirror the column versions
# above expression-for-expression.
# ---------------------------------------------------------------------------

def normalized_sql(x: str) -> str:
    return f"translate(lower({x}), '{_ACCENTS_SRC}', '{_ACCENTS_DST}')"


def tokenize_words_sql(x: str) -> str:
    r"""list of words: \s+ split, per-word edge-punctuation trim, drop
    empties — mirrors :func:`tokenize_words` (RE2 [[:punct:]] ==
    Java \p{Punct} on ASCII)."""
    split = rf"regexp_split_to_array(trim({x}), '\s+')"
    trimmed = (f"list_transform({split}, "
               "w -> regexp_replace(w, '(^[[:punct:]]+)|([[:punct:]]+$)', "
               "'', 'g'))")
    return f"list_filter({trimmed}, w -> w != '')"


def norm_tokens_sql(x: str) -> str:
    return (f"list_transform({tokenize_words_sql(x)}, "
            f"w -> {normalized_sql('w')})")


def lev_threshold_sql(a: str, b: str) -> str:
    return (f"(CASE WHEN least(length({a}), length({b})) <= 4 THEN 1 "
            f"WHEN least(length({a}), length({b})) <= 6 THEN 2 "
            f"WHEN least(length({a}), length({b})) <= 8 THEN 3 "
            f"ELSE 4 END)")


def words_match_sql(w: str, m: str) -> str:
    """Both args must already be normalized tokens."""
    return (f"({w} = {m} OR levenshtein({w}, {m}) <= "
            f"{lev_threshold_sql(w, m)})")


def words_fuzzy_subset_sql(sub: str, main: str) -> str:
    return (f"(len(list_filter({sub}, w -> len(list_filter({main}, "
            f"m -> {words_match_sql('w', 'm')})) > 0)) = len({sub}))")


def check_names_sql(a: str, b: str) -> str:
    """:func:`check_names` as DuckDB SQL (MergeUtil.java:165-195)."""
    ta, tb = norm_tokens_sql(a), norm_tokens_sql(b)
    eq_norm = f"({normalized_sql(a)} = {normalized_sql(b)})"
    eq_ws = (f"(regexp_replace(lower({a}), '\\s+', '', 'g') = "
             f"regexp_replace(lower({b}), '\\s+', '', 'g'))")
    eq_bag = f"(list_sort({ta}) = list_sort({tb}))"
    subset = (f"({words_fuzzy_subset_sql(ta, tb)} "
              f"OR {words_fuzzy_subset_sql(tb, ta)})")
    non_empty = f"(len({ta}) > 0 AND len({tb}) > 0)"
    return (f"({eq_norm} OR {eq_ws} OR {eq_bag} "
            f"OR ({non_empty} AND {subset}))")


def tag_equal_non_empty_sql(a: str, b: str) -> str:
    return (f"({a} IS NOT NULL AND {b} IS NOT NULL AND {a} != '' "
            f"AND {a} = {b})")


# ---------------------------------------------------------------------------
# Spark-dialect expression strings for the cascade — ONE F.expr parse
# instead of thousands of per-op py4j Column calls (the r14 simhash
# finding: plan construction is also time).  Semantics mirror the
# Column versions above expression-for-expression;
# tests/test_merge.py::test_check_names_expr_matches_column pins the
# two in sync on the truth table.
# ---------------------------------------------------------------------------

#: the Column version's pattern strings, re-escaped as Spark SQL string
#: literals (the parser halves backslashes)
_PUNCT_TRIM_LIT = "'(^[\\\\p{Punct}]+)|([\\\\p{Punct}]+$)'"
_WS_LIT = "'\\\\s+'"


def normalized_expr(x: str) -> str:
    return f"translate(lower({x}), '{_ACCENTS_SRC}', '{_ACCENTS_DST}')"


def tokenize_words_expr(x: str) -> str:
    split = f"split(trim({x}), {_WS_LIT})"
    trimmed = (f"transform({split}, "
               f"w -> regexp_replace(w, {_PUNCT_TRIM_LIT}, ''))")
    return f"filter({trimmed}, w -> w != '')"


def _norm_tokens_expr(x: str) -> str:
    return (f"transform({tokenize_words_expr(x)}, "
            f"w -> {normalized_expr('w')})")


def words_match_expr(w: str, m: str) -> str:
    """Both args must already be normalized tokens."""
    thr = (f"(CASE WHEN least(length({w}), length({m})) <= 4 THEN 1 "
           f"WHEN least(length({w}), length({m})) <= 6 THEN 2 "
           f"WHEN least(length({w}), length({m})) <= 8 THEN 3 "
           f"ELSE 4 END)")
    return f"(({w} = {m}) OR (levenshtein({w}, {m}) <= {thr}))"


def words_fuzzy_subset_expr(sub: str, main: str) -> str:
    return (f"forall({sub}, w -> exists({main}, m -> "
            f"{words_match_expr('w', 'm')}))")


def check_names_expr(a: str, b: str) -> str:
    """:func:`check_names` as one Spark SQL expression string."""
    wa, wb = _norm_tokens_expr(a), _norm_tokens_expr(b)
    eq_norm = f"({normalized_expr(a)} = {normalized_expr(b)})"
    eq_ws = (f"(regexp_replace(lower({a}), {_WS_LIT}, '') = "
             f"regexp_replace(lower({b}), {_WS_LIT}, ''))")
    eq_bag = f"(array_sort({wa}) = array_sort({wb}))"
    non_empty = f"((size({wa}) > 0) AND (size({wb}) > 0))"
    return (f"(CASE WHEN ({eq_norm} OR {eq_ws} OR {eq_bag}) THEN true "
            f"WHEN NOT {non_empty} THEN false "
            f"WHEN {words_fuzzy_subset_expr(wa, wb)} THEN true "
            f"ELSE {words_fuzzy_subset_expr(wb, wa)} END)")


def tag_equal_non_empty_expr(a: str, b: str) -> str:
    return (f"(({a} IS NOT NULL) AND ({b} IS NOT NULL) AND "
            f"({a} != '') AND ({a} = {b}))")


#: scheme + authority of a URL — everything before the first /, ? or #
#: past the ``scheme://`` marker.
URL_PREFIX_RE = "^[a-zA-Z]+://[^/?#]*"


def url_canonicalize(url: Column) -> Column:
    """Crawl-pipeline URL canonicalization (X78): lowercase the
    scheme+host, strip default ports (:80/:443), drop fragments, strip
    ``utm_*`` tracking params (keeping real ones), and trim the
    trailing slash — the normalization pass that turns near-identical
    crawl URLs into one dedup key.  Pure codegen regexp chain; the SQL
    mirror is :func:`url_canonicalize_sql` (rule-for-rule identical —
    DuckDB's regexp_replace needs an explicit 'g' flag exactly where
    Spark's always-global behavior touches multiple matches)."""
    prefix = F.regexp_extract(url, URL_PREFIX_RE, 0)
    # Default-port strip is scheme-aware: :80 is only the default for
    # http and :443 only for https — https://host:80 is a distinct
    # origin and must NOT collapse into https://host.
    host = F.regexp_replace(F.lower(prefix),
                            "^(http://[^/?#]*):80$", "$1")
    host = F.regexp_replace(host, "^(https://[^/?#]*):443$", "$1")
    rest = url.substr(F.length(prefix) + F.lit(1), F.lit(4096))
    r = F.regexp_replace(rest, "#.*", "")
    r = F.regexp_replace(r, "&utm_[^&]*", "")
    r = F.regexp_replace(r, "\\?utm_[^&]*&", "?")
    r = F.regexp_replace(r, "\\?utm_[^&]*$", "")
    r = F.regexp_replace(r, "/$", "")
    return F.concat(host, r)


def url_canonicalize_sql(u: str) -> str:
    """DuckDB mirror of :func:`url_canonicalize`."""
    prefix = f"regexp_extract({u}, '{URL_PREFIX_RE}', 0)"
    host = (f"regexp_replace(lower({prefix}), "
            f"'^(http://[^/?#]*):80$', '\\1')")
    host = f"regexp_replace({host}, '^(https://[^/?#]*):443$', '\\1')"
    rest = f"substr({u}, length({prefix}) + 1, 4096)"
    r = f"regexp_replace({rest}, '#.*', '')"
    r = f"regexp_replace({r}, '&utm_[^&]*', '', 'g')"
    r = f"regexp_replace({r}, '\\?utm_[^&]*&', '?')"
    r = f"regexp_replace({r}, '\\?utm_[^&]*$', '')"
    r = f"regexp_replace({r}, '/$', '')"
    return f"({host} || {r})"
