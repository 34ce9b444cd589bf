"""Text kit goldens from the reference's formulas (MergeUtil.java,
OprExprEvaluatorExt.java)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from openplacereviews_db_spark.functions import text as TX
from openplacereviews_db_spark.functions.dialect import SPARK


def _one(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0]["v"]


def test_simple_name(spark):
    # opr:simple_name strips spaces+hyphens and lowercases
    assert _one(spark, TX.simple_name(F.lit("Blue - Cafe X"))) == "bluecafex"


def test_tokenize_trims_punct(spark):
    got = _one(spark, F.expr(TX.tokenize_words(
        SPARK, SPARK.lit('  "Le Café!"  (No.1)  '))))
    assert got == ["Le", "Café", "No.1"]


@pytest.mark.parametrize("a,b,want", [
    ("abc", "abcd", 1),      # min len 3 → threshold 1
    ("abcde", "abcdef", 2),  # min len 5 → 2
    ("abcdefg", "abcdefgh", 3),
    ("abcdefghi", "abcdefghij", 4),
])
def test_lev_threshold(spark, a, b, want):
    assert _one(spark, F.expr(TX.lev_threshold(
        SPARK, SPARK.lit(a), SPARK.lit(b)))) == want


def test_first_not_empty(spark):
    # each arg truncated at first ';', concatenated
    got = _one(spark, TX.first_not_empty(F.lit("a;b"), F.lit(""), F.lit("c;d")))
    assert got == "ac"


def test_display_place_type(spark):
    assert _one(spark, TX.display_place_type(F.lit("fast_food"))) == "Fast food"


def test_normalized_accent_fold(spark):
    assert _one(spark, F.expr(TX.normalized(
        SPARK, SPARK.lit("Crème Brûlée")))) == "creme brulee"


def test_o2_label_sort_matches_java_natural_order(spark):
    """O2 display-name sort parity golden: the reference sorts placeType
    labels with ``Comparator.naturalOrder()``
    (BaseOprPlaceDataProvider.java:182-194) — UTF-16 code-unit order, NOT
    a locale collator.  For BMP strings (all OSM placetype values) that
    equals code-POINT order, which is exactly Python ``sorted()`` and
    Spark's binary string ORDER BY — so Spark's sort must reproduce Java's
    byte-for-byte, accents included (é sorts AFTER z, as Java does, unlike
    an ICU/locale collation which would interleave it with e)."""
    labels = ["Amenity - Cafe", "Amenity - Café", "Amenity - cafe",
              "Amenity - Zoo", "Amenity - Éclair shop", "Amenity - bar",
              "Leisure - Ángel park", "Amenity - Fast food"]
    df = spark.createDataFrame([(x,) for x in labels], "label string")
    got = [r["label"] for r in df.orderBy("label").collect()]
    # Python sorted() compares by code point == Java naturalOrder on BMP
    assert got == sorted(labels)
    # the accented initials really do land after ASCII, as in Java
    assert got.index("Amenity - Café") > got.index("Amenity - Cafe")
    assert got[-2:] == ["Amenity - Éclair shop", "Leisure - Ángel park"]


def test_url_canonicalize_truth_table(spark):
    """Pin the canonicalization rules on hand-built URLs — including
    the chained-utm and utm-first-of-several cases where rule order
    matters."""
    from pyspark.sql import functions as F

    from openplacereviews_db_spark.functions.text import url_canonicalize

    cases = [
        ("HTTP://WWW.EX.COM/A", "http://www.ex.com/A"),
        ("http://ex.com:80/p", "http://ex.com/p"),
        ("https://ex.com:443/p/", "https://ex.com/p"),
        ("http://ex.com/p#frag", "http://ex.com/p"),
        ("http://ex.com/p?utm_s=1", "http://ex.com/p"),
        ("http://ex.com/p?utm_s=1&id=2", "http://ex.com/p?id=2"),
        ("http://ex.com/p?id=2&utm_s=1", "http://ex.com/p?id=2"),
        ("http://ex.com/p?utm_a=1&utm_b=2&id=3", "http://ex.com/p?id=3"),
        ("http://ex.com/p?utm_a=1&utm_b=2", "http://ex.com/p"),
        ("http://ex.com:8080/p", "http://ex.com:8080/p"),
        # cross-scheme defaults are NOT default ports: distinct origins
        ("https://ex.com:80/p", "https://ex.com:80/p"),
        ("http://ex.com:443/p", "http://ex.com:443/p"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r[0] for r in
           df.select(F.expr(url_canonicalize(SPARK, "url"))).collect()]
    assert got == [want for _, want in cases]


def test_url_canonicalize_is_idempotent(spark):
    """canon(canon(u)) == canon(u) — a canonical form must be a fixed
    point, over a generated mix of scheme/host case, default and
    explicit ports, fragments, utm and real params, trailing slashes."""
    from pyspark.sql import functions as F

    from openplacereviews_db_spark.functions.text import url_canonicalize

    urls = []
    for i in range(400):
        scheme = ["http", "HTTP", "https"][i % 3]
        host = ["ex.com", "WWW.Ex.COM", "a.b.ex.com"][i % 3] + \
            ["", ":80", ":443", ":8080"][i % 4]
        path = ["/", "/p", "/p/q", "/p/"][i % 4]
        q = ["", "?utm_a=1", "?utm_a=1&id=2", "?id=2&utm_b=3",
             "?utm_a=1&utm_b=2&id=3"][i % 5]
        frag = ["", "#x"][i % 2]
        urls.append((f"{scheme}://{host}{path}{q}{frag}",))
    df = spark.createDataFrame(urls, "url string")
    once = df.select(F.expr(url_canonicalize(SPARK, "url")).alias("c1"))
    twice = once.select(F.col("c1"),
                        F.expr(url_canonicalize(SPARK, "c1")).alias("c2"))
    bad = twice.where(F.col("c1") != F.col("c2")).collect()
    assert not bad, bad[:5]
