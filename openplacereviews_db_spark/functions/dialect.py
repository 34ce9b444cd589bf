"""The two SQL dialects every cross-engine helper in ``functions/`` writes.

Each helper is written once, as ``helper(d, *sql_args) -> str``: Spark
plans parse it with ``F.expr(helper(SPARK, ...))`` and the DuckDB oracles
splice ``helper(DUCKDB, ...)`` into their SQL text.  The places where the
two engines spell or mean the same thing differently live here and
nowhere else:

- array higher-order functions: ``transform`` / ``filter`` /
  ``array_sort`` / ``slice`` / ``size`` vs ``list_transform`` /
  ``list_filter`` / ``list_sort`` / ``list_slice`` / ``len``, and
  ``forall`` / ``exists``, which DuckDB lacks: a count of
  ``list_filter`` matches would drop Spark's NULL answers, so DuckDB
  scores each predicate instead;
- regex splitting: ``split`` vs ``regexp_split_to_array``;
- ``regexp_replace``: Spark always replaces every match and writes a
  backreference as ``$1``; DuckDB needs the ``'g'`` flag and ``\\1``;
- regex classes: Java ``\\s`` also matches the vertical tab, RE2's
  does not; Java ``\\p{Punct}`` is RE2 ``[:punct:]``;
- ``levenshtein`` counts characters on Spark, UTF-8 bytes on DuckDB;
- ``concat_ws`` over an all-NULL array is ``''``, DuckDB's
  ``array_to_string`` is NULL;
- ``trim``: Spark strips only the space character, DuckDB also strips
  Unicode spaces such as U+00A0;
- string literals: the Spark parser halves backslashes and escapes a
  quote as ``\\'``, DuckDB takes backslashes verbatim and doubles the
  quote;
- double literals: a plain ``1.5`` is DECIMAL on both engines
  (``1.5D`` on Spark, ``CAST(1.5 AS DOUBLE)`` on DuckDB).
"""

from __future__ import annotations

import re
from dataclasses import dataclass


@dataclass(frozen=True)
class Dialect:
    name: str

    @property
    def spark(self) -> bool:
        return self.name == "spark"

    # --- literals ---------------------------------------------------------

    def lit(self, s: str) -> str:
        """``s`` as a string literal that parses back to ``s``."""
        if self.spark:
            return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
        return "'" + s.replace("'", "''") + "'"

    def dbl(self, x: float) -> str:
        """``x`` as a DOUBLE literal (``repr`` round-trips exactly)."""
        return f"{x!r}D" if self.spark else f"CAST({x!r} AS DOUBLE)"

    # --- arrays -----------------------------------------------------------

    def transform(self, arr: str, var: str, body: str) -> str:
        fn = "transform" if self.spark else "list_transform"
        return f"{fn}({arr}, {var} -> {body})"

    def filter(self, arr: str, var: str, pred: str) -> str:
        fn = "filter" if self.spark else "list_filter"
        return f"{fn}({arr}, {var} -> {pred})"

    def exists(self, arr: str, var: str, pred: str) -> str:
        if self.spark:
            return f"exists({arr}, {var} -> {pred})"
        return self._three_valued("list_max", 0, arr, var, pred)

    def forall(self, arr: str, var: str, pred: str) -> str:
        if self.spark:
            return f"forall({arr}, {var} -> {pred})"
        return self._three_valued("list_min", 2, arr, var, pred)

    @staticmethod
    def _three_valued(agg: str, empty: int, arr: str, var: str,
                      pred: str) -> str:
        """Spark's three-valued exists/forall on DuckDB: each predicate
        is scored false 0 / NULL 1 / true 2, and the max (exists) or min
        (forall) score picks the answer — NULL while an undecided NULL
        remains.  An empty array scores ``empty``; a NULL one stays NULL
        (``len(NULL) * 0``, evaluated only when the aggregate is NULL)."""
        score = f"coalesce(CAST(({pred}) AS INTEGER) * 2, 1)"
        return (f"[false, NULL, true][coalesce({agg}(list_transform("
                f"{arr}, {var} -> {score})), len({arr}) * 0 + {empty}) + 1]")

    def array_sort(self, arr: str) -> str:
        return f"array_sort({arr})" if self.spark else f"list_sort({arr})"

    def size(self, arr: str) -> str:
        return f"size({arr})" if self.spark else f"len({arr})"

    def array(self, *items: str) -> str:
        body = ", ".join(items)
        return f"array({body})" if self.spark else f"[{body}]"

    def string_array(self, arr: str) -> str:
        """``arr`` cast element-wise to strings (decimal text for ints)."""
        t = "ARRAY<STRING>" if self.spark else "VARCHAR[]"
        return f"CAST({arr} AS {t})"

    def join(self, arr: str, sep: str) -> str:
        """Elements joined by ``sep``; NULL elements are skipped."""
        if self.spark:
            return f"concat_ws({self.lit(sep)}, {arr})"
        return f"coalesce(array_to_string({arr}, {self.lit(sep)}), '')"

    def slice(self, arr: str, start: int, length: int) -> str:
        """1-based ``length`` elements from ``start``."""
        if self.spark:
            return f"slice({arr}, {start}, {length})"
        return f"list_slice({arr}, {start}, {start + length - 1})"

    # --- integers, bytes and text ----------------------------------------

    def shift_left(self, x: str, n: int) -> str:
        return f"shiftleft({x}, {n})" if self.spark else f"({x} << {n})"

    def shift_right(self, x: str, n: int) -> str:
        """Arithmetic shift: sign bits fill in on both engines."""
        return f"shiftright({x}, {n})" if self.spark else f"({x} >> {n})"

    def pmod(self, x: str, m: str) -> str:
        if self.spark:
            return f"pmod({x}, {m})"
        return f"((({x}) % {m} + {m}) % {m})"

    def hex_to_bigint(self, h: str) -> str:
        """Hex digit text (at most 15 digits) as a BIGINT."""
        if self.spark:
            return f"CAST(conv({h}, 16, 10) AS BIGINT)"
        return f"CAST('0x' || {h} AS BIGINT)"

    def utf8_encode(self, s: str) -> str:
        return f"encode({s}, 'UTF-8')" if self.spark else f"encode({s})"

    def utf8_decode(self, b: str) -> str:
        return f"decode({b}, 'UTF-8')" if self.spark else f"decode({b})"

    # --- strings and regexes ---------------------------------------------

    def trim(self, s: str) -> str:
        """Strip leading/trailing space characters (U+0020 only)."""
        return f"trim({s})" if self.spark else f"trim({s}, ' ')"

    def levenshtein(self, a: str, b: str) -> str:
        """Edit distance in characters (code points)."""
        if self.spark:
            return f"levenshtein({a}, {b})"
        # DuckDB counts UTF-8 bytes.  Pure-ASCII pairs (bytes == chars)
        # take it as is; others renumber the pair's characters as
        # one-byte chr(1..127) first (words hold far fewer distinct
        # ones) — 27x slower on ASCII names, so only where needed.
        chars = f"list_sort(list_distinct(string_split({a} || {b}, '')))"

        def one_byte(x: str) -> str:
            return (f"(CASE WHEN {x} = '' THEN '' ELSE array_to_string("
                    f"list_transform(string_split({x}, ''), "
                    f"c -> chr(list_position({chars}, c))), '') END)")
        return (f"(CASE WHEN strlen({a} || {b}) = length({a} || {b}) "
                f"THEN levenshtein({a}, {b}) "
                f"ELSE levenshtein({one_byte(a)}, {one_byte(b)}) END)")

    def regex(self, pattern: str) -> str:
        """A Java-flavoured pattern as this engine's regex literal."""
        if not self.spark:
            pattern = (pattern.replace(r"\s", r"[\s\x0B]")
                       .replace(r"\p{Punct}", "[:punct:]"))
        return self.lit(pattern)

    def split(self, s: str, pattern: str) -> str:
        fn = "split" if self.spark else "regexp_split_to_array"
        return f"{fn}({s}, {self.regex(pattern)})"

    def regexp_replace(self, s: str, pattern: str, repl: str) -> str:
        """Replace every match; ``repl`` writes backreferences as ``$1``."""
        args = f"{s}, {self.regex(pattern)}"
        if self.spark:
            return f"regexp_replace({args}, {self.lit(repl)})"
        repl = re.sub(r"\$(\d)", r"\\\1", repl)
        return f"regexp_replace({args}, {self.lit(repl)}, 'g')"


SPARK = Dialect("spark")
DUCKDB = Dialect("duckdb")
