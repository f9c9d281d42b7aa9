"""Tiny dual-dialect SQL fragment builder (Spark SQL / DuckDB).

The corpus derivation (corpus/derive.py) and the DuckDB oracles of the
driver queries (entryqueries.py) spell the same hash-derived expressions
in both engines; the Spark spellings build the derived documents and a
few operator inputs.  Only a handful of primitives differ between the
engines:

    array literal      array('a','b')        vs  ['a','b']
    1-based indexing   element_at(a, i)      vs  list_element(a, i)
    integer division   a div b               vs  a // b
    regexp_extract_all regexp_extract_all(s, p, 0)  vs  regexp_extract_all(s, p)
    60-bit md5 hash    conv(substring(md5(x),1,15),16,10)
                       vs CAST(('0x'||substr(md5(x),1,15)) AS BIGINT)

Regex patterns avoid backslashes entirely (char-class escaping, e.g.
``[.]``): Spark SQL string literals are C-escaped while DuckDB's are not,
so any ``\\.`` would silently diverge.
"""

from __future__ import annotations

from dataclasses import dataclass


def rx_escape(literal: str) -> str:
    """Escape a literal for use inside a regex, without backslashes.

    ``^`` and ``]`` cannot be char-class-escaped this way (``[^]`` /
    ``[]]`` are invalid or engine-divergent) and ``\\`` would need the
    very backslash this scheme avoids — fail loudly at SQL-generation
    time rather than diverge silently at query time (ADVICE r01)."""
    out = []
    for ch in literal:
        if ch.isalnum() or ch in " _'":
            out.append(ch)
        elif ch in "^]\\":
            raise ValueError(
                f"rx_escape cannot represent {ch!r} portably; "
                f"extend the escaping scheme before using it in vocabulary")
        else:
            out.append(f"[{ch}]")
    return "".join(out)


def sql_quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


@dataclass(frozen=True)
class Dialect:
    name: str

    @property
    def is_spark(self) -> bool:
        return self.name == "spark"

    def arr(self, items: list[str]) -> str:
        lits = ", ".join(sql_quote(i) for i in items)
        return f"array({lits})" if self.is_spark else f"[{lits}]"

    def elem(self, arr_sql: str, idx_sql: str) -> str:
        """1-based element access."""
        fn = "element_at" if self.is_spark else "list_element"
        return f"{fn}({arr_sql}, {idx_sql})"

    def intdiv(self, a: str, b: str) -> str:
        return f"({a} div {b})" if self.is_spark else f"({a} // {b})"

    def h60(self, expr: str) -> str:
        """60-bit md5 hash of a string expression (hashing.h60 twin)."""
        if self.is_spark:
            return f"cast(conv(substring(md5({expr}), 1, 15), 16, 10) as bigint)"
        return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"

    def rx_all(self, text: str, pattern: str) -> str:
        if self.is_spark:
            return f"regexp_extract_all({text}, {sql_quote(pattern)}, 0)"
        return f"regexp_extract_all({text}, {sql_quote(pattern)})"

    def arr_len(self, arr_sql: str) -> str:
        return f"size({arr_sql})" if self.is_spark else f"len({arr_sql})"

    def str_agg_distinct(self, expr: str, sep: str = ",") -> str:
        """Deterministic sorted distinct string aggregation."""
        if self.is_spark:
            return f"concat_ws({sql_quote(sep)}, array_sort(collect_set({expr})))"
        return f"string_agg(DISTINCT {expr}, {sql_quote(sep)} ORDER BY {expr})"

    def double(self, expr: str) -> str:
        return f"cast({expr} as double)"


SPARK = Dialect("spark")
DUCK = Dialect("duckdb")
