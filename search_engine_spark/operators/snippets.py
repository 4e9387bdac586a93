"""Result snippets — the reference's snippet generator analog
(QueryService.java:1102-1257: find first query-term occurrence, extract a
window around it, ellipsize).

Pure built-in expressions: `locate` on the lowercased text for each query
term, `least` of the hit positions, `substring` window, conditional
ellipses.  Deterministic and cross-engine (DuckDB twin in the contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

WIDTH = 60  # characters on each side of the first hit


def _sql_string(s: str) -> str:
    """A Spark SQL string literal (backslash escapes are on by default)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def first_hit_sql(terms: list[str]) -> str:
    """1-based position of the earliest query-term occurrence (0 = none),
    as one Spark SQL expression over ``text``."""
    big = 1 << 30
    # min over non-zero positions: replace 0 (miss) with a sentinel
    hits = [
        f"CASE WHEN locate({q}, lower(text)) = 0 THEN {big} ELSE locate({q}, lower(text)) END"
        for q in map(_sql_string, sorted(set(terms)))
    ]
    pos = f"least({', '.join(hits)})" if len(hits) > 1 else hits[0]
    return f"CASE WHEN {pos} = {big} THEN 0 ELSE {pos} END"


def snippets(
    docs: DataFrame,
    terms: list[str],
    width: int = WIDTH,
    key_cols: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """(*key_cols, hit_pos, snippet) for docs containing ≥1 query term.

    snippet = text[max(1, pos-width) : pos+width] with '...' markers when
    truncated on either side.  ``key_cols`` lets callers keyed by
    (conv_id, turn_idx) reuse the same expressions.  The expressions are
    written as SQL text, so building them takes about 20 calls into the
    JVM where one call per column operation took about 400.
    """
    keys = ["`" + c.replace("`", "``") + "`" for c in key_cols]
    width = int(width)
    d = docs.selectExpr(*keys, "text", f"{first_hit_sql(terms)} AS hit_pos").filter("hit_pos > 0")
    start = f"greatest(hit_pos - {width}, 1)"
    return d.selectExpr(
        *keys,
        "hit_pos",
        f"concat(CASE WHEN {start} > 1 THEN '...' ELSE '' END, "
        f"substring(text, {start}, {2 * width}), "
        f"CASE WHEN ({start} + {2 * width} - 1) < length(text) THEN '...' ELSE '' END) AS snippet",
    )


def snippets_sql(table: str, terms: list[str], width: int = WIDTH) -> str:
    """DuckDB twin of :func:`snippets` (strpos == locate, 1-based)."""
    uniq = sorted(set(terms))
    hit_exprs = ", ".join(
        f"CASE WHEN strpos(lower(text), '{t}') = 0 THEN 1073741824 "
        f"ELSE strpos(lower(text), '{t}') END" for t in uniq
    )
    least = f"least({hit_exprs})" if len(uniq) > 1 else hit_exprs
    return f"""
WITH h AS (
  SELECT doc_id, text,
         CASE WHEN {least} = 1073741824 THEN 0 ELSE {least} END AS hit_pos
  FROM {table}
)
SELECT doc_id, hit_pos,
       (CASE WHEN greatest(hit_pos - {width}, 1) > 1 THEN '...' ELSE '' END)
       || substr(text, greatest(hit_pos - {width}, 1), {2 * width})
       || (CASE WHEN greatest(hit_pos - {width}, 1) + {2 * width} - 1 < length(text)
                THEN '...' ELSE '' END) AS snippet
FROM h WHERE hit_pos > 0
"""
