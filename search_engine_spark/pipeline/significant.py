"""Significant terms — what is DISTINCTIVE about a query's match set.

The Elasticsearch ``significant_terms`` aggregation (public JLH scoring
semantics) over the transcripts engine: for every term appearing in the
matched turns, compare its foreground document frequency (share of
matched turns containing it) against its background document frequency
(share of the whole corpus, from the index's persisted idf table) and
rank by

    jlh = (fg_pct - bg_pct) * (fg_pct / bg_pct),   fg_pct > bg_pct

— the "surprise times impact" product ES documents for JLH.  The
reference has no analog; transcript users ask exactly this ("what terms
distinguish the sessions that matched 'timeout'?").

Plan shape (and why it scales): the match set is query-bounded
(``index.matches`` — the same O(matches) set every paginated request
already counts), the foreground pass joins it back to the transcripts
with a key semi-join (AQE broadcasts the small side) and tokenizes ONLY
the matched turns in one Arrow ``mapInPandas`` pass — O(matched text),
NOT a corpus scan; background frequencies come from the one-row-per-term
idf table (no postings decode).  The alternative — counting matched
docs inside every term's posting list — would scan the ENTIRE index per
request; tokenizing the match set is strictly cheaper whenever the match
set is smaller than the corpus, i.e. always.  Final cut is a
TakeOrderedAndProject on (score desc, term asc).

Query terms themselves are excluded by default (they are trivially
significant — fg_pct = 1 for conjunctive terms); ``include_query_terms``
restores the raw ES behavior.
"""

from __future__ import annotations

from functools import reduce
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..textproc import analyze_text

RESULT_SCHEMA = "term string, fg long, bg long, score double"


def _distinct_terms_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """text batches → one row per (doc, DISTINCT term): document
    frequency semantics, Arrow-batched, shared stem cache per task."""
    stem_cache: dict[str, str] = {}
    for pdf in batches:
        out: list[str] = []
        for t in pdf["text"]:
            out.extend(
                set(analyze_text(t if isinstance(t, str) else "", _stem_cache=stem_cache))
            )
        yield pd.DataFrame({"term": pd.array(out, dtype="string")})


def significant_terms(
    index,
    transcripts: DataFrame,
    query_text: str,
    mode: str = "disjunctive",
    n: int = 10,
    min_fg: int = 2,
    include_query_terms: bool = False,
    tombstones: list | None = None,
    scope: DataFrame | None = None,
    analyzed: bool = False,
    spec=None,
) -> DataFrame:
    """Top-n distinctive terms of the match set →
    DataFrame(term, fg, bg, score) ordered by (score desc, term asc).

    ``fg`` = matched turns containing the term, ``bg`` = its corpus df;
    JLH score as above.  Oracle: ``oracle.oracle_significant_terms``."""
    from .. import oracle as _o
    from ..index.reader import parse_query

    # persist: the match set is consumed TWICE (fg_total count + the
    # foreground semi-join) — without it each use re-runs the O(postings)
    # match kernel, doubling the dominant cost.  O(matches) keys only;
    # Spark evicts LRU if memory is tight.
    matched = index.matches(
        query_text, mode, tombstones=tombstones, scope=scope, analyzed=analyzed, spec=spec
    ).persist()
    fg_total = matched.count()
    if fg_total == 0:
        matched.unpersist()
        return index.spark.createDataFrame([], RESULT_SCHEMA)
    fg = (
        transcripts.join(matched, ["conv_id", "turn_idx"], "leftsemi")
        .select("text")
        .mapInPandas(_distinct_terms_kernel, schema="term string")
        .groupBy("term")
        .agg(F.count("*").alias("fg"))
        .filter(F.col("fg") >= min_fg)
    )
    if not include_query_terms:
        from ..index.reader import _fetch_terms

        qspec = spec if spec is not None else parse_query(
            query_text, mode, analyzed=analyzed
        )
        if qspec is not None:
            fg = fg.filter(~F.col("term").isin(_fetch_terms(qspec)))
    # background df from the segments' one-row-per-term idf tables
    # (bucket layout cannot prune an unknown term set — this is the table
    # built to pay that scan, same trade as prefix expansion), summed per
    # term (the union-vocabulary contract of fuzzy/prefix expansion);
    # every foreground term is in the vocabulary, so the inner join
    # loses nothing.
    bg = (
        reduce(DataFrame.unionByName, [s._idf.select("term", "df") for s in index.segments])
        .groupBy("term")
        .agg(F.sum("df").alias("bg"))
    )
    n_docs = float(index.n_docs)
    fg_pct = F.col("fg") / F.lit(float(fg_total))
    bg_pct = F.col("bg") / F.lit(n_docs)
    return (
        fg.join(bg, "term")
        .withColumn("score", (fg_pct - bg_pct) * (fg_pct / bg_pct))
        .filter(F.col("score") > 0.0)
        .orderBy(F.desc("score"), "term")
        .limit(n)
        .select("term", "fg", "bg", "score")
    )


def rare_terms(
    index,
    transcripts: DataFrame,
    query_text: str,
    mode: str = "disjunctive",
    max_doc_count: int = 1,
    include_query_terms: bool = False,
    limit: int | None = None,
    tombstones: list | None = None,
    scope: DataFrame | None = None,
    analyzed: bool = False,
    spec=None,
) -> DataFrame:
    """ES ``rare_terms`` over the match set: every term appearing in at
    most ``max_doc_count`` matched turns → DataFrame(term, fg long)
    ordered by (fg asc, term asc) — the long-tail complement of
    ``significant_terms`` ("which unusual tokens show up in sessions
    matching 'timeout'").  Query terms are excluded by default (they
    are in every matched turn by construction under conjunctive mode —
    never rare — and noise under disjunctive).

    Scale shape: identical foreground pass to ``significant_terms`` —
    tokenize ONLY the matched turns in one Arrow ``mapInPandas`` pass
    (O(matched text), never a corpus scan), one hash aggregation on
    term, and an early ``fg <= max_doc_count`` filter that drops the
    head of the Zipf curve BEFORE the ordered cut, so the result is
    tail-sized.  ES caps rare_terms with a CuckooFilter for the same
    reason; the aggregation-side filter is the exact equivalent here.
    No background join — rarity is doc-count-defined, not
    surprise-defined.  Oracle: ``oracle.oracle_rare_terms``."""
    if max_doc_count < 1:
        raise ValueError(f"max_doc_count must be >= 1, got {max_doc_count}")
    if limit is not None and limit <= 0:
        raise ValueError(f"limit must be positive, got {limit}")
    from ..index.reader import parse_query

    matched = index.matches(
        query_text, mode, tombstones=tombstones, scope=scope, analyzed=analyzed, spec=spec
    )
    fg = (
        transcripts.join(matched, ["conv_id", "turn_idx"], "leftsemi")
        .select("text")
        .mapInPandas(_distinct_terms_kernel, schema="term string")
        .groupBy("term")
        .agg(F.count("*").alias("fg"))
        .filter(F.col("fg") <= int(max_doc_count))
    )
    if not include_query_terms:
        from ..index.reader import _fetch_terms

        qspec = spec if spec is not None else parse_query(
            query_text, mode, analyzed=analyzed
        )
        if qspec is not None:
            fg = fg.filter(~F.col("term").isin(_fetch_terms(qspec)))
    out = fg.orderBy(F.asc("fg"), F.asc("term"))
    return out.limit(int(limit)) if limit is not None else out
