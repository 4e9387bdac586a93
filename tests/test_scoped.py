"""Scoped (metadata-filtered) search + facet counts vs the pure-Python
oracle.

Scope semantics: a structured predicate over the corpus METADATA
(role / tool / ts range) restricts the RESULT set; BM25 scores keep the
corpus-global statistics — the Lucene/Elasticsearch filter-context
contract (filters never affect ranking).  The reference engine exposes
no metadata filters (its corpus is web pages); this is the transcripts
payload's natural extension, verified against the independent oracle
(oracle.py oracle_topk/oracle_matches/oracle_facet_counts with the same
scope applied as a doc-key set).
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from search_engine_spark.config import BuildConfig
from search_engine_spark.corpus import generate_transcripts
from search_engine_spark.index.build import build_index
from search_engine_spark.index.multi import MultiIndex
from search_engine_spark.index.reader import CompressedIndex
from search_engine_spark.oracle import (
    build_oracle_index,
    oracle_facet_counts,
    oracle_match_count,
    oracle_matches,
    oracle_topk,
)

_MODES = [
    ("term0001 term0002", "disjunctive"),
    ("term0003 term0004", "conjunctive"),
    ('"phrase alpha beta"', "phrase"),
    ('"term0001" OR "term0002"', "boolean"),
    ('"term0001" AND "term0002"', "boolean"),
    ('"term0001" NOT "term0002"', "boolean"),
]


@pytest.fixture(scope="module")
def xs_pdf():
    return generate_transcripts("xs")


@pytest.fixture(scope="module")
def xs_df(spark, xs_pdf):
    """Full-shape corpus DataFrame (role/tool/ts included) — the
    metadata table scoped queries filter."""
    return spark.createDataFrame(xs_pdf).cache()


@pytest.fixture(scope="module")
def xs_index(spark, xs_df, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("scoped") / "idx")
    build_index(spark, xs_df, out, BuildConfig(num_groups=2))
    return CompressedIndex(spark, out)


@pytest.fixture(scope="module")
def xs_oracle(xs_pdf):
    return build_oracle_index(xs_pdf)


def _keys(pdf: pd.DataFrame) -> set:
    return set(zip(pdf.conv_id, pdf.turn_idx))


def _rows(df) -> list[tuple]:
    return [(r.conv_id, r.turn_idx, round(r.score, 9)) for r in df.collect()]


def _want(oracle, q, mode, k, scope) -> list[tuple]:
    return [(c, t, round(s, 9)) for (c, t), s in oracle_topk(oracle, q, mode, k, scope=scope)]


# ---------------------------------------------------------------- topk


def test_scoped_topk_all_modes_role_filter(xs_index, xs_df, xs_pdf, xs_oracle):
    scope_df = xs_df.filter("role = 'assistant'")
    scope = _keys(xs_pdf[xs_pdf.role == "assistant"])
    for q, mode in _MODES:
        got = _rows(xs_index.topk(q, mode, 10, scope=scope_df))
        assert got == _want(xs_oracle, q, mode, 10, scope), (q, mode)


def test_scoped_topk_ts_range_filter(xs_index, xs_df, xs_pdf, xs_oracle):
    """Temporal scoping: ts predicate pushed to the metadata scan."""
    cut = xs_pdf.ts.median()
    scope_df = xs_df.filter(F.col("ts") > F.lit(cut))
    scope = _keys(xs_pdf[xs_pdf.ts > cut])
    q, mode = "term0001 term0002", "disjunctive"
    got = _rows(xs_index.topk(q, mode, 10, scope=scope_df))
    assert got == _want(xs_oracle, q, mode, 10, scope)


def test_full_scope_is_identity(xs_index, xs_df):
    for q, mode in _MODES[:3]:
        unscoped = _rows(xs_index.topk(q, mode, 10))
        scoped = _rows(xs_index.topk(q, mode, 10, scope=xs_df))
        assert scoped == unscoped, (q, mode)


def test_empty_scope_returns_nothing(xs_index, xs_df):
    got = xs_index.topk("term0001 term0002", "disjunctive", 10,
                        scope=xs_df.filter("false")).collect()
    assert got == []
    assert xs_index.match_count("term0001 term0002", scope=xs_df.filter("false")) == 0


def test_scope_keys_outside_corpus_are_ignored(spark, xs_index, xs_df):
    """Scope rows naming unknown conversations/turns resolve to nothing
    (inner join against convs) instead of corrupting doc ids."""
    junk = spark.createDataFrame(
        [("conv-999999", 0), ("conv-000000", 99999)], "conv_id string, turn_idx int"
    )
    scope_df = xs_df.select("conv_id", "turn_idx").unionByName(junk)
    got = _rows(xs_index.topk("term0001 term0002", "disjunctive", 10, scope=scope_df))
    assert got == _rows(xs_index.topk("term0001 term0002", "disjunctive", 10))


def test_scoped_with_tombstones(xs_index, xs_df, xs_pdf, xs_oracle):
    """Scope ∩ tombstones: deletions exclude on top of the filter."""
    dead = "conv-000003"
    scope_df = xs_df.filter("role = 'assistant'")
    scope = {
        k for k in _keys(xs_pdf[xs_pdf.role == "assistant"]) if k[0] != dead
    }
    q, mode = "term0001 term0002", "disjunctive"
    got = _rows(xs_index.topk(q, mode, 10, tombstones=[dead], scope=scope_df))
    assert got == _want(xs_oracle, q, mode, 10, scope)
    assert xs_index.match_count(q, mode, tombstones=[dead], scope=scope_df) == \
        oracle_match_count(xs_oracle, q, mode, scope=scope)


def test_wand_rejects_scope(xs_index, xs_df):
    with pytest.raises(ValueError, match="wand"):
        xs_index.topk("term0001", "disjunctive", 10, algo="wand", scope=xs_df)
    with pytest.raises(ValueError, match="wand"):
        xs_index.topk_batch([("term0001", "disjunctive")], algo="wand", scope=xs_df)


# ------------------------------------------------------ counts / facets


def test_scoped_match_count_all_modes(xs_index, xs_df, xs_pdf, xs_oracle):
    scope_df = xs_df.filter("role = 'user'")
    scope = _keys(xs_pdf[xs_pdf.role == "user"])
    for q, mode in _MODES:
        got = xs_index.match_count(q, mode, scope=scope_df)
        assert got == oracle_match_count(xs_oracle, q, mode, scope=scope), (q, mode)


def test_matches_set_equals_oracle(xs_index, xs_df, xs_pdf, xs_oracle):
    scope_df = xs_df.filter("role = 'tool'")
    scope = _keys(xs_pdf[xs_pdf.role == "tool"])
    for q, mode in _MODES[:4]:
        got = {(r.conv_id, r.turn_idx) for r in xs_index.matches(q, mode).collect()}
        assert got == oracle_matches(xs_oracle, q, mode), (q, mode)
        got_s = {
            (r.conv_id, r.turn_idx)
            for r in xs_index.matches(q, mode, scope=scope_df).collect()
        }
        assert got_s == oracle_matches(xs_oracle, q, mode, scope=scope), (q, mode)


def test_facet_counts_by_role(xs_index, xs_df, xs_pdf, xs_oracle):
    facet = dict(zip(zip(xs_pdf.conv_id, xs_pdf.turn_idx), xs_pdf.role))
    for q, mode in _MODES[:4]:
        got = {r["role"]: r["n"] for r in
               xs_index.facet_counts(q, xs_df, "role", mode).collect()}
        assert got == oracle_facet_counts(xs_oracle, q, mode, facet), (q, mode)


def test_facet_counts_by_derived_day_with_scope(xs_index, xs_df, xs_pdf, xs_oracle):
    """Computed facet (calendar day from ts) under a role scope — the
    'histogram of matches by day, user turns only' dashboard query."""
    meta = xs_df.withColumn("day", F.to_date("ts").cast("string"))
    scope_df = xs_df.filter("role = 'user'")
    scope = _keys(xs_pdf[xs_pdf.role == "user"])
    facet = dict(
        zip(zip(xs_pdf.conv_id, xs_pdf.turn_idx), xs_pdf.ts.dt.strftime("%Y-%m-%d"))
    )
    q = "term0001 term0002"
    got = {r["day"]: r["n"] for r in
           xs_index.facet_counts(q, meta, "day", scope=scope_df).collect()}
    assert got == oracle_facet_counts(xs_oracle, q, "disjunctive", facet, scope=scope)


# ------------------------------------------------------------- batch


def test_scoped_batch_equals_per_query(xs_index, xs_df):
    queries = [(q, m, 5) for q, m in _MODES[:4]]
    scope_df = xs_df.filter("role = 'assistant'")
    batch = xs_index.topk_batch(queries, scope=scope_df).collect()
    got = {}
    for r in batch:
        got.setdefault(r.query_id, []).append((r.conv_id, r.turn_idx, round(r.score, 9)))
    for qid, (q, m, kk) in enumerate(queries):
        want = _rows(xs_index.topk(q, m, kk, scope=scope_df))
        assert got.get(qid, []) == want, (q, m)


# --------------------------------------------------------- MultiIndex


@pytest.fixture(scope="module")
def segments(spark, xs_pdf, tmp_path_factory):
    d = tmp_path_factory.mktemp("scoped_multi")
    a = xs_pdf[xs_pdf.conv_id < "conv-000010"]
    b = xs_pdf[xs_pdf.conv_id >= "conv-000010"]
    roots = []
    for name, part in (("a", a), ("b", b)):
        out = str(d / name)
        build_index(spark, spark.createDataFrame(part), out, BuildConfig(num_groups=2))
        roots.append(out)
    return roots


def test_multi_scoped_matches_single(spark, segments, xs_index, xs_df):
    multi = MultiIndex(spark, segments)
    scope_df = xs_df.filter("role = 'assistant'")
    for q, mode in _MODES[:4]:
        assert _rows(multi.topk(q, mode, 10, scope=scope_df)) == \
            _rows(xs_index.topk(q, mode, 10, scope=scope_df)), (q, mode)
        assert multi.match_count(q, mode, scope=scope_df) == \
            xs_index.match_count(q, mode, scope=scope_df), (q, mode)
    got = {r["role"]: r["n"] for r in
           multi.facet_counts("term0001 term0002", xs_df, "role").collect()}
    want = {r["role"]: r["n"] for r in
            xs_index.facet_counts("term0001 term0002", xs_df, "role").collect()}
    assert got == want
    with pytest.raises(ValueError, match="wand"):
        multi.topk("term0001", "disjunctive", 10, algo="wand", scope=scope_df)


def test_multi_scoped_batch_equals_per_query(spark, segments, xs_df):
    multi = MultiIndex(spark, segments)
    queries = [(q, m, 5) for q, m in _MODES[:3]]
    scope_df = xs_df.filter("role = 'user'")
    batch = multi.topk_batch(queries, scope=scope_df).collect()
    got = {}
    for r in batch:
        got.setdefault(r.query_id, []).append((r.conv_id, r.turn_idx, round(r.score, 9)))
    for qid, (q, m, kk) in enumerate(queries):
        assert got.get(qid, []) == _rows(multi.topk(q, m, kk, scope=scope_df)), (q, m)
