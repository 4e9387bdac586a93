"""Skew/salting test (SURVEY.md §5.2 item 5): the Zipf head terms of the
sm corpus are merged under G=8 salted reducers vs a single unsalted
reducer (G=1) — query results must be identical, proving the doc-range
salt changes only the physical distribution, never the postings."""

from __future__ import annotations

import pytest

from search_engine_spark.config import BuildConfig
from search_engine_spark.corpus import REFERENCE_QUERIES
from search_engine_spark.index import reader
from search_engine_spark.index.build import build_index
from search_engine_spark.index.reader import CompressedIndex


@pytest.fixture(scope="module")
def salted_and_unsalted(spark, sm_parquet, tmp_path_factory):
    """The salted merge is the Spark plan's shuffle, so both builds are
    forced onto it (the sm input would otherwise be indexed on the
    driver, see tests/test_local_build.py)."""
    base = tmp_path_factory.mktemp("salt")
    tr = spark.read.parquet(sm_parquet)
    out = {}
    with pytest.MonkeyPatch.context() as m:
        m.setattr(reader, "LOCAL_BUDGET_BYTES", -1)
        for g in (1, 8):
            d = str(base / f"g{g}")
            build_index(spark, tr, d, BuildConfig(num_groups=g))
            out[g] = CompressedIndex(spark, d)
    return out


def test_salted_merge_statistics_identical(salted_and_unsalted):
    a, b = salted_and_unsalted[1], salted_and_unsalted[8]
    assert a.n_docs == b.n_docs
    assert a.avgdl == b.avgdl
    # head-term df identical regardless of salting
    for t in ("term0000", "term0001", "world"):
        assert a.idf_map([t]) == b.idf_map([t])


@pytest.mark.parametrize("qid", [0, 1, 5, 13, 17, 20, 27, 29], ids=lambda i: f"q{i}")
def test_salted_queries_identical(salted_and_unsalted, qid):
    q = REFERENCE_QUERIES[qid]
    a = salted_and_unsalted[1].topk(q["query_text"], q["mode"], q["k"]).collect()
    b = salted_and_unsalted[8].topk(q["query_text"], q["mode"], q["k"]).collect()
    assert [(r["conv_id"], r["turn_idx"], r["score"]) for r in a] == [
        (r["conv_id"], r["turn_idx"], r["score"]) for r in b
    ]


def test_head_term_spread_across_groups(salted_and_unsalted):
    """The salt actually spreads the head term: its postings appear in
    every group under G=8 (Zipf head term occurs in most conversations)."""
    idx = salted_and_unsalted[8]
    pdf = idx.postings_df(["term0000"]).toPandas()
    assert set(pdf["group"].unique()) == set(range(8))
