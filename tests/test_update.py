"""Turn-level UPDATE paths vs a from-scratch build of the updated corpus.

The reference upserts a re-crawled page in place (``IndexerService.
java:57-68`` ``ON CONFLICT ... DO UPDATE``, driven by ``ReindexController.
java:40-104``).  The Spark-first analogs under test:

* ``extend_index(updates=True)``   — old postings dropped block-wise
  during the merge; stats recomputed; result == fresh build.
* ``ingest_update_segment``        — the delta becomes its own LSM
  segment plus a shadow sidecar; ``MultiIndex`` excludes shadowed docs
  and corrects N/Σdl/df exactly; result == fresh build.
* ``compact_segments``             — folds the supersession physically.

Every comparison is byte-identical rows across all four query modes
(disjunctive / conjunctive / phrase / boolean), plus exact stats.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest

from search_engine_spark.config import BuildConfig
from search_engine_spark.index.build import build_index, load_meta
from search_engine_spark.index.extend import (
    compact_segments,
    extend_index,
    ingest_update_segment,
    read_shadow_keys,
)
from search_engine_spark.index.multi import MultiIndex
from search_engine_spark.index.reader import CompressedIndex

_PROBES = [
    ("term0001 term0002", "disjunctive", 10),
    ("updated special zebra", "disjunctive", 10),
    ("term0003 term0004", "conjunctive", 10),
    ('"phrase alpha beta"', "phrase", 10),
    ('"alpha" AND "beta"', "boolean", 10),
    ('"alpha" NOT "beta"', "boolean", 10),
]


def _rows(index, qt, mode, k):
    return [
        (r.conv_id, r.turn_idx, round(r.score, 9))
        for r in index.topk(qt, mode, k).collect()
    ]


def _assert_matches_fresh(fresh, under_test):
    assert under_test.n_docs == fresh.n_docs
    assert under_test.avgdl == pytest.approx(fresh.avgdl, rel=1e-12)
    for qt, mode, k in _PROBES:
        assert _rows(under_test, qt, mode, k) == _rows(fresh, qt, mode, k), qt


@pytest.fixture(scope="module")
def fresh_updated(spark, corpora, tmp_path_factory):
    """From-scratch build of the UPDATED corpus — the ground truth."""
    _, updated, _ = corpora
    d = str(tmp_path_factory.mktemp("upd_fresh"))
    build_index(spark, spark.createDataFrame(updated), d, BuildConfig(num_groups=2))
    return CompressedIndex(spark, d)


def test_extend_updates_false_still_fails(spark, corpora, base_root, tmp_path):
    _, _, delta = corpora
    with pytest.raises(ValueError, match="already present"):
        extend_index(
            spark, base_root, spark.createDataFrame(delta), str(tmp_path / "out")
        )


def test_extend_with_updates_equals_fresh(
    spark, corpora, base_root, fresh_updated, tmp_path
):
    _, _, delta = corpora
    out = str(tmp_path / "ext")
    extend_index(
        spark, base_root, spark.createDataFrame(delta), out, updates=True
    )
    idx = CompressedIndex(spark, out)
    _assert_matches_fresh(fresh_updated, idx)
    # updated docs kept their doc ids: isomorphism only depends on the
    # genuinely new conversation sorting last (it does: zzz-…)
    assert load_meta(out)["docid_order_isomorphic"] is True


def test_sidecar_names_exactly_the_updated_turns(spark, corpora, update_segment):
    pdf, _, delta = corpora
    base_keys = set(pdf[["conv_id", "turn_idx"]].itertuples(index=False, name=None))
    delta_keys = set(delta[["conv_id", "turn_idx"]].itertuples(index=False, name=None))
    assert set(read_shadow_keys(spark, update_segment)) == delta_keys & base_keys


def test_multiindex_update_equals_fresh(
    spark, base_root, update_segment, fresh_updated
):
    midx = MultiIndex(spark, [base_root, update_segment])
    _assert_matches_fresh(fresh_updated, midx)


def test_multiindex_update_match_count(spark, base_root, update_segment, fresh_updated):
    midx = MultiIndex(spark, [base_root, update_segment])
    for qt, mode, _ in _PROBES:
        assert midx.match_count(qt, mode) == fresh_updated.match_count(qt, mode), qt


def test_multiindex_update_batch(spark, base_root, update_segment, fresh_updated):
    midx = MultiIndex(spark, [base_root, update_segment])
    got = {
        (r.query_id, r.conv_id, r.turn_idx, round(r.score, 9))
        for r in midx.topk_batch(_PROBES).collect()
    }
    want = {
        (r.query_id, r.conv_id, r.turn_idx, round(r.score, 9))
        for r in fresh_updated.topk_batch(_PROBES).collect()
    }
    assert got == want


def test_multiindex_update_plus_tombstones(
    spark, corpora, base_root, update_segment, tmp_path_factory
):
    """User deletions compose with shadow supersession."""
    pdf, updated, _ = corpora
    victim = ("conv-000001", 0)
    midx = MultiIndex(spark, [base_root, update_segment])
    rows = _rows_with_tomb(midx, "term0001 term0002", [victim])
    assert all((c, t) != victim for c, t, _ in rows)


def _rows_with_tomb(index, qt, tombs):
    return [
        (r.conv_id, r.turn_idx, round(r.score, 9))
        for r in index.topk(qt, "disjunctive", 10, tombstones=tombs).collect()
    ]


def test_compaction_folds_update_physically(
    spark, base_root, update_segment, fresh_updated, tmp_path
):
    out = str(tmp_path / "cmp")
    compact_segments(spark, [base_root, update_segment], out)
    idx = CompressedIndex(spark, out)
    _assert_matches_fresh(fresh_updated, idx)
    # physical: idf tables agree term-for-term with the fresh build
    got = {
        (r.term, r.df)
        for r in idx.spark.read.parquet(idx.paths.idf).select("term", "df").collect()
    }
    want = {
        (r.term, r.df)
        for r in fresh_updated.spark.read.parquet(fresh_updated.paths.idf)
        .select("term", "df")
        .collect()
    }
    assert got == want
    assert not os.path.exists(os.path.join(out, "shadows"))


def test_chained_updates(spark, corpora, base_root, tmp_path_factory):
    """Update the SAME turn twice across two segments: the second
    sidecar must count only the live middle version, and MultiIndex
    over the chain must equal a fresh build of the final corpus."""
    pdf, _, _ = corpora
    key = ("conv-000002", 1)
    v2 = pd.DataFrame(
        {"conv_id": [key[0]], "turn_idx": [key[1]],
         "text": ["second version gamma delta zebra"]}
    )
    v3 = pd.DataFrame(
        {"conv_id": [key[0]], "turn_idx": [key[1]],
         "text": ["third version epsilon zebra term0001"]}
    )
    seg1 = str(tmp_path_factory.mktemp("chain_s1"))
    ingest_update_segment(spark, [base_root], spark.createDataFrame(v2), seg1)
    seg2 = str(tmp_path_factory.mktemp("chain_s2"))
    ingest_update_segment(
        spark, [base_root, seg1], spark.createDataFrame(v3), seg2
    )
    final = pdf.copy()
    m = (final.conv_id == key[0]) & (final.turn_idx == key[1])
    final.loc[m, "text"] = v3["text"].iloc[0]
    d = str(tmp_path_factory.mktemp("chain_fresh"))
    build_index(spark, spark.createDataFrame(final), d, BuildConfig(num_groups=2))
    fresh = CompressedIndex(spark, d)
    midx = MultiIndex(spark, [base_root, seg1, seg2])
    _assert_matches_fresh(fresh, midx)
    # and the physical fold of the whole chain
    out = str(tmp_path_factory.mktemp("chain_cmp"))
    compact_segments(spark, [base_root, seg1, seg2], out)
    _assert_matches_fresh(fresh, CompressedIndex(spark, out))
