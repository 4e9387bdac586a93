"""Proximity rerank tests."""

from __future__ import annotations

import numpy as np
import pytest

from search_engine_spark.operators.proximity import (
    min_pair_distance,
    proximity_boost,
    rerank_with_proximity,
)


def test_min_pair_distance_basic():
    assert min_pair_distance([np.array([1, 10]), np.array([4])]) == 3
    assert min_pair_distance([np.array([1]), np.array([2]), np.array([50])]) == 1
    assert min_pair_distance([np.array([5])]) is None
    assert min_pair_distance([np.array([5]), None]) is None
    assert min_pair_distance([np.array([7]), np.array([7])]) == 0


def test_proximity_tiers():
    # QueryService.java:1427-1438 ladder
    assert proximity_boost(0) == 2.0
    assert proximity_boost(3) == 2.0
    assert proximity_boost(4) == 1.0
    assert proximity_boost(10) == 1.0
    assert proximity_boost(11) == 0.5
    assert proximity_boost(50) == 0.5
    assert proximity_boost(51) == 0.0
    assert proximity_boost(None) == 0.0


@pytest.fixture(scope="module")
def built(spark, sm_parquet, tmp_path_factory):
    from search_engine_spark.config import BuildConfig
    from search_engine_spark.index.build import build_index
    from search_engine_spark.index.reader import CompressedIndex

    out = str(tmp_path_factory.mktemp("pidx") / "sm")
    build_index(
        spark, spark.read.parquet(sm_parquet), out, BuildConfig(num_groups=2)
    )
    return CompressedIndex(spark, out)


def test_rerank_with_proximity(built, sm_oracle):
    out = rerank_with_proximity(built, "term0001 term0002", k=10)
    assert len(out) == 10
    for conv, turn, base, dist, boosted in out:
        # boost consistent with the tier ladder
        assert boosted == pytest.approx(base + proximity_boost(dist), abs=1e-12)
        # verify distance against oracle token positions
        toks = sm_oracle.tokens[(conv, turn)]
        p1 = [i for i, t in enumerate(toks) if t == "term0001"]
        p2 = [i for i, t in enumerate(toks) if t == "term0002"]
        want = min((abs(a - b) for a in p1 for b in p2), default=None)
        assert dist == want
    # sorted by boosted desc
    bs = [b for *_x, b in out]
    assert bs == sorted(bs, reverse=True)



def test_rerank_on_one_segment_live_index(spark, built):
    """A live reader over one root reranks like the single index: the
    candidates' ranks come from that segment's conv lookup."""
    from search_engine_spark.index.multi import MultiIndex

    live = MultiIndex(spark, [built.paths.root])
    assert rerank_with_proximity(live, "term0001 term0002", k=10) == \
        rerank_with_proximity(built, "term0001 term0002", k=10)


def test_rerank_rejects_segmented_reader(spark, three_segments):
    """Doc ids are segment-local, so a reader over several segments must
    be compacted before a proximity rerank."""
    from search_engine_spark.index.multi import MultiIndex

    with pytest.raises(ValueError, match="compact"):
        rerank_with_proximity(MultiIndex(spark, three_segments), "term0001 term0002", k=5)
