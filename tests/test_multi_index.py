"""LSM read path (index/multi.py): MultiIndex over disjoint segments
must answer every query identically to one index built over the union.

Segments are plain ``build_index`` outputs over delta slices — the
O(delta) ingest unit; ``extend_index`` is the compaction that folds them
back into one root (tested in test_incremental.py).
"""

from __future__ import annotations

import pandas as pd
import pytest

from search_engine_spark.config import BuildConfig
from search_engine_spark.corpus import REFERENCE_QUERIES, generate_transcripts
from search_engine_spark.index.build import build_index
from search_engine_spark.index.multi import MultiIndex
from search_engine_spark.index.reader import CompressedIndex

_PROBE_QUERIES = [REFERENCE_QUERIES[i] for i in (0, 1, 2, 3, 7)] + [
    {"query_text": '"phrase alpha beta"', "mode": "phrase", "k": 10},
    {"query_text": '"term0001 term0002"~2', "mode": "phrase", "k": 10},
    {"query_text": '"alpha" AND "beta"', "mode": "boolean", "k": 10},
    {"query_text": '"alpha" NOT "beta"', "mode": "boolean", "k": 10},
]


def _rows(index, q: dict) -> list[tuple]:
    return [
        (r.conv_id, r.turn_idx, round(r.score, 9))
        for r in index.topk(q["query_text"], q["mode"], q.get("k", 10)).collect()
    ]


def _spark_df(spark, pdf: pd.DataFrame):
    return spark.createDataFrame(pdf[["conv_id", "turn_idx", "text"]])


@pytest.fixture(scope="module")
def xs_pdf():
    return generate_transcripts("xs")


@pytest.fixture(scope="module")
def xs_full_index(spark, xs_pdf, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("multi") / "full")
    build_index(spark, _spark_df(spark, xs_pdf), out, BuildConfig(num_groups=2))
    return CompressedIndex(spark, out)


def test_single_segment_matches_compressed_index(spark, xs_full_index):
    multi = MultiIndex(spark, [xs_full_index.paths.root])
    assert multi.n_docs == xs_full_index.n_docs
    assert multi.avgdl == pytest.approx(xs_full_index.avgdl, rel=0, abs=0)
    for q in _PROBE_QUERIES:
        assert _rows(multi, q) == _rows(xs_full_index, q), q["query_text"]


def test_ties_only_across_segments(spark, xs_full_index, three_segments):
    """Group kernels cut exactly at k (no boundary ties, WAND allowed) on
    one order-isomorphic root, whichever constructor opened it, and emit
    boundary ties once doc ids come from several segments."""
    assert xs_full_index.tie_safe is False
    assert MultiIndex(spark, [xs_full_index.paths.root]).tie_safe is False
    assert MultiIndex(spark, three_segments).tie_safe is True


def test_three_segments_match_full_rebuild(spark, xs_full_index, three_segments):
    multi = MultiIndex(spark, three_segments)
    assert multi.n_docs == xs_full_index.n_docs
    # integer-sum avgdl: exact, not approximate
    assert multi.avgdl == xs_full_index.avgdl
    for q in _PROBE_QUERIES:
        assert _rows(multi, q) == _rows(xs_full_index, q), q["query_text"]


def test_global_idf_is_summed_df(spark, xs_full_index, three_segments):
    multi = MultiIndex(spark, three_segments)
    terms = ["term0001", "term0002", "nosuchterm0xyz"]
    assert multi.idf_map(terms) == xs_full_index.idf_map(terms)


def test_batch_matches_per_query(spark, three_segments):
    multi = MultiIndex(spark, three_segments)
    queries = [(q["query_text"], q["mode"], q.get("k", 10)) for q in _PROBE_QUERIES[:4]]
    got = multi.topk_batch(queries).collect()
    by_q: dict[int, list] = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append(
            (r.conv_id, r.turn_idx, round(r.score, 9))
        )
    for res in by_q.values():
        res.sort(key=lambda x: (-x[2], x[0], x[1]))
    for i, q in enumerate(_PROBE_QUERIES[:4]):
        assert by_q.get(i, []) == _rows(multi, q), q["query_text"]


def test_multi_over_extended_segment(spark, xs_pdf, xs_full_index, tmp_path_factory):
    """Composition: a segment that is itself an order-isomorphism-broken
    extend output (tie-safe reader) plus a fresh delta segment still
    answer as one index — per-segment kernels always run with_ties."""
    from search_engine_spark.index.build import load_meta
    from search_engine_spark.index.extend import extend_index

    d = tmp_path_factory.mktemp("multi")
    conv_num = xs_pdf.conv_id.str.slice(5).astype(int)
    older = xs_pdf[(conv_num % 2 == 0) & (conv_num < 14)]
    interleave = xs_pdf[(conv_num % 2 == 1) & (conv_num < 14)]
    fresh = xs_pdf[conv_num >= 14]
    build_index(spark, _spark_df(spark, older), f"{d}/base", BuildConfig(num_groups=2))
    extend_index(spark, f"{d}/base", _spark_df(spark, interleave), f"{d}/ext")
    assert load_meta(f"{d}/ext")["docid_order_isomorphic"] is False
    build_index(spark, _spark_df(spark, fresh), f"{d}/seg", BuildConfig(num_groups=2))
    multi = MultiIndex(spark, [f"{d}/ext", f"{d}/seg"])
    assert multi.n_docs == xs_full_index.n_docs
    for q in _PROBE_QUERIES:
        assert _rows(multi, q) == _rows(xs_full_index, q), q["query_text"]


def test_rejects_mixed_layout(spark, xs_full_index, three_segments, tmp_path_factory):
    import json
    import shutil

    d = str(tmp_path_factory.mktemp("multi") / "doctored")
    shutil.copytree(three_segments[0], d)
    from search_engine_spark.index.build import IndexPaths

    meta_path = IndexPaths(d).meta
    with open(meta_path) as f:
        meta = json.load(f)
    meta["turn_bits"] = meta["turn_bits"] - 1
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    with pytest.raises(ValueError, match="turn_bits"):
        MultiIndex(spark, [xs_full_index.paths.root, d])


def test_match_count_matches_oracle(spark, xs_pdf, xs_full_index, three_segments):
    from search_engine_spark.oracle import build_oracle_index, oracle_match_count

    oracle = build_oracle_index(xs_pdf)
    multi = MultiIndex(spark, three_segments)
    probes = [
        ("term0001 term0002", "disjunctive"),
        ("term0001 term0002", "conjunctive"),
        ('"phrase alpha beta"', "phrase"),
        ('"alpha" AND "beta"', "boolean"),
        ('"alpha" NOT "beta"', "boolean"),
        ("zzznotaterm", "disjunctive"),
    ]
    for qt, mode in probes:
        want = oracle_match_count(oracle, qt, mode)
        assert xs_full_index.match_count(qt, mode) == want, (qt, mode)
        assert multi.match_count(qt, mode) == want, (qt, mode)
