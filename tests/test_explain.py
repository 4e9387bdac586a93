"""ES ``_explain`` analog: per-term score breakdown of one document.

Contract under test (``CompressedIndex.explain`` / ``MultiIndex.explain``
vs ``oracle_explain``):

* rows (term, df, idf, weight, tf, dl, partial, contribution) match the
  pure-Python oracle exactly for every query mode;
* contributions sum (lexicographic term order) to the doc's ``topk``
  score BIT-FOR-BIT — explain is the scoring kernels' own arithmetic,
  not a re-derivation;
* a non-matching doc (conjunctive missing a term, NOT-excluded, below
  min_match, tombstoned, absent) explains as EMPTY — ES ``matched:
  false``;
* MultiIndex explains with GLOBAL stats: an updated turn explains from
  its delta segment identically to a fresh build of the updated corpus.
"""

from __future__ import annotations

import pytest

from search_engine_spark.config import BuildConfig
from search_engine_spark.index.build import build_index
from search_engine_spark.index.multi import MultiIndex
from search_engine_spark.index.reader import CompressedIndex
from search_engine_spark.oracle import oracle_explain, oracle_topk

_QUERIES = [
    ("term0001 term0002", "disjunctive"),
    ("term0001^2.5 term0002", "disjunctive"),
    ("term0003 term0004", "conjunctive"),
    ('"phrase alpha beta"', "phrase"),
    ('"alpha" AND "beta"', "boolean"),
    ('"alpha" NOT "beta"', "boolean"),
]


@pytest.fixture(scope="module")
def built(spark, sm_index_dir):
    return CompressedIndex(spark, sm_index_dir)


def _erows(df):
    return [
        (
            r.term, r.df, round(r.idf, 9), r.weight, r.tf, r.dl,
            round(r.partial, 9), round(r.contribution, 9),
        )
        for r in df.orderBy("term").collect()
    ]


def _orows(rows):
    return [
        (t, df, round(idf, 9), w, tf, dl, round(p, 9), round(c, 9))
        for t, df, idf, w, tf, dl, p, c in rows
    ]


def test_explain_matches_oracle_all_modes(built, sm_oracle):
    """Every mode: engine breakdown == oracle breakdown for the top doc,
    and contributions sum to the topk score bit-for-bit."""
    checked = 0
    for qt, mode in _QUERIES:
        top = built.topk(qt, mode, 3).collect()
        if not top:
            continue
        for r in top:
            got = built.explain(qt, r.conv_id, r.turn_idx, mode)
            rows = got.collect()
            assert _erows(got) == _orows(
                oracle_explain(sm_oracle, qt, r.conv_id, r.turn_idx, mode)
            ), (qt, r.conv_id, r.turn_idx)
            # bit-for-bit: sum in lexicographic term order == kernel score
            total = 0.0
            for x in sorted(rows, key=lambda x: x.term):
                total += x.contribution
            assert total == r.score, (qt, r.conv_id, r.turn_idx)
            checked += 1
    assert checked >= 10


def test_explain_weight_column_reflects_boost(built, sm_oracle):
    r = built.topk("term0001^2.5 term0002", "disjunctive", 1).collect()[0]
    rows = {
        x.term: x
        for x in built.explain(
            "term0001^2.5 term0002", r.conv_id, r.turn_idx
        ).collect()
    }
    if "term0001" in rows:
        x = rows["term0001"]
        assert x.weight == 2.5
        assert x.contribution == (x.idf * 2.5) * x.partial


def test_explain_nonmatching_doc_is_empty(built, sm_oracle):
    """Conjunctive: a doc matching only one term explains empty."""
    # find a doc with term0001 but not term0002
    only_a = {k for k, _f, _p in sm_oracle.postings["term0001"]} - {
        k for k, _f, _p in sm_oracle.postings["term0002"]
    }
    assert only_a
    conv, turn = sorted(only_a)[0]
    assert built.explain("term0001 term0002", conv, turn, "conjunctive").count() == 0
    assert oracle_explain(sm_oracle, "term0001 term0002", conv, turn, "conjunctive") == []
    # ...but the same doc explains non-empty disjunctively
    assert built.explain("term0001 term0002", conv, turn).count() == 1


def test_explain_min_match_gates(built, sm_oracle):
    only_a = sorted(
        {k for k, _f, _p in sm_oracle.postings["term0001"]}
        - {k for k, _f, _p in sm_oracle.postings["term0002"]}
    )[0]
    assert (
        built.explain(
            "term0001 term0002", only_a[0], only_a[1], min_match=2
        ).count()
        == 0
    )


def test_explain_absent_doc_and_empty_query(built):
    assert built.explain("term0001", "no-such-conv", 0).count() == 0
    assert built.explain("zzzqqqxyz", "c0", 0).count() == 0  # analyzes to a 0-df term
    assert built.explain("the of and", "c0", 0).count() == 0  # all stopwords → None spec


def test_explain_tombstoned_doc_is_empty(built):
    r = built.topk("term0001 term0002", "disjunctive", 1).collect()[0]
    assert (
        built.explain(
            "term0001 term0002", r.conv_id, r.turn_idx,
            tombstones=[(r.conv_id, r.turn_idx)],
        ).count()
        == 0
    )
    # whole-conversation tombstone too
    assert (
        built.explain(
            "term0001 term0002", r.conv_id, r.turn_idx, tombstones=[r.conv_id]
        ).count()
        == 0
    )


def test_explain_boolean_not_scores_left_terms_only(built, sm_oracle):
    qt = '"alpha" NOT "beta"'
    top = built.topk(qt, "boolean", 1).collect()
    if not top:
        pytest.skip("no boolean NOT matches in sm corpus")
    r = top[0]
    rows = built.explain(qt, r.conv_id, r.turn_idx, "boolean").collect()
    assert {x.term for x in rows} == {"alpha"}


# -- MultiIndex: global stats + update segments -----------------------


@pytest.fixture(scope="module")
def upd(spark, tmp_path_factory):
    """(multi, fresh) — base + update delta as LSM segments vs a fresh
    build of the updated corpus (the test_update.py shape, smaller)."""
    import pandas as pd

    from search_engine_spark.corpus import generate_transcripts
    from search_engine_spark.index.extend import ingest_update_segment

    pdf = generate_transcripts("xs")[["conv_id", "turn_idx", "text"]].copy()
    keys = list(
        pdf.sort_values(["conv_id", "turn_idx"])[["conv_id", "turn_idx"]]
        .iloc[[3, 17]]
        .itertuples(index=False, name=None)
    )
    updated = pdf.copy()
    mask = updated.set_index(["conv_id", "turn_idx"]).index.isin(keys)
    updated.loc[mask, "text"] = [
        f"updated zebra explain {i} term0001 alpha" for i in range(mask.sum())
    ]
    delta = updated[mask]
    base = str(tmp_path_factory.mktemp("exp_base"))
    seg = str(tmp_path_factory.mktemp("exp_seg"))
    fresh_dir = str(tmp_path_factory.mktemp("exp_fresh"))
    build_index(spark, spark.createDataFrame(pdf), base, BuildConfig(num_groups=2))
    ingest_update_segment(spark, [base], spark.createDataFrame(delta), seg)
    build_index(
        spark, spark.createDataFrame(updated), fresh_dir, BuildConfig(num_groups=2)
    )
    return (
        MultiIndex(spark, [base, seg]),
        CompressedIndex(spark, fresh_dir),
        keys,
    )


def test_multi_explain_updated_turn_equals_fresh(upd):
    midx, fresh, keys = upd
    qt = "zebra term0001 alpha"
    for conv, turn in keys:
        got = _erows(midx.explain(qt, conv, turn))
        want = _erows(fresh.explain(qt, conv, turn))
        assert got == want and got, (conv, turn)


def test_multi_explain_sums_to_multi_topk_score(upd):
    midx, _fresh, _keys = upd
    qt = "term0001 term0002"
    for r in midx.topk(qt, "disjunctive", 5).collect():
        rows = midx.explain(qt, r.conv_id, r.turn_idx).collect()
        total = 0.0
        for x in sorted(rows, key=lambda x: x.term):
            total += x.contribution
        assert total == r.score, (r.conv_id, r.turn_idx)


def test_multi_explain_unchanged_turn_uses_global_stats(upd):
    """A turn living in the BASE segment must still explain with the
    shadow-corrected global df/idf/avgdl — identical to fresh."""
    midx, fresh, keys = upd
    qt = "term0001 term0002"
    r = fresh.topk(qt, "disjunctive", 1).collect()[0]
    if (r.conv_id, r.turn_idx) in set(keys):
        pytest.skip("top doc is an updated turn; covered elsewhere")
    assert _erows(midx.explain(qt, r.conv_id, r.turn_idx)) == _erows(
        fresh.explain(qt, r.conv_id, r.turn_idx)
    )


def test_multi_explain_tombstoned_empty(upd):
    midx, _fresh, keys = upd
    conv, turn = keys[0]
    assert (
        midx.explain("zebra term0001", conv, turn, tombstones=[(conv, turn)]).count()
        == 0
    )
