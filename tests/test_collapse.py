"""Conversation-collapsed top-k (field-collapsing analog) vs the oracle.

One row per CONVERSATION, represented by its best matching turn
(highest score, lowest turn on ties), conversations ranked by that best
score.  Collapse is group-local (group = conv_id hash) inside one
index; MultiIndex re-collapses across segments with a window because
extend can spread one conversation over several segments.
"""

from __future__ import annotations

import pytest

from search_engine_spark.config import BuildConfig
from search_engine_spark.corpus import generate_transcripts
from search_engine_spark.index.build import build_index
from search_engine_spark.index.multi import MultiIndex
from search_engine_spark.index.reader import CompressedIndex
from search_engine_spark.oracle import (
    build_oracle_index,
    oracle_topk,
    oracle_topk_conversations,
)

_MODES = [
    ("term0001 term0002", "disjunctive"),
    ("term0003 term0004", "conjunctive"),
    ('"phrase alpha beta"', "phrase"),
    ('"term0001" OR "term0002"', "boolean"),
]


@pytest.fixture(scope="module")
def xs_pdf():
    return generate_transcripts("xs")


@pytest.fixture(scope="module")
def xs_index(spark, xs_pdf, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("collapse") / "idx")
    build_index(spark, spark.createDataFrame(xs_pdf), out, BuildConfig(num_groups=2))
    return CompressedIndex(spark, out)


@pytest.fixture(scope="module")
def xs_oracle(xs_pdf):
    return build_oracle_index(xs_pdf)


def _rows(df) -> list[tuple]:
    return [(r.conv_id, r.turn_idx, round(r.score, 9)) for r in df.collect()]


def _want(oracle, q, mode, k, **kw) -> list[tuple]:
    return [
        (c, t, round(s, 9))
        for (c, t), s in oracle_topk_conversations(oracle, q, mode, k, **kw)
    ]


def test_collapse_all_modes(xs_index, xs_oracle):
    for q, mode in _MODES:
        got = _rows(xs_index.topk_conversations(q, mode, 5))
        assert got == _want(xs_oracle, q, mode, 5), (q, mode)
        # one row per conversation, ranked by its best turn
        convs = [c for c, _t, _s in got]
        assert len(convs) == len(set(convs))


def test_collapse_representative_is_best_turn(xs_index, xs_oracle):
    got = _rows(xs_index.topk_conversations("term0001 term0002", "disjunctive", 10))
    deep = {
        (c, t): s
        for (c, t), s in oracle_topk(
            xs_oracle, "term0001 term0002", "disjunctive", 1 << 62
        )
    }
    for conv, turn, score in got:
        best = max(
            ((s, -t2) for (c2, t2), s in deep.items() if c2 == conv),
        )
        assert score == round(best[0], 9)
        assert turn == -best[1]


def test_collapse_with_scope_and_tombstones(spark, xs_index, xs_pdf, xs_oracle):
    tr = spark.createDataFrame(xs_pdf)
    dead = "conv-000003"
    scope_df = tr.filter("role = 'assistant'")
    scope = {
        k
        for k in zip(
            xs_pdf[xs_pdf.role == "assistant"].conv_id,
            xs_pdf[xs_pdf.role == "assistant"].turn_idx,
        )
        if k[0] != dead
    }
    got = _rows(
        xs_index.topk_conversations(
            "term0001 term0002", "disjunctive", 5,
            tombstones=[dead], scope=scope_df,
        )
    )
    assert got == _want(xs_oracle, "term0001 term0002", "disjunctive", 5, scope=scope)


def test_collapse_with_expansion(xs_index, xs_oracle):
    from search_engine_spark.oracle import oracle_expand_query

    eq = xs_index.expand_query("term000*")
    got = _rows(xs_index.topk_conversations(eq, "disjunctive", 5, analyzed=True))
    want = _want(
        xs_oracle, oracle_expand_query(xs_oracle, "term000*"),
        "disjunctive", 5, analyzed=True,
    )
    assert got == want


def test_multi_collapse_conv_spanning_segments(spark, xs_pdf, xs_oracle, tmp_path_factory):
    """Every conversation spans BOTH segments (turn split) — the window
    re-collapse must merge per-segment bests exactly."""
    d = tmp_path_factory.mktemp("collapse_multi")
    a = xs_pdf[xs_pdf.turn_idx < 3]
    b = xs_pdf[xs_pdf.turn_idx >= 3]
    roots = []
    for name, part in (("a", a), ("b", b)):
        out = str(d / name)
        build_index(spark, spark.createDataFrame(part), out, BuildConfig(num_groups=2))
        roots.append(out)
    multi = MultiIndex(spark, roots)
    for q, mode in _MODES:
        got = _rows(multi.topk_conversations(q, mode, 5))
        assert got == _want(xs_oracle, q, mode, 5), (q, mode)


def test_collapse_rejects_dense_scheme(spark, xs_index, tmp_path):
    """An index whose meta records the retired dense doc-id scheme is
    refused when it is opened, before any query (collapse included) can
    misread its doc ids."""
    import json
    import shutil

    clone = str(tmp_path / "dense")
    shutil.copytree(xs_index.paths.root, clone)
    with open(f"{clone}/meta.json") as f:
        meta = json.load(f)
    meta["docid_scheme"] = "dense"
    with open(f"{clone}/meta.json", "w") as f:
        json.dump(meta, f)
    with pytest.raises(ValueError, match="conv_rank"):
        CompressedIndex(spark, clone).topk_conversations("term0001", "disjunctive", 5)
