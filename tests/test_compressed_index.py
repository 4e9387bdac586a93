"""M2/M3 tests: compressed index build + WAND query engine vs oracle.

SURVEY.md §5.2 items 2 (golden end-to-end), 4 (resume), 5 (skew: the sm
corpus vocabulary is Zipf(s=1.1) so head-term salting is exercised by the
postings-parity assertion).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from search_engine_spark.config import BuildConfig
from search_engine_spark.corpus import REFERENCE_QUERIES
from search_engine_spark.index.build import IndexBuilder
from search_engine_spark.index.codec import varbyte_decode
from search_engine_spark.index.reader import CompressedIndex
from search_engine_spark.oracle import oracle_topk


@pytest.fixture(scope="module")
def built(spark, sm_index_dir):
    return CompressedIndex(spark, sm_index_dir)


def _docmap(index):
    """doc_id → (conv_id, turn_idx) via the conv-rank encoding."""
    convs = {r["conv_rank"]: r["conv_id"] for r in index._convs.collect()}
    mask = (1 << index.turn_bits) - 1

    class _Map:
        def __getitem__(self, doc_id):
            return convs[doc_id >> index.turn_bits], doc_id & mask

    return _Map()


def test_meta_matches_oracle(built, sm_oracle):
    assert built.n_docs == sm_oracle.n_docs
    assert built.avgdl == pytest.approx(sm_oracle.avgdl, rel=1e-12)


def test_docid_order_isomorphic_to_conv_turn(built):
    """conv_rank is the rank of conv_id ascending, so doc_id order ==
    (conv_id, turn_idx) order (the tie-break/densification invariant,
    Ranker1.java:128-137 analog)."""
    rows = sorted(built._convs.collect(), key=lambda r: r["conv_id"])
    assert [r["conv_rank"] for r in rows] == list(range(len(rows)))


def test_postings_parity_with_oracle(built, sm_oracle):
    """Decoded postings == oracle postings for head + tail + edge terms."""
    dm = _docmap(built)
    probe = ["term0000", "term0001", "term4499", "world", "run", "poni", "arr", "i"]
    present = [t for t in probe if t in sm_oracle.postings]
    assert len(present) >= 6
    pdf = built.postings_df(present).toPandas()
    for t in present:
        sub = pdf[pdf["term"] == t].sort_values(["group", "block_id"])
        got = []
        for r in sub.itertuples(index=False):
            docs = np.cumsum(varbyte_decode(r.doc_blob).astype(np.int64))
            tfs = varbyte_decode(r.tf_blob).astype(np.int64)
            got.extend((dm[int(d)], int(f)) for d, f in zip(docs, tfs))
        got.sort()
        want = sorted((key, f) for key, f, _p in sm_oracle.postings[t])
        assert got == want, f"postings mismatch for {t!r}"


def test_idf_parity(built, sm_oracle):
    terms = ["term0000", "world", "term4499"]
    idf = built.idf_map(terms + ["zzzznotacorpusword"])
    for t in terms:
        assert idf[t] == pytest.approx(sm_oracle.idf(t), rel=1e-12)


@pytest.mark.parametrize("q", REFERENCE_QUERIES, ids=lambda q: f"q{q['query_id']}")
def test_rank_identity_vs_oracle(built, sm_oracle, q):
    golden = oracle_topk(sm_oracle, q["query_text"], q["mode"], q["k"])
    got = built.topk(q["query_text"], q["mode"], q["k"]).collect()
    assert len(got) == len(golden)
    for row, (key, score) in zip(got, golden):
        assert (row["conv_id"], row["turn_idx"]) == key
        assert row["score"] == pytest.approx(score, abs=1e-9)


@pytest.mark.parametrize(
    "qid", [0, 1, 5, 15, 17, 20], ids=lambda i: f"q{i}"
)
def test_wand_equals_exact(built, qid):
    q = REFERENCE_QUERIES[qid]
    exact = built.topk(q["query_text"], q["mode"], q["k"], algo="exact").collect()
    wand = built.topk(q["query_text"], q["mode"], q["k"], algo="wand").collect()
    assert [(r["conv_id"], r["turn_idx"]) for r in exact] == [
        (r["conv_id"], r["turn_idx"]) for r in wand
    ]
    for a, b in zip(exact, wand):
        assert a["score"] == pytest.approx(b["score"], abs=1e-12)


def test_resume_produces_identical_index(spark, sm_parquet, sm_index_dir, tmp_path_factory, sm_oracle):
    """Kill-after-2-groups + resume ≡ uninterrupted build (§5.2 item 4)."""
    transcripts = spark.read.parquet(sm_parquet)
    cfg = BuildConfig(num_groups=4)

    full_dir = sm_index_dir  # the uninterrupted build, same config

    part_dir = str(tmp_path_factory.mktemp("idx") / "part")
    b = IndexBuilder(spark, part_dir, cfg)
    import os, shutil

    if os.path.exists(part_dir):
        shutil.rmtree(part_dir)
    os.makedirs(part_dir)
    b.stage(transcripts)
    b.tokenize_group(transcripts, 0)
    b.tokenize_group(transcripts, 1)
    # simulate crash + fresh driver resuming
    b2 = IndexBuilder(spark, part_dir, cfg)
    assert b2.groups_done() == {0, 1}
    b2.build(transcripts, resume=True)

    def fingerprint(root):
        idx = CompressedIndex(spark, root)
        rows = (
            spark.read.parquet(idx.paths.postings)
            .select("term", "group", "block_id", "n", F.md5(F.hex("doc_blob")).alias("dh"),
                    F.md5(F.hex("tf_blob")).alias("th"), F.md5(F.hex("pos_blob")).alias("ph"))
            .orderBy("term", "group", "block_id")
            .collect()
        )
        return [tuple(r) for r in rows], idx.meta

    f1, m1 = fingerprint(full_dir)
    f2, m2 = fingerprint(part_dir)
    assert m1 == m2
    assert f1 == f2


def test_lineage_and_metrics(built):
    rows = built.spark.read.parquet(built.paths.lineage).collect()
    assert {r["group"] for r in rows} == {0, 1, 2, 3}
    assert all(r["status"] == "complete" for r in rows)
    assert sum(r["n_docs"] for r in rows) == built.n_docs
    assert all(r["n_tokens"] >= 0 and r["wall_s"] >= 0 for r in rows)


def test_topk_batch_row_identical_to_per_query(built):
    """One-job batch execution must reproduce every per-query topk
    exactly (same rows, same order within each query) across all modes
    of the reference query set."""
    queries = [(q["query_text"], q["mode"], q["k"]) for q in REFERENCE_QUERIES] + [
        ('"term0001 term0002"~2', "phrase", 10)  # sloppy phrase rides batch too
    ]
    batch = built.topk_batch(queries)
    rows = {}
    for r in batch.collect():
        rows.setdefault(r["query_id"], []).append(
            (r["conv_id"], r["turn_idx"], r["score"])
        )
    # batch output is per-query rank order only after sorting each group
    # the way topk orders
    for qid, q in enumerate(queries):
        want = [
            (r["conv_id"], r["turn_idx"], r["score"])
            for r in built.topk(q[0], q[1], q[2]).collect()
        ]
        got = sorted(rows.get(qid, []), key=lambda t: (-t[2], t[0], t[1]))
        assert got == want, f"query {qid} ({q[0]!r}) batch != per-query"


def test_divergent_turn_bits_fails_loud(spark, built, tmp_path_factory):
    """An index whose meta records a different turn_bits than this
    engine build's TURN_BITS must refuse to load: tombstone encoding
    (reader.resolve_tombstones) and the extend/compact remap kernels
    shift by the module constant, so a silent mismatch would mask the
    wrong conv ranks (round-4 ADVICE, reader.py)."""
    import json
    import shutil

    from search_engine_spark.index.extend import extend_index

    clone = str(tmp_path_factory.mktemp("turnbits") / "idx")
    shutil.copytree(built.paths.root, clone)
    mp = f"{clone}/meta.json"
    meta = json.loads(open(mp).read())
    meta["turn_bits"] = meta["turn_bits"] - 1
    open(mp, "w").write(json.dumps(meta))
    with pytest.raises(ValueError, match="turn_bits"):
        CompressedIndex(spark, clone)
    with pytest.raises(ValueError, match="turn_bits"):
        extend_index(spark, clone, spark.range(0).selectExpr(
            "cast(null as string) conv_id", "cast(null as int) turn_idx",
            "cast(null as string) role", "cast(null as string) text",
            "cast(null as string) tool", "cast(null as timestamp) ts",
        ), str(tmp_path_factory.mktemp("turnbits") / "out"))
