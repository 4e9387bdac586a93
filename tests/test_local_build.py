"""Driver-local commits: a build or fold whose input fits
``reader.LOCAL_BUDGET_BYTES`` runs the build kernels in-process and
writes the index with pyarrow.  Its tables must equal the Spark plan's
row for row — postings (blobs included), doclen, convs, df and meta;
idf within one ulp (numpy's log against the JVM's) — and both readers'
plans must answer from it as the oracle does.

At fixture sizes every build and fold runs on the driver, so the Spark
side is forced here with the budget monkeypatched to -1, as the read
tests do.
"""

from __future__ import annotations

import os
import uuid

import numpy as np
import pandas as pd
import pytest

from perfbench.inputs import ingest_batch
from search_engine_spark.config import BuildConfig
from search_engine_spark.corpus import REFERENCE_QUERIES, TRANSCRIPTS_SCHEMA
from search_engine_spark.index import reader
from search_engine_spark.index.build import (
    BLOCKS_SCHEMA, CONVS_SCHEMA, DOCLEN_SCHEMA, IDF_SCHEMA, _read_frame, build_index, load_meta,
)
from search_engine_spark.index.check import check_index
from search_engine_spark.index.extend import compact_segments
from search_engine_spark.index.multi import MultiIndex
from search_engine_spark.index.reader import CompressedIndex
from search_engine_spark.oracle import build_oracle_index, oracle_topk
from search_engine_spark.streaming.ingest import SegmentStreamIndexer

_QUERIES = [(q["query_text"], q["mode"]) for q in REFERENCE_QUERIES[:12]]


@pytest.fixture
def spark_plan(monkeypatch):
    """Run ``fn`` with a budget below any input or file total: builds,
    folds and reads then take the Spark plan."""

    def run(fn):
        with monkeypatch.context() as m:
            m.setattr(reader, "LOCAL_BUDGET_BYTES", -1)
            return fn()

    return run


def _jobs(spark, fn):
    sc = spark.sparkContext
    gid = f"local-build-{uuid.uuid4().hex}"
    sc.setJobGroup(gid, gid)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(gid))


def _frame(spark, pdf: pd.DataFrame):
    """A transcripts batch as perfbench and the stream sink hand it over:
    a DataFrame built from pandas (Spark holds it as a local relation)."""
    safe = pdf.copy()
    for c in ("conv_id", "role", "text", "tool"):
        safe[c] = pdf[c].astype(object).where(pdf[c].notna(), None)
    return spark.createDataFrame(safe, schema=TRANSCRIPTS_SCHEMA)


def _sorted(pdf: pd.DataFrame, keys: list[str]) -> pd.DataFrame:
    return pdf.sort_values(keys, na_position="first", kind="mergesort").reset_index(drop=True)


def _postings(root: str) -> pd.DataFrame:
    """Every block row with its bucket (from the partition directory)."""
    frames = []
    d = os.path.join(root, "postings")
    for name in sorted(os.listdir(d)):
        if name.startswith("bucket="):
            part = _read_frame(os.path.join(d, name), BLOCKS_SCHEMA)
            frames.append(part.assign(bucket=int(name.split("=")[1])))
    return _sorted(pd.concat(frames, ignore_index=True), ["bucket", "term", "group", "block_id"])


def _idf(root: str) -> pd.DataFrame:
    return _sorted(_read_frame(os.path.join(root, "idf"), IDF_SCHEMA), ["term"])


def assert_same_index(local: str, spark_root: str) -> None:
    """Row-equal tables (idf within one ulp) and equal meta."""
    pd.testing.assert_frame_equal(_postings(local), _postings(spark_root))
    for table, ddl, keys in (("doclen", DOCLEN_SCHEMA, ["group"]), ("convs", CONVS_SCHEMA, ["conv_id"])):
        pd.testing.assert_frame_equal(
            _sorted(_read_frame(os.path.join(local, table), ddl), keys),
            _sorted(_read_frame(os.path.join(spark_root, table), ddl), keys),
        )
    a, b = _idf(local), _idf(spark_root)
    pd.testing.assert_frame_equal(a[["term", "df"]], b[["term", "df"]])
    x, y = a["idf"].to_numpy(), b["idf"].to_numpy()
    assert (np.abs(x - y) <= np.spacing(np.maximum(x, y))).all()
    assert load_meta(local) == load_meta(spark_root)


def _deep_ok(spark, root: str) -> None:
    audit = check_index(spark, root, deep=True)
    assert audit["ok"], audit["errors"]


def _build_both(spark, spark_plan, df, out: str, cfg: BuildConfig) -> tuple[str, str]:
    """(driver-built root, Spark-built root) of one input; the driver
    build launches no job on a local relation."""
    _, jobs = _jobs(spark, lambda: build_index(spark, df, f"{out}/local", cfg))
    assert jobs == 0
    _, jobs = _jobs(spark, lambda: spark_plan(lambda: build_index(spark, df, f"{out}/spark", cfg)))
    assert jobs > 0
    return f"{out}/local", f"{out}/spark"


def assert_oracle_rows(ix, oracle, q) -> None:
    got = ix.topk(q[0], q[1], k=10).collect()
    golden = oracle_topk(oracle, q[0], q[1], 10)
    assert [(r.conv_id, r.turn_idx) for r in got] == [key for key, _ in golden], q
    assert [r.score for r in got] == pytest.approx([s for _, s in golden], abs=1e-9), q


# -- builds -----------------------------------------------------------------


def test_sm_build_equals_spark_plan(spark, spark_plan, sm_parquet, sm_index_dir, tmp_path):
    """The shared sm fixture is driver-built (its parquet input is under
    the budget); a forced Spark build of the same input equals it."""
    assert load_meta(sm_index_dir)["n_docs"] > 0
    out = str(tmp_path / "spark")
    spark_plan(lambda: build_index(spark, spark.read.parquet(sm_parquet), out, BuildConfig(num_groups=4)))
    assert_same_index(sm_index_dir, out)
    _deep_ok(spark, sm_index_dir)


def test_perfbench_delta_equals_spark_plan(spark, spark_plan, tmp_path):
    df = _frame(spark, ingest_batch(11, 1, 40))
    local, remote = _build_both(spark, spark_plan, df, str(tmp_path), BuildConfig(shuffle_partitions=4))
    assert_same_index(local, remote)
    _deep_ok(spark, local)


def test_spark_plan_reads_of_driver_built_index(spark, spark_plan, sm_index_dir, sm_oracle):
    ix = CompressedIndex(spark, sm_index_dir)
    for q in _QUERIES:
        spark_plan(lambda: assert_oracle_rows(ix, sm_oracle, q))


def test_lineage_records_build_wall_time(spark, spark_plan, xs_corpus, tmp_path):
    """Lineage ``build`` rows carry the measured wall seconds, on both paths."""
    df = spark.createDataFrame(xs_corpus[["conv_id", "turn_idx", "text"]])
    for root in _build_both(spark, spark_plan, df, str(tmp_path), BuildConfig(num_groups=2)):
        rows = _read_frame(os.path.join(root, "lineage"), "phase string, wall_s double")
        assert (rows["phase"] == "build").all()
        assert (rows["wall_s"] > 0).all()


@pytest.mark.parametrize("partitions", [4, 200])
def test_one_file_per_bucket_dir(spark, spark_plan, xs_corpus, tmp_path, partitions):
    """Every postings/idf bucket directory holds exactly one data file,
    on both paths, whatever the session's shuffle partition count."""
    df = spark.createDataFrame(xs_corpus[["conv_id", "turn_idx", "text"]])
    before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
    try:
        roots = _build_both(spark, spark_plan, df, str(tmp_path), BuildConfig(num_groups=2))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    for root in roots:
        for table in ("postings", "idf"):
            dirs = [e for e in os.scandir(os.path.join(root, table)) if e.name.startswith("bucket=")]
            assert dirs
            for d in dirs:
                assert len(reader._data_files(d.path)) == 1, d.path


def test_over_budget_and_checkpoint_builds_launch_jobs(spark, xs_corpus, tmp_path, monkeypatch):
    df = spark.createDataFrame(xs_corpus[["conv_id", "turn_idx", "text"]])
    _, jobs = _jobs(spark, lambda: build_index(spark, df, str(tmp_path / "ckpt"),
                                               BuildConfig(num_groups=2, checkpoint=True)))
    assert jobs > 0
    assert os.path.isdir(tmp_path / "ckpt" / "fragments")
    size = sum(len(t) for t in xs_corpus["text"])
    monkeypatch.setattr(reader, "LOCAL_BUDGET_BYTES", size - 1)
    _, jobs = _jobs(spark, lambda: build_index(spark, df, str(tmp_path / "over"), BuildConfig(num_groups=2)))
    assert jobs > 0
    assert_same_index(str(tmp_path / "ckpt"), str(tmp_path / "over"))


# -- folds ------------------------------------------------------------------


def _fold_both(spark, spark_plan, roots, out: str, **kw) -> tuple[str, str]:
    _, jobs = _jobs(spark, lambda: compact_segments(spark, roots, f"{out}/local", **kw))
    assert jobs == 0
    spark_plan(lambda: compact_segments(spark, roots, f"{out}/spark", **kw))
    return f"{out}/local", f"{out}/spark"


def test_fold_equals_spark_plan(spark, spark_plan, three_segments, xs_corpus, tmp_path):
    """Two driver-built segments folded on the driver and by the Spark
    plan (a Spark fold of driver-written segments): equal tables, and
    both answer as the oracle over the union."""
    local, remote = _fold_both(spark, spark_plan, three_segments[:2], str(tmp_path))
    assert_same_index(local, remote)
    _deep_ok(spark, local)
    union = xs_corpus[xs_corpus.turn_idx < 3]
    oracle = build_oracle_index(union)
    for root in (local, remote):
        ix = CompressedIndex(spark, root)
        for q in _QUERIES:
            assert_oracle_rows(ix, oracle, q)


def test_fold_with_tombstones_equals_spark_plan(spark, spark_plan, three_segments, tmp_path):
    dead = ["conv-000003", ("conv-000007", 1), ("conv-000015", 4), "no-such-conv"]
    local, remote = _fold_both(spark, spark_plan, three_segments, str(tmp_path), tombstones=dead)
    assert_same_index(local, remote)
    _deep_ok(spark, local)
    assert load_meta(local)["n_docs"] < sum(load_meta(r)["n_docs"] for r in three_segments)


def test_fold_over_update_segment_equals_spark_plan(spark, spark_plan, corpora, base_root,
                                                    update_segment, tmp_path):
    """Shadowed occurrences are exempt from the disjointness check and
    dropped on both paths; the fold answers as a fresh oracle of the
    updated corpus."""
    local, remote = _fold_both(spark, spark_plan, [base_root, update_segment], str(tmp_path))
    assert_same_index(local, remote)
    _deep_ok(spark, local)
    _, updated, _ = corpora
    oracle = build_oracle_index(updated)
    ix = CompressedIndex(spark, local)
    for q in _QUERIES + [("zebra term0001", "disjunctive")]:
        assert_oracle_rows(ix, oracle, q)


def test_local_fold_rejects_overlap(spark, xs_corpus, tmp_path):
    a = xs_corpus[xs_corpus.conv_id < "conv-000010"][["conv_id", "turn_idx", "text"]]
    b = xs_corpus[xs_corpus.conv_id < "conv-000005"][["conv_id", "turn_idx", "text"]]
    for name, part in (("a", a), ("b", b)):
        build_index(spark, spark.createDataFrame(part), str(tmp_path / name), BuildConfig(num_groups=2))
    with pytest.raises(ValueError, match="overlap"):
        _jobs(spark, lambda: compact_segments(spark, [str(tmp_path / "a"), str(tmp_path / "b")],
                                              str(tmp_path / "out")))


# -- the ingest commit --------------------------------------------------------


def test_small_commit_launches_at_most_one_job(spark, spark_plan, tmp_path):
    """A perfbench-shaped commit (a 1,000-turn delta built and folded
    with its base) runs on the driver: at most one Spark job, and the
    live index answers as the oracle and as the Spark plan's commit."""
    base, delta = ingest_batch(21, 0, 40), ingest_batch(22, 1, 40)
    cfg = BuildConfig(shuffle_partitions=4)
    roots = {}
    for side in ("local", "spark"):
        d = str(tmp_path / side)
        ix = SegmentStreamIndexer(spark, d, cfg, max_segments=2)
        if side == "local":
            ix.process_batch(_frame(spark, base), 0)
            _, jobs = _jobs(spark, lambda: ix.process_batch(_frame(spark, delta), 1))
            assert jobs <= 1
        else:
            spark_plan(lambda: (ix.process_batch(_frame(spark, base), 0),
                                ix.process_batch(_frame(spark, delta), 1)))
        (roots[side],) = ix.segment_roots()
    assert os.path.basename(roots["local"]) == "seg=0-1"
    # compacted_from names each side's own segment dirs
    meta = {s: {k: v for k, v in load_meta(r).items() if k != "compacted_from"} for s, r in roots.items()}
    assert meta["local"] == meta["spark"]
    oracle = build_oracle_index(pd.concat([base, delta], ignore_index=True))
    live = MultiIndex(spark, [roots["local"]])
    for q in _QUERIES:
        assert_oracle_rows(live, oracle, q)
