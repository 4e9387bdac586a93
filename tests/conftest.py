from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")


@pytest.fixture(scope="session")
def spark():
    from search_engine_spark.session import get_spark

    s = get_spark(app_name="tests", cores=4, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def xs_corpus():
    from search_engine_spark.corpus import generate_transcripts

    return generate_transcripts("xs")


@pytest.fixture(scope="session")
def sm_corpus():
    from search_engine_spark.corpus import generate_transcripts

    return generate_transcripts("sm")


@pytest.fixture(scope="session")
def sm_parquet(tmp_path_factory, sm_corpus):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from search_engine_spark.corpus import write_transcripts_parquet

    path = str(tmp_path_factory.mktemp("corpus") / "transcripts_sm.parquet")
    write_transcripts_parquet(path, "sm")
    return path


@pytest.fixture(scope="session")
def sm_oracle(sm_corpus):
    from search_engine_spark.oracle import build_oracle_index

    return build_oracle_index(sm_corpus)


@pytest.fixture(scope="session")
def sm_index_dir(spark, sm_parquet, tmp_path_factory):
    """The sm index (4 groups), built once per session and shared by
    every module that reads it as built; tests must not modify it."""
    from search_engine_spark.config import BuildConfig
    from search_engine_spark.index.build import build_index

    out = str(tmp_path_factory.mktemp("sm_index") / "sm")
    build_index(spark, spark.read.parquet(sm_parquet), out, BuildConfig(num_groups=4))
    return out


def _turns_df(spark, pdf):
    return spark.createDataFrame(pdf[["conv_id", "turn_idx", "text"]])


@pytest.fixture(scope="session")
def three_segments(spark, xs_corpus, tmp_path_factory):
    """Base + two delta segments of the xs corpus: a later conv range,
    then new TURNS of already-segmented conversations (one conversation
    spans segments).  Built once per session; tests must not modify it."""
    from search_engine_spark.config import BuildConfig
    from search_engine_spark.index.build import build_index

    pdf = xs_corpus
    d = tmp_path_factory.mktemp("multi")
    a = pdf[(pdf.conv_id < "conv-000012") & (pdf.turn_idx < 3)]
    b = pdf[(pdf.conv_id >= "conv-000012") & (pdf.turn_idx < 3)]
    c = pdf[pdf.turn_idx >= 3]
    roots = []
    for name, part in (("a", a), ("b", b), ("c", c)):
        out = str(d / name)
        build_index(spark, _turns_df(spark, part), out, BuildConfig(num_groups=2))
        roots.append(out)
    return roots


@pytest.fixture(scope="session")
def corpora():
    """(original corpus, updated corpus, update delta) — the delta
    rewrites 5 existing turns (new text, incl. a distinctive token) and
    adds 2 brand-new turns, the realistic mixed batch."""
    import pandas as pd

    from search_engine_spark.corpus import generate_transcripts

    pdf = generate_transcripts("xs")[["conv_id", "turn_idx", "text"]].copy()
    keys = list(
        pdf.sort_values(["conv_id", "turn_idx"])[["conv_id", "turn_idx"]]
        .iloc[[3, 10, 17, 24, 31]]
        .itertuples(index=False, name=None)
    )
    updated = pdf.copy()
    mask = updated.set_index(["conv_id", "turn_idx"]).index.isin(keys)
    updated.loc[mask, "text"] = [
        f"updated special zebra transcript number {i} term0001 alpha"
        for i in range(mask.sum())
    ]
    new_rows = pd.DataFrame(
        {
            "conv_id": ["zzz-update-conv"] * 2,
            "turn_idx": [0, 1],
            "text": ["brand new turn zebra term0002", "another new turn beta"],
        }
    )
    delta = pd.concat([updated[mask], new_rows], ignore_index=True)
    updated = pd.concat([updated, new_rows], ignore_index=True)
    return pdf, updated, delta


@pytest.fixture(scope="session")
def base_root(spark, corpora, tmp_path_factory):
    """The original xs corpus as one index: the base the update segment
    supersedes turns of.  Tests must not modify it."""
    from search_engine_spark.config import BuildConfig
    from search_engine_spark.index.build import build_index

    pdf, _, _ = corpora
    d = str(tmp_path_factory.mktemp("upd_base"))
    build_index(spark, spark.createDataFrame(pdf), d, BuildConfig(num_groups=2))
    return d


@pytest.fixture(scope="session")
def update_segment(spark, corpora, base_root, tmp_path_factory):
    """The update delta ingested as an LSM segment over ``base_root``,
    with its shadow sidecar.  Tests must not modify it."""
    from search_engine_spark.index.extend import ingest_update_segment

    _, _, delta = corpora
    d = str(tmp_path_factory.mktemp("upd_seg"))
    ingest_update_segment(
        spark, [base_root], spark.createDataFrame(delta), d
    )
    return d
