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
