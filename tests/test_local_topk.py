"""Driver-local top-k: a query whose pruned bucket files fit the
``LOCAL_BUDGET_BYTES`` budget runs in-process (pyarrow read + the same
group kernel) and must return exactly the rows of the Spark plan.  Both
readers share the executor: ``CompressedIndex`` (the sm index) and the
``MultiIndex`` live view (three disjoint xs segments, and a base plus an
update segment with a shadow sidecar).

At fixture sizes every unscoped query fits the budget, so these tests
are what keeps the Spark plan covered: the Spark side forces the budget
below any file total with monkeypatch.
"""

from __future__ import annotations

import os
import shutil
import uuid

import pytest
from pyspark.sql import functions as F

from search_engine_spark import service
from search_engine_spark.corpus import REFERENCE_QUERIES
from search_engine_spark.index import reader
from search_engine_spark.index.multi import MultiIndex
from search_engine_spark.index.reader import CompressedIndex
from search_engine_spark.textproc import analyze_text


@pytest.fixture(scope="module")
def local_ix(spark, sm_index_dir):
    return CompressedIndex(spark, sm_index_dir)


@pytest.fixture(scope="module")
def spark_ix(spark, sm_index_dir):
    return CompressedIndex(spark, sm_index_dir)


@pytest.fixture
def spark_plan(monkeypatch):
    """Run ``fn`` with a budget below any file total (every query then
    takes the Spark plan)."""

    def run(fn):
        with monkeypatch.context() as m:
            m.setattr(reader, "LOCAL_BUDGET_BYTES", -1)
            return fn()

    return run


def _jobs(spark, fn):
    """(fn(), number of Spark jobs it launched) — counted under its own
    job group once the listener bus has delivered every event."""
    sc = spark.sparkContext
    gid = f"local-topk-{uuid.uuid4().hex}"
    sc.setJobGroup(gid, gid)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(gid))


def _rows(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


def test_reference_queries_match_spark_plan(spark, local_ix, spark_ix, spark_plan):
    """All 30 reference queries, every mode: identical (conv_id,
    turn_idx, float score) rows and match counts, with zero jobs on the
    local side (cold idf included — the reader is fresh)."""
    for q in REFERENCE_QUERIES:
        args = (q["query_text"], q["mode"])
        (got, n), jobs = _jobs(
            spark, lambda: (_rows(local_ix.topk(*args, k=q["k"])), local_ix.match_count(*args))
        )
        want = spark_plan(lambda: _rows(spark_ix.topk(*args, k=q["k"])))
        want_n = spark_plan(lambda: spark_ix.match_count(*args))
        assert got == want, q
        assert n == want_n, q
        assert jobs == 0, q


@pytest.mark.parametrize(
    "query, mode, kwargs",
    [
        ("term0001 term0002", "disjunctive", {"min_match": 2}),
        ("term0001^3 term0002", "disjunctive", {}),
        ("term0001^0.5 term0002^2.5 term0003", "disjunctive", {"algo": "exact"}),
        ("term0000 term0003", "disjunctive", {"algo": "wand"}),
        ("term0000 term0001 term0002", "disjunctive", {"k": 200}),
        ("term0000 zzzznotacorpusword", "disjunctive", {}),
        ("zzzznotacorpusword qqqqnotaword", "conjunctive", {}),
        ("term0000 term4499", "conjunctive", {}),
        ('"term0000 term0001"~2', "phrase", {}),
    ],
)
def test_query_options_match_spark_plan(local_ix, spark_ix, spark_plan, query, mode, kwargs):
    k = kwargs.pop("k", 10)
    got = _rows(local_ix.topk(query, mode, k=k, **kwargs))
    assert got == spark_plan(lambda: _rows(spark_ix.topk(query, mode, k=k, **kwargs)))
    kwargs.pop("algo", None)
    assert local_ix.match_count(query, mode, **kwargs) == spark_plan(
        lambda: spark_ix.match_count(query, mode, **kwargs)
    )


def _tombstones_and_cursor(spark, local, remote, spark_plan, q):
    """Tombstoned and search_after reads of ``q``: the local reader gives
    the Spark plan's rows and counts, and resolves the deletion list and
    the cursor (a conversation it holds, and one it does not) with zero
    jobs."""
    page = local.topk(q, k=10).collect()
    assert len(page) == 10
    dead = [page[0]["conv_id"], (page[1]["conv_id"], int(page[1]["turn_idx"]))]
    (got, n), jobs = _jobs(spark, lambda: (
        _rows(local.topk(q, k=10, tombstones=dead)), local.match_count(q, tombstones=dead)
    ))
    assert jobs == 0
    assert got == spark_plan(lambda: _rows(remote.topk(q, k=10, tombstones=dead)))
    assert page[0]["conv_id"] not in {r[0] for r in got}
    assert n == spark_plan(lambda: remote.match_count(q, tombstones=dead))
    last = page[4]
    held = (last["score"], last["conv_id"], int(last["turn_idx"]))
    for cursor in (held, (last["score"], last["conv_id"] + "~absent", 0)):
        got, jobs = _jobs(spark, lambda: _rows(local.topk(q, k=5, search_after=cursor)))
        assert jobs == 0
        assert got == spark_plan(lambda: _rows(remote.topk(q, k=5, search_after=cursor)))
    assert _rows(local.topk(q, k=5, search_after=held)) == [tuple(r) for r in page[5:10]]


def test_tombstones_and_search_after_match_spark_plan(spark, local_ix, spark_ix, spark_plan):
    _tombstones_and_cursor(spark, local_ix, spark_ix, spark_plan, "term0000 term0001")


def test_batch_matches_spark_plan(spark, local_ix, spark_ix, spark_plan):
    """topk_batch over all 30 reference queries (their own k), plus a
    boosted, an absent-term and an unparseable query: the local batch
    returns the Spark plan's rows, caller indexes included, with zero
    jobs; tombstones hold on both sides."""
    queries = [(q["query_text"], q["mode"], q["k"]) for q in REFERENCE_QUERIES]
    queries += [("term0001^3 term0002", "disjunctive"), ("zzzznotacorpusword", "disjunctive"),
                ("", "disjunctive"), ("term0000 term0001", "disjunctive", 3)]

    def key(rows):
        return sorted(rows, key=lambda r: (r[0], -r[3], r[1], r[2]))

    got, jobs = _jobs(spark, lambda: _rows(local_ix.topk_batch(queries, k=10)))
    assert jobs == 0
    assert key(got) == key(spark_plan(lambda: _rows(spark_ix.topk_batch(queries, k=10))))
    assert {r[0] for r in got} <= set(range(len(queries)))
    dead = [got[0][1]]
    got = _rows(local_ix.topk_batch(queries, k=10, tombstones=dead))
    assert dead[0] not in {r[1] for r in got}
    assert key(got) == key(spark_plan(
        lambda: _rows(spark_ix.topk_batch(queries, k=10, tombstones=dead))
    ))
    none, jobs = _jobs(spark, lambda: _rows(local_ix.topk_batch([("zzzznotacorpusword", "disjunctive")])))
    assert none == [] and jobs == 0


def test_over_budget_query_takes_spark_plan(spark, local_ix, monkeypatch):
    q = "term0000 term0001 term0002"
    want, jobs = _jobs(spark, lambda: _rows(local_ix.topk(q, k=10)))
    assert jobs == 0
    terms = ["term0000", "term0001", "term0002"]
    size = sum(map(os.path.getsize, local_ix._local_files("postings", terms)))
    assert size > 0
    monkeypatch.setattr(reader, "LOCAL_BUDGET_BYTES", size - 1)
    assert local_ix._local_files("postings", terms) is None
    got, jobs = _jobs(spark, lambda: _rows(local_ix.topk(q, k=10)))
    assert got == want
    assert jobs > 0


def test_scoped_query_takes_spark_plan(spark, local_ix, sm_parquet):
    turns = spark.read.parquet(sm_parquet)
    scope = turns.filter(F.col("role") == "user")
    users = {(r["conv_id"], int(r["turn_idx"])) for r in scope.select("conv_id", "turn_idx").collect()}
    q = "term0000 term0001"
    got, jobs = _jobs(spark, lambda: _rows(local_ix.topk(q, k=10, scope=scope)))
    assert jobs > 0
    assert got and all((c, t) in users for c, t, _s in got)
    n, jobs = _jobs(spark, lambda: local_ix.match_count(q, scope=scope))
    assert jobs > 0
    assert 0 < n <= local_ix.match_count(q)


_FUZZY_TERMS = ["termm0003", "term001", "pony", "term0002", "zzzzqqq"]


def test_fuzzy_rows_match_spark_scan(spark, local_ix, spark_ix, spark_plan, sm_index_dir, tmp_path):
    """Did-you-mean's delete-1 lookup: the local read gives the Spark
    scan's candidates, without a sidecar (whole idf table) and with one
    (its pruned buckets), with zero jobs."""
    from search_engine_spark.index.fuzzy import build_fuzzy_sidecar

    def cands(ix):
        return {t: sorted(c) for t, c in ix._fuzzy_rows(_FUZZY_TERMS).items()}

    got, jobs = _jobs(spark, lambda: cands(local_ix))
    assert jobs == 0
    assert got == spark_plan(lambda: cands(spark_ix))
    assert any(got.values())
    root = str(tmp_path / "sm")
    shutil.copytree(sm_index_dir, root)
    build_fuzzy_sidecar(spark, root)
    with_sidecar = CompressedIndex(spark, root)
    got_sc, jobs = _jobs(spark, lambda: cands(with_sidecar))
    assert jobs == 0
    assert got_sc == got
    assert got_sc == spark_plan(lambda: cands(with_sidecar))


def test_search_page_matches_spark_plan(spark, local_ix, spark_ix, spark_plan, sm_parquet):
    """service.search on a bare local parquet table: snippets come from a
    driver-read local relation, so a page launches no job, and equals
    the Spark plan's page, did-you-mean included."""
    turns = spark.read.parquet(sm_parquet)
    pages = {}
    for q in ("term0000 term0001", "termm0003", '"term0000 term0001"'):
        mode = "phrase" if q.startswith('"') else "disjunctive"
        pages[q], jobs = _jobs(spark, lambda: service.search(local_ix, turns, q, mode, k=10))
        assert jobs == 0, q
        assert pages[q] == spark_plan(lambda: service.search(spark_ix, turns, q, mode, k=10)), q
    assert "did_you_mean" in pages["termm0003"]
    for page in (pages["term0000 term0001"], pages['"term0000 term0001"']):
        assert page["results"] and all(r["snippet"] for r in page["results"])
    assert reader.local_rows(turns.filter(F.col("role") == "user"), ["conv_id"], "conv_id", ["x"]) is None


# -- MultiIndex: the same executor over (seg, CompressedIndex) pairs -------

_MULTI_OPTIONS = [
    ("term0001 term0002", "disjunctive", {"min_match": 2}),
    ("term0001^3 term0002", "disjunctive", {}),
    ("term0001^0.5 term0002^2.5 term0003", "disjunctive", {"algo": "exact"}),
    ("term0000 term0001 term0002", "disjunctive", {"k": 200}),
    ('"term0001 term0002"~2', "phrase", {}),
    ('"phrase alpha beta"', "phrase", {}),
    ('"alpha" NOT "beta"', "boolean", {}),
    ("term0001 zzzznotacorpusword", "disjunctive", {}),
    ("zzzznotacorpusword qqqqnotaword", "conjunctive", {}),
]


@pytest.fixture(scope="module")
def local_multi(spark, three_segments):
    return MultiIndex(spark, three_segments)


@pytest.fixture(scope="module")
def spark_multi(spark, three_segments):
    return MultiIndex(spark, three_segments)


@pytest.fixture(scope="module")
def updated_roots(base_root, update_segment):
    return [base_root, update_segment]


def test_multi_open_launches_no_job(spark, three_segments, updated_roots):
    """N and Σdl come from the segments' doclen tables and shadow
    sidecars, read on the driver (their exactness is pinned by
    test_multi_index and test_update)."""
    for roots in (three_segments, updated_roots):
        multi, jobs = _jobs(spark, lambda: MultiIndex(spark, roots))
        assert jobs == 0
    assert multi._shadow_keys[1]  # the update segment's sidecar was read


def test_warm_launches_no_job(spark, sm_index_dir, three_segments):
    """warm() lists the files the driver-local path reads, on both
    readers, without a Spark job."""
    single = CompressedIndex(spark, sm_index_dir)
    multi = MultiIndex(spark, three_segments)
    for ix, segs in ((single, [single]), (multi, multi.segments)):
        _, jobs = _jobs(spark, ix.warm)
        assert jobs == 0
        assert all(seg._listing["postings"] for seg in segs)


def test_multi_reference_queries_match_spark_plan(spark, three_segments, spark_multi, spark_plan):
    """All 30 reference queries over three segments, on a fresh reader
    (cold idf): the local path gives the Spark plan's rows and counts
    with zero jobs."""
    local = MultiIndex(spark, three_segments)
    for q in REFERENCE_QUERIES:
        args = (q["query_text"], q["mode"])
        (got, n), jobs = _jobs(
            spark, lambda: (_rows(local.topk(*args, k=q["k"])), local.match_count(*args))
        )
        assert jobs == 0, q
        assert got == spark_plan(lambda: _rows(spark_multi.topk(*args, k=q["k"]))), q
        assert n == spark_plan(lambda: spark_multi.match_count(*args)), q


@pytest.mark.parametrize("query, mode, kwargs", _MULTI_OPTIONS)
def test_multi_query_options_match_spark_plan(spark, local_multi, spark_multi, spark_plan, query, mode, kwargs):
    k = kwargs.pop("k", 10)
    got, jobs = _jobs(spark, lambda: _rows(local_multi.topk(query, mode, k=k, **kwargs)))
    assert jobs == 0
    assert got == spark_plan(lambda: _rows(spark_multi.topk(query, mode, k=k, **kwargs)))
    kwargs.pop("algo", None)
    assert local_multi.match_count(query, mode, **kwargs) == spark_plan(
        lambda: spark_multi.match_count(query, mode, **kwargs)
    )


def test_multi_tombstones_and_search_after_match_spark_plan(spark, three_segments, spark_multi, spark_plan):
    # a conversation of the first segment also has turns in the third
    _tombstones_and_cursor(spark, MultiIndex(spark, three_segments), spark_multi, spark_plan, "term0001 term0002")


def test_multi_batch_matches_spark_plan(spark, local_multi, spark_multi, spark_plan):
    queries = [(q["query_text"], q["mode"], q["k"]) for q in REFERENCE_QUERIES]
    queries += [("term0001^3 term0002", "disjunctive"), ("zzzznotacorpusword", "disjunctive"),
                ("", "disjunctive"), ("term0001 term0002", "disjunctive", 3)]

    def key(rows):
        return sorted(rows, key=lambda r: (r[0], -r[3], r[1], r[2]))

    got, jobs = _jobs(spark, lambda: _rows(local_multi.topk_batch(queries, k=10)))
    assert jobs == 0
    assert got
    assert key(got) == key(spark_plan(lambda: _rows(spark_multi.topk_batch(queries, k=10))))
    assert sum(r[0] == len(queries) - 1 for r in got) == 3


def test_multi_idf_and_shadow_df_match_spark_plan(spark, three_segments, updated_roots, corpora, spark_plan):
    """Summed df and idf, and on an update segment the shadow-corrected
    df, on fresh readers: local (zero jobs) equals the Spark plan."""
    pdf, _, delta = corpora
    shadowed = pdf.merge(delta[["conv_id", "turn_idx"]], on=["conv_id", "turn_idx"])
    terms = sorted({t for text in shadowed["text"] for t in analyze_text(text)})
    terms += ["term0001", "term0002", "zebra", "nosuchterm0xyz"]
    for roots in (three_segments, updated_roots):
        local = MultiIndex(spark, roots)
        (idf, df), jobs = _jobs(spark, lambda: (local.idf_map(terms), local.df_map(terms)))
        assert jobs == 0
        remote = MultiIndex(spark, roots)
        assert idf == spark_plan(lambda: remote.idf_map(terms))
        assert df == spark_plan(lambda: remote.df_map(terms))
    corr = local._shadow_df_counts(terms)
    assert any(corr.values())
    assert corr == spark_plan(lambda: remote._shadow_df_counts(terms))


def test_multi_update_segment_matches_spark_plan(spark, updated_roots, spark_plan):
    """Reads over a base plus an update segment exclude the shadowed
    turns on both paths alike, user tombstones and batches included."""
    local = MultiIndex(spark, updated_roots)
    remote = MultiIndex(spark, updated_roots)
    queries = [("term0001 term0002", "disjunctive"), ("updated special zebra", "disjunctive"),
               ('"phrase alpha beta"', "phrase"), ('"alpha" AND "beta"', "boolean")]
    for q in queries:
        got, jobs = _jobs(spark, lambda: (_rows(local.topk(*q, k=10)), local.match_count(*q)))
        assert jobs == 0, q
        assert got == spark_plan(lambda: (_rows(remote.topk(*q, k=10)), remote.match_count(*q))), q
    dead = ["conv-000001", ("conv-000002", 1)]
    got, jobs = _jobs(spark, lambda: _rows(local.topk_batch(queries, k=10, tombstones=dead)))
    assert jobs == 0
    assert sorted(got) == sorted(spark_plan(lambda: _rows(remote.topk_batch(queries, k=10, tombstones=dead))))


def test_multi_over_budget_query_takes_spark_plan(spark, three_segments, monkeypatch):
    """The budget holds for the files of ALL segments together: a budget
    that fits every segment's files alone but not their sum sends the
    query to the Spark plan, which gives the same rows."""
    multi = MultiIndex(spark, three_segments)
    q, terms = "term0001 term0002", ["term0001", "term0002"]
    want, jobs = _jobs(spark, lambda: _rows(multi.topk(q, k=10)))
    assert jobs == 0 and want
    sizes = [sum(map(os.path.getsize, seg._local_files("postings", terms))) for seg in multi.segments]
    assert max(sizes) < sum(sizes) - 1
    monkeypatch.setattr(reader, "LOCAL_BUDGET_BYTES", sum(sizes) - 1)
    got, jobs = _jobs(spark, lambda: _rows(multi.topk(q, k=10)))
    assert got == want
    assert jobs > 0


def test_multi_scoped_query_takes_spark_plan(spark, local_multi, xs_corpus):
    users = xs_corpus[xs_corpus.role == "user"][["conv_id", "turn_idx"]]
    scope = spark.createDataFrame(users)
    allowed = set(users.itertuples(index=False, name=None))
    q = "term0001 term0002"
    got, jobs = _jobs(spark, lambda: _rows(local_multi.topk(q, k=10, scope=scope)))
    assert jobs > 0
    assert got and all((c, t) in allowed for c, t, _s in got)
    n, jobs = _jobs(spark, lambda: local_multi.match_count(q, scope=scope))
    assert jobs > 0
    assert 0 < n <= local_multi.match_count(q)
