"""Self-tests of the benchmark harness (no Spark):

    python -m pytest perfbench -q
"""

from __future__ import annotations

import types

import pytest

from perfbench import inputs
from perfbench.measure import Span, Tracer, layer_self_times, self_times, tail
from perfbench.workloads import Run

REFERENCE = [{"query_text": f"ref{i}", "mode": "disjunctive"} for i in range(3)]
TEXTS = ["alpha beta gamma", "beta gamma delta", "gamma delta epsilon zeta"]


@pytest.mark.parametrize("n,expected", [
    (19, None),          # the median would have only 9 samples above it
    (20, 50.0),
    (39, 50.0),
    (40, 75.0),          # rank 30 leaves exactly 10 above
    (100, 90.0),
    (199, 90.0),
    (200, 95.0),
    (1000, 99.0),
    (10000, 99.9),
])
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, expected):
    xs = list(range(n, 0, -1))  # unsorted on purpose
    got = tail(xs)
    if expected is None:
        assert got is None
        return
    pct, value = got
    assert pct == expected
    assert sum(x > value for x in xs) >= 10


def _span(i, start, end, parent=None, name="a.b"):
    return Span(id=i, name=name, start=start, end=end, parent=parent)


def test_self_time_subtracts_children_at_every_level():
    spans = [
        _span(0, 0.0, 10.0, name="request"),
        _span(1, 1.0, 4.0, 0, "index.reader.plan"),
        _span(2, 2.0, 3.0, 1, "index.reader.idf"),
        _span(3, 5.0, 9.0, 0, "service.search"),
    ]
    st = self_times(spans)
    assert st == {0: 3.0, 1: 2.0, 2: 1.0, 3: 4.0}
    layers = layer_self_times(spans)
    assert layers == {"request": 3.0, "index.reader": 3.0, "service": 4.0}
    assert sum(layers.values()) == pytest.approx(10.0)


def test_self_time_counts_overlapping_children_once():
    spans = [_span(0, 0.0, 10.0), _span(1, 1.0, 5.0, 0), _span(2, 4.0, 6.0, 0)]
    assert self_times(spans)[0] == pytest.approx(5.0)


def test_layer_self_times_ignore_spans_outside_requests():
    spans = [_span(0, 0.0, 2.0, name="index.build.build"), _span(1, 3.0, 4.0, name="request")]
    assert layer_self_times(spans) == {"request": 1.0}


def test_tracer_nests_spans_and_restores_instrumented_functions():
    mod = types.SimpleNamespace(f=lambda x: x + 1)
    orig = mod.f
    tr = Tracer(True)
    with tr.instrument(mod, "f", "mod.f", counts=lambda x: {"arg": x}):
        with tr.request_scope("r1"):
            assert mod.f(1) == 2
    assert mod.f is orig
    req, call = tr.spans
    assert (req.name, call.name) == ("request", "mod.f")
    assert call.parent == req.id and call.request == "r1" and call.counts == {"arg": 1}
    assert req.start <= call.start <= call.end <= req.end


def test_disabled_tracer_records_and_patches_nothing():
    mod = types.SimpleNamespace(f=lambda: 1)
    orig = mod.f
    tr = Tracer(False)
    with tr.instrument(mod, "f", "mod.f"):
        assert mod.f is orig
        with tr.request_scope("r1"), tr.span("x"):
            mod.f()
    assert tr.spans == []


def _stream(seed, rounds=3):
    gen = inputs.QueryGen(seed, inputs.vocabulary(TEXTS), TEXTS, REFERENCE)
    return [inputs.serve_round(gen) for _ in range(rounds)]


def test_query_stream_is_deterministic_for_a_seed():
    assert _stream(7) == _stream(7)
    assert _stream(7) != _stream(8)


def test_query_stream_mixes_reference_and_generated_queries():
    flat = [q for rnd in _stream(3, rounds=20) for kind, p in rnd
            for q in (p if kind == "batch" else [p])]
    modes = {m for _, m in flat}
    assert {"disjunctive", "conjunctive", "phrase"} <= modes
    assert any(t.startswith("ref") for t, _ in flat)
    assert all(1 <= len(t.split()) <= 4 for t, m in flat if m != "phrase")


def test_serve_round_has_fixed_mix():
    rnd = _stream(1, rounds=1)[0]
    assert [k for k, _ in rnd] == list(inputs.ROUND)
    assert len(next(p for k, p in rnd if k == "batch")) == inputs.BATCH_SIZE


def test_ingest_batches_are_deterministic_and_disjoint():
    seeds = inputs.batch_seeds(5, 3)
    assert seeds == inputs.batch_seeds(5, 3)
    a = inputs.ingest_batch(seeds[0], 0, 4)
    assert a.equals(inputs.ingest_batch(seeds[0], 0, 4))
    b = inputs.ingest_batch(seeds[1], 1, 4)
    assert len(a) == len(b) == 4 * 25
    assert not set(a["conv_id"]) & set(b["conv_id"])
    assert not a["text"].equals(b["text"])


class _FakeContext:
    """The two SparkContext calls that set and clear the job group."""

    def __init__(self):
        self.group = None

    def setJobGroup(self, gid, description):
        self.group = gid

    def setLocalProperty(self, key, value):
        assert key == "spark.jobGroup.id"
        self.group = value

    def statusTracker(self):
        return None


@pytest.mark.parametrize("trace", [True, False])
def test_request_job_group_is_cleared_when_the_request_ends(tmp_path, trace):
    run = Run(str(tmp_path), "serve", 1, 1.0, trace)
    sc = _FakeContext()
    run.jobs.attach(sc)
    with run.request("q1", "topk") as req:
        assert sc.group == (run.jobs.groups[-1] if trace else None)
        assert (req is not None) == trace
    assert sc.group is None and run.jobs.current is None
    with run.request("c1", "commit", count_jobs=True):
        assert sc.group == run.jobs.groups[-1]
    assert sc.group is None
