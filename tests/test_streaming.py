"""Structured Streaming extension tests: segment-per-batch ingestion →
live queryable index → compaction; watermarked window agg; replay
idempotence."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from search_engine_spark.config import BuildConfig
from search_engine_spark.oracle import build_oracle_index, oracle_topk
from search_engine_spark.streaming.ingest import windowed_event_counts


def test_windowed_event_counts_batch_semantics(spark):
    """The windowed agg runs identically on a batch frame (no watermark
    drops when all data is on time)."""
    ev = spark.createDataFrame(
        [
            ("2026-01-01 00:05:00", "click", 1.0),
            ("2026-01-01 00:55:00", "click", 2.0),
            ("2026-01-01 01:05:00", "view", 3.0),
        ],
        "ts_s string, event_type string, value double",
    ).select(F.col("ts_s").cast("timestamp").alias("ts"), "event_type", "value")
    rows = windowed_event_counts(ev).collect()
    got = {(str(r["window_start"]), r["event_type"]): (r["n"], r["total_value"]) for r in rows}
    assert got == {
        ("2026-01-01 00:00:00", "click"): (2, 3.0),
        ("2026-01-01 01:00:00", "view"): (1, 3.0),
    }


def test_windowed_event_counts_streaming(spark, tmp_path):
    """Run the watermarked agg as an actual stream (availableNow)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pandas as pd

    inp = tmp_path / "ev"
    inp.mkdir()
    pdf = pd.DataFrame(
        {
            "ts": pd.to_datetime(
                ["2026-01-01 00:05:00", "2026-01-01 00:55:00", "2026-01-01 01:05:00"]
            ),
            "event_type": ["click", "click", "view"],
            "value": [1.0, 2.0, 3.0],
        }
    )
    schema = pa.schema(
        [
            pa.field("ts", pa.timestamp("us")),
            pa.field("event_type", pa.string()),
            pa.field("value", pa.float64()),
        ]
    )
    pq.write_table(
        pa.Table.from_pandas(pdf, schema=schema, preserve_index=False),
        str(inp / "e.parquet"),
    )
    stream = (
        spark.readStream.schema("ts timestamp, event_type string, value double")
        .parquet(str(inp))
    )
    out = windowed_event_counts(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("winagg")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from winagg").collect()
    # append mode only emits windows closed by the watermark; with a
    # single availableNow pass the final window may be withheld — the
    # assertion is on the closed ones
    closed = {(str(r["window_start"]), r["event_type"]) for r in rows}
    assert closed <= {
        ("2026-01-01 00:00:00", "click"),
        ("2026-01-01 01:00:00", "view"),
    }


def test_dense_tie_break_survives_out_of_order_arrival(spark, tmp_path):
    """Two docs with bit-identical scores arriving in reverse (conv_id,
    turn_idx) order, each in its own segment: the group kernels must not
    cut the doc the global (conv_id, turn_idx) tie-break would keep
    (round-1 defect: group top-k tie-broke on arrival-ordered doc_id)."""
    import pandas as pd

    from search_engine_spark.streaming.ingest import SegmentStreamIndexer

    ing = SegmentStreamIndexer(spark, str(tmp_path / "ooo"), BuildConfig(num_groups=1))

    def batch(conv, ts):
        return spark.createDataFrame(
            pd.DataFrame(
                {
                    "conv_id": [conv],
                    "turn_idx": [0],
                    "role": ["user"],
                    "text": ["tiebreak target words"],
                    "tool": [""],
                    "ts": [pd.Timestamp(ts)],
                }
            )
        )

    # conv-b arrives FIRST (segment 0, doc_id 0); conv-a second (segment
    # 1, doc_id 0 too — doc ids are segment-local)
    ing.process_batch(batch("conv-b", "2026-01-01"), 0)
    ing.process_batch(batch("conv-a", "2026-01-02"), 1)
    idx = ing.open()
    assert len(idx.segments) == 2

    rows = idx.topk("tiebreak", "disjunctive", 1).collect()
    assert len(rows) == 1
    # identical text → identical BM25 score; winner must be conv-a
    assert rows[0]["conv_id"] == "conv-a"


def _scalar_merge(t, state, gap_us):
    """The one-event-at-a-time reference for merge_sorted_events."""
    start, last, n = state if state is not None else (None, None, None)
    closed = []
    for x in t:
        x = int(x)
        if start is None:
            start, last, n = x, x, 1
        elif x - last > gap_us:
            closed.append((start, last, n))
            start, last, n = x, x, 1
        else:
            last = max(last, x)
            n += 1
    return closed, (None if start is None else (start, last, n))


def test_merge_sorted_events_matches_scalar_loop():
    """Property: the vectorized gap rule is identical to the scalar loop
    for any sorted batch and any carried state (including a carried last
    AHEAD of some batch events)."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from search_engine_spark.streaming.sessionize import merge_sorted_events

    @settings(max_examples=300, deadline=None)
    @given(
        ts=st.lists(st.integers(0, 500), max_size=40),
        gap=st.integers(1, 60),
        state=st.one_of(
            st.none(),
            st.tuples(st.integers(0, 100), st.integers(0, 300), st.integers(1, 5)).map(
                lambda s: (min(s[0], s[1]), max(s[0], s[1]), s[2])
            ),
        ),
    )
    def check(ts, gap, state):
        t = np.array(sorted(ts), dtype="int64")
        got = merge_sorted_events(t, state, gap)
        want = _scalar_merge(t, state, gap)
        assert got == want

    check()


def test_stateful_sessionize_stream(spark, tmp_path):
    """applyInPandasWithState sessionization: sessions closed by a later
    in-batch gap emit immediately; the open session closes via event-time
    timeout once the watermark passes last_ts + gap."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from search_engine_spark.streaming.sessionize import sessionize_stream

    inp = tmp_path / "sess"
    inp.mkdir()
    schema = pa.schema([pa.field("user_id", pa.string()), pa.field("ts", pa.timestamp("us"))])

    def write(name, rows):
        pdf = pd.DataFrame({"user_id": [u for u, _ in rows],
                            "ts": pd.to_datetime([t for _, t in rows])})
        pq.write_table(pa.Table.from_pandas(pdf, schema=schema, preserve_index=False),
                       str(inp / name))

    # batch 1: user a has two bursts split by > 30 min (first closes
    # in-batch); user b has one open session
    write("f1.parquet", [
        ("a", "2026-01-01 00:00:00"), ("a", "2026-01-01 00:10:00"),
        ("a", "2026-01-01 01:00:00"),
        ("b", "2026-01-01 00:05:00"),
    ])
    # batch 2: far-future event advances the watermark (1h delay) past
    # every open session's last_ts + gap -> timeouts fire
    write("f2.parquet", [("c", "2026-01-01 06:00:00")])

    stream = spark.readStream.schema("user_id string, ts timestamp").parquet(str(inp))
    q = (
        sessionize_stream(stream, gap_minutes=30, watermark="1 hour")
        .writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .option("maxFilesPerTrigger", 1)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = {
        (r["user_id"], str(r["session_start"]), str(r["session_end"]), r["n_events"])
        for r in spark.sql("SELECT * FROM sessions").collect()
    }
    # a's first burst: 2 events 00:00-00:10; closed by the 01:00 event
    assert ("a", "2026-01-01 00:00:00", "2026-01-01 00:10:00", 2) in rows
    # a's second burst and b's session: closed by watermark timeout
    assert ("a", "2026-01-01 01:00:00", "2026-01-01 01:00:00", 1) in rows
    assert ("b", "2026-01-01 00:05:00", "2026-01-01 00:05:00", 1) in rows


def test_segment_stream_indexer(spark, tmp_path_factory, xs_corpus):
    """Segment-per-batch streaming: live MultiIndex reads equal the
    oracle with NO compaction step, replay is idempotent, and the
    segment fold equals the same answers on one root."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from search_engine_spark.index.reader import CompressedIndex
    from search_engine_spark.streaming.ingest import SegmentStreamIndexer

    base = tmp_path_factory.mktemp("segstream")
    inp = base / "incoming"
    inp.mkdir()
    schema = pa.schema(
        [
            pa.field("conv_id", pa.string()),
            pa.field("turn_idx", pa.int32()),
            pa.field("role", pa.string()),
            pa.field("text", pa.string()),
            pa.field("tool", pa.string()),
            pa.field("ts", pa.timestamp("us")),
        ]
    )
    third = len(xs_corpus) // 3
    for i in range(3):
        part = xs_corpus.iloc[i * third : (i + 1) * third if i < 2 else len(xs_corpus)]
        pq.write_table(
            pa.Table.from_pandas(part, schema=schema, preserve_index=False),
            str(inp / f"part{i}.parquet"),
        )

    ing = SegmentStreamIndexer(spark, str(base / "out"), BuildConfig(num_groups=2))
    q = ing.start(str(inp), trigger_available_now=True, max_files_per_trigger=1)
    q.awaitTermination(180)
    roots = ing.segment_roots()
    assert len(roots) == 3  # one live segment per micro-batch

    oracle = build_oracle_index(xs_corpus)
    probes = [
        ("term0000", "disjunctive"),
        ("term0001 term0002", "disjunctive"),
        ('"phrase alpha beta"', "phrase"),
    ]

    def check(index):
        assert index.n_docs == len(xs_corpus)
        assert index.avgdl == pytest.approx(oracle.avgdl, rel=1e-12)
        for qtext, mode in probes:
            golden = oracle_topk(oracle, qtext, mode, 10)
            got = index.topk(qtext, mode, 10).collect()
            assert [(r["conv_id"], r["turn_idx"]) for r in got] == [
                k for k, _s in golden
            ]
            for row, (_k, s) in zip(got, golden):
                assert row["score"] == pytest.approx(s, abs=1e-9)

    # live segmented reads — no compaction ran
    check(ing.open())

    # replaying a committed batch is a no-op
    before = sorted(os.listdir(ing.segments_dir))
    batch0 = spark.read.parquet(str(inp / "part0.parquet"))
    ing.process_batch(batch0, 0)
    assert sorted(os.listdir(ing.segments_dir)) == before

    # folding the segments gives one root with the same answers
    idx_dir = ing.compact()
    check(CompressedIndex(spark, idx_dir))


def test_segment_roots_ignores_tmp_and_junk(spark, tmp_path_factory):
    """In-flight .tmp builds and stray files must be invisible to readers
    (a crashed attempt used to crash the sort key)."""
    from search_engine_spark.streaming.ingest import SegmentStreamIndexer

    out = str(tmp_path_factory.mktemp("segjunk") / "out")
    ing = SegmentStreamIndexer(spark, out, BuildConfig(num_groups=2))
    os.makedirs(os.path.join(ing.segments_dir, "seg=3.tmp"))
    os.makedirs(os.path.join(ing.segments_dir, "seg=1"))  # no meta.json yet
    with open(os.path.join(ing.segments_dir, "stray.txt"), "w") as f:
        f.write("x")
    assert ing.segment_roots() == []


def test_segment_stream_auto_compaction(spark, tmp_path_factory, xs_corpus):
    """max_segments crosses mid-stream: the fold must happen inside the
    ingest loop, the manifest must expose exactly one live segment
    covering every folded batch id, replaying a FOLDED batch must be a
    no-op, and answers must be identical before/after the fold."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from search_engine_spark.streaming.ingest import SegmentStreamIndexer

    base = tmp_path_factory.mktemp("segauto")
    inp = base / "incoming"
    inp.mkdir()
    schema = pa.schema(
        [
            pa.field("conv_id", pa.string()),
            pa.field("turn_idx", pa.int32()),
            pa.field("role", pa.string()),
            pa.field("text", pa.string()),
            pa.field("tool", pa.string()),
            pa.field("ts", pa.timestamp("us")),
        ]
    )
    quarter = len(xs_corpus) // 4
    for i in range(4):
        part = xs_corpus.iloc[i * quarter : (i + 1) * quarter if i < 3 else len(xs_corpus)]
        pq.write_table(
            pa.Table.from_pandas(part, schema=schema, preserve_index=False),
            str(inp / f"part{i}.parquet"),
        )

    ing = SegmentStreamIndexer(
        spark, str(base / "out"), BuildConfig(num_groups=2), max_segments=3
    )
    q = ing.start(str(inp), trigger_available_now=True, max_files_per_trigger=1)
    q.awaitTermination(240)

    # 4 batches with max_segments=3: fold fired at batch 2 (3 live),
    # then batch 3 landed beside the folded root
    roots = ing.segment_roots()
    assert len(roots) == 2
    assert os.path.basename(roots[0]) == "seg=0-2"
    assert ing._covered(1)  # folded id is covered
    # superseded dirs are gone (best-effort cleanup ran)
    assert not os.path.exists(os.path.join(ing.segments_dir, "seg=1"))

    oracle = build_oracle_index(xs_corpus)
    idx = ing.open()
    assert idx.n_docs == len(xs_corpus)
    for qtext, mode in [("term0000", "disjunctive"), ('"phrase alpha beta"', "phrase")]:
        golden = oracle_topk(oracle, qtext, mode, 10)
        got = idx.topk(qtext, mode, 10).collect()
        assert [(r["conv_id"], r["turn_idx"]) for r in got] == [k for k, _s in golden]
        for row, (_k, s) in zip(got, golden):
            assert row["score"] == pytest.approx(s, abs=1e-9)

    # replaying a batch that was folded away must not rebuild it
    before = sorted(os.listdir(ing.segments_dir))
    batch1 = spark.read.parquet(str(inp / "part1.parquet"))
    ing.process_batch(batch1, 1)
    assert sorted(os.listdir(ing.segments_dir)) == before

    # one more fold on demand: everything into a single root
    from search_engine_spark.index.reader import CompressedIndex

    final = ing.compact()
    cidx = CompressedIndex(spark, final)
    assert cidx.n_docs == len(xs_corpus)
