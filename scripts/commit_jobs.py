"""Per-job table of one live-index commit, read from Spark's status store.

Reproduces one perfbench ingest commit: a base batch of 40 conversations
(25 turns each) is committed through ``SegmentStreamIndexer``, then a
second 1,000-turn delta batch is committed with ``max_segments=2``, so
the commit builds the delta segment and folds it with the base.  Every
Spark job the timed commit launches is printed with:

  job     Spark job id
  phase   the innermost engine phase running when the job was submitted
          (stage / fused / finalize / fold / commit)
  callsite  the engine line (path under search_engine_spark/) whose
          Spark action launched it
  ms      submission to completion
  tasks   tasks completed
  gap_ms  driver time between the previous job's end (or the commit's
          start) and this job's submission

followed by the totals: the commit's wall time, and the bytes it left
on disk (the delta segment plus the folded one) per delta text byte.
Run:

    SPARK_GRAFT_CPUS=4 python scripts/commit_jobs.py [--commits 3] [--json out.json]
        [--delta-turns 1000] [--budget BYTES]

The table is for the last of ``--commits`` commits (each from a copy of
the same base), so JVM warm-up is paid by the earlier ones.
``--delta-turns`` sizes the delta in steps of 1,000 turns (each step is
one perfbench-shaped batch); ``--budget`` replaces
``reader.LOCAL_BUDGET_BYTES`` for the run: -1 forces the Spark plan, a
large value keeps the commit on the driver, which is how the local
against Spark crossover is measured.
"""

from __future__ import annotations

import argparse
import contextlib
import functools
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrameReader, DataFrameWriter  # noqa: E402
from pyspark.sql.classic.dataframe import DataFrame  # noqa: E402

from perfbench.inputs import batch_seeds, ingest_batch  # noqa: E402
from perfbench.measure import dir_bytes  # noqa: E402
from search_engine_spark.config import BuildConfig  # noqa: E402
from search_engine_spark.corpus import TRANSCRIPTS_SCHEMA  # noqa: E402
from search_engine_spark.index import build, extend, reader  # noqa: E402
from search_engine_spark.session import get_spark  # noqa: E402
from search_engine_spark.streaming.ingest import SegmentStreamIndexer  # noqa: E402

CONVS = 40  # perfbench INGEST_CONVS: 1,000 turns per batch
PHASES = [
    (build.IndexBuilder, "stage", "stage"),
    (build.IndexBuilder, "build_fused", "fused"),
    (build, "finalize_index", "finalize"),
    (extend, "finalize_index", "finalize"),
    (extend, "compact_segments", "fold"),
]


ACTIONS = [
    (DataFrame, "collect"),
    (DataFrame, "count"),
    (DataFrame, "toPandas"),
    (DataFrameReader, "parquet"),
    (DataFrameWriter, "parquet"),
]
PACKAGE = os.sep + "search_engine_spark" + os.sep


def _callsite() -> str:
    """file:line of the innermost engine frame on the Python stack."""
    for frame in reversed(traceback.extract_stack()[:-2]):
        if PACKAGE in frame.filename:
            return f"{frame.filename.rsplit(PACKAGE, 1)[1]}:{frame.lineno}"
    return "?"


@contextlib.contextmanager
def labelled_jobs(sc):
    """Run every call of a PHASES function under a job group named after
    it (the innermost one wins), and every Spark action under a group
    that adds the engine line calling it: Spark's own call site is lost
    for the jobs adaptive execution submits from its own threads, but
    the job group is inherited.  Group ids are ``phase|file:line``."""
    stack = ["commit"]
    saved = []

    def set_group(site: str = "") -> None:
        gid = f"{stack[-1]}|{site}"
        sc.setJobGroup(gid, gid)

    def phase(fn, label):
        @functools.wraps(fn)
        def inner(*a, **k):
            stack.append(label)
            set_group()
            try:
                return fn(*a, **k)
            finally:
                stack.pop()
                set_group()
        return inner

    def action(fn):
        @functools.wraps(fn)
        def inner(*a, **k):
            set_group(_callsite())
            try:
                return fn(*a, **k)
            finally:
                set_group()
        return inner

    for owner, attr, label in PHASES:
        if hasattr(owner, attr):
            saved.append((owner, attr, getattr(owner, attr)))
            setattr(owner, attr, phase(getattr(owner, attr), label))
    for owner, attr in ACTIONS:
        saved.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, action(getattr(owner, attr)))
    set_group()
    try:
        yield
    finally:
        for owner, attr, fn in reversed(saved):
            setattr(owner, attr, fn)
        sc.setLocalProperty("spark.jobGroup.id", None)


def _all_jobs(sc) -> list:
    """Every job the status store holds (a Scala Seq over py4j)."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    seq = jsc.statusStore().jobsList(None)
    return [seq.apply(i) for i in range(seq.size())]


def _ms(opt) -> int | None:
    return int(opt.get().getTime()) if opt.isDefined() else None


def job_rows(sc, after_id: int, start_ms: int) -> list[dict]:
    """Jobs with id > ``after_id`` from the status store, oldest first."""
    jobs = [j for j in _all_jobs(sc) if j.jobId() > after_id]
    jobs.sort(key=lambda j: j.jobId())
    rows, prev_end = [], start_ms
    for j in jobs:
        sub, end = _ms(j.submissionTime()), _ms(j.completionTime())
        group = j.jobGroup()
        phase, _, site = (group.get() if group.isDefined() else "").partition("|")
        rows.append({
            "job": j.jobId(),
            "phase": phase,
            "callsite": site or j.name(),
            "ms": (end - sub) if sub is not None and end is not None else None,
            "tasks": j.numCompletedTasks(),
            "gap_ms": (sub - prev_end) if sub is not None else None,
        })
        prev_end = end if end is not None else prev_end
    return rows


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--commits", type=int, default=3)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--json", help="also write the table and totals here")
    ap.add_argument("--delta-turns", type=int, default=1000)
    ap.add_argument("--budget", type=int, help="LOCAL_BUDGET_BYTES for this run")
    args = ap.parse_args()
    if args.budget is not None:
        reader.LOCAL_BUDGET_BYTES = args.budget
    steps = max(1, args.delta_turns // 1000)

    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "4"))
    spark = get_spark("commit_jobs", cores=cores, shuffle_partitions=cores,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    config = BuildConfig(shuffle_partitions=cores)
    seeds = batch_seeds(args.seed, 1 + args.commits * steps)

    def frame(pdf):
        safe = pdf.copy()
        for c in ("conv_id", "role", "text", "tool"):
            safe[c] = pdf[c].astype(object).where(pdf[c].notna(), None)
        return spark.createDataFrame(safe, schema=TRANSCRIPTS_SCHEMA)

    # bytes on disk the commit writes: the delta segment (deleted by
    # the fold that follows) and the folded segment
    written: dict[str, int] = {}
    fold = extend.compact_segments

    def measured_fold(spark_, roots, out_dir, *a, **k):
        written["delta_segment"] = dir_bytes(roots[-1])
        paths = fold(spark_, roots, out_dir, *a, **k)
        written["folded_segment"] = dir_bytes(out_dir)
        return paths

    extend.compact_segments = measured_fold
    work = tempfile.mkdtemp(prefix="commit_jobs-")
    try:
        base = os.path.join(work, "base")
        SegmentStreamIndexer(spark, base, config, max_segments=2).process_batch(
            frame(ingest_batch(seeds[0], 0, CONVS)), 0)
        for b in range(1, args.commits + 1):
            parts = [ingest_batch(seeds[(b - 1) * steps + i + 1], b * 100 + i, CONVS) for i in range(steps)]
            delta = pd.concat(parts, ignore_index=True)
            df = frame(delta)
            live = os.path.join(work, f"live-{b}")
            shutil.copytree(base, live)
            indexer = SegmentStreamIndexer(spark, live, config, max_segments=2)
            last = max([j.jobId() for j in _all_jobs(sc)], default=-1)
            start_ms = int(time.time() * 1000)
            t0 = time.perf_counter()
            with labelled_jobs(sc):
                indexer.process_batch(df, b)
            wall_ms = (time.perf_counter() - t0) * 1e3
            rows = job_rows(sc, last, start_ms)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()

    print(f"{'job':>5} {'phase':<9} {'ms':>6} {'tasks':>5} {'gap_ms':>6}  callsite")
    for r in rows:
        print(f"{r['job']:>5} {r['phase']:<9} {r['ms'] if r['ms'] is not None else '-':>6} "
              f"{r['tasks']:>5} {r['gap_ms'] if r['gap_ms'] is not None else '-':>6}  {r['callsite']}")
    in_jobs = sum(r["ms"] or 0 for r in rows)
    by_phase: dict[str, list[int]] = {}
    for r in rows:
        by_phase.setdefault(r["phase"], []).append(r["ms"] or 0)
    totals = {
        "commit_ms": round(wall_ms, 1),
        "jobs": len(rows),
        "tasks": sum(r["tasks"] for r in rows),
        "ms_in_jobs": in_jobs,
        "by_phase": {p: {"jobs": len(v), "ms": sum(v)} for p, v in sorted(by_phase.items())},
        "cores": cores,
        "delta_turns": 1000 * steps,
        "disk_bytes_per_text_byte": round(
            sum(written.values()) / sum(len(t.encode()) for t in delta["text"] if isinstance(t, str)), 4
        ),
        "disk_bytes": written,
        "budget": reader.LOCAL_BUDGET_BYTES,
    }
    print(json.dumps(totals))
    if args.json:
        with open(args.json, "w") as f:
            json.dump({"jobs": rows, "totals": totals}, f, indent=1)


if __name__ == "__main__":
    main()
