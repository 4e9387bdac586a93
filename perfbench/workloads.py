"""The benchmark's workloads.

Each drives the engine through its public API from outside the package,
checks every answer against the pure-Python oracle outside the timed
regions and returns its metrics.  One process, one closed-loop client,
no think time; Spark runs ``local[nproc]`` with ``nproc`` shuffle
partitions.

End-to-end metrics (every workload reports each, with tracing off):

==================== =========================== ============================
metric               serve                       ingest
==================== =========================== ============================
setup_s              Spark start, median open,   Spark start, base commit,
                     warm-up requests            median open
topk_p50_ms          warm CompressedIndex.topk   fresh MultiIndex.topk
op_p50_ms            service.search page 1       freshness: commit + open
throughput_per_s     queries answered / s        turns ingested / s
bytes_per_text_byte  index bytes / text byte     bytes written / text byte
==================== =========================== ============================

The traced run (``--trace 1``) repeats the workload with spans around the
calls into each module's public functions and reports per-layer metrics.
``reader.*`` metrics time the reader that answers the workload's queries:
``CompressedIndex`` (module ``index.reader``) on serve, ``MultiIndex``
(module ``index.multi``) on ingest.
"""

from __future__ import annotations

import hashlib
import os
import pickle
import shutil
import subprocess
import time
from contextlib import contextmanager

import numpy as np
import pandas as pd

from . import inputs
from .measure import (
    JobCounter, Tracer, cores, dir_bytes, host_state, layer_self_times,
    median, span_cost_s, steal_share, summary,
)

WORK_DIR = ".perfbench_work"
CACHE_DIR = ".perfbench_cache"
SERVE_SCALE = "sm"
K = 10
SCORE_TOL = 1e-9
# ingest: conversations per delta batch (25 turns each) and the live
# segment count that triggers a fold.  Set-up commits the base batch, so
# every timed commit builds its delta and folds it with the live segment.
INGEST_CONVS = 40
MAX_SEGMENTS = 2
READS_PER_COMMIT = 16
READ_SLOTS = ("ref", "disjunctive", "conjunctive", "phrase")
ANALYZE_SAMPLE = 300
SETUP_REPEATS = 3
# top-k requests sent before timing starts: the JVM compiles the query
# path over the first requests, and later runs would otherwise differ by
# how far that had got
WARMUP_TOPK = 12


class Run:
    """One benchmark run: Spark session, tracer, job counter, the
    correctness tally and the report printed before the result line."""

    def __init__(self, root: str, workload: str, seed: int, seconds: float, trace: bool):
        self.root = root
        self.seed = seed
        self.seconds = seconds
        self.tracer = Tracer(trace)
        self.work = os.path.join(root, WORK_DIR, f"{workload}-{os.getpid()}")
        self.attempted = 0
        self.failed = 0
        self.mismatches: list[str] = []
        self.report: dict = {"workload": workload, "seed": seed, "trace": int(trace),
                             "host_start": host_state()}
        self.spark = None
        self.jobs = JobCounter()
        self.config = None
        self._t0 = time.perf_counter()

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    # -- Spark -------------------------------------------------------------

    def start_spark(self) -> float:
        """Start ``local[nproc]`` sized to this host; returns seconds."""
        from search_engine_spark.config import BuildConfig
        from search_engine_spark.session import get_spark

        n = cores()
        mem_gb = max(1, min(4, int(self.report["host_start"]["ram_gb"] // 4)))
        local = os.path.join(self.work, "spark-local")
        os.makedirs(local, exist_ok=True)
        os.environ["SPARK_LOCAL_DIRS"] = local
        t0 = time.perf_counter()
        with self.tracer.span("session.start"):
            self.spark = get_spark(
                "perfbench", cores=n, shuffle_partitions=n,
                extra_conf={
                    "spark.driver.memory": f"{mem_gb}g",
                    "spark.local.dir": local,
                    "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                    "spark.driver.extraJavaOptions":
                        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
                    "spark.ui.showConsoleProgress": "false",
                },
            )
        start_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jobs.attach(self.spark.sparkContext)
        self.config = BuildConfig(shuffle_partitions=n)
        self.report["spark"] = {"cores": n, "shuffle_partitions": n, "driver_memory_gb": mem_gb}
        return start_s

    def stop_spark(self) -> None:
        """Stop Spark and wait for its JVM to exit, so the next
        :meth:`start_spark` launches a fresh one."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        self.spark = None

    def close(self) -> None:
        """Stop Spark and remove the work dir."""
        self.stop_spark()
        shutil.rmtree(self.work, ignore_errors=True)
        self.report["host_end"] = host_state()
        self.report["steal_share"] = steal_share(self.report["host_start"], self.report["host_end"])
        self.mark("closed")

    def mark(self, phase: str) -> None:
        """Seconds since the run started at which ``phase`` ended."""
        self.report.setdefault("timeline_s", {})[phase] = round(time.perf_counter() - self._t0, 2)

    # -- correctness -------------------------------------------------------

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.mismatches) < 5:
                self.mismatches.append(what)

    def check_topk(self, rows: list, expected: list, what: str) -> None:
        got = [((r["conv_id"], int(r["turn_idx"])), float(r["score"])) for r in rows]
        ok = len(got) == len(expected) and all(
            gk == ek and abs(gs - es) <= SCORE_TOL
            for (gk, gs), (ek, es) in zip(got, expected)
        )
        self.check(ok, f"{what}: got {got[:3]} expected {expected[:3]}")

    # -- traced-run helpers ------------------------------------------------

    def instrumented(self):
        """Spans around the calls into each module's public functions
        (a no-op when tracing is off)."""
        from contextlib import ExitStack

        from search_engine_spark import service
        from search_engine_spark.index import build, extend, multi, reader
        from search_engine_spark.streaming import ingest

        def cold(self_, terms, *a, **k):
            cache = getattr(self_, "_idf_cache", {})
            return {"cold": any(t not in cache for t in terms)}

        tr, stack = self.tracer, ExitStack()
        for owner, attr, name, counts in (
            (reader, "parse_query", "textproc.parse_query", None),
            (multi, "parse_query", "textproc.parse_query", None),
            (reader.CompressedIndex, "idf_map", "index.reader.idf", cold),
            (reader.CompressedIndex, "topk", "index.reader.plan", None),
            (reader.CompressedIndex, "match_count", "index.reader.match_count", None),
            (reader.CompressedIndex, "topk_batch", "index.reader.batch_plan", None),
            (multi.MultiIndex, "idf_map", "index.multi.idf", cold),
            (multi.MultiIndex, "topk", "index.multi.plan", None),
            (service, "search", "service.search", None),
            (build.IndexBuilder, "stage", "index.build.stage", None),
            (build.IndexBuilder, "build_fused", "index.build.fused", None),
            (build, "finalize_index", "index.build.finalize", None),
            (ingest.SegmentStreamIndexer, "process_batch", "streaming.ingest.commit", None),
        ):
            stack.enter_context(tr.instrument(owner, attr, name, counts))
        for owner, attr, name in (
            (build, "build_index", "index.build.build"),
            (extend, "compact_segments", "index.extend.compact"),
        ):
            stack.enter_context(tr.instrument(owner, attr, name, jobs=self.jobs))
        return stack

    @contextmanager
    def request(self, request_id: str, kind: str, count_jobs: bool | None = None):
        """One timed request: the root span of its trace and, when its
        jobs are counted (by default in a traced run), its own Spark job
        group.  The group is cleared when the request ends, so untimed
        work after it (probes, checks) is not counted to it."""
        count = self.traced if count_jobs is None else count_jobs
        gid = self.jobs.start(kind) if count else None
        try:
            with self.tracer.request_scope(request_id) as req:
                if req is not None:
                    req.counts.update(kind=kind, group=gid)
                yield req
        finally:
            if gid is not None:
                self.jobs.resume(None)

    def analyze_turns_per_s(self, texts: list[str]) -> float:
        """``analyze_text`` over a seeded sample of turns on one thread,
        with one stem cache per pass as the build's fragment kernel keeps
        one per partition; median of three passes."""
        from search_engine_spark.textproc.pipeline import analyze_text

        rng = np.random.default_rng(self.seed)
        sample = [texts[i] for i in rng.choice(len(texts), size=min(ANALYZE_SAMPLE, len(texts)),
                                               replace=False)]
        rates = []
        for _ in range(3):
            cache: dict[str, str] = {}
            t0 = time.perf_counter()
            for t in sample:
                analyze_text(t if isinstance(t, str) else "", _stem_cache=cache)
            rates.append(len(sample) / (time.perf_counter() - t0))
        return median(rates)

    def kernel_probe(self, ix, query: tuple[str, str], sources: list, with_ties: bool) -> dict:
        """Pull a query's postings once (untimed), count rows and bytes,
        then time the reader's own per-group scoring on them in-process:
        ``_build_plists`` and ``_score_spec``, which dispatch to the
        public kernels.  ``ix`` is the reader that answered the query,
        ``sources`` the CompressedIndex segments that hold its postings,
        ``with_ties`` as that reader runs its kernels."""
        from search_engine_spark.index.reader import (
            _build_plists, _fetch_terms, _score_spec, _weighted_idf, parse_query,
        )

        spec = ix._resolve_spec(parse_query(*query))
        if spec is None:
            return {}
        idf = _weighted_idf(ix.idf_map(spec.score_terms), spec)
        frames = [seg.postings_df(_fetch_terms(spec)).toPandas() for seg in sources]
        rows = sum(len(f) for f in frames)
        nbytes = sum(
            int(f[c].map(lambda b: len(b) if b is not None else 0).sum())
            for f in frames for c in ("doc_blob", "tf_blob", "dl_blob", "pos_blob")
        )
        t0 = time.perf_counter()
        for f in frames:
            for _, gdf in f.groupby("group"):
                plists = _build_plists(gdf, idf, ix.avgdl)
                _score_spec(spec, idf, plists, ix.avgdl, K, "auto", with_ties)
        return {"score_ms": (time.perf_counter() - t0) * 1e3, "rows": rows, "bytes": nbytes}

    def read_layers(self, reader: str, probes: list[dict]) -> dict:
        """Per-query read-path metrics from the spans of top-k requests,
        named ``reader.*`` (see the module docstring)."""
        spans = self.tracer.spans
        req_ids = {s.request for s in spans if s.name == "request" and s.counts.get("kind") == "topk"}

        def ms(name, pred=lambda s: True):
            xs = [(s.end - s.start) * 1e3 for s in spans
                  if s.name == name and s.request in req_ids and pred(s)]
            return median(xs) if xs else 0.0

        idf_cold = ms(f"{reader}.idf", lambda s: s.counts.get("cold"))
        counts = [s.counts for s in spans if s.name == "request" and s.request in req_ids]
        out = {
            "reader.idf_ms": idf_cold or ms(f"{reader}.idf"),
            "reader.plan_ms": ms(f"{reader}.plan"),
            "reader.exec_ms": ms(f"{reader}.exec"),
            "textproc.parse_query_us": ms("textproc.parse_query") * 1e3,
        }
        for key in ("jobs", "stages", "tasks"):
            out[f"reader.{key}_per_query"] = median([c[key] for c in counts]) if counts else 0.0
        if probes:
            out["index.kernels.score_ms"] = median([p["score_ms"] for p in probes])
            out["reader.postings_rows_per_query"] = median([p["rows"] for p in probes])
            out["reader.postings_bytes_per_query"] = median([p["bytes"] for p in probes])
        cold = [c["jobs"] for c in counts if c.get("idf_cold")]
        warm = [c["jobs"] for c in counts if not c.get("idf_cold")]
        self.report[f"{reader}.jobs_per_query_warm"] = median(warm) if warm else None
        self.report[f"{reader}.jobs_per_query_cold_idf"] = median(cold) if cold else None
        return out

    def resolve_request_counts(self) -> None:
        """Attach each traced request's job, stage and task counts (read
        after the run, outside every timed region)."""
        by_req: dict[str, bool] = {}
        for s in self.tracer.spans:
            if s.name.endswith(".idf") and s.counts.get("cold") and s.request:
                by_req[s.request] = True
        for s in self.tracer.spans:
            if "group" in s.counts:
                s.counts.update(self.jobs.counts(s.counts["group"]))
            if s.name == "request":
                s.counts["idf_cold"] = by_req.get(s.request, False)

    def build_layers(self) -> dict:
        """Median per ``build_index`` call of its phase spans and counts."""
        spans = self.tracer.spans
        builds = [s for s in spans if s.name == "index.build.build"]

        def phase(b, name):
            return sum(s.end - s.start for s in spans if s.name == name and s.parent == b.id)

        def med(f):
            return median([f(b) for b in builds]) if builds else 0.0

        return {
            "index.build.stage_s": med(lambda b: phase(b, "index.build.stage")),
            "index.build.fused_s": med(lambda b: phase(b, "index.build.fused")),
            "index.build.finalize_s": med(lambda b: phase(b, "index.build.finalize")),
            "index.build.jobs": med(lambda b: b.counts.get("jobs", 0)),
            "index.build.tasks": med(lambda b: b.counts.get("tasks", 0)),
            "index.build.bytes_written": med(lambda b: b.counts.get("bytes_written", 0)),
        }

    def trace_layers(self, spans_per_request: float) -> dict:
        """Self time per layer inside request spans, the share no layer
        span covers, and the estimated cost of the spans themselves."""
        spans = self.tracer.spans
        reqs = [s for s in spans if s.name == "request"]
        total = sum(s.end - s.start for s in reqs)
        per_layer = layer_self_times(spans)
        self.report["self_ms_per_request"] = {
            k: round(v * 1e3 / max(1, len(reqs)), 3) for k, v in sorted(per_layer.items())
        }
        self.report["self_time_accounted_share"] = sum(per_layer.values()) / total if total else None
        cost = span_cost_s() * spans_per_request
        return {
            "trace.unattributed_share": per_layer.get("request", 0.0) / total if total else 0.0,
            "trace.overhead_ms_per_request": cost * 1e3,
        }

    def dump_trace(self) -> None:
        if self.traced:
            out = os.path.join(self.root, WORK_DIR, f"trace-{self.report['workload']}-{self.seed}.jsonl")
            self.tracer.dump(out)
            self.report["trace_file"] = os.path.relpath(out, self.root)


# -- shared inputs ---------------------------------------------------------


def _source_hash(root: str) -> str:
    """Digest of the engine's source, the key of everything cached."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "search_engine_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if not f.endswith(".pyc"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return h.hexdigest()[:16]


def cached_oracle(root: str, name: str, pdf: pd.DataFrame):
    """The oracle index of a fixed corpus, built once per checkout and
    engine version (it is pure Python and slow) and reused by later runs."""
    from search_engine_spark.oracle import build_oracle_index

    os.makedirs(os.path.join(root, CACHE_DIR), exist_ok=True)
    path = os.path.join(root, CACHE_DIR, f"oracle-{name}-{_source_hash(root)}.pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    orc = build_oracle_index(pdf)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "wb") as f:
        pickle.dump(orc, f, protocol=pickle.HIGHEST_PROTOCOL)
    os.replace(tmp, path)
    return orc


def _text_bytes(pdf: pd.DataFrame) -> int:
    return int(sum(len(t.encode()) for t in pdf["text"] if isinstance(t, str)))


def _spark_df(spark, pdf: pd.DataFrame):
    from search_engine_spark.corpus import TRANSCRIPTS_SCHEMA

    safe = pdf.copy()
    for c in ("conv_id", "role", "text", "tool"):
        safe[c] = pdf[c].astype(object).where(pdf[c].notna(), None)
    return spark.createDataFrame(safe, schema=TRANSCRIPTS_SCHEMA)


# -- serve -----------------------------------------------------------------


def serve(run: Run) -> dict:
    """Warm interactive reads on the fixture corpus (seed 42): rounds of
    top-k requests with a fixed share of enriched search pages and one
    batch of queries, until ``seconds`` of request time have passed."""
    from search_engine_spark import service
    from search_engine_spark.corpus import REFERENCE_QUERIES, generate_transcripts
    from search_engine_spark.index import build
    from search_engine_spark.index.reader import CompressedIndex
    from search_engine_spark.oracle import oracle_topk

    pdf = generate_transcripts(SERVE_SCALE)
    texts = list(pdf["text"].astype(object))
    oracle = cached_oracle(run.root, SERVE_SCALE, pdf)
    run.mark("inputs")
    gen = inputs.QueryGen(run.seed, inputs.vocabulary(texts), texts, REFERENCE_QUERIES)
    expected: dict[tuple[str, str], list] = {}

    def oracle_of(q: tuple[str, str]) -> list:
        if q not in expected:
            expected[q] = oracle_topk(oracle, q[0], q[1], K)
        return expected[q]

    # the fixture index is built on a checkout's first run and reused by
    # later ones (its build cost is measured on every ingest commit), in a
    # Spark session of its own that is stopped before set-up is timed
    cached = os.path.join(run.root, CACHE_DIR,
                          f"serve-{SERVE_SCALE}-{cores()}-{_source_hash(run.root)}")
    if not os.path.isdir(cached):
        _build_serve_index(run, cached)
    tr = run.tracer
    with run.instrumented():
        start_s = run.start_spark()
        t0 = time.perf_counter()
        transcripts = run.spark.read.parquet(os.path.join(cached, "corpus.parquet"))
        ready_s = start_s + time.perf_counter() - t0
        # open the index (repeated; the median counts), then warm up with
        # one request of each kind and WARMUP_TOPK top-k requests, so lazy
        # set-up inside the engine is paid here, not by timed requests
        opens = []
        for _ in range(SETUP_REPEATS):
            a = time.perf_counter()
            ix = CompressedIndex(run.spark, os.path.join(cached, "index"))
            ix.warm()
            opens.append(time.perf_counter() - a)
        a = time.perf_counter()
        refs = [(q["query_text"], q["mode"]) for q in REFERENCE_QUERIES[:WARMUP_TOPK]]
        service.search(ix, transcripts, *refs[0], k=K, page=1)
        ix.topk_batch(refs[:1], k=K).collect()
        for ref in refs:
            ix.topk(*ref, k=K).collect()
        warmup_s = time.perf_counter() - a
        setup_s = ready_s + median(opens) + warmup_s
        run.report["setup_parts_s"] = {"ready": ready_s, "opens": opens, "warmup": warmup_s}
        run.mark("setup")

        lat: dict[str, list[float]] = {"topk": [], "search": [], "batch": []}
        answered, busy, n_req, probes = 0, 0.0, 0, []
        while busy < run.seconds:
            for kind, payload in inputs.serve_round(gen):
                n_req += 1
                with run.request(f"q{n_req}", kind):
                    a = time.perf_counter()
                    if kind == "topk":
                        df = ix.topk(payload[0], payload[1], k=K)
                        with tr.span("index.reader.exec"):
                            out = df.collect()
                    elif kind == "search":
                        out = service.search(ix, transcripts, payload[0], payload[1], k=K, page=1)
                    else:
                        df = ix.topk_batch(payload, k=K)
                        with tr.span("index.reader.batch_exec"):
                            out = df.collect()
                    dt = time.perf_counter() - a
                busy += dt
                lat[kind].append(dt)
                if kind == "topk":
                    answered += 1
                    run.check_topk(out, oracle_of(payload), f"topk {payload}")
                    if run.traced and len(probes) < 12:
                        probes.append(run.kernel_probe(ix, payload, [ix], with_ties=False))
                elif kind == "search":
                    answered += 1
                    run.check_topk(out["results"], oracle_of(payload), f"search {payload}")
                else:
                    answered += len(payload)
                    by_q: dict[int, list] = {}
                    for r in sorted(out, key=lambda r: (r["query_id"], -r["score"], r["conv_id"], r["turn_idx"])):
                        by_q.setdefault(r["query_id"], []).append(r)
                    for i, q in enumerate(payload):
                        run.check_topk(by_q.get(i, []), oracle_of(q), f"batch {q}")

    run.mark("requests")
    index_bytes = dir_bytes(os.path.join(cached, "index"))
    e2e = {
        "setup_s": (setup_s, "s"),
        "topk_p50_ms": (median(lat["topk"]) * 1e3, "ms"),
        "op_p50_ms": (median(lat["search"]) * 1e3, "ms"),
        "throughput_per_s": (answered / busy, "1/s"),
        "bytes_per_text_byte": (index_bytes / _text_bytes(pdf), "B/B"),
    }
    top, search = summary([x * 1e3 for x in lat["topk"]]), summary([x * 1e3 for x in lat["search"]])
    run.report["samples_ms"] = {k: [round(x * 1e3, 1) for x in v] for k, v in lat.items()}
    run.report["workload_metrics"] = {
        "topk_p50_ms": top.get("p50"), "topk_tail": top, "search_p50_ms": search.get("p50"),
        "search": search, "batch_qps": len(lat["batch"]) * inputs.BATCH_SIZE / sum(lat["batch"]),
        "index_bytes_per_text_byte": e2e["bytes_per_text_byte"][0],
    }
    layers: dict = {}
    if run.traced:
        # the index.build layer: one build of the fixture corpus, after
        # the requests and outside every end-to-end metric
        with run.instrumented():
            build.build_index(run.spark, transcripts, os.path.join(run.work, "index"), run.config)
        layers = _serve_layers(run, start_s, texts, probes)
    return {"e2e": e2e, "layers": layers}


def _build_serve_index(run: Run, cached: str) -> None:
    """Write the fixture corpus and its index to ``cached``; the index
    must pass ``check_index``."""
    from search_engine_spark.corpus import write_transcripts_parquet
    from search_engine_spark.index import build
    from search_engine_spark.index.check import check_index

    run.start_spark()
    tmp = f"{cached}.{os.getpid()}.tmp"
    os.makedirs(tmp)
    write_transcripts_parquet(os.path.join(tmp, "corpus.parquet"), SERVE_SCALE)
    build.build_index(run.spark, run.spark.read.parquet(os.path.join(tmp, "corpus.parquet")),
                      os.path.join(tmp, "index"), run.config)
    audit = check_index(run.spark, os.path.join(tmp, "index"))
    run.check(audit["ok"], f"check_index: {audit['errors'][:3]}")
    if not audit["ok"]:
        raise RuntimeError(f"the built index fails check_index: {audit['errors'][:3]}")
    os.replace(tmp, cached)
    run.stop_spark()


def _serve_layers(run: Run, start_s: float, texts: list[str], probes: list[dict]) -> dict:
    run.resolve_request_counts()
    spans = run.tracer.spans
    layers = {"session.start_s": start_s,
              "textproc.analyze_turns_per_s": run.analyze_turns_per_s(texts)}
    layers.update(run.build_layers())
    layers.update(run.read_layers("index.reader", [p for p in probes if p]))
    searches = [s for s in spans if s.name == "service.search"]
    inner = {"index.reader.plan", "index.reader.match_count"}
    enrich = [
        (s.end - s.start) - sum(c.end - c.start for c in spans if c.parent == s.id and c.name in inner)
        for s in searches
    ]
    search_reqs = [s.counts for s in spans if s.name == "request" and s.counts.get("kind") == "search"]
    run.report["layers_extra"] = {
        "service.search_ms": median([(s.end - s.start) * 1e3 for s in searches]) if searches else None,
        "service.enrich_ms": median(enrich) * 1e3 if enrich else None,
        "service.jobs_per_search": median([c["jobs"] for c in search_reqs]) if search_reqs else None,
        "index.reader.match_count_ms": _median_ms(spans, "index.reader.match_count"),
        "index.reader.batch_exec_ms": _median_ms(spans, "index.reader.batch_exec"),
    }
    n_req = sum(1 for s in spans if s.name == "request")
    layers.update(run.trace_layers(sum(1 for s in spans if s.request) / max(1, n_req) - 1))
    run.dump_trace()
    return layers


def _median_ms(spans, name: str) -> float | None:
    xs = [(s.end - s.start) * 1e3 for s in spans if s.name == name]
    return median(xs) if xs else None


# -- ingest ----------------------------------------------------------------


def ingest(run: Run) -> dict:
    """The LSM write path with reads alongside: seeded delta batches go
    through ``SegmentStreamIndexer.process_batch``; after each commit the
    live ``MultiIndex`` is opened and queried.  Set-up commits the base
    batch.  Every timed commit starts from a copy of the live index that
    set-up left, builds one delta batch and folds it with the base
    segment, so each commit does the same work however many fit in
    ``seconds`` of commit time."""
    from search_engine_spark.corpus import REFERENCE_QUERIES
    from search_engine_spark.oracle import build_oracle_index, oracle_topk
    from search_engine_spark.streaming.ingest import SegmentStreamIndexer

    seeds = inputs.batch_seeds(run.seed, 64)
    # batches[0] is the base, batches[b] the delta of timed commit b
    batches = [inputs.ingest_batch(seeds[0], 0, INGEST_CONVS)]
    base_dir = os.path.join(run.work, "base")
    tr = run.tracer
    with run.instrumented():
        t0 = time.perf_counter()
        start_s = run.start_spark()
        indexer = SegmentStreamIndexer(run.spark, base_dir, run.config, max_segments=MAX_SEGMENTS)
        indexer.process_batch(_spark_df(run.spark, batches[0]), 0)
        ready_s = time.perf_counter() - t0
        opens = []
        for _ in range(SETUP_REPEATS):
            a = time.perf_counter()
            live = indexer.open()
            live.warm()
            opens.append(time.perf_counter() - a)
        setup_s = ready_s + median(opens)
        run.report["setup_parts_s"] = {"ready": ready_s, "opens": opens}
        run.mark("setup")

        fresh, commit_s, reads, live_segs, probes, answers, commits = [], [], [], [], [], [], []
        text_bytes = 0
        while sum(fresh) < run.seconds:
            b = len(batches)
            batches.append(inputs.ingest_batch(seeds[b], b, INGEST_CONVS))
            df = _spark_df(run.spark, batches[b])
            live_dir = os.path.join(run.work, f"live-{b}")
            shutil.copytree(base_dir, live_dir)
            indexer = SegmentStreamIndexer(run.spark, live_dir, run.config, max_segments=MAX_SEGMENTS)
            first_group = len(run.jobs.groups)
            with run.request(f"c{b}", "commit", count_jobs=True):
                a = time.perf_counter()
                indexer.process_batch(df, b)
                c = time.perf_counter()
                with tr.span("index.multi.open"):
                    live = indexer.open()
                    live.warm()
                fresh.append(time.perf_counter() - a)
            commit_s.append(c - a)
            commits.append({
                k: sum(run.jobs.counts(g)[k] for g in run.jobs.groups[first_group:])
                for k in ("jobs", "bytes_written")
            })
            text_bytes += _text_bytes(batches[b])
            live_segs.append(len(live.segments))
            texts = [t for p in (batches[0], batches[b]) for t in p["text"].astype(object)]
            gen = inputs.QueryGen(seeds[b], inputs.vocabulary(texts), texts, REFERENCE_QUERIES)
            for i in range(READS_PER_COMMIT):
                q = gen.next(READ_SLOTS[i % len(READ_SLOTS)])
                with run.request(f"c{b}q{i}", "topk"):
                    a = time.perf_counter()
                    res = live.topk(q[0], q[1], k=K)
                    with tr.span("index.multi.exec"):
                        out = res.collect()
                    reads.append(time.perf_counter() - a)
                answers.append((b, q, out))
                if run.traced:
                    probes.append(run.kernel_probe(live, q, live.segments, with_ties=True))

    run.mark("commits")
    # every read is checked against the oracle over the batches its live
    # index holds: the base and the commit's delta
    oracles: dict[int, object] = {}
    for b, q, out in answers:
        if b not in oracles:
            oracles[b] = build_oracle_index(pd.concat([batches[0], batches[b]], ignore_index=True))
        run.check_topk(out, oracle_topk(oracles[b], q[0], q[1], K), f"live topk after batch {b} {q}")

    run.mark("checks")
    turns = sum(len(p) for p in batches[1:])
    e2e = {
        "setup_s": (setup_s, "s"),
        "topk_p50_ms": (median(reads) * 1e3, "ms"),
        "op_p50_ms": (median(fresh) * 1e3, "ms"),
        "throughput_per_s": (turns / sum(commit_s), "1/s"),
        "bytes_per_text_byte": (sum(c["bytes_written"] for c in commits) / text_bytes, "B/B"),
    }
    run.report["workload_metrics"] = {
        "ingest_turns_per_s": e2e["throughput_per_s"][0],
        "freshness_p50_s": median(fresh),
        "freshness_s": summary(fresh),
        "fresh_topk_p50_ms": e2e["topk_p50_ms"][0],
        "fresh_topk_ms": summary([x * 1e3 for x in reads]),
        "write_amp": e2e["bytes_per_text_byte"][0],
        "commits": len(fresh),
    }
    layers: dict = {}
    if run.traced:
        texts = [t for p in batches for t in p["text"].astype(object)]
        layers = _ingest_layers(run, start_s, texts, live_segs, commits, [p for p in probes if p])
    return {"e2e": e2e, "layers": layers}


def _ingest_layers(run: Run, start_s: float, texts: list[str], live_segs: list[int],
                   commits: list[dict], probes: list[dict]) -> dict:
    run.resolve_request_counts()
    spans = run.tracer.spans
    layers = {"session.start_s": start_s,
              "textproc.analyze_turns_per_s": run.analyze_turns_per_s(texts)}
    layers.update(run.build_layers())
    layers.update(run.read_layers("index.multi", probes))
    timed = [s for s in spans if s.name == "streaming.ingest.commit" and s.request]
    compacts = [s for s in spans if s.name == "index.extend.compact"]
    folds = {s.parent: s.end - s.start for s in compacts}
    run.report["layers_extra"] = {
        "index.multi.open_s": median([s.end - s.start for s in spans if s.name == "index.multi.open"]),
        "index.multi.exec_ms": _median_ms(spans, "index.multi.exec"),
        "index.multi.live_segments": median(live_segs),
        "streaming.ingest.plain_commit_s": median([s.end - s.start - folds.get(s.id, 0.0) for s in timed]),
        "streaming.ingest.fold_commit_s": median([s.end - s.start for s in timed]),
        "streaming.ingest.jobs_per_commit": median([c["jobs"] for c in commits]),
        "index.extend.bytes_rewritten": median([s.counts["bytes_written"] for s in compacts]) if compacts else None,
    }
    n_req = sum(1 for s in spans if s.name == "request")
    layers.update(run.trace_layers(sum(1 for s in spans if s.request) / max(1, n_req) - 1))
    run.dump_trace()
    return layers
