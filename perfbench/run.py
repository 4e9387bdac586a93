"""Benchmark entry point.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

One workload per process.  The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.  The
line before it is the run's report: the host's cores, RAM and load1 at
start and end, every metric under the names the workload defines, and in
a traced run the self time per layer, job counts and the trace file.

``--workload all`` runs every workload untraced and then traced, each in
its own process, prints each end-to-end metric with its unit, the tracing
overhead (traced minus untraced value) and ``fail_ratio``, and exits
non-zero if any answer mismatched the oracle.

Run from the root of a checkout of the repository; the engine is
imported from the checkout's ``search_engine_spark`` package.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("serve", "ingest")


def _bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_one(workload: str, seed: int, seconds: float, trace: bool) -> int:
    tmp = os.path.join(ROOT, ".perfbench_work", "tmp")
    os.makedirs(tmp, exist_ok=True)
    # everything Spark and its Python workers write stays in the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)
    from perfbench import workloads

    spec = _bench_spec()
    run = workloads.Run(ROOT, workload, seed, seconds, trace)
    try:
        out = getattr(workloads, workload)(run)
    finally:
        run.close()
    if trace:
        names = {m["name"]: m["unit"] for m in spec["per_layer"]}
        metrics = {n: {"value": float(out["layers"][n]), "unit": u} for n, u in names.items()}
    else:
        names = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        metrics = {n: {"value": float(out["e2e"][n][0]), "unit": u} for n, u in names.items()}
    run.report["e2e"] = {n: {"value": v, "unit": u} for n, (v, u) in out["e2e"].items()}
    run.report["fail_ratio"] = run.failed / max(1, run.attempted)
    run.report["mismatches"] = run.mismatches
    print(json.dumps({"report": run.report}, default=str))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


def run_all(seed: int, seconds: float) -> int:
    """Every workload untraced then traced, one process each."""
    ok = True
    for w in WORKLOADS:
        res = {}
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed", str(seed),
                   "--seconds", str(seconds), "--trace", str(trace)]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or len(lines) < 2:
                sys.stderr.write(p.stderr[-4000:])
                print(f"{w} trace={trace}: exit {p.returncode}")
                ok = False
                break
            res[trace] = (json.loads(lines[-2])["report"], json.loads(lines[-1]))
        if len(res) < 2:
            continue
        (rep0, out0), (rep1, out1) = res[0], res[1]
        attempted = out0["attempted"] + out1["attempted"]
        failed = out0["failed"] + out1["failed"]
        ok = ok and failed == 0
        print(f"== {w}  fail_ratio={failed / max(1, attempted):.4f} ({failed}/{attempted})")
        for name, m in rep0["e2e"].items():
            traced = rep1["e2e"][name]["value"]
            print(f"  {name:<22} {m['value']:>12.4f} {m['unit']:<4} "
                  f"tracing overhead {traced - m['value']:+.4f} {m['unit']}")
        for name, v in rep0["workload_metrics"].items():
            print(f"  {name:<32} {v}")
        for name, m in out1["metrics"].items():
            print(f"  {name:<36} {m['value']:>14.4f} {m['unit']}")
        extra = dict(rep1.get("layers_extra", {}))
        extra.update({k: v for k, v in rep1.items() if "jobs_per_query_" in k})
        for name, v in extra.items():
            print(f"  {name:<36} {v}")
        print(f"  self_ms_per_request {rep1.get('self_ms_per_request')}")
    return 0 if ok else 1


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "search_engine_spark")):
        sys.stderr.write(f"no search_engine_spark package under {ROOT}: "
                         "run from a checkout of the repository\n")
        return 2
    if args.workload == "all":
        return run_all(args.seed, args.seconds)
    return run_one(args.workload, args.seed, args.seconds, bool(args.trace))


if __name__ == "__main__":
    sys.exit(main())
