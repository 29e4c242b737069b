"""Benchmark of the crawl engine, run from the root of a checkout.

    python3 perfbench/run.py --workload recrawl_resume --seed 1 --seconds 30 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 30

One run starts a ``local[nproc]`` session in this process, builds its
inputs from ``--seed``, warms up, then drives the engine as a closed
loop with one client (one crawl or query at a time) for about
``--seconds``, checks every output and prints each metric by name and
unit. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics of BENCHMARK.json (``--trace 0``) or its per-layer metrics
(``--trace 1``, which also writes the spans to
``.perfbench_work/spans.jsonl``). ``--workload all`` runs every
workload untraced and traced in child processes and prints the
tracing overhead.

Workloads: ``recrawl_resume`` (crawl_bench.py) and ``corpus_build``
(corpus_bench.py). The engine is imported from the checkout; a
directory without it is refused before anything runs.
"""

from __future__ import annotations

import argparse
import json
import shutil
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BENCHMARK = ROOT / "BENCHMARK.json"
WORKLOADS = ("recrawl_resume", "corpus_build")


class Context:
    """What a workload gets: the session, the tracer and its knobs.
    Workloads add their own set-up time to ``setup_s``."""

    def __init__(self, args, spark, tracer, work: Path, cores: int, setup_s: float):
        self.seed = args.seed
        self.seconds = args.seconds
        self.size = args.size
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.cores = cores
        self.setup_s = setup_s


def metric_spec() -> tuple[dict, dict]:
    spec = json.loads(BENCHMARK.read_text())
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def run_workload(args) -> dict:
    import harness
    from spans import Tracer, summary

    module = {"recrawl_resume": "crawl_bench", "corpus_build": "corpus_bench"}[args.workload]
    bench = __import__(module)
    work = harness.prepare_work_dir(ROOT)
    harness.configure_env(ROOT, work, epoch_trace=bool(args.trace))
    cores = harness.nproc()
    tracer = Tracer(f"{args.workload}-{args.seed}", enabled=bool(args.trace))
    with harness.RssSampler() as rss:
        t0 = time.perf_counter()
        with tracer.span("session.start"):
            spark = harness.start_spark(work, cores)
        start_s = time.perf_counter() - t0
        try:
            ctx = Context(args, spark, tracer, work, cores, start_s)
            out = bench.run(ctx)
        finally:
            harness.stop_spark(spark)
    out["e2e"]["setup_s"] = ctx.setup_s
    out["e2e"]["peak_rss_mb"] = rss.peak_mb
    out["info"]["setup.session_start_s"] = start_s
    out["info"]["failed_ratio"] = out["failed"] / out["attempted"]
    out["info"]["cores"] = cores
    out["info"]["driver_heap_mb"] = harness.driver_heap_mb()
    if tracer.enabled:
        out["layers"]["session.start_s"] = start_s
        tracer.write(work / "spans.jsonl")
        out["span_summary"] = summary(tracer.spans)
    for sub in ("stores", "tables", "local", "warehouse", "tmp"):
        shutil.rmtree(work / sub, ignore_errors=True)
    return out


def report(args, out: dict) -> dict:
    """Print the human-readable lines and build the result object."""
    e2e_units, layer_units = metric_spec()
    for name, value in out["info"].items():
        print(f"info {name} = {value:.6g}")
    for name, unit in e2e_units.items():
        print(f"end_to_end {name} = {out['e2e'][name]:.6g} {unit}")
    if args.trace:
        for name, count, total, self_s in out["span_summary"]:
            print(f"span {name:40s} n={count:4d} total={total:9.3f}s self={self_s:9.3f}s")
        for name, unit in layer_units.items():
            print(f"per_layer {name} = {out['layers'].get(name, 0.0):.6g} {unit}")
    chosen = layer_units if args.trace else e2e_units
    source = out["layers"] if args.trace else out["e2e"]
    return {
        "correct": out["failed"] == 0,
        "attempted": int(out["attempted"]),
        "failed": int(out["failed"]),
        "metrics": {
            n: {"value": float(source.get(n, 0.0)), "unit": u} for n, u in chosen.items()
        },
    }


def run_all(args) -> int:
    """Every workload, untraced then traced, each in its own process."""
    rc = 0
    for name in WORKLOADS:
        results = {}
        for trace in (0, 1):
            cmd = [sys.executable, str(HERE / "run.py"), "--workload", name,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(trace), "--size", args.size]
            proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
            lines = proc.stdout.strip().splitlines()
            print(f"== {name} trace={trace} exit={proc.returncode}")
            print("\n".join(lines[:-1]))
            if proc.returncode != 0 or not lines:
                rc = 1
                continue
            results[trace] = json.loads(lines[-1])
            print(lines[-1])
        if len(results) == 2:
            job = results[0]["metrics"]["job_s"]["value"]
            traced = results[1]["metrics"]["trace.job_s"]["value"]
            iso = results[1]["metrics"]["trace.isolation_s"]["value"]
            print(
                f"overhead {name}: traced job {traced:.3f}s - isolation {iso:.3f}s"
                f" vs untraced {job:.3f}s = {traced - iso - job:+.3f}s"
            )
    return rc


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    args = ap.parse_args(argv)

    missing = [
        p for p in ("web_archive_downloader_spark/__init__.py", "__spark_entry__.py")
        if not (ROOT / p).is_file()
    ]
    if missing:
        print(f"perfbench: {ROOT} is not a checkout of the engine (missing {missing})",
              file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    sys.path.insert(0, str(ROOT))
    try:
        out = run_workload(args)
    except Exception:
        traceback.print_exc()
        return 1
    result = report(args, out)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
