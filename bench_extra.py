#!/usr/bin/env python
"""Auxiliary benchmark harness for optimization work (guide §1.4).

bench.py is FROZEN for driver measurement; this file exists so the
optimization rounds can time individual queries in isolation (noop
sink, labelled jobs, configurable repeats / scale factor) and dump
``explain("formatted")`` plans without touching the frozen harness.

Usage:
  python bench_extra.py --sf /root/testdata/sf1.0 --queries decontamination,similarity_pairs --repeats 3
  python bench_extra.py --sf /root/testdata/sf0.1 --explain-dir /tmp/plans --suffix before
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import time


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--queries", default="", help="comma list; default = bench.py HEADLINE")
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--explain-dir", default="", help="write <query>_<suffix>.txt plans here")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--no-time", action="store_true", help="explain only, skip execution")
    args = ap.parse_args()

    import __spark_entry__ as entry_mod
    from bench import HEADLINE
    from web_archive_downloader_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("bench_extra", cores=cpus, shuffle_partitions=cpus)
    spark.range(1000000).selectExpr("sum(id)").collect()

    names = [n for n in args.queries.split(",") if n] or list(HEADLINE)
    qs = entry_mod.queries()
    out: dict[str, dict] = {}
    for name in names:
        df = qs[name](spark, args.sf)
        if args.explain_dir:
            os.makedirs(args.explain_dir, exist_ok=True)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(args.explain_dir, f"{name}_{args.suffix}.txt"), "w") as f:
                f.write(plan)
        if args.no_time:
            continue
        runs = []
        for i in range(args.repeats):
            spark.sparkContext.setJobDescription(f"{name} [{i}]")
            # release what the previous run (or the explain build)
            # materialized, or this repeat would time the cache
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            _force(qs[name](spark, args.sf))
            runs.append(round(time.perf_counter() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        out[name] = {
            "median": round(statistics.median(runs), 3),
            "min": min(runs),
            "runs": runs,
        }
        print(json.dumps({name: out[name]}), flush=True)
    print(json.dumps({"sf": args.sf, "cpus": cpus, "results": {k: v["median"] for k, v in out.items()}}))
    spark.stop()


if __name__ == "__main__":
    main()
