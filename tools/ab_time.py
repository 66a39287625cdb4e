"""Interleaved-run A/B timing helper for the optimization rounds.

    python tools/ab_time.py [--iters 3] [--sf DIR] name1 name2 ...

Times each named registry query exactly like bench.py (median of N warm
count() iterations after one warmup, clearCache between runs) on
local[$SPARK_GRAFT_CPUS], and prints one JSON line per query plus
per-query steal/stall deltas so contended reps are visible. Run it
alternately on the old and new tree (git stash / stash pop) — the
comparison protocol lives in BENCH_NOTES.md.
"""
from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.chdir(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _cpu_steal_sec


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--iters", type=int, default=3)
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    from spark_streaming_dis_plugin_spark.plans.registry import all_queries
    from spark_streaming_dis_plugin_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("ab_time", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    specs = all_queries()

    from spark_streaming_dis_plugin_spark.tables import TABLES, load
    for t in TABLES:
        load(spark, args.sf, t).limit(1).count()

    out = {}
    for name in args.names:
        fn = specs[name].fn
        samples, steals = [], []
        for i in range(args.iters + 1):
            spark.catalog.clearCache()
            s0, t0 = _cpu_steal_sec() or 0.0, time.perf_counter()
            fn(spark, args.sf).count()
            dt = time.perf_counter() - t0
            ds = (_cpu_steal_sec() or 0.0) - s0
            if i > 0:
                samples.append(round(dt, 3))
                steals.append(round(ds, 2))
        samples_sorted = sorted(samples)
        out[name] = {"median": samples_sorted[len(samples_sorted) // 2],
                     "samples": samples, "steal": steals}
        print(json.dumps({name: out[name]}), flush=True)
    print("AB_RESULT " + json.dumps(out), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
