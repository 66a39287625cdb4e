"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest,query_mix} \
        --seed N --seconds S --trace {0,1} [--cores K]

Run from the root of a checkout. The last stdout line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. The
line before it carries sample counts, machine noise (steal, PSI CPU stall,
load average), the speed probe with the end-to-end figures before speed
scaling and, for traced runs, the per-layer self-time summary. A
copy of both goes to ``.perfbench/runs/``; a traced run also writes its
spans to ``.perfbench/traces/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time

if __package__ in (None, ""):
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    __package__ = "perfbench"

from perfbench import common  # noqa: E402

WORKLOADS = ("ingest", "query_mix")

END_TO_END = (("setup_s", "s"), ("latency_p50_ms", "ms"),
              ("latency_p90_ms", "ms"), ("records_per_s", "1/s"),
              ("queries_per_s", "1/s"), ("peak_rss_mb", "MB"))


def per_layer_units() -> dict[str, str]:
    from perfbench.query_mix import QUERIES, QUERY_FIELDS

    units = {
        "session.get_spark_s": "s",
        "tables.load_ms": "ms",
        "dis_log.append_ms": "ms",
        "dis_log.latest_offsets_ms": "ms",
        "dis_log.segments": "count",
        "dis_log.ledger_txns": "count",
        "dis_batch.read_records_per_s": "1/s",
    }
    for phase in ("trigger", "latest_offset", "query_planning", "add_batch",
                  "wal_commit", "commit_offsets"):
        units[f"engine.{phase}_ms"] = "ms"
    units.update({"engine.batches": "count", "engine.rows_per_batch": "count",
                  "sink.call_ms_p50": "ms", "sink.call_ms_p90": "ms",
                  "state.rows_total": "count", "state.memory_bytes": "bytes",
                  "state.commit_ms": "ms"})
    field_units = {"construct_ms": "ms", "construct_jobs": "count",
                   "execute_ms": "ms", "jobs": "count", "tasks": "count",
                   "cpu_ms": "ms", "gc_ms": "ms", "shuffle_bytes": "bytes"}
    for q in QUERIES:
        for f in QUERY_FIELDS:
            units[f"{q}.{f}"] = field_units[f]
    units.update({"cache.persisted_rdds": "count",
                  "producer.late_ms_p99": "ms",
                  "trace.overhead_pct": "%"})
    return units


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=2,
                   help="Spark runs at local[cores]")
    p.add_argument("--scale", type=float, default=None,
                   help="input size factor (tests shrink it)")
    p.add_argument("--drop-record", action="store_true",
                   help="fault injection: lose one output record on purpose")
    return p.parse_args(argv)


DEFAULT_SCALE = {"ingest": 1.0, "query_mix": 0.01}


def summarize(ctx: common.Ctx, res: dict, peak_mb: float) -> dict:
    """Turn a workload's raw result into the metrics of this run."""
    if ctx.trace:
        units = per_layer_units()
        values = {n: 0.0 for n in units}
        values.update(res.get("layers", {}))
        values["session.get_spark_s"] = ctx.get_spark_s
        wall = res["info"].get("measured_s") or 1.0
        values["trace.overhead_pct"] = 100.0 * ctx.tracer.bookkeeping_s / wall
        return {n: {"value": float(values[n]), "unit": u}
                for n, u in units.items()}
    values = raw_values(res, peak_mb)
    scale = speed_scale(ctx)
    for n, u in END_TO_END:
        if n in res.get("not_scaled", ()):
            continue
        if u in ("s", "ms"):
            values[n] *= scale
        elif u == "1/s":
            values[n] /= scale
    return {n: {"value": float(values[n]), "unit": u} for n, u in END_TO_END}


def raw_values(res: dict, peak_mb: float) -> dict:
    """The end-to-end figures as timed, before the speed scaling."""
    lat = res["latency_ms"]
    return {
        "setup_s": res["setup_s"],
        "latency_p50_ms": common.hd_percentile(lat, 50),
        "latency_p90_ms": common.hd_percentile(lat, 90),
        "records_per_s": res["records_per_s"],
        "queries_per_s": res["queries_per_s"],
        "peak_rss_mb": peak_mb,
    }


def speed_scale(ctx: common.Ctx) -> float:
    """REF_PROBE_MS over the run's lower-quartile probe time: below 1 on a
    machine running fixed code slower than the reference, above 1 on a
    faster one."""
    return common.REF_PROBE_MS / ctx.probe.stop().low_ms


def sample_counts(res: dict) -> dict:
    lat = res["latency_ms"]
    cut = common.percentile(lat, 90)
    units = res.get("sample_units") or list(range(len(lat)))
    return {"latency_p50_ms": round(common.hd_percentile(lat, 50), 3),
            "latency_samples": len(lat), "independent_units": res["units"],
            "samples_beyond_p90": sum(1 for v in lat if v > cut),
            "units_beyond_p90": len({u for v, u in zip(lat, units) if v > cut})}


def against_untraced(args, samples: dict) -> dict | None:
    """Tracing overhead: this traced run's median latency against the
    newest untraced run of the same workload and seed in this checkout."""
    import glob

    runs = sorted(glob.glob(os.path.join(
        common.STATE_DIR, "runs", f"{args.workload}-s{args.seed}-t0-*.json")))
    if not runs:
        return None
    with open(runs[-1]) as f:
        base = json.load(f)["detail"]["samples"]["latency_p50_ms"]
    return {"untraced_latency_p50_ms": base,
            "overhead_pct": round(100.0 * (samples["latency_p50_ms"] / base - 1), 2)}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not common.checkout_ok():
        print(f"perfbench: {common.PACKAGE}/ and bench.py not found next to "
              f"{common.HERE}; run from the root of a full checkout",
              file=sys.stderr)
        return 2
    stamp = time.strftime("%Y%m%dT%H%M%S")
    work = os.path.join(common.STATE_DIR, "work",
                        f"{args.workload}-{os.getpid()}")
    common.prepare_environment(work)
    scale = args.scale if args.scale is not None else DEFAULT_SCALE[args.workload]
    ctx = common.Ctx(workload=args.workload, seed=args.seed,
                     seconds=args.seconds, trace=bool(args.trace),
                     cores=args.cores, scale=scale, work=work,
                     drop_record=args.drop_record)
    workload = importlib.import_module(f"perfbench.{args.workload}")
    machine = common.Machine()
    ctx.probe = common.ProbeProcess()
    try:
        with ctx.rss:
            res = workload.run(ctx)
    finally:
        ctx.end_timed()
        common.stop_session(ctx)
        shutil.rmtree(work, ignore_errors=True)
    metrics = summarize(ctx, res, ctx.rss.peak_mb)
    probe = ctx.probe.stop()
    detail = {"workload": args.workload, "seed": args.seed,
              "trace": args.trace, "cores": args.cores, "scale": scale,
              "samples": sample_counts(res), "machine": machine.report(),
              "speed": {"probe_ms_p25": round(probe.low_ms, 4),
                        "probe_ms_p50": round(probe.median_ms, 4),
                        "probes": len(probe.ms),
                        "probe_nice": ctx.probe.nice,
                        "scale": round(speed_scale(ctx), 4),
                        "unscaled": {n: round(v, 4) for n, v in
                                     raw_values(res, ctx.rss.peak_mb).items()}},
              "info": res.get("info", {})}
    if ctx.trace:
        detail["self_time_ms"] = ctx.tracer.self_times()
        detail["vs_untraced"] = against_untraced(args, detail["samples"])
        base = os.path.join(common.STATE_DIR, "traces",
                            f"{args.workload}-s{args.seed}-{stamp}")
        ctx.tracer.write(base + ".spans.jsonl")
        detail["spans_file"] = os.path.relpath(base + ".spans.jsonl",
                                               common.ROOT)
    final = {"correct": res["failed"] == 0, "attempted": int(res["attempted"]),
             "failed": int(res["failed"]), "metrics": metrics}
    os.makedirs(os.path.join(common.STATE_DIR, "runs"), exist_ok=True)
    with open(os.path.join(common.STATE_DIR, "runs",
                           f"{args.workload}-s{args.seed}-t{args.trace}-"
                           f"{stamp}.json"), "w") as f:
        json.dump({"detail": detail, "result": final}, f, indent=1)
    print(json.dumps({"perfbench": detail}, separators=(",", ":")))
    print(json.dumps(final, separators=(",", ":")), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
