"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Output contract (VERDICT r6 #1 — the driver keeps only the last ~2 KB
of stdout and json.loads the FINAL line): stdout ends with one compact
headline line {"metric", "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf", "streaming_throughput",
"comparable_to_prev_sec"}, size-asserted <= HEADLINE_MAX_BYTES. The
comparable_to_prev_sec block (VERDICT r10 #6) makes cross-round math
self-contained: this run's and the previous BENCH_r{N}.json's sums over
their common query set, protocol rows (registry tag "protocol")
excluded and named. Full telemetry is emitted on its own EARLIER
stdout line and persisted to BENCH_TELEMETRY.json; it never rides the
headline line again (that is what nulled BENCH_r06). Pinned by
tests/test_bench_contract.py via an exact tail-2KB truncation replay.

Each query is timed as the MEDIAN of $SPARK_GRAFT_BENCH_ITERS (default 3)
warm iterations after one uncounted warmup pass — single-shot timings at
this scale carry +-0.3s of JVM/IO noise that makes real regressions
unreadable (BENCH_NOTES.md r2).

Telemetry (r5 verdict ask: the driver's BENCH_r05 ran +34% vs the
builder's same-protocol local runs, concentrated in sub-second rows —
an environment-contention fingerprint that was unmeasurable because the
bench emitted no load data): every run now records host load averages,
cgroup/PSI CPU-stall time, and per-query {wall, system-CPU-busy,
cpu-stall} deltas under "telemetry". Reading it:
  - stall_sec ~ 0 and busy_sec ~ wall * cores_used -> clean run;
  - stall_sec >> 0 or loadavg >> cpus -> co-tenant contention, wall
    times are inflated by the environment, not by plan regressions;
  - busy_sec inflated at equal stall -> real compute creep (ours).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

_CLK = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100


def _cpu_busy_sec() -> float | None:
    """System-wide non-idle CPU seconds since boot (/proc/stat line 1),
    as user+nice+system+irq+softirq+steal. Fields 9-10 (guest,
    guest_nice) are deliberately EXCLUDED: the kernel already accounts
    guest time inside user/nice, so summing them double-counts on KVM
    guests and inflates the 'real compute creep' signal (r6 ADVICE #4).
    NOTE: includes hypervisor steal (field 8) — pair with _cpu_steal_sec
    to separate our compute from vCPU time the host gave away."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()[1:]
        vals = [int(x) for x in parts]
        # user nice system [idle iowait] irq softirq steal
        busy = vals[0] + vals[1] + vals[2] + sum(vals[5:8])
        return busy / _CLK
    except (OSError, ValueError, IndexError):
        return None


def _cpu_steal_sec() -> float | None:
    """Hypervisor steal seconds since boot (/proc/stat field 8): vCPU was
    runnable but the host ran another guest. Guest PSI barely sees this,
    so inflated busy at flat stall + rising steal = noisy-neighbor VM."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()[1:]
        return int(parts[7]) / _CLK if len(parts) > 7 else None
    except (OSError, ValueError, IndexError):
        return None


def _cpu_stall_sec() -> float | None:
    """Total CPU-stall seconds (PSI 'some' line) — time runnable tasks
    spent waiting for a CPU. The direct co-tenant-contention signal."""
    try:
        with open("/proc/pressure/cpu") as f:
            for line in f:
                if line.startswith("some"):
                    for tok in line.split():
                        if tok.startswith("total="):
                            return int(tok[6:]) / 1e6
    except (OSError, ValueError):
        pass
    return None


def _loadavg() -> list[float] | None:
    try:
        return [round(x, 2) for x in os.getloadavg()]
    except OSError:
        return None


def _streaming_throughput(spark, sf_dir: str) -> dict:
    """Round-6 scaling row (VERDICT r5 ask #6): drain the SAME wordcount
    pipeline twice — one unbounded availableNow batch vs a ~6-batch
    rate-limited drain — and report records/s for both. The gap prices
    per-batch fixed overhead (planning + state commit + sink txn), which
    is exactly what a 100x-larger trigger amortizes at production scale;
    tracked round-over-round so micro-batch overhead creep is visible
    separately from per-record throughput."""
    from spark_streaming_dis_plugin_spark.operators.connector import (
        _materialized_log,
    )
    from spark_streaming_dis_plugin_spark.streaming.drain import streams
    from spark_streaming_dis_plugin_spark.streaming.queries import (
        running_wordcount,
    )

    log = _materialized_log(spark, sf_dir)
    total = sum(log.latest_offsets().values())
    out: dict[str, float] = {"records": total}
    # Rate limits only spread batches under processingTime triggers in
    # this source (availableNow captures the first latestOffset as its
    # one drain target — verify-skill gotcha), so the multi-batch leg
    # runs a processingTime trigger drained by drain_available.
    for label, max_per in (("single_batch", None),
                           ("six_batches", -(-total // 6))):
        reader = (spark.readStream.format("dis")
                  .option("path", log.root).option("stream", log.stream))
        if max_per:
            reader = reader.option("maxOffsetsPerTrigger", str(max_per))
        t0 = time.perf_counter()
        writer = (running_wordcount(reader.load())
                  .writeStream.format("memory").outputMode("complete"))
        with streams("thr") as owner:
            q = owner.start(writer, available_now=not max_per)
            try:
                n_batches = owner.drain(
                    q, expected_rows=total if max_per else None)
                dt = time.perf_counter() - t0
            finally:
                spark.catalog.dropTempView(q.name)
        out[f"records_per_sec_{label}"] = round(total / dt, 1)
        out[f"drain_sec_{label}"] = round(dt, 3)
        out[f"data_batches_{label}"] = n_batches
    return out


def _comparable_to_prev(timings: dict[str, float], protocol: set[str],
                        here: str) -> dict | None:
    """Cross-round comparability IN the artifact (r10 verdict #6): sum
    this run's timings over the intersection with the LATEST recorded
    round's query set, minus protocol rows (registry tag "protocol" —
    rows whose cost is dominated by a test protocol, e.g. the forced
    end-of-stream retrain), and carry the prior round's sum over the
    same set. BENCH_r{N}.json then prices round-over-round drift
    without BENCH_NOTES narrative: sec vs prev_sec is like-for-like by
    construction."""
    import glob
    import re

    best: tuple[int, str] | None = None
    for p in glob.glob(os.path.join(here, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", p)
        if m and (best is None or int(m.group(1)) > best[0]):
            best = (int(m.group(1)), p)
    if best is None:
        return None
    try:
        with open(best[1]) as f:
            prev_q = (json.load(f).get("parsed") or {}).get("queries") or {}
    except (OSError, ValueError):
        return None
    common = sorted(n for n in timings
                    if n in prev_q and n not in protocol)
    if not common:
        return None
    return {
        "prev": f"r{best[0]:02d}",
        "sec": round(sum(timings[n] for n in common), 2),
        "prev_sec": round(sum(float(prev_q[n]) for n in common), 2),
        "n": len(common),
        "protocol_excluded": sorted(protocol & set(timings)
                                    & set(prev_q)),
    }


HEADLINE_MAX_BYTES = 1900
"""Hard budget for the final stdout line. The round driver captures only
the LAST ~2 KB of bench stdout and json.loads the final line; round 6's
file came back "parsed": null because per-query telemetry pushed the one
output line past that window (VERDICT r6 #1). The contract is now:
telemetry goes to its own EARLIER stdout line and BENCH_TELEMETRY.json;
the last line is the compact r5-format headline, asserted under this
budget both here and in tests/test_bench_contract.py."""


def format_output(headline: dict, telemetry: dict) -> tuple[str, str]:
    """Render the two stdout lines: (telemetry_line, headline_line).
    The headline line must stay parseable from a 2 KB stdout tail, so it
    is emitted LAST and size-checked against HEADLINE_MAX_BYTES."""
    telemetry_line = json.dumps({"bench_telemetry": telemetry},
                                separators=(",", ":"))
    headline_line = json.dumps(headline, separators=(",", ":"))
    if len(headline_line.encode()) > HEADLINE_MAX_BYTES:
        raise ValueError(
            f"headline line {len(headline_line.encode())}B exceeds the "
            f"{HEADLINE_MAX_BYTES}B driver-capture budget — trim the "
            "benched set or shorten query names (see BENCH_NOTES.md)")
    return telemetry_line, headline_line


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    telemetry: dict = {
        "cpus": cpus,
        "os_cpu_count": os.cpu_count(),
        "loadavg_start": _loadavg(),
    }
    bench_t0 = time.perf_counter()
    busy0, stall0 = _cpu_busy_sec(), _cpu_stall_sec()
    steal0 = _cpu_steal_sec()

    from spark_streaming_dis_plugin_spark.plans.registry import all_queries
    from spark_streaming_dis_plugin_spark.session import get_spark

    spark = get_spark("bench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    specs = {n: s for n, s in all_queries().items() if s.bench}

    # JVM + parquet-footer warmup (not counted): tiny action per table
    from spark_streaming_dis_plugin_spark.tables import TABLES, load
    for t in TABLES:
        load(spark, sf_dir, t).limit(1).count()
    telemetry["startup_sec"] = round(time.perf_counter() - bench_t0, 3)

    iters = int(os.environ.get("SPARK_GRAFT_BENCH_ITERS", "3"))
    timings: dict[str, float] = {}
    per_query_tel: dict[str, dict] = {}
    for name, spec in sorted(specs.items()):
        samples: list[float] = []
        qb0, qs0 = _cpu_busy_sec(), _cpu_stall_sec()
        qt0 = time.perf_counter()
        for i in range(iters + 1):          # first pass = uncounted warmup
            # persist()-using queries cache per invocation; clear between
            # runs so iterations stay independent and memory bounded
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            df = spec.fn(spark, sf_dir)
            # count() forces the full plan without driver-side row transfer
            df.count()
            if i > 0:
                samples.append(time.perf_counter() - t0)
        samples.sort()
        # 2 dp: single-run noise is +-0.3 s, and the headline line must
        # stay under the driver's 2 KB tail-capture budget
        timings[name] = round(samples[len(samples) // 2], 2)
        qwall = time.perf_counter() - qt0
        qtel = {"wall_all_iters": round(qwall, 3)}
        qb1, qs1 = _cpu_busy_sec(), _cpu_stall_sec()
        if qb0 is not None and qb1 is not None:
            qtel["sys_cpu_busy"] = round(qb1 - qb0, 3)
        if qs0 is not None and qs1 is not None:
            qtel["cpu_stall"] = round(qs1 - qs0, 3)
        per_query_tel[name] = qtel

    try:
        streaming = _streaming_throughput(spark, sf_dir)
    except Exception as exc:  # never lose the whole bench file to the
        # diagnostic row — a contended environment could push the drain
        # past its timeout, and the headline timings above still matter
        streaming = {"error": f"{type(exc).__name__}: {exc}"[:300]}

    busy1, stall1 = _cpu_busy_sec(), _cpu_stall_sec()
    steal1 = _cpu_steal_sec()
    telemetry["loadavg_end"] = _loadavg()
    telemetry["wall_total_sec"] = round(time.perf_counter() - bench_t0, 3)
    if busy0 is not None and busy1 is not None:
        telemetry["sys_cpu_busy_sec"] = round(busy1 - busy0, 3)
    if stall0 is not None and stall1 is not None:
        telemetry["cpu_stall_sec"] = round(stall1 - stall0, 3)
    if steal0 is not None and steal1 is not None:
        telemetry["cpu_steal_sec"] = round(steal1 - steal0, 3)
    telemetry["per_query"] = per_query_tel

    total = round(sum(timings.values()), 3)
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    here = os.path.dirname(os.path.abspath(__file__))
    protocol = {n for n, s in specs.items() if "protocol" in s.tags}
    headline = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf else sf_dir,
        "streaming_throughput": streaming,
    }
    cmp_prev = _comparable_to_prev(timings, protocol, here)
    if cmp_prev is not None:
        headline["comparable_to_prev_sec"] = cmp_prev
    telemetry_line, headline_line = format_output(headline, telemetry)
    # Durable copy of the full telemetry (stdout tail may drop it):
    try:
        with open(os.path.join(here, "BENCH_TELEMETRY.json"), "w") as f:
            json.dump({"headline": headline, "telemetry": telemetry},
                      f, indent=1)
    except OSError:
        pass
    print(telemetry_line)
    print(headline_line, flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
