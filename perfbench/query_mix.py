"""``query_mix``: one closed-loop client cycling registered batch queries.

Each execution is one registered query builder called on the generated
tables (construction, with any eager jobs it launches) plus a ``collect``
of its result (the action). The first ``WARM_PASSES`` passes over the mix
are an uncounted warm-up: after a single pass, executions still got 15-25%
faster from one cycle to the next. A run then measures
``round(seconds / CYCLE_S)`` whole cycles (at least ``MIN_CYCLES``): every
run holds the same mix and the same amount of work.

``sim_hybrid_rrf_indexed`` is left out of the mix: its first execution
takes about 10 s and each later one about 3 s, which the per-run time
budget cannot hold next to the other seven.
Every execution's result is compared with the query's DuckDB oracle on the
same inputs, after the timed loop.
"""

from __future__ import annotations

import os
import time

from . import datagen
from .common import Ctx, median, start_session

QUERIES = (
    "dedup_exact_by_hash",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard_capped",
    "text_bm25_search",
    "q3_shipping_priority",
    "events_ewma",
    "mode_percentile_disc",
)
CYCLE_S = 10.0       # nominal warm cycle time at local[2]; sets the cycle count
MIN_CYCLES = 2
WARM_PASSES = 2
QUERY_FIELDS = ("construct_ms", "construct_jobs", "execute_ms", "jobs",
                "tasks", "cpu_ms", "gc_ms", "shuffle_bytes")


class JobProbe:
    """Job, task, CPU, GC and shuffle figures for one job group, read from
    Spark's status tracker and status store after the group's jobs end."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def collect(self, group: str) -> dict:
        self.jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stage_ids: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        from py4j.protocol import Py4JJavaError

        store = self.jsc.statusStore()
        out = {"jobs": len(jobs), "tasks": 0, "cpu_ms": 0.0, "gc_ms": 0.0,
               "shuffle_bytes": 0}
        for sid in stage_ids:
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:     # a stage that never ran has no attempt
                continue
            out["tasks"] += st.numCompleteTasks()
            out["cpu_ms"] += st.executorCpuTime() / 1e6
            out["gc_ms"] += st.jvmGcTime()
            out["shuffle_bytes"] += st.shuffleWriteBytes()
        return out


def _wrap_table_loads(ctx: Ctx) -> None:
    """Time every call into ``tables.load``/``tables.load_events`` by
    wrapping the module functions before the operator modules bind them."""
    from spark_streaming_dis_plugin_spark import tables

    for name in ("load", "load_events"):
        fn = getattr(tables, name)

        def timed(*a, _fn=fn, _name=name, **kw):
            with ctx.tracer.span(f"tables.{_name}"):
                return _fn(*a, **kw)
        setattr(tables, name, timed)


def _rows_key(rows) -> tuple:
    return tuple(sorted(repr(tuple(r)) for r in rows))


def run(ctx: Ctx) -> dict:
    t_setup = time.perf_counter()
    spark = start_session(ctx)
    sf_dir = os.path.join(ctx.work, "tables")
    with ctx.tracer.span("datagen.tables"):
        datagen.make_tables(sf_dir, ctx.seed, ctx.scale)
    if ctx.trace:
        _wrap_table_loads(ctx)
    from spark_streaming_dis_plugin_spark.plans.registry import all_queries

    specs = all_queries()
    probe = JobProbe(spark) if ctx.trace else None

    def execute(q: str, label: str) -> dict:
        spark.catalog.clearCache()
        with ctx.tracer.span("query.execution", shared_id=label) as ex:
            if probe:
                probe.set_group(f"{label}:c")
            with ctx.tracer.span("query.construct", shared_id=label) as c:
                df = specs[q].fn(spark, sf_dir)
            if probe:
                probe.set_group(f"{label}:x")
            with ctx.tracer.span("query.action", shared_id=label) as x:
                rows = df.collect()
        rec = {"q": q, "ms": ex.seconds * 1e3, "construct_ms": c.seconds * 1e3,
               "execute_ms": x.seconds * 1e3, "rows": rows,
               "columns": df.columns}
        if probe:
            t0 = time.perf_counter()
            cons = probe.collect(f"{label}:c")
            rec.update(probe.collect(f"{label}:x"))
            rec["construct_jobs"] = cons["jobs"]
            rec["persisted_rdds"] = len(spark.sparkContext._jsc
                                        .getPersistentRDDs())
            ctx.tracer.bookkeeping_s += time.perf_counter() - t0
        return rec

    for w in range(WARM_PASSES):
        for q in QUERIES:
            execute(q, f"warm{w}:{q}")
    setup_s = time.perf_counter() - t_setup

    execs: list[dict] = []
    cycles = max(MIN_CYCLES, round(ctx.seconds / CYCLE_S))
    t0 = time.perf_counter()
    for c in range(cycles):
        for q in QUERIES:
            execs.append(execute(q, f"c{c}:{q}"))
    measured_s = time.perf_counter() - t0
    ctx.end_timed()

    failed, attempted = _check(sf_dir, specs, execs, ctx.drop_record)
    lat = [e["ms"] for e in execs]
    result = {
        "attempted": attempted, "failed": failed,
        "setup_s": setup_s,
        "latency_ms": lat,
        "units": len(execs),
        "records_per_s": sum(len(e["rows"]) for e in execs) / measured_s,
        "queries_per_s": len(execs) / measured_s,
        "info": {"cycles": cycles, "measured_s": round(measured_s, 3),
                 "executions": len(execs),
                 "median_ms": {q: round(median([e["ms"] for e in execs
                                                if e["q"] == q]), 1)
                               for q in QUERIES}},
    }
    if ctx.trace:
        layers = {}
        for q in QUERIES:
            mine = [e for e in execs if e["q"] == q]
            for f in QUERY_FIELDS:
                layers[f"{q}.{f}"] = median([float(e[f]) for e in mine])
        per_cycle = [sum(e["persisted_rdds"] for e in execs[i:i + len(QUERIES)])
                     for i in range(0, len(execs), len(QUERIES))]
        layers["cache.persisted_rdds"] = median(per_cycle)
        loads = [(s.end - s.start) * 1e3 for s in ctx.tracer.spans
                 if s.name.startswith("tables.")
                 and (s.parent is None
                      or not ctx.tracer.spans[s.parent].name.startswith("tables."))]
        layers["tables.load_ms"] = median(loads)
        result["layers"] = layers
    return result


class _Rows:
    """A collected result in the shape tests/oracle.compare expects."""

    def __init__(self, columns, rows) -> None:
        self.columns, self._rows = columns, rows

    def collect(self):
        return self._rows


def _check(sf_dir: str, specs, execs: list[dict],
           drop_record: bool) -> tuple[int, int]:
    """Compare every execution with its DuckDB oracle; identical results
    are compared once. Returns (failed, attempted)."""
    from tests.oracle import compare, duck_connection

    con = duck_connection(sf_dir)
    verdicts: dict[tuple, bool] = {}
    failed = 0
    if drop_record and execs:
        execs[0]["rows"] = execs[0]["rows"][1:]
    try:
        for e in execs:
            key = (e["q"], _rows_key(e["rows"]))
            if key not in verdicts:
                try:
                    compare(_Rows(e["columns"], e["rows"]), con,
                            specs[e["q"]].oracle)
                    verdicts[key] = True
                except AssertionError as err:
                    print(f"[query_mix] {e['q']} mismatch: {str(err)[:300]}",
                          flush=True)
                    verdicts[key] = False
            failed += not verdicts[key]
    finally:
        con.close()
    return failed, len(execs)
