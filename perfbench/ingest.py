"""``ingest``: open-loop DIS -> DIS streaming.

A producer thread appends to a 4-partition ``DisLog`` on a fixed schedule:
record i is due at ``start + i / rate`` and carries its due time as its
timestamp; every ``TICK`` seconds the producer appends all records that
have fallen due, whether or not the stream keeps up. A stream reads the
log (``format("dis")``), drops heartbeat records, projects the rest and
writes through ``DisForeachBatchSink`` under a processingTime(0) trigger.

A record's latency is the time from its due time until the sink call of
the batch that carried it returns. The sink call is timed by a wrapper on
the benchmark side; which batch carried a record is read afterwards from
the transaction tag in the output segment names. Warm-up batches (the
first data batch and the ``WARM_BATCHES`` after it) count as set-up.
"""

from __future__ import annotations

import os
import threading
import time

import numpy as np
import pandas as pd

from . import datagen
from .common import Ctx, hd_percentile, median, percentile, start_session

RATE = 2000          # records per second offered at scale 1
TICK = 0.1           # producer append period, seconds
PARTITIONS = 4
WARM_BATCHES = 4     # micro-batches after the first data batch, before
                     # measuring: per-batch time settles as the JVM warms
PHASES = (("latestOffset", "latest_offset"), ("walCommit", "wal_commit"),
          ("getBatch", None), ("queryPlanning", "query_planning"),
          ("addBatch", "add_batch"), ("commitOffsets", "commit_offsets"))


class Producer(threading.Thread):
    """Open-loop appender: appends whatever has fallen due every tick."""

    def __init__(self, log, records: datagen.IngestRecords, rate: float,
                 tick: float) -> None:
        super().__init__(daemon=True, name="perfbench-producer")
        self.log, self.records, self.rate, self.tick = log, records, rate, tick
        self.n = 0
        self.appends: list[tuple[int, int, float, float]] = []  # lo, hi, t0, t1
        self.error: BaseException | None = None
        self._halt = threading.Event()
        self.t0 = 0.0

    def due(self, idx) -> np.ndarray:
        return self.t0 + np.asarray(idx, dtype=np.float64) / self.rate

    def run(self) -> None:
        try:
            self.t0 = time.time()
            nxt = self.t0
            while not self._halt.is_set():
                hi = int((time.time() - self.t0) * self.rate)
                if hi > self.n:
                    df = self.records.slice(self.n, hi)[
                        ["partition", "key", "value"]]
                    due_us = np.round(self.due(np.arange(self.n, hi)) * 1e6)
                    df["timestamp"] = pd.to_datetime(due_us.astype(np.int64),
                                                     unit="us")
                    a = time.time()
                    self.log.append(df)
                    self.appends.append((self.n, hi, a, time.time()))
                    self.n = hi
                nxt += self.tick
                self._halt.wait(max(0.0, nxt - time.time()))
        except BaseException as exc:  # reported by the main thread
            self.error = exc

    def stop(self) -> None:
        self._halt.set()
        self.join(timeout=30)


class TimedSink:
    """Bench-side wrapper timing each ``DisForeachBatchSink.__call__``.
    Its own time outside the sink call is the collection cost of the
    streaming side; a traced run books it as tracing overhead."""

    def __init__(self, sink, drop_key: str | None = None) -> None:
        self.sink = sink
        self.drop_key = drop_key
        self.calls: list[tuple[int, float, float]] = []   # batch, t0, t1
        self.own_s: list[tuple[float, float]] = []         # return time, own

    def __call__(self, batch_df, batch_id: int) -> None:
        enter = time.perf_counter()
        if self.drop_key is not None:
            from pyspark.sql import functions as F
            batch_df = batch_df.where(F.col("key") != self.drop_key)
        t0 = time.time()
        inner = time.perf_counter()
        self.sink(batch_df, batch_id)
        inner = time.perf_counter() - inner
        t1 = time.time()
        self.calls.append((batch_id, t0, t1))
        self.own_s.append((t1, time.perf_counter() - enter - inner))


def progress_ts(p: dict) -> float:
    from datetime import datetime
    return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()


def progress_by_batch(query) -> dict[int, dict]:
    return {p["batchId"]: p for p in query.recentProgress
            if p["numInputRows"] > 0}


def engine_layers(progress: list[dict]) -> dict[str, float]:
    """Median per-batch engine phase times from StreamingQueryProgress."""
    out = {"engine.trigger_ms": median(
        [p["durationMs"].get("triggerExecution", 0) for p in progress])}
    for key, name in PHASES:
        if name:
            out[f"engine.{name}_ms"] = median(
                [p["durationMs"].get(key, 0) for p in progress])
    out["engine.batches"] = len(progress)
    out["engine.rows_per_batch"] = median([p["numInputRows"] for p in progress])
    return out


def engine_spans(tracer, progress: list[dict]) -> dict[int, int]:
    """One engine.trigger span per batch with its phases laid out in the
    order the micro-batch runs them; returns batchId -> addBatch span id."""
    add_ids: dict[int, int] = {}
    for p in progress:
        start = progress_ts(p)
        d = p["durationMs"]
        bid = str(p["batchId"])
        top = tracer.add("engine.trigger", start,
                         start + d.get("triggerExecution", 0) / 1e3,
                         shared_id=bid)
        cur = start
        for key, name in PHASES:
            dur = d.get(key, 0) / 1e3
            sid = tracer.add(f"engine.{name or 'get_batch'}", cur, cur + dur,
                             parent=top, shared_id=bid)
            if key == "addBatch":
                add_ids[p["batchId"]] = sid
            cur += dur
    return add_ids


def read_delivered(log) -> pd.DataFrame:
    """Every row of the output log with the batch id from its txn tag."""
    import pyarrow.parquet as pq

    frames = []
    for part in log.partitions():
        for seg in log.segment_infos(part):
            t = pq.read_table(seg.path, columns=["key", "value"]).to_pandas()
            t["batch"] = int(seg.txn.rsplit("_b", 1)[1]) if seg.txn else -1
            frames.append(t)
    if not frames:
        return pd.DataFrame({"key": [], "value": [], "batch": []})
    return pd.concat(frames, ignore_index=True)


def expected_output(records: pd.DataFrame) -> pd.DataFrame:
    """pandas twin of the stream's filter and projection."""
    import json
    kept = records[records["kind"] != "hb"]
    body = [json.loads(v)["body"] for v in kept["value"]]
    return pd.DataFrame({"key": kept["key"].values,
                         "value": [f"{k}|{b}" for k, b in
                                   zip(kept["kind"].values, body)]})


def check(delivered: pd.DataFrame, expected: pd.DataFrame) -> int:
    """Records not delivered exactly once with the expected value, plus
    delivered records that should not exist. 0 means correct."""
    counts = delivered["key"].value_counts()
    exp = expected.set_index("key")["value"]
    got = delivered.drop_duplicates("key").set_index("key")["value"]
    missing = int((~exp.index.isin(counts.index)).sum())
    dup = int((counts.reindex(exp.index).fillna(0) > 1).sum())
    extra = int((~counts.index.isin(exp.index)).sum())
    both = exp.index.intersection(got.index)
    wrong = int((exp.loc[both] != got.loc[both]).sum())
    return missing + dup + extra + wrong


def wait_batches(query, producer: Producer, batch_id: int | None,
                 timeout: float = 120.0) -> None:
    """Wait until micro-batch ``batch_id`` has ended, or, with ``None``,
    until the first batch that read records has."""
    deadline = time.time() + timeout
    while True:
        last = query.lastProgress
        if last is not None and (last["batchId"] >= batch_id
                                 if batch_id is not None
                                 else last["numInputRows"] > 0):
            return
        if query.exception() is not None:
            raise query.exception()
        if producer.error is not None:
            raise producer.error
        if time.time() > deadline:
            raise TimeoutError(f"ingest stream stalled before batch {batch_id}")
        time.sleep(0.2)


def stream_query(spark, root: str, sink, checkpoint: str):
    from pyspark.sql import functions as F

    env = (spark.readStream.format("dis").option("path", root)
           .option("stream", "ingest").load())
    kind = F.get_json_object("value", "$.kind")
    return (env.where(kind != "hb")
            .select("partition", "key",
                    F.concat_ws("|", kind, F.get_json_object("value", "$.body"))
                    .alias("value"), "timestamp")
            .writeStream.queryName("ingest").foreachBatch(sink)
            .option("checkpointLocation", checkpoint)
            .trigger(processingTime="0 seconds").start())


def run(ctx: Ctx) -> dict:
    t_setup = time.perf_counter()
    spark = start_session(ctx)
    from spark_streaming_dis_plugin_spark.sources.dis_datasource import (
        DisDataSource,
    )
    from spark_streaming_dis_plugin_spark.sources.dis_log import DisLog
    from spark_streaming_dis_plugin_spark.streaming.sink import (
        DisForeachBatchSink,
    )

    spark.dataSource.register(DisDataSource)
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "5000")
    root = os.path.join(ctx.work, "logs")
    src = DisLog(root, "ingest").create(PARTITIONS)
    dst = DisLog(root, "delivered").create(PARTITIONS)
    records = datagen.IngestRecords(ctx.seed, PARTITIONS)
    drop_key = None
    if ctx.drop_record:
        head = records.slice(0, 1000)
        drop_key = head[head["kind"] != "hb"]["key"].iloc[100]
    sink = TimedSink(DisForeachBatchSink(dst, "ingest"), drop_key)
    rate = RATE * ctx.scale
    producer = Producer(src, records, rate, TICK)
    query = stream_query(spark, root, sink,
                         os.path.join(ctx.work, "ckpt-ingest"))
    producer.start()
    try:
        wait_batches(query, producer, None)
        wait_batches(query, producer, query.lastProgress["batchId"]
                     + WARM_BATCHES)
        setup_s = time.perf_counter() - t_setup
        t_start = time.time()
        time.sleep(ctx.seconds)
        t_end = time.time()
    finally:
        producer.stop()
    if producer.error is not None:
        raise producer.error
    total = producer.n
    deadline = time.time() + 60
    while sum(p["numInputRows"] for p in progress_by_batch(query).values()) < total:
        if query.exception() is not None:
            raise query.exception()
        if time.time() > deadline:
            break               # the shortfall shows up as failed records
        time.sleep(0.05)
    query.stop()
    ctx.end_timed()

    progress = progress_by_batch(query)
    returns = {b: t1 for b, _, t1 in sink.calls}
    delivered = read_delivered(dst)
    produced = records.slice(0, total)
    failed = check(delivered, expected_output(produced))

    # measured records: due inside the window, delivered once
    lo = int(np.ceil((t_start - producer.t0) * rate))
    hi = min(total, int(np.ceil((t_end - producer.t0) * rate)))
    win = delivered[delivered["key"].isin(set(produced["key"].iloc[lo:hi]))]
    idx = win["key"].str[1:].astype(np.int64).to_numpy()
    batch = win["batch"].to_numpy()
    ret = np.array([returns.get(int(b), np.nan) for b in batch])
    ok = ~np.isnan(ret)
    latency = ((ret - producer.due(idx)) * 1e3)[ok]

    in_win = sorted((t1, b) for b, _, t1 in sink.calls
                    if t_start < t1 <= t_end and b in progress)
    if len(in_win) < 2:   # window shorter than two batches: use the tail too
        in_win = sorted((t1, b) for b, _, t1 in sink.calls
                        if t_start < t1 and b in progress)
    win_progress = [progress[b] for _, b in in_win]
    ret_t = np.array([t for t, _ in in_win])
    rows = np.cumsum([p["numInputRows"] for p in win_progress])

    late = np.concatenate([t1 - producer.due(np.arange(a, b))
                           for a, b, _, t1 in producer.appends
                           if b > lo and a < hi]) * 1e3
    result = {
        "attempted": total, "failed": failed, "setup_s": setup_s,
        "latency_ms": latency.tolist(), "sample_units": batch[ok].tolist(),
        "units": len(set(batch[ok].tolist())),
        # slope of records delivered against sink-return time
        "records_per_s": float(np.polyfit(ret_t, rows, 1)[0]),
        # micro-batches completed per second between the window's first
        # and last sink return
        "queries_per_s": (len(ret_t) - 1) / (ret_t[-1] - ret_t[0]),
        # the producer's schedule sets it while the stream keeps up, not
        # the machine's speed
        "not_scaled": ["records_per_s"],
        "info": {"measured_s": round(t_end - t_start, 3), "rate": rate,
                 "records_produced": total, "records_delivered": len(delivered),
                 "batches_in_window": len(in_win),
                 "producer_late_ms_p99": round(float(percentile(late, 99)), 3)},
    }
    if ctx.trace:
        result["layers"] = _layers(ctx, src, dst, producer, sink,
                                   win_progress, late, t_start, t_end)
        result["layers"].update(_source_and_state_layers(ctx, spark, root,
                                                         src, total))
    return result


def _layers(ctx, src, dst, producer, sink, win_progress, late,
            t_start, t_end) -> dict:
    tracer = ctx.tracer
    add_ids = engine_spans(tracer, win_progress)
    calls = [c for c in sink.calls if c[0] in add_ids]
    for b, t0, t1 in calls:
        tracer.add("sink.call", t0, t1, parent=add_ids.get(b), shared_id=str(b))
    appends = [a for a in producer.appends if t_start <= a[2] < t_end]
    for lo, hi, t0, t1 in appends:
        tracer.add("dis_log.append", t0, t1, shared_id=f"{lo}-{hi}")
    tracer.bookkeeping_s += sum(own for t1, own in sink.own_s
                                if t_start < t1 <= t_end)
    out = engine_layers(win_progress)
    call_ms = [(t1 - t0) * 1e3 for _, t0, t1 in calls]
    out["sink.call_ms_p50"] = hd_percentile(call_ms, 50)
    out["sink.call_ms_p90"] = hd_percentile(call_ms, 90)
    out["dis_log.append_ms"] = median([(t1 - t0) * 1e3
                                       for _, _, t0, t1 in appends])
    out.update(log_layers(tracer, src, dst))
    out["producer.late_ms_p99"] = percentile(late.tolist(), 99)
    return out


def _source_and_state_layers(ctx, spark, root, src, total) -> dict:
    """After the ingest stream stops: one bounded batch read of the
    ingested log (``sources.dis_batch``) and one drain of it through the
    stateful word count (the state store)."""
    from spark_streaming_dis_plugin_spark.sources.dis_batch import dis_read

    out = {"dis_batch.read_records_per_s": read_rate(
        ctx.tracer, spark, src, dis_read, repeats=1, share=0.2)}
    with ctx.tracer.span("state.wordcount_drain"):
        d = drain_wordcount(spark, root, "ingest", total, 25_000,
                            "ingest_state", ctx.work)
    out.update(state_layers([d]))
    return out


def drain_wordcount(spark, root: str, stream: str, n: int, per_trigger: int,
                    name: str, work: str) -> dict:
    """One drain of ``n`` records through ``running_wordcount`` in complete
    mode; returns its data-batch progress events."""
    from spark_streaming_dis_plugin_spark.streaming.drain import drain_available
    from spark_streaming_dis_plugin_spark.streaming.queries import (
        running_wordcount,
    )

    reader = (spark.readStream.format("dis").option("path", root)
              .option("stream", stream)
              .option("maxOffsetsPerTrigger", str(per_trigger)))
    q = (running_wordcount(reader.load()).writeStream
         .format("memory").queryName(name).outputMode("complete")
         .option("checkpointLocation", os.path.join(work, f"ckpt-{name}"))
         .trigger(processingTime="0 seconds").start())
    drain_available(q, expected_rows=n, stop_at_count=True,
                    poll_seconds=0.05, timeout_seconds=150)
    spark.catalog.dropTempView(name)
    return {"progress": sorted((p for p in q.recentProgress
                                if p["numInputRows"] > 0),
                               key=lambda p: p["batchId"])}


def state_layers(drains: list[dict]) -> dict:
    """State-store size at the end of each drain and per-batch commit time,
    from the stateful operator's progress."""
    states = [p["stateOperators"][0] for d in drains for p in d["progress"]
              if p["stateOperators"]]
    finals = [d["progress"][-1]["stateOperators"][0] for d in drains
              if d["progress"][-1]["stateOperators"]]
    return {"state.rows_total": median([s["numRowsTotal"] for s in finals]),
            "state.memory_bytes": median([s["memoryUsedBytes"] for s in finals]),
            "state.commit_ms": median([s["commitTimeMs"] for s in states])}


def log_layers(tracer, src, dst) -> dict:
    """Planning cost on the final log: ``latest_offsets`` re-lists every
    segment, so it grows with the segment count."""
    times = []
    for _ in range(20):
        with tracer.span("dis_log.latest_offsets") as sp:
            src.latest_offsets()
        times.append(sp.seconds * 1e3)
    return {"dis_log.latest_offsets_ms": median(times),
            "dis_log.segments": sum(len(src.segment_infos(p))
                                    for p in src.partitions()),
            "dis_log.ledger_txns": len(dst.committed_txns()) if dst else 0}


def read_rate(tracer, spark, log, dis_read, repeats: int = 3,
              share: float = 1.0) -> float:
    """Records per second of a bounded ``dis_read(...).count()`` over the
    first ``share`` of every partition, median of ``repeats``."""
    import json
    ranges = {p: [0, int(latest * share)]
              for p, latest in log.latest_offsets().items()}
    n = sum(hi for _, hi in ranges.values())
    times = []
    for _ in range(repeats):
        with tracer.span("dis_batch.read_count") as sp:
            got = dis_read(spark, log, json.dumps(
                {str(p): r for p, r in ranges.items()})).count()
        if got != n:
            raise RuntimeError(f"dis_read counted {got} of {n} records")
        times.append(sp.seconds)
    return n / median(times)
