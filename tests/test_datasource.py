"""format("dis") Python DataSource: batch reads (offset ranges, sentinels,
boundaries), streaming micro-batches (rate limiting, availableNow drain,
checkpoint restart), and the writer/sink paths."""

from __future__ import annotations

import time

import pytest

from pyspark.sql import functions as F

from spark_streaming_dis_plugin_spark.sources.dis_datasource import (
    DisDataSource,
)
from spark_streaming_dis_plugin_spark.sources.dis_log import (
    DisLog, create_log_from_events, envelope,
)
from spark_streaming_dis_plugin_spark.streaming.queries import (
    dedup_within_watermark, running_wordcount, windowed_counts,
)
from spark_streaming_dis_plugin_spark.streaming.sink import (
    DisForeachBatchSink,
)
from spark_streaming_dis_plugin_spark.tables import load_events

from .read_plan import planned_ranges


@pytest.fixture(scope="module")
def log(spark, sf_dir, tmp_path_factory) -> DisLog:
    spark.dataSource.register(DisDataSource)
    root = str(tmp_path_factory.mktemp("dslog"))
    return create_log_from_events(
        spark, f"{sf_dir}/events.parquet", root, segment_rows=100)


def _dis(spark, log: DisLog):
    return (spark.read.format("dis")
            .option("path", log.root).option("stream", log.stream))


def test_batch_full_scan(spark, sf_dir, log):
    df = _dis(spark, log).load()
    env = envelope(load_events(spark, sf_dir))
    assert df.count() == env.count()
    assert df.columns == ["stream", "partition", "offset", "key", "value",
                          "timestamp"]


def test_batch_offset_ranges_and_sentinels(spark, log):
    df = (_dis(spark, log)
          .option("offsetRanges", '{"0":[100,200],"1":[-2,-1]}').load())
    counts = {r["partition"]: r["count"] for r in
              df.groupBy("partition").count().collect()}
    assert counts[0] == 100
    assert counts[1] == log.latest_offsets()[1]


def test_batch_starting_ending_offsets(spark, log):
    df = (_dis(spark, log)
          .option("startingOffsets", '{"events":{"0":10,"1":10,"2":10,"3":10}}')
          .option("endingOffsets", '{"events":{"0":20,"1":20,"2":20,"3":20}}')
          .load())
    assert df.count() == 40
    assert df.agg(F.min("offset")).first()[0] == 10
    assert df.agg(F.max("offset")).first()[0] == 19


def test_batch_filter_pushdown_runs(spark, log):
    df = _dis(spark, log).load().where(F.col("partition") == 0)
    assert df.count() == log.latest_offsets()[0]


def test_stream_available_now_reads_everything(spark, log, tmp_path):
    sdf = (spark.readStream.format("dis")
           .option("path", log.root).option("stream", log.stream).load())
    q = (sdf.writeStream.format("memory").queryName("full_drain")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("SELECT count(*) FROM full_drain").first()[0]
    assert got == sum(log.latest_offsets().values())


def test_stream_rate_limit_spreads_batches(spark, log, tmp_path):
    """maxOffsetsPerTrigger under a processing-time trigger: the backlog
    drains across many micro-batches, each within the budget (the
    lag-proportional split of rate.py driving latestOffset)."""
    import time

    sdf = (spark.readStream.format("dis")
           .option("path", log.root).option("stream", log.stream)
           .option("maxOffsetsPerTrigger", "100")
           .load())
    q = (sdf.writeStream.format("memory").queryName("rated")
         .option("checkpointLocation", str(tmp_path / "ckpt2"))
         .trigger(processingTime="50 milliseconds").start())
    total = sum(log.latest_offsets().values())
    deadline = time.time() + 120
    while time.time() < deadline:
        if spark.sql("SELECT count(*) FROM rated").first()[0] >= total:
            break
        time.sleep(0.5)
    q.stop()
    assert spark.sql("SELECT count(*) FROM rated").first()[0] == total
    data_batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(data_batches) >= 3
    assert all(p["numInputRows"] <= 104 for p in data_batches)


def test_stream_checkpoint_resume_no_dups(spark, log, tmp_path):
    """Exactly-once across restart: stop mid-stream, restart from the
    checkpoint, total rows = log size with no duplicates
    (≅ checkpoint restore, DirectDISInputDStream.scala:367-397)."""
    ckpt = str(tmp_path / "ckpt3")
    out = str(tmp_path / "out3")

    def start():
        sdf = (spark.readStream.format("dis")
               .option("path", log.root).option("stream", log.stream)
               .load())
        return (sdf.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True).start())

    q = start()
    q.awaitTermination(180)     # first drain completes fully
    first = spark.read.parquet(out).count()
    q2 = start()                # restart: no new data -> no duplicates
    q2.awaitTermination(120)
    got = spark.read.parquet(out)
    assert first == sum(log.latest_offsets().values())
    assert got.count() == first
    assert (got.groupBy("partition", "offset").count()
            .where(F.col("count") > 1).count()) == 0


def test_streaming_wordcount_matches_batch(spark, sf_dir, log, tmp_path):
    sdf = (spark.readStream.format("dis")
           .option("path", log.root).option("stream", log.stream).load())
    q = (running_wordcount(sdf).writeStream.format("memory")
         .queryName("wc").outputMode("complete")
         .option("checkpointLocation", str(tmp_path / "wc"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    batch = {r["word"]: r["n"] for r in
             running_wordcount(envelope(load_events(spark, sf_dir)))
             .collect()}
    stream = {r["word"]: r["n"] for r in
              spark.sql("SELECT * FROM wc").collect()}
    assert batch == stream


def test_streaming_windowed_counts_matches_batch(spark, sf_dir, log, tmp_path):
    sdf = (spark.readStream.format("dis")
           .option("path", log.root).option("stream", log.stream).load())
    q = (windowed_counts(sdf).writeStream.format("memory")
         .queryName("wcnt").outputMode("complete")
         .option("checkpointLocation", str(tmp_path / "wcnt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    stream_rows = {(str(r["window_start"]), r["partition"]): r["n"]
                   for r in spark.sql("SELECT * FROM wcnt").collect()}
    batch_rows = {(str(r["window_start"]), r["partition"]): r["n"]
                  for r in windowed_counts(envelope(load_events(spark, sf_dir)))
                  .collect()}
    assert stream_rows == batch_rows


def test_streaming_dedup_within_watermark(spark, log, tmp_path):
    sdf = (spark.readStream.format("dis")
           .option("path", log.root).option("stream", log.stream).load())
    q = (dedup_within_watermark(sdf).writeStream.format("memory")
         .queryName("dd").outputMode("append")
         .option("checkpointLocation", str(tmp_path / "dd"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    n = spark.sql("SELECT count(*) FROM dd").first()[0]
    assert 0 < n <= sum(log.latest_offsets().values())


def test_batch_writer_appends(spark, log, tmp_path):
    out = DisLog(str(tmp_path / "outlog"), "out").create(2)
    src = _dis(spark, log).option("offsetRanges", '{"0":[0,50]}').load()
    (src.select((F.col("partition") % 2).cast("int").alias("partition"),
                "key", "value", "timestamp")
        .write.format("dis")
        .option("path", out.root).option("stream", "out")
        .mode("append").save())
    assert sum(out.latest_offsets().values()) == 50
    back = (spark.read.format("dis")
            .option("path", out.root).option("stream", "out").load())
    assert back.count() == 50


def test_foreach_batch_sink_idempotent(spark, log, tmp_path):
    out = DisLog(str(tmp_path / "fblog"), "fb").create(2)
    sink = DisForeachBatchSink(out, "qq")
    batch = (_dis(spark, log).option("offsetRanges", '{"0":[0,30]}').load()
             .select((F.col("partition") % 2).cast("int").alias("partition"),
                     "key", "value", "timestamp"))
    sink(batch, 0)
    assert sum(out.latest_offsets().values()) == 30
    sink(batch, 0)  # replay of same batch id -> skipped
    assert sum(out.latest_offsets().values()) == 30
    sink(batch, 1)
    assert sum(out.latest_offsets().values()) == 60


def test_sink_commits_through_commit_assigned(spark, log, tmp_path):
    """The sink lands its rows only through ``commit_assigned``: hooking
    ``DisLog.append`` (the untagged driver-side append) to fail leaves the
    batch committed, every segment carries the txn tag, the ledger
    records the txn, and nothing is left under ``_staging/``."""
    from spark_streaming_dis_plugin_spark.sources.dis_log import DisLog as DL

    out = DL(str(tmp_path / "nodriver"), "nd").create(2)
    orig = DL.append
    DL.append = lambda *a, **k: (_ for _ in ()).throw(
        AssertionError("driver-side append called from writer path"))
    try:
        sink = DisForeachBatchSink(out, "ndq")
        batch = (_dis(spark, log).option("offsetRanges", '{"0":[0,40]}')
                 .load()
                 .select((F.col("partition") % 2).cast("int")
                         .alias("partition"), "key", "value", "timestamp"))
        sink(batch, 0)
    finally:
        DL.append = orig
    assert sum(out.latest_offsets().values()) == 40
    # every segment of the batch carries the txn tag; ledger recorded
    infos = [s for p in out.partitions() for s in out.segment_infos(p)]
    assert infos and all(s.txn == "ndq_b0" for s in infos)
    assert "ndq_b0" in out.committed_txns()
    # no staged leftovers
    import os
    stage = os.path.join(out.stream_dir, "_staging")
    assert not os.path.isdir(stage) or not os.listdir(stage)


def test_sink_creates_no_staging_dir(spark, log, tmp_path):
    """A sink call commits from the collected batch and never creates
    ``<stream>/_staging/``."""
    import os

    out = DisLog(str(tmp_path / "nostage"), "ns").create(2)
    batch = (_dis(spark, log).option("offsetRanges", '{"0":[0,20]}').load()
             .select((F.col("partition") % 2).cast("int").alias("partition"),
                     "key", "value", "timestamp"))
    DisForeachBatchSink(out, "nsq")(batch, 0)
    assert sum(out.latest_offsets().values()) == 20
    assert not os.path.exists(os.path.join(out.stream_dir, "_staging"))


def test_sink_empty_batch_records_txn_without_segments(spark, log, tmp_path):
    """An empty micro-batch still commits its txn, so a replay skips it,
    and writes no segment."""
    out = DisLog(str(tmp_path / "empty"), "em").create(2)
    batch = (_dis(spark, log).option("offsetRanges", '{"0":[0,20]}').load()
             .where(F.lit(False))
             .select("partition", "key", "value", "timestamp"))
    DisForeachBatchSink(out, "emq")(batch, 0)
    assert "emq_b0" in out.committed_txns()
    assert not [s for p in out.partitions() for s in out.segment_infos(p)]
    assert sum(out.latest_offsets().values()) == 0


def test_writer_crash_recovery_rolls_back_uncommitted_txn(spark, log, tmp_path):
    """Crash between segment append and ledger record must not duplicate:
    the replayed batch first rolls back the orphaned tagged tail."""
    import os
    import shutil

    from spark_streaming_dis_plugin_spark.sources.dis_log import (
        DisLog as DL, segment_name,
    )

    out = DL(str(tmp_path / "crashlog"), "cr").create(2)
    sink = DisForeachBatchSink(out, "cq")
    batch = (_dis(spark, log).option("offsetRanges", '{"0":[0,30]}').load()
             .select((F.col("partition") % 2).cast("int").alias("partition"),
                     "key", "value", "timestamp"))
    sink(batch, 0)
    base = sum(out.latest_offsets().values())
    assert base == 30

    # simulate a crashed batch-1 attempt: tagged tail segments exist,
    # ledger does NOT record cq_b1
    seg0 = out.segment_infos(0)[0]
    for p in (0, 1):
        tail = out.latest_offsets()[p]
        fake = os.path.join(out._part_dir(p),
                            segment_name(tail, tail + 7, 7, "cq_b1"))
        shutil.copyfile(seg0.path, fake)
    assert sum(out.latest_offsets().values()) == base + 14
    assert "cq_b1" not in out.committed_txns()

    sink(batch, 1)  # replay: rollback 14 orphan rows, append the real 30
    assert sum(out.latest_offsets().values()) == base + 30
    assert "cq_b1" in out.committed_txns()
    # offsets stay dense per partition
    for p in out.partitions():
        segs = out.segment_infos(p)
        expect = 0
        for s in segs:
            assert s.from_offset == expect and s.dense
            expect = s.until_offset


def test_writer_key_hash_routing(spark, tmp_path):
    """Rows without a partition column route by portable key-hash — stable
    across writes, round-trips through the reader (DISSink.scala:27-34
    key-routing semantics)."""
    from spark_streaming_dis_plugin_spark.functions.portable import (
        portable_hash_py,
    )
    from spark_streaming_dis_plugin_spark.sources.dis_log import DisLog as DL

    spark.dataSource.register(DisDataSource)
    out = DL(str(tmp_path / "routelog"), "rt").create(4)
    df = spark.createDataFrame(
        [(f"k{i % 7}", f"v{i}") for i in range(100)], "key string, value string"
    ).withColumn("timestamp", F.lit("2024-01-01 00:00:00")
                 .cast("timestamp_ntz"))
    (df.write.format("dis").mode("append")
       .option("path", out.root).option("stream", "rt").save())
    back = (spark.read.format("dis")
            .option("path", out.root).option("stream", "rt").load())
    rows = back.select("partition", "key").collect()
    assert len(rows) == 100
    for r in rows:
        assert r["partition"] == portable_hash_py(r["key"]) % 4
    # same keys -> same partitions on a second append
    (df.write.format("dis").mode("append")
       .option("path", out.root).option("stream", "rt").save())
    again = (spark.read.format("dis")
             .option("path", out.root).option("stream", "rt").load())
    assert again.count() == 200
    assert (again.select("partition", "key").distinct().count()
            == back.select("partition", "key").distinct().count())
    # the foreachBatch sink routes in the plan by the same hash; both
    # paths, with no partition column and with a null partition value
    variants = {"nocol": df,
                "nullcol": df.withColumn("partition", F.lit(None).cast("int"))}
    for name, frame in variants.items():
        for path in ("dis", "sink"):
            dst = DL(str(tmp_path / f"route_{name}_{path}"), "rt").create(4)
            if path == "sink":
                DisForeachBatchSink(dst, name)(frame, 0)
            else:
                (frame.write.format("dis").mode("append")
                 .option("path", dst.root).option("stream", "rt").save())
            got = (spark.read.format("dis").option("path", dst.root)
                   .option("stream", "rt").load()
                   .select("partition", "key").collect())
            assert len(got) == 100, (name, path)
            for r in got:
                assert r["partition"] == portable_hash_py(r["key"]) % 4, \
                    (name, path)


def _log_rows(log):
    """Per partition: [(offset, key, value, timestamp)] in offset order,
    plus the segment spans — read straight from the segment files."""
    import pyarrow.parquet as pq

    out = {}
    for p in log.partitions():
        rows, spans = [], []
        for s in log.segment_infos(p):
            t = pq.read_table(s.path)
            assert t.column_names == ["offset", "key", "value", "timestamp"]
            rows += list(zip(*(t.column(c).to_pylist()
                               for c in t.column_names)))
            spans.append((s.from_offset, s.until_offset, s.rows))
        out[p] = (rows, spans)
    return out


@pytest.mark.parametrize("ts_type", ["timestamp_ntz", "timestamp"])
def test_sink_segments_match_dis_writer(spark, tmp_path, ts_type):
    """Fidelity: for the same batch, the foreachBatch sink (Arrow collect
    + driver commit) writes exactly the segments a
    ``format("dis")`` write does — key, value, timestamp, per-partition
    row order and segment spans — for an NTZ and an LTZ timestamp
    column under a non-UTC session timezone, with rows across several
    tasks, null partitions (key-hash routed), a null key and a null
    timestamp."""
    from spark_streaming_dis_plugin_spark.sources.dis_log import DisLog as DL

    spark.dataSource.register(DisDataSource)
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        # 2024-03-10 00:00 UTC onwards in 7-minute steps: the rows span
        # New York's spring-forward gap
        ts = F.timestamp_micros(F.lit(1710028800000000)
                                + F.col("id") * 420000000)
        batch = (spark.range(0, 120, 1, 3)
                 .select(F.when(F.col("id") % 5 == 0, F.lit(None))
                         .otherwise(F.col("id") % 3).cast("int")
                         .alias("partition"),
                         F.when(F.col("id") == 7, F.lit(None))
                         .otherwise(F.format_string("k%d", F.col("id") % 11))
                         .alias("key"),
                         F.format_string("v%d", "id").alias("value"),
                         F.when(F.col("id") == 9, F.lit(None))
                         .otherwise(ts).cast(ts_type).alias("timestamp")))
        via_dis = DL(str(tmp_path / "dis"), "f").create(3)
        (batch.write.format("dis").mode("append")
         .option("path", via_dis.root).option("stream", "f").save())
        via_sink = DL(str(tmp_path / "sink"), "f").create(3)
        DisForeachBatchSink(via_sink, "fq")(batch, 0)
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)
    want, got = _log_rows(via_dis), _log_rows(via_sink)
    assert sum(len(rows) for rows, _ in want.values()) == 120
    assert all(len(spans) > 1 for _, spans in want.values())  # >1 task
    assert got == want


def test_stateful_running_totals(spark, sf_dir, log, tmp_path):
    """applyInPandasWithState: state persists across rate-limited
    micro-batches within ONE run (drain_available gives the Kafka
    availableNow semantics) and across a checkpoint restart — final
    per-key totals equal the batch aggregate over the whole log."""
    from spark_streaming_dis_plugin_spark.streaming.drain import (
        drain_available,
    )
    from spark_streaming_dis_plugin_spark.streaming.stateful import (
        running_totals_per_key,
    )

    out = str(tmp_path / "rt_out")

    def start(trigger_kwargs):
        # foreachBatch sink because memory sink can't recover checkpoints.
        sdf = (spark.readStream.format("dis")
               .option("path", log.root).option("stream", log.stream)
               .option("maxOffsetsPerTrigger", "300")
               .load())
        return (running_totals_per_key(sdf).writeStream
                .foreachBatch(lambda df, _id: df.write.mode("append")
                              .parquet(out))
                .outputMode("update")
                .option("checkpointLocation", str(tmp_path / "rt"))
                .trigger(**trigger_kwargs).start())

    # one run drains the whole 1000-record backlog in >= 4 rate-limited
    # batches, state flowing across batches
    data_batches = drain_available(
        start({"processingTime": "50 milliseconds"}), timeout_seconds=180)
    assert data_batches >= 4
    # restart from the checkpoint: no new data, state must not regress
    q = start({"availableNow": True})
    q.awaitTermination(120)
    spark.read.parquet(out).createOrReplaceTempView("rt")
    # last emitted row per key = final state
    final = {r["key"]: (r["n_events"], r["total"]) for r in spark.sql("""
        SELECT key, n_events, total FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY key
                                       ORDER BY n_events DESC) rn FROM rt)
        WHERE rn = 1""").collect()}
    batch = {r["key"]: (r["n"], r["total"]) for r in
             envelope(load_events(spark, sf_dir))
             .select("key", F.get_json_object("value", "$.k")
                     .cast("double").alias("amount"))
             .groupBy("key")
             .agg(F.count(F.lit(1)).alias("n"), F.sum("amount").alias("total"))
             .collect()}
    assert final == batch


def test_native_stream_writer_exactly_once(spark, log, tmp_path):
    """writeStream.format('dis') — the native streaming sink: log-to-log
    copy with per-batch txns; a restart with no new data appends nothing,
    and every record arrives exactly once."""
    from spark_streaming_dis_plugin_spark.sources.dis_log import DisLog

    out = DisLog(str(tmp_path / "nsw_root"), "nsw").create(2)

    def run():
        sdf = (spark.readStream.format("dis")
               .option("path", log.root).option("stream", log.stream)
               .load())
        q = (sdf.select((F.col("partition") % 2).cast("int")
                        .alias("partition"), "key", "value", "timestamp")
             .writeStream.format("dis")
             .option("path", out.root).option("stream", "nsw")
             .option("txnPrefix", "nswq")
             .option("checkpointLocation", str(tmp_path / "nsw_ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination(180)

    run()
    total = sum(log.latest_offsets().values())
    assert sum(out.latest_offsets().values()) == total
    run()   # restart: no new data -> nothing appended
    assert sum(out.latest_offsets().values()) == total
    # txn-tagged segments + ledger recorded
    infos = [s for p in out.partitions() for s in out.segment_infos(p)]
    assert infos and all(s.txn and s.txn.startswith("nswq_b") for s in infos)
    assert any(t.startswith("nswq_b") for t in out.committed_txns())
    # round-trip: same multiset of values
    back = (spark.read.format("dis")
            .option("path", out.root).option("stream", "nsw").load())
    src = (spark.read.format("dis")
           .option("path", log.root).option("stream", log.stream).load())
    assert (back.groupBy("value").count().orderBy("value").collect()
            == src.groupBy("value").count().orderBy("value").collect())


def test_backpressure_pid_adapts_batch_sizes(spark, log):
    """Driving the stream reader directly: with backpressure enabled, a
    slow consumer (long commit latency) pushes planned batch sizes down
    from the initial rate (PID wiring ≅
    DirectDISInputDStream.scala:57-58,120-127)."""
    import time as _t

    from spark_streaming_dis_plugin_spark.sources.dis_datasource import (
        DisStreamReader,
    )
    from spark_streaming_dis_plugin_spark.sources.dis_log import DisLog

    reader = DisStreamReader(DisLog(log.root, log.stream), {
        "backpressureenabled": "true",
        "backpressureinitialrate": "200",
        "backpressureminrate": "10",
        "batchseconds": "0.1",
    })
    start = reader.initialOffset()

    def planned_total(a, b):
        return sum(int(b[p]) - int(a.get(p, 0)) for p in b)

    cur = start
    sizes = []
    for _ in range(4):
        end = reader.latestOffset()
        sizes.append(planned_total(cur, end))
        reader.partitions(cur, end)
        _t.sleep(0.5)          # 5x the batch interval -> heavy backlog
        reader.commit(end)
        cur = end
    # initial-rate batch first (200/s * 0.1s = 20 records, minus integer
    # floors on the lag-proportional split), then the PID reacts to the
    # measured ~40/s processing rate and cuts the budget
    assert 15 <= sizes[0] <= 20
    assert sizes[-1] < sizes[0] // 2
    assert all(s >= 4 for s in sizes)  # floor: 1 record per partition


def test_restart_with_rate_limit_no_duplicates(spark, tmp_path):
    """ADVICE r1: after a checkpoint restart, the first latestOffset()
    plans against the startingOffsets seed (the Python DataSource API
    passes no start) — the _floor guard must prevent any re-read, and
    the stream must drain new data without duplicates."""
    import pandas as pd

    from spark_streaming_dis_plugin_spark.sources.dis_log import DisLog
    from spark_streaming_dis_plugin_spark.streaming.drain import (
        drain_available,
    )

    spark.dataSource.register(DisDataSource)
    root = str(tmp_path / "rl_root")
    out = str(tmp_path / "rl_out")
    rl_log = DisLog(root, "rl").create(2)

    def batch(n, tag):
        return pd.DataFrame({
            "partition": [i % 2 for i in range(n)],
            "key": [f"k{i}" for i in range(n)],
            "value": [f"{tag}-{i}" for i in range(n)],
            "timestamp": pd.to_datetime(["2024-01-01"] * n),
        })

    rl_log.append(batch(200, "a"))

    def start():
        sdf = (spark.readStream.format("dis")
               .option("path", root).option("stream", "rl")
               .option("maxOffsetsPerTrigger", "50")
               .load())
        return (sdf.writeStream.format("parquet").option("path", out)
                .option("checkpointLocation", str(tmp_path / "rl_ckpt"))
                .trigger(processingTime="50 milliseconds").start())

    assert drain_available(start(), timeout_seconds=120) >= 3
    assert spark.read.parquet(out).count() == 200

    rl_log.append(batch(100, "b"))
    drain_available(start(), timeout_seconds=120)  # restart from ckpt
    got = spark.read.parquet(out)
    assert got.count() == 300
    assert (got.groupBy("partition", "offset").count()
            .where(F.col("count") > 1).count()) == 0


def test_transform_with_state_totals(spark, log, tmp_path):
    """transformWithStateInPandas (the modern arbitrary-state API) twin
    of the applyInPandasWithState running totals. The protobuf runtime
    the API requires is VENDORED (streaming/pbvendor.py stages the Cloud
    SDK's pure-Python protobuf into PYTHONPATH before session.get_spark
    launches the JVM), so this test runs for real here; it only skips if
    the runtime genuinely cannot reach the JVM-spawned workers (e.g. a
    session created before the vendor staging). The equality chain to
    the oracle: tws == applyInPandasWithState == the DuckDB-anchored
    dis_stateful_totals_streamed row."""
    from spark_streaming_dis_plugin_spark.streaming.pbvendor import (
        tws_runtime_ready,
    )

    if not tws_runtime_ready(spark):
        pytest.skip("protobuf runtime not visible to Spark workers "
                    "(JVM launched before vendor staging)")

    from pyspark.sql import Window

    from spark_streaming_dis_plugin_spark.streaming.stateful import (
        ROCKSDB_PROVIDER, running_totals_per_key,
        running_totals_transform_with_state,
    )

    conf_key = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(conf_key, ROCKSDB_PROVIDER)
    try:
        sdf = (spark.readStream.format("dis")
               .option("path", log.root).option("stream", log.stream)
               .load())
        q = (running_totals_transform_with_state(sdf)
             .writeStream.format("memory").queryName("tws")
             .outputMode("update")
             .option("checkpointLocation", str(tmp_path / "tws"))
             .trigger(availableNow=True).start())
        q.awaitTermination(180)
    finally:
        spark.conf.unset(conf_key)
    sdf2 = (spark.readStream.format("dis")
            .option("path", log.root).option("stream", log.stream).load())
    q2 = (running_totals_per_key(sdf2)
          .writeStream.format("memory").queryName("aipws")
          .outputMode("update")
          .option("checkpointLocation", str(tmp_path / "aipws"))
          .trigger(availableNow=True).start())
    q2.awaitTermination(180)
    w = Window.partitionBy("key").orderBy(F.desc("n_events"))
    final = {}
    for name in ("tws", "aipws"):
        rows = (spark.table(name)
                .withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") == 1).collect())
        final[name] = {(r["key"], r["n_events"], r["total"]) for r in rows}
    assert final["tws"] == final["aipws"]


def test_replay_uncommitted_batch_after_restart(spark, log, tmp_path):
    """A batch whose offsets reached the WAL but whose commit marker did
    not (crash between offset-log write and commit) MUST be re-read on
    restart. Regression: the engine's post-restart zero-width resync call
    partitions(latest_wal, latest_wal) used to poison the _floor guard,
    clamping the genuine replay [prev_wal, latest_wal) to empty — a
    silently dropped batch (≅ the recovery contract of
    DirectDISInputDStream.scala:367-397)."""
    import glob
    import os

    from spark_streaming_dis_plugin_spark.streaming.drain import (
        drain_available,
    )

    ckpt = str(tmp_path / "replay_ckpt")
    out = str(tmp_path / "replay_out")
    total = sum(log.latest_offsets().values())

    def start(limited):
        sdf = (spark.readStream.format("dis")
               .option("path", log.root).option("stream", log.stream))
        if limited:
            sdf = sdf.option("maxOffsetsPerTrigger", str(max(total // 6, 1)))
        return (sdf.load().writeStream.format("parquet")
                .option("path", out).option("checkpointLocation", ckpt)
                .trigger(processingTime="0 seconds").start())

    q = start(limited=True)
    deadline = time.monotonic() + 120
    while len(glob.glob(ckpt + "/commits/[0-9]*")) < 3:
        assert time.monotonic() < deadline, "no 3 commits within 120s"
        time.sleep(0.05)
    q.stop()
    q.awaitTermination(60)
    # simulate the crash window: drop the newest commit marker (+ crc)
    last = sorted(glob.glob(ckpt + "/commits/[0-9]*"),
                  key=lambda p: int(os.path.basename(p)))[-1]
    os.remove(last)
    crc = os.path.join(os.path.dirname(last),
                       "." + os.path.basename(last) + ".crc")
    if os.path.exists(crc):
        os.remove(crc)
    drain_available(start(limited=False), timeout_seconds=120)
    got = spark.read.parquet(out)
    assert got.count() == total          # nothing lost
    assert (got.groupBy("partition", "offset").count()
            .where(F.col("count") > 1).count()) == 0   # nothing doubled


def test_subscribe_pattern_multi_stream(spark, log, tmp_path):
    """subscribePattern: regex subscription over multiple streams under one
    root (ConsumerStrategies.SubscribePattern semantics)."""
    import pandas as pd
    root = str(tmp_path / "multiroot")
    for name in ("clicks_a", "clicks_b", "other"):
        out = DisLog(root, name).create(2)
        out.append(pd.DataFrame({
            "partition": [0, 1, 0],
            "key": ["k1", "k2", "k3"],
            "value": [f"{name}-1", f"{name}-2", f"{name}-3"],
            "timestamp": pd.to_datetime(["2024-01-01"] * 3),
        }))
    df = (spark.read.format("dis")
          .option("path", root).option("subscribePattern", "clicks_.*")
          .load())
    assert df.count() == 6
    assert sorted(r["stream"] for r in df.select("stream").distinct()
                  .collect()) == ["clicks_a", "clicks_b"]
    # no match -> clean error
    import pytest as _pytest
    with _pytest.raises(Exception, match="matches no stream"):
        (spark.read.format("dis")
         .option("path", root).option("subscribePattern", "nope.*")
         .load().count())


def test_streaming_sliding_counts(spark, sf_dir, log, tmp_path):
    from spark_streaming_dis_plugin_spark.streaming.queries import (
        sliding_counts,
    )
    sdf = (spark.readStream.format("dis")
           .option("path", log.root).option("stream", log.stream).load())
    q = (sliding_counts(sdf).writeStream.format("memory")
         .queryName("slide").outputMode("complete")
         .option("checkpointLocation", str(tmp_path / "slide"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    stream_rows = {str(r["window_start"]): r["n"]
                   for r in spark.sql("SELECT * FROM slide").collect()}
    batch_rows = {str(r["window_start"]): r["n"]
                  for r in sliding_counts(envelope(load_events(spark, sf_dir)))
                  .collect()}
    assert stream_rows == batch_rows
    # sliding windows: each record lands in window/slide = 2 buckets
    assert sum(stream_rows.values()) == 2 * sum(log.latest_offsets().values())


def test_streaming_session_counts(spark, sf_dir, log, tmp_path):
    from spark_streaming_dis_plugin_spark.streaming.queries import (
        session_counts,
    )
    sdf = (spark.readStream.format("dis")
           .option("path", log.root).option("stream", log.stream).load())
    q = (session_counts(sdf).writeStream.format("memory")
         .queryName("sess").outputMode("complete")
         .option("checkpointLocation", str(tmp_path / "sess"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    stream_rows = {(str(r["session_start"]), r["key"]): r["n_events"]
                   for r in spark.sql("SELECT * FROM sess").collect()}
    batch_rows = {(str(r["session_start"]), r["key"]): r["n_events"]
                  for r in session_counts(envelope(load_events(spark, sf_dir)))
                  .collect()}
    assert stream_rows == batch_rows
    # sessions per key partition the key's events completely
    assert sum(stream_rows.values()) == sum(log.latest_offsets().values())


def test_dynamic_partition_add_mid_stream(spark, tmp_path):
    """A partition added while the stream runs is picked up by the next
    planning pass and read from offset 0 (dynamic partition add,
    DirectDISInputDStream.scala:185-220 semantics)."""
    import pandas as pd
    spark.dataSource.register(DisDataSource)
    root = str(tmp_path / "dynroot")
    out = str(tmp_path / "dynout")
    log = DisLog(root, "dyn").create(2)
    ts = pd.to_datetime(["2024-01-01"] * 4)
    log.append(pd.DataFrame({"partition": [0, 0, 1, 1],
                             "key": list("abcd"),
                             "value": ["v1", "v2", "v3", "v4"],
                             "timestamp": ts}))

    def drain():
        sdf = (spark.readStream.format("dis")
               .option("path", root).option("stream", "dyn").load())
        q = (sdf.writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", str(tmp_path / "dynckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    drain()
    assert spark.read.parquet(out).count() == 4

    # scale out to 3 partitions + write into the new one and an old one
    log.add_partitions(1)
    log.append(pd.DataFrame({"partition": [2, 2, 0],
                             "key": list("xyz"),
                             "value": ["n1", "n2", "n3"],
                             "timestamp": pd.to_datetime(["2024-01-02"] * 3)}))
    drain()
    got = spark.read.parquet(out)
    assert got.count() == 7
    per_part = {r["partition"]: r["count"] for r in
                got.groupBy("partition").count().collect()}
    assert per_part == {0: 3, 1: 2, 2: 2}
    # new partition was read from its beginning
    p2 = sorted(r["offset"] for r in got.where("partition = 2").collect())
    assert p2 == [0, 1]


def test_stream_stream_join_matches_batch(spark, sf_dir, log, tmp_path):
    """Watermarked stream-stream join (time-bounded) == the batch join of
    the same inputs."""
    from spark_streaming_dis_plugin_spark.streaming.queries import (
        purchase_click_join,
    )

    def typed(df, etype):
        return df.where(F.get_json_object("value", "$.k").isNotNull()
                        & (F.col("offset") % 3 == (0 if etype == "p" else 1)))

    sdf = (spark.readStream.format("dis")
           .option("path", log.root).option("stream", log.stream).load())
    joined = purchase_click_join(typed(sdf, "p"), typed(sdf, "c"))
    q = (joined.writeStream.format("memory").queryName("ssj")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ssj"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    stream_rows = sorted(
        (r["p_partition"], r["p_offset"], r["c_partition"], r["c_offset"])
        for r in spark.sql("SELECT * FROM ssj").collect())

    env = envelope(load_events(spark, sf_dir))
    batch = purchase_click_join(typed(env, "p"), typed(env, "c"))
    batch_rows = sorted(
        (r["p_partition"], r["p_offset"], r["c_partition"], r["c_offset"])
        for r in batch.collect())
    assert len(stream_rows) > 0
    assert stream_rows == batch_rows


def test_commit_listener_journals_offsets(spark, log, tmp_path):
    """The commitAsync side-channel: a StreamingQueryListener journals each
    batch's committed dis offsets and fires the user callback
    (CanCommitOffsets.commitAsync parity — observational, the checkpoint
    remains the source of truth)."""
    from spark_streaming_dis_plugin_spark.streaming.listener import (
        DisCommitListener, read_commit_journal,
    )

    journal = str(tmp_path / "journal" / "commits.jsonl")
    calls = []
    listener = DisCommitListener(
        journal, callback=lambda q, b, offs: calls.append((q, b, offs)))
    spark.streams.addListener(listener)
    try:
        sdf = (spark.readStream.format("dis")
               .option("path", log.root).option("stream", log.stream).load())
        q = (sdf.writeStream.format("memory").queryName("journal_q")
             .option("checkpointLocation", str(tmp_path / "jq_ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        deadline = __import__("time").time() + 30
        while __import__("time").time() < deadline and not calls:
            __import__("time").sleep(0.25)   # listener bus is async
    finally:
        spark.streams.removeListener(listener)
    records = read_commit_journal(journal)
    assert records and calls
    final = records[-1]["offsets"]
    assert {int(p): int(o) for p, o in final.items()} == log.latest_offsets()
    assert calls[-1][2] == final


def test_streaming_compacted_log_gate_and_read(spark, tmp_path):
    """Streaming over a compacted log: planning fails fast without
    allowNonConsecutiveOffsets and drains the surviving records with it
    (same gate as the batch path, enforced per micro-batch plan)."""
    import pandas as pd

    from spark_streaming_dis_plugin_spark.sources.dis_log import (
        DisLog, compact_log,
    )

    spark.dataSource.register(DisDataSource)
    root = str(tmp_path / "scl_root")
    clog = DisLog(root, "scl").create(2)
    clog.append(pd.DataFrame({
        "partition": [i % 2 for i in range(40)],
        "key": [f"k{i % 5}" for i in range(40)],
        "value": [f"v{i}" for i in range(40)],
        "timestamp": pd.to_datetime(["2024-01-01"] * 40),
    }))
    removed = compact_log(clog)
    assert sum(removed.values()) == 30   # 5 keys per partition survive

    def start(allow):
        sdf = (spark.readStream.format("dis")
               .option("path", root).option("stream", "scl")
               .option("allowNonConsecutiveOffsets", str(allow).lower())
               .load())
        return (sdf.writeStream.format("memory").queryName("scl_q")
                .option("checkpointLocation",
                        str(tmp_path / f"scl_ckpt_{allow}"))
                .trigger(availableNow=True).start())

    q = start(False)
    with pytest.raises(Exception, match="[nN]on.consecutive"):
        q.awaitTermination(60)
        if q.exception() is not None:
            raise q.exception()

    q2 = start(True)
    q2.awaitTermination(120)
    got = spark.sql("SELECT count(*) FROM scl_q").first()[0]
    assert got == 10


def test_segment_cache_hits_on_rereads(spark, log):
    """Executor-local segment cache (consumer-cache parity,
    DISDataConsumer.scala:259-405): re-reading the same offset range hits
    the decoded-table cache instead of re-decoding parquet. Verified
    in-process by exercising the reader functions directly (the same code
    path Spark's python workers run)."""
    from spark_streaming_dis_plugin_spark.sources import dis_datasource as D

    reader = D.DisBatchReader(log, {"offsetRanges": '{"0":[0,200]}'})
    parts = reader.partitions()
    D._SEGMENT_CACHE.clear()
    D._SEGMENT_CACHE_STATS.update(hits=0, misses=0)
    for p in parts:
        for _ in D._read_range_batches(p):
            pass
    first = dict(D._SEGMENT_CACHE_STATS)
    assert first["misses"] > 0 and first["hits"] == 0
    for p in parts:
        for _ in D._read_range_batches(p):
            pass
    second = dict(D._SEGMENT_CACHE_STATS)
    assert second["misses"] == first["misses"]          # all cached
    assert second["hits"] == first["misses"]
    # capacity bound holds
    assert len(D._SEGMENT_CACHE) <= D._SEGMENT_CACHE_CAP


def test_segment_cache_bounded_by_bytes(spark, log, monkeypatch):
    """ADVICE r2: the cache budget is decoded bytes (per Python worker),
    not just entry count — with a byte budget smaller than one segment
    only the MRU entry may survive eviction."""
    from spark_streaming_dis_plugin_spark.sources import dis_datasource as D

    reader = D.DisBatchReader(log, {"offsetRanges": '{"0":[0,200]}'})
    parts = reader.partitions()
    D._SEGMENT_CACHE.clear()
    monkeypatch.setattr(D, "_SEGMENT_CACHE_BYTES_CAP", 1)
    for p in parts:
        for _ in D._read_range_batches(p):
            pass
    assert len(D._SEGMENT_CACHE) <= 1
    D._SEGMENT_CACHE.clear()


def test_backpressure_idle_triggers_do_not_skew_pid(log):
    """ADVICE r2: a planned=0 idle trigger runs no batch and therefore
    never gets a commit(), so it must not enqueue an in-flight entry —
    otherwise commits pop stale idle-era entries, processing delay is
    overestimated, the PID pins at min_rate, and the deque grows without
    bound on an idle stream."""
    from spark_streaming_dis_plugin_spark.sources.dis_datasource import (
        DisStreamReader,
    )
    from spark_streaming_dis_plugin_spark.sources.dis_log import DisLog

    reader = DisStreamReader(DisLog(log.root, log.stream), {
        "backpressureenabled": "true",
        "batchseconds": "0.1",
    })
    cur = reader.initialOffset()
    end = reader.latestOffset()          # drains the whole backlog
    assert len(reader._inflight) == 1
    reader.partitions(cur, end)
    reader.commit(end)
    assert len(reader._inflight) == 0
    for _ in range(3):                   # idle stream: nothing new to plan
        idle_end = reader.latestOffset()
        assert idle_end == end
        assert len(reader._inflight) == 0


from hypothesis import given, settings, strategies as st


@settings(max_examples=20, deadline=None)
@given(spans=st.lists(st.tuples(st.integers(0, 2), st.integers(1, 5)),
                      min_size=1, max_size=5))
def test_writer_explicit_offset_validation_property(tmp_path_factory, spans):
    """Property: the explicit-offset commit accepts a staged layout iff
    it tiles the partition densely from the committed tail (no flag), and
    always accepts non-overlapping monotone layouts with
    allowNonConsecutiveOffsets. Drives DisWriter directly with synthetic
    staged files — no Spark job needed for the driver-side protocol."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from spark_streaming_dis_plugin_spark.sources.dis_datasource import (
        DisWriter, _Staged, _StagedSeg,
    )
    from spark_streaming_dis_plugin_spark.sources.dis_log import DisLog

    root = str(tmp_path_factory.mktemp("wprop"))
    log = DisLog(root, "wp").create(1)
    stage = os.path.join(log.stream_dir, "_staging")
    os.makedirs(stage, exist_ok=True)

    def staged_files():
        files, offset, dense = [], 0, True
        for i, (gap, rows) in enumerate(spans):
            offset += gap
            if gap:
                dense = False
            offs = list(range(offset, offset + rows))
            path = os.path.join(stage, f"s{i}.parquet")
            pq.write_table(pa.table({
                "offset": pa.array(offs, pa.int64()),
                "key": pa.array([f"k{o}" for o in offs], pa.string()),
                "value": pa.array(["v"] * rows, pa.string()),
                "timestamp": pa.array([0] * rows, pa.timestamp("us")),
            }), path)
            files.append(_StagedSeg(0, offset, offset + rows, rows, path))
            offset += rows
        return files, dense

    cols = ["partition", "offset", "key", "value", "timestamp"]
    files, dense = staged_files()
    msg = _Staged(task_id=0, files=tuple(files))
    strict = DisWriter(log, {}, cols)
    if dense:
        strict.commit([msg])
        assert log.latest_offsets()[0] == files[-1].until_offset
        assert not log.has_gaps()
    else:
        with pytest.raises(ValueError, match="[nN]on.consecutive"):
            strict.commit([msg])
        assert log.latest_offsets()[0] == 0     # nothing became visible
        # retry with the flag: same layout, accepted
        files2, _ = staged_files()
        lax = DisWriter(log, {"allownonconsecutiveoffsets": "true"}, cols)
        lax.commit([_Staged(task_id=0, files=tuple(files2))])
        assert log.latest_offsets()[0] == files2[-1].until_offset
        # a LEADING gap is not a reader-visible gap (the log just starts
        # later — same shape as after retention); only holes between
        # segments make the log gappy
        internal_gap = any(g > 0 for g, _ in spans[1:])
        assert log.has_gaps() == internal_gap


def test_offsets_for_time_matches_bruteforce(spark, sf_dir, log):
    """offsets_for_times parity: per partition, the earliest offset with
    ts >= T — verified against a brute-force scan; a T beyond the log
    resolves every partition to latest (empty read, the Kafka no-match
    default); T at/below the first record resolves to earliest."""
    import datetime

    full = _dis(spark, log).load().select(
        "partition", "offset", "timestamp").collect()
    t = datetime.datetime(2024, 1, 20, 12, 0, 0)
    expect = {}
    for r in full:
        if r["timestamp"] >= t:
            p = r["partition"]
            expect[p] = min(expect.get(p, r["offset"]), r["offset"])
    got = log.offsets_for_time(t)
    latest = log.latest_offsets()
    for p in latest:
        assert got[p] == expect.get(p, latest[p]), p

    beyond = log.offsets_for_time(datetime.datetime(2030, 1, 1))
    assert beyond == latest
    early = log.offsets_for_time(datetime.datetime(2020, 1, 1))
    assert early == log.earliest_offsets()


def test_offsets_for_time_non_monotone_log(spark, sf_dir):
    """The scrambled-arrival log's event time is NOT monotone in offset;
    the footer-pruned resolution must still return the global minimum
    offset with ts >= T (the first qualifying segment bounds it because
    offsets only grow across segments)."""
    import datetime

    from spark_streaming_dis_plugin_spark.operators.connector import (
        _materialized_scrambled_log,
    )

    slog = _materialized_scrambled_log(spark, sf_dir)
    t = datetime.datetime(2024, 1, 25, 0, 0, 0)
    rows = (spark.read.format("dis")
            .option("path", slog.root).option("stream", slog.stream).load()
            .select("offset", "timestamp").collect())
    expect = min(r["offset"] for r in rows if r["timestamp"] >= t)
    log_res = slog.offsets_for_time(t)
    assert log_res[0] == expect


def test_batch_starting_timestamp_scan(spark, sf_dir, log):
    """startingTimestamp end-to-end: the bounded read equals the
    offset-threshold read computed from the resolved starts."""
    starts = log.offsets_for_time("2024-01-20 12:00:00")
    via_ts = (_dis(spark, log)
              .option("startingTimestamp", "2024-01-20 12:00:00")
              .load())
    import json

    ranges = {str(p): [o, -1] for p, o in starts.items()}
    via_off = (_dis(spark, log)
               .option("offsetRanges", json.dumps(ranges)).load())
    assert sorted(map(tuple, via_ts.collect())) == \
        sorted(map(tuple, via_off.collect()))
    assert via_ts.count() > 0


def test_batch_ending_timestamp_bounds_scan(spark, sf_dir, log):
    """endingTimestamp (Kafka endingOffsetsByTimestamp parity): the
    [T1, T2) timestamp-bounded read equals the offset-range read built
    from both resolved boundaries; an endingTimestamp past the log tail
    reads to latest (the no-match convention)."""
    import json

    t1, t2 = "2024-01-10 00:00:00", "2024-01-20 12:00:00"
    starts, ends = log.offsets_for_time(t1), log.offsets_for_time(t2)
    via_ts = (_dis(spark, log)
              .option("startingTimestamp", t1)
              .option("endingTimestamp", t2).load())
    ranges = {str(p): [starts[p], ends[p]] for p in starts}
    via_off = (_dis(spark, log)
               .option("offsetRanges", json.dumps(ranges)).load())
    assert sorted(map(tuple, via_ts.collect())) == \
        sorted(map(tuple, via_off.collect()))
    assert 0 < via_ts.count() < _dis(spark, log).load().count()

    tail = (_dis(spark, log)
            .option("startingTimestamp", t1)
            .option("endingTimestamp", "2099-01-01 00:00:00").load())
    from_t1 = (_dis(spark, log)
               .option("startingTimestamp", t1).load())
    assert tail.count() == from_t1.count()


def test_min_offsets_per_trigger_holds_small_batches(log):
    """Kafka option parity: the FIRST planning call after initialOffset
    never holds (an availableNow drain captures its one target plan there
    and must see the real backlog — Kafka's process-all-available
    contract); from the second call on, minOffsetsPerTrigger declines the
    trigger (no offset advance) until maxTriggerDelay expires — then
    fires with whatever is available."""
    from spark_streaming_dis_plugin_spark.sources.dis_datasource import (
        DisStreamReader,
    )

    total = sum(log.latest_offsets().values())
    reader = DisStreamReader(DisLog(log.root, log.stream), {
        "minoffsetspertrigger": str(total + 1),   # never enough backlog
        "maxoffsetspertrigger": "40",             # keep backlog after b0
        "maxtriggerdelay": "30s",
    })
    start = reader.initialOffset()
    first = reader.latestOffset()                 # first call: FIRES
    advanced = sum(int(first[p]) - int(start.get(p, 0)) for p in first)
    assert 0 < advanced <= 40 + len(first)        # clamp still applies
    reader.commit(first)
    held = reader.latestOffset()
    assert held == first                          # call 2: declined
    assert reader.latestOffset() == first         # still declined
    reader._last_fire -= 31                       # age past the delay
    fired = reader.latestOffset()
    assert sum(int(fired[p]) - int(first[p]) for p in fired) > 0


def test_min_offsets_available_now_first_drain_sees_backlog(log):
    """Regression (r5 ADVICE): minOffsetsPerTrigger above the backlog
    must NOT make a fresh availableNow-style drain capture an unchanged
    target and read zero rows — without a rate cap the first plan is the
    FULL backlog."""
    from spark_streaming_dis_plugin_spark.sources.dis_datasource import (
        DisStreamReader,
    )

    total = sum(log.latest_offsets().values())
    reader = DisStreamReader(DisLog(log.root, log.stream), {
        "minoffsetspertrigger": str(total + 1),
        "maxtriggerdelay": "15m",
    })
    start = reader.initialOffset()
    target = reader.latestOffset()
    assert sum(int(target[p]) - int(start.get(p, 0))
               for p in target) == total


def test_min_offsets_per_trigger_fires_on_enough_backlog(log):
    """Backlog >= minOffsetsPerTrigger fires immediately, and the rate
    clamp still applies on top of the min gate."""
    from spark_streaming_dis_plugin_spark.sources.dis_datasource import (
        DisStreamReader,
    )

    reader = DisStreamReader(DisLog(log.root, log.stream), {
        "minoffsetspertrigger": "10",
        "maxoffsetspertrigger": "40",
        "maxtriggerdelay": "15m",
    })
    start = reader.initialOffset()
    end = reader.latestOffset()
    planned = sum(int(end[p]) - int(start.get(p, 0)) for p in end)
    assert 0 < planned <= 40 + len(end)   # clamp (+1 floor per partition)


def test_parse_duration_s():
    from spark_streaming_dis_plugin_spark.sources.dis_datasource import (
        _parse_duration_s,
    )

    assert _parse_duration_s("500ms") == 0.5
    assert _parse_duration_s("30s") == 30.0
    assert _parse_duration_s("15m") == 900.0
    assert _parse_duration_s("2h") == 7200.0
    assert _parse_duration_s(45) == 45.0


def test_tws_timer_sessions_match_timeout_gate(spark, log, tmp_path):
    """Event-time TIMERS on transformWithStateInPandas (registerTimer /
    handleExpiredTimer / stale-timer deletion) must reproduce the
    applyInPandasWithState GroupStateTimeout gate row-for-row over the
    same rate-limited multi-batch drain — the equality chain extends to
    the DuckDB oracle through dis_state_timeout_streamed."""
    from spark_streaming_dis_plugin_spark.streaming.pbvendor import (
        tws_runtime_ready,
    )

    if not tws_runtime_ready(spark):
        pytest.skip("protobuf runtime not visible to Spark workers")

    from spark_streaming_dis_plugin_spark.streaming.drain import (
        drain_available,
    )
    from spark_streaming_dis_plugin_spark.streaming.stateful import (
        ROCKSDB_PROVIDER, sessions_with_timeout, sessions_with_timers_tws,
    )

    total = sum(log.latest_offsets().values())
    per = str(max(total // 4, 1))

    def run(build, name, extra_conf=False):
        conf_key = "spark.sql.streaming.stateStore.providerClass"
        if extra_conf:
            spark.conf.set(conf_key, ROCKSDB_PROVIDER)
        try:
            sdf = (spark.readStream.format("dis")
                   .option("path", log.root).option("stream", log.stream)
                   .option("maxOffsetsPerTrigger", per).load())
            q = (build(sdf).writeStream.format("memory").queryName(name)
                 .outputMode("append")
                 .option("checkpointLocation", str(tmp_path / name))
                 .trigger(processingTime="0 seconds").start())
            drain_available(q, timeout_seconds=180)
        finally:
            if extra_conf:
                spark.conf.unset(conf_key)
        return sorted(tuple(r) for r in spark.table(name).collect())

    tws = run(sessions_with_timers_tws, "tws_sess", extra_conf=True)
    aip = run(sessions_with_timeout, "aip_sess")
    assert len(tws) > 0
    assert tws == aip


def _append_rows(log: DisLog, partition: int, n: int, tag: str) -> None:
    import pandas as pd

    log.append(pd.DataFrame({
        "partition": [partition] * n,
        "key": [f"{tag}{i}" for i in range(n)],
        "value": [f"{tag}-v{i}" for i in range(n)],
        "timestamp": pd.to_datetime(
            [1_700_000_000_000_000 + i for i in range(n)], unit="us"),
    }))


def test_stream_offsets_json_shape_named_stream(tmp_path):
    """Checkpoints (and drain.checkpoint_committed_rows) depend on the
    named-stream offsets JSON: one ``"<partition>": next_offset`` entry
    per partition, in partition order, no stream prefix."""
    import json

    from spark_streaming_dis_plugin_spark.sources.dis_datasource import (
        DisStreamReader,
    )

    log = DisLog(str(tmp_path), "shape").create(2)
    _append_rows(log, 0, 3, "a")
    _append_rows(log, 1, 5, "b")
    reader = DisStreamReader(DisLog(log.root, log.stream), {})
    first = reader.initialOffset()
    assert first == {"0": 0, "1": 0}
    assert json.dumps(first) == '{"0": 0, "1": 0}'
    latest = reader.latestOffset()
    assert latest == {"0": 3, "1": 5}
    assert json.dumps(latest) == '{"0": 3, "1": 5}'


def test_added_partition_admitted_at_earliest_offset(tmp_path):
    """A partition added mid-stream whose head was expired by retention
    enters the plan at its earliest offset, not at 0: Spark's next start
    (the previous end) lacks the partition, and reading from 0 would be a
    spurious failOnDataLoss error."""
    from spark_streaming_dis_plugin_spark.sources.dis_datasource import (
        DisStreamReader,
    )
    from spark_streaming_dis_plugin_spark.sources.dis_log import (
        expire_before,
    )

    log = DisLog(str(tmp_path), "grow").create(1)
    _append_rows(log, 0, 5, "a")
    reader = DisStreamReader(DisLog(log.root, log.stream), {})
    start = reader.initialOffset()
    prev_end = reader.latestOffset()
    reader.partitions(start, prev_end)
    reader.commit(prev_end)

    log.add_partitions(1)
    _append_rows(log, 1, 5, "b")
    _append_rows(log, 1, 5, "c")
    expire_before(log, {1: 5})
    assert log.earliest_offsets() == {0: 0, 1: 5}

    end = reader.latestOffset()
    assert end == {"0": 5, "1": 10}
    plan = {p.partition: (p.from_offset, p.until_offset)
            for p in planned_ranges(reader.partitions(prev_end, end))}
    assert plan == {1: (5, 10)}


def test_subscribe_pattern_batch_read_gates_compacted_stream(spark,
                                                             tmp_path):
    """A subscribePattern batch read runs the same gates as a named read:
    a compacted (non-consecutive) stream fails without
    allowNonConsecutiveOffsets and reads only the surviving rows with
    it."""
    from spark_streaming_dis_plugin_spark.sources.dis_log import compact_log

    spark.dataSource.register(DisDataSource)
    root = str(tmp_path / "cmproot")
    log = DisLog(root, "cmp_a").create(1)
    _append_rows(log, 0, 3, "k")
    _append_rows(log, 0, 3, "k")          # same keys again: 3 superseded
    assert compact_log(log) == {0: 3}

    def read(**opts):
        r = (spark.read.format("dis").option("path", root)
             .option("subscribePattern", "cmp_.*"))
        for k, v in opts.items():
            r = r.option(k, v)
        return r.load()

    with pytest.raises(Exception, match="non-consecutive"):
        read().count()
    rows = read(allowNonConsecutiveOffsets="true").collect()
    assert sorted(r["offset"] for r in rows) == [3, 4, 5]
    assert {r["stream"] for r in rows} == {"cmp_a"}


def _small_log(root: str, stream: str, rows: list[int]) -> DisLog:
    """A log with ``rows[p]`` records in partition p, in two appends."""
    log = DisLog(root, stream).create(len(rows))
    for p, n in enumerate(rows):
        _append_rows(log, p, n // 2, f"p{p}a")
        _append_rows(log, p, n - n // 2, f"p{p}b")
    return log


def test_small_ranges_pack_into_one_read_task(spark, tmp_path):
    """A read far under the task budget is ONE read task holding every
    range in plan order (partition order), for the stream and the batch
    reader alike, and a batch read still returns partition by partition
    in offset order."""
    from spark_streaming_dis_plugin_spark.sources.dis_datasource import (
        DisBatchReader, DisStreamReader,
    )

    log = _small_log(str(tmp_path), "small", [7, 3, 5, 4])
    want = [(p, 0, n) for p, n in enumerate([7, 3, 5, 4])]

    stream = DisStreamReader(DisLog(log.root, log.stream), {})
    start = stream.initialOffset()
    tasks = stream.partitions(start, stream.latestOffset())
    assert len(tasks) == 1
    assert [(r.partition, r.from_offset, r.until_offset)
            for r in tasks[0].ranges] == want

    tasks = DisBatchReader(DisLog(log.root, log.stream), {}).partitions()
    assert len(tasks) == 1
    assert [(r.partition, r.from_offset, r.until_offset)
            for r in planned_ranges(tasks)] == want

    spark.dataSource.register(DisDataSource)
    df = _dis(spark, log).load()
    assert df.rdd.getNumPartitions() == 1
    assert [(r["partition"], r["offset"]) for r in df.collect()] == \
        [(p, o) for p, _, n in want for o in range(n)]


def test_range_over_budget_is_its_own_read_task(tmp_path, monkeypatch):
    """Packing is contiguous in plan order and never splits a range: a
    range larger than the budget is a task of its own, and the ranges
    around it pack up to the budget."""
    from spark_streaming_dis_plugin_spark.sources import dis_datasource as D

    monkeypatch.setattr(D, "_TASK_RECORDS", 8)
    log = _small_log(str(tmp_path), "big", [5, 5, 20, 3, 3])
    tasks = D.DisBatchReader(DisLog(log.root, log.stream), {}).partitions()
    assert [[(r.partition, r.until_offset - r.from_offset)
             for r in t.ranges] for t in tasks] == \
        [[(0, 5)], [(1, 5)], [(2, 20)], [(3, 3), (4, 3)]]


def test_empty_micro_batch_plans_one_placeholder_task(tmp_path):
    """Spark needs at least one input partition per micro-batch: a batch
    with nothing to read plans one task with one empty range, and reading
    it yields no rows."""
    from spark_streaming_dis_plugin_spark.sources import dis_datasource as D

    log = _small_log(str(tmp_path), "idle", [4, 4])
    reader = D.DisStreamReader(DisLog(log.root, log.stream), {})
    reader.initialOffset()
    end = reader.latestOffset()
    tasks = reader.partitions(end, end)
    assert len(tasks) == 1
    (only,) = planned_ranges(tasks)
    assert only.from_offset == only.until_offset and only.paths == ()
    assert list(D._read_range_batches(tasks[0])) == []


def test_packed_batch_through_sink_keeps_partition_order(spark, tmp_path):
    """A multi-partition batch read as ONE task and written through
    DisForeachBatchSink: every output partition holds its source
    partition's surviving records exactly once, in source offset order."""
    spark.dataSource.register(DisDataSource)
    rows = [9, 6, 8, 7]
    src = _small_log(str(tmp_path / "src"), "packed", rows)
    out = DisLog(str(tmp_path / "out"), "packed_out").create(len(rows))
    batch = (_dis(spark, src).load()
             .where(~F.col("value").endswith("v1"))
             .select("partition", "key", "value", "timestamp"))
    assert batch.rdd.getNumPartitions() == 1
    DisForeachBatchSink(out, "pk")(batch, 0)

    def by_partition(df):
        got: dict[int, list[str]] = {}
        for r in df.orderBy("partition", "offset").collect():
            got.setdefault(r["partition"], []).append(r["value"])
        return got

    want = by_partition(_dis(spark, src).load()
                        .where(~F.col("value").endswith("v1")))
    assert by_partition(_dis(spark, out).load()) == want
    assert sum(len(v) for v in want.values()) == sum(rows) - 2 * len(rows)
