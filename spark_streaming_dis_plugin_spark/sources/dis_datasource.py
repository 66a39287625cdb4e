"""``format("dis")`` — a Spark 4 Python DataSource over the DIS-shaped log.

The Spark-first re-expression of the reference's whole streaming lifecycle
(SURVEY.md §3.1): Structured Streaming's MicroBatchExecution drives our
reader exactly as the DStream JobGenerator drove DirectDISInputDStream —
we implement only the source hooks, Spark owns the loop:

  reference (DStream)                         rebuild (this file)
  ---------------------------------           ------------------------------
  start() + ConsumerStrategy seek             initialOffset()
  latestOffsets() + clamp()                   latestOffset()  (rate-limited)
  compute(validTime) -> DISRDD ranges         partitions(start, end)
  DISRDDIterator sequential read              read(partition)
  commitAll() / checkpointData                commit(end) + Spark offset log
  StreamInputInfo reporting                   StreamingQueryProgress (free)

Batch (createRDD) maps onto the batch reader with ``offsetRanges`` /
``startingOffsets`` / ``endingOffsets`` options; the producer sink maps
onto the writer, with offset assignment serialized through the log's
append protocol (cf. DISSink.scala:23-55).

Readers emit pyarrow RecordBatches (Arrow path — no per-row Python cost);
each offset range becomes one InputPartition, so a stream partition's
backlog parallelizes across executors.

Options:
  path / stream        log root directory / stream name
  startingOffsets      "earliest" | "latest" | {"stream":{"0":23}} JSON
  endingOffsets        "latest" | JSON (batch only)
  offsetRanges         {"0":[from,until]} JSON (batch only; sentinels ok)
  maxOffsetsPerTrigger total records per micro-batch, split across
                       partitions proportionally to lag (rate.py)
  minOffsetsPerTrigger hold a trigger until this many records are
                       available (Kafka option parity)...
  maxTriggerDelay      ...unless this much time passed since the last
                       fired batch ('500ms'/'30s'/'15m', default 15m)
  maxRatePerPartition  records/sec/partition cap (0 = unlimited)
  backpressureEnabled  PID processing-rate estimator feeds the split
                       (≅ spark.streaming.backpressure.enabled)
  backpressureInitialRate / backpressureMinRate  PID seeding/floor
  txn                  (write) transaction tag — exactly-once idempotent
                       append keyed by this tag (see DisWriter)
  segmentRows          (write) cut segment files every N rows
  allowNonConsecutiveOffsets  accept/produce compacted (gappy) offset
                       ranges (DISRDD.scala:74-75 semantics)
"""

from __future__ import annotations

import dataclasses
import json
import os
import time
from collections import deque

from pyspark.sql.datasource import (
    DataSource, DataSourceReader, DataSourceStreamReader,
    DataSourceStreamWriter, DataSourceWriter, InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import (
    IntegerType, LongType, StringType, StructField, StructType,
    TimestampNTZType,
)

from .dis_log import DisLog, commit_assigned, sanitize_txn, segment_name
from .offsets import (
    EARLIEST, LATEST, OffsetRange,
    offset_ranges_from_json, partition_offsets_from_json, resolve_sentinels,
)
from .pid import PIDRateEstimator
from .rate import clamp, max_messages_per_partition

ENVELOPE_SCHEMA = StructType([
    StructField("stream", StringType()),
    StructField("partition", IntegerType()),
    StructField("offset", LongType()),
    StructField("key", StringType()),
    StructField("value", StringType()),
    # NTZ: the log stores naive microsecond wall clocks; an LTZ column here
    # would re-interpret them in the session timezone (wrong outside UTC).
    StructField("timestamp", TimestampNTZType()),
])


@dataclasses.dataclass
class RangePartition(InputPartition):
    """One half-open offset range = one Spark input partition
    (1:1 with DISRDDPartition, DISRDDPartition.scala:27-36)."""
    partition: int
    from_offset: int
    until_offset: int
    paths: tuple[str, ...]
    stream: str


# Executor-local segment cache ≅ the reference's per-JVM consumer cache
# (DISDataConsumer.scala:259-405: LRU keyed by consumer, soft cap 64).
# Here the cached unit is a decoded segment table: a streaming query
# re-reads the tail segment every trigger while it fills, and restarts
# re-scan recent ranges — both hit this cache instead of re-decoding
# parquet. Safe because segment files are immutable by construction
# (uuid-suffixed names; compaction/rollback create/delete files, never
# rewrite in place). Python workers are per-executor processes, so this
# module-level dict is executor-local state, exactly like the reference's.
_SEGMENT_CACHE: "dict[str, object]" = {}
_SEGMENT_CACHE_CAP = 64
# Primary bound is decoded BYTES, not entries: this cache lives per Python
# worker process (several per executor), so an entry-only cap could pin
# 64 × segment-size per worker with large segmentRows — unlike the
# reference's one-per-JVM consumer cache. 256 MiB default, overridable via
# SPARK_DIS_SEGMENT_CACHE_BYTES; the 64-entry cap stays as a secondary
# limit for many-tiny-segment logs.
_SEGMENT_CACHE_BYTES_CAP = int(
    os.environ.get("SPARK_DIS_SEGMENT_CACHE_BYTES", 256 * 1024 * 1024))
_SEGMENT_CACHE_STATS = {"hits": 0, "misses": 0}


def _cache_nbytes() -> int:
    return sum(t.nbytes for t in _SEGMENT_CACHE.values())


def _read_segment(path: str):
    import pyarrow.parquet as pq

    table = _SEGMENT_CACHE.pop(path, None)
    if table is not None:
        _SEGMENT_CACHE_STATS["hits"] += 1
    else:
        _SEGMENT_CACHE_STATS["misses"] += 1
        # Transient-read retry: the local-parquet analogue of the
        # reference's empty-poll backoff loop (DISDataConsumer.scala:
        # 87-99 -> ExponentialBackOff.scala). On object storage a
        # momentary 5xx/timeout surfaces as OSError; a missing file is
        # NOT transient (FileNotFoundError propagates immediately so
        # retention races still fail fast through check_data_loss).
        from .backoff import with_backoff

        table = with_backoff(lambda: pq.read_table(path))
    _SEGMENT_CACHE[path] = table          # re-insert = move to MRU end
    while len(_SEGMENT_CACHE) > 1 and (
            len(_SEGMENT_CACHE) > _SEGMENT_CACHE_CAP
            or _cache_nbytes() > _SEGMENT_CACHE_BYTES_CAP):
        _SEGMENT_CACHE.pop(next(iter(_SEGMENT_CACHE)))
    return table


def _read_range_batches(part: RangePartition):
    """Arrow-native scan of one offset range: segment files were pruned by
    name at planning; the residual offset filter applies per batch."""
    import pyarrow as pa
    import pyarrow.compute as pc

    for path in part.paths:
        table = _read_segment(path)
        off = table.column("offset")
        mask = pc.and_(pc.greater_equal(off, part.from_offset),
                       pc.less(off, part.until_offset))
        table = table.filter(mask)
        if table.num_rows == 0:
            continue
        n = table.num_rows
        table = pa.table({
            "stream": pa.array([part.stream] * n, pa.string()),
            "partition": pa.array([part.partition] * n, pa.int32()),
            "offset": table.column("offset").cast(pa.int64()),
            "key": table.column("key").cast(pa.string()),
            "value": table.column("value").cast(pa.string()),
            "timestamp": table.column("timestamp").cast(pa.timestamp("us")),
        })
        yield from table.to_batches()


def _plan_partitions(log: DisLog, ranges: list[OffsetRange]) -> list[RangePartition]:
    out = []
    for r in ranges:
        if r.until_offset <= r.from_offset:
            continue  # empty ranges planned away (DISRDD.scala:190-193)
        paths = tuple(log.segments_for_range(r.partition, r.from_offset,
                                             r.until_offset))
        if paths:
            out.append(RangePartition(r.partition, r.from_offset,
                                      r.until_offset, paths, r.stream))
    return out


class DisDataSource(DataSource):
    """spark.read/readStream/writeStream ``.format("dis")``."""

    @classmethod
    def name(cls) -> str:
        return "dis"

    def schema(self) -> StructType:
        return ENVELOPE_SCHEMA

    def _log(self) -> DisLog:
        root = self.options.get("path") or self.options.get("root")
        stream = self.options.get("stream", "events")
        if not root:
            raise ValueError("option 'path' (log root) is required")
        return DisLog(root, stream)

    def reader(self, schema: StructType):
        if "subscribepattern" in self.options:
            root = self.options.get("path") or self.options.get("root")
            return DisMultiStreamReader(root,
                                        self.options["subscribepattern"])
        return DisBatchReader(self._log(), self.options)

    def streamReader(self, schema: StructType) -> "DataSourceStreamReader":
        if "subscribepattern" in self.options:
            root = self.options.get("path") or self.options.get("root")
            if not root:
                raise ValueError("option 'path' (log root) is required")
            return DisPatternStreamReader(
                root, self.options["subscribepattern"], self.options)
        return DisStreamReader(self._log(), self.options)

    def writer(self, schema: StructType, overwrite: bool) -> "DisWriter":
        if overwrite:
            raise ValueError("dis sink is append-only (a log)")
        return DisWriter(self._log(), self.options, schema.fieldNames())

    def streamWriter(self, schema: StructType,
                     overwrite: bool) -> "DisStreamWriter":
        if overwrite:
            raise ValueError("dis sink is append-only (a log)")
        return DisStreamWriter(self._log(), self.options,
                               schema.fieldNames())


# ------------------------------------------------------------------- batch

class DisBatchReader(DataSourceReader):
    """Bounded scan — the createRDD path (DISUtils.scala:240-303)."""

    def __init__(self, log: DisLog, options):
        self.log = log
        self.allow_gaps = str(options.get("allownonconsecutiveoffsets",
                                          "false")).lower() == "true"
        stream = log.stream
        earliest, latest = log.earliest_offsets(), log.latest_offsets()

        if "offsetRanges" in options:
            ranges = offset_ranges_from_json(stream, options["offsetRanges"])
        else:
            # Kafka-parity offsetsForTimes (startingOffsetsByTimestamp /
            # endingOffsetsByTimestamp families): a timestamp boundary
            # resolves per partition to the earliest offset with record
            # time >= the timestamp, via parquet-footer pruning
            # (DisLog.offsets_for_time). No-match resolves to the
            # partition's latest offset — for a START that means an empty
            # read, for an END it means read-to-tail, both Kafka's
            # conventions.
            if "startingTimestamp" in options:
                starts = log.offsets_for_time(options["startingTimestamp"])
                start = {p: starts.get(p, EARLIEST) for p in earliest}
            else:
                start = _parse_boundary(
                    options.get("startingOffsets", "earliest"),
                    stream, earliest.keys(), EARLIEST)
            if "endingTimestamp" in options:
                ends = log.offsets_for_time(options["endingTimestamp"])
                end = {p: ends.get(p, LATEST) for p in earliest}
            else:
                end = _parse_boundary(options.get("endingOffsets", "latest"),
                                      stream, earliest.keys(), LATEST)
            ranges = [OffsetRange(stream, p, start.get(p, EARLIEST),
                                  end.get(p, LATEST))
                      for p in sorted(earliest)]
        self.ranges = resolve_sentinels(ranges, earliest, latest)
        from .dis_batch import check_consecutive, check_data_loss

        fail = str(options.get("failondataloss", "true")).lower() == "true"
        self.ranges = check_data_loss(log, self.ranges, fail)
        check_consecutive(log, self.ranges, self.allow_gaps)

    def partitions(self):
        return _plan_partitions(self.log, self.ranges)

    def read(self, partition: RangePartition):
        yield from _read_range_batches(partition)


def _parse_duration_s(raw) -> float:
    """Kafka-style duration option: '500ms' / '30s' / '15m' / '2h', or a
    bare number of seconds."""
    s = str(raw).strip().lower()
    for suffix, mult in (("ms", 0.001), ("s", 1.0), ("m", 60.0),
                         ("h", 3600.0)):
        if s.endswith(suffix):
            return float(s[:-len(suffix)]) * mult
    return float(s)


def _parse_boundary(raw: str, stream: str, parts, sentinel: int) -> dict[int, int]:
    if raw == "earliest":
        return {p: EARLIEST for p in parts}
    if raw == "latest":
        return {p: LATEST for p in parts}
    offs = partition_offsets_from_json(raw)
    return {p: o for (s, p), o in offs.items() if s == stream}


class DisMultiStreamReader(DataSourceReader):
    """subscribePattern — regex over the stream directories under the log
    root, full scan of every match (ConsumerStrategies.SubscribePattern,
    ConsumerStrategy.scala:132-171; partition pickup happens at plan time
    because the directory listing IS the subscription)."""

    def __init__(self, root: str, pattern: str):
        import re

        self.logs = []
        rx = re.compile(pattern)
        for name in sorted(os.listdir(root)):
            log = DisLog(root, name)
            if rx.fullmatch(name) and log.exists():
                self.logs.append(log)
        if not self.logs:
            raise ValueError(
                f"subscribePattern {pattern!r} matches no stream under {root}")

    def partitions(self):
        out = []
        for log in self.logs:
            earliest, latest = log.earliest_offsets(), log.latest_offsets()
            ranges = [OffsetRange(log.stream, p, earliest[p], latest[p])
                      for p in sorted(earliest)]
            out.extend(_plan_partitions(log, ranges))
        return out

    def read(self, partition: RangePartition):
        yield from _read_range_batches(partition)


# --------------------------------------------------------------- streaming

class DisStreamReader(DataSourceStreamReader):
    """Micro-batch reader ≅ DirectDISInputDStream (SURVEY.md §3.1).

    Offsets JSON dialect in the checkpoint: {"0": 23, "1": 42} — per
    partition next-offset-to-read, exactly the reference's currentOffsets
    map (DirectDISInputDStream.scala:84).
    """

    def __init__(self, log: DisLog, options):
        self.log = log
        self.max_per_trigger = int(options.get("maxoffsetspertrigger", 0) or 0)
        # Kafka-source option parity: hold a trigger back until at least
        # minOffsetsPerTrigger records are available, unless
        # maxTriggerDelay (default 15m, Kafka's default) has elapsed since
        # the last fired batch — the small-batch suppressor for
        # high-frequency triggers over trickling sources. The gate is
        # skipped on the FIRST planning call after initialOffset (see
        # latestOffset) so an availableNow drain — which captures its one
        # target plan on that call — always sees the real backlog instead
        # of terminating empty, matching Kafka's process-all-available
        # AvailableNow contract.
        self.min_per_trigger = int(options.get("minoffsetspertrigger", 0)
                                   or 0)
        self.max_trigger_delay_s = _parse_duration_s(
            options.get("maxtriggerdelay", "15m"))
        self._last_fire: float | None = None
        self.max_rate_per_partition = float(
            options.get("maxrateperpartition", 0) or 0)
        self.batch_seconds = float(options.get("batchseconds", 1.0))
        self.starting = options.get("startingoffsets", "earliest")
        self.starting_ts = options.get("startingtimestamp")
        # ConsumerStrategies.Assign for streams (ConsumerStrategy.scala:
        # 186-213): pin an explicit partition set. Planning never sees
        # unassigned partitions, and — deliberately, matching the
        # reference's Assign semantics — dynamic partition ADD does not
        # apply: the subscription is the fixed set, not the log listing.
        raw_assign = options.get("assign")
        self.assigned: set[int] | None = None
        if raw_assign:
            from .offsets import partitions_from_json

            by_stream = partitions_from_json(raw_assign)
            self.assigned = {p for s, ps in by_stream.items()
                             if s == log.stream for p in ps}
        self.allow_gaps = str(options.get("allownonconsecutiveoffsets",
                                          "false")).lower() == "true"
        self.fail_on_data_loss = str(options.get("failondataloss",
                                                 "true")).lower() == "true"
        # Driver-side frontier (the reference's currentOffsets map,
        # DirectDISInputDStream.scala:84). The runner keeps this reader
        # alive across triggers; latestOffset() receives no start argument,
        # so progress is tracked here and re-synced from every
        # partitions()/commit() callback (authoritative on restart, when
        # Spark replays from its offset log).
        self._current: dict[int, int] | None = None
        # Authoritative processed floor — max offsets Spark itself has
        # handed us (partitions() starts, commit() ends). Guards against
        # re-reading data when a post-restart latestOffset() had to plan
        # against a stale frontier (see partitions()).
        self._floor: dict[int, int] = {}
        # Backpressure ≅ DirectKafkaRateController + PIDRateEstimator
        # (DirectDISInputDStream.scala:57-58,120-127). The estimator feeds
        # measured processing rate back into the lag-proportional split.
        self.backpressure = str(options.get("backpressureenabled",
                                            "false")).lower() == "true"
        self.initial_rate = float(options.get("backpressureinitialrate",
                                              0) or 0)
        self.min_rate = float(options.get("backpressureminrate", 100) or 100)
        self._pid = PIDRateEstimator(
            batch_interval_ms=self.batch_seconds * 1000.0,
            min_rate=self.min_rate) if self.backpressure else None
        # FIFO of (planned_monotonic_ms, planned_new_records) per batch,
        # consumed by commit() to measure each batch's processing delay.
        self._inflight: deque[tuple[float, int]] = deque()
        # Planner trace knob: set SPARK_DIS_TRACE=/path/to/file before the
        # session starts to append one line per initialOffset/latestOffset/
        # partitions call (driver-side only; readers never trace). Resolved
        # once here so the planner hot path does no env lookups.
        self._trace_path = os.environ.get("SPARK_DIS_TRACE")

    def _trace(self, msg: str) -> None:
        if self._trace_path:
            with open(self._trace_path, "a") as f:
                f.write(f"pid={os.getpid()} id={id(self)} {msg}\n")

    # -- planning (driver side) --

    def initialOffset(self) -> dict:
        """≅ ConsumerStrategy.onStart seek (ConsumerStrategy.scala:82-115);
        startingTimestamp = the Kafka source's timestamp seek
        (offsetsForTimes via DisLog.offsets_for_time)."""
        if self.starting_ts is not None:
            out = self.log.offsets_for_time(self.starting_ts)
        elif self.starting == "latest":
            out = self.log.latest_offsets()
        elif self.starting == "earliest":
            out = self.log.earliest_offsets()
        else:
            offs = partition_offsets_from_json(self.starting)
            earliest = self.log.earliest_offsets()
            latest = self.log.latest_offsets()
            out = {}
            for p in earliest:
                o = offs.get((self.log.stream, p), EARLIEST)
                out[p] = (latest[p] if o == LATEST
                          else earliest[p] if o == EARLIEST else o)
        if self.assigned is not None:
            out = {p: o for p, o in out.items() if p in self.assigned}
        self._sync(out)
        self._trace(f"initialOffset -> {out}")
        return {str(p): o for p, o in out.items()}

    def latestOffset(self) -> dict:
        """latestOffsets() + maxMessagesPerPartition() + clamp()
        (DirectDISInputDStream.scala:185-232). New partitions are picked
        up here (dynamic add, :185-220) because the log is re-listed every
        trigger.

        Rate limiting (maxOffsetsPerTrigger / maxRatePerPartition /
        backpressure PID) applies per planning call, which under a
        processing-time trigger is per micro-batch — the DStream behavior.
        Trigger.availableNow captures the first planned offset as its
        drain target (the Python DataSource API has no
        SupportsTriggerAvailableNow hook), so a rate-limited availableNow
        run drains one clamped batch; use streaming/drain.drain_available
        for a full Kafka-shaped drain with bounded batches.
        """
        if self._current is None:
            # Restart path: Spark replays position from its own offset log
            # and only tells us via the next partitions()/commit() call —
            # this planning pass runs against the startingOffsets seed
            # instead. The Python DataSource API gives latestOffset() no
            # start argument, so the first post-restart batch may overshoot
            # the rate budget; the _floor guard in partitions() guarantees
            # no record is ever re-read even if this plan lags the real
            # position.
            self.initialOffset()
        current = dict(self._current)
        # Absorb the authoritative floor: after a restart the first
        # partitions() call reveals the true committed position — planning
        # from it (not the startingOffsets seed) resumes rate-limited
        # progress immediately.
        for p, o in self._floor.items():
            current[p] = max(current.get(p, 0), o)
        latest = self.log.latest_offsets()
        if self.assigned is not None:
            latest = {p: o for p, o in latest.items() if p in self.assigned}
        if self.min_per_trigger and self._last_fire is None:
            # First planning call after initialOffset: never hold. An
            # availableNow drain captures its one target plan here — if the
            # gate declined, the drain would record the unchanged current
            # offset and terminate having read NOTHING, the opposite of
            # Kafka's process-all-available AvailableNow contract. Skipping
            # the gate on the first call makes a fresh drain always see the
            # real backlog; continuous triggers start holding from call 2.
            self._last_fire = time.monotonic() - self.max_trigger_delay_s
        if self.min_per_trigger:
            avail = sum(max(latest[p] - current.get(p, 0), 0)
                        for p in latest)
            now = time.monotonic()
            if (avail < self.min_per_trigger
                    and now - self._last_fire < self.max_trigger_delay_s):
                # Not enough backlog and the delay budget hasn't expired:
                # decline the trigger (no offset advance -> no batch).
                self._sync(current)
                self._trace(f"latestOffset (held: avail={avail} "
                            f"< min={self.min_per_trigger}) -> {current}")
                return {str(p): o for p, o in current.items()}
        allowed = None
        if self.max_per_trigger or self.max_rate_per_partition or self._pid:
            lags = {p: max(latest[p] - current.get(p, 0), 0) for p in latest}
            rate = (self.max_per_trigger / self.batch_seconds
                    if self.max_per_trigger else None)
            if self._pid is not None:
                est = self._pid.latest_rate()
                if est is None and self.initial_rate > 0:
                    est = self.initial_rate
                if est is not None:
                    rate = min(rate, est) if rate is not None else est
            allowed = max_messages_per_partition(
                lags, rate, self.batch_seconds, self.max_rate_per_partition)
        ends = clamp(current, latest, allowed)
        if any(ends.get(p, 0) > current.get(p, 0) for p in ends):
            self._last_fire = time.monotonic()
        if self._pid is not None:
            planned = sum(max(ends[p] - current.get(p, 0), 0) for p in ends)
            # Only batches that advance offsets run (and therefore commit);
            # a planned=0 idle trigger never gets a matching commit(), so
            # queueing it would permanently skew the plan/commit pairing
            # (stale entries inflate processing delay and pin the PID at
            # min_rate) and grow the deque unboundedly on an idle stream.
            if planned > 0:
                self._inflight.append((time.monotonic() * 1000.0, planned))
        self._sync(ends)
        self._trace(f"latestOffset -> {ends}")
        return {str(p): o for p, o in ends.items()}

    def partitions(self, start: dict, end: dict):
        """Freeze the micro-batch plan into offset ranges ≅ compute()
        building DISRDD (DirectDISInputDStream.scala:234-265). ``start``
        comes from Spark's offset log, so this also re-syncs the frontier
        after a checkpoint restart."""
        ranges = []
        for p_str, until in end.items():
            p = int(p_str)
            # _floor = authoritative processed position (Spark-provided
            # starts + committed ends). If a stale post-restart plan moved
            # the engine's position behind it, clamp the scan start so no
            # record is re-read; positions self-heal on the next batch.
            frm = max(int(start.get(p_str, 0)), self._floor.get(p, 0))
            if int(until) < frm:   # stale planning after restart — no-op
                continue
            ranges.append(OffsetRange(self.log.stream, p, frm, int(until)))
        for p_str, o in start.items():
            p = int(p_str)
            # A batch start is commit evidence (everything below it is in
            # Spark's offset log as processed) ONLY for partitions the
            # batch actually advances. On restart the engine first issues
            # a zero-width resync call partitions(latest_wal, latest_wal)
            # BEFORE replaying the uncommitted batch; taking that start as
            # floor would clamp the genuine replay [prev_wal, latest_wal)
            # to empty and silently drop a committed-to-WAL batch (exactly
            # the data-loss mode the replay exists to prevent — caught by
            # the dis_restart_streamed oracle flake, pinned by
            # test_replay_uncommitted_batch_after_restart).
            if int(end.get(p_str, o)) > int(o):
                self._floor[p] = max(self._floor.get(p, 0), int(o))
        self._sync({int(p): int(o) for p, o in end.items()})
        from .dis_batch import check_consecutive, check_data_loss

        ranges = check_data_loss(self.log, ranges, self.fail_on_data_loss)
        check_consecutive(self.log, ranges, self.allow_gaps)
        planned = _plan_partitions(self.log, ranges)
        self._trace(f"partitions start={start} end={end} floor={self._floor} "
                    f"-> {[(r.partition, r.from_offset, r.until_offset) for r in ranges]}")
        if planned:
            return planned
        # Spark requires >=1 partition per batch; emit one empty range.
        first = next(iter(end)) if end else "0"
        return [RangePartition(int(first), 0, 0, (), self.log.stream)]

    def commit(self, end: dict) -> None:
        """≅ commitAll() (DirectDISInputDStream.scala:307-328). Offsets
        already live in Spark's checkpoint offset log (exactly-once); this
        hook is where a real service-side commit side-channel would go.
        Also the backpressure measurement point: batch completion closes
        the oldest in-flight plan and feeds (elements, processing delay,
        scheduling delay) to the PID estimator."""
        offs = {int(p): int(o) for p, o in end.items()}
        for p, o in offs.items():
            self._floor[p] = max(self._floor.get(p, 0), o)
        self._sync(offs)
        if self._pid is not None and self._inflight:
            planned_ms, elements = self._inflight.popleft()
            now_ms = time.monotonic() * 1000.0
            processing_ms = now_ms - planned_ms
            scheduling_ms = max(processing_ms - self.batch_seconds * 1000.0,
                                0.0)
            self._pid.compute(now_ms, elements, processing_ms, scheduling_ms)

    def _sync(self, offsets: dict[int, int]) -> None:
        """Advance the driver-side frontier monotonically."""
        cur = self._current or {}
        for p, o in offsets.items():
            cur[p] = max(cur.get(p, 0), int(o))
        self._current = cur

    # -- execution (executor side) --

    def read(self, partition: RangePartition):
        yield from _read_range_batches(partition)


class DisPatternStreamReader(DataSourceStreamReader):
    """STREAMING SubscribePattern — the streaming twin of the reference's
    periodic regex re-match (ConsumerStrategy.scala:132-171: the DStream
    re-evaluates the pattern subscription every batch, so topics CREATED
    mid-job are picked up without a restart; the r8 verdict's #2 ask —
    the batch DisMultiStreamReader only matches at plan time).

    Every ``latestOffset()`` call re-lists the log root and re-matches
    the regex; a NEWLY APPEARING matching stream enters the frontier at
    its EARLIEST offsets (the same discipline dynamic partition-add uses
    — clamp starts unknown positions from the beginning), so no record
    of a late-created stream is missed. Offsets are keyed
    ``"<stream>/<partition>"`` — the multi-stream generalization of the
    single-stream reader's per-partition map; Spark's offset log stores
    the dict as JSON either way, so checkpoint recovery works unchanged
    (the _floor guard mirrors DisStreamReader's restart discipline).

    maxOffsetsPerTrigger splits the per-trigger budget across ALL
    matched streams' partitions proportionally to lag (rate.py's math is
    key-type agnostic).
    """

    def __init__(self, root: str, pattern: str, options):
        import re

        self.root = root
        self.rx = re.compile(pattern)
        self.starting = options.get("startingoffsets", "earliest")
        self.max_per_trigger = int(options.get("maxoffsetspertrigger", 0)
                                   or 0)
        self.batch_seconds = float(options.get("batchseconds", 1.0))
        self.fail_on_data_loss = str(options.get("failondataloss",
                                                 "true")).lower() == "true"
        self.allow_gaps = str(options.get("allownonconsecutiveoffsets",
                                          "false")).lower() == "true"
        self._current: dict[str, int] | None = None
        self._floor: dict[str, int] = {}

    def _logs(self) -> list[DisLog]:
        out = []
        for name in sorted(os.listdir(self.root)):
            log = DisLog(self.root, name)
            if self.rx.fullmatch(name) and log.exists():
                out.append(log)
        return out

    @staticmethod
    def _key(stream: str, partition: int) -> str:
        return f"{stream}/{partition}"

    def _sync(self, offsets: dict[str, int]) -> None:
        cur = self._current or {}
        for k, o in offsets.items():
            cur[k] = max(cur.get(k, 0), int(o))
        self._current = cur

    # -- planning (driver side) --

    def initialOffset(self) -> dict:
        out: dict[str, int] = {}
        for log in self._logs():
            offs = (log.latest_offsets() if self.starting == "latest"
                    else log.earliest_offsets())
            for p, o in offs.items():
                out[self._key(log.stream, p)] = o
        self._sync(out)
        return dict(out)

    def latestOffset(self) -> dict:
        if self._current is None:
            self.initialOffset()
        current = dict(self._current)
        for k, o in self._floor.items():
            current[k] = max(current.get(k, 0), o)
        latest: dict[str, int] = {}
        for log in self._logs():
            earliest = log.earliest_offsets()
            for p, o in log.latest_offsets().items():
                k = self._key(log.stream, p)
                latest[k] = o
                if k not in current:
                    # newly matched stream (or new partition): the
                    # periodic re-match admits it at its earliest offset.
                    # Record the admission point as the key's FLOOR too:
                    # Spark's start dict in the next partitions() call is
                    # the PREVIOUS batch's end, which lacks the new key, so
                    # frm would fall back to 0 — for a retention-trimmed
                    # log (earliest > 0) that is a spurious failOnDataLoss
                    # error (or a silent divergence from the admission
                    # point with failOnDataLoss=false), and the lag-based
                    # budget (lag measured from earliest) would be blown
                    # by a read that starts at 0.
                    adm = earliest.get(p, 0)
                    current[k] = adm
                    self._floor[k] = max(self._floor.get(k, 0), adm)
        allowed = None
        if self.max_per_trigger:
            lags = {k: max(latest[k] - current.get(k, 0), 0)
                    for k in latest}
            allowed = max_messages_per_partition(
                lags, self.max_per_trigger / self.batch_seconds,
                self.batch_seconds)
        ends = clamp(current, latest, allowed)
        self._sync(ends)
        return {k: o for k, o in ends.items()}

    def partitions(self, start: dict, end: dict):
        from .dis_batch import check_consecutive, check_data_loss

        by_stream: dict[str, list[OffsetRange]] = {}
        for k, until in end.items():
            stream, p = k.rsplit("/", 1)
            frm = max(int(start.get(k, 0)), self._floor.get(k, 0))
            if int(until) < frm:
                continue
            by_stream.setdefault(stream, []).append(
                OffsetRange(stream, int(p), frm, int(until)))
        for k, o in start.items():
            # same advance-evidence rule as DisStreamReader.partitions:
            # a start is floor evidence only when the batch advances it
            if int(end.get(k, o)) > int(o):
                self._floor[k] = max(self._floor.get(k, 0), int(o))
        self._sync({k: int(o) for k, o in end.items()})
        planned: list[RangePartition] = []
        for stream in sorted(by_stream):
            log = DisLog(self.root, stream)
            ranges = check_data_loss(log, by_stream[stream],
                                     self.fail_on_data_loss)
            check_consecutive(log, ranges, self.allow_gaps)
            planned.extend(_plan_partitions(log, ranges))
        if planned:
            return planned
        first = next(iter(end), "none/0")
        stream, p = first.rsplit("/", 1)
        return [RangePartition(int(p), 0, 0, (), stream)]

    def commit(self, end: dict) -> None:
        offs = {k: int(o) for k, o in end.items()}
        for k, o in offs.items():
            self._floor[k] = max(self._floor.get(k, 0), o)
        self._sync(offs)

    # -- execution (executor side) --

    def read(self, partition: RangePartition):
        yield from _read_range_batches(partition)


# -------------------------------------------------------------------- sink

@dataclasses.dataclass(frozen=True)
class _StagedSeg:
    """One staged parquet file: rows of exactly one log partition.
    from/until = -1 in assign-at-commit mode (offsets not yet known)."""
    partition: int
    from_offset: int
    until_offset: int
    rows: int
    path: str


@dataclasses.dataclass
class _Staged(WriterCommitMessage):
    task_id: int
    files: tuple  # tuple[_StagedSeg, ...]


class DisWriter(DataSourceWriter):
    """Producer sink ≅ DISSink (DISSink.scala:23-55) with two modes:

    - **explicit-offset (ingestion) mode** — input carries an ``offset``
      column (e.g. the deterministic envelope, or a log-to-log copy):
      tasks stage finished segment files (offset-sorted, cut every
      ``segmentRows``); commit() validates offset metadata and *renames*
      — zero data bytes ever touch the driver.
    - **assign-at-commit (producer) mode** — no ``offset`` column: tasks
      stage per-partition files; commit() hands them, ONE staged file at
      a time, to ``dis_log.commit_assigned``, which reserves offset
      ranges from the log tail (driver memory is bounded by a single
      task's output for one partition, never the batch). Rows lacking a
      ``partition`` value are routed by portable key-hash %
      num_partitions (DISSink.scala:27-34 key-routing semantics).

    Exactly-once: pass option ``txn`` (the streaming writer below uses
    ``<txnPrefix>_b<batchId>``). Segments are tagged with the txn in their
    filename; the txn is recorded in the log's ledger (atomic rename)
    only after every segment is in place. On replay, a committed txn is
    skipped wholesale; a crashed, uncommitted txn's tagged segments —
    necessarily the partition tails under the single-writer-per-stream
    model — are rolled back at writer construction before re-appending.
    Untagged writes are at-least-once (the reference DISSink's level).
    """

    def __init__(self, log: DisLog, options, columns: list[str]):
        self.log = log
        self.stage_dir = os.path.join(log.stream_dir, "_staging")
        self.columns = [c.lower() for c in columns]
        self.has_offsets = "offset" in self.columns
        self.has_partition = "partition" in self.columns
        self.num_partitions = log.num_partitions()
        self.segment_rows = int(options.get("segmentrows", 0) or 0)
        self.allow_gaps = str(options.get("allownonconsecutiveoffsets",
                                          "false")).lower() == "true"
        txn = options.get("txn")
        self.txn = sanitize_txn(txn) if txn else None
        self.skip = False
        if self.txn:
            if self.txn in log.committed_txns():
                self.skip = True       # replayed batch — idempotent no-op
            else:
                log.rollback_txn(self.txn)  # crashed attempt — drop its tail

    # -- executor side ----------------------------------------------------

    def _route(self, row) -> int:
        if self.has_partition and row["partition"] is not None:
            return int(row["partition"])
        from ..functions.portable import portable_hash_py

        return portable_hash_py(row["key"] or "") % self.num_partitions

    def write(self, iterator) -> _Staged:
        import uuid

        from pyspark import TaskContext

        tid = TaskContext.get().partitionId() if TaskContext.get() else 0
        if self.skip:
            for _ in iterator:      # drain; no I/O
                pass
            return _Staged(task_id=tid, files=())
        os.makedirs(self.stage_dir, exist_ok=True)
        by_part: dict[int, list] = {}
        for row in iterator:
            by_part.setdefault(self._route(row), []).append(row)

        files = []
        for part in sorted(by_part):
            rows = by_part[part]
            if self.has_offsets:
                rows.sort(key=lambda r: r["offset"])
                step = self.segment_rows or len(rows)
                for lo in range(0, len(rows), step):
                    chunk = rows[lo:lo + step]
                    path = os.path.join(
                        self.stage_dir,
                        f"stage-{tid}-{uuid.uuid4().hex[:8]}.parquet")
                    self._stage_file(chunk, path, with_offsets=True)
                    files.append(_StagedSeg(
                        part, int(chunk[0]["offset"]),
                        int(chunk[-1]["offset"]) + 1, len(chunk), path))
            else:
                path = os.path.join(
                    self.stage_dir,
                    f"stage-{tid}-{uuid.uuid4().hex[:8]}.parquet")
                self._stage_file(rows, path, with_offsets=False)
                files.append(_StagedSeg(part, -1, -1, len(rows), path))
        return _Staged(task_id=tid, files=tuple(files))

    @staticmethod
    def _stage_file(rows, path: str, with_offsets: bool) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        cols = {}
        if with_offsets:
            cols["offset"] = pa.array([int(r["offset"]) for r in rows],
                                      pa.int64())
        cols["key"] = pa.array([r["key"] for r in rows], pa.string())
        cols["value"] = pa.array([r["value"] for r in rows], pa.string())
        cols["timestamp"] = pa.array([r["timestamp"] for r in rows],
                                     pa.timestamp("us"))
        pq.write_table(pa.table(cols), path)

    # -- driver side ------------------------------------------------------

    def commit(self, messages) -> None:
        if self.skip:
            return
        staged: dict[int, list[tuple[int, _StagedSeg]]] = {}
        for m in messages:
            if not m:
                continue
            for seg in m.files:
                staged.setdefault(seg.partition, []).append((m.task_id, seg))
        try:
            if self.has_offsets:
                self._commit_explicit(staged)
                if self.txn:
                    self.log.record_txn(self.txn)
            else:
                commit_assigned(self.log, self._staged_tables(staged),
                                self.txn, self.segment_rows)
        finally:
            self._cleanup(messages)

    def _commit_explicit(self, staged) -> None:
        """Metadata validation + renames only — no data I/O on the driver."""
        latest = self.log.latest_offsets()
        plan = []
        for part, entries in staged.items():
            segs = sorted((s for _, s in entries),
                          key=lambda s: s.from_offset)
            expected = latest.get(part, 0)
            for s in segs:
                if s.from_offset < expected:
                    raise ValueError(
                        f"offset overlap in partition {part}: staged "
                        f"[{s.from_offset},{s.until_offset}) vs committed "
                        f"tail {expected}")
                if not self.allow_gaps and (
                        s.from_offset != expected
                        or s.rows != s.until_offset - s.from_offset):
                    raise ValueError(
                        f"non-consecutive offsets in partition {part} at "
                        f"[{s.from_offset},{s.until_offset}) (expected next="
                        f"{expected}, rows={s.rows}); set "
                        f"allowNonConsecutiveOffsets=true to append a "
                        f"compacted/gappy range")
                expected = s.until_offset
            plan.append((part, segs))
        for part, segs in plan:
            for s in segs:
                final = os.path.join(
                    self.log._part_dir(part),
                    segment_name(s.from_offset, s.until_offset, s.rows,
                                 self.txn))
                os.replace(s.path, final)

    @staticmethod
    def _staged_tables(staged):
        """Assign-mode staged files as ``commit_assigned`` chunks: per
        partition in task order, read ONE AT A TIME — driver memory is
        bounded by a single staged file, never the batch."""
        import pyarrow.parquet as pq

        for part in sorted(staged):
            for _, seg in sorted(staged[part], key=lambda e: (e[0], e[1].path)):
                if seg.rows:
                    yield part, pq.read_table(seg.path)

    def abort(self, messages) -> None:
        self._cleanup(messages)

    def _cleanup(self, messages) -> None:
        for m in messages:
            if not m:
                continue
            for seg in m.files:
                if os.path.exists(seg.path):
                    os.remove(seg.path)


class DisStreamWriter(DisWriter, DataSourceStreamWriter):
    """Native ``writeStream.format("dis")`` sink — the DisWriter staging
    and txn machinery driven by the streaming engine's per-batch commit.

    Each micro-batch commits under txn ``<txnPrefix>_b<batchId>``
    (``txnPrefix`` defaults to "stream"; set it per query when several
    streams produce into one log). Exactly-once follows from the same
    protocol as the batch writer: a replayed batch id is a committed txn
    and is skipped wholesale; a crashed attempt's tagged tail segments
    are rolled back before the re-append. Unlike the foreachBatch sink
    there is no driver-side DataFrame hop at all — the engine hands rows
    straight to executor-side staging.
    """

    def __init__(self, log: DisLog, options, columns: list[str]):
        # txn is per-batch for a stream; disable the static-txn recovery
        # in DisWriter.__init__ and run it per commit instead.
        opts = dict(options)
        opts.pop("txn", None)
        super().__init__(log, opts, columns)
        self.txn_prefix = sanitize_txn(options.get("txnprefix", "stream"))

    def _batch_txn(self, batch_id: int) -> str:
        return f"{self.txn_prefix}_b{batch_id}"

    def commit(self, messages, batchId: int) -> None:  # noqa: N803
        self.txn = self._batch_txn(batchId)
        if self.txn in self.log.committed_txns():
            self._cleanup(messages)     # replayed batch — idempotent skip
            return
        self.log.rollback_txn(self.txn)  # crashed attempt — drop its tail
        super().commit(messages)

    def abort(self, messages, batchId: int) -> None:  # noqa: N803
        self._cleanup(messages)


def register(spark) -> None:
    """Register format('dis') on this session, and tune idle progress
    reporting: the engine emits no-data progress events at most once
    per spark.sql.streaming.noDataProgressEventInterval (default 10 s),
    which taxes every idle-detection drain ~20 s just to OBSERVE two
    idle events (measured, tools/profile_microbatch.py r11). Dense
    events restore fast termination detection; drain safety lives in
    drain_available's count targets + time-based idle window."""
    spark.dataSource.register(DisDataSource)
    try:
        spark.conf.set(
            "spark.sql.streaming.noDataProgressEventInterval", "250ms")
    except Exception:
        pass   # a session that forbids runtime conf changes keeps the
        # default interval; drains stay correct, just slower to detect
