"""``format("dis")`` — a Spark 4 Python DataSource over the DIS-shaped log.

The Spark-first re-expression of the reference's whole streaming lifecycle
(SURVEY.md §3.1): Structured Streaming's MicroBatchExecution drives our
reader exactly as the DStream JobGenerator drove DirectDISInputDStream —
we implement only the source hooks, Spark owns the loop:

  reference (DStream)                         rebuild (this file)
  ---------------------------------           ------------------------------
  ConsumerStrategy (Subscribe/Pattern)        Subscription
  start() + ConsumerStrategy seek             initialOffset()
  latestOffsets() + clamp()                   latestOffset()  (rate-limited)
  compute(validTime) -> DISRDD ranges         partitions(start, end)
  DISRDDIterator sequential read              read(partition)
  commitAll() / checkpointData                commit(end) + Spark offset log
  StreamInputInfo reporting                   StreamingQueryProgress (free)

As in the reference, there is one batch reader and one streaming reader;
the subscription only decides which streams' partitions are in the set.
Batch (createRDD) maps onto the batch reader with ``offsetRanges`` /
``startingOffsets`` / ``endingOffsets`` options; the producer sink maps
onto the writer, with offset assignment serialized through the log's
append protocol (cf. DISSink.scala:23-55).

Readers emit pyarrow RecordBatches (Arrow path — no per-row Python cost).
The planner packs offset ranges, in plan order, into read tasks of up to
``_TASK_RECORDS`` planned records; a range is never split, so one larger
than that budget is a task of its own and a backlog still parallelizes
across executors, while a small micro-batch is one Python task instead of
one per log partition.

Options:
  path / stream        log root directory / stream name
  subscribePattern     regex over the stream names under ``path`` (instead
                       of ``stream``); re-matched on every trigger
  startingOffsets      "earliest" | "latest" | {"stream":{"0":23}} JSON
  startingTimestamp    start at the first record at/after this time
  endingOffsets        "latest" | JSON (batch only)
  endingTimestamp      end before the first record at/after this time
                       (batch only)
  offsetRanges         {"0":[from,until]} JSON (batch only; sentinels ok;
                       applied to every subscribed stream)
  assign               {"stream":[0,1]} JSON — a fixed partition set
                       (streaming only)
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
  failOnDataLoss       fail (default) or skip ahead when retention
                       expired a planned range
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

from .dis_batch import check_consecutive, check_data_loss, resolve_ranges
from .dis_log import DisLog, commit_assigned, sanitize_txn, segment_name
from .offsets import (
    EARLIEST, LATEST, OffsetRange,
    offset_ranges_from_json, partition_offsets_from_json, partitions_from_json,
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
class RangePartition:
    """One half-open offset range of one log partition with its pruned
    segment files (≅ DISRDDPartition, DISRDDPartition.scala:27-36)."""
    partition: int
    from_offset: int
    until_offset: int
    paths: tuple[str, ...]
    stream: str


@dataclasses.dataclass
class ReadTask(InputPartition):
    """One Spark input partition — one Python worker task: offset ranges
    read in plan order (packed by ``_pack``)."""
    ranges: tuple[RangePartition, ...]


# Planned records one read task may carry before the planner opens the
# next one. Measured at local[2] under the package's worker daemon
# (BENCH_NOTES "Zip-aware Python worker daemon"): a wave of Python read
# tasks costs ~70-110 ms before it reads a record, and 4 ranges of 50k
# records read in ~720 ms as 4 tasks, ~590 ms as 2 and ~640 ms as 1, so
# splitting pays only past ~50k records a task.
_TASK_RECORDS = 1 << 16


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
# reference's one-per-JVM consumer cache. 256 MiB; the 64-entry cap stays
# as a secondary limit for many-tiny-segment logs.
_SEGMENT_CACHE_BYTES_CAP = 256 * 1024 * 1024
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


def _read_range_batches(task: ReadTask):
    """Arrow-native scan of a task's offset ranges, in order: segment files
    were pruned by name at planning; the residual offset filter applies
    per batch."""
    import pyarrow as pa
    import pyarrow.compute as pc

    for part in task.ranges:
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
                "timestamp": table.column("timestamp")
                .cast(pa.timestamp("us")),
            })
            yield from table.to_batches()


def _pack(ranges: list[RangePartition]) -> list[ReadTask]:
    """Ranges -> read tasks, contiguously in plan order: a task takes
    ranges until the next would carry it past ``_TASK_RECORDS`` planned
    records. A range is never split, so one over the budget is its own
    task."""
    tasks: list[ReadTask] = []
    cur: list[RangePartition] = []
    records = 0
    for r in ranges:
        n = r.until_offset - r.from_offset
        if cur and records + n > _TASK_RECORDS:
            tasks.append(ReadTask(tuple(cur)))
            cur, records = [], 0
        cur.append(r)
        records += n
    if cur:
        tasks.append(ReadTask(tuple(cur)))
    return tasks


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

    def _subscription(self) -> "Subscription":
        log = self._log()
        return Subscription(log.root, log.stream,
                            self.options.get("subscribepattern"))

    def reader(self, schema: StructType) -> "DisBatchReader":
        return DisBatchReader(self._subscription(), self.options)

    def streamReader(self, schema: StructType) -> "DisStreamReader":
        return DisStreamReader(self._subscription(), self.options)

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


# ------------------------------------------------------------ subscription

class Subscription:
    """Which streams a reader covers ≅ the reference's ConsumerStrategy
    (ConsumerStrategy.scala:74-213): the strategy only decides which
    partitions are in the set; the readers are the same either way.

    - **named** — one stream (``Subscribe``). ``logs()`` never lists the
      log root, so the per-trigger cost is the stream's own listing.
    - **pattern** — every stream under the root whose name fullmatches a
      regex (``SubscribePattern``, :132-171). ``logs()`` re-lists the root
      on every call, so a stream created mid-job is picked up on the next
      trigger and a deleted one drops out of the plan.

    Readers key every position by ``(stream, partition)``. The offsets
    JSON that Spark stores keeps one key per partition: ``"<p>"`` for a
    named stream (the reference's currentOffsets map,
    DirectDISInputDStream.scala:84), ``"<stream>/<p>"`` for a pattern.
    """

    def __init__(self, root: str, stream: str = "events",
                 pattern: str | None = None):
        import re

        self.root = root
        self.rx = re.compile(pattern) if pattern is not None else None
        self.log = DisLog(root, stream) if self.rx is None else None

    def logs(self) -> list[DisLog]:
        if self.rx is None:
            return [self.log]
        return [log for name in sorted(os.listdir(self.root))
                if self.rx.fullmatch(name)
                and (log := DisLog(self.root, name)).exists()]

    def log_of(self, stream: str) -> DisLog:
        return self.log if self.rx is None else DisLog(self.root, stream)

    def dumps(self, offsets: dict[tuple[str, int], int]) -> dict[str, int]:
        if self.rx is None:
            return {str(p): o for (_, p), o in offsets.items()}
        return {f"{s}/{p}": o for (s, p), o in offsets.items()}

    def loads(self, offsets: dict) -> dict[tuple[str, int], int]:
        out = {}
        for k, o in offsets.items():
            s, _, p = k.rpartition("/")     # a named key has no "<stream>/"
            out[(s or self.log.stream, int(p))] = int(o)
        return out


def _as_subscription(source: "Subscription | DisLog") -> Subscription:
    if isinstance(source, DisLog):
        return Subscription(source.root, source.stream)
    return source


def _flag(options, name: str, default: str = "false") -> bool:
    return str(options.get(name, default)).lower() == "true"


def _boundary(log: DisLog, options, name: str,
              sentinel: int) -> dict[int, int]:
    """Resolved per-partition ``starting``/``ending`` boundary of ``log``.

    ``<name>Timestamp`` wins: Kafka-parity offsetsForTimes through
    parquet-footer pruning (DisLog.offsets_for_time) — a partition with no
    record at or after the time resolves to its latest offset, which is
    an empty read for a start and read-to-tail for an end, both Kafka's
    conventions. Otherwise ``<name>Offsets``: "earliest" | "latest" |
    ``{"stream": {"0": n}}`` JSON (-1/-2 sentinels allowed), a partition
    the JSON does not name taking ``sentinel``."""
    ts = options.get(f"{name}timestamp")
    if ts is not None:
        return log.offsets_for_time(ts)
    raw = options.get(f"{name}offsets",
                      "earliest" if sentinel == EARLIEST else "latest")
    if raw == "earliest":
        return log.earliest_offsets()
    if raw == "latest":
        return log.latest_offsets()
    given = {p: o for (s, p), o in partition_offsets_from_json(raw).items()
             if s == log.stream}
    earliest, latest = log.earliest_offsets(), log.latest_offsets()
    out = {}
    for p in earliest:
        o = given.get(p, sentinel)
        out[p] = latest[p] if o == LATEST else earliest[p] if o == EARLIEST \
            else o
    return out


def _checked_partitions(sub: Subscription, ranges: list[OffsetRange],
                        fail_on_data_loss: bool,
                        allow_gaps: bool) -> list[ReadTask]:
    """Gate, plan and pack ``ranges``: failOnDataLoss (check_data_loss)
    and the compacted-log gate (check_consecutive, DISRDD.scala:74-75) run
    one stream at a time for every read, batch or streaming, named or
    pattern; the planned ranges are then packed into read tasks."""
    by_stream: dict[str, list[OffsetRange]] = {}
    for r in ranges:
        by_stream.setdefault(r.stream, []).append(r)
    planned: list[RangePartition] = []
    for stream, rs in by_stream.items():
        log = sub.log_of(stream)
        rs = check_data_loss(log, rs, fail_on_data_loss)
        check_consecutive(log, rs, allow_gaps)
        planned.extend(_plan_partitions(log, rs))
    return _pack(planned)


# ------------------------------------------------------------------- batch

class DisBatchReader(DataSourceReader):
    """Bounded scan over a subscription — the createRDD path
    (DISUtils.scala:240-303). Boundaries and gates resolve once, at
    construction (plan time), for every subscribed stream; a pattern that
    matches no stream is an error. ``partitions()`` are the packed read
    tasks, so a small read is one Python task whatever its partition
    count."""

    def __init__(self, source: "Subscription | DisLog", options):
        sub = _as_subscription(source)
        logs = sub.logs()
        if not logs:
            raise ValueError(f"subscribePattern {sub.rx.pattern!r} matches "
                             f"no stream under {sub.root}")
        ranges: list[OffsetRange] = []
        for log in logs:
            if "offsetRanges" in options:
                ranges += resolve_ranges(log, offset_ranges_from_json(
                    log.stream, options["offsetRanges"]))
            else:
                start = _boundary(log, options, "starting", EARLIEST)
                end = _boundary(log, options, "ending", LATEST)
                ranges += [OffsetRange(log.stream, p, start[p], end[p])
                           for p in sorted(start)]
        self.planned = _checked_partitions(
            sub, ranges, _flag(options, "failondataloss", "true"),
            _flag(options, "allownonconsecutiveoffsets"))

    def partitions(self):
        return self.planned

    def read(self, partition: ReadTask):
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


# --------------------------------------------------------------- streaming

class DisStreamReader(DataSourceStreamReader):
    """Micro-batch reader over a subscription ≅ DirectDISInputDStream
    (SURVEY.md §3.1).

    Every position — frontier, floor, rate split — is keyed by
    ``(stream, partition)``; the subscription serializes the keys into the
    offsets JSON (see Subscription). Each ``latestOffset()`` re-lists the
    subscription, and one admission rule covers a partition added to a
    stream (dynamic add, DirectDISInputDStream.scala:185-220) and a stream
    newly matched by a pattern: the key enters at its EARLIEST offset, and
    that offset becomes its floor. Spark's next ``partitions()`` start is
    the previous batch's end, which lacks the key, so without the floor
    the read would start at 0 — a spurious failOnDataLoss error on a
    retention-trimmed log, and a blown rate budget (lag is measured from
    earliest).
    """

    def __init__(self, source: "Subscription | DisLog", options):
        self.sub = _as_subscription(source)
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
        self.options = options
        # ConsumerStrategies.Assign for streams (ConsumerStrategy.scala:
        # 186-213): pin an explicit partition set. Planning never sees
        # unassigned partitions, and — deliberately, matching the
        # reference's Assign semantics — dynamic partition ADD does not
        # apply: the subscription is the fixed set, not the log listing.
        raw_assign = options.get("assign")
        self.assigned: set[tuple[str, int]] | None = None
        if raw_assign:
            self.assigned = {(s, p) for s, ps in
                             partitions_from_json(raw_assign).items()
                             for p in ps}
        self.allow_gaps = _flag(options, "allownonconsecutiveoffsets")
        self.fail_on_data_loss = _flag(options, "failondataloss", "true")
        # Driver-side frontier (the reference's currentOffsets map,
        # DirectDISInputDStream.scala:84). The runner keeps this reader
        # alive across triggers; latestOffset() receives no start argument,
        # so progress is tracked here and re-synced from every
        # partitions()/commit() callback (authoritative on restart, when
        # Spark replays from its offset log).
        self._current: dict[tuple[str, int], int] | None = None
        # Authoritative processed floor — max offsets Spark itself has
        # handed us (partitions() starts, commit() ends) and admission
        # points. Guards against re-reading data when a post-restart
        # latestOffset() had to plan against a stale frontier (see
        # partitions()).
        self._floor: dict[tuple[str, int], int] = {}
        # Backpressure ≅ DirectKafkaRateController + PIDRateEstimator
        # (DirectDISInputDStream.scala:57-58,120-127). The estimator feeds
        # measured processing rate back into the lag-proportional split.
        self.initial_rate = float(options.get("backpressureinitialrate",
                                              0) or 0)
        self._pid = PIDRateEstimator(
            batch_interval_ms=self.batch_seconds * 1000.0,
            min_rate=float(options.get("backpressureminrate", 100) or 100)
        ) if _flag(options, "backpressureenabled") else None
        # FIFO of (planned_monotonic_ms, planned_new_records) per batch,
        # consumed by commit() to measure each batch's processing delay.
        self._inflight: deque[tuple[float, int]] = deque()

    def _in_set(self, key: tuple[str, int]) -> bool:
        return self.assigned is None or key in self.assigned

    # -- planning (driver side) --

    def initialOffset(self) -> dict:
        """≅ ConsumerStrategy.onStart seek (ConsumerStrategy.scala:82-115);
        startingTimestamp = the Kafka source's timestamp seek
        (offsetsForTimes via DisLog.offsets_for_time)."""
        out = {}
        for log in self.sub.logs():
            for p, o in _boundary(log, self.options, "starting",
                                  EARLIEST).items():
                if self._in_set((log.stream, p)):
                    out[(log.stream, p)] = o
        self._sync(out)
        return self.sub.dumps(out)

    def latestOffset(self) -> dict:
        """latestOffsets() + maxMessagesPerPartition() + clamp()
        (DirectDISInputDStream.scala:185-232), over a fresh listing of the
        subscription.

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
        for k, o in self._floor.items():
            current[k] = max(current.get(k, 0), o)
        latest: dict[tuple[str, int], int] = {}
        admitted: dict[tuple[str, int], int] = {}
        for log in self.sub.logs():
            earliest = None
            for p, o in log.latest_offsets().items():
                k = (log.stream, p)
                if not self._in_set(k):
                    continue
                latest[k] = o
                if k not in current:
                    if earliest is None:   # listed only when a key is new
                        earliest = log.earliest_offsets()
                    admitted[k] = earliest.get(p, 0)
        begin = {**current, **admitted}
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
            avail = sum(max(latest[k] - begin[k], 0) for k in latest)
            if (avail < self.min_per_trigger and time.monotonic()
                    - self._last_fire < self.max_trigger_delay_s):
                # Not enough backlog and the delay budget hasn't expired:
                # decline the trigger (no offset advance -> no batch; new
                # keys are admitted by the trigger that fires).
                self._sync(current)
                return self.sub.dumps(current)
        for k, o in admitted.items():
            self._floor[k] = max(self._floor.get(k, 0), o)
        allowed = None
        if self.max_per_trigger or self.max_rate_per_partition or self._pid:
            lags = {k: max(latest[k] - begin[k], 0) for k in latest}
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
        ends = clamp(begin, latest, allowed)
        planned = sum(max(ends[k] - begin[k], 0) for k in ends)
        if planned:
            self._last_fire = time.monotonic()
        # Only batches that advance offsets run (and therefore commit); a
        # planned=0 idle trigger never gets a matching commit(), so
        # queueing it would permanently skew the plan/commit pairing
        # (stale entries inflate processing delay and pin the PID at
        # min_rate) and grow the deque unboundedly on an idle stream.
        if self._pid is not None and planned:
            self._inflight.append((time.monotonic() * 1000.0, planned))
        self._sync(ends)
        return self.sub.dumps(ends)

    def partitions(self, start: dict, end: dict):
        """Freeze the micro-batch plan into offset ranges packed into read
        tasks ≅ compute() building DISRDD (DirectDISInputDStream.scala:
        234-265). ``start`` comes from Spark's offset log, so this also
        re-syncs the frontier after a checkpoint restart. A key only in
        ``start`` (a stream that stopped matching) is dropped from the
        plan."""
        start, end = self.sub.loads(start), self.sub.loads(end)
        ranges = []
        for k, until in end.items():
            # _floor = authoritative processed position (Spark-provided
            # starts + committed ends + admission points). If a stale
            # post-restart plan moved the engine's position behind it,
            # clamp the scan start so no record is re-read; positions
            # self-heal on the next batch.
            frm = max(start.get(k, 0), self._floor.get(k, 0))
            if until < frm:   # stale planning after restart — no-op
                continue
            ranges.append(OffsetRange(k[0], k[1], frm, until))
        for k, o in start.items():
            # A batch start is commit evidence (everything below it is in
            # Spark's offset log as processed) ONLY for keys the batch
            # actually advances. On restart the engine first issues a
            # zero-width resync call partitions(latest_wal, latest_wal)
            # BEFORE replaying the uncommitted batch; taking that start as
            # floor would clamp the genuine replay [prev_wal, latest_wal)
            # to empty and silently drop a committed-to-WAL batch (exactly
            # the data-loss mode the replay exists to prevent — caught by
            # the dis_restart_streamed oracle flake, pinned by
            # test_replay_uncommitted_batch_after_restart).
            if end.get(k, o) > o:
                self._floor[k] = max(self._floor.get(k, 0), o)
        self._sync(end)
        planned = _checked_partitions(self.sub, ranges,
                                      self.fail_on_data_loss, self.allow_gaps)
        if planned:
            return planned
        # Spark requires >=1 partition per batch; emit one empty range.
        stream, p = next(iter(end), ("", 0))
        return [ReadTask((RangePartition(p, 0, 0, (), stream),))]

    def commit(self, end: dict) -> None:
        """≅ commitAll() (DirectDISInputDStream.scala:307-328). Offsets
        already live in Spark's checkpoint offset log (exactly-once); this
        hook is where a real service-side commit side-channel would go.
        Also the backpressure measurement point: batch completion closes
        the oldest in-flight plan and feeds (elements, processing delay,
        scheduling delay) to the PID estimator."""
        offs = self.sub.loads(end)
        for k, o in offs.items():
            self._floor[k] = max(self._floor.get(k, 0), o)
        self._sync(offs)
        if self._pid is not None and self._inflight:
            planned_ms, elements = self._inflight.popleft()
            now_ms = time.monotonic() * 1000.0
            processing_ms = now_ms - planned_ms
            scheduling_ms = max(processing_ms - self.batch_seconds * 1000.0,
                                0.0)
            self._pid.compute(now_ms, elements, processing_ms, scheduling_ms)

    def _sync(self, offsets: dict[tuple[str, int], int]) -> None:
        """Advance the driver-side frontier monotonically."""
        cur = self._current or {}
        for k, o in offsets.items():
            cur[k] = max(cur.get(k, 0), o)
        self._current = cur

    # -- execution (executor side) --

    def read(self, partition: ReadTask):
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
