"""Full-backlog drain under rate limits — availableNow semantics for
rate-limited dis streams.

The Kafka source combines ``Trigger.AvailableNow`` with
``maxOffsetsPerTrigger`` by implementing ``SupportsTriggerAvailableNow``:
the engine captures the backlog end once, then issues *multiple*
rate-limited batches until it is reached. The Python DataSource API
(pyspark.sql.datasource) exposes no such hook — the engine wraps a Python
streaming source and captures its FIRST ``latestOffset()`` as the drain
target, so a rate-limited source yields exactly one clamped batch per
availableNow run.

:func:`drain_available` restores the Kafka-shaped semantics with what the
API does allow: run the query under a fast processing-time trigger —
every micro-batch respects the rate budget — and stop it after the
backlog is exhausted (``idle_batches`` consecutive empty batches). One
query run, one checkpoint lineage, full drain, bounded batches.

Load robustness (r10 verdict #4): idle-batch detection alone can fire
EARLY under heavy host load — a data batch stuck in planning looks
exactly like a drained backlog, and round 10 recorded one transient
mismatch with that fingerprint under triple-JVM contention. Callers that
know the backlog size (every gate that builds its own log knows
``sum(log.latest_offsets().values())``) pass ``expected_rows``: the
drain then refuses to stop until the query has CONSUMED that many input
rows, and only afterwards applies the idle-tail condition — which is
still required, because timer/watermark-driven operators (session
timeouts, append-mode window flush) emit on no-data batches AFTER the
last input row. Count-polling makes early stop impossible; the idle
tail keeps flush semantics intact.

:func:`streams` is the one owner of a streamed gate's queries and
checkpoints: it names each query, allocates its checkpoint, starts it on
a trigger, drains it (:meth:`StreamOwner.drain`), and on the way out
stops every query it started before it removes any checkpoint.
:func:`run` is that owner for the one-query case.
:func:`kill_resume` is the one kill/resume protocol every restart gate
runs over its checkpoint, and :func:`await_progress` the one wait for a
live query's first progress event.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from contextlib import contextmanager

from ..scratch import scratch_dir


def checkpoint_committed_rows(ckpt: str) -> int | None:
    """Rows ALREADY COMMITTED per a checkpoint's write-ahead log: the sum
    of end offsets recorded in ``offsets/<b>`` for the newest batch ``b``
    present in ``commits/``. dis-log offsets are 0-based row positions,
    so an end-offset sum IS a consumed-row count.

    This is what makes a conservative count floor computable for the
    post-kill resume drains (r11 verdict #5): a restarted query replays
    any planned-but-uncommitted batch, so it must consume at least
    ``total_rows_in_log - checkpoint_committed_rows(ckpt)`` input rows
    before it can legitimately go idle. Returns 0 when NO batch has
    committed (the resume must then consume the whole log) and ``None``
    when batches HAVE committed but their WAL entry cannot be parsed —
    "unknown" is NOT zero: treating a parse failure as 0 would demand
    the resume re-consume rows the engine will never replay, turning a
    cosmetic WAL-format drift into a guaranteed drain timeout (r12
    advice #1). Callers must map ``None`` to "no count floor"
    (:func:`resume_floor` does).

    WAL format (OffsetSeqLog v1): line 0 ``v1``, line 1 the batch
    metadata JSON, then ONE line per source holding that source's
    serialized offset — for the dis source a ``{"<partition>": end}``
    JSON object (dis_datasource.latestOffset's return, stored verbatim).
    A ``-`` line means that source had no offset yet.
    """
    try:
        # batch ids are never negative; non-numeric names are Spark's
        # in-flight ".<id>.<uuid>.tmp" staging files — skip both
        batches = [int(n) for n in os.listdir(os.path.join(ckpt, "commits"))
                   if n.isdigit()]
    except (FileNotFoundError, NotADirectoryError):
        return 0
    if not batches:
        return 0
    try:
        with open(os.path.join(ckpt, "offsets", str(max(batches)))) as f:
            lines = f.read().splitlines()
        total = 0
        for line in lines[2:]:
            line = line.strip()
            if not line or line == "-":
                continue
            off = json.loads(line)
            if isinstance(off, str):      # double-encoded offset payload
                off = json.loads(off)
            total += sum(int(v) for v in off.values())
        return total
    except (OSError, ValueError, KeyError, AttributeError):
        return None


def resume_floor(ckpt: str, total_rows: int) -> int | None:
    """The conservative ``expected_rows`` floor for a post-kill resume
    drain: rows in the log the checkpoint has NOT yet committed. ``None``
    (no floor — idle-tail detection only) when the WAL exists but cannot
    be parsed, because an unknown committed count admits no sound floor
    in either direction."""
    committed = checkpoint_committed_rows(ckpt)
    if committed is None:
        return None
    return max(total_rows - committed, 0)


def _ts(p) -> float:
    """Progress-event timestamp as epoch seconds (ISO-8601, Z suffix)."""
    from datetime import datetime

    return datetime.fromisoformat(
        p["timestamp"].replace("Z", "+00:00")).timestamp()


def drain_available(query, idle_batches: int = 2, poll_seconds: float = 0.25,
                    timeout_seconds: float = 300.0,
                    expected_rows: int | None = None,
                    idle_seconds: float = 3.0,
                    stop_at_count: bool = False) -> int:
    """Block until ``query`` has drained its backlog, then stop it.

    ``query`` is a started StreamingQuery on a processing-time trigger.
    Returns the number of data batches observed. The backlog is considered
    drained after ``idle_batches`` consecutive completed micro-batches
    with ``numInputRows == 0`` following at least one planning pass —
    AND, when ``expected_rows`` is given, only once the cumulative input
    row count has reached it (the load-robust count-polling phase;
    cumulative counting folds ``recentProgress`` into a per-batchId dict
    so the bounded progress buffer cannot under-count a long drain).

    The idle tail is also TIME-based: the newest idle event must sit at
    least ``idle_seconds`` after the last data event (or after the first
    trailing idle event when no data was ever seen). With the dense
    250 ms no-data progress events the sessions now configure, two idle
    EVENTS alone would mean only ~0.5 s of silence — too little for the
    drains that cannot pass ``expected_rows`` (post-kill restarts); the
    time window restores the safety margin without the ~20 s tail that
    the default 10 s event interval used to impose.

    ``stop_at_count=True`` is the caller's assertion that the query
    emits NOTHING after its last input row — no event-time timers,
    watermark flushes, or other no-data-batch output (e.g. a pure
    foreachBatch ingest, or a complete-mode aggregation whose sink state
    is rewritten per batch). With a reached ``expected_rows`` target the
    drain then stops IMMEDIATELY: a progress event is only published
    after its batch (sink work included) has committed, so once the
    cumulative count covers the backlog there is nothing left to wait
    for and the idle tail is pure wall-clock (~idle_seconds + polling,
    paid once per drain). Ignored without ``expected_rows`` — an idle
    tail is the only drained-ness signal a countless drain has."""
    deadline = time.monotonic() + timeout_seconds
    seen: dict[int, int] = {}
    try:
        while time.monotonic() < deadline:
            if query.exception() is not None:
                raise query.exception()
            progress = query.recentProgress
            for p in progress:
                seen[p["batchId"]] = p["numInputRows"]
            if expected_rows is not None \
                    and sum(seen.values()) < expected_rows:
                time.sleep(poll_seconds)
                continue
            if stop_at_count and expected_rows is not None:
                return sum(1 for v in seen.values() if v > 0)
            if progress:
                trailing = []
                for p in reversed(progress):
                    if p["numInputRows"] == 0:
                        trailing.append(p)
                    else:
                        break
                if len(trailing) >= idle_batches:
                    n_data = len(progress) - len(trailing)
                    ref = _ts(progress[n_data - 1]) if n_data > 0 \
                        else _ts(trailing[-1])
                    if _ts(trailing[0]) - ref >= idle_seconds:
                        return sum(1 for v in seen.values() if v > 0)
            time.sleep(poll_seconds)
        raise TimeoutError(
            f"backlog not drained within {timeout_seconds}s "
            f"(consumed {sum(seen.values())} rows"
            + (f" of {expected_rows} expected" if expected_rows is not None
               else "")
            + f"; last progress: {query.lastProgress})")
    finally:
        query.stop()


def await_progress(query, label: str, timeout_seconds: float = 120.0,
                   data: bool = True) -> None:
    """Block until ``query`` publishes its first micro-batch with input
    rows — or, with ``data=False``, its first progress event of any kind
    (the proof that a live query has captured its start position). A
    query failure is re-raised as is; a timeout raises ``TimeoutError``
    naming ``label``."""
    deadline = time.monotonic() + timeout_seconds
    while time.monotonic() < deadline:
        if query.exception() is not None:
            raise query.exception()
        progress = query.recentProgress
        if progress and (not data
                         or any(p["numInputRows"] > 0 for p in progress)):
            return
        time.sleep(0.05)
    raise TimeoutError(f"{label}: no {'data batch' if data else 'progress'}"
                       f" within {timeout_seconds}s")


def stop_query(query) -> None:
    """Stop ``query`` if it is still running; a failing stop is ignored,
    so cleanup never masks the error that triggered it."""
    try:
        if query is not None and query.isActive:
            query.stop()
            query.awaitTermination(60)
    except Exception:
        pass


def query_name(label: str) -> str:
    """A streaming-query name unique in the session: ``<label>_<hex>``."""
    return f"{label}_{uuid.uuid4().hex[:8]}"


def await_available_now(query, label: str, timeout_seconds: float) -> None:
    """Wait for an ``availableNow`` query to terminate by itself; one that
    does not within ``timeout_seconds`` raises ``TimeoutError`` naming
    ``label`` (the caller's cleanup stops it). A query failure is
    re-raised by ``awaitTermination``."""
    if not query.awaitTermination(timeout_seconds):
        raise TimeoutError(f"{label}: availableNow run did not terminate "
                           f"within {timeout_seconds}s")


# One drain deadline for every owned query, the longest any gate used
# before the owner existed; a query still draining after it is reported
# as hung.
GATE_TIMEOUT_SECONDS = 300.0


class StreamOwner:
    """The queries one gate starts and the checkpoints they run on.

    Each checkpoint carries one query name, so every run restarted on a
    checkpoint keeps its name. Use through :func:`streams`, which calls
    :meth:`close` whichever step raises."""

    def __init__(self, label: str):
        self.label = label
        self._names: dict[str, str] = {}       # checkpoint -> query name
        self._queries: list = []
        self._available_now: set[int] = set()

    def checkpoint(self) -> str:
        """A new scratch checkpoint owned (and removed) by this owner."""
        ckpt = scratch_dir(f"{self.label}_ckpt_")
        self._names[ckpt] = query_name(self.label)
        return ckpt

    def start(self, writer, *, available_now: bool = False,
              ckpt: str | None = None):
        """Start ``writer`` (a ``DataStreamWriter``) on ``ckpt`` — a new
        checkpoint unless given — under an ``availableNow`` or a
        ``0 seconds`` processing-time trigger."""
        ckpt = ckpt or self.checkpoint()
        trigger = ({"availableNow": True} if available_now
                   else {"processingTime": "0 seconds"})
        query = (writer.queryName(self._names[ckpt])
                 .option("checkpointLocation", ckpt)
                 .trigger(**trigger).start())
        self._queries.append(query)
        if available_now:
            self._available_now.add(id(query))
        return query

    def drain(self, query, *, expected_rows: int | None = None,
              stop_at_count: bool = False, min_batches: int = 0) -> int:
        """Drain a query this owner started, within
        ``GATE_TIMEOUT_SECONDS``, and return its data-batch count: an
        ``availableNow`` query by waiting for it to terminate
        (:func:`await_available_now`), a processing-time one through
        :func:`drain_available` with ``expected_rows`` and
        ``stop_at_count``. Fewer than ``min_batches`` data batches raise
        an ``AssertionError`` naming the gate."""
        if id(query) in self._available_now:
            await_available_now(query, self.label, GATE_TIMEOUT_SECONDS)
            batches = sum(1 for p in query.recentProgress
                          if p["numInputRows"] > 0)
        else:
            batches = drain_available(query,
                                      timeout_seconds=GATE_TIMEOUT_SECONDS,
                                      expected_rows=expected_rows,
                                      stop_at_count=stop_at_count)
        if batches < min_batches:
            raise AssertionError(
                f"{self.label}: backlog drained in {batches} data batches; "
                f"the multi-batch gate requires >= {min_batches}")
        return batches

    def close(self) -> None:
        """Stop every started query, then remove every checkpoint."""
        for query in self._queries:
            stop_query(query)
        for ckpt in self._names:
            shutil.rmtree(ckpt, ignore_errors=True)


@contextmanager
def streams(label: str):
    """A :class:`StreamOwner` for the ``with`` block: on exit, normal or
    not, it stops the queries it started and then removes their
    checkpoints."""
    owner = StreamOwner(label)
    try:
        yield owner
    finally:
        owner.close()


def run(writer, label: str, *, available_now: bool = False, **drain):
    """Start ``writer`` on a fresh owned checkpoint, drain it
    (:meth:`StreamOwner.drain` keywords) and release it. Returns the
    stopped query: ``.name`` names a memory sink's table,
    ``.recentProgress`` holds its progress events."""
    with streams(label) as owner:
        query = owner.start(writer, available_now=available_now)
        owner.drain(query, **drain)
    return query


def kill_resume(start, ckpt: str, total_rows: int, label: str) -> None:
    """Run the three-phase kill/resume protocol over one checkpoint.

    ``start(trigger, rate_limited=...)`` starts the gate's query on
    ``ckpt`` with ``trigger`` as ``DataStreamWriter.trigger`` keywords,
    under the gate's rate limit when ``rate_limited``:

    1. rate-limited ``availableNow`` — the Python DataSource API captures
       the first (clamped) planned offset as the drain target, so the run
       consumes one batch and terminates with the checkpoint parked
       mid-backlog by construction;
    2. rate-limited processing-time run, killed from the driver once its
       first data batch commits — a stop with a possibly in-flight batch
       that the restart must re-plan from the offset WAL;
    3. unthrottled processing-time run drained by :func:`drain_available`
       — not availableNow, which could capture the recovered (still
       rate-limited) batch end as its target — with the WAL's
       uncommitted remainder (:func:`resume_floor` of ``total_rows``) as
       the count floor. ``total_rows`` counts every source instance the
       query plans (a self-join passes twice the log's rows).

    Whichever phase raises, no query is left running and ``ckpt`` is
    removed."""
    query = None
    try:
        query = start({"availableNow": True}, rate_limited=True)
        await_available_now(query, f"{label} phase 1", 120)
        query = start({"processingTime": "0 seconds"}, rate_limited=True)
        await_progress(query, f"{label} phase 2")
        query.stop()                        # the mid-backlog kill
        query.awaitTermination(60)
        floor = resume_floor(ckpt, total_rows)
        query = start({"processingTime": "0 seconds"}, rate_limited=False)
        drain_available(query, timeout_seconds=180, expected_rows=floor)
    finally:
        stop_query(query)
        shutil.rmtree(ckpt, ignore_errors=True)
