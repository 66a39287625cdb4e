"""Admission control: lag-proportional rate split + clamp.

Behavioral re-implementation of the reference's batch-sizing math
(DirectDISInputDStream.scala:129-161 ``maxMessagesPerPartition`` and
:223-232 ``clamp``) — the one genuinely custom algorithm in the connector.
In the rebuild this runs inside the streaming reader's ``latestOffset()``
(see dis_datasource.py), playing the role Kafka's ``maxOffsetsPerTrigger``
plays in Structured Streaming: a total per-trigger record budget split
across partitions *proportionally to lag*, with a per-partition cap and a
floor of one record per lagging partition so progress is always made.

Pure functions — golden-tested in tests/test_rate.py.
"""

from __future__ import annotations


def max_messages_per_partition(
    lags: dict[int, int],
    rate_estimate: float | None,
    batch_seconds: float,
    max_rate_per_partition: float = 0.0,
) -> dict[int, int] | None:
    """Per-partition record budget for one trigger.

    - ``lags``: current lag (latest - current offset) per partition.
    - ``rate_estimate``: records/sec total budget (None = no backpressure
      estimate, e.g. a cold PID estimator).
    - ``max_rate_per_partition``: records/sec cap per partition
      (0 = unlimited, the reference's default, PerPartitionConfig.scala:43).

    Returns None when nothing limits the batch (reference returns None and
    the caller takes everything available).
    """
    total_lag = sum(lags.values())

    if rate_estimate is not None and total_lag > 0:
        effective: dict[int, float] = {}
        for part, lag in lags.items():
            back = lag / total_lag * rate_estimate
            if max_rate_per_partition > 0:
                effective[part] = min(back, max_rate_per_partition)
            else:
                effective[part] = back
    elif max_rate_per_partition > 0:
        effective = {part: max_rate_per_partition for part in lags}
    else:
        return None

    # Floor of 1 record per partition: a rate-limited stream must still
    # advance every partition (DirectDISInputDStream.scala:156). Zero-lag
    # partitions are cut back to `latest` by clamp(), so the floor never
    # over-reads.
    return {
        part: max(int(rate * batch_seconds), 1)
        for part, rate in effective.items()
    }


def clamp(
    current: dict[int, int],
    latest: dict[int, int],
    allowed: dict[int, int] | None,
) -> dict[int, int]:
    """Batch end offsets: min(current + allowed, latest) per partition.

    cf. DirectDISInputDStream.scala:223-232. A partition present in
    ``latest`` but not ``current`` starts at 0; the streaming reader puts
    every newly admitted partition in ``current`` at its earliest offset
    first (dynamic partition add, :185-220).
    """
    out = {}
    for part, lat in latest.items():
        cur = current.get(part, 0)
        if allowed is None or part not in allowed:
            out[part] = max(lat, cur)
        else:
            out[part] = min(cur + allowed[part], lat) if lat > cur else cur
    return out
