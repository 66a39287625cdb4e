"""SparkSession construction tuned for the local[32] test substrate.

At cluster scale the same settings apply except parallelism knobs, which
should track executor count (shuffle partitions ~= 2-3x total cores; AQE
coalesces the excess at runtime).

Python workers come from this package's :mod:`worker_daemon`
(``spark.python.daemon.module``): pyspark's own daemon lets every task
re-read each zip archive on the worker path, 250-280 ms a task on Python
< 3.13, and the package's daemon skips the re-read while an archive is
unchanged. The daemon is started as ``python -m`` in the driver's working
directory, so the package's parent directory goes first on the workers'
``PYTHONPATH`` (``spark.executorEnv.PYTHONPATH``); without it a driver
started outside the checkout fails every Python task with "No module
named 'spark_streaming_dis_plugin_spark'". Both are static settings of a
new SparkContext: a session built before this package is imported — the
session-first ``__spark_entry__.py`` shape — runs pyspark's own daemon.

Spark keeps the classes whole-stage codegen compiles in one JVM-wide
cache of ``spark.sql.codegen.cache.maxEntries`` entries, 100 by default.
One cycle of the seven ``perfbench`` ``query_mix`` queries needs 211
distinct classes, and the 48 bench rows at sf0.001 need 1,101, so at 100
entries every cycle evicted its own classes and each warm query
recompiled 5-55 of them. ``CODEGEN_CACHE_ENTRIES`` holds both working
sets with about 4x headroom over the larger one: a warm ``query_mix``
pass then compiles nothing, and the 1,101 classes added about 9 MB of
metaspace. The cache is sized once per JVM, at its first code
generation, from the conf of the session that runs it, so the sessions
this module does not build — the session-first ``__spark_entry__.py``
shape and ``tools/drive_contract.py`` — keep Spark's default of 100.
"""

from __future__ import annotations

import os

from pyspark import SparkConf
from pyspark.sql import SparkSession

_WORKER_PATH = "spark.executorEnv.PYTHONPATH"
CODEGEN_CACHE_ENTRIES = 4096


def _worker_path() -> str:
    """The package's parent directory, then the worker path the JVM's
    configuration already holds, if a JVM is up in this process (a
    builder value replaces the launch configuration's, so that value
    would otherwise be lost)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = SparkConf().get(_WORKER_PATH, None)
    return os.pathsep.join([root, existing] if existing else [root])


def get_spark(app_name: str = "spark_streaming_dis_plugin_spark",
              cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or os.cpu_count() or 4
    # Stage the vendored protobuf runtime BEFORE the JVM launches so
    # transformWithStateInPandas workers (which inherit the JVM's env)
    # can import google.protobuf — no-op when already resolved or when
    # the JVM exists (streaming/pbvendor.py documents the constraint).
    from .streaming.pbvendor import ensure_vendored_protobuf

    ensure_vendored_protobuf()
    return (
        SparkSession.builder
        .master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Idle progress events default to one per 10 s, which makes
        # every idle-detection drain pay a ~20 s tail just to SEE two
        # of them (measured, tools/profile_microbatch.py r11); the
        # drain's safety now lives in drain_available's time-based
        # idle window + count targets, not in event sparsity.
        .config("spark.sql.streaming.noDataProgressEventInterval", "250ms")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", f"{__package__}.worker_daemon")
        .config(_WORKER_PATH, _worker_path())
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .getOrCreate()
    )
