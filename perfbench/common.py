"""Shared harness pieces: the run context, the Spark session, machine
telemetry, peak memory of the process tree, percentiles and the span
recorder used by traced runs.

Nothing here reaches into the package under test: every timing is taken
around calls into its public functions, from the benchmark's side.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "spark_streaming_dis_plugin_spark"
STATE_DIR = os.path.join(ROOT, ".perfbench")
DRIVER_MEM = "1g"
# Typical lower quartile of ``_probe_work``'s time on the 4-vCPU VM the
# bounds were set on. A run's timings are reported scaled by REF_PROBE_MS /
# (its own lower-quartile probe time): the same run on a machine running
# fixed code 20% slower reports the same figures. See perfbench/README.md,
# "Machine speed".
REF_PROBE_MS = 7.5


def checkout_ok() -> bool:
    """True when the package under test and bench.py sit next to the
    benchmark directory."""
    return (os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "bench.py")))


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def hd_percentile(values: list[float], q: float) -> float:
    """Harrell-Davis percentile, q in [0, 100]: a weighted mean of every
    order statistic, with weights from a Beta((n+1)p, (n+1)(1-p)) law
    (p = q/100). Every sample counts, the ones near rank p*n the most, so
    a change in any sample moves the estimate."""
    import numpy as np

    xs = np.sort(np.asarray(values, dtype=np.float64))
    if len(xs) == 0:
        raise ValueError("percentile of no samples")
    n, p = len(xs), q / 100.0
    if n == 1 or p <= 0.0:
        return float(xs[0])
    if p >= 1.0:
        return float(xs[-1])
    a, b = (n + 1) * p, (n + 1) * (1 - p)
    grid = np.linspace(0.0, 1.0, 100_001)[1:-1]
    logpdf = (a - 1) * np.log(grid) + (b - 1) * np.log1p(-grid)
    pdf = np.exp(logpdf - logpdf.max())
    cdf = np.concatenate([[0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2)])
    cdf /= cdf[-1]
    weights = np.diff(np.interp(np.arange(n + 1) / n, grid, cdf))
    return float(weights @ xs)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


# --------------------------------------------------------------- machine

class Machine:
    """Steal, PSI CPU stall and load average over a run, read with the
    repository's own /proc readers in bench.py."""

    def __init__(self) -> None:
        import bench
        self._bench = bench
        self.t0 = time.perf_counter()
        self.steal0 = bench._cpu_steal_sec()
        self.stall0 = bench._cpu_stall_sec()
        self.busy0 = bench._cpu_busy_sec()
        self.load0 = bench._loadavg()

    def report(self) -> dict:
        b = self._bench
        out: dict = {"wall_s": round(time.perf_counter() - self.t0, 3),
                     "loadavg_start": self.load0, "loadavg_end": b._loadavg(),
                     "nproc": os.cpu_count()}
        for key, v0, v1 in (("steal_s", self.steal0, b._cpu_steal_sec()),
                            ("psi_cpu_stall_s", self.stall0, b._cpu_stall_sec()),
                            ("cpu_busy_s", self.busy0, b._cpu_busy_sec())):
            out[key] = None if v0 is None or v1 is None else round(v1 - v0, 3)
        return out


def _probe_work() -> None:
    """A fixed piece of CPU work that calls nothing of the program."""
    import numpy as np

    acc = 0
    for i in range(40_000):
        acc = (acc + i * 2654435761) % 1000003
    np.sort(np.random.default_rng(7).random(100_000))


class SpeedProbe:
    """Times ``_probe_work`` now and then during a run: how fast this
    machine runs fixed code at that moment (see ``REF_PROBE_MS``)."""

    def __init__(self) -> None:
        self.ms: list[float] = []

    def sample(self) -> None:
        t0 = time.perf_counter()
        _probe_work()
        self.ms.append((time.perf_counter() - t0) * 1e3)

    @property
    def median_ms(self) -> float:
        return median(self.ms)

    @property
    def low_ms(self) -> float:
        """Lower quartile of the samples: the machine's speed with the
        samples that something preempted (the program's own threads
        among others) left out."""
        if len(self.ms) < 2:
            return median(self.ms)
        return statistics.quantiles(self.ms, n=4)[0]


class ProbeProcess:
    """Runs ``SpeedProbe`` in a child process every ``every`` seconds, from
    the start of a run to the end of its timed region. The child shares no
    interpreter lock with the program's Python threads, and it runs at the
    highest scheduling priority it may take, so the program's own threads
    do not delay it: it measures the machine, not the program's load."""

    def __init__(self, every: float = 0.25) -> None:
        import subprocess
        self.proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), "--probe", str(every)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        self.result: SpeedProbe | None = None
        self.nice: int | None = None

    def stop(self) -> SpeedProbe:
        """Stop the child, wait for it to exit and return its samples;
        later calls return the same samples."""
        import subprocess
        if self.result is None:
            try:     # communicate() closes the child's stdin: its stop signal
                out, _ = self.proc.communicate(timeout=30)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                out, _ = self.proc.communicate()
            head, *samples = out.split() or ["0"]
            self.nice = int(head)
            self.result = SpeedProbe()
            self.result.ms = [float(x) for x in samples]
        return self.result


def _probe_child(every: float) -> None:
    """The child's loop: one sample, then wait ``every`` seconds, until the
    parent closes stdin."""
    import select

    try:
        os.nice(-20)
    except OSError:          # not permitted: stay at normal priority
        pass
    print(os.nice(0), flush=True)
    probe = SpeedProbe()
    _probe_work()            # imports numpy; not a sample
    while True:
        probe.sample()
        print(f"{probe.ms[-1]:.6f}", flush=True)
        ready, _, _ = select.select([sys.stdin], [], [], every)
        if ready and not sys.stdin.readline():
            return


class PeakRss:
    """Samples the resident memory of this process and all its descendants
    (the JVM and its Python workers) and keeps the peak of the sum."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _children() -> dict[int, list[int]]:
        kids: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(name))
        return kids

    @staticmethod
    def _rss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1])
        except (OSError, ValueError):
            pass
        return 0

    def sample(self) -> None:
        kids = self._children()
        todo, total = [os.getpid()], 0
        while todo:
            pid = todo.pop()
            total += self._rss_kb(pid)
            todo.extend(kids.get(pid, ()))
        self.peak_kb = max(self.peak_kb, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "PeakRss":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> None:
        """Stop sampling; the benchmark's own output checks run after this
        and do not count."""
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join(timeout=5)
            self.sample()

    def __exit__(self, *exc) -> None:
        self.stop()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# ----------------------------------------------------------------- spans

@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    shared_id: str | None


class Tracer:
    """In-memory span recorder. With ``enabled=False`` it records nothing:
    ``span()`` still times its block (the workloads' latencies come from
    it) but keeps no span."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack = threading.local()
        self._lock = threading.Lock()
        self.bookkeeping_s = 0.0   # time the traced run spends collecting

    def _parents(self) -> list[int]:
        if not hasattr(self._stack, "ids"):
            self._stack.ids = []
        return self._stack.ids

    def add(self, name: str, start: float, end: float,
            parent: int | None = None, shared_id: str | None = None) -> int:
        """Record a finished span; returns its id (-1 when disabled)."""
        if not self.enabled:
            return -1
        with self._lock:
            sid = len(self.spans)
            self.spans.append(Span(sid, name, start, end, parent, shared_id))
        return sid

    def span(self, name: str, shared_id: str | None = None):
        return _SpanCtx(self, name, shared_id)

    # -------------------------------------------------------- reporting

    def self_times(self) -> dict[str, dict]:
        """Per layer (span name up to the first '.'), total and self time:
        a span's self time is its duration minus the part of it that its
        children cover."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out: dict[str, dict] = {}
        for s in self.spans:
            covered, cur = 0.0, s.start
            for c in sorted(kids.get(s.span_id, ()), key=lambda c: c.start):
                lo, hi = max(c.start, cur), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cur = hi
            layer = s.name.split(".", 1)[0]
            agg = out.setdefault(layer, {"spans": 0, "total_ms": 0.0,
                                         "self_ms": 0.0})
            agg["spans"] += 1
            agg["total_ms"] += (s.end - s.start) * 1e3
            agg["self_ms"] += (s.end - s.start - covered) * 1e3
        return {k: {"spans": v["spans"], "total_ms": round(v["total_ms"], 3),
                    "self_ms": round(v["self_ms"], 3)}
                for k, v in sorted(out.items())}

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"id": s.span_id, "name": s.name,
                                    "start": s.start, "end": s.end,
                                    "parent": s.parent,
                                    "shared_id": s.shared_id}) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, shared_id: str | None):
        self.tracer, self.name, self.shared_id = tracer, name, shared_id
        self.span_id = -1

    def __enter__(self) -> "_SpanCtx":
        self.start = time.time()
        if self.tracer.enabled:
            stack = self.tracer._parents()
            self.parent = stack[-1] if stack else None
            with self.tracer._lock:
                self.span_id = len(self.tracer.spans)
                self.tracer.spans.append(
                    Span(self.span_id, self.name, self.start, self.start,
                         self.parent, self.shared_id))
            stack.append(self.span_id)
        return self

    def __exit__(self, *exc) -> None:
        self.end = time.time()
        if self.tracer.enabled:
            self.tracer._parents().pop()
            self.tracer.spans[self.span_id].end = self.end

    @property
    def seconds(self) -> float:
        return self.end - self.start


# ------------------------------------------------------------ run context

@dataclass
class Ctx:
    """Everything a workload needs: its seed, its measuring time, where it
    may write, whether it is traced, and the Spark session once started."""
    workload: str
    seed: int
    seconds: float
    trace: bool
    cores: int
    scale: float
    work: str
    drop_record: bool = False
    tracer: Tracer = field(default=None)  # type: ignore[assignment]
    rss: PeakRss = field(default=None)  # type: ignore[assignment]
    probe: ProbeProcess | None = None
    spark: object = None
    get_spark_s: float = 0.0

    def __post_init__(self) -> None:
        if self.tracer is None:
            self.tracer = Tracer(self.trace)
        if self.rss is None:
            self.rss = PeakRss()

    def end_timed(self) -> None:
        """The timed region is over: stop sampling memory and speed. The
        output checks that follow do not count."""
        self.rss.stop()
        if self.probe is not None:
            self.probe.stop()


def prepare_environment(work: str) -> None:
    """Point every temporary file of Python, the JVM and Spark at ``work``
    and put the checkout on the import path. Must run before the JVM
    starts."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # a 1 GB driver heap (the package reads this variable; its default is
    # 8g) keeps the process tree's memory bounded and its peak repeatable
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # every JVM (the spark-submit launcher and the driver): temp files in
    # ``work`` and no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "pyspark-shell")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session(ctx: Ctx):
    """Start Spark through the package's own session factory and time it."""
    from spark_streaming_dis_plugin_spark.session import get_spark

    with ctx.tracer.span("session.get_spark") as sp:
        spark = get_spark("perfbench", cpus=ctx.cores)
    spark.sparkContext.setLogLevel("ERROR")
    ctx.spark = spark
    ctx.get_spark_s = sp.seconds
    return spark


def stop_session(ctx: Ctx, timeout: float = 30.0) -> None:
    """Stop Spark, then the JVM it launched, and wait until the JVM and
    every Python worker under it have exited."""
    spark = ctx.spark
    if spark is None:
        return
    from pyspark import SparkContext

    kids = PeakRss._children()
    todo, tree = list(kids.get(os.getpid(), ())), []
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(kids.get(pid, ()))
    try:
        spark.stop()
    finally:
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=timeout)
            except Exception:  # noqa: BLE001 - subprocess.TimeoutExpired
                proc.kill()
                proc.wait(timeout=timeout)
        SparkContext._gateway = None
        SparkContext._jvm = None
        ctx.spark = None
        deadline = time.time() + timeout
        while time.time() < deadline:
            alive = [p for p in tree if os.path.exists(f"/proc/{p}")
                     and not _zombie(p)]
            if not alive:
                return
            time.sleep(0.05)
        for p in tree:
            try:
                os.kill(p, 9)
            except OSError:
                pass


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except (OSError, IndexError):
        return True


if __name__ == "__main__" and sys.argv[1:2] == ["--probe"]:
    _probe_child(float(sys.argv[2]))
