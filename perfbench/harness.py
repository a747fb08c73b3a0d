"""Session, environment, memory sampling and the closed measurement loop.

Load model: one driver process runs one Spark job at a time (a closed loop
of one client) on ``local[N]``, N = min(4, nproc).  Shuffle partitions,
the Arrow batch size, driver memory and JVM options are pinned here so
that two commits under comparison run identical settings.
"""

from __future__ import annotations

import os
import platform
import statistics
import sys
import threading
import time
import traceback

CORES = min(4, os.cpu_count() or 1)
MASTER = f"local[{CORES}]"
SHUFFLE_PARTITIONS = 8
ARROW_BATCH = 20_000
DRIVER_MEMORY = "2g"
# JIT thresholds at a tenth of the default: the JVM compiles the pipeline's
# hot code within the warm-up operation instead of drifting ~40% faster
# over the first ~10 operations, which a short run cannot wait out
JVM_OPTIONS = "-XX:CompileThresholdScaling=0.1"


def environment() -> dict:
    import pandas
    import pyarrow
    import pyspark

    try:
        import rapidfuzz  # noqa: F401

        have_rapidfuzz = True
    except ImportError:
        have_rapidfuzz = False
    return {
        "nproc": os.cpu_count(),
        "master": MASTER,
        "shuffle_partitions": SHUFFLE_PARTITIONS,
        "arrow_batch": ARROW_BATCH,
        "driver_memory": DRIVER_MEMORY,
        "jvm_options": JVM_OPTIONS,
        "spark": pyspark.__version__,
        "pandas": pandas.__version__,
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
        "rapidfuzz": have_rapidfuzz,
    }


class Session:
    """Owns the SparkSession and the JVM behind it.

    ``restart`` stops the SparkContext and starts a fresh one in the same
    JVM; ``close`` also shuts the JVM down and waits for it to exit."""

    def __init__(self, work: str):
        self.work = work
        self.spark = None

    def conf(self, event_dir: str | None = None) -> dict:
        tmp = os.path.join(self.work, "tmp")
        conf = {
            "spark.ui.enabled": "false",
            "spark.sql.shuffle.partitions": str(SHUFFLE_PARTITIONS),
            "spark.sql.execution.arrow.maxRecordsPerBatch": str(ARROW_BATCH),
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} {JVM_OPTIONS}",
            "spark.eventLog.enabled": "false",
        }
        if event_dir:
            os.makedirs(event_dir, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": event_dir,
                    "spark.eventLog.compress": "false",
                }
            )
        return conf

    def start(self):
        """The first call starts the JVM and a SparkContext; later calls
        open a new SparkSession on them (fresh SQL state, warm JVM and
        Python workers)."""
        if self.spark is None:
            return self.restart()
        self.spark = self.spark.newSession()
        return self.spark

    def restart(self, event_dir: str | None = None):
        """Fresh SparkContext; ``event_dir`` turns the event log on."""
        from phenoqc_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark("perfbench", master=MASTER, extra_conf=self.conf(event_dir))
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def close(self) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()


def cpu_ticks() -> tuple:
    """(steal, total) CPU ticks of the machine so far, from /proc/stat.
    Steal is time the hypervisor gave this machine's CPUs to others."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def _tree_rss_bytes(root_pid: int) -> int:
    """Resident bytes of ``root_pid`` and all its descendants, from /proc."""
    parent = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        parent[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    tree, frontier = {root_pid}, [root_pid]
    while frontier:
        p = frontier.pop()
        for child, pp in parent.items():
            if pp == p and child not in tree:
                tree.add(child)
                frontier.append(child)
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            continue
    return total


class RssSampler:
    """Peak resident memory of this process tree (JVM and Python workers)."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))
        return False


class Loop:
    """Closed loop of one client: run ``op`` back to back until ``seconds``
    have passed and at least ``min_samples`` operations were timed.

    ``op()`` does the work and returns ``check``; ``check()`` runs after
    the clock stops and returns (ok, output_count).  An op that raises or
    fails its check is a failed operation; its time is not a sample."""

    def __init__(self):
        self.samples: list = []
        self.outputs: list = []
        self.attempted = 0
        self.failed = 0

    def run(self, op, seconds: float, min_samples: int = 1) -> "Loop":
        end = time.perf_counter() + seconds
        while time.perf_counter() < end or len(self.samples) < min_samples:
            self.once(op)
            if self.attempted >= 4 * min_samples and not self.samples:
                break  # every op fails: stop instead of spinning
        return self

    def once(self, op) -> bool:
        try:
            t0 = time.perf_counter()
            check = op()
            dt = time.perf_counter() - t0
            ok, count = check()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ok, count = False, 0
        self.attempted += 1
        if ok:
            self.samples.append(dt)
            self.outputs.append(count)
        else:
            self.failed += 1
        return ok

    @property
    def median(self) -> float:
        return statistics.median(self.samples) if self.samples else float("nan")


def high_percentile(samples: list) -> tuple:
    """(label, value): the highest nearest-rank percentile (of at least
    the median) with ten or more samples above it; the maximum when fewer
    than twenty samples support none."""
    xs = sorted(samples)
    n = len(xs)
    if n < 20:
        return "max", xs[-1] if xs else float("nan")
    p = 100 * (n - 10) // n
    return f"p{p}", xs[-(-p * n // 100) - 1]
