"""Session, environment and measurement helpers shared by the workloads."""

from __future__ import annotations

import math
import os
import statistics
import subprocess
import threading
import time

# each of these alters the program under test (session conf, the
# canonical-edges codec, the shuffle partition default)
FORBIDDEN_ENV = ("SPARK_GRAFT_EXTRA_CONF", "SPARK_GRAFT_CANON_CODEC", "SPARK_GRAFT_SHUFFLE")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(root: str, work: str) -> None:
    """Environment for the driver, the JVM and the Python workers; must
    run before the first SparkSession starts (the JVM inherits it).

    - PYTHONPATH carries the checkout root, or the mapInPandas workers
      fail with ModuleNotFoundError: datacapsule_spark from any other
      working directory.
    - Spark's scratch space and every temp dir stay inside the work
      root."""
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")
    for var, sub in (("SPARK_LOCAL_DIRS", "spark-local"), ("TMPDIR", "tmp")):
        os.environ[var] = os.path.join(work, sub)
        os.makedirs(os.environ[var], exist_ok=True)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={os.environ['TMPDIR']}"
        " pyspark-shell"
    )


def start_session(app: str, event_log_dir: str | None = None):
    """`session.get_spark` at local[nproc] with the program's defaults;
    the traced session adds only an uncompressed, non-rolling event log."""
    from pyspark import SparkContext

    from datacapsule_spark.session import get_spark

    if SparkContext._active_spark_context is not None:
        raise RuntimeError("a SparkContext is already running in this process")
    extra = None
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(event_log_dir),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    n = nproc()
    spark = get_spark(app, master=f"local[{n}]", extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    # getOrCreate silently reuses a live context with another master
    got = spark.sparkContext.defaultParallelism
    if got != n:
        raise RuntimeError(f"defaultParallelism {got} != nproc {n}")
    return spark


def _children() -> dict[int, list[int]]:
    """Parent pid -> child pids, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    return children


def descendants(root: int) -> list[int]:
    """Pids of every live descendant of `root`."""
    children = _children()
    out, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def shutdown(spark, timeout: float = 60.0) -> None:
    """Stop Spark, close the JVM and wait until every process this run
    started (the JVM, the Python worker daemon and its workers) has
    exited. The JVM exits when its stdin closes; the workers exit when
    the JVM does."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    while any(map(_alive, started)) and time.monotonic() < deadline:
        time.sleep(0.1)


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (the JVM and the Python workers), sampled from /proc while armed."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self.armed = False
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _tree_rss(self) -> int:
        """Sum of RSS over the process tree. A child the JVM is still
        spawning runs in the JVM's address space until it execs (its
        exe is still the java binary), so it is skipped: counting it
        would double the JVM's memory for that instant."""
        children = _children()
        total, todo = 0, [(os.getpid(), None)]
        while todo:
            pid, parent_exe = todo.pop()
            try:
                exe = os.readlink(f"/proc/{pid}/exe")
                if exe == parent_exe and exe.endswith("/java"):
                    continue
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
            todo.extend((c, exe) for c in children.get(pid, []))
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            if self.armed:
                self.peak = max(self.peak, self._tree_rss())

    def close(self) -> None:
        self._stop.set()
        self._thread.join()


def median(values) -> float:
    return float(statistics.median(values))


def geomean(values) -> float:
    values = list(values)
    return math.exp(sum(math.log(v) for v in values) / len(values))


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(root, name))
    return total
