"""Process environment of one benchmark run.

Session sizing (cpus from the CPU affinity mask, a driver heap that fits the
machine), scratch directories inside the checkout, redirection of Spark's
stderr into the run's log, the process-tree RSS sampler and the host-noise
probes (hypervisor steal, load average).
"""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import threading
import time

CLOCK_TICKS = os.sysconf("SC_CLK_TCK")


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory_mb() -> int:
    """An eighth of physical memory, clamped to [1, 2] GiB: the page store of
    the largest workload fits with room to spare, and the run stays small on
    a machine shared with other jobs."""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                total_mb = int(line.split()[1]) // 1024
                return max(1024, min(2048, total_mb // 8))
    return 1024


def prepare(work: str) -> dict[str, str]:
    """Point Spark, the JVM and Python temp files at ``work`` and make the
    checkout importable by Spark's Python workers. Call before the session
    starts."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    dirs = {k: os.path.join(work, k) for k in ("spark-local", "tmp", "logs")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    os.environ["TMPDIR"] = dirs["tmp"]
    # the JVM spark-submit starts to assemble the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
    os.environ["SPARK_DRIVER_MEMORY"] = f"{driver_memory_mb()}m"
    return dirs


def redirect_stderr(log_path: str) -> None:
    """Send fd 2 (inherited by the JVM and its Python workers) to the log;
    keep the caller's stderr as ``sys.stderr`` for progress and tracebacks.
    Spark logs ERROR lines that are not task failures (e.g. DAGScheduler
    'non-existent accumulator' updates); failures are counted from the
    status tracker instead."""
    sys.stderr.flush()
    saved = os.dup(2)
    fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(fd, 2)
    os.close(fd)
    sys.stderr = os.fdopen(saved, "w", buffering=1)


_T0 = time.monotonic()


def log(msg: str) -> None:
    print(f"[crawlbench {time.monotonic() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------- process tree
def _parents() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while scanning
        # comm may contain spaces and parentheses: ppid follows the LAST ')'
        out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants() -> list[int]:
    """Every live process descended from this one."""
    children: dict[int, list[int]] = {}
    for child, parent in _parents().items():
        children.setdefault(parent, []).append(child)
    out, todo = [], [os.getpid()]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page split among
    the processes mapping it, so forked Python workers are not counted once
    per fork."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass  # exited while sampling
    return 0


class RssSampler:
    """Peak resident memory (summed PSS) of this process and all its
    descendants (the driver JVM, the pyspark daemon and its workers),
    sampled on a thread."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _sample(self) -> None:
        pids = [os.getpid()] + descendants()
        self.peak_bytes = max(self.peak_bytes, sum(_pss_bytes(p) for p in pids))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self) -> "RssSampler":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


def stop_spark(spark) -> None:
    """Stop the session, shut the JVM gateway down and wait until the JVM
    and every Python worker it started have exited."""
    from pyspark import SparkContext

    tree = descendants()
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 20
    while True:
        alive = [p for p in tree if os.path.exists(f"/proc/{p}") and _is_running(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5
        time.sleep(0.1)


def _is_running(pid: int) -> bool:
    """False for exited processes, including zombies awaiting their parent."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


# ---------------------------------------------------------------- host noise
def steal_s() -> float:
    """Cumulative hypervisor steal time of all CPUs, in seconds."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / CLOCK_TICKS if len(fields) > 8 else 0.0


def load1() -> float:
    return os.getloadavg()[0]
