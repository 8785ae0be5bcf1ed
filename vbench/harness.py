"""One benchmark run: a private directory, a Spark session, and cleanup.

Every run gets its own temp dir, Spark local dirs, warehouse and JVM temp
dir inside ``<checkout>/.vbench_tmp``, removed at exit, so nothing one run
writes (a staged file, a cached table) can serve a later run. The JVM and
the Python workers it forks are stopped and waited for before the run
returns.
"""

from __future__ import annotations

import os
import shlex
import shutil
import signal
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TMP_ROOT = os.path.join(ROOT, ".vbench_tmp")
# seconds to wait for the JVM's Python workers to exit, before and after a kill
WAIT_S = 15.0


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


class Run:
    def __init__(self, workload: str, seed: int):
        os.makedirs(TMP_ROOT, exist_ok=True)
        self.dir = tempfile.mkdtemp(prefix=f"{workload}-{seed}-", dir=TMP_ROOT)
        self.spark = None
        self._jvm = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def start_spark(self):
        """Start the library's session (``get_spark``) on ``local[<cores>]``,
        with every scratch location inside the run directory."""
        for d in ("tmp", "spark-local", "warehouse"):
            os.makedirs(self.path(d), exist_ok=True)
        pythonpath = os.environ.get("PYTHONPATH")
        os.environ.update({
            "TMPDIR": self.path("tmp"),
            "SPARK_LOCAL_DIRS": self.path("spark-local"),
            # Python workers import the library (Arrow UDFs), so they need
            # the checkout on their path just as the driver does
            "PYTHONPATH": ROOT + (os.pathsep + pythonpath if pythonpath else ""),
            "PYSPARK_PYTHON": sys.executable,
            "SPARK_GRAFT_CPUS": str(cpu_count()),
            # no JVM perf-data files: HotSpot writes them under /tmp
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
            "PYSPARK_SUBMIT_ARGS": " ".join([
                "--driver-java-options",
                shlex.quote(f"-XX:-UsePerfData -Djava.io.tmpdir={self.path('tmp')}"),
                "--conf", shlex.quote(f"spark.sql.warehouse.dir={self.path('warehouse')}"),
                "--conf spark.ui.showConsoleProgress=false",
                "pyspark-shell",
            ]),
        })
        tempfile.tempdir = None  # re-read TMPDIR
        from victor_spark import get_spark

        self.spark = get_spark(app_name="vbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self._jvm = getattr(self.spark.sparkContext._gateway, "proc", None)
        return self.spark

    def noop_job_ms(self) -> float:
        """The host's scheduler round trip, recorded so a noisy host shows in
        the results: bench.py's calibration (median of one-task no-op jobs)."""
        from bench import _calibrate_roundtrip

        return _calibrate_roundtrip(self.spark)

    def close(self) -> None:
        try:
            self._stop_spark()
        finally:
            shutil.rmtree(self.dir, ignore_errors=True)
            try:
                os.rmdir(TMP_ROOT)
            except OSError:
                pass  # another run still uses it

    def _stop_spark(self) -> None:
        if self.spark is None:
            return
        jvm = self._jvm
        workers = _descendants(jvm.pid) if jvm is not None else []
        try:
            self.spark.stop()
        finally:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            if gateway is not None:
                gateway.shutdown()
                SparkContext._gateway = None
                SparkContext._jvm = None
            if jvm is not None:
                # the gateway exits when its stdin closes
                jvm.stdin.close()
                try:
                    jvm.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    jvm.kill()
                    jvm.wait(timeout=30)
            _wait_gone(workers)


def _descendants(pid: int) -> list[int]:
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
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _wait_gone(pids: list[int]) -> None:
    """Wait for processes this run started indirectly (the JVM's Python
    workers); kill any still alive after WAIT_S, then wait again."""
    if _wait(pids):
        return
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    _wait(pids)


def _wait(pids: list[int]) -> bool:
    deadline = time.monotonic() + WAIT_S
    while not all(_gone(p) for p in pids):
        if time.monotonic() > deadline:
            return False
        time.sleep(0.05)
    return True


def _gone(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True
