"""Run conditions for the benchmark: environment, Spark session, host
fingerprint, worker memory sampling, Spark's status REST API and
process clean-up.

Everything the benchmark writes goes under ``<checkout>/.perfbench_work``:
Spark's local and temp dirs, the JVM's ``java.io.tmpdir``, Python's
``TMPDIR``, the corpus cache and span files.
"""

from __future__ import annotations

import hashlib
import json
import os
import platform
import signal
import subprocess
import sys
import threading
import time
import urllib.error
import urllib.request

# Allocators pinned as in bench.py, before the JVM spawns, so the Python
# workers inherit them: glibc malloc keeps freed arenas mapped and Arrow
# uses the system allocator, so repeated passes do not re-fault pages.
ALLOCATOR_ENV = {
    "MALLOC_TRIM_THRESHOLD_": "-1",
    "MALLOC_MMAP_THRESHOLD_": "1073741824",
    "MALLOC_MMAP_MAX_": "0",
    "ARROW_DEFAULT_MEMORY_POOL": "system",
}

FLUSH_POLICY = "untimed os.sync() before every timed operation"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(root: str, work: str) -> None:
    """Environment for this process, the JVM and the Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(ALLOCATOR_ENV)
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # no hsperfdata files in /tmp from spark-submit's launcher JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # workers import the engine and the benchmark's trace module from
    # the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = tmp


def _git_commit(root: str) -> str | None:
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
    except OSError:
        return None
    if not ref.startswith("ref: "):
        return ref
    ref = ref[5:]
    try:
        with open(os.path.join(root, ".git", ref)) as f:
            return f.read().strip()
    except OSError:
        pass
    try:
        with open(os.path.join(root, ".git", "packed-refs")) as f:
            for line in f:
                parts = line.split()
                if len(parts) == 2 and parts[1] == ref:
                    return parts[0]
    except OSError:
        pass
    return None


def program_digest(root: str, package: str) -> str:
    """sha256 over the engine's sources: identifies the program when the
    checkout is not a git repository."""
    h = hashlib.sha256()
    base = os.path.join(root, package)
    for dirpath, dirnames, files in sorted(os.walk(base)):
        dirnames.sort()
        for fn in sorted(files):
            if fn.endswith(".py"):
                full = os.path.join(dirpath, fn)
                h.update(os.path.relpath(full, root).encode())
                with open(full, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def host_fingerprint(root: str, package: str, master: str) -> dict:
    mem_kb = cpu = None
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    mem_kb = int(line.split()[1])
                    break
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    cpu = line.split(":", 1)[1].strip()
                    break
    except OSError:
        pass
    import numpy
    import pyarrow
    import pyspark

    return {
        "nproc": nproc(),
        "mem_total_kb": mem_kb,
        "cpu_model": cpu,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "git_commit": _git_commit(root),
        "program_digest": program_digest(root, package),
        "allocator_env": {k: os.environ.get(k) for k in ALLOCATOR_ENV},
        "spark_master": master,
        "flush_policy": FLUSH_POLICY,
    }


# ------------------------------------------------------------ session

class Spark:
    """One JVM for the run; sessions can be restarted on it."""

    def __init__(self, work: str, cores: int, ui: bool = False) -> None:
        self.work = work
        self.cores = cores
        self.ui = ui  # the status REST API, for traced runs
        self.master = f"local[{cores}]"
        self.session = None

    def start(self):
        from pyspark.sql import SparkSession

        tmp = os.path.join(self.work, "tmp")
        b = (
            SparkSession.builder.master(self.master)
            .appName("perfbench")
            .config("spark.driver.memory", "2g")
            .config(
                "spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData",
            )
            .config("spark.local.dir", tmp)
            .config("spark.sql.warehouse.dir", os.path.join(self.work, "warehouse"))
            .config("spark.sql.shuffle.partitions", str(self.cores))
            .config("spark.python.worker.reuse", "true")
            .config("spark.ui.enabled", str(self.ui).lower())
            .config("spark.ui.port", "0")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.ui.retainedJobs", "10000")
            .config("spark.ui.retainedStages", "10000")
            .config("spark.ui.retainedTasks", "1000000")
        )
        for k, v in ALLOCATOR_ENV.items():
            b = b.config(f"spark.executorEnv.{k}", v)
        self.session = b.getOrCreate()
        sc = self.session.sparkContext
        sc.setLogLevel("ERROR")
        # the checkout root is on the workers' PYTHONPATH: skip the
        # engine's per-context package zip, which it writes to /tmp
        sc._dos_pyfile_added = True
        return self.session

    def restart(self):
        self.session.stop()
        self.session = None
        return self.start()

    def close(self) -> None:
        """Stop the session and the JVM, then wait for every process the
        JVM started (the Python worker daemon and its workers)."""
        from pyspark import SparkContext

        kids = descendants(os.getpid())
        if self.session is not None:
            try:
                self.session.stop()
            finally:
                self.session = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            try:
                gw.shutdown()
            except Exception as e:  # the JVM may already be gone
                print(f"gateway shutdown: {e!r}", file=sys.stderr)
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=10)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None
        reap(kids)


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def reap(pids: list[int], timeout: float = 5.0) -> None:
    """Wait for ``pids`` to exit; kill what is left after ``timeout``."""
    deadline = time.monotonic() + timeout
    pids = [p for p in pids if p != os.getpid()]
    while pids and time.monotonic() < deadline:
        pids = [p for p in pids if _alive(p)]
        if pids:
            time.sleep(0.05)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + timeout
    while pids and time.monotonic() < deadline:
        pids = [p for p in pids if _alive(p)]
        if pids:
            time.sleep(0.05)
    for p in pids:
        try:
            os.waitpid(p, os.WNOHANG)
        except ChildProcessError:
            pass


# ------------------------------------------------------ worker memory

def _is_python_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read()
    except OSError:
        return False
    return b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class RssSampler:
    """Peak summed RSS of the Python worker processes, sampled every
    ``interval`` seconds while ``armed``. The worker set is refreshed
    once a second from the process tree under this process."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self.armed = False
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def _loop(self) -> None:
        workers: list[int] = []
        refreshed = 0.0
        while not self._stop.wait(self.interval):
            if not self.armed:
                continue
            now = time.monotonic()
            if now - refreshed > 1.0:
                workers = [p for p in descendants(os.getpid()) if _is_python_worker(p)]
                refreshed = now
            total = sum(_rss_bytes(p) for p in workers)
            if total > self.peak:
                self.peak = total


# ---------------------------------------------------- status REST API

class StatusApi:
    """Spark's status REST API on the Spark UI port (localhost)."""

    def __init__(self, sc) -> None:
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.loads(r.read())

    def jobs_by_group(self, groups: set[str], timeout: float = 30.0) -> dict[str, list[dict]]:
        """Jobs of each job group, once every one has finished and the
        listener has recorded all of its tasks."""
        deadline = time.monotonic() + timeout
        while True:
            jobs = self.get("/jobs")
            mine = [j for j in jobs if j.get("jobGroup") in groups]
            settled = all(
                j["status"] != "RUNNING"
                and j["numCompletedTasks"] + j["numSkippedTasks"] + j["numFailedTasks"] >= j["numTasks"]
                for j in mine
            )
            if settled or time.monotonic() > deadline:
                out: dict[str, list[dict]] = {g: [] for g in groups}
                for j in mine:
                    out[j["jobGroup"]].append(j)
                return out
            time.sleep(0.2)

    def tasks(self, stage_id: int) -> list[dict]:
        out = []
        try:
            attempts = self.get(f"/stages/{stage_id}")
        except urllib.error.HTTPError as e:  # a stage skipped by AQE
            if e.code != 404:
                raise
            return out
        for attempt in attempts:
            if attempt.get("status") == "SKIPPED":
                continue
            for t in self.get(f"/stages/{stage_id}/{attempt['attemptId']}/taskList?length=1000000"):
                t["stageId"] = stage_id
                out.append(t)
        return out
