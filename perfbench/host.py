"""Host context, Spark session sizing and the process-tree memory sampler.

Everything here is recorded, never used to veto a run.
"""

from __future__ import annotations

import os
import threading
import time


def meminfo_mb() -> dict[str, int]:
    out = {}
    with open("/proc/meminfo") as f:
        for line in f:
            key, _, rest = line.partition(":")
            out[key] = int(rest.split()[0]) // 1024
    return out


def host_context() -> dict:
    """nproc, MemTotal and the 1-minute load average."""
    mem = meminfo_mb()
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem["MemTotal"],
        "loadavg_1m": os.getloadavg()[0],
    }


def size_session(root: str, work: str, cores: int) -> dict:
    """Export the settings the Spark session is built from, and return them.

    The heap is an eighth of MemTotal, clamped to 1-4 GB: the workloads
    are small, and the host's memory is shared with other tenants.
    ``PYTHONPATH`` points the Python workers at the checkout, and
    ``SPARK_LOCAL_DIRS`` keeps shuffle and spill files inside it.
    """
    heap_mb = max(1024, min(4096, meminfo_mb()["MemTotal"] // 8))
    local_dirs = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local_dirs, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_DRIVER_MEM"] = f"{heap_mb}m"
    os.environ["SPARK_LOCAL_DIRS"] = local_dirs
    # keep the JVM's and Python's temporary files inside the checkout too
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p
    )
    return {
        "cores": cores,
        "heap": os.environ["SPARK_DRIVER_MEM"],
        "PYTHONPATH": root,
        "SPARK_LOCAL_DIRS": local_dirs,
    }


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # the process ended while the table was read
        # the command name may hold spaces and parentheses: split after it
        ppid = int(stat.rpartition(")")[2].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, with each page shared by n
    processes counted 1/n times, so forked Python workers that share
    their parent's pages are not counted twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class PssSampler:
    """Samples the summed resident memory (PSS) of this process's
    descendants, the JVM and the Python workers it forks, on a
    background thread; keeps the peak."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_pss_bytes(p) for p in descendants(me))
            self.peak_bytes = max(self.peak_bytes, total)
            self.samples += 1
            self._stop.wait(self.interval_s)

    def __enter__(self) -> PssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 1e6


def stop_spark(spark) -> None:
    """Stop the session, shut the JVM down and wait until every process
    this benchmark started has ended."""
    from pyspark import SparkContext

    # the JVM's Python workers are re-parented when it exits, so take the
    # whole tree now and wait on those pids
    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.terminate()
        proc.wait(timeout=30)
    for sig in (15, 9, None):
        deadline = time.time() + 15
        while [p for p in started if _alive(p)] and time.time() < deadline:
            time.sleep(0.1)
        for pid in [p for p in started if _alive(p)] if sig else []:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rpartition(")")[2].split()[0] != "Z"
    except OSError:
        return False
