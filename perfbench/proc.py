"""Process-level plumbing for the benchmark: the Spark session it
starts and stops, the process tree it owns, peak resident memory read
from ``/proc``, and the per-run environment record."""

from __future__ import annotations

import os
import platform
import signal
import subprocess
import threading
import time


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # the command name may hold spaces: ppid follows the last ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _memory(pid: int) -> tuple[int, int]:
    """(RSS, PSS) bytes of one process.  PSS divides each shared page
    among the processes that map it, so PSS sums over a tree without
    counting the pages forked Python workers share with their daemon
    once per worker."""
    rss = pss = 0
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Rss:"):
                    rss = int(line.split()[1]) * 1024
                elif line.startswith("Pss:"):
                    pss = int(line.split()[1]) * 1024
                    break
    except (OSError, IndexError, ValueError):
        pass
    return rss, pss


def since_process_start() -> float:
    """Seconds since this process started, from ``/proc`` (10 ms steps)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Peak of the summed resident memory (PSS) of this process and
    every descendant (the JVM and the Python workers it forks); the
    peak RSS sum and process count are kept for reference.  A
    sum of per-process peaks would overstate a peak the processes never
    reached together, so the tree is summed at each sample instead.
    Samples are taken on a background thread until ``stop()``; after
    that the caller samples at points of its choosing (between measured
    ops, so that the scan of ``/proc`` stays out of their wall)."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak = 0
        self.rss_peak = 0
        self.max_processes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        me = os.getpid()
        mem = [_memory(p) for p in [me, *descendants(me)]]
        self.peak = max(self.peak, sum(m[1] for m in mem))
        self.rss_peak = max(self.rss_peak, sum(m[0] for m in mem))
        self.max_processes = max(self.max_processes, len(mem))

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join()
        self.sample()


def spark_conf(work_dir: str, cpus: int) -> dict:
    """Settings the benchmark starts Spark with.  ``get_spark``'s
    default driver memory (24g) exceeds the RAM of small hosts, so the
    heap is capped; scratch files stay inside the work directory."""
    tmp = os.path.join(work_dir, "tmp")
    return {
        "master": f"local[{cpus}]",
        "shuffle_partitions": cpus,
        "driver_memory": "1g",
        "extra_conf": {
            "spark.local.dir": os.path.join(work_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    }


def start_spark(conf: dict):
    from wikitfidf_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=conf["master"],
        shuffle_partitions=conf["shuffle_partitions"],
        driver_memory=conf["driver_memory"],
        extra_conf=conf["extra_conf"],
    )


def stop_spark(spark, timeout: float = 30.0) -> None:
    """Stop the session, then the gateway JVM, and wait until every
    process this run started (JVM, Python worker daemon and workers)
    has exited; stragglers are killed."""
    from pyspark import SparkContext

    owned = descendants(os.getpid())
    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.terminate()
                try:
                    proc.wait(timeout=timeout)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        deadline = time.time() + timeout
        while True:
            alive = [p for p in owned if os.path.exists(f"/proc/{p}")]
            if not alive:
                return
            if time.time() > deadline:
                for p in alive:
                    try:
                        os.kill(p, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
                deadline = time.time() + timeout
            time.sleep(0.1)


def _git_sha(root: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
            text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    if out.returncode != 0:
        return None
    return out.stdout.strip() or None


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def environment(root: str, conf: dict, cpus: int) -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "task_threads": cpus,
        "load_before": os.getloadavg()[0],
        "cpu_ticks_before": _cpu_ticks(),
        "git_sha": _git_sha(root),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "spark": {k: conf[k] for k in ("master", "shuffle_partitions", "driver_memory")},
        "driver_memory_note": "get_spark defaults to 24g; capped at 1g here",
    }


def close_environment(env: dict) -> dict:
    env["load_after"] = os.getloadavg()[0]
    env["overloaded"] = max(env["load_before"], env["load_after"]) > env["nproc"]
    # share of CPU time the hypervisor gave to other guests during the run
    d = [b - a for a, b in zip(env.pop("cpu_ticks_before"), _cpu_ticks())]
    env["steal_share"] = d[7] / max(1, sum(d[:8])) if len(d) > 7 else None
    return env
