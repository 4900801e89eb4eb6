"""Session lifecycle and measurement helpers shared by the workloads."""

from __future__ import annotations

import os
import statistics
import subprocess
import tempfile
import threading
import time

from perfbench import config


def steal_ticks() -> int:
    """Hypervisor steal ticks (aggregate cpu line of /proc/stat)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


def _tree(root: int) -> set[int]:
    """``root`` and all its descendants: the driver Python, the driver
    JVM it launched and the JVM's Python workers."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        parent[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    tree, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        for child, pp in parent.items():
            if pp == p and child not in tree:
                tree.add(child)
                frontier.append(child)
    return tree


def _tree_pss(root: int) -> dict:
    """Proportional resident memory (PSS) of the process tree, in
    bytes, split into the driver Python (``root``), the JVM and the
    other processes (Python workers), with the number of the latter.
    PSS splits pages shared between processes (forked Python workers
    share most of theirs), so the sum counts each resident page once."""
    parts = {"python": 0, "jvm": 0, "workers": 0, "n_workers": 0}
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/comm") as fh:
                comm = fh.read().strip()
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                pss = next(int(line.split()[1]) * 1024 for line in fh
                           if line.startswith("Pss:"))
        except (OSError, StopIteration):
            continue
        kind = "python" if pid == root else "jvm" if comm == "java" else "workers"
        parts[kind] += pss
        parts["n_workers"] += kind == "workers"
    return parts


class RssSampler:
    """Peak summed resident memory of this process tree, sampled every
    0.2 s, and its parts at the peak."""

    def __init__(self):
        self.peak = 0
        self.parts: dict = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(0.2):
            parts = _tree_pss(os.getpid())
            total = parts["python"] + parts["jvm"] + parts["workers"]
            if total > self.peak:
                self.peak, self.parts = total, parts

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def tail(values: list[float]) -> tuple[float, str]:
    """The highest of p99.9/p99/p95/p90 with at least 10 samples
    beyond it, else the maximum; returns (value, label)."""
    n = len(values)
    for p in (99.9, 99.0, 95.0, 90.0):
        if n * (1 - p / 100) >= 10:
            q = statistics.quantiles(values, n=1000, method="inclusive")
            return q[round(p * 10) - 1], f"p{p:g}"
    return max(values), "max"


class Session:
    """Owns the SparkSession of one run: its cold start and the final
    shutdown of the JVM."""

    def __init__(self):
        os.makedirs(config.SPARK_LOCAL_DIRS, exist_ok=True)
        os.environ["SPARK_LOCAL_DIRS"] = config.SPARK_LOCAL_DIRS
        # scratch files of the Spark launcher scripts and of pyspark
        os.makedirs(config.TMP, exist_ok=True)
        os.environ["TMPDIR"] = config.TMP
        tempfile.tempdir = config.TMP
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-class's launcher JVM
        os.environ["SPARK_GRAFT_CPUS"] = str(config.CORES)
        os.environ.pop("SPARK_GRAFT_MASTER", None)
        # Python workers import grisp_spark from the checkout
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (config.ROOT, os.environ.get("PYTHONPATH")) if p
        )
        self.spark = None
        self._gateway = None

    def start(self, event_log_dir: str | None = None) -> tuple[float, float]:
        """Start the session; returns (start_s, warmup_s): the time of
        ``get_spark`` without, and the time of, the warm-up it runs
        itself (``session._warm_collation_support``)."""
        from grisp_spark import session

        warm = []
        original = session._warm_collation_support

        def timed_warmup(spark):
            t = time.perf_counter()
            original(spark)
            warm.append(time.perf_counter() - t)

        session._warm_collation_support = timed_warmup
        try:
            t0 = time.perf_counter()
            self.spark = session.get_spark(
                "perfbench", cores=config.CORES,
                extra_conf=config.session_conf(event_log_dir),
            )
            total = time.perf_counter() - t0
        finally:
            session._warm_collation_support = original
        self._gateway = self.spark.sparkContext._gateway
        return total - sum(warm), sum(warm)

    def stop(self) -> None:
        """Stop Spark, then the JVM, and wait until it has exited."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = self._gateway
        if gw is None:
            return
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        from pyspark import SparkContext

        SparkContext._gateway = None
        SparkContext._jvm = None
        self._gateway = None


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_ops(op, seconds: float, min_ops: int, limit: int | None = None) -> list:
    """Call ``op()`` until ``seconds`` have passed and it ran at least
    ``min_ops`` times, at most ``limit`` times; returns its results."""
    out = []
    end = time.monotonic() + seconds
    need = min_ops if limit is None else min(min_ops, limit)
    while len(out) < need or (time.monotonic() < end
                              and (limit is None or len(out) < limit)):
        out.append(op())
    return out
